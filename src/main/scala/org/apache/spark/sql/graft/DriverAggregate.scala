package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.google.common.util.concurrent.Uninterruptibles

import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  AggregateFunction, Complete, DeclarativeAggregate, ImperativeAggregate, NoOp}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.planning.{PhysicalAggregation, ScanOperation}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.quadbin.Quadbin
import graft.raquet.RaquetIO

/** Small aggregates run on the driver: an `Aggregate` over a small input is
  * replaced by the local relation of its result rows, so collecting it runs
  * no Spark job. It is the aggregate sibling of Spark's
  * `ConvertToLocalRelation`, which folds a projection or filter over a local
  * relation but leaves the aggregate above it to two adaptive jobs.
  *
  * What folds: a deterministic `Aggregate` whose functions are declarative
  * or imperative aggregates without DISTINCT or FILTER and whose grouping
  * keys compare by their bytes (not a collated string, which Spark groups
  * by its collation), over a chain of
  * `Project`s and `Filter`s over either a local relation (a point read's,
  * say) or a flat raquet table opened from its footers (the scan
  * [[ListedFileScan]] builds; a `k=v`-partitioned table keeps its plan, as
  * does a `format("raquet")` relation). The rule runs once, before the cost-
  * based rules, when column pruning and the filters are final.
  *
  * The raquet input is read by [[LocalParquetRows]] with only the columns
  * the chain and the aggregate use, admitting exactly the row groups and
  * records the scan would: the chain's filters are translated as the file
  * scan translates them (`DataSourceStrategy.translateFilter`, then
  * `ParquetFilters.createFilter` against each file's schema), row groups are
  * admitted by `StatisticsFilter.canDrop` on the footers of
  * `graft.raquet.FooterCache` (then by the reader's own row-group filters),
  * the same predicate filters the records, and the chain's filters still
  * run on what is read. The chain and the aggregate are then evaluated by
  * interpretation: declarative aggregates through their initial, update and
  * evaluate expressions, imperative ones through `initialize`, `update` and
  * `eval`; a global aggregate over no rows still yields its one row.
  *
  * The read runs in parts, one per file with an admitted row group (a local
  * relation is one part), on a process-wide pool of daemon threads named
  * `driver-aggregate-N`, one per driver core; a fold uses at most
  * [[threads]] of them. A part opens its file, streams its records one row
  * group at a time and evaluates on each the chain, where a kernel such as
  * `rq_clip_stats` decodes its tile, then the grouping keys and the inputs
  * of the aggregate functions; it keeps only those. The buffers are updated
  * on the planning thread, part after part in path order and row after row
  * in record order, so the rows reach the aggregate in the order of a
  * sequential fold and the result is the same, bit for bit, for any thread
  * count. A folded sum of non-dyadic doubles may still differ in its last
  * bits from the same aggregate run as Spark jobs, which adds per-task
  * partial sums in another order. An error of a kernel in a folded
  * aggregate is raised while the query is planned, not by a failed job, as
  * the kernel threw it: the first failing part in path order cancels the
  * parts after it and closes their files.
  *
  * "Small" is decided before any row is read, from footer facts only: the
  * table's files, the compressed bytes of the needed column chunks in the
  * admitted row groups and, when a blob column is needed, the tiles that
  * may be decoded: the admitted rows, capped by the cells the pushed
  * `block` ranges, equalities or `quadbin_in_ranges` cover, less the cells
  * a guard keeps from the kernel. A guard is the shape `regionStatsTiles`
  * builds, `CASE WHEN quadbin_in_ranges(block, R) THEN <stats columns> ELSE
  * <kernel> END`; when every blob use is under one, only the tiles outside
  * R decode (a region's boundary tiles: 86 of the 22×23-tile region's 506).
  * The aggregate folds when
  * `files * OpenMsPerFile + (bytes / ReadBytesPerMs + tiles * DecodeMsPerTile)
  * / parallelism <= DistributedMs`, where `parallelism` is
  * `1 + (t - 1) * ThreadGain` for `t` threads: [[threads]], but no more
  * than the parts. Every listed file counts as an open: the read opens
  * each file with an admitted row group, and the estimate itself reads the
  * footer of each file the cache does not hold. The footers are taken in
  * path order and no more are read once the running estimate, which
  * assumes every thread, is past the bound, so a declined aggregate costs
  * the planner at most the footers of `DistributedMs / OpenMsPerFile`
  * files. A local relation is costed, on one thread, from its estimated
  * size and, when a blob column is used, its row count.
  * The constants were measured in a `local[4]` session on a 4-core host,
  * warm JVM, medians of 20-60 runs, on the benchmark's slope table (32×32
  * 256×256 float32 gzip tiles plus 16×16 overview tiles, 9 files, 17 row
  * groups) unless said otherwise:
  *  - [[DistributedMs]]: one aggregate's fixed cost as Spark jobs: the wall
  *    time of `groupBy(quadbin_zoom(block)).count()` and of a four-column
  *    stats-column aggregate over the table's 1,280 rows in a session
  *    without this rule, minus the same queries folded (103 and 85 ms).
  *  - [[ReadBytesPerMs]]: [[LocalParquetRows]] on one thread reading the
  *    table's `block` and `band_1` chunks, 42 MB in 66-111 ms (376-638 KB
  *    per ms over two runs).
  *  - [[DecodeMsPerTile]]: `rq_clip_stats` of a polygon crossing 64 of the
  *    tiles, folded over a local relation of them: 0.76-0.82 ms per tile
  *    (`rq_summary_stats`: 0.77-0.95 ms).
  *  - [[OpenMsPerFile]]: [[LocalParquetRows]] reading the stats columns
  *    of a slope table of 32×32 16-pixel tiles written one row per file (1,025 files)
  *    and in 2 files: 0.25-0.33 ms more per file over three runs. A cold
  *    footer read costs 0.17-0.22 ms per file.
  *  - [[ThreadGain]]: the 22×23-tile region statistic (86 boundary tiles
  *    decoded, 22-31 MB of chunks in 9 files) folded on 1 and on 4 threads,
  *    alternating, 30-60 runs each over two sessions: the optimizer, which runs the
  *    fold, took 194 and 93-95 ms; less the 30 ms it spends around a fold
  *    (the 4×4 region's 51-59 ms less its 23 ms estimate), 4 threads run the
  *    read and decodes 2.5-2.6 times as fast as one, so each thread beyond
  *    the first adds half a thread. On 2 and 3 threads the same runs read
  *    1.9 and 2.4 times as fast. Hosts with more cores extend this line;
  *    it was not measured there.
  * No conf key changes them. */
object DriverAggregate extends Rule[LogicalPlan] with PredicateHelper {

  /** Fixed cost, in ms, of one aggregate run as Spark jobs. */
  val DistributedMs = 85.0

  /** Bytes of column chunks one driver thread reads per ms. */
  val ReadBytesPerMs = 400000.0

  /** Driver time, in ms, of one tile decoded by a kernel. */
  val DecodeMsPerTile = 0.9

  /** Driver time, in ms, of opening one file of a table and reading its
    * admitted row groups, beyond their bytes. */
  val OpenMsPerFile = 0.3

  /** What each thread of a fold beyond the first adds to its speed, as a
    * share of one thread's. */
  val ThreadGain = 0.5

  /** The threads a fold in `spark` runs its parts on: one per driver core,
    * never more than the session's default parallelism. */
  def threads(spark: SparkSession): Int =
    math.max(1, math.min(Runtime.getRuntime.availableProcessors,
      spark.sparkContext.defaultParallelism))

  /** The process-wide pool the parts of folds run on. Its threads inherit
    * no thread-local values: they outlive the session whose fold started
    * them, and an inherited active session would stay reachable. */
  private lazy val pool = {
    val named = new AtomicInteger
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors, (r: Runnable) => {
      val t = new Thread(null, r, s"driver-aggregate-${named.getAndIncrement()}", 0L, false)
      t.setDaemon(true)
      t
    })
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if !a.isStreaming => fold(a).getOrElse(a)
    }

  /** The footer-side cost of reading an aggregate's input on the driver:
    * `files` opened, `bytes` of column chunks and `tiles` tiles that may be
    * decoded, the read and the decodes spread over `threads` threads. */
  final case class Estimate(files: Long, bytes: Long, tiles: Long, threads: Int = 1) {
    /** The threads' speed, in single threads. */
    def parallelism: Double = 1 + (threads - 1) * ThreadGain
    def ms: Double =
      files * OpenMsPerFile + (bytes / ReadBytesPerMs + tiles * DecodeMsPerTile) / parallelism
    /** No dearer than running the aggregate as Spark jobs. */
    def small: Boolean = ms <= DistributedMs
  }

  /** The cost of folding `a`, None when it does not have the shape that
    * folds: what the rule weighs against [[DistributedMs]]. The footers are
    * read only until the estimate is past the bound, so the estimate of an
    * aggregate that does not fold may stop short of its whole input. */
  def estimate(a: Aggregate): Option[Estimate] = shape(a).map(_._5.estimate)

  /** One part of an input: it hands its rows to the function, in order,
    * while the test holds, and frees what it opened. A row is valid only
    * during the call. */
  private type Part = (() => Boolean, InternalRow => Unit) => Unit

  /** An aggregate's input as the rule reads it: its cost, the attributes
    * of its rows and its parts, in order. */
  private final case class Input(estimate: Estimate, attrs: Seq[Attribute],
      parts: () => IndexedSeq[Part])

  /** `a`'s parts when it has the shape that folds: grouping, aggregate and
    * result expressions, the chain nodes (top first) and the input. */
  private def shape(a: Aggregate): Option[(Seq[NamedExpression], Seq[AggregateExpression],
      Seq[NamedExpression], List[LogicalPlan], Input)] = a match {
    case PhysicalAggregation(groupings, aggs, results, child) if supported(a, aggs) =>
      for {
        (nodes, leaf) <- chain(child)
        if nodes.forall(_.expressions.forall(evaluable))
        in <- input(leaf, child, (a +: nodes).flatMap(_.expressions))
      } yield (groupings, aggs, results, nodes, in)
    case _ => None
  }

  /** `a` as the local relation of its rows, when it folds. */
  private def fold(a: Aggregate): Option[LocalRelation] = shape(a).collect {
    case (groupings, aggs, results, nodes, input) if input.estimate.small =>
      LocalRelation(a.output, aggregate(groupings, aggs, results, nodes, input))
  }

  private def supported(a: Aggregate, aggs: Seq[AggregateExpression]): Boolean =
    a.expressions.forall(_.deterministic) && aggs.forall { ae =>
      ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case d: DeclarativeAggregate =>
          (d.children ++ d.initialValues ++ d.updateExpressions :+ d.evaluateExpression)
            .forall(evaluable)
        case i: ImperativeAggregate => i.children.forall(evaluable)
        case _ => false
      })
    } && (a.groupingExpressions ++ a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression => ae.resultAttribute
    })).forall(evaluable) &&
    // the fold groups rows by the bytes of their keys
    a.groupingExpressions.forall(g => UnsafeRowUtils.isBinaryStable(g.dataType))

  /** Interpreted evaluation can run `e`: nothing in it is unevaluable but
    * attribute references (`ConvertToLocalRelation`'s test). */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  /** `p` as its `Project`/`Filter` nodes, top first, and the leaf below them. */
  private def chain(p: LogicalPlan): Option[(List[LogicalPlan], LogicalPlan)] = p match {
    case Project(_, c) => chain(c).map { case (n, l) => (p :: n, l) }
    case Filter(_, c) => chain(c).map { case (n, l) => (p :: n, l) }
    case l: LocalRelation if !l.isStreaming => Some((Nil, l))
    case l: LogicalRelation if !l.isStreaming => Some((Nil, l))
    case _ => None
  }

  /** The rows of `leaf` that the chain `child` over it needs, when the
    * leaf is one the rule reads; `exprs` are the expressions of the chain
    * and the aggregate. */
  private def input(leaf: LogicalPlan, child: LogicalPlan, exprs: Seq[Expression]): Option[Input] = {
    val used = AttributeSet(exprs.flatMap(_.references))
    leaf match {
      case l: LocalRelation =>
        val blobs = l.output.exists(a => used.contains(a) && a.dataType == BinaryType)
        val (bytes, tiles) = (l.computeStats().sizeInBytes.toLong, if (blobs) l.data.length else 0)
        val part: Part = (_, f) => l.data.foreach(f)
        Some(Input(Estimate(0L, bytes, tiles), l.output, () => IndexedSeq(part)))
      case l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
        case index: ListedFileScan.Index if fs.partitionSchema.isEmpty &&
            fs.fileFormat.isInstanceOf[ParquetFileFormat] => raquet(l, fs, index, child, used, exprs)
        case _ => None
      }
      case _ => None
    }
  }

  /** The driver-side read of a raquet table, costed from its footers, read
    * in path order until the estimate is past the bound: one part per file
    * with an admitted row group. */
  private def raquet(l: LogicalRelation, fs: HadoopFsRelation, index: ListedFileScan.Index,
      child: LogicalPlan, used: AttributeSet, exprs: Seq[Expression]): Option[Input] = {
    val required = l.output.filter(used.contains)
    val resolver = fs.sparkSession.sessionState.conf.resolver
    // a read needs a column, and metadata columns (`_metadata`) are not in
    // the files
    if (required.isEmpty ||
        !required.forall(a => fs.dataSchema.exists(f => resolver(f.name, a.name)))) return None
    val filters = child match {
      case ScanOperation(_, _, pushable, _) => pushable
      case _ => return None
    }
    // the file scan's data filters and their source-filter translation
    val dataFilters = DataSourceStrategy.normalizeExprs(filters.filter(_.deterministic), l.output)
      .filterNot(SubqueryExpression.hasSubquery)
    val nested = DataSourceUtils.supportNestedPredicatePushdown(fs)
    val pushed = dataFilters.flatMap(DataSourceStrategy.translateFilter(_, nested))
    val sql = fs.sparkSession.sessionState.conf
    val conf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
    val names = required.map(_.name)
    val maxTiles = if (required.exists(_.dataType == BinaryType))
      decodes(dataFilters.flatMap(splitConjunctivePredicates), exprs) else 0L
    // the files with an admitted row group, with their footers and
    // predicates; the running estimate assumes every thread, so it only
    // grows and may stop the footer reads
    val most = threads(fs.sparkSession)
    val files = Vector.newBuilder[(FileStatus, ParquetMetadata, Option[FilterPredicate])]
    var estimate = Estimate(0L, 0L, 0L, most)
    var rows = 0L
    val listed = index.files.iterator
    while (listed.hasNext && estimate.small) {
      val f = listed.next()
      val footer = RaquetIO.footerOf(conf, f)
      val predicate = parquetPredicate(sql, footer, pushed)
      val groups = footer.getBlocks.asScala.filter(admits(predicate, _))
      if (groups.nonEmpty) files += ((f, footer, predicate))
      rows += groups.iterator.map(_.getRowCount).sum
      estimate = Estimate(estimate.files + 1, estimate.bytes + groups.iterator
        .flatMap(_.getColumns.asScala)
        .filter(c => names.exists(resolver(_, c.getPath.toArray.head))).map(_.getTotalSize).sum,
        math.min(rows, maxTiles), most)
    }
    val admitted = files.result()
    val schema = DataTypeUtils.fromAttributes(required)
    Some(Input(estimate.copy(threads = math.max(1, math.min(most, admitted.length))), required,
      () => {
        LocalParquetRows.setReadConf(conf, sql, schema)
        admitted.map { case (f, footer, predicate) =>
          val filter = predicate.fold(FilterCompat.NOOP)(FilterCompat.get)
          val part: Part = (live, g) => if (live())
            LocalParquetRows.foreach(sql, conf, RaquetIO.openFile(conf, f, filter, Some(footer)),
              filter, live)(g)
          part
        }
      }))
  }

  /** The parquet predicate the file scan pushes into a file with this
    * footer (`ParquetFileFormat`'s translation of the pushed filters). */
  private def parquetPredicate(sql: SQLConf, footer: ParquetMetadata,
      pushed: Seq[org.apache.spark.sql.sources.Filter]): Option[FilterPredicate] =
    if (!sql.parquetFilterPushDown) None
    else {
      val meta = footer.getFileMetaData
      val filters = new ParquetFilters(meta.getSchema, sql.parquetFilterPushDownDate,
        sql.parquetFilterPushDownTimestamp, sql.parquetFilterPushDownDecimal,
        sql.parquetFilterPushDownStringPredicate, sql.parquetFilterPushDownInFilterThreshold,
        sql.caseSensitiveAnalysis, DataSourceUtils.datetimeRebaseSpec(
          meta.getKeyValueMetaData.get, sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString))
      pushed.flatMap(filters.createFilter).reduceOption(FilterApi.and)
    }

  private def admits(predicate: Option[FilterPredicate], group: BlockMetaData): Boolean =
    predicate.forall(p => !StatisticsFilter.canDrop(p, group.getColumns))

  /** The most tiles that may be decoded: the cells the `block` conjuncts
    * of `filters` admit, less those a guard keeps from every blob. A guard
    * is the `regionStatsTiles` shape `CASE WHEN quadbin_in_ranges(block, R)
    * THEN <no blob> ELSE <kernel> END`: its kernel decodes no cell of R. So
    * when every blob use in `exprs` is under a guard, a tile decodes only
    * outside some guard's R. */
  private def decodes(filters: Seq[Expression], exprs: Seq[Expression]): Long = {
    val admitted = blockCells(filters)
    val all = admitted.fold(Long.MaxValue)(count)
    (admitted, every(exprs.map(guards))) match {
      case (Some(cells), Some(rs)) =>
        math.min(all, rs.distinct.map(r => all - count(intersect(cells, merged(r))))
          .foldLeft(0L)(saturated))
      case _ => all
    }
  }

  /** The ranges of the guards over the blob uses in `e`, None when a blob is
    * used outside a guard. */
  private def guards(e: Expression): Option[Seq[Seq[(Long, Long)]]] = e match {
    case CaseWhen(Seq((QuadbinInRanges(b: Attribute, lo, hi), value)), Some(_))
        if isBlock(b) && !value.exists(isBlob) => Some(Seq(lo.toSeq.zip(hi)))
    case a: Attribute if isBlob(a) => None
    case _ => every(e.children.map(guards))
  }

  /** The elements of all of `xs`, None when one is None. */
  private def every[T](xs: Seq[Option[Seq[T]]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.flatten.flatten) else None

  private def isBlob(e: Expression): Boolean = e match {
    case a: Attribute => a.dataType == BinaryType
    case _ => false
  }

  private def isBlock(a: Attribute): Boolean =
    a.name.equalsIgnoreCase("block") && a.dataType == LongType

  /** The cells the `block` conjuncts of `filters` admit, as sorted disjoint
    * ranges; None when no conjunct bounds `block`. A range leg at one zoom
    * covers its cells of that zoom, an equality one cell. A lone leg
    * arrives as its two bounds, each a conjunct of its own. */
  private def blockCells(filters: Seq[Expression]): Option[IndexedSeq[(Long, Long)]] = {
    val los = filters.collect {
      case GreaterThanOrEqual(a: Attribute, Literal(v: Long, LongType)) if isBlock(a) => v
    }
    val his = filters.collect {
      case LessThanOrEqual(a: Attribute, Literal(v: Long, LongType)) if isBlock(a) => v
    }
    val span = for (lo <- los.maxOption; hi <- his.minOption) yield Seq((lo, hi))
    (span.toSeq ++ filters.collect {
      case BlockRanges(a, legs) if isBlock(a) => legs
      case QuadbinInRanges(a: Attribute, lo, hi) if isBlock(a) => lo.toSeq.zip(hi)
      case EqualTo(a: Attribute, Literal(v: Long, LongType)) if isBlock(a) => Seq((v, v))
      case EqualTo(Literal(v: Long, LongType), a: Attribute) if isBlock(a) => Seq((v, v))
    }).map(merged).reduceOption(intersect)
  }

  /** `rs` sorted, without empty ranges, overlapping ones merged. */
  private def merged(rs: Seq[(Long, Long)]): IndexedSeq[(Long, Long)] =
    rs.filter(r => r._1 <= r._2).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: done, (l, h)) if l <= hi => (lo, math.max(hi, h)) :: done
      case (done, r) => r :: done
    }.reverse.toVector

  /** The common cells of two sorted disjoint range lists. */
  private def intersect(a: IndexedSeq[(Long, Long)],
      b: IndexedSeq[(Long, Long)]): IndexedSeq[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var (i, j) = (0, 0)
    while (i < a.length && j < b.length) {
      val (lo, hi) = (math.max(a(i)._1, b(j)._1), math.min(a(i)._2, b(j)._2))
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  private def count(ranges: Seq[(Long, Long)]): Long =
    ranges.foldLeft(0L)((n, r) => saturated(n, cellsIn(r._1, r._2)))

  private def cellsIn(lo: Long, hi: Long): Long =
    if (lo > hi) 0L
    else if (Quadbin.isValid(lo) && Quadbin.isValid(hi) && Quadbin.zoom(lo) == Quadbin.zoom(hi))
      ((hi - lo) >>> (52 - 2 * Quadbin.zoom(lo))) + 1
    else Long.MaxValue

  private def saturated(a: Long, b: Long): Long =
    if (a > Long.MaxValue - b) Long.MaxValue else a + b

  /** The result rows of the aggregate over the chain `nodes` (top first)
    * over `input`: one per group in first-seen order, or one for a global
    * aggregate over none. The parts evaluate the chain, the grouping keys
    * and the inputs of the aggregate functions; the buffers are updated
    * here, row by row in part order. */
  private def aggregate(groupings: Seq[NamedExpression], aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression], nodes: List[LogicalPlan], input: Input): Seq[InternalRow] = {
    val (chain, out) = nodes.reverse.foldLeft((Vector.empty[Step], input.attrs)) {
      case ((steps, in), Filter(cond, _)) =>
        (steps :+ Keep(BindReferences.bindReference(cond, in)), in)
      case ((steps, in), Project(list, _)) =>
        (steps :+ Compute(BindReferences.bindReferences(list, in)), list.map(_.toAttribute))
      case (_, other) => throw new IllegalStateException(s"not a chain node: $other")
    }
    // the evaluated inputs: the grouping keys, then every function input
    // that is not a constant, each a column the functions read in its place
    val keys = groupings.map(g => NormalizeFloatingNumbers.normalize(g))
    val inputs = keys ++ aggs.flatMap(_.aggregateFunction.children.filterNot(_.foldable))
    val in = inputs.zipWithIndex.map { case (e, i) => AttributeReference(s"in$i", e.dataType, e.nullable)() }
    val columns = in.iterator.drop(keys.length)
    val reading = aggs.map(_.aggregateFunction.mapChildren(c => if (c.foldable) c else columns.next())
      .asInstanceOf[AggregateFunction])

    val bufferAttrs = reading.flatMap(_.aggBufferAttributes)
    val offsets = reading.scanLeft(0)(_ + _.aggBufferAttributes.length)
    val functions: Seq[AggregateFunction] = reading.zip(offsets).map {
      case (i: ImperativeAggregate, offset) =>
        BindReferences.bindReference(i, in).withNewMutableAggBufferOffset(offset)
      case (d, _) => d
    }
    val imperative = functions.zipWithIndex.collect { case (i: ImperativeAggregate, k) => (i, k) }
    def slots(declarative: DeclarativeAggregate => Seq[Expression]): Seq[Expression] =
      functions.flatMap {
        case d: DeclarativeAggregate => declarative(d)
        case f => Seq.fill(f.aggBufferAttributes.length)(NoOp)
      }
    val init = new InterpretedMutableProjection(slots(_.initialValues), Nil)
    val update = new InterpretedMutableProjection(slots(_.updateExpressions), bufferAttrs ++ in)
    val evaluate = new InterpretedMutableProjection(functions.map {
      case d: DeclarativeAggregate => d.evaluateExpression
      case _ => NoOp
    }, bufferAttrs)
    val key = InterpretedUnsafeProjection.createProjection(
      in.take(keys.length).zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
    val result = InterpretedUnsafeProjection.createProjection(results.map(r =>
      BindReferences.bindReference[Expression](r,
        groupings.map(_.toAttribute) ++ aggs.map(_.resultAttribute))))
    Seq(init, update, evaluate).foreach(_.initialize(0))

    def newBuffer(): InternalRow = {
      val b = new GenericInternalRow(bufferAttrs.length)
      init.target(b)(InternalRow.empty)
      imperative.foreach(_._1.initialize(b))
      b
    }
    val groups = new java.util.LinkedHashMap[UnsafeRow, InternalRow]
    val joined = new JoinedRow
    run(input.parts(), Steps(chain, BindReferences.bindReferences(inputs, out)),
        input.estimate.threads) { r =>
      val k = key(r)
      var b = groups.get(k)
      if (b == null) { b = newBuffer(); groups.put(k.copy(), b) }
      update.target(b)(joined(b, r))
      imperative.foreach(_._1.update(b, r))
    }
    if (groups.isEmpty && groupings.isEmpty) groups.put(key(InternalRow.empty).copy(), newBuffer())
    val values = new GenericInternalRow(aggs.length)
    evaluate.target(values)
    groups.asScala.iterator.map { case (k, b) =>
      evaluate(b)
      imperative.foreach { case (i, slot) => values.update(slot, i.eval(b)) }
      result(joined(k, values)).copy(): InternalRow
    }.toVector
  }

  /** A chain node, bound to its input: a filter's condition or a
    * projection's list. */
  private sealed trait Step
  private final case class Keep(condition: Expression) extends Step
  private final case class Compute(list: Seq[Expression]) extends Step

  /** What a part evaluates per row: the chain, then the aggregate inputs. */
  private final case class Steps(chain: Seq[Step], inputs: Seq[Expression])

  /** `steps` as a function of an input row: the row of its aggregate inputs,
    * copied out, or null when a filter drops it. It holds its own
    * projections, so it serves one thread. */
  private def evaluator(steps: Steps): InternalRow => InternalRow = {
    val chain = steps.chain.map {
      case Keep(cond) =>
        val p = InterpretedPredicate(cond)
        p.initialize(0)
        (r: InternalRow) => if (p.eval(r)) r else null
      case Compute(list) =>
        val p = new InterpretedMutableProjection(list)
        p.initialize(0)
        (r: InternalRow) => p(r)
    }
    val out = new InterpretedMutableProjection(steps.inputs)
    out.initialize(0)
    r => {
      var x = r
      val it = chain.iterator
      while (x != null && it.hasNext) x = it.next()(x)
      if (x == null) null else out(x).copy()
    }
  }

  /** Evaluates `steps` over the rows of `parts` and hands each evaluated row
    * to `consume` on this thread, in part order and, within a part, in row
    * order: the order of a sequential fold, whatever the thread count.
    *
    * With several parts and threads, up to `threads` workers on the
    * process-wide pool take the parts in order, each with its own copy of
    * the expressions (serialized as a Spark task would get them) and the
    * session conf of this thread. A part that fails cancels the parts after
    * it, which stop before their next row and close their readers, and its
    * error is raised here as thrown, once this thread reaches it in order:
    * an earlier part's error, or an error in `consume`, comes first, as in a
    * sequential fold. Leaving, by a return or an error, cancels the rest and
    * waits for every worker, so no part reads on. */
  private def run(parts: IndexedSeq[Part], steps: Steps, threads: Int)(
      consume: InternalRow => Unit): Unit =
    if (parts.length < 2 || threads < 2) {
      val eval = evaluator(steps)
      parts.foreach(_(() => true, r => { val x = eval(r); if (x != null) consume(x) }))
    } else {
      val env = SparkEnv.get
      val shipped = env.closureSerializer.newInstance().serialize(steps)
      val (sql, loader) = (SQLConf.get, Thread.currentThread.getContextClassLoader)
      val done = IndexedSeq.fill(parts.length)(new CompletableFuture[ArrayBuffer[InternalRow]])
      // parts from `stop` on are cancelled
      val (next, stop) = (new AtomicInteger, new AtomicInteger(parts.length))
      val worker: Runnable = () => SQLConf.withExistingConf(sql) {
        lazy val eval = evaluator(env.closureSerializer.newInstance()
          .deserialize[Steps](shipped.duplicate(), loader))
        var i = next.getAndIncrement()
        while (i < stop.get) {
          val (k, rows) = (i, ArrayBuffer.empty[InternalRow])
          try {
            parts(k)(() => k < stop.get, r => { val x = eval(r); if (x != null) rows += x })
            if (k < stop.get) done(k).complete(rows) else done(k).cancel(false)
          } catch {
            case t: Throwable =>
              stop.accumulateAndGet(k, math.min)
              done(k).completeExceptionally(t)
          }
          i = next.getAndIncrement()
        }
      }
      val workers = Seq.fill(math.min(threads, parts.length))(pool.submit(worker))
      try done.foreach { d =>
        val rows = try d.get() catch { case e: ExecutionException => throw e.getCause }
        rows.foreach(consume)
      } finally {
        stop.set(-1)
        workers.foreach(Uninterruptibles.getUninterruptibly(_))
      }
    }
}
