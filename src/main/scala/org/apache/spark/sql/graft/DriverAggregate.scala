package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.filter2.statisticslevel.StatisticsFilter
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
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
  * `eval`; a global aggregate over no rows still yields its one row. An
  * error of a kernel in a folded aggregate is raised while the query is
  * planned, not by a failed job.
  *
  * "Small" is decided before any row is read, from footer facts only: the
  * table's files, the compressed bytes of the needed column chunks in the
  * admitted row groups and, when a blob column is needed, the tiles that
  * may be decoded (the admitted rows, capped by the cells the pushed
  * `block` ranges or equalities cover). The aggregate folds when
  * `files * OpenMsPerFile + bytes / ReadBytesPerMs + tiles * DecodeMsPerTile
  * <= DistributedMs`. Every listed file counts as an open: the read opens
  * each file with an admitted row group, and the estimate itself reads the
  * footer of each file the cache does not hold. The footers are taken in
  * path order and no more are read once the running estimate is past the
  * bound, so a declined aggregate costs the planner at most the footers of
  * `DistributedMs / OpenMsPerFile` files. A local relation is costed from
  * its estimated size and, when a blob column is used, its row count.
  * The constants were measured in a `local[4]` session on a 4-core host,
  * warm JVM, medians of 20-40 runs, on the benchmark's slope table (32×32
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

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if !a.isStreaming => fold(a).getOrElse(a)
    }

  /** The footer-side cost of reading an aggregate's input on the driver:
    * `files` opened, `bytes` of column chunks and `tiles` tiles that may be
    * decoded. */
  final case class Estimate(files: Long, bytes: Long, tiles: Long) {
    def ms: Double = files * OpenMsPerFile + bytes / ReadBytesPerMs + tiles * DecodeMsPerTile
    /** No dearer than running the aggregate as Spark jobs. */
    def small: Boolean = ms <= DistributedMs
  }

  /** The cost of folding `a`, None when it does not have the shape that
    * folds: what the rule weighs against [[DistributedMs]]. The footers are
    * read only until the estimate is past the bound, so the estimate of an
    * aggregate that does not fold may stop short of its whole input. */
  def estimate(a: Aggregate): Option[Estimate] = shape(a).map(_._5.estimate)

  /** An aggregate's input as the rule reads it: its cost, the attributes
    * of its rows and the read. */
  private final case class Input(estimate: Estimate, attrs: Seq[Attribute],
      read: () => Seq[InternalRow])

  /** `a`'s parts when it has the shape that folds: grouping, aggregate and
    * result expressions, the chain nodes (top first) and the input. */
  private def shape(a: Aggregate): Option[(Seq[NamedExpression], Seq[AggregateExpression],
      Seq[NamedExpression], List[LogicalPlan], Input)] = a match {
    case PhysicalAggregation(groupings, aggs, results, child) if supported(a, aggs) =>
      for {
        (nodes, leaf) <- chain(child)
        if nodes.forall(_.expressions.forall(evaluable))
        in <- input(leaf, child, AttributeSet((a +: nodes).flatMap(_.references)))
      } yield (groupings, aggs, results, nodes, in)
    case _ => None
  }

  /** `a` as the local relation of its rows, when it folds. */
  private def fold(a: Aggregate): Option[LocalRelation] = shape(a).collect {
    case (groupings, aggs, results, nodes, input) if input.estimate.small =>
      val (attrs, rows) = nodes.reverse.foldLeft((input.attrs, input.read().iterator)) {
        case ((in, it), Filter(cond, _)) =>
          val p = InterpretedPredicate(BindReferences.bindReference(cond, in))
          p.initialize(0)
          (in, it.filter(p.eval))
        case ((in, it), Project(list, _)) =>
          val p = new InterpretedMutableProjection(list, in)
          p.initialize(0)
          (list.map(_.toAttribute), it.map(r => p(r).copy()))
        case (_, other) => throw new IllegalStateException(s"not a chain node: $other")
      }
      LocalRelation(a.output, aggregate(groupings, aggs, results, attrs, rows))
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

  /** The rows of `leaf` that the chain `child` over it needs (the `used`
    * attributes), when the leaf is one the rule reads. */
  private def input(leaf: LogicalPlan, child: LogicalPlan, used: AttributeSet): Option[Input] =
    leaf match {
      case l: LocalRelation =>
        val blobs = l.output.exists(a => used.contains(a) && a.dataType == BinaryType)
        val (bytes, tiles) = (l.computeStats().sizeInBytes.toLong, if (blobs) l.data.length else 0)
        Some(Input(Estimate(0L, bytes, tiles), l.output, () => l.data))
      case l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location match {
        case index: ListedFileScan.Index if fs.partitionSchema.isEmpty &&
            fs.fileFormat.isInstanceOf[ParquetFileFormat] => raquet(l, fs, index, child, used)
        case _ => None
      }
      case _ => None
    }

  /** The driver-side read of a raquet table, costed from its footers, read
    * in path order until the estimate is past the bound. */
  private def raquet(l: LogicalRelation, fs: HadoopFsRelation, index: ListedFileScan.Index,
      child: LogicalPlan, used: AttributeSet): Option[Input] = {
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
      cells(dataFilters.flatMap(splitConjunctivePredicates)) else 0L
    // the files with an admitted row group, with their footers and predicates
    val files = Vector.newBuilder[(FileStatus, ParquetMetadata, Option[FilterPredicate])]
    var estimate = Estimate(0L, 0L, 0L)
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
        math.min(rows, maxTiles))
    }
    val schema = DataTypeUtils.fromAttributes(required)
    Some(Input(estimate, required, () =>
      LocalParquetRows.rows(sql, conf, schema, files.result().iterator.map {
        case (f, footer, predicate) =>
          val filter = predicate.fold(FilterCompat.NOOP)(FilterCompat.get)
          (RaquetIO.openFile(conf, f, filter, Some(footer)), filter)
      })))
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

  /** The most cells the `block` conjuncts of `filters` admit: a range leg at
    * one zoom covers its cells of that zoom, an equality one cell. A lone
    * leg arrives as its two bounds, each a conjunct of its own. */
  private def cells(filters: Seq[Expression]): Long = {
    def isBlock(a: Attribute) = a.name.equalsIgnoreCase("block") && a.dataType == LongType
    val los = filters.collect {
      case GreaterThanOrEqual(a: Attribute, Literal(v: Long, LongType)) if isBlock(a) => v
    }
    val his = filters.collect {
      case LessThanOrEqual(a: Attribute, Literal(v: Long, LongType)) if isBlock(a) => v
    }
    val span = for (lo <- los.maxOption; hi <- his.minOption) yield cellsIn(lo, hi)
    (span.toSeq ++ filters.collect {
      case BlockRanges(a, legs) if isBlock(a) =>
        legs.foldLeft(0L)((n, leg) => saturated(n, cellsIn(leg._1, leg._2)))
      case EqualTo(a: Attribute, Literal(_, LongType)) if isBlock(a) => 1L
      case EqualTo(Literal(_, LongType), a: Attribute) if isBlock(a) => 1L
    }).minOption.getOrElse(Long.MaxValue)
  }

  private def cellsIn(lo: Long, hi: Long): Long =
    if (lo > hi) 0L
    else if (Quadbin.isValid(lo) && Quadbin.isValid(hi) && Quadbin.zoom(lo) == Quadbin.zoom(hi))
      ((hi - lo) >>> (52 - 2 * Quadbin.zoom(lo))) + 1
    else Long.MaxValue

  private def saturated(a: Long, b: Long): Long =
    if (a > Long.MaxValue - b) Long.MaxValue else a + b

  /** The result rows of an aggregate of `rows` (bound to `in`): one per
    * group in first-seen order, or one for a global aggregate over none. */
  private def aggregate(groupings: Seq[NamedExpression], aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression], in: Seq[Attribute],
      rows: Iterator[InternalRow]): Seq[InternalRow] = {
    val bufferAttrs = aggs.flatMap(_.aggregateFunction.aggBufferAttributes)
    val offsets = aggs.scanLeft(0)(_ + _.aggregateFunction.aggBufferAttributes.length)
    val functions: Seq[AggregateFunction] = aggs.zip(offsets).map {
      case (ae, offset) => ae.aggregateFunction match {
        case i: ImperativeAggregate =>
          BindReferences.bindReference(i, in).withNewMutableAggBufferOffset(offset)
        case d => d
      }
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
      groupings.map(g => BindReferences.bindReference(NormalizeFloatingNumbers.normalize(g), in)))
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
    rows.foreach { r =>
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
}
