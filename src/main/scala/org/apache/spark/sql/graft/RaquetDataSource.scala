package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal, Not}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetDataSourceV2, ParquetTable}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("raquet")` / `CREATE TABLE … USING raquet` — the
  * raquet table format as a registered Spark data source (discovered via
  * META-INF/services/…DataSourceRegister).
  *
  * Reading delegates to the parquet source (raquet IS parquet — spec
  * `format-specs/raquet.md:9-18`), so vectorized scan, predicate pushdown,
  * and partition pruning are stock Spark. The schema is the first data
  * file's footer schema, read on the driver as `RaquetIO` reads it, so
  * opening a table runs no Spark job. The one
  * raquet-specific read semantic — the `block = 0` metadata row is format
  * plumbing, not data (`raquet.md:38,59-63`; consumers must exclude it,
  * `docs/engines.md:118-121`) — is applied by [[RaquetMetadataExclusion]]:
  * the table is name-marked here, and the rule (installed by
  * `GraftExtensions`, the library's standard session config) rewrites the
  * marked relation to `Filter(block != 0)` over the plain parquet table, so
  * the exclusion itself participates in parquet filter pushdown.
  *
  * Writing through this source is refused: a bare parquet write would
  * silently produce an INVALID raquet file (no metadata row, no Morton
  * sort). `RaquetIO.write` is the writer.
  */
class RaquetDataSourceV2 extends ParquetDataSourceV2 {
  import RaquetDataSourceV2.Marker

  override def shortName(): String = "raquet"

  private def marked(options: CaseInsensitiveStringMap,
      schema: Option[StructType]): Table = {
    val paths = getPaths(options)
    val tableName = getTableName(options, paths)
    new RaquetReadTable(Marker + tableName, sparkSession,
      getOptionsWithoutPaths(options), paths, schema)
  }

  override def getTable(options: CaseInsensitiveStringMap): Table =
    marked(options, None)

  override def getTable(options: CaseInsensitiveStringMap, schema: StructType): Table =
    marked(options, Some(schema))

  // the V1 fallback (SQL-on-file `raquet.`path``, CREATE … USING raquet,
  // DataFrameWriter) goes through this format — the marker subclass keeps
  // the raquet identity visible to the exclusion rule and refuses writes
  override def fallbackFileFormat: Class[_ <: FileFormat] =
    classOf[RaquetFileFormat]
}

object RaquetDataSourceV2 {
  val Marker = "raquet!"
  val MissingExtensionsMsg: String =
    "spark.read.format(\"raquet\") requires the graft session extensions " +
      "(the block = 0 metadata row would otherwise surface as data): build " +
      "the session with spark.sql.extensions=graft.functions.GraftExtensions " +
      "or builder.withExtensions(new graft.functions.GraftExtensions())"

  /** The schema of a `raquet` table of `files`: the footer schema of its
    * first data file, read on the driver without a Spark job, unless the
    * options ask to merge the files' schemas (`merged`, Spark's parquet
    * inference). */
  private[graft] def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus], merged: => Option[StructType]): Option[StructType] =
    if (new ParquetOptions(options, spark.sessionState.conf).mergeSchema) merged
    else graft.raquet.RaquetIO.inferSchema(spark, files)
}

/** Read-only parquet table (non-case subclass: the write path must fail
  * loudly instead of emitting metadata-row-less "raquet"). */
class RaquetReadTable(name: String, sparkSession: SparkSession,
    options: CaseInsensitiveStringMap, paths: Seq[String],
    userSpecifiedSchema: Option[StructType])
    extends ParquetTable(name, sparkSession, options, paths, userSpecifiedSchema,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]) {
  override def inferSchema(files: Seq[FileStatus]): Option[StructType] =
    RaquetDataSourceV2.inferSchema(sparkSession, options.asCaseSensitiveMap.asScala.toMap, files,
      super.inferSchema(files))

  // When GraftExtensions is installed, RaquetMetadataExclusion replaces this
  // marked table with a plain ParquetTable (plus the block != 0 filter)
  // during analysis — so a scan build reaching THIS class means the rule
  // never ran and the metadata row would silently surface as data. Fail
  // loudly instead of returning wrong results.
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =
    throw new IllegalStateException(RaquetDataSourceV2.MissingExtensionsMsg)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    throw new UnsupportedOperationException(
      "the raquet source is read-only: writing plain parquet here would drop " +
        "the metadata row and Morton sort; use graft.raquet.RaquetIO.write")
}

/** Parquet with a raquet identity: the V1-fallback marker. Reads are plain
  * parquet; writes are refused (a bare parquet write would silently drop
  * the metadata row and Morton sort that make a file raquet). */
class RaquetFileFormat extends ParquetFileFormat {
  override def shortName(): String = "raquet"
  override def toString: String = "Raquet"

  override def inferSchema(sparkSession: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    RaquetDataSourceV2.inferSchema(sparkSession, options, files,
      super.inferSchema(sparkSession, options, files))
  // Same fail-fast contract as RaquetReadTable.newScanBuilder: the exclusion
  // rule swaps this format for plain ParquetFileFormat, so building a reader
  // here means the extensions are not installed in the active session.
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    throw new IllegalStateException(RaquetDataSourceV2.MissingExtensionsMsg)

  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType): org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "the raquet source is read-only: writing plain parquet here would drop " +
        "the metadata row and Morton sort; use graft.raquet.RaquetIO.write")
}

/** Analyzer (post-hoc resolution) rule: a freshly resolved `raquet` relation
  * gains the metadata-row exclusion filter exactly once — the rewrite strips
  * the marker (name prefix on the V2 table, the [[RaquetFileFormat]] class
  * on the V1 fallback), so the rule is idempotent across fixpoint
  * iterations. Datasets without a `block` column (not raquet) pass through. */
object RaquetMetadataExclusion extends Rule[LogicalPlan] {
  private def withExclusion(rel: LogicalPlan): LogicalPlan =
    rel.output.find(_.name == "block") match {
      case Some(block) => Filter(Not(EqualTo(block, Literal(0L))), rel)
      case None => rel
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r: DataSourceV2Relation
        if r.table.isInstanceOf[ParquetTable] &&
          r.table.name.startsWith(RaquetDataSourceV2.Marker) =>
      val t = r.table.asInstanceOf[ParquetTable]
      // the data schema rides along, so the plain table infers nothing
      withExclusion(r.copy(table = t.copy(
        name = t.name.stripPrefix(RaquetDataSourceV2.Marker),
        userSpecifiedSchema = t.userSpecifiedSchema.orElse(Some(t.dataSchema)))))
    case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.fileFormat.isInstanceOf[RaquetFileFormat] =>
      withExclusion(r.copy(relation = fs.copy(
        fileFormat = new ParquetFileFormat)(fs.sparkSession)))
  }
}
