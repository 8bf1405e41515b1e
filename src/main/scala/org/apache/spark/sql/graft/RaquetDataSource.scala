package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal, Not}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.types.StructType

/** `spark.read.format("raquet")`, SQL on a path (`raquet.`path``) and
  * `CREATE … USING raquet`: the raquet table format as a registered Spark
  * file source (discovered via META-INF/services/…DataSourceRegister). Every
  * entry point resolves to one `HadoopFsRelation` over this format, planned
  * as a `FileSourceScanExec`.
  *
  * Reading is the parquet source's (raquet IS parquet, spec
  * `format-specs/raquet.md:9-18`), so vectorized scan, predicate pushdown
  * and partition pruning are stock Spark. The schema is the first data
  * file's footer schema, read on the driver as `RaquetIO` reads it, so
  * opening a table runs no Spark job. The one raquet-specific read semantic,
  * that the `block = 0` metadata row is format plumbing, not data
  * (`raquet.md:38,59-63`; consumers must exclude it,
  * `docs/engines.md:118-121`), is applied by [[RaquetMetadataExclusion]]
  * (installed by `GraftExtensions`, the library's standard session config):
  * it swaps this format for plain parquet under a `Filter(block != 0)`, so
  * the exclusion itself takes part in parquet filter pushdown.
  *
  * Writing through this source is refused: a bare parquet write would
  * silently produce an INVALID raquet file (no metadata row, no Morton
  * sort). `RaquetIO.write` is the writer.
  */
class RaquetFileFormat extends ParquetFileFormat {
  override def shortName(): String = "raquet"
  override def toString: String = "Raquet"

  override def inferSchema(sparkSession: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    if (new ParquetOptions(options, sparkSession.sessionState.conf).mergeSchema)
      super.inferSchema(sparkSession, options, files)
    else graft.raquet.RaquetIO.inferSchema(sparkSession, files)

  // The exclusion rule swaps this format for plain ParquetFileFormat, so
  // building a reader here means the extensions are not installed in the
  // active session and the metadata row would surface as data.
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
    throw new IllegalStateException(
      "spark.read.format(\"raquet\") requires the graft session extensions " +
        "(the block = 0 metadata row would otherwise surface as data): build " +
        "the session with spark.sql.extensions=graft.functions.GraftExtensions " +
        "or builder.withExtensions(new graft.functions.GraftExtensions())")

  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType): org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "the raquet source is read-only: writing plain parquet here would drop " +
        "the metadata row and Morton sort; use graft.raquet.RaquetIO.write")
}

/** Analyzer (post-hoc resolution) rule: a freshly resolved `raquet` relation
  * gains the metadata-row exclusion filter exactly once. The rewrite replaces
  * the [[RaquetFileFormat]] marker with plain parquet, so the rule is
  * idempotent across fixpoint iterations. Datasets without a `block` column
  * (not raquet) pass through unfiltered. */
object RaquetMetadataExclusion extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.fileFormat.isInstanceOf[RaquetFileFormat] =>
      val rel = r.copy(relation = fs.copy(fileFormat = new ParquetFileFormat)(fs.sparkSession))
      rel.output.find(_.name == "block") match {
        case Some(block) => Filter(Not(EqualTo(block, Literal(0L))), rel)
        case None => rel
      }
  }
}
