package org.apache.spark.sql.graft

import java.time.ZoneId

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet rows read on the driver and returned as a local relation. The
  * rows go through Spark's own non-vectorized parquet read path: the schema
  * is clipped to each file and the records are assembled by
  * `ParquetReadSupport`'s row converter, with the conf, time zone and
  * rebase settings the parquet source would use. A projection over the
  * relation is evaluated by the optimizer (`ConvertToLocalRelation`), so
  * collecting it runs no Spark job. */
object LocalParquetRows {

  /** The records of `readers` that `filter` admits, as a DataFrame of
    * `schema` (made nullable, as the parquet source makes a given schema),
    * in reader order. Each reader yields the row groups (and, through the
    * column index, the pages) its own options admit; it is closed once
    * read. `conf` is the session's Hadoop conf; the read settings are set
    * on it. */
  def apply(spark: SparkSession, conf: Configuration, schema: StructType,
      readers: Iterator[ParquetFileReader], filter: FilterCompat.Filter): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sql = session.sessionState.conf
    val nullable = schema.asNullable
    setReadConf(conf, sql, nullable)
    val attrs = DataTypeUtils.toAttributes(nullable)
    // rows hold views on the page buffers until copied out
    val copy = InterpretedUnsafeProjection.createProjection(
      attrs.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
    val rows = readers.flatMap { reader =>
      try {
        if (reader.getRowGroups.isEmpty) Vector.empty
        else records(reader, conf, sql, filter).map(r => copy(r).copy(): InternalRow).toVector
      } finally reader.close()
    }.toVector
    classic.Dataset.ofRows(session, LocalRelation(attrs, rows))
  }

  /** The admitted records of one file, each converted in place into the
    * converter's current row. The converter is set up per file, since its
    * clipped schema depends on the file's own; files whose statistics admit
    * no row group are skipped before it. */
  private def records(reader: ParquetFileReader, conf: Configuration, sql: SQLConf,
      filter: FilterCompat.Filter): Iterator[InternalRow] = {
    val meta = reader.getFooter.getFileMetaData
    val fileSchema = meta.getSchema
    val kv = meta.getKeyValueMetaData
    val convertTz =
      if (sql.isParquetINT96TimestampConversion && !meta.getCreatedBy.startsWith("parquet-mr"))
        Some(DateTimeUtils.getZoneId(sql.sessionLocalTimeZone))
      else None: Option[ZoneId]
    val support = new ParquetReadSupport(convertTz, enableVectorizedReader = false,
      DataSourceUtils.datetimeRebaseSpec(kv.get,
        sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString),
      DataSourceUtils.int96RebaseSpec(kv.get,
        sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString))
    val context = support.init(new InitContext(conf,
      kv.asScala.map { case (k, v) => k -> java.util.Collections.singleton(v) }.asJava, fileSchema))
    val materializer = support.prepareForRead(conf, kv, fileSchema, context)
    val requested = context.getRequestedSchema
    reader.setRequestedSchema(requested)
    val io = new ColumnIOFactory(meta.getCreatedBy).getColumnIO(requested, fileSchema, true)
    Iterator.continually(reader.readNextFilteredRowGroup()).takeWhile(_ != null).flatMap { pages =>
      val recordReader = io.getRecordReader(pages, materializer, filter)
      // the record filter yields null for the rows it rejects
      Iterator.fill(pages.getRowCount.toInt)(recordReader.read()).filter(_ != null)
    }
  }

  /** The settings the parquet source puts on the Hadoop conf of a
    * non-vectorized read of `schema`. */
  private def setReadConf(conf: Configuration, sql: SQLConf, schema: StructType): Unit = {
    val json = schema.json
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sql.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sql.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sql.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sql.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> sql.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sql.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sql.parquetReaderRespectUnknownTypeAnnotation)
      .foreach { case (entry, value) => conf.setBoolean(entry.key, value) }
  }
}
