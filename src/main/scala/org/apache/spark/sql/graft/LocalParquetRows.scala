package org.apache.spark.sql.graft

import java.time.ZoneId
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.io.{ColumnIOFactory, RecordReader}
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
  * rebase settings the parquet source would use. Only the columns of the
  * given schema are read, so a caller that needs a few columns of a wide
  * table (the `block` and stats columns of a raquet table, say) reads none
  * of its blob chunks. A projection over the relation is evaluated by the
  * optimizer (`ConvertToLocalRelation`), so collecting it runs no Spark job;
  * an aggregate over it, or over a small raquet scan read here, is folded by
  * [[DriverAggregate]], whose parts stream each file's records through
  * [[foreach]] and keep none of them. */
object LocalParquetRows {

  /** Row groups and records the driver-side reads have admitted. */
  private[graft] val rowGroupsRead, recordsRead = new AtomicLong

  /** The records of `readers` that their filters admit, as a DataFrame of
    * `schema` (made nullable, as the parquet source makes a given schema),
    * in reader order. See [[rows]]. */
  def apply(spark: SparkSession, conf: Configuration, schema: StructType,
      readers: Iterator[(ParquetFileReader, FilterCompat.Filter)]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val nullable = schema.asNullable
    classic.Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(nullable),
      rows(session.sessionState.conf, conf, nullable, readers)))
  }

  /** The records of `readers` with the columns of `schema`, in reader
    * order. Each reader yields the row groups (and, through the column
    * index, the pages) its own options admit, and its filter, applied to
    * each record, drops the records it rejects; a reader is closed once
    * read. `conf` is the session's Hadoop conf; the read settings are set on
    * it. */
  def rows(sql: SQLConf, conf: Configuration, schema: StructType,
      readers: Iterator[(ParquetFileReader, FilterCompat.Filter)]): Vector[InternalRow] = {
    setReadConf(conf, sql, schema)
    // rows hold views on the page buffers until copied out
    val copy = InterpretedUnsafeProjection.createProjection(
      schema.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
    val rows = Vector.newBuilder[InternalRow]
    readers.foreach { case (reader, filter) =>
      foreach(sql, conf, reader, filter)(r => rows += copy(r).copy())
    }
    rows.result()
  }

  /** Hands each admitted record of `reader` to `f`, one row group at a
    * time, while `live` holds, then closes the reader. A record is the
    * converter's current row, valid only until `f` returns: it holds views
    * on the row group's pages and is overwritten by the next record. So a
    * caller that keeps nothing but what `f` computes holds at most one row
    * group of the file. `conf` must carry the read settings of
    * [[setReadConf]]. */
  private[graft] def foreach(sql: SQLConf, conf: Configuration, reader: ParquetFileReader,
      filter: FilterCompat.Filter, live: () => Boolean = () => true)(
      f: InternalRow => Unit): Unit =
    try {
      // files whose statistics admit no row group need no converter
      if (!reader.getRowGroups.isEmpty) {
        val records = recordReader(reader, conf, sql, filter)
        def next() = if (live()) reader.readNextFilteredRowGroup() else null
        var pages = next()
        while (pages != null) {
          val rows = records(pages)
          var left = pages.getRowCount
          var admitted = 0L
          while (left > 0 && live()) {
            // the record filter yields null for the rows it rejects
            val r = rows.read()
            if (r != null) { f(r); admitted += 1 }
            left -= 1
          }
          rowGroupsRead.incrementAndGet()
          recordsRead.addAndGet(admitted)
          pages = next()
        }
      }
    } finally reader.close()

  /** The record reader of each row group of one file, converting records in
    * place into the converter's current row. The converter is set up per
    * file, since its clipped schema depends on the file's own. */
  private def recordReader(reader: ParquetFileReader, conf: Configuration, sql: SQLConf,
      filter: FilterCompat.Filter): PageReadStore => RecordReader[InternalRow] = {
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
    pages => io.getRecordReader(pages, materializer, filter)
  }

  /** The settings the parquet source puts on the Hadoop conf of a
    * non-vectorized read of `schema`. */
  private[graft] def setReadConf(conf: Configuration, sql: SQLConf, schema: StructType): Unit = {
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
