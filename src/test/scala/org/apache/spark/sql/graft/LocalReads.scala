package org.apache.spark.sql.graft

/** The driver-side read counters of [[LocalParquetRows]], for the specs
  * outside this package. */
object LocalReads {
  def rowGroups: Long = LocalParquetRows.rowGroupsRead.get
  def records: Long = LocalParquetRows.recordsRead.get
}
