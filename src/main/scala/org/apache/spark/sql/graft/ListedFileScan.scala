package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The parquet scan `spark.read.schema(schema).parquet(path)` builds — the
  * same file index, `k=v` partition columns and relation — over a listing
  * the caller already holds: Spark neither lists the table again nor looks
  * for a streaming sink's metadata directory at the path. */
object ListedFileScan {

  /** The scan of the files listed under `roots` (each path the table path
    * matched, with the data files under it), with data schema `schema`. */
  def apply(spark: SparkSession, path: String, roots: Seq[(Path, Seq[FileStatus])],
      schema: StructType): DataFrame = {
    val options = Map("path" -> path)
    val index = new Index(spark, roots, options, schema)
    val partitions = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val data = StructType(schema.filterNot(f => partitions.exists(p => resolver(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitions, data.asNullable, None,
      new ParquetFileFormat, options)(spark))
  }

  /** The file index of a scan built here: Spark's own over the listing,
    * which it keeps as `files`, every data file in path order. The type marks
    * the relation as a raquet table opened from its footers, whose footers
    * [[DriverAggregate]] may read. */
  final class Index(spark: SparkSession, roots: Seq[(Path, Seq[FileStatus])],
      options: Map[String, String], schema: StructType)
      extends InMemoryFileIndex(spark, roots.map(_._1), options, Some(schema),
        new Listed(roots.map { case (p, files) => p -> files.toArray }.toMap)) {
    val files: Seq[FileStatus] = roots.flatMap(_._2).sortBy(_.getPath.toString)
  }

  /** A file index's leaf-file cache that holds one listing until the index
    * is refreshed. */
  private final class Listed(listed: Map[Path, Array[FileStatus]]) extends FileStatusCache {
    @volatile private var leaves = listed
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leaves.get(path)
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = leaves = Map.empty
  }
}
