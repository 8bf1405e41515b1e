package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.GraftFunctions.{st_as_wkb, st_geom_from_wkb}
import graft.raquet.ParquetFooter

/** GeoParquet interop (the public OGC GeoParquet 1.x spec): vector tables
  * whose geometry rides a WKB binary column described by a `geo` JSON
  * entry in the parquet FOOTER key-value metadata — the format GDAL/ogr,
  * GeoPandas and the cloud warehouses exchange vector data in.
  *
  * Read: the driver parses one file's `geo` footer entry (O(footer)),
  * then the table scans as plain parquet with the primary geometry
  * bridged into the engine's WKT surface (`st_geom_from_wkb`) — every
  * vector operator (measures, polyfill joins, rasterize, MVT) applies.
  * Write: plain parquet + an in-place footer stamp per part file, the
  * same O(footer) rewrite raquet's own spec keys use. */
object GeoParquet {

  /** The `geo` footer entry's load-bearing fields. */
  final case class GeoInfo(version: String, primaryColumn: String,
      encoding: String, geometryTypes: Seq[String], crs: Option[String])

  private def firstParquet(path: String): Path = {
    val p = Paths.get(path)
    if (Files.isRegularFile(p)) p
    else ParquetFooter.parquetFiles(p).headOption.getOrElse(
      throw new IllegalArgumentException(s"$path: no parquet files"))
  }

  /** Cheap routing probe: does `path` carry a `geo` footer entry? False
    * for plain parquet, missing paths, or non-parquet files (never throws
    * — used by the CLI to autoroute). */
  def isGeoParquet(path: String): Boolean =
    try ParquetFooter.keyValue(firstParquet(path), "geo").isDefined
    catch { case scala.util.control.NonFatal(_) => false }

  /** Parse the `geo` footer metadata of `path` (a file or a directory of
    * part files). GeoParquet writers stamp every part file identically;
    * rather than TRUST that, a directory read verifies every part footer
    * agrees on the load-bearing fields (primary column + encoding) — an
    * O(#files) driver-side footer pass, the same cost class as parquet's
    * own schema-merge listing — so a directory with one foreign or stale
    * part fails loudly instead of mis-decoding its geometry column. */
  def geoInfo(path: String): GeoInfo = {
    val f = firstParquet(path)
    val json = ParquetFooter.keyValue(f, "geo").getOrElse(
      throw new IllegalArgumentException(
        s"$path: no 'geo' footer metadata — not a GeoParquet file"))
    val p = Paths.get(path)
    if (Files.isDirectory(p)) {
      ParquetFooter.parquetFiles(p).foreach { part =>
        val pj = ParquetFooter.keyValue(part, "geo").getOrElse(
          throw new IllegalArgumentException(
            s"$part: part file lacks the 'geo' footer entry"))
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        def key(s: String): (String, String) = {
          val r = m.readTree(s)
          val pc = Option(r.get("primary_column")).map(_.asText).getOrElse("")
          val enc = Option(r.get("columns")).flatMap(c => Option(c.get(pc)))
            .flatMap(c => Option(c.get("encoding"))).map(_.asText).getOrElse("WKB")
          (pc, enc)
        }
        require(key(pj) == key(json),
          s"$part: 'geo' footer disagrees with ${f.getFileName} " +
            s"(${key(pj)} vs ${key(json)})")
      }
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val primary = Option(root.get("primary_column")).map(_.asText).getOrElse(
      throw new IllegalArgumentException(s"$path: geo metadata lacks primary_column"))
    val colNode = Option(root.get("columns")).flatMap(c => Option(c.get(primary)))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: geo metadata lacks columns['$primary']"))
    val enc = Option(colNode.get("encoding")).map(_.asText).getOrElse("WKB")
    val types = Option(colNode.get("geometry_types")).toSeq
      .flatMap(_.elements().asScala.map(_.asText))
    val crs = Option(colNode.get("crs")).filterNot(_.isNull).map(_.toString)
    GeoInfo(Option(root.get("version")).map(_.asText).getOrElse("1.0.0"),
      primary, enc, types, crs)
  }

  /** Read a GeoParquet table with the primary geometry bridged to WKT in
    * column `<primary>_wkt` (the engine's geometry surface). Non-WKB
    * encodings (GeoArrow native arrays) fail loudly. */
  def read(spark: SparkSession, path: String): (DataFrame, GeoInfo) = {
    val gi = geoInfo(path)
    require(gi.encoding.equalsIgnoreCase("WKB"),
      s"$path: GeoParquet encoding '${gi.encoding}' unsupported (WKB only)")
    val df = spark.read.parquet(path)
    require(df.columns.contains(gi.primaryColumn),
      s"$path: geometry column '${gi.primaryColumn}' missing from the schema")
    (df.withColumn(gi.primaryColumn + "_wkt",
      st_geom_from_wkb(col(gi.primaryColumn))), gi)
  }

  /** Write `df` as GeoParquet: `wktCol` serializes to a WKB column named
    * `geometryCol`, and every part file's footer gains the `geo` entry
    * (primary column, WKB encoding, declared geometry types). `crs`, when
    * given, is a PROJJSON document passed through verbatim (e.g. the
    * [[GeoInfo.crs]] of a read — round-trips a projected input); omitted
    * means the spec default OGC:CRS84. The entry is serialized with
    * Jackson, not string interpolation, so column names and type strings
    * containing quotes/backslashes stay valid JSON. */
  def write(df: DataFrame, path: String, wktCol: String,
      geometryCol: String = "geometry",
      geometryTypes: Seq[String] = Seq("Polygon"),
      crs: Option[String] = None): Unit = {
    df.withColumn(geometryCol, st_as_wkb(col(wktCol))).drop(wktCol)
      .write.mode("overwrite").parquet(path)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0.0")
    root.put("primary_column", geometryCol)
    val colNode = root.putObject("columns").putObject(geometryCol)
    colNode.put("encoding", "WKB")
    val types = colNode.putArray("geometry_types")
    geometryTypes.foreach(types.add)
    crs.foreach(c => colNode.replace("crs", mapper.readTree(c)))
    val geo = mapper.writeValueAsString(root)
    ParquetFooter.parquetFiles(Paths.get(path))
      .foreach(ParquetFooter.stampKeyValue(_, "geo", geo))
  }
}
