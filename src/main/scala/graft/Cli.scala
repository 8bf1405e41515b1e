package graft

import org.apache.spark.sql.SparkSession

import graft.raquet.{AaiGrid, Envi, GeoTiff, Maintenance, NetCdf, SrtmHgt}

/** Thin command-line surface over the library — the Spark-side mirror of
  * `raquet/cli.py:358-464,887-900,932-941,1058-1079,1296-1299` so the API
  * parity is user-visible:
  *
  * {{{
  * spark-submit --class graft.Cli graft.jar convert in.tif out.parquet \
  *   --tile-stats --overviews auto --compression gzip
  * ... inspect  file.parquet
  * ... validate file.parquet
  * ... export   file.parquet out.tif [--no-overviews]
  * ... split-zoom file.parquet out_dir/
  * ... partition  file.parquet out_dir/ [--partition-zoom N|auto]
  *                                      [--target-size-mb N]
  * }}}
  *
  * Flag names follow the reference CLI; flags that configure the Python
  * process model (`--streaming`, `--workers`) do not exist here — Spark's
  * task scheduler is the parallelism. `--row-group-size` (rows in the
  * reference) becomes `--row-group-bytes` (Spark writers budget bytes).
  */
object Cli {

  private val Usage =
    """usage: graft.Cli <command> <args...>
      |  convert <in.tif|.nc|.zarr|.grib(2)|.jp2|.hdf|.asc|.hgt|ENVI .dat+.hdr> <out.parquet>
      |          [--param d,c,n]  (GRIB multi-parameter files: GRIB2
      |           discipline,category,number; GRIB1 parameter,level-type,level)
      |          [--field NAME | --fields a,b|all]  (HDF4/HDF-EOS data
      |           fields: one band, or a multi-band stack; NAME may be
      |           grid-qualified as grid:field in multi-grid files;
      |           SWATH products route through the geolocation-array warp
      |           automatically — one --field, optional --zoom N)
      |          convert <granule_dir> routes a DIRECTORY of per-band .jp2
      |           files (the Sentinel-2 granule shape) through the
      |           distributed multi-band granule convert; single .jp2
      |           decodes one codestream on the driver — use the directory
      |           form for archives
      |      [--zoom-strategy auto|lower|upper] [--resampling near|average|...]
      |      [--overview-resampling average|mode|bilinear|near|min|max|med|
      |                              q1|q3|rms|sum|cubic|cubicspline|lanczos]
      |      [--block-size 256] [--overviews auto|none] [--min-zoom N]
      |      [--tile-stats] [--target-size BYTES] [--row-group-bytes BYTES]
      |      [--compression gzip|none|jpeg|webp] [--quality 0-100]
      |      [--band-layout sequential|interleaved]
      |  convert imageserver <url-template> <out.parquet> --resolution Z
      |      --bbox xmin,ymin,xmax,ymax [--bands 3] [--block-size 256]
      |      [--no-skip-empty]   ({z}/{x}/{y} template endpoint)
      |  export <in.parquet> <out.tif> [--no-overviews]
      |  inspect <file.parquet>
      |  validate <file.parquet>
      |  split-zoom <in.parquet> <out_dir>
      |  partition <in.parquet> <out_dir> [--partition-zoom auto|N]
      |  mosaic <a.parquet> <b.parquet> <out.parquet>
      |  tile-cache <in.parquet> <out_dir>
      |  pmtiles <in.parquet> <out.pmtiles>
      |  compact <dataset_dir> [--max-rows N]
      |  stamp-footer <file.parquet|dataset_dir>
      |  mvt <zones.parquet> <out.pmtiles> [--zoom N] [--extent N] [--layer name]
      |      [--target-size-mb 128]
      |  geoparquet-convert <in.parquet> <out.parquet>   (autoroutes on the
      |      `geo` footer key: GeoParquet in -> WKT-bridged table out;
      |      plain parquet in -> spec GeoParquet out)
      |      [--wkt-col wkt] [--geometry-col geometry] [--types Polygon,...]
      |      [--crs-file projjson.json]
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(Usage); sys.exit(2) }
    // SPARK_MASTER: deployment override of the local[cpus] master
    val spark = SessionDefaults.session(s"graft-${args(0)}", sys.env.get("SPARK_MASTER"))
    try run(spark, args.toSeq)
    catch {
      case e: CliError => System.err.println(s"error: ${e.getMessage}"); sys.exit(2)
    } finally spark.stop()
  }

  final class CliError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new CliError(msg)

  /** Parse `(positionals, flags)`; boolean flags map to "true". */
  private def parseArgs(args: Seq[String], boolFlags: Set[String])
      : (Seq[String], Map[String, String]) = {
    val pos = Seq.newBuilder[String]
    val flags = Map.newBuilder[String, String]
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case f :: tail if f.startsWith("--") =>
        val name = f.stripPrefix("--")
        if (boolFlags(name)) { flags += name -> "true"; rest = tail }
        else tail match {
          case v :: t2 => flags += name -> v; rest = t2
          case Nil => fail(s"flag --$name needs a value")
        }
      case p :: tail => pos += p; rest = tail
    }
    (pos.result(), flags.result())
  }

  /** GRIB magic + edition octet — extension-independent local detection
    * (.grib/.grb/.grib2/.grb2 naming is inconsistent in the wild). */
  /** First bytes of a local file (empty for remote/missing paths). */
  private def sniff(path: String, n: Int): Array[Byte] = {
    val f = new java.io.File(path)
    if (!f.isFile || f.length < n) return Array.emptyByteArray
    val in = new java.io.FileInputStream(f)
    try {
      val b = new Array[Byte](n)
      if (in.read(b) == n) b else Array.emptyByteArray
    } finally in.close()
  }

  /** HDF4 magic sniff — MODIS archives ship with assorted extensions, so
    * (like GRIB) the container bytes win over the name. */
  private def isHdf4(path: String): Boolean =
    java.util.Arrays.equals(sniff(path, 4), graft.raquet.Hdf4.Magic)

  /** Newer NASA products ship HDF5 containers under a `.hdf` name — those
    * must route to the HDF5/netCDF-4 reader, not the HDF4 one. */
  private def isHdf5(path: String): Boolean =
    java.util.Arrays.equals(sniff(path, 8), graft.raquet.Hdf5.Signature)

  private def gribEdition(path: String): Option[Int] = {
    val f = new java.io.File(path)
    if (!f.isFile || f.length < 8) return None
    val in = new java.io.FileInputStream(f)
    try {
      val b = new Array[Byte](8)
      if (in.read(b) != 8) None
      else if (b(0) == 'G' && b(1) == 'R' && b(2) == 'I' && b(3) == 'B')
        Some(b(7) & 0xFF)
      else None
    } finally in.close()
  }

  private def log2Exact(n: Int, what: String): Int = {
    val z = 31 - Integer.numberOfLeadingZeros(n)
    if (n <= 0 || (1 << z) != n) fail(s"$what must be a power of two, got $n")
    z
  }

  /** Dispatch — separated from `main` so specs drive it on a shared session. */
  def run(spark: SparkSession, args: Seq[String]): Unit = args.head match {
    case "convert" if args.tail.headOption.contains("imageserver") =>
      // the reference's `convert imageserver` (raquet/cli.py:546-640),
      // adapted to the template-endpoint S7 source: bbox + resolution
      // select the tile set, fetch is distributed
      val (pos, f) = parseArgs(args.tail.tail, Set("no-skip-empty"))
      val Seq(url, out) = expect(pos, 2,
        "convert imageserver <url-template> <out.parquet> --resolution Z " +
          "--bbox xmin,ymin,xmax,ymax [--bands N] [--block-size 256]")
      val zoom = f.getOrElse("resolution",
        fail("--resolution <zoom> is required for a template endpoint")).toInt
      val bb = f.getOrElse("bbox",
        fail("--bbox xmin,ymin,xmax,ymax is required")).split(",").map(_.trim.toDouble)
      if (bb.length != 4) fail("--bbox needs four comma-separated numbers")
      val meta = graft.sources.TileHttpSource.convert(spark, url, out,
        zoom = zoom, bbox = (bb(0), bb(1), bb(2), bb(3)),
        bands = f.getOrElse("bands", "3").toInt,
        blockSize = f.getOrElse("block-size", "256").toInt,
        skipEmpty = !f.contains("no-skip-empty"))
      println(s"converted $url -> $out (${meta.numBlocks} blocks)")
    case "convert" =>
      val (pos, f) = parseArgs(args.tail, Set("tile-stats"))
      val Seq(in, out) = expect(pos, 2, "convert <in.tif|in.nc> <out.parquet>")
      if (in.toLowerCase.endsWith(".hgt")) SrtmHgt.convert(spark, in, out,
        blockZoom = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size"),
        zoomStrategy = f.getOrElse("zoom-strategy", "auto"),
        tileStats = f.contains("tile-stats"),
        resampling = f.getOrElse("resampling", "near"),
        overviews = f.getOrElse("overviews", "auto"))
      else if (in.toLowerCase.endsWith(".hdr") ||
        (new java.io.File(in + ".hdr").isFile &&
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(in + ".hdr")), "US-ASCII")
            .trim.startsWith("ENVI"))) Envi.convert(spark, in, out,
        blockZoom = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size"),
        zoomStrategy = f.getOrElse("zoom-strategy", "auto"),
        tileStats = f.contains("tile-stats"),
        resampling = f.getOrElse("resampling", "near"),
        overviews = f.getOrElse("overviews", "auto"))
      else if (in.endsWith(".asc") || in.endsWith(".agr")) AaiGrid.convert(spark, in, out,
        blockZoom = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size"),
        zoomStrategy = f.getOrElse("zoom-strategy", "auto"),
        tileStats = f.contains("tile-stats"),
        resampling = f.getOrElse("resampling", "near"),
        overviews = f.getOrElse("overviews", "auto"))
      else if (gribEdition(in).nonEmpty) {
        // --param "d,c,n" (GRIB2 discipline/category/number) or
        // "p,lt,lv" (GRIB1 parameter/levelType/level)
        val param = f.get("param").map { s =>
          val ps = s.split(",").map(_.trim.toInt)
          require(ps.length == 3, "--param needs three comma-separated ints")
          (ps(0), ps(1), ps(2))
        }
        val bz = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size")
        val zs = f.getOrElse("zoom-strategy", "auto")
        val ts = f.contains("tile-stats")
        val rs = f.getOrElse("resampling", "near")
        val ov = f.getOrElse("overviews", "auto")
        if (gribEdition(in).contains(1))
          graft.raquet.Grib1.convert(spark, in, out, bz, zs, ts, rs, ov, param)
        else
          graft.raquet.Grib2.convert(spark, in, out, bz, zs, ts, rs, ov, param)
      }
      else if (new java.io.File(in).isDirectory && {
        val fs = new java.io.File(in).listFiles()
        fs != null && fs.exists(x => x.getName.toLowerCase.endsWith(".jp2") ||
          x.getName.toLowerCase.endsWith(".j2k"))
      }) {
        // granule autodetect: a directory of per-band JP2s (the Sentinel-2
        // granule layout) routes to the distributed multi-band convert —
        // per-FILE executor parallelism via transcodeFiles, bands meeting
        // on the BandStack block equi-join; name-sorted for a stable
        // band_1..band_N order
        val bands = new java.io.File(in).listFiles()
          .filter(x => x.getName.toLowerCase.endsWith(".jp2") ||
            x.getName.toLowerCase.endsWith(".j2k"))
          .map(_.getPath).sorted.toSeq
        graft.raquet.Jp2.convertGranule(spark, bands, out,
          blockZoom = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size"),
          zoomStrategy = f.getOrElse("zoom-strategy", "auto"),
          tileStats = f.contains("tile-stats"),
          resampling = f.getOrElse("resampling", "near"),
          overviews = f.getOrElse("overviews", "auto"),
          nodata = f.get("nodata").map(_.toDouble))
      }
      else if (in.toLowerCase.endsWith(".jp2") ||
        in.toLowerCase.endsWith(".j2k")) graft.raquet.Jp2.convert(spark, in, out,
        blockZoom = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size"),
        zoomStrategy = f.getOrElse("zoom-strategy", "auto"),
        tileStats = f.contains("tile-stats"),
        resampling = f.getOrElse("resampling", "near"),
        overviews = f.getOrElse("overviews", "auto"),
        nodata = f.get("nodata").map(_.toDouble))
      else if (isHdf4(in) ||
        ((in.toLowerCase.endsWith(".hdf") || in.toLowerCase.endsWith(".hdf4"))
          && !isHdf5(in))) {
        // --field NAME converts one data field; --fields a,b (or "all")
        // stacks several into one multi-band dataset
        val bz = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size")
        val zs = f.getOrElse("zoom-strategy", "auto")
        val ts = f.contains("tile-stats")
        val rs = f.getOrElse("resampling", "near")
        val ov = f.getOrElse("overviews", "auto")
        // generic convert flags the HDF4 grid path honors — and loud
        // failure for the ones it doesn't, instead of silently dropping
        val mz = f.get("min-zoom").map(_.toInt)
        val rgb = f.getOrElse("row-group-bytes", "0").toLong
        if (f.contains("target-size"))
          fail("--target-size is not supported for HDF4 inputs")
        if (f.contains("nodata"))
          fail("--nodata is not supported for HDF4 inputs (the _FillValue " +
            "attribute / chunked-header fill in the file governs)")
        if (graft.raquet.Hdf4Swath.isSwath(in)) {
          // SWATH products (MODIS L1B/L2): geolocation-array warp;
          // --zoom pins the target zoom, else resolution-matched auto.
          // Loud-fail every generic convert flag this path does not honor
          // (same policy as --target-size/--nodata above): silently
          // accepting them would ship a dataset the user didn't ask for.
          if (f.contains("fields"))
            fail("swath convert takes one --field at a time")
          if (f.contains("min-zoom"))
            fail("--min-zoom is not supported for swath inputs (pyramid " +
              "depth follows the warp zoom; use --zoom to pin it)")
          if (f.contains("block-size") && f("block-size") != "256")
            fail("--block-size is fixed at 256 for swath inputs")
          if (f.contains("zoom-strategy"))
            fail("--zoom-strategy is not supported for swath inputs " +
              "(resolution-matched auto; use --zoom to pin)")
          if (f.contains("resampling"))
            fail("--resampling is not supported for swath inputs " +
              "(geolocation-array warp is nearest-sample by construction)")
          graft.raquet.Hdf4Swath.convert(spark, in, out,
            field = f.get("field"), tileStats = ts,
            zoomOverride = f.get("zoom").map(_.toInt),
            rowGroupBytes = rgb, overviews = ov,
            band = f.getOrElse("band", "0").toInt)
          println(s"converted $in -> $out (swath)")
          return
        }
        f.get("fields") match {
          case Some(fs) =>
            val names = if (fs == "all") Seq.empty
              else fs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            graft.raquet.Hdf4.convertFields(spark, in, out, names, bz, zs,
              ts, rs, ov, rowGroupBytes = rgb, minZoomOverride = mz)
          case None =>
            graft.raquet.Hdf4.convert(spark, in, out, bz, zs, ts, rs, ov,
              field = f.get("field"), rowGroupBytes = rgb,
              minZoomOverride = mz)
        }
      }
      else if (in.endsWith(".nc") || in.endsWith(".nc4") ||
        isHdf5(in) ||
        graft.raquet.Zarr.isStore(in)) NetCdf.convert(spark, in, out,
        blockZoom = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size"),
        zoomStrategy = f.getOrElse("zoom-strategy", "auto"),
        tileStats = f.contains("tile-stats"),
        resampling = f.getOrElse("resampling", "near"),
        overviews = f.getOrElse("overviews", "auto"),
        minZoomOverride = f.get("min-zoom").map(_.toInt),
        rowGroupBytes = f.getOrElse("row-group-bytes", "0").toLong)
      else GeoTiff.convert(spark, in, out,
        blockZoom = log2Exact(f.getOrElse("block-size", "256").toInt, "--block-size"),
        zoomStrategy = f.getOrElse("zoom-strategy", "auto"),
        tileStats = f.contains("tile-stats"),
        resampling = f.getOrElse("resampling", "near"),
        overviews = f.getOrElse("overviews", "auto"),
        minZoomOverride = f.get("min-zoom").map(_.toInt),
        targetFileBytes = f.getOrElse("target-size", "0").toLong,
        rowGroupBytes = f.getOrElse("row-group-bytes", "0").toLong,
        compression = f.getOrElse("compression", "gzip"),
        bandLayout = f.getOrElse("band-layout", "sequential"),
        quality = f.get("quality").map(_.toInt),
        overviewResampling = f.getOrElse("overview-resampling", "average"))
      println(s"converted $in -> $out")
    case "export" =>
      val (pos, f) = parseArgs(args.tail, Set("no-overviews"))
      val Seq(in, out) = expect(pos, 2, "export <in.parquet> <out.tif>")
      GeoTiff.export(spark, in, out, overviews = !f.contains("no-overviews"))
      println(s"exported $in -> $out")
    case "inspect" =>
      val (pos, _) = parseArgs(args.tail, Set.empty)
      val Seq(in) = expect(pos, 1, "inspect <file.parquet>")
      Maintenance.inspect(spark, in).show(truncate = false)
    case "validate" =>
      val (pos, _) = parseArgs(args.tail, Set.empty)
      val Seq(in) = expect(pos, 1, "validate <file.parquet>")
      val checks = Maintenance.validate(spark, in).collect()
      checks.foreach(r => println(
        s"${if (r.getBoolean(1)) "PASS" else "FAIL"} ${r.getString(0)}: ${r.getString(2)}"))
      if (checks.exists(!_.getBoolean(1))) fail("validation failed")
    case "split-zoom" =>
      val (pos, _) = parseArgs(args.tail, Set.empty)
      val Seq(in, out) = expect(pos, 2, "split-zoom <in.parquet> <out_dir>")
      Maintenance.splitZoom(spark, in, out)
      println(s"split $in by zoom -> $out")
    case "partition" =>
      val (pos, f) = parseArgs(args.tail, Set.empty)
      val Seq(in, out) = expect(pos, 2, "partition <in.parquet> <out_dir>")
      val pz = f.getOrElse("partition-zoom", "auto") match {
        case "auto" => -1
        case n => n.toInt
      }
      Maintenance.partition(spark, in, out, partZoom = pz,
        targetBytes = f.getOrElse("target-size-mb", "128").toLong << 20)
      println(s"partitioned $in -> $out")
    case "mosaic" =>
      val (pos, _) = parseArgs(args.tail, Set.empty)
      val Seq(a, b, out) = expect(pos, 3, "mosaic <a.parquet> <b.parquet> <out.parquet>")
      graft.raquet.Mosaic.mosaicToFile(spark, a, b, out)
      println(s"mosaicked $a over $b -> $out")
    case "tile-cache" =>
      val (pos, _) = parseArgs(args.tail, Set.empty)
      val Seq(in, out) = expect(pos, 2, "tile-cache <in.parquet> <out_dir>")
      val n = graft.sources.TileCache.export(spark, in, out)
      println(s"rendered $n tiles -> $out")
    case "mvt" =>
      val (pos, opts) = parseArgs(args.tail, Set.empty)
      val Seq(in, out) = expect(pos, 2,
        "mvt <zones.parquet> <out.pmtiles> [--zoom N] [--extent N] [--layer name]")
      val zones = spark.read.parquet(in)
      val n = graft.sources.Mvt.toPmTiles(spark, zones,
        opts.get("zoom").map(_.toInt).getOrElse(8), out,
        opts.get("extent").map(_.toInt).getOrElse(4096),
        opts.getOrElse("layer", "zones"))
      println(s"rendered $n vector tiles -> $out")
    case "compact" =>
      val (pos, opts) = parseArgs(args.tail, Set.empty)
      val Seq(dir) = expect(pos, 1, "compact <dataset_dir> [--max-rows N]")
      val rep = graft.raquet.Maintenance.compact(spark, dir,
        opts.get("max-rows").map(_.toLong).getOrElse(0L))
      println(s"compacted ${rep.filesBefore} -> ${rep.filesAfter} files (${rep.rows} rows)")
    case "stamp-footer" =>
      // retrofit the spec's footer contract (raquet:version KV +
      // SortingColumn) onto files written before the stamp existed
      val (pos, _) = parseArgs(args.tail, Set.empty)
      val Seq(in) = expect(pos, 1, "stamp-footer <file.parquet|dataset_dir>")
      graft.raquet.ParquetFooter.stampAll(in)
      println(s"stamped $in")
    case "pmtiles" =>
      val (pos, _) = parseArgs(args.tail, Set.empty)
      val Seq(in, out) = expect(pos, 2, "pmtiles <in.parquet> <out.pmtiles>")
      val n = graft.sources.TileCache.exportPmTiles(spark, in, out)
      println(s"published $n tiles -> $out")
    case "geoparquet-convert" =>
      // both directions, autorouted on the input's `geo` footer key (the
      // same detection GDAL/GeoPandas use): a GeoParquet input bridges its
      // primary geometry to the engine's WKT surface; a plain parquet
      // input with a WKT column writes spec GeoParquet (footer-stamped
      // per part file, optional PROJJSON --crs-file passthrough)
      val (pos, f) = parseArgs(args.tail, Set.empty)
      val Seq(in, out) = expect(pos, 2,
        "geoparquet-convert <in.parquet> <out.parquet> [--wkt-col wkt] " +
          "[--geometry-col geometry] [--types Polygon,...] [--crs-file f.json]")
      if (graft.sources.GeoParquet.isGeoParquet(in)) {
        val (df, gi) = graft.sources.GeoParquet.read(spark, in)
        df.drop(gi.primaryColumn).write.mode("overwrite").parquet(out)
        println(s"converted $in (GeoParquet '${gi.primaryColumn}') -> $out " +
          s"(WKT column '${gi.primaryColumn}_wkt')")
      } else {
        val wktCol = f.getOrElse("wkt-col", "wkt")
        val df = spark.read.parquet(in)
        if (!df.columns.contains(wktCol))
          fail(s"$in: no '$wktCol' column (set --wkt-col; columns: " +
            df.columns.mkString(", ") + ")")
        graft.sources.GeoParquet.write(df, out, wktCol,
          geometryCol = f.getOrElse("geometry-col", "geometry"),
          geometryTypes = f.getOrElse("types", "Polygon")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          crs = f.get("crs-file").map(p => java.nio.file.Files.readString(
            java.nio.file.Paths.get(p))))
        println(s"converted $in -> $out (GeoParquet)")
      }
    case other => fail(s"unknown command '$other'\n$Usage")
  }

  private def expect(pos: Seq[String], n: Int, usage: String): Seq[String] = {
    if (pos.size != n) fail(s"expected: $usage")
    pos
  }
}
