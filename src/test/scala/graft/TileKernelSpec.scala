package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodegenContext,
  CodeGenerator}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{BpeKernel, BpeTokens, CfToTimestamp, IvfCodebook,
  QuadbinIntersects, RqComposite, RqPolyfill, TileKernelExpression, WordPieceTokens}
import org.apache.spark.sql.types._

import graft.functions.GraftExtensions
import graft.functions.GraftFunctions._
import graft.operators.Focal
import graft.quadbin.Quadbin
import graft.raquet.{Audio, BandKernel, Downsample, Multimodal, Png, RaquetIO, RaquetMetadata,
  WebPAnim}

/** The per-row expression template ([[TileKernelExpression]]): every
  * template expression gives the same value through whole-stage generated
  * code as through `eval`, nulls included, a non-finite plan-time constant
  * still compiles, plan-time state ships built, and no other expression
  * grows its own `doGenCode`. */
class TileKernelSpec extends SparkSpec {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"
  private lazy val meta = RaquetIO.readMetadata(spark, fixture)
  private lazy val k1 = BandKernel(meta, "band_1")
  private val labKernel = BandKernel("float64", Double.NaN, 16, 16, 1.0, 0.0)

  // gradient16: zoom-6 tiles x 32..39 (5.625° each from 0° lon), y 24..31;
  // the clip polygon covers the western tiles only, so the rest miss it
  private val clipWkt = "POLYGON((3 3, 14 3, 14 30, 3 30, 3 3))"
  private val zoneWkt = "POLYGON((1 1, 30 1, 30 38, 1 38, 1 1))"
  private val nullBand = Quadbin.tileToCell(34, 26, 6)
  private val nullSide = Quadbin.tileToCell(35, 27, 6)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def generated[T](body: => T): T = withConf(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    // a stage that does not compile fails instead of running interpreted
    "spark.sql.codegen.fallback" -> "false")(body)

  private def interpreted[T](body: => T): T = withConf(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** Exact rendering: blobs byte by byte, doubles by their bits (a NaN
    * equals itself, -0.0 differs from 0.0). */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(canon).toSeq.sorted

  /** The fixture's tiles with every input a kernel takes, written once:
    * a null band in one tile, a null side of `rq_composite` in another,
    * null halo lists on odd columns, strip-only convolution inputs (no own
    * child: a null kernel result) on odd columns. */
  private lazy val inputs: String = {
    val dir = Files.createTempDirectory("tile-kernels").resolve("t").toString
    val (w, h) = (meta.blockWidth, meta.blockHeight)
    val r = Downsample.ConvWeights("cubic").length / 2 - 1
    val base = spark.read.parquet(fixture).filter(col("block") =!= 0L).select(
      col("block"), col("band_1"), col("band_2"),
      quadbin_tile_x(col("block")).as("tx"), quadbin_tile_y(col("block")).as("ty"),
      rq_decode(col("band_1"), k1).as("dec"),
      rq_region_label(col("block"), col("band_1"), meta, "band_1").as("labels"),
      rq_region_sizes(col("block"), col("band_1"), meta, "band_1").as("sizes"),
      rq_chamfer_seed(col("band_1"), meta, "band_1", 100.0).as("seed"),
      rq_child_tile(col("band_1"), lit(0), meta, "band_1").as("child0"),
      rq_child_tile(col("band_1"), lit(3), meta, "band_1").as("child3"))
    val halo = array(Seq(
      (-1, 0) -> s"transform(sequence(0, ${h - 1}), r -> dec[r * $w + ${w - 1}])",
      (1, 0) -> s"transform(sequence(0, ${h - 1}), r -> dec[r * $w])",
      (0, -1) -> s"slice(dec, ${w * (h - 1) + 1}, $w)",
      (0, 1) -> s"slice(dec, 1, $w)",
      (1, 1) -> "array(dec[0])").map { case ((dx, dy), vals) =>
        struct(lit(dx).as("dx"), lit(dy).as("dy"), expr(vals).as("vals"))
      }: _*)
    def odd(c: Column) = c % 2L === 1L
    def steps(key: String) = array(Seq(0.0 -> "band_1", 1.0 -> "child0", 2.5 -> "child3").map {
      case (t, b) => struct(lit(t).as(key), col(b).as("b"))
    }: _*)
    base.select(
      col("block"),
      when(col("block") === nullBand, lit(null)).otherwise(col("band_1")).as("band_1"),
      when(col("block") === nullSide, lit(null)).otherwise(col("band_1")).as("band_1b"),
      col("band_2"), col("labels"), col("seed"),
      when(odd(col("tx")), lit(null)).otherwise(halo).as("halos"),
      ((col("tx") - 32L).cast("double") * 5.625 + 2.0).as("lon"),
      lit(20.0).as("lat"),
      when(odd(col("tx")), lit(zoneWkt)).otherwise(lit(clipWkt)).as("wkt"),
      (col("tx") % 4L).cast("int").as("quadrant"),
      array(
        struct(lit(1L).as("pid"), (col("tx") * w + 3L).as("px"), (col("ty") * h + 5L).as("py"),
          lit(10.0).as("v")),
        struct(lit(2L).as("pid"), (col("tx") * w + 12L).as("px"), (col("ty") * h + 9L).as("py"),
          lit(-4.5).as("v"))).as("points"),
      array(struct(lit(7.0).as("value"), lit(zoneWkt).as("wkt"))).as("zones"),
      array(struct(lit(1L).as("zid"), lit(clipWkt).as("wkt")),
        struct(lit(2L).as("zid"), lit(zoneWkt).as("wkt"))).as("zzones"),
      steps("t").as("stack"), steps("x").as("series"),
      expr("transform(sizes, s -> named_struct('l', s.lab, 'o', cast(s.n as double)))").as("kv"),
      expr("transform(sizes, s -> named_struct('l', s.lab, 'o', s.v, 'o2', cast(s.n as double)))")
        .as("kv2"),
      when(odd(col("tx")), array(struct(lit(0).as("sx"), lit(0).as("sy"), lit(w).as("sw"),
        lit(1).as("sh"), lit(null).cast("binary").as("blob"), slice(col("dec"), 1, w).as("vals"))))
        .otherwise(array(struct(lit(r).as("sx"), lit(r).as("sy"), lit(w).as("sw"),
          lit(h).as("sh"), col("band_1").as("blob"), lit(null).cast("array<double>").as("vals"))))
        .as("contribs"))
      .write.parquet(dir)
    dir
  }

  /** The SQL-callable kernels, by their name in [[GraftExtensions.injected]]. */
  private def sqlCalls: Map[String, String] = {
    val mj = RaquetMetadata.toJson(meta)
    Map(
      "rq_decode" -> s"rq_decode(band_1, '$mj', 'band_1')",
      "rq_inflate" -> "rq_inflate(band_1)",
      "rq_summary_stats" -> s"rq_summary_stats(band_1, '$mj', 'band_1')",
      "rq_raster_value" -> s"rq_raster_value(band_1, block, lon, lat, '$mj', 'band_1')",
      "rq_clip_stats" -> s"rq_clip_stats(band_1, block, '$mj', 'band_1', '$clipWkt')",
      "rq_normalized_difference" ->
        s"rq_normalized_difference(band_1, band_2, '$mj', 'band_1', 'band_2')",
      "rq_clip" -> s"rq_clip(band_1, block, '$mj', 'band_1', '$clipWkt')",
      "rq_normalized_difference_stats" ->
        s"rq_normalized_difference_stats(band_1, band_2, '$mj', 'band_1', 'band_2')",
      "rq_reclassify" -> s"rq_reclassify(band_1, '$mj', 'band_1', '64,128,192', '10,20,30,40')",
      "rq_composite" -> s"rq_composite(band_1, band_1b, '$mj', 'band_1')",
      "rq_contour" -> s"rq_contour(band_1, '$mj', 'band_1', 100.5)",
      "rq_histogram" -> s"rq_histogram(band_1, '$mj', 'band_1', -0.5, 255.5, 16)",
      "rq_rasterize" -> s"rq_rasterize(block, zones, '$mj', 'band_1')",
      "rq_band_math" -> s"rq_band_math(band_2, band_1, '$mj', 'band_2', 'band_1', 'sub')",
      "rq_band_math_stats" ->
        s"rq_band_math_stats(band_2, band_1, '$mj', 'band_2', 'band_1', 'ratio')",
      "rq_clip_histogram" ->
        s"rq_clip_histogram(band_1, block, wkt, '$mj', 'band_1', -0.5, 255.5, 16)")
  }

  /** Injected functions whose builder yields no template expression. */
  private val notTemplate = Set("quadbin_from_tile", "quadbin_zoom", "quadbin_tile_x",
    "quadbin_tile_y", "quadbin_ancestor", "quadbin_from_lonlat", "quadbin_bounds",
    "quadbin_is_valid", "rq_stats_merge", "rq_temporal_composite", "topk_sketch", "bloom_agg",
    "bloom_might_contain")

  /** The classes in the main sources that may override `doGenCode`: the
    * template itself, the expressions whose generated code is their point,
    * and those whose per-row work is one static call on primitives. */
  private val ownCodegen = Set("TileKernelExpression", "ParamLit", "QuadbinInRanges",
    "QuadbinFromTile", "QuadbinZoom", "QuadbinTileX", "QuadbinTileY", "QuadbinAncestor",
    "QuadbinFromLonLat", "QuadbinBounds", "QuadbinIsValid", "BloomMightContain")

  // the second input table: image, audio, geometry, CF-time, text and
  // vector inputs; one row null in every column, one with only the
  // secondary (int/double) inputs null
  private val (imgW, imgH) = (8, 6)
  private val polygon = "POLYGON((2 2, 12 2, 12 9, 2 9, 2 2))"
  private val cfUnits = "days since 2000-01-01"
  private val merges = "a b,ab c,t h,th e"
  private val vocab = Seq("the", "##re", "ab", "##c", "a", "b", "c", "t", "##h", "##e")
    .mkString(BpeKernel.RuleSep.toString)
  private val codebook = IvfCodebook(Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(5.0, -1.0)))

  private lazy val media: String = {
    val dir = Files.createTempDirectory("media-kernels").resolve("t").toString
    def pixels(seed: Int, ch: Int) =
      Array.tabulate(imgW * imgH * ch)(i => ((i * 37 + seed * 91) % 251).toByte)
    def frames(seed: Int) = (0 until 3).map(f => pixels(seed * 5 + f, 1))
    def samples(seed: Int) = Array.tabulate(64)(i => ((i * 331 + seed * 97) % 4001) - 2000)
    def row(id: Long): Row = {
      val k = id.toInt
      val px = pixels(k, 3)
      val png = Png.encode(pixels(k, 1).map(_ & 0xFFL), imgW, imgH, 8)
      val wkt = Seq(polygon, "MULTIPOLYGON(((0 0, 4 0, 4 3, 0 0)), ((6 6, 9 6, 9 9, 6 9, 6 6)))",
        "POINT(3 4)", polygon)(k - 1)
      Row(id, Multimodal.encodeJpeg(px, imgW, imgH, 3), png, px,
        Multimodal.encodeWebP(px, imgW, imgH, 3),
        WebPAnim.encodeAnimation(frames(k), imgW, imgH, 1, 40), frames(k),
        Audio.encode(samples(k), 8000, 2, 16), samples(k).toSeq,
        Seq(0, 7, 128, 255, k), wkt, graft.geo.GeoJson.format(graft.geo.Wkt.parse(wkt)),
        graft.geo.Wkb.write(graft.geo.Wkt.parse(wkt)), 3652.25 * k - 10.5,
        Seq("the there abc", "cab ba", "thee", "")(k - 1), Seq(0.4 * k, -0.3 * k),
        Quadbin.tileToCell(17 + k, 15, 5),
        if (k == 4) null else Seq(k, k + 4, k * 2 - 1, 1)(k - 1) % 9,
        if (k == 4) null else (k % 3), if (k == 4) null else 4 + k,
        if (k == 4) null else 3 + k, if (k == 4) null else 4 + k % 2,
        if (k == 4) null else 1.5 * k + 2.0, if (k == 4) null else 3.0 + k)
    }
    val fields = Seq("id" -> LongType, "jpeg" -> BinaryType, "png" -> BinaryType,
      "px" -> BinaryType, "webp" -> BinaryType, "anim" -> BinaryType,
      "frames" -> ArrayType(BinaryType), "wav" -> BinaryType, "samples" -> ArrayType(IntegerType),
      "u8" -> ArrayType(IntegerType), "wkt" -> StringType, "geojson" -> StringType,
      "wkb" -> BinaryType, "cf" -> DoubleType, "text" -> StringType,
      "vec" -> ArrayType(DoubleType), "block" -> LongType, "orient" -> IntegerType,
      "idx" -> IntegerType, "w2" -> IntegerType, "h2" -> IntegerType, "zoom" -> IntegerType,
      "lon" -> DoubleType, "lat" -> DoubleType)
    val schema = StructType(fields.map { case (n, t) => StructField(n, t) })
    // rows 1-3 full, row 4 with null secondary inputs, row 5 null everywhere
    val rows = (1L to 4L).map(row) :+ Row.fromSeq(5L +: Seq.fill(fields.length - 1)(null))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.parquet(dir)
    dir
  }

  /** The SQL-callable template expressions over [[media]], by their name in
    * [[GraftExtensions.injected]]. */
  private val mediaSqlCalls: Map[String, String] = Map(
    "st_quadbin_intersects" -> s"st_quadbin_intersects(block, '$polygon')",
    "st_polyfill" -> s"st_polyfill('$polygon', zoom, 'intersects')",
    "st_contains" -> "st_contains(wkt, lon, lat)",
    "cf_to_timestamp" -> s"cf_to_timestamp(cf, '$cfUnits', 'standard')",
    "mm_image_stats" -> "mm_image_stats(jpeg)",
    "mm_webp_encode" -> s"mm_webp_encode(px, $imgW, $imgH, 3)",
    "mm_webp_pixels" -> "mm_webp_pixels(webp, 3)",
    "mm_webp_lossy" -> s"mm_webp_lossy(px, $imgW, $imgH, 3, 75)",
    "st_area" -> "st_area(wkt)",
    "st_perimeter" -> "st_perimeter(wkt)",
    "st_centroid" -> "st_centroid(wkt)",
    "st_geom_from_wkb" -> "st_geom_from_wkb(wkb)",
    "st_as_wkb" -> "st_as_wkb(wkt)",
    "st_geom_from_geojson" -> "st_geom_from_geojson(geojson)",
    "st_as_geojson" -> "st_as_geojson(wkt)",
    "st_simplify" -> "st_simplify(wkt, 2.5)",
    "st_npoints" -> "st_npoints(wkt)",
    "rq_bpe_tokens" -> s"rq_bpe_tokens(text, '$merges')",
    "rq_wordpiece_tokens" -> s"rq_wordpiece_tokens(text, '$vocab')",
    "mm_u8_sum" -> "mm_u8_sum(px)",
    "mm_u8_pack" -> "mm_u8_pack(u8)",
    "mm_exif_orientation" -> "mm_exif_orientation(jpeg)",
    "mm_orient" -> s"mm_orient(px, orient, $imgW, $imgH, 3)",
    "mm_webp_anim" -> s"mm_webp_anim(frames, $imgW, $imgH, 1, 40)",
    "mm_webp_anim_info" -> "mm_webp_anim_info(anim)",
    "mm_webp_frame" -> "mm_webp_frame(anim, idx, 1)",
    "mm_wav_encode" -> "mm_wav_encode(samples, 8000, 2, 16)",
    "mm_wav_info" -> "mm_wav_info(wav)",
    "mm_wav_stats" -> "mm_wav_stats(wav, 1)",
    "mm_wav_resample" -> "mm_wav_resample(wav, 3000)",
    "mm_wav_frames" -> "mm_wav_frames(wav, 8, 4, 0)",
    "mm_wav_trim" -> "mm_wav_trim(wav, 1500)",
    "mm_wav_fingerprint" -> "mm_wav_fingerprint(wav, 8, 4, 1)",
    "mm_dhash" -> s"mm_dhash(px, ${imgW * 3}, $imgH)")

  /** The template expressions over [[media]] only the DataFrame API
    * reaches, and second forms of SQL ones. */
  private def mediaDslCalls: Seq[Column] = Seq(
    mm_resize(col("px"), col("w2"), col("h2"), imgW, imgH, 3),
    mm_jpeg_pixels(col("png")),
    mm_jpeg_pixels(col("jpeg")),
    mm_deinterleave(col("px"), 1, 3),
    vec_ivf_cell(col("vec"), codebook),
    vec_ivf_probe_cells(col("vec"), codebook, 2),
    st_polyfill_col(col("wkt"), col("zoom")),
    cf_to_timestamp(col("cf"), cfUnits, "360_day"))

  /** The kernels only the DataFrame API reaches. */
  private def dslCalls: Seq[Column] = {
    val (b1, b2, halos) = (col("band_1"), col("band_2"), col("halos"))
    val (block, points, stack) = (col("block"), col("points"), col("stack"))
    Seq(
      rq_translate(b1, meta, "band_1", "int16", -1.0, 2.0, -3.0),
      rq_brovey(b1, b1, b2, meta, "band_1", "band_1", "band_2"),
      rq_focal_contour(b1, halos, meta, "band_1", 100.5),
      rq_region_label(block, b1, meta, "band_1"),
      rq_region_sizes(block, b1, meta, "band_1"),
      rq_region_neighbors(block, b1, meta, "band_1"),
      rq_region_strips(block, b1, meta, "band_1"),
      rq_region_analysis(block, b1, meta, "band_1", withNeighbors = true, withLabel = true),
      rq_label_remap(col("labels"), col("kv"), labKernel, asLong = true),
      rq_label_remap2(col("labels"), col("kv2"), labKernel),
      rq_region_segments(block, b1, halos, meta, "band_1"),
      rq_idw_grid(block, points, k1, 6L),
      rq_mask_range(b1, k1, 50.0, 150.0),
      rq_temporal_fill(stack, k1),
      rq_theilsen_mk(stack, k1),
      rq_grid_stat(block, points, k1, 6L, 0),
      rq_child_tile(b1, col("quadrant"), meta, "band_1"),
      rq_clip_stats_col(b1, block, col("wkt"), meta, "band_1"),
      rq_temporal_fit(col("series"), meta, "band_1"),
      rq_zonal_histograms(b1, block, col("zzones"), meta, "band_1", -0.5, 255.5, 16),
      rq_focal_mean(b1, halos, meta, "band_1"),
      rq_fill_nodata(b1, halos, meta, "band_1"),
      rq_chamfer_seed(b1, meta, "band_1", 100.0),
      rq_chamfer_relax(col("seed"), halos, Focal.outMeta(meta, Seq("band_1")), "band_1"),
      rq_focal_slope(b2, halos, meta, "band_2", 10.0, zt = true),
      rq_focal_hillshade_md(b1, halos, meta, "band_1", 10.0, 45.0),
      rq_focal_terrain(b1, halos, meta, "band_1", 10.0, 315.0, 45.0),
      rq_color_relief(b1, meta, "band_1", Seq(0.0, 128.0, 255.0),
        Seq((0, 0, 0), (128, 64, 32), (255, 255, 255))),
      rq_focal_tpi(b1, halos, meta, "band_1"),
      rq_conv_parent(col("contribs"), meta, "band_1", "cubic"))
  }

  private def kernelsOf(df: DataFrame): Seq[TileKernelExpression] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case t: TileKernelExpression => t
    }))

  /** The text of every Scala source under `src/main`. */
  private def mainSources: Seq[String] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).map(Files.readString).toList
    finally files.close()
  }

  /** Every case class in the main sources that is a template expression. */
  private def templateClasses: Set[Class[_]] = mainSources.flatMap { src =>
    val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1))
    "case class (\\w+)".r.findAllMatchIn(src).flatMap { m =>
      pkg.flatMap(k => Try(Class.forName(s"$k.${m.group(1)}")).toOption)
    }
  }.filter(classOf[TileKernelExpression].isAssignableFrom).toSet

  /** Runs each case over `input` generated and interpreted: it must hold a
    * template expression, run in whole-stage code and give the same rows
    * both ways; `nullRow` checks a row a null input must give null.
    * Returns the template classes the cases reached. */
  private def generatedEqualsInterpreted(input: DataFrame, key: String, rowCount: Int,
      cases: Seq[(String, Column)], nullRow: TileKernelExpression => Option[String])
      : Set[Class[_]] = cases.flatMap { case (name, c) =>
    val query = () => input.select(col(key), c.as("v"))
    val kernels = kernelsOf(query())
    assert(kernels.nonEmpty, s"$name is not a template expression")
    val (gen, plan) = generated {
      val df = query()
      (rows(df), df.queryExecution.executedPlan)
    }
    val inCodegen = plan.collect { case w: WholeStageCodegenExec => w }.exists(_.child
      .find(_.expressions.exists(_.find(_.isInstanceOf[TileKernelExpression]).isDefined))
      .isDefined)
    assert(inCodegen, s"$name did not run in whole-stage code:\n$plan")
    val interp = interpreted(rows(query()))
    assert(gen.length == rowCount, name)
    assert(gen == interp, s"$name: generated and interpreted values differ")
    nullRow(kernels.head).foreach { r =>
      assert(interp.contains(r), s"$name: the null input row did not give null")
    }
    kernels.map(_.getClass)
  }.toSet

  test("every tile kernel gives the same value generated as interpreted, nulls included") {
    val injected = GraftExtensions.injected.map(_._1)
    val unclassified = injected.filterNot(n =>
      sqlCalls.contains(n) || mediaSqlCalls.contains(n) || notTemplate(n))
    assert(unclassified.isEmpty, s"injected functions with no case here: $unclassified")
    // a kernel over band_1 meets its null band row (rq_composite takes it
    // as an optional input)
    val tiles = generatedEqualsInterpreted(spark.read.parquet(inputs), "block", 85,
      injected.filter(sqlCalls.contains).map(n => n -> expr(sqlCalls(n))) ++
        dslCalls.map(c => c.toString -> c),
      top =>
        if (!top.isInstanceOf[RqComposite] &&
            top.children.exists(_.references.exists(_.name == "band_1")))
          Some(s"{$nullBand,null}")
        else None)
    // every media expression meets its all-null row
    val media = generatedEqualsInterpreted(spark.read.parquet(this.media), "id", 5,
      injected.filter(mediaSqlCalls.contains).map(n => n -> expr(mediaSqlCalls(n))) ++
        mediaDslCalls.map(c => c.toString -> c),
      _ => Some("{5,null}"))
    val missing = templateClasses -- tiles -- media
    assert(missing.isEmpty, s"template expressions with no case: ${missing.map(_.getSimpleName)}")
  }

  test("only the template and the keep-set override doGenCode") {
    val owners = mainSources.flatMap { src =>
      val decls = "(?m)^\\s*(?:final |sealed |abstract )*(?:case class|class|object|trait) (\\w+)"
        .r.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      "def doGenCode\\(".r.findAllMatchIn(src).map { m =>
        decls.takeWhile(_._1 < m.start).last._2
      }
    }
    val grown = owners.toSet -- ownCodegen
    assert(grown.isEmpty, s"hand-written doGenCode outside the template: $grown")
  }

  test("a null in an optional input reaches the kernel, a null in a required one gives null") {
    val input = spark.read.parquet(inputs)
    val composite = expr(sqlCalls("rq_composite"))
    val got = input.select(col("block"), col("band_1"), col("band_1b"), composite.as("c"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // one side null: the other side's blob passes through unchanged
    assert(got(nullBand).isNullAt(1) && !got(nullBand).isNullAt(3))
    assert(java.util.Arrays.equals(got(nullBand).getAs[Array[Byte]](3),
      got(nullBand).getAs[Array[Byte]](2)))
    assert(java.util.Arrays.equals(got(nullSide).getAs[Array[Byte]](3),
      got(nullSide).getAs[Array[Byte]](1)))
    // a null halo list is an empty halo, not a null result; a null band is
    val focal = input.select(col("block"), col("halos").isNull,
      rq_focal_mean(col("band_1"), col("halos"), meta, "band_1").isNull).collect()
    assert(focal.exists(r => r.getBoolean(1) && !r.getBoolean(2)))
    assert(focal.filter(_.getLong(0) == nullBand).forall(_.getBoolean(2)))
    assert(focal.count(_.getBoolean(2)) == 1)
  }

  test("non-finite kernel constants compile into whole-stage code") {
    // a per-row geometry, so st_simplify is not constant-folded away
    val wkt = when(col("block") % 2L === 0L, lit(clipWkt)).otherwise(lit(zoneWkt))
    val query = () => spark.read.parquet(fixture).filter(col("block") =!= 0L).select(
      col("block"),
      rq_mask_range(col("band_1"), k1, 50.0, Double.PositiveInfinity).as("m"),
      rq_histogram(col("band_1"), meta, "band_1", Double.NegativeInfinity, 255.5, 16).as("h"),
      st_simplify(wkt, Double.PositiveInfinity).as("s"),
      st_simplify(wkt, Double.NaN).as("n"))
    val (gen, plan) = generated {
      val df = query()
      (rows(df), df.queryExecution.executedPlan)
    }
    val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
    assert(stages.nonEmpty)
    stages.foreach { case (subtree, src, _) =>
      assert(Try(CodeGenerator.compile(new CodeAndComment(src, Map.empty))).isSuccess,
        s"stage does not compile: $subtree")
    }
    assert(gen == interpreted(rows(query())))
  }

  test("plan-time state is built on the driver and ships with the generated code") {
    val polyfill = "POLYGON((0 0, 40 0, 40 30, 0 30, 0 0))"
    def in(t: DataType) = BoundReference(0, t, nullable = true)
    val cases: Seq[(String, Expression)] = Seq(
      "cf_to_timestamp" -> CfToTimestamp(in(DoubleType), cfUnits, "standard"),
      "rq_bpe_tokens" -> BpeTokens(in(StringType), merges),
      "rq_wordpiece_tokens" -> WordPieceTokens(in(StringType), vocab),
      "st_polyfill" -> RqPolyfill(polyfill, in(IntegerType), "intersects"),
      "st_quadbin_intersects" -> QuadbinIntersects(in(LongType), polyfill))
    def bytes(e: Expression): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(e)
      out.close()
      bos.size()
    }
    cases.foreach { case (name, e) =>
      val before = bytes(e)
      // binding the object into generated code builds its state, so the
      // serialized object (what a task receives) carries it
      e.genCode(new CodegenContext)
      assert(bytes(e) > before, s"$name: no plan-time state shipped with the object")
    }
  }

  test("the tokenizers keep their own input-type errors and are not cast") {
    for ((fn, spec) <- Seq("rq_bpe_tokens" -> merges, "rq_wordpiece_tokens" -> vocab)) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).selectExpr(s"$fn(id, '$spec')").collect())
      assert(e.getMessage.contains(s"$fn expects STRING, got bigint"), e.getMessage)
    }
  }
}
