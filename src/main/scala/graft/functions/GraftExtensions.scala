package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.raquet.{BandKernel, BandPairKernel, RaquetMetadata}

/** Session-extension injection point: makes the whole graft function family
  * available in any session configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions())`, which is what
  * [[graft.SessionDefaults.session]] does) — the standard
  * library-integration path (no per-session register() call needed).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injected.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo("graft", name),
          builder))
    }
    // spatial predicate → Morton-range pushdown rewrite
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.QuadbinRangeRewrite)
    // small aggregates folded into local relations on the driver, once the
    // scan's columns and filters are final (see DriverAggregate.scala)
    ext.injectPreCBORule(_ => org.apache.spark.sql.graft.DriverAggregate)
    // per-query constants out of generated code, right before whole-stage
    // codegen (see ShapeStableCodegen.scala)
    ext.injectColumnar(_ => org.apache.spark.sql.graft.ShapeStableCodegen.columnarRule)
    // metadata-row exclusion for the raquet source, every entry point:
    // format("raquet"), SQL on a path, USING raquet (see RaquetDataSource.scala)
    ext.injectPostHocResolutionRule(_ =>
      org.apache.spark.sql.graft.RaquetMetadataExclusion)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.graft._

  // raster functions bind their kernel from foldable (metadata JSON, band)
  // string args — parsed once at resolution, never per row
  private def litStr(e: Expression, what: String): String = e match {
    case Literal(s, _) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a literal, got $other")
  }
  private def litInt(e: Expression, what: String): Int = litStr(e, what).toInt
  private def litDouble(e: Expression, what: String): Double =
    litStr(e, what).toDouble
  // numeric lists as CSV string literals ("64,128,192") — foldable,
  // parsed once at resolution like the metadata JSON
  private def litDoubles(e: Expression, what: String): Array[Double] =
    litStr(e, what).split(",").map(_.trim.toDouble)
  private def kernelOf(m: Expression, b: Expression): BandKernel =
    BandKernel(RaquetMetadata.parse(litStr(m, "metadata")), litStr(b, "band name"))
  private def pairOf(m: Expression, a: Expression, b: Expression) =
    BandPairKernel(kernelOf(m, a), kernelOf(m, b))

  /** The SQL function table: every name `spark.sql` can call, and the only
    * list of them — injected by [[GraftExtensions]] and registered by
    * [[GraftFunctions.register]]. */
  val injected: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "quadbin_from_tile" -> { case Seq(x, y, z) => QuadbinFromTile(x, y, z) },
    "quadbin_zoom" -> { case Seq(c) => QuadbinZoom(c) },
    "quadbin_tile_x" -> { case Seq(c) => QuadbinTileX(c) },
    "quadbin_tile_y" -> { case Seq(c) => QuadbinTileY(c) },
    "quadbin_ancestor" -> { case Seq(c, p) => QuadbinAncestor(c, p) },
    "quadbin_from_lonlat" -> { case Seq(lon, lat, z) => QuadbinFromLonLat(lon, lat, z) },
    "quadbin_bounds" -> { case Seq(c) => QuadbinBounds(c) },
    "quadbin_is_valid" -> { case Seq(c) => QuadbinIsValid(c) },
    "rq_decode" -> { case Seq(b, m, n) => RqDecode(b, kernelOf(m, n)) },
    "rq_summary_stats" -> { case Seq(b, m, n) => RqSummaryStats(b, kernelOf(m, n)) },
    "rq_raster_value" -> { case Seq(b, blk, lon, lat, m, n) =>
      RqRasterValue(b, blk, lon, lat, kernelOf(m, n)) },
    "rq_clip_stats" -> { case Seq(b, blk, m, n, w) =>
      RqClipStats(b, blk, kernelOf(m, n), litStr(w, "wkt")) },
    "rq_normalized_difference" -> { case Seq(a, b, m, na, nb) =>
      RqNormalizedDifference(a, b, pairOf(m, na, nb)) },
    "rq_clip" -> { case Seq(b, blk, m, n, w) =>
      RqClip(b, blk, kernelOf(m, n), litStr(w, "wkt")) },
    "rq_normalized_difference_stats" -> { case Seq(a, b, m, na, nb) =>
      RqNdStats(a, b, pairOf(m, na, nb)) },
    "rq_stats_merge" -> { case Seq(s) => RqStatsMerge(s) },
    "rq_inflate" -> { case Seq(b) => RqInflate(b) },
    "rq_reclassify" -> { case Seq(b, m, n, br, cl) =>
      RqReclassify(b, kernelOf(m, n),
        litDoubles(br, "breaks"), litDoubles(cl, "classes")) },
    "rq_composite" -> { case Seq(a, b, m, n) => RqComposite(a, b, kernelOf(m, n)) },
    "rq_contour" -> { case Seq(b, m, n, lv) =>
      RqContour(b, kernelOf(m, n), litDouble(lv, "level")) },
    "rq_histogram" -> { case Seq(b, m, n, lo, hi, k) =>
      RqHistogram(b, kernelOf(m, n), litDouble(lo, "min"),
        litDouble(hi, "max"), litInt(k, "buckets")) },
    "rq_rasterize" -> { case Seq(blk, zs, m, n) => RqRasterize(blk, zs, kernelOf(m, n)) },
    "rq_band_math" -> { case Seq(a, b, m, na, nb, op) =>
      RqBandMath(a, b, pairOf(m, na, nb), litStr(op, "op")) },
    "rq_band_math_stats" -> { case Seq(a, b, m, na, nb, op) =>
      RqBandMathStats(a, b, pairOf(m, na, nb), litStr(op, "op")) },
    "rq_clip_histogram" -> { case Seq(b, blk, w, m, n, lo, hi, k) =>
      RqClipHistDyn(b, blk, w, kernelOf(m, n), litDouble(lo, "min"),
        litDouble(hi, "max"), litInt(k, "buckets")) },
    "rq_temporal_composite" -> { case Seq(b, m, n, op) =>
      RqTemporalComposite(b, kernelOf(m, n), litStr(op, "op"))
        .toAggregateExpression() },
    "st_quadbin_intersects" -> { case Seq(c, w) =>
      QuadbinIntersects(c, litStr(w, "wkt")) },
    "st_polyfill" -> { case Seq(w, z, m) =>
      RqPolyfill(litStr(w, "wkt"), z, litStr(m, "mode")) },
    "st_contains" -> { case Seq(w, x, y) => StContains(w, x, y) },
    "cf_to_timestamp" -> { case Seq(v, u, c) =>
      CfToTimestamp(v, litStr(u, "units"), litStr(c, "calendar")) },
    "mm_image_stats" -> { case Seq(b) => MmImageStats(b) },
    "mm_webp_encode" -> { case Seq(b, w, h, c) =>
      MmWebpEncode(b, litInt(w, "width"), litInt(h, "height"), litInt(c, "channels")) },
    "mm_webp_pixels" -> { case Seq(b, c) => MmWebpPixels(b, litInt(c, "channels")) },
    "mm_webp_lossy" -> { case Seq(b, w, h, c, q) =>
      MmWebpLossy(b, litInt(w, "width"), litInt(h, "height"),
        litInt(c, "channels"), litInt(q, "quality")) },
    "st_area" -> { case Seq(w) => StArea(w) },
    "st_perimeter" -> { case Seq(w) => StPerimeter(w) },
    "st_centroid" -> { case Seq(w) => StCentroid(w) },
    "st_geom_from_wkb" -> { case Seq(b) => StGeomFromWkb(b) },
    "st_as_wkb" -> { case Seq(w) => StAsWkb(w) },
    "st_geom_from_geojson" -> { case Seq(s) => StGeomFromGeojson(s) },
    "st_as_geojson" -> { case Seq(w) => StAsGeojson(w) },
    "st_simplify" -> { case Seq(w, t) => StSimplify(w, litDouble(t, "tolerance")) },
    "st_npoints" -> { case Seq(w) => StNPoints(w) },
    "topk_sketch" -> { case Seq(i, cap, k) =>
      TopKSketch(i, litInt(cap, "capacity"), litInt(k, "k")).toAggregateExpression() },
    "rq_bpe_tokens" -> { case Seq(t, spec) => BpeTokens(t, litStr(spec, "merges")) },
    "rq_wordpiece_tokens" -> { case Seq(t, spec) =>
      WordPieceTokens(t, litStr(spec, "vocab")) },
    "mm_u8_sum" -> { case Seq(b) => MmU8Sum(b) },
    "mm_u8_pack" -> { case Seq(a) => MmU8Pack(a) },
    "mm_exif_orientation" -> { case Seq(b) => MmExifOrientation(b) },
    "mm_orient" -> { case Seq(b, o, w, h, c) =>
      MmOrient(b, o, litInt(w, "width"), litInt(h, "height"),
        litInt(c, "channels")) },
    "mm_webp_anim" -> { case Seq(f, w, h, c, d) =>
      MmWebpAnimEncode(f, litInt(w, "width"), litInt(h, "height"),
        litInt(c, "channels"), litInt(d, "duration_ms")) },
    "mm_webp_anim_info" -> { case Seq(b) => MmWebpAnimInfo(b) },
    "mm_webp_frame" -> { case Seq(b, i, c) =>
      MmWebpFramePixels(b, i, litInt(c, "channels")) },
    "mm_wav_encode" -> { case Seq(s, rate, ch, bits) =>
      MmWavEncode(s, litInt(rate, "sample_rate"), litInt(ch, "channels"),
        litInt(bits, "bits")) },
    "mm_wav_info" -> { case Seq(b) => MmWavInfo(b) },
    "mm_wav_stats" -> { case Seq(b, ch) => MmWavStats(b, litInt(ch, "channel")) },
    "mm_wav_resample" -> { case Seq(b, rate) =>
      MmWavResample(b, litInt(rate, "target_rate")) },
    "mm_wav_frames" -> { case Seq(b, fl, hop, ch) =>
      MmWavFrames(b, litInt(fl, "frame_len"), litInt(hop, "hop"),
        litInt(ch, "channel")) },
    "mm_wav_trim" -> { case Seq(b, t) => MmWavTrim(b, litInt(t, "threshold")) },
    "mm_wav_fingerprint" -> { case Seq(b, fl, hop, ch) =>
      MmWavFingerprint(b, litInt(fl, "frame_len"), litInt(hop, "hop"),
        litInt(ch, "channel")) },
    "mm_dhash" -> { case Seq(b, w, h) =>
      MmDhash(b, litInt(w, "width"), litInt(h, "height")) },
    "bloom_agg" -> { case Seq(h, bits, k) =>
      BloomAgg(h, litInt(bits, "numBits"), litInt(k, "numHashes"))
        .toAggregateExpression() },
    "bloom_might_contain" -> { case Seq(f, h) => BloomMightContain(f, h) })
}
