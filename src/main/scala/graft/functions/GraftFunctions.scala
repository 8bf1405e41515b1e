package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft._

import graft.raquet.{BandKernel, BandPairKernel, RaquetMetadata}

/** Scala Column API for the graft function family; the SQL names come
  * from the one table in [[GraftExtensions]].
  *
  * Usage:
  * {{{
  *   val spark = graft.SessionDefaults.session("app") // SQL functions injected
  *   spark.sql("SELECT quadbin_zoom(block) FROM t")
  *   df.select(GraftFunctions.quadbin_zoom($"block")) // DSL, any session
  *   GraftFunctions.register(spark) // SQL names on a session built elsewhere
  * }}}
  */
object GraftFunctions {

  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def quadbin_from_tile(x: Column, y: Column, z: Column): Column =
    col(QuadbinFromTile(ex(x), ex(y), ex(z)))
  def quadbin_zoom(cell: Column): Column = col(QuadbinZoom(ex(cell)))
  def quadbin_tile_x(cell: Column): Column = col(QuadbinTileX(ex(cell)))
  def quadbin_tile_y(cell: Column): Column = col(QuadbinTileY(ex(cell)))
  def quadbin_ancestor(cell: Column, parentZoom: Column): Column =
    col(QuadbinAncestor(ex(cell), ex(parentZoom)))
  def quadbin_from_lonlat(lon: Column, lat: Column, z: Column): Column =
    col(QuadbinFromLonLat(ex(lon), ex(lat), ex(z)))
  def quadbin_bounds(cell: Column): Column = col(QuadbinBounds(ex(cell)))
  def quadbin_is_valid(cell: Column): Column = col(QuadbinIsValid(ex(cell)))

  // --- raster surface (kernel resolved at plan time from parsed metadata) ---

  def rq_decode(band: Column, meta: RaquetMetadata, name: String): Column =
    col(RqDecode(ex(band), BandKernel(meta, name)))
  /** Kernel-direct decode for tiles created in-plan (e.g. rq_rasterize)
    * where no dataset metadata exists. */
  def rq_decode(band: Column, kernel: BandKernel): Column =
    col(RqDecode(ex(band), kernel))
  def rq_summary_stats(band: Column, meta: RaquetMetadata, name: String): Column =
    col(RqSummaryStats(ex(band), BandKernel(meta, name)))
  def rq_raster_value(band: Column, block: Column, lon: Column, lat: Column,
      meta: RaquetMetadata, name: String): Column =
    col(RqRasterValue(ex(band), ex(block), ex(lon), ex(lat), BandKernel(meta, name)))
  def rq_reclassify(band: Column, meta: RaquetMetadata, name: String,
      breaks: Array[Double], classes: Array[Double]): Column =
    col(RqReclassify(ex(band), BandKernel(meta, name), breaks, classes))
  def rq_composite(a: Column, b: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqComposite(ex(a), ex(b), BandKernel(meta, name)))
  def rq_translate(band: Column, meta: RaquetMetadata, name: String,
      outDtype: String, outNodata: Double, a: Double, b: Double): Column =
    col(RqTranslate(ex(band), BandKernel(meta, name), outDtype, outNodata, a, b))

  def rq_brovey(pan: Column, mi: Column, mj: Column, meta: RaquetMetadata,
      panBand: String, miBand: String, mjBand: String): Column =
    col(RqBrovey(ex(pan), ex(mi), ex(mj), BandKernel(meta, panBand),
      BandKernel(meta, miBand), BandKernel(meta, mjBand)))

  def rq_contour(band: Column, meta: RaquetMetadata, name: String,
      level: Double): Column =
    col(RqContour(ex(band), BandKernel(meta, name), level))
  def rq_focal_contour(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, level: Double): Column =
    col(RqFocalContour(ex(band), ex(halos), BandKernel(meta, name), level))
  def rq_rasterize(block: Column, zones: Column, kernel: BandKernel): Column =
    col(RqRasterize(ex(block), ex(zones), kernel))
  def rq_idw_grid(block: Column, points: Column, kernel: BandKernel,
      radius: Long): Column =
    col(RqIdwGrid(ex(block), ex(points), kernel, radius))
  def rq_grid_stat(block: Column, points: Column, kernel: BandKernel,
      radius: Long, mode: Int): Column =
    col(RqGridStat(ex(block), ex(points), kernel, radius, mode))
  def rq_region_label(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqRegionLabel(ex(block), ex(band), BandKernel(meta, name)))
  def rq_region_strips(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqRegionStrips(ex(block), ex(band), BandKernel(meta, name)))
  def rq_region_sizes(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqRegionSizes(ex(block), ex(band), BandKernel(meta, name)))
  def rq_region_neighbors(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqRegionNeighbors(ex(block), ex(band), BandKernel(meta, name)))
  /** Per-tile label-blob remap through an O(1) hash table — see
    * [[org.apache.spark.sql.graft.RqLabelRemap]]. */
  def rq_label_remap(lab: Column, kv: Column, kernel: BandKernel,
      asLong: Boolean): Column =
    col(RqLabelRemap(ex(lab), ex(kv), kernel, asLong))
  /** Two-output label remap — see
    * [[org.apache.spark.sql.graft.RqLabelRemap2]]. */
  def rq_label_remap2(lab: Column, kv: Column, kernel: BandKernel): Column =
    col(RqLabelRemap2(ex(lab), ex(kv), kernel))
  /** One observer's full viewshed verdict set from its dense disk —
    * see [[org.apache.spark.sql.graft.RqViewshedDisk]]. */
  def rq_viewshed_disk(entries: Column, oh: Column, ox: Column, oy: Column,
      radius: Int): Column =
    col(org.apache.spark.sql.graft.RqViewshedDisk(ex(entries), ex(oh),
      ex(ox), ex(oy), radius))
  /** Fused strips+frags(+nbrs/+label) from ONE decode + union-find per
    * tile — see [[org.apache.spark.sql.graft.RqRegionAnalysis]]. */
  def rq_region_analysis(block: Column, band: Column, meta: RaquetMetadata,
      name: String, withNeighbors: Boolean = false,
      withLabel: Boolean = false): Column =
    col(RqRegionAnalysis(ex(block), ex(band), BandKernel(meta, name),
      withNeighbors, withLabel))
  def rq_region_segments(block: Column, band: Column, halos: Column,
      meta: RaquetMetadata, name: String): Column =
    col(RqRegionSegments(ex(block), ex(band), ex(halos), BandKernel(meta, name)))
  def rq_histogram(band: Column, meta: RaquetMetadata, name: String,
      min: Double, max: Double, buckets: Int): Column =
    col(RqHistogram(ex(band), BandKernel(meta, name), min, max, buckets))
  def rq_child_tile(band: Column, quadrant: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqChildTile(ex(band), ex(quadrant), BandKernel(meta, name)))
  def rq_clip_stats(band: Column, block: Column, meta: RaquetMetadata,
      name: String, wkt: String): Column =
    col(RqClipStats(ex(band), ex(block), BandKernel(meta, name), wkt))
  def rq_normalized_difference(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String): Column =
    col(RqNormalizedDifference(ex(a), ex(b),
      BandPairKernel(BandKernel(meta, nameA), BandKernel(meta, nameB))))
  def rq_clip(band: Column, block: Column, meta: RaquetMetadata,
      name: String, wkt: String): Column =
    col(RqClip(ex(band), ex(block), BandKernel(meta, name), wkt))
  def rq_focal_mean(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqFocalMean(ex(band), ex(halos), BandKernel(meta, name)))
  def rq_fill_nodata(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqFillNodata(ex(band), ex(halos), BandKernel(meta, name)))
  def rq_chamfer_seed(band: Column, meta: RaquetMetadata, name: String,
      target: Double): Column =
    col(RqChamferSeed(ex(band), BandKernel(meta, name), target))
  def rq_chamfer_relax(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqChamferRelax(ex(band), ex(halos), BandKernel(meta, name)))
  def rq_focal_slope(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, cell: Double, zt: Boolean = false): Column =
    col(RqFocalSlope(ex(band), ex(halos), BandKernel(meta, name), cell, zt))
  def rq_focal_terrain(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, cell: Double, azimuthDeg: Double,
      altitudeDeg: Double): Column =
    col(RqFocalTerrain(ex(band), ex(halos), BandKernel(meta, name), cell,
      azimuthDeg, altitudeDeg))
  def rq_focal_hillshade_md(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, cell: Double, altitudeDeg: Double): Column =
    col(RqFocalHillshadeMd(ex(band), ex(halos), BandKernel(meta, name), cell,
      altitudeDeg))
  def rq_focal_tpi(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqFocalTpi(ex(band), ex(halos), BandKernel(meta, name)))
  def rq_color_relief(band: Column, meta: RaquetMetadata, name: String,
      breaks: Seq[Double], colors: Seq[(Int, Int, Int)]): Column =
    col(RqColorRelief(ex(band), BandKernel(meta, name), breaks, colors))
  def rq_normalized_difference_stats(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String): Column =
    col(RqNdStats(ex(a), ex(b),
      BandPairKernel(BandKernel(meta, nameA), BandKernel(meta, nameB))))
  def st_quadbin_intersects(block: Column, wkt: String): Column =
    col(QuadbinIntersects(ex(block), wkt))
  def st_contains(wkt: Column, lon: Column, lat: Column): Column =
    col(StContains(ex(wkt), ex(lon), ex(lat)))
  def rq_temporal_fit(series: Column, meta: RaquetMetadata,
      name: String): Column =
    col(RqTemporalFit(ex(series), BandKernel(meta, name)))
  def rq_band_math(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String, op: String): Column =
    col(RqBandMath(ex(a), ex(b),
      BandPairKernel(BandKernel(meta, nameA), BandKernel(meta, nameB)), op))
  /** Kernel-pair form: map algebra across bands of DIFFERENT datasets /
    * dtypes (e.g. a source band vs a float64 derived composite). */
  def rq_band_math(a: Column, b: Column, kernelA: BandKernel,
      kernelB: BandKernel, op: String): Column =
    col(RqBandMath(ex(a), ex(b), BandPairKernel(kernelA, kernelB), op))
  def rq_band_math_stats(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String, op: String): Column =
    col(RqBandMathStats(ex(a), ex(b),
      BandPairKernel(BandKernel(meta, nameA), BandKernel(meta, nameB)), op))
  def quadbin_in_ranges(block: Column, ranges: Array[(Long, Long)]): Column =
    col(QuadbinInRanges(ex(block), ranges.map(_._1), ranges.map(_._2)))
  def st_polyfill(wkt: String, zoom: Column, mode: String = "intersects"): Column =
    col(RqPolyfill(wkt, ex(zoom), mode))
  /** Polygon-table form: WKT as a column (zonal joins). */
  def st_polyfill_col(wkt: Column, zoom: Column,
      mode: String = "intersects"): Column =
    col(RqPolyfillDyn(ex(wkt), ex(zoom), mode))
  /** Zonal form: WKT as a column. */
  def rq_clip_stats_col(band: Column, block: Column, wkt: Column,
      meta: RaquetMetadata, name: String): Column =
    col(RqClipStatsDyn(ex(band), ex(block), ex(wkt), BandKernel(meta, name)))
  /** Zonal histogram form: per-(tile, zone) mergeable bucket counts. */
  def rq_clip_histogram_col(band: Column, block: Column, wkt: Column,
      meta: RaquetMetadata, name: String, min: Double, max: Double,
      buckets: Int): Column =
    col(RqClipHistDyn(ex(band), ex(block), ex(wkt), BandKernel(meta, name),
      min, max, buckets))
  /** Multi-zone histogram form: one decode per tile for a zone LIST. */
  def rq_zonal_histograms(band: Column, block: Column, zones: Column,
      meta: RaquetMetadata, name: String, min: Double, max: Double,
      buckets: Int): Column =
    col(RqZonalHists(ex(band), ex(block), ex(zones), BandKernel(meta, name),
      min, max, buckets))

  /** Exact partial→final stats merge (A3) over `rq_summary_stats` structs —
    * a declarative aggregate (codegen'd hash agg, primitive buffers). */
  def rq_stats_merge(stats: Column): Column =
    col(RqStatsMerge(ex(stats)).toAggregateExpression())

  /** IVF coarse assignment: the vector's inverted-list id from a plan-time
    * codebook (codegen'd tight loop, no UDF). */
  def vec_ivf_cell(embedding: Column, cb: IvfCodebook): Column =
    col(VecIvfCell(ex(embedding), cb))

  /** The nprobe nearest list ids for a query vector (IVF probe side). */
  def vec_ivf_probe_cells(embedding: Column, cb: IvfCodebook, nprobe: Int): Column =
    col(VecIvfProbeCells(ex(embedding), cb, nprobe))

  /** Pyramid parent-tile build (M5) as a partial-mergeable aggregate: group
    * by `quadbin_ancestor(block, z)` and fold each child into its quadrant
    * map-side, so Morton-sorted inputs shuffle one buffer per parent. */
  def rq_parent_tile(block: Column, band: Column, meta: RaquetMetadata,
      name: String, resampling: String = "average"): Column =
    col(RqParentTile(ex(block), ex(band), BandKernel(meta, name), resampling)
      .toAggregateExpression())

  /** Convolution pyramid parent from collected child blobs + halo strips
    * (cubic / cubicspline / lanczos — [[graft.raquet.Pyramid.buildLevel]]'s
    * halo path assembles the contribution list). */
  def rq_conv_parent(contribs: Column, meta: RaquetMetadata, name: String,
      resampling: String): Column =
    col(RqConvParent(ex(contribs), BandKernel(meta, name), resampling))

  /** Per-pixel composite across a tile stack's time axis (group by block):
    * op ∈ mean | sum | min | max | count. Emits a float64 gzip band blob
    * ([[graft.operators.Focal.outKernel]] decodes it). */
  def rq_temporal_composite(band: Column, meta: RaquetMetadata, name: String,
      op: String): Column =
    col(RqTemporalComposite(ex(band), BandKernel(meta, name), op)
      .toAggregateExpression())
  def rq_mask_range(band: Column, kernel: BandKernel, lo: Double,
      hi: Double): Column =
    col(RqMaskRange(ex(band), kernel, lo, hi))
  def rq_mask_range(band: Column, meta: RaquetMetadata, name: String,
      lo: Double, hi: Double): Column =
    rq_mask_range(band, BandKernel(meta, name), lo, hi)
  /** Linear time-axis gap fill of a sorted (t, blob) stack. */
  def rq_temporal_fill(stack: Column, kernel: BandKernel): Column =
    col(RqTemporalFill(ex(stack), kernel))
  /** Theil–Sen slope + Mann–Kendall S/tau of a sorted (t, blob) stack. */
  def rq_theilsen_mk(stack: Column, kernel: BandKernel): Column =
    col(RqTheilSenMk(ex(stack), kernel))
  /** Per-pixel OLS trend across a tile stack's time axis (group by
    * block): STRUCT(slope, intercept) of float64 gzip band blobs. */
  def rq_temporal_trend(band: Column, time: Column, kernel: BandKernel): Column =
    col(RqTemporalTrend(ex(band), ex(time), kernel).toAggregateExpression())
  def rq_temporal_trend(band: Column, time: Column, meta: RaquetMetadata,
      name: String): Column =
    rq_temporal_trend(band, time, BandKernel(meta, name))

  /** One-pass exact covariance accumulator over ARRAY<BIGINT> quantized
    * vectors: upper-triangle product sums + marginals in one primitive
    * tight loop per row, one ~25 KB partial per map partition. */
  def cov_accum(vec: Column, dim: Int): Column =
    col(CovarianceAccum(ex(vec), dim).toAggregateExpression())

  // --- CF time + multimodal ---

  def cf_to_timestamp(value: Column, units: String,
      calendar: String = "standard"): Column =
    col(CfToTimestamp(ex(value), units, calendar))
  def rq_inflate(bin: Column): Column = col(RqInflate(ex(bin)))
  def mm_image_stats(bin: Column): Column = col(MmImageStats(ex(bin)))
  def mm_resize(bin: Column, w2: Column, h2: Column,
      srcWidth: Int, srcHeight: Int, channels: Int): Column =
    col(MmResize(ex(bin), ex(w2), ex(h2), srcWidth, srcHeight, channels))
  def mm_deinterleave(bin: Column, band: Int, nBands: Int,
      bytesPerSample: Int = 1): Column =
    col(MmDeinterleave(ex(bin), band, nBands, bytesPerSample))
  def mm_jpeg_pixels(bin: Column): Column = col(MmJpegPixels(ex(bin)))
  def mm_webp_encode(bin: Column, width: Int, height: Int, channels: Int): Column =
    col(MmWebpEncode(ex(bin), width, height, channels))
  def mm_webp_pixels(bin: Column, channels: Int): Column =
    col(MmWebpPixels(ex(bin), channels))
  def mm_webp_lossy(bin: Column, width: Int, height: Int, channels: Int,
      quality: Int): Column =
    col(MmWebpLossy(ex(bin), width, height, channels, quality))

  // --- vector measures + WKB bridge ---

  def st_area(wkt: Column): Column = col(StArea(ex(wkt)))
  def st_perimeter(wkt: Column): Column = col(StPerimeter(ex(wkt)))
  def st_centroid(wkt: Column): Column = col(StCentroid(ex(wkt)))
  def st_geom_from_wkb(bin: Column): Column = col(StGeomFromWkb(ex(bin)))
  def st_as_wkb(wkt: Column): Column = col(StAsWkb(ex(wkt)))
  def st_geom_from_geojson(s: Column): Column = col(StGeomFromGeojson(ex(s)))
  def st_as_geojson(wkt: Column): Column = col(StAsGeojson(ex(wkt)))
  def st_simplify(wkt: Column, tolerance: Double): Column =
    col(StSimplify(ex(wkt), tolerance))
  def st_npoints(wkt: Column): Column = col(StNPoints(ex(wkt)))
  def topk_sketch(item: Column, capacity: Int, k: Int): Column =
    col(TopKSketch(ex(item), capacity, k).toAggregateExpression())
  def bloom_agg(h: Column, numBits: Int, numHashes: Int): Column =
    col(BloomAgg(ex(h), numBits, numHashes).toAggregateExpression())
  def bloom_might_contain(filter: Column, h: Column): Column =
    col(BloomMightContain(ex(filter), ex(h)))
  /** Merges encode with US/RS separators so corpus-learned operands may
    * contain ',' (a comma-joined spec would mis-split them — the
    * SQL-literal form remains available via `rq_bpe_tokens`). Operands
    * containing ' ' are rejected by the kernel: words are space-split, so
    * such an operand could never match a token. */
  def bpe_tokens(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.BpeKernel.{OpSep, RuleSep}
    merges.foreach { case (a, b) =>
      require(a.indexOf(OpSep) < 0 && a.indexOf(RuleSep) < 0 &&
        b.indexOf(OpSep) < 0 && b.indexOf(RuleSep) < 0,
        "BPE merge operands may not contain the US/RS separator chars")
    }
    col(BpeTokens(ex(text),
      merges.map { case (a, b) => s"$a$OpSep$b" }.mkString(RuleSep.toString)))
  }

  /** WordPiece vocab pieces join with the RS separator (pieces may
    * contain anything except spaces/RS — the kernel validates). */
  def wordpiece_tokens(text: Column, vocab: Seq[String]): Column = {
    import org.apache.spark.sql.graft.BpeKernel.RuleSep
    vocab.foreach { p =>
      require(p.indexOf(RuleSep) < 0,
        "WordPiece vocab pieces may not contain the RS separator char")
    }
    col(WordPieceTokens(ex(text), vocab.mkString(RuleSep.toString)))
  }

  def mm_u8_sum(bin: Column): Column = col(MmU8Sum(ex(bin)))
  def mm_u8_pack(values: Column): Column = col(MmU8Pack(ex(values)))
  def mm_exif_orientation(jpeg: Column): Column = col(MmExifOrientation(ex(jpeg)))
  def mm_orient(bin: Column, orientation: Column, width: Int, height: Int,
      channels: Int): Column =
    col(MmOrient(ex(bin), ex(orientation), width, height, channels))
  def mm_dhash(bin: Column, width: Int, height: Int): Column =
    col(MmDhash(ex(bin), width, height))
  def mm_webp_anim(frames: Column, width: Int, height: Int, channels: Int,
      durationMs: Int): Column =
    col(MmWebpAnimEncode(ex(frames), width, height, channels, durationMs))
  def mm_webp_anim_info(bin: Column): Column = col(MmWebpAnimInfo(ex(bin)))
  def mm_webp_frame(bin: Column, idx: Column, channels: Int): Column =
    col(MmWebpFramePixels(ex(bin), ex(idx), channels))

  // --- audio (WAV/PCM) members of the multimodal family ---

  def mm_wav_encode(samples: Column, sampleRate: Int, channels: Int,
      bits: Int): Column =
    col(MmWavEncode(ex(samples), sampleRate, channels, bits))
  def mm_wav_info(bin: Column): Column = col(MmWavInfo(ex(bin)))
  def mm_wav_stats(bin: Column, channel: Int): Column =
    col(MmWavStats(ex(bin), channel))
  def mm_wav_resample(bin: Column, dstRate: Int): Column =
    col(MmWavResample(ex(bin), dstRate))
  def mm_wav_frames(bin: Column, frameLen: Int, hop: Int, channel: Int): Column =
    col(MmWavFrames(ex(bin), frameLen, hop, channel))
  def mm_wav_trim(bin: Column, threshold: Int): Column =
    col(MmWavTrim(ex(bin), threshold))
  def mm_wav_fingerprint(bin: Column, frameLen: Int, hop: Int,
      channel: Int): Column =
    col(MmWavFingerprint(ex(bin), frameLen, hop, channel))

  /** Register all functions for use from `spark.sql`. Idempotent. Only
    * needed on a session built without [[GraftExtensions]]. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.injected.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
