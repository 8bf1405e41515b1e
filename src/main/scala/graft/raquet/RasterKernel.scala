package graft.raquet

import graft.geo.Geom
import graft.quadbin.Quadbin

/** Per-band raster kernel: everything an expression needs to turn a band blob
  * into values/stats, resolved ONCE at plan time from the dataset's
  * [[RaquetMetadata]] and carried into generated code as a reference object
  * (no per-row JSON parsing, no boxing in the pixel loops).
  *
  * Semantics from the reference:
  *  - decode sites `raquet/raquet2geotiff.py:397-399`, `raquet/validate.py:231-247`
  *  - stats masking `raquet/raster2raquet.py:525-574` (NaN/Inf always masked,
  *    nodata masked when defined)
  *  - physical value = DN * scale + offset (`format-specs/raquet.md:344-345`)
  *  - point lookup NULL-if-nodata (`format-specs/raquet.md:306-309`,
  *    `docs/engines.md:56-61`)
  *
  * @param nodata NaN means "no nodata defined" (NaN pixels are masked anyway)
  */
final case class BandKernel(
    dtype: String,
    nodata: Double,
    width: Int,
    height: Int,
    scale: Double,
    offset: Double) extends Serializable {

  def decode(raw: Array[Byte]): Array[Double] = PixelCodec.decode(raw, dtype)

  /** [count,min,max,sum,sumSq] over valid pixels, or null if none —
    * the fused single-pass kernel (no intermediate double array). */
  def stats(raw: Array[Byte]): Array[Double] =
    PixelCodec.fusedStats(raw, dtype, nodata)

  /** Last-blob decode cache for [[valueAt]]: point-sampling joins deliver
    * MANY consecutive rows against the same tile (the raster side stays
    * Morton-ordered through the join), and decoding the whole tile per
    * point is the difference between O(points) and O(points × pixels).
    * Keyed by (block, length, trailing 8 bytes) — codegen re-materializes
    * the byte[] per output row so identity would always miss, and for
    * gzip blobs the trailer IS the content CRC32+ISIZE, making the key
    * content-derived. Per thread; private to valueAt because other
    * kernels mutate their decode buffers in place. */
  @transient private lazy val tlValueDecode =
    new ThreadLocal[(Long, Int, Long, Array[Double])]

  /** Physical (scaled) value at (lon, lat) inside tile `block`; NaN when the
    * point misses the tile or hits a nodata/NaN pixel. */
  def valueAt(raw: Array[Byte], block: Long, lon: Double, lat: Double): Double = {
    val z = Quadbin.zoom(block)
    val x = Quadbin.tileX(block)
    val y = Quadbin.tileY(block)
    val n = (1L << z).toDouble
    // fractional slippy-map coords; linear in mercator => matches the grid
    val xf = (lon + 180.0) / 360.0 * n
    val latR = math.toRadians(lat)
    val yf = (1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * n
    val col = math.floor((xf - x) * width).toInt
    val row = math.floor((yf - y) * height).toInt
    if (col < 0 || col >= width || row < 0 || row >= height) return Double.NaN
    var tail = 0L
    var ti = math.max(0, raw.length - 8)
    while (ti < raw.length) { tail = (tail << 8) | (raw(ti) & 0xFFL); ti += 1 }
    val cached = tlValueDecode.get()
    val dec =
      if (cached != null && cached._1 == block && cached._2 == raw.length &&
          cached._3 == tail) cached._4
      else {
        val d = decode(raw)
        tlValueDecode.set((block, raw.length, tail, d))
        d
      }
    val v = dec(row * width + col)
    if (java.lang.Double.isNaN(v) || (!nodata.isNaN && v == nodata)) Double.NaN
    else v * scale + offset
  }

  /** Pixel-center longitude of column i in tile (x, z). Pure add/mul/div
    * ops so any IEEE engine reproduces it bit-for-bit. */
  def pixelLon(x: Long, z: Int, i: Int): Double =
    (x + (i + 0.5) / width) / (1L << z) * 360.0 - 180.0

  /** Pixel-center latitude of row j in tile (y, z) (inverse mercator). */
  def pixelLat(y: Long, z: Int, j: Int): Double = {
    val t = (y + (j + 0.5) / height) / (1L << z)
    math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * t))))
  }

  /** The pixels of tile `block` whose CENTER falls inside `geom`, as row
    * runs ([[PixelRuns]]): exactly the pixels a per-pixel
    * `geom.containsPoint(pixelLon, pixelLat)` test accepts. */
  def pixelRuns(block: Long, geom: Geom): PixelRuns = {
    val z = Quadbin.zoom(block)
    val x = Quadbin.tileX(block)
    val y = Quadbin.tileY(block)
    PixelRuns(geom, Array.tabulate(width)(pixelLon(x, z, _)),
      Array.tabulate(height)(pixelLat(y, z, _)))
  }

  private def tileBox(block: Long): graft.geo.BBox = {
    val z = Quadbin.zoom(block)
    val x = Quadbin.tileX(block)
    val y = Quadbin.tileY(block)
    graft.geo.BBox(Quadbin.tileWest(x, z), Quadbin.tileSouth(y, z),
      Quadbin.tileEast(x, z), Quadbin.tileNorth(y, z))
  }

  /** Stats over valid pixels whose CENTER falls inside `geom` ("center" mode,
    * reference `docs/performance.md:118-126`); null if none. Box tests come
    * BEFORE any decode: a fully-inside tile (the bulk of a large region)
    * takes the fused single-pass kernel, a fully-outside one decodes
    * nothing. */
  def clipStats(raw: Array[Byte], block: Long, geom: Geom): Array[Double] = {
    val box = tileBox(block)
    if (geom.containsBox(box)) return PixelCodec.fusedStats(raw, dtype, nodata)
    if (!geom.intersectsBox(box)) return null
    PixelCodec.maskedStats(decode(raw), nodata, pixelRuns(block, geom))
  }

  /** ST_Clip (`docs/engines.md:48`): physical per-pixel values with pixels
    * whose CENTER falls outside `geom` (and nodata/NaN pixels) set to NaN;
    * null when the tile misses the geometry entirely. Same box fast paths as
    * [[clipStats]]: a fully-inside tile builds no pixel runs. */
  def clip(raw: Array[Byte], block: Long, geom: Geom): Array[Double] = {
    val box = tileBox(block)
    if (!geom.intersectsBox(box)) return null
    val v = physical(raw)
    if (geom.containsBox(box)) return v
    val runs = pixelRuns(block, geom)
    var outside = 0 // the first pixel after the previous run
    var r = 0
    while (r < runs.count) {
      java.util.Arrays.fill(v, outside, runs.start(r), Double.NaN)
      outside = runs.end(r)
      r += 1
    }
    java.util.Arrays.fill(v, outside, width * height, Double.NaN)
    v
  }

  /** Reclassify (the PostGIS `ST_Reclass` shape): map each valid pixel's
    * PHYSICAL value into `classes(k)` where `k` is the number of `breaks`
    * ≤ the value — left-closed bins `[b(k-1), b(k))`, so
    * `classes.length == breaks.length + 1` and a value exactly on a break
    * falls in the upper bin. Nodata/NaN pixels pass through untouched; the
    * output blob keeps the band's dtype + nodata and is gzip-encoded, so it
    * feeds every existing kernel (stats, clip, focal) unchanged. */
  /** gdal_translate's -scale/-ot: linear rescale a·DN + b re-encoded as
    * `outDtype` (half-even rint + range clamp for integer outputs — encode
    * wraps); nodata pixels map to `outNodata`. Operates on raw DNs like
    * gdal_translate (src/dst bounds are DNs, not physical values). */
  def translate(raw: Array[Byte], outDtype: String, outNodata: Double,
      a: Double, b: Double): Array[Byte] = {
    val v = decode(raw)
    val isInt = outDtype != "float16" && outDtype != "float32" &&
      outDtype != "float64"
    val (mn, mx) = Downsample.dtypeRange(outDtype)
    var i = 0
    while (i < v.length) {
      val x = v(i)
      v(i) =
        if (java.lang.Double.isNaN(x) || (!nodata.isNaN && x == nodata))
          outNodata
        else {
          val p = a * x + b
          if (isInt) math.min(math.max(math.rint(p), mn), mx) else p
        }
      i += 1
    }
    PixelCodec.encode(v, outDtype, gzip = true)
  }

  /** Range mask (the gdal_calc "mask out a DN interval" shape — cloud DN
    * windows, saturated ranges): pixels with v ∈ [lo, hi) become NaN,
    * nodata stays NaN, everything else passes through; returns a float64
    * gzip blob (NaN nodata — the derived-raster convention). */
  def maskRange(raw: Array[Byte], lo: Double, hi: Double): Array[Byte] = {
    val v = decode(raw)
    val hasNod = !nodata.isNaN
    var i = 0
    while (i < v.length) {
      val x = v(i)
      v(i) = if (java.lang.Double.isNaN(x) || (hasNod && x == nodata) ||
        (x >= lo && x < hi)) Double.NaN else x
      i += 1
    }
    PixelCodec.encode(v, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** Linear gap fill along the TIME axis of one block's tile stack (the
    * EO time-series gap-filling stage — cloud-masked NDVI interpolation):
    * per pixel, each invalid timestep takes the straight line between its
    * nearest valid neighbors in time, v_j + (v_k − v_j)·((t_i − t_j) /
    * (t_k − t_j)) — a single fixed-order expression a SQL oracle replays
    * bit-for-bit. Leading/trailing gaps (no neighbor on one side) stay
    * NaN — strict interior interpolation, no extrapolation. Neighbors
    * come from the OBSERVED planes only (fills never chain). `ts` must
    * be sorted ascending. Returns float64 gzip blobs, one per input. */
  def temporalFill(ts: Array[Double], blobs: Array[Array[Byte]]): Array[Array[Byte]] = {
    val T = blobs.length
    val planes = blobs.map(decode)
    val npx = width * height
    val hasNod = !nodata.isNaN
    @inline def valid(x: Double): Boolean =
      !(java.lang.Double.isNaN(x) || (hasNod && x == nodata))
    val out = Array.tabulate(T)(i => planes(i).clone())
    var p = 0
    while (p < npx) {
      var i = 0
      while (i < T) {
        if (!valid(planes(i)(p))) {
          var j = i - 1
          while (j >= 0 && !valid(planes(j)(p))) j -= 1
          var k = i + 1
          while (k < T && !valid(planes(k)(p))) k += 1
          out(i)(p) =
            if (j >= 0 && k < T)
              planes(j)(p) + (planes(k)(p) - planes(j)(p)) *
                ((ts(i) - ts(j)) / (ts(k) - ts(j)))
            else Double.NaN
        }
        i += 1
      }
      p += 1
    }
    out.map(PixelCodec.encode(_, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED))
  }

  /** Theil–Sen slope + Mann–Kendall statistic along the TIME axis of one
    * block's stack — the ROBUST trend pair (Theil 1950/Sen 1968;
    * Mann 1945/Kendall): per pixel over its valid observations,
    *  - slope = MEDIAN of the pairwise slopes (v_j − v_i)/(t_j − t_i),
    *    i < j, equal-time pairs excluded; even count → the average of
    *    the two middle values, (a + b) / 2;
    *  - S = Σ sign(v_j − v_i) (an exact integer — the MK trend stat);
    *  - tau = S / (n·(n−1)/2) (tau-a, no tie correction).
    * NaN where n < 2 (or no finite-slope pair for the median). Pair
    * enumeration is i<j in time order and the median comes from a full
    * sort, so a SQL oracle replays every double exactly. `ts` sorted
    * ascending. Returns (slope, s, tau) float64 gzip blobs. */
  def theilSenMk(ts: Array[Double], blobs: Array[Array[Byte]])
      : (Array[Byte], Array[Byte], Array[Byte]) = {
    val T = blobs.length
    val planes = blobs.map(decode)
    val npx = width * height
    val hasNod = !nodata.isNaN
    @inline def valid(x: Double): Boolean =
      !(java.lang.Double.isNaN(x) || (hasNod && x == nodata))
    val slope = new Array[Double](npx)
    val mkS = new Array[Double](npx)
    val tau = new Array[Double](npx)
    val vt = new Array[Double](T); val vv = new Array[Double](T)
    val sl = new Array[Double](T * (T - 1) / 2)
    var p = 0
    while (p < npx) {
      var n = 0
      var i = 0
      while (i < T) {
        val x = planes(i)(p)
        if (valid(x)) { vt(n) = ts(i); vv(n) = x; n += 1 }
        i += 1
      }
      if (n < 2) {
        slope(p) = Double.NaN; mkS(p) = Double.NaN; tau(p) = Double.NaN
      } else {
        var s = 0L; var m = 0
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val dv = vv(j) - vv(i)
            s += (if (dv > 0) 1 else if (dv < 0) -1 else 0)
            if (vt(j) != vt(i)) { sl(m) = dv / (vt(j) - vt(i)); m += 1 }
            j += 1
          }
          i += 1
        }
        if (m == 0) slope(p) = Double.NaN
        else {
          java.util.Arrays.sort(sl, 0, m)
          slope(p) =
            if (m % 2 == 1) sl(m / 2) else (sl(m / 2 - 1) + sl(m / 2)) / 2
        }
        mkS(p) = s.toDouble
        tau(p) = s.toDouble / (n.toLong * (n - 1) / 2).toDouble
      }
      p += 1
    }
    def enc(a: Array[Double]) = PixelCodec.encode(a, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
    (enc(slope), enc(mkS), enc(tau))
  }

  def reclassify(raw: Array[Byte], breaks: Array[Double],
      classes: Array[Double]): Array[Byte] = {
    require(classes.length == breaks.length + 1,
      s"reclassify: ${breaks.length} breaks need ${breaks.length + 1} classes")
    val v = decode(raw)
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (!(java.lang.Double.isNaN(x) || (!nodata.isNaN && x == nodata))) {
        val p = x * scale + offset
        var lo = 0
        var hi = breaks.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (p < breaks(mid)) hi = mid else lo = mid + 1
        }
        v(i) = classes(lo)
      }
      i += 1
    }
    PixelCodec.encode(v, dtype, gzip = true)
  }

  /** First-valid-wins per-pixel composite (mosaic): a's pixel where valid
    * (non-nodata/non-NaN), else b's — which may itself be nodata, so holes
    * survive only where BOTH inputs are holes. Inputs must share this
    * kernel's grid/dtype; output is a well-formed gzip band blob. */
  /** Marching-squares contour segments at `level` over the PHYSICAL
    * pixel-center grid (gdal_contour's model): each 2×2 cell with a sign
    * change emits one segment (two for saddles, disambiguated by the
    * center average — GDAL's rule), endpoints linearly interpolated along
    * the crossing edges in fractional PIXEL coordinates (x → column,
    * y → row). Cells touching any masked pixel emit nothing. Endpoints
    * are canonically ordered ((x, y) lexicographic) and cells walk in
    * row-major order, so output is deterministic. Per-tile only —
    * cross-tile cells belong to a halo-exchange stage like the focal
    * kernels'; segment output needs no stitching to be useful (length /
    * density / rendering all aggregate segments). */
  def contour(raw: Array[Byte], level: Double): Array[Array[Double]] = {
    val v = physicalMasked(decode(raw))
    BandKernel.marchingSquares(v, width, 0, width - 1, 0, height - 1,
      0.0, 0.0, level)
  }

  /** Decoded DN grid → physical values with nodata/NaN masked to NaN. */
  def physicalMasked(v: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length)
    var k = 0
    while (k < v.length) {
      val p = v(k)
      out(k) =
        if (java.lang.Double.isNaN(p) || (!nodata.isNaN && p == nodata))
          Double.NaN
        else p * scale + offset
      k += 1
    }
    out
  }

  def composite(rawA: Array[Byte], rawB: Array[Byte]): Array[Byte] = {
    val va = decode(rawA)
    val vb = decode(rawB)
    require(va.length == vb.length,
      s"composite: mismatched tile sizes ${va.length} vs ${vb.length}")
    var i = 0
    while (i < va.length) {
      val x = va(i)
      if (java.lang.Double.isNaN(x) || (!nodata.isNaN && x == nodata)) va(i) = vb(i)
      i += 1
    }
    PixelCodec.encode(va, dtype, gzip = true)
  }

  /** Per-tile connected-component labels (the within-tile stage of the
    * `gdal_sieve` / region-labeling pipeline): 4-connected components of
    * EQUAL decoded value over valid pixels, each pixel labeled with the
    * GLOBAL pixel id `gid = gy·2³² + gx` of its component's row-major-min
    * pixel (union-find, smaller root wins, so the root IS the min index).
    * Invalid pixels are NaN. Returned as a float64 blob — gid stays
    * exactly representable while gy < 2²¹ (zoom+log₂(tile) ≤ 21, true for
    * every web-mercator raster this engine targets). Cross-tile merging
    * happens OUTSIDE via [[edgeStrips]] + the label graph — this kernel
    * never sees a neighbor, so the 100 TB version is one embarrassingly
    * parallel pass. */
  /** Union-find roots per pixel for 4-connected equal-value components;
    * -1 for invalid pixels. Roots are row-major-min by construction
    * (smaller root wins every union). Public: the polygonize segment
    * kernel ([[org.apache.spark.sql.graft.RqRegionSegments]]) labels its
    * boundary segments with the same roots. */
  def regionRoots(v: Array[Double]): Array[Int] = {
    val n = width * height
    @inline def valid(x: Double): Boolean =
      !java.lang.Double.isNaN(x) && !(!nodata.isNaN && x == nodata)
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    var p = 0
    while (p < n) {
      val cur = v(p)
      if (valid(cur)) {
        val i = p % width
        if (i > 0 && valid(v(p - 1)) && v(p - 1) == cur) union(p, p - 1)
        if (p >= width && valid(v(p - width)) && v(p - width) == cur)
          union(p, p - width)
      }
      p += 1
    }
    val roots = new Array[Int](n)
    p = 0
    while (p < n) {
      roots(p) = if (valid(v(p))) find(p) else -1
      p += 1
    }
    roots
  }

  @inline private def rootGid(block: Long, r: Int): Long = {
    val gx = Quadbin.tileX(block) * width + r % width
    val gy = Quadbin.tileY(block) * height + r / width
    gy * 4294967296L + gx
  }

  def regionLabel(block: Long, raw: Array[Byte]): Array[Byte] =
    labelBlobFrom(block, regionRoots(decode(raw)))

  private def labelBlobFrom(block: Long, roots: Array[Int]): Array[Byte] = {
    val out = new Array[Double](roots.length)
    var p = 0
    while (p < roots.length) {
      out(p) =
        if (roots(p) >= 0) rootGid(block, roots(p)).toDouble else Double.NaN
      p += 1
    }
    PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** One-pass fused region analysis: decode + union-find ONCE and emit the
    * strips / fragments (/ neighbors / label blob) that [[regionStrips]],
    * [[regionSizes]], [[regionNeighbors]] and [[regionLabel]] each
    * recomputed independently — the region pipeline previously paid up to
    * 4 gzip inflates + 4 union-finds per tile for one labeling. Every
    * output is bit-identical to its standalone kernel (they share these
    * exact *From helpers). */
  def regionAnalysis(block: Long, raw: Array[Byte], withNeighbors: Boolean,
      withLabel: Boolean): RegionAnalysis = {
    val v = decode(raw)
    val roots = regionRoots(v)
    RegionAnalysis(
      stripsFrom(block, v, roots),
      fragmentsFrom(block, v, roots),
      if (withNeighbors) neighborsFrom(block, v, roots) else null,
      if (withLabel) labelBlobFrom(block, roots) else null)
  }

  /** Per-tile fragment size table: one (lab, n) row per tile-local
    * region — the pixel-volume-free sizes path. At 100 TB the region
    * SIZE aggregation never explodes pixels into rows: each tile
    * contributes ≤ fragments rows, and the global size is one hash agg
    * over fragment labels mapped through the label-graph components. */
  def regionSizes(block: Long, raw: Array[Byte]): Array[RegionFragment] = {
    val v = decode(raw)
    fragmentsFrom(block, v, regionRoots(v))
  }

  private def fragmentsFrom(block: Long, v: Array[Double],
      roots: Array[Int]): Array[RegionFragment] = {
    // per-root: count + global-pixel bounding box (the polygonize-lite
    // extent — mergeable across tiles by min/max)
    val acc = new java.util.HashMap[Integer, RegionFragment]()
    val tx = Quadbin.tileX(block); val ty = Quadbin.tileY(block)
    var p = 0
    while (p < roots.length) {
      if (roots(p) >= 0) {
        val gx = tx * width + p % width
        val gy = ty * height + p / width
        val cur = acc.get(roots(p))
        if (cur == null)
          acc.put(roots(p), RegionFragment(
            rootGid(block, roots(p)), 1L, v(roots(p)), gx, gy, gx, gy))
        else {
          cur.n += 1
          if (gx < cur.gx0) cur.gx0 = gx
          if (gy < cur.gy0) cur.gy0 = gy
          if (gx > cur.gx1) cur.gx1 = gx
          if (gy > cur.gy1) cur.gy1 = gy
        }
      }
      p += 1
    }
    val out = new Array[RegionFragment](acc.size)
    var i = 0
    val it = acc.values().iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out.sortBy(_.lab)
  }

  /** Within-tile region ADJACENCY pairs: distinct (la, lb) fragment-label
    * pairs of 4-adjacent valid pixels with DIFFERENT values (the
    * cross-value neighbor graph gdal_sieve merges along; equal-value
    * neighbors are by definition the same fragment). Cross-tile
    * adjacency comes from [[regionStrips]] pairs. */
  def regionNeighbors(block: Long, raw: Array[Byte]): Array[(Long, Long)] = {
    val v = decode(raw)
    neighborsFrom(block, v, regionRoots(v))
  }

  private def neighborsFrom(block: Long, v: Array[Double],
      roots: Array[Int]): Array[(Long, Long)] = {
    val seen = new java.util.HashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    @inline def emit(a: Int, b: Int): Unit = {
      if (roots(a) >= 0 && roots(b) >= 0 && v(a) != v(b)) {
        val key = math.min(roots(a), roots(b)).toLong * (width * height) +
          math.max(roots(a), roots(b))
        if (seen.add(key))
          out += ((rootGid(block, roots(a)), rootGid(block, roots(b))))
      }
    }
    var p = 0
    while (p < roots.length) {
      val i = p % width
      if (i + 1 < width) emit(p, p + 1)
      if (p + width < roots.length) emit(p, p + width)
      p += 1
    }
    out.toArray
  }

  /** Boundary strips for the cross-tile label merge, straight from the
    * VALUE blob (union-find runs inline — the expensive float64 label
    * blob never materializes on the sizes path): every valid pixel on
    * the tile's four edges as (dir, idx, lab, v) — dir 0=E (i=w−1),
    * 1=S (j=h−1), 2=W (i=0), 3=N (j=0); idx the along-edge coordinate
    * (j for E/W, i for N/S); `lab` the fragment's [[regionLabel]] gid.
    * The caller equi-joins opposing strips of adjacent tiles (E↔W, S↔N)
    * and keeps equal-value pairs — the label-graph edges, ~2(w+h) rows
    * per tile instead of pixels. */
  def regionStrips(block: Long, valRaw: Array[Byte]): Array[(Int, Int, Long, Double)] = {
    val v = decode(valRaw)
    stripsFrom(block, v, regionRoots(v))
  }

  private def stripsFrom(block: Long, v: Array[Double],
      roots: Array[Int]): Array[(Int, Int, Long, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Double)]
    @inline def emit(dir: Int, idx: Int, p: Int): Unit =
      if (roots(p) >= 0) out += ((dir, idx, rootGid(block, roots(p)), v(p)))
    var j = 0
    while (j < height) {
      emit(0, j, j * width + (width - 1))
      emit(2, j, j * width)
      j += 1
    }
    var i = 0
    while (i < width) {
      emit(1, i, (height - 1) * width + i)
      emit(3, i, i)
      i += 1
    }
    out.toArray
  }

  /** IDW point interpolation (the `gdal_grid invdist:power=2` shape) over
    * GLOBAL zoom-z pixel coordinates: each output pixel is the
    * inverse-distance-squared weighted mean of the points within
    * `radius` pixels (Euclidean), an EXACT coordinate hit returns that
    * point's value directly (gdal_grid's zero-distance rule; first in
    * array order wins), and pixels with no point in radius are NaN.
    * The accumulation is a LEFT-ASSOCIATED chain in array order with
    * w = 1/d² formed before the multiply — callers pass points sorted by
    * id so any IEEE engine (the DuckDB oracle) replays every double
    * bit-for-bit, the same contract as [[fillOf]]'s row-major chain.
    * Returns a float64 gzip blob. */
  def idwGrid(block: Long, pxs: Array[Long], pys: Array[Long],
      vals: Array[Double], radius: Long): Array[Byte] = {
    val tx = Quadbin.tileX(block)
    val ty = Quadbin.tileY(block)
    val out = new Array[Double](width * height)
    val r2 = radius * radius
    var j = 0
    while (j < height) {
      val gy = ty * height + j
      var i = 0
      while (i < width) {
        val gx = tx * width + i
        var num = 0.0; var den = 0.0
        var exact = Double.NaN; var hasExact = false
        var k = 0
        while (k < pxs.length) {
          val dx = gx - pxs(k); val dy = gy - pys(k)
          val d2 = dx * dx + dy * dy
          if (d2 == 0) { if (!hasExact) { exact = vals(k); hasExact = true } }
          else if (d2 <= r2) {
            val w = 1.0 / d2.toDouble
            num += vals(k) * w
            den += w
          }
          k += 1
        }
        out(j * width + i) =
          if (hasExact) exact else if (den > 0) num / den else Double.NaN
        i += 1
      }
      j += 1
    }
    PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** The rest of the `gdal_grid` algorithm family over the same
    * global-pixel-coordinate frame as [[idwGrid]] — mode 0 = `average`
    * (arithmetic mean of the points within `radius`, including an exact
    * coordinate hit; no points → NaN), mode 1 = `nearest` (the value of
    * the closest point by squared Euclidean distance, ties to the FIRST
    * point in array order — callers pass points sorted by id, so "first"
    * means lowest id; nothing in radius → NaN), mode 2 = the `count`
    * data metric (number of points in radius, 0 where none — a complete
    * density raster, not a sparse one). The average accumulates a
    * left-associated chain in array order like [[idwGrid]], so a SQL
    * oracle replays every double bit-for-bit. Returns a float64 gzip
    * blob. Reference reach: GDAL delegation (`raquet/raster2raquet.py`)
    * — gdal_grid's average/nearest/count algorithms. */
  def gridStat(block: Long, pxs: Array[Long], pys: Array[Long],
      vals: Array[Double], radius: Long, mode: Int): Array[Byte] = {
    val tx = Quadbin.tileX(block)
    val ty = Quadbin.tileY(block)
    val out = new Array[Double](width * height)
    val r2 = radius * radius
    var j = 0
    while (j < height) {
      val gy = ty * height + j
      var i = 0
      while (i < width) {
        val gx = tx * width + i
        var sum = 0.0; var cnt = 0L
        var bestD2 = Long.MaxValue; var bestV = Double.NaN
        var k = 0
        while (k < pxs.length) {
          val dx = gx - pxs(k); val dy = gy - pys(k)
          val d2 = dx * dx + dy * dy
          if (d2 <= r2) {
            sum += vals(k); cnt += 1
            if (d2 < bestD2) { bestD2 = d2; bestV = vals(k) }
          }
          k += 1
        }
        out(j * width + i) = mode match {
          case 0 => if (cnt > 0) sum / cnt.toDouble else Double.NaN
          case 1 => bestV
          case _ => cnt.toDouble
        }
        i += 1
      }
      j += 1
    }
    PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** Rasterize (vector burn-in, the `gdal_rasterize` shape): paint each
    * zone's value onto every pixel whose CENTER falls inside its geometry
    * (the same center rule as [[clipStats]]); overlaps resolve
    * deterministically by MAX value; untouched pixels stay nodata. Whole-
    * tile zones take the containsBox fast path (no pixel runs built).
    * Returns a well-formed gzip band blob of this kernel's dtype. */
  def rasterize(block: Long, values: Array[Double],
      geoms: Array[Geom]): Array[Byte] = {
    val fill = if (nodata.isNaN) Double.NaN else nodata
    val out = new Array[Double](width * height)
    java.util.Arrays.fill(out, fill)
    val box = tileBox(block)
    var k = 0
    while (k < geoms.length) {
      val g = geoms(k)
      if (g.intersectsBox(box)) {
        val runs = if (g.containsBox(box)) PixelRuns.all(out.length) else pixelRuns(block, g)
        val v = values(k)
        var r = 0
        while (r < runs.count) {
          var p = runs.start(r)
          while (p < runs.end(r)) {
            val cur = out(p)
            val unset = java.lang.Double.isNaN(cur) || (!nodata.isNaN && cur == nodata)
            if (unset || v > cur) out(p) = v
            p += 1
          }
          r += 1
        }
      }
      k += 1
    }
    PixelCodec.encode(out, dtype, gzip = true)
  }

  /** Per-tile bucket histogram over valid (non-nodata/non-NaN) raw DN
    * values: GDAL bucket convention, `idx = floor((v − min)/width)`,
    * values outside [min, max) dropped. With min −0.5 / max 255.5 / 256
    * buckets this is the spec's exact per-DN count (`raquet.md:367-372`).
    * Returns a mergeable count vector — element-wise sums across tiles
    * give the exact dataset distribution without a global sort. */
  def histogram(raw: Array[Byte], min: Double, max: Double,
      buckets: Int): Array[Long] = {
    val v = decode(raw)
    val w = (max - min) / buckets
    val out = new Array[Long](buckets)
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (!(java.lang.Double.isNaN(x) || (!nodata.isNaN && x == nodata))) {
        val b = ((x - min) / w).toInt
        if (x >= min && b >= 0 && b < buckets) out(b) += 1
      }
      i += 1
    }
    out
  }

  /** Child tile for zoom refinement (the inverse of [[Downsample]]):
    * quadrant `q` (0..3, Morton order — qx = q&1, qy = q>>1) of this tile
    * upsampled ×2 by nearest-neighbour pixel replication. Child pixel
    * (i, j) = parent ((qx·w+i)/2, (qy·h+j)/2); nodata replicates like any
    * value, so holes stay holes. */
  def childTile(raw: Array[Byte], q: Int): Array[Byte] = {
    require(q >= 0 && q < 4, s"quadrant must be 0..3, got $q")
    val qx = q & 1
    val qy = q >> 1
    val v = decode(raw)
    val out = new Array[Double](width * height)
    var j = 0
    while (j < height) {
      val pj = (qy * height + j) >> 1
      var i = 0
      while (i < width) {
        out(j * width + i) = v(pj * width + ((qx * width + i) >> 1))
        i += 1
      }
      j += 1
    }
    PixelCodec.encode(out, dtype, gzip = true)
  }

  /** Per-tile bucket histogram restricted to pixels whose CENTER falls
    * inside `geom` — the zonal twin of [[histogram]], with [[clipStats]]'s
    * box fast paths (fully-inside tiles build no pixel runs, fully-outside
    * tiles return null before any decode). Merging these
    * vectors per zone gives exact zonal distributions/percentiles. */
  def clipHistogram(raw: Array[Byte], block: Long, geom: Geom,
      min: Double, max: Double, buckets: Int): Array[Long] =
    clipHistogramOn(decode(raw), block, geom, min, max, buckets)

  /** [[clipHistogram]] over PRE-DECODED values — the multi-zone path
    * decodes each tile once and runs this per overlapping zone. */
  def clipHistogramOn(v: Array[Double], block: Long, geom: Geom,
      min: Double, max: Double, buckets: Int): Array[Long] = {
    val box = tileBox(block)
    if (!geom.intersectsBox(box)) return null
    val runs = if (geom.containsBox(box)) PixelRuns.all(width * height)
      else pixelRuns(block, geom)
    val bw = (max - min) / buckets
    val out = new Array[Long](buckets)
    var r = 0
    while (r < runs.count) {
      var i = runs.start(r)
      while (i < runs.end(r)) {
        val p = v(i)
        if (!(java.lang.Double.isNaN(p) || (!nodata.isNaN && p == nodata))) {
          val b = ((p - min) / bw).toInt
          if (p >= min && b >= 0 && b < buckets) out(b) += 1
        }
        i += 1
      }
      r += 1
    }
    out
  }

  /** Scaled (physical) per-pixel values; nodata/NaN → NaN. */
  def physical(raw: Array[Byte]): Array[Double] = {
    val v = decode(raw)
    var i = 0
    while (i < v.length) {
      val x = v(i)
      v(i) = if (java.lang.Double.isNaN(x) || (!nodata.isNaN && x == nodata)) Double.NaN
             else x * scale + offset
      i += 1
    }
    v
  }
}

/** One tile-local region fragment: label gid, pixel count, constant
  * value, and the fragment's global-pixel bounding box (mutable — built
  * in one pass by [[BandKernel.regionSizes]]). */
final case class RegionFragment(lab: Long, var n: Long, v: Double,
    var gx0: Long, var gy0: Long, var gx1: Long, var gy1: Long)

/** One tile's fused region analysis ([[BandKernel.regionAnalysis]]):
  * boundary strips + fragment table from a single decode + union-find,
  * with the optional neighbor pairs / label blob null when not requested. */
final case class RegionAnalysis(
    strips: Array[(Int, Int, Long, Double)],
    frags: Array[RegionFragment],
    nbrs: Array[(Long, Long)],
    lab: Array[Byte])

object BandKernel {

  /** Marching squares over an already-physical, already-masked grid `g`
    * of row width `gw`: cells (ci, cj) for ci in [ci0, ciEnd), cj in
    * [cj0, cjEnd), top-left pixel g(cj·gw + ci); emitted coordinates are
    * (ci + xOff + t, cj + yOff + t). Cells touching a NaN pixel emit
    * nothing; saddles split by the center average (GDAL's rule);
    * endpoints canonically ordered, cells row-major → deterministic. */
  def marchingSquares(g: Array[Double], gw: Int, ci0: Int, ciEnd: Int,
      cj0: Int, cjEnd: Int, xOff: Double, yOff: Double,
      level: Double): Array[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def seg(p: Array[Double], q: Array[Double]): Unit =
      out += (if (p(0) < q(0) || (p(0) == q(0) && p(1) <= q(1)))
        Array(p(0), p(1), q(0), q(1)) else Array(q(0), q(1), p(0), p(1)))
    var cj = cj0
    while (cj < cjEnd) {
      var ci = ci0
      while (ci < ciEnd) {
        val a = g(cj * gw + ci)
        val b = g(cj * gw + ci + 1)
        val c = g((cj + 1) * gw + ci)
        val d = g((cj + 1) * gw + ci + 1)
        if (!a.isNaN && !b.isNaN && !c.isNaN && !d.isNaN) {
          val sa = a > level; val sb = b > level
          val sc = c > level; val sd = d > level
          if (!(sa == sb && sb == sc && sc == sd)) {
            val x = ci + xOff
            val y = cj + yOff
            def t(va: Double, vb: Double) = (level - va) / (vb - va)
            val top = if (sa != sb) Array(x + t(a, b), y) else null
            val right = if (sb != sd) Array(x + 1.0, y + t(b, d)) else null
            val bottom = if (sc != sd) Array(x + t(c, d), y + 1.0) else null
            val left = if (sa != sc) Array(x, y + t(a, c)) else null
            if (top != null && right != null && bottom != null && left != null) {
              // saddle: the center average decides which corners connect
              if (sa == ((a + b + c + d) / 4 > level)) {
                seg(top, right); seg(left, bottom) // b and c isolated
              } else {
                seg(top, left); seg(right, bottom) // a and d isolated
              }
            } else {
              val pts = Array(top, right, bottom, left).filter(_ != null)
              seg(pts(0), pts(1))
            }
          }
        }
        ci += 1
      }
      cj += 1
    }
    out.toArray
  }
  /** Resolve a kernel from parsed metadata + band name. */
  def apply(meta: RaquetMetadata, bandName: String): BandKernel = {
    val bm = meta.band(bandName)
    BandKernel(
      dtype = bm.bandType,
      nodata = bm.nodata.getOrElse(Double.NaN),
      width = meta.blockWidth,
      height = meta.blockHeight,
      scale = bm.scale.getOrElse(1.0),
      offset = bm.offset.getOrElse(0.0))
  }
}

/** Two-band kernels for band-math (`ST_NormalizedDifference`,
  * `docs/engines.md:49,96-101`): per-pixel (a-b)/(a+b) over physical values,
  * NaN where either side is nodata/NaN or the sum is zero. */
final case class BandPairKernel(a: BandKernel, b: BandKernel) extends Serializable {

  /** Generic per-pixel map algebra over physical values: op ∈
    * add/sub/mul/div/min/max/ratio; NaN propagates from either side and
    * div/ratio guard zero denominators with NaN (never ±Inf surprises). */
  def bandMath(rawA: Array[Byte], rawB: Array[Byte], op: String): Array[Double] = {
    val va = a.physical(rawA)
    val vb = b.physical(rawB)
    val n = math.min(va.length, vb.length)
    val out = new Array[Double](n)
    var i = 0
    op match {
      case "add" => while (i < n) { out(i) = va(i) + vb(i); i += 1 }
      case "sub" => while (i < n) { out(i) = va(i) - vb(i); i += 1 }
      case "mul" => while (i < n) { out(i) = va(i) * vb(i); i += 1 }
      case "div" | "ratio" =>
        while (i < n) {
          out(i) = if (vb(i) == 0.0) Double.NaN else va(i) / vb(i)
          i += 1
        }
      case "min" => while (i < n) { out(i) = math.min(va(i), vb(i)); i += 1 }
      case "max" => while (i < n) { out(i) = math.max(va(i), vb(i)); i += 1 }
      case other => throw new IllegalArgumentException(
        s"bandMath: unsupported op '$other' (add/sub/mul/div/ratio/min/max)")
    }
    out
  }
  def normalizedDifference(rawA: Array[Byte], rawB: Array[Byte]): Array[Double] = {
    val va = a.physical(rawA)
    val vb = b.physical(rawB)
    val n = math.min(va.length, vb.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val s = va(i) + vb(i)
      out(i) = if (s == 0.0) Double.NaN else (va(i) - vb(i)) / s
      i += 1
    }
    out
  }

  /** Fused one-pass stats over [[bandMath]]'s result — no intermediate
    * array, the ndStats pattern for arbitrary ops; null if no valid
    * pixel. */
  def bandMathStats(rawA: Array[Byte], rawB: Array[Byte],
      op: String): Array[Double] = {
    val v = bandMath(rawA, rawB, op)
    var cnt = 0L
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var sum = 0.0
    var sumSq = 0.0
    var i = 0
    while (i < v.length) {
      val x = v(i)
      if (!java.lang.Double.isNaN(x)) {
        cnt += 1
        if (x < mn) mn = x
        if (x > mx) mx = x
        sum += x
        sumSq += x * x
      }
      i += 1
    }
    if (cnt == 0L) null else Array(cnt.toDouble, mn, mx, sum, sumSq)
  }

  /** ST_NormalizedDifferenceStats (`docs/engines.md:100`): fused
    * [count,min,max,sum,sumSq] over the valid (non-NaN) normalized-difference
    * pixels — one pass, no intermediate ND array; null if no valid pixel. */
  def ndStats(rawA: Array[Byte], rawB: Array[Byte]): Array[Double] = {
    val va = a.physical(rawA)
    val vb = b.physical(rawB)
    val n = math.min(va.length, vb.length)
    var cnt = 0L
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var sum = 0.0
    var sumSq = 0.0
    var i = 0
    while (i < n) {
      val s = va(i) + vb(i)
      // s is NaN when either side is invalid; nd is NaN for Inf/Inf inputs —
      // both must be excluded (matching stats over the ND array, which
      // skips exactly the NaN entries)
      if (s != 0.0 && !java.lang.Double.isNaN(s)) {
        val nd = (va(i) - vb(i)) / s
        if (!java.lang.Double.isNaN(nd)) {
          cnt += 1
          if (nd < mn) mn = nd
          if (nd > mx) mx = nd
          sum += nd
          sumSq += nd * nd
        }
      }
      i += 1
    }
    if (cnt == 0L) null else Array(cnt.toDouble, mn, mx, sum, sumSq)
  }
}

/** gdal_pansharpen (Brovey weighted-ratio): sharp_i = M_i · P / mean(M) over
  * PHYSICAL values (scale/offset applied) — the multispectral bands are
  * upsampled to the pan grid first ([[Pyramid.upsampleLevel]]), so this is a
  * pure per-pixel kernel: no shuffle beyond the one block equi-join that
  * stacks the bands. Any invalid input (nodata/absent) → NaN. Output is a
  * float64 gzip blob ([[graft.operators.Focal.outKernel]] decodes it). */
object Pansharpen {
  def brovey(kp: BandKernel, ki: BandKernel, kj: BandKernel,
      pan: Array[Byte], mi: Array[Byte], mj: Array[Byte]): Array[Byte] = {
    val p = kp.decode(pan)
    val a = ki.decode(mi)
    val b = kj.decode(mj)
    @inline def phys(k: BandKernel, v: Double): Double =
      if (java.lang.Double.isNaN(v) || (!k.nodata.isNaN && v == k.nodata))
        Double.NaN
      else v * k.scale + k.offset
    val out = new Array[Double](p.length)
    var i = 0
    while (i < p.length) {
      val pp = phys(kp, p(i))
      val ai = phys(ki, a(i))
      val bj = phys(kj, b(i))
      // NaN propagates from any invalid input; the oracle replays the
      // exact expression tree, so doubles match bit-for-bit
      out(i) = ai * pp / ((ai + bj) / 2)
      i += 1
    }
    PixelCodec.encode(out, "float64", gzip = true)
  }
}

/** Nodata-aware 2×2 downsampling for pyramid/overview builds (M5): four child
  * tiles (Morton order: (0,0),(1,0),(0,1),(1,1); null = absent/empty child)
  * reduce to one parent tile at zoom-1. Resampling kernels (the reference
  * exposes GDAL's overview list, `raster2raquet.py:82-101`):
  *  - "average" (default): mean of VALID children per 2×2 cell; integer
  *    dtypes round half-even; all-invalid cells become nodata (or NaN for
  *    float bands without nodata)
  *  - "mode": most frequent VALID child value, ties to the LOWEST value —
  *    categorical-safe (never invents a class); all-invalid → nodata
  *  - "bilinear": strict 4-tap — the parent pixel center sits on the
  *    corner of its 4 children, equal weights; ANY invalid tap → nodata
  *    (interpolating across a hole would smear it)
  *  - "near": the top-left child pixel passes through, nodata included
  *  - "min" / "max" / "med" / "q1" / "q3": order statistics over the VALID
  *    children — sorted ascending, index 0 / n−1 / (n−1)/2 / (n−1)/4 /
  *    3(n−1)/4 (nearest-rank-lower: deterministic, never interpolates, so
  *    categorical bands stay categorical); all-invalid → nodata
  *  - "rms": sqrt(mean of squares) of the VALID children; integer dtypes
  *    round half-even; all-invalid → nodata
  *  - "sum": sum of the VALID children, SATURATED at the dtype range
  *    (encode wraps, so un-clamped uint8 sums would alias) — GDAL's SUM
  *    overview clamps the same way; all-invalid → nodata
  * The cubic/cubicspline/lanczos convolution kernels need neighbor-tile
  * halos and live in [[Pyramid.buildLevel]]'s convolved path, not here.
  * Replaces the reference's GDAL-warp recursive descent
  * (`raster2raquet.py:1066-1187`) with a pure reduce.
  */
object Downsample {
  val Resamplings: Set[String] = Set("average", "mode", "bilinear", "near",
    "min", "max", "med", "q1", "q3", "rms", "sum")

  /** Per-axis tap weights for the separable convolution overview kernels
    * (cubic = Catmull-Rom, cubicspline = cubic B-spline, lanczos a=3). A 2×
    * downsample always lands the parent pixel center half a source pixel
    * from the nearest tap, so the weights are the SAME for every pixel:
    * kernel K evaluated at |x| = 0.5, 1.5 (and 2.5 for lanczos), ordered by
    * ascending source index. Like the strict 4-tap bilinear these are the
    * interpolation-mode taps (not GDAL-warp's 2×-stretched anti-aliased
    * window); invalid taps renormalize — num/den over the VALID taps only,
    * den ≤ 0 → nodata — GDAL's convolution nodata semantics. Kernels that
    * need neighbor-tile pixels (radius ≥ 1) are driven by
    * [[Pyramid.buildLevel]]'s halo-exchange path, not the 2×2 reduce. */
  val ConvWeights: Map[String, Array[Double]] = {
    val p2 = math.Pi * math.Pi
    Map(
      // Catmull-Rom: w(0.5) = 9/16, w(1.5) = -1/16 — exact binary
      "cubic" -> Array(-0.0625, 0.5625, 0.5625, -0.0625),
      // cubic B-spline: B(0.5) = 23/48, B(1.5) = 1/48
      "cubicspline" -> Array(0.125 / 6.0, 2.875 / 6.0, 2.875 / 6.0, 0.125 / 6.0),
      // lanczos a=3: L(x) = sinc(x)·sinc(x/3) at 0.5/1.5/2.5 —
      // 6/π², −4/(3π²), 6/(25π²); renormalization makes Σw = 1 moot
      "lanczos" -> Array(6.0 / (25.0 * p2), -4.0 / (3.0 * p2), 6.0 / p2,
        6.0 / p2, -4.0 / (3.0 * p2), 6.0 / (25.0 * p2)))
  }

  /** Saturation bounds for integer dtypes (encode wraps, so convolution
    * overshoot and SUM overviews must clamp before encoding). */
  def dtypeRange(dtype: String): (Double, Double) = dtype match {
    case "uint8"  => (0.0, 255.0)
    case "int8"   => (-128.0, 127.0)
    case "uint16" => (0.0, 65535.0)
    case "int16"  => (-32768.0, 32767.0)
    case "uint32" => (0.0, 4294967295.0)
    case "int32"  => (Int.MinValue.toDouble, Int.MaxValue.toDouble)
    case "uint64" => (0.0, 1.8446744073709552E19)
    case "int64"  => (Long.MinValue.toDouble, Long.MaxValue.toDouble)
    case _        => (Double.NegativeInfinity, Double.PositiveInfinity)
  }

  /** Separable convolution over an assembled (2w+2R)×(2h+2R) source mosaic
    * (NaN = absent/invalid) → one encoded parent tile. Tap accumulation is
    * row-major so the oracle can replay the exact IEEE summation order. */
  def convolveParent(k: BandKernel, weights: Array[Double],
      mosaic: Array[Double]): Array[Byte] = {
    val w = k.width; val h = k.height
    val r = weights.length / 2 - 1
    val mw = 2 * w + 2 * r
    val isInt = k.dtype != "float16" && k.dtype != "float32" && k.dtype != "float64"
    val fill = if (!k.nodata.isNaN) k.nodata else Double.NaN
    val (dtMin, dtMax) = dtypeRange(k.dtype)
    @inline def valid(v: Double): Boolean =
      !java.lang.Double.isNaN(v) && !(!k.nodata.isNaN && v == k.nodata)
    val out = new Array[Double](w * h)
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        // taps at source (2i−r+a, 2j−r+b) = mosaic (2i+a, 2j+b)
        var num = 0.0
        var den = 0.0
        var b = 0
        while (b < weights.length) {
          val wy = weights(b)
          val row = (2 * j + b) * mw + 2 * i
          var a = 0
          while (a < weights.length) {
            val v = mosaic(row + a)
            if (valid(v)) { val wt = wy * weights(a); num += wt * v; den += wt }
            a += 1
          }
          b += 1
        }
        out(j * w + i) =
          if (den <= 0.0) fill
          else {
            val x = num / den
            if (isInt) math.min(math.max(math.rint(x), dtMin), dtMax) else x
          }
        i += 1
      }
      j += 1
    }
    PixelCodec.encode(out, k.dtype, gzip = true)
  }

  def parentTile(k: BandKernel,
      c00: Array[Byte], c10: Array[Byte], c01: Array[Byte], c11: Array[Byte],
      resampling: String = "average"): Array[Byte] = {
    require(Resamplings(resampling),
      s"overview resampling must be one of ${Resamplings.mkString("/")}, " +
        s"got $resampling")
    val w = k.width; val h = k.height
    val kids = Array(c00, c10, c01, c11).map(r => if (r == null) null else k.decode(r))
    val out = new Array[Double](w * h)
    val isInt = k.dtype != "float16" && k.dtype != "float32" && k.dtype != "float64"
    val fill = if (!k.nodata.isNaN) k.nodata else Double.NaN
    // hoist the kernel dispatch out of the pixel loop (one branch per pixel,
    // not a string-equals chain)
    val op = resampling match {
      case "average" => 0; case "bilinear" => 1; case "mode" => 2
      case "near" => 3; case "min" => 4; case "max" => 5; case "med" => 6
      case "q1" => 7; case "q3" => 8; case "rms" => 9; case "sum" => 10
    }
    val (dtMin, dtMax) = dtypeRange(k.dtype)
    val cell = new Array[Double](4)
    @inline def valid(v: Double): Boolean =
      !java.lang.Double.isNaN(v) && !(!k.nodata.isNaN && v == k.nodata)
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        // source child: (i div (w/2), j div (h/2)); source pixel 2*(i mod w/2)+d
        val child = kids((if (j >= h / 2) 2 else 0) + (if (i >= w / 2) 1 else 0))
        val si = 2 * (i % (w / 2)); val sj = 2 * (j % (h / 2))
        var cnt = 0
        if (child != null) {
          var dj = 0
          while (dj < 2) {
            var di = 0
            while (di < 2) {
              val v = child((sj + dj) * w + (si + di))
              if (valid(v)) { cell(cnt) = v; cnt += 1 }
              di += 1
            }
            dj += 1
          }
        }
        out(j * w + i) = op match {
          case 0 => // average
            if (cnt == 0) fill
            else {
              var s = 0.0; var x = 0
              while (x < cnt) { s += cell(x); x += 1 }
              if (isInt) math.rint(s / cnt) else s / cnt
            }
          case 1 => // bilinear
            if (cnt < 4) fill
            else {
              val s = cell(0) + cell(1) + cell(2) + cell(3)
              if (isInt) math.rint(s / 4) else s / 4
            }
          case 2 => // mode
            if (cnt == 0) fill
            else {
              // max count, ties to the lowest value — 4 values, plain scans
              var best = Double.NaN; var bestN = 0
              var x = 0
              while (x < cnt) {
                val v = cell(x)
                var n = 0; var y = 0
                while (y < cnt) { if (cell(y) == v) n += 1; y += 1 }
                if (n > bestN || (n == bestN && v < best)) { best = v; bestN = n }
                x += 1
              }
              best
            }
          case 4 | 5 | 6 | 7 | 8 => // order statistics over the valid cells
            if (cnt == 0) fill
            else {
              // insertion sort of ≤4 values
              var x = 1
              while (x < cnt) {
                val v = cell(x); var y = x - 1
                while (y >= 0 && cell(y) > v) { cell(y + 1) = cell(y); y -= 1 }
                cell(y + 1) = v; x += 1
              }
              cell(op match {
                case 4 => 0             // min
                case 5 => cnt - 1       // max
                case 6 => (cnt - 1) / 2 // med (lower median)
                case 7 => (cnt - 1) / 4 // q1
                case _ => 3 * (cnt - 1) / 4 // q3
              })
            }
          case 9 => // rms
            if (cnt == 0) fill
            else {
              var s = 0.0; var x = 0
              while (x < cnt) { s += cell(x) * cell(x); x += 1 }
              val r = math.sqrt(s / cnt)
              if (isInt) math.rint(r) else r
            }
          case 10 => // sum, saturated at the dtype range (encode wraps)
            if (cnt == 0) fill
            else {
              var s = 0.0; var x = 0
              while (x < cnt) { s += cell(x); x += 1 }
              math.min(math.max(s, dtMin), dtMax)
            }
          case _ => // near: top-left child pixel, nodata passes through
            if (child == null) fill else child(sj * w + si)
        }
        i += 1
      }
      j += 1
    }
    PixelCodec.encode(out, k.dtype, gzip = true)
  }
}
