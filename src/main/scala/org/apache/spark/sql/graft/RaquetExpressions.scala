// Compiled inside the org.apache.spark.sql namespace so the expressions can
// use private[sql] catalyst scaffolding (AbstractDataType etc.).
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.geo.{Geom, Wkt}
import graft.raquet.{BandKernel, BandPairKernel}

/** Catalyst expressions for the raster function surface (SURVEY.md §2.8
  * F10-F14, §2.4 A1): decode, per-tile summary stats, point value, clip
  * stats, normalized difference, focal, region and temporal kernels. The
  * resolved [[BandKernel]] (dtype, nodata, tile size, scale/offset from the
  * dataset's metadata) and every other plan-time constant are constructor
  * parameters, bound once at plan time. Each tile kernel states its value
  * once, as `compute` over its children's values, on the
  * [[TileKernelExpression]] template: `eval` calls it, and the template's
  * one `doGenCode` calls it on the expression object bound by reference, so
  * no constant is written into generated Java. The polyfill,
  * `st_quadbin_intersects` and `st_contains` expressions here use the same
  * template. `RqBridge` holds the kernels' shared row/array conversions and
  * the halo-window kernels. Reference
  * semantics: `docs/engines.md:44-61`, `raquet/raster2raquet.py:525-574`,
  * `format-specs/raquet.md:306-345`.
  */
object RqBridge {
  val statsSchema: StructType = StructType(Seq(
    StructField("count", LongType, nullable = false),
    StructField("min", DoubleType, nullable = false),
    StructField("max", DoubleType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("sum_sq", DoubleType, nullable = false),
    StructField("mean", DoubleType, nullable = false),
    StructField("stddev", DoubleType, nullable = false)))

  /** [count,min,max,sum,sumSq] kernel vector → stats InternalRow (null in → null out). */
  def statsRow(s: Array[Double]): InternalRow = {
    if (s == null) return null
    val n = s(0)
    val mean = s(3) / n
    val stddev = math.sqrt(math.max(0.0, s(4) / n - mean * mean))
    InternalRow(s(0).toLong, s(1), s(2), s(3), s(4), mean, stddev)
  }

  /** Contour segments INCLUDING the cells that span into the east/south
    * neighbors, via the focal halo exchange: the padded grid supplies the
    * missing corner pixels, and cells are owned by the tile holding their
    * TOP-LEFT pixel, so every cell of the dataset is emitted exactly once.
    * Coordinates stay in this tile's pixel frame (boundary cells reach
    * x = w / y = h). Raster-edge cells with no halo stay silent (NaN
    * padding), identical to the per-tile kernel. */
  def contourHaloOf(k: BandKernel, raw: Array[Byte], halos: ArrayData,
      level: Double): ArrayData = {
    val pad = k.physicalMasked(assemblePadded(k, raw, halos))
    val segs = graft.raquet.BandKernel.marchingSquares(pad, k.width + 2,
      1, k.width + 1, 1, k.height + 1, -1.0, -1.0, level)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      segs.map(s => ArrayData.toArrayData(s): Any))
  }

  /** Polygonize stage 1 (gdal_polygonize reach): every directed boundary
    * edge of this tile's valid pixels as (x, y, dir, sx, sy, sdir, lab) —
    * start vertex on the global pixel-CORNER lattice, dir 0=E/1=S/2=W/3=N
    * (interior on the RIGHT walking the edge), successor (sx, sy, sdir) =
    * the next edge of the same ring, and lab = the owner pixel's tile-
    * local union-find gid (the [[graft.raquet.BandKernel.regionLabel]]
    * roots, mapped to global regions by the caller's component join).
    *
    * An edge exists where a pixel's 4-neighbor (via the focal halo for
    * cross-tile sides) is absent/nodata or carries a DIFFERENT value. The
    * successor is a PURE LOCAL function of the ≤4 pixel values around the
    * end vertex — square tracing: turn right if the ahead-right pixel
    * leaves the region, else straight if ahead-left leaves it, else turn
    * left (ahead-left is 4-connected to the owner through ahead-right, so
    * the ring never jumps regions; at a diagonal pinch the tight right
    * turn keeps each contour simple). Successor edges always exist and
    * the successor map is a permutation, so segments decompose into
    * disjoint rings; with this orientation the shoelace sum is POSITIVE
    * for outer rings and negative for holes. */
  def regionSegmentsOf(k: BandKernel, block: Long, raw: Array[Byte],
      halos: ArrayData): ArrayData = {
    val w = k.width; val h = k.height; val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val nodata = k.nodata; val hasNd = !nodata.isNaN
    @inline def validV(v: Double): Boolean =
      !java.lang.Double.isNaN(v) && !(hasNd && v == nodata)
    val interior = new Array[Double](w * h)
    var j = 0
    while (j < h) {
      System.arraycopy(pad, (j + 1) * pw + 1, interior, j * w, w)
      j += 1
    }
    val roots = k.regionRoots(interior)
    val tx = graft.quadbin.Quadbin.tileX(block)
    val ty = graft.quadbin.Quadbin.tileY(block)
    val gx0 = tx * w; val gy0 = ty * h
    @inline def at(px: Long, py: Long): Double = {
      val ix = px - gx0 + 1; val iy = py - gy0 + 1
      if (ix < 0 || ix > w + 1 || iy < 0 || iy > h + 1) Double.NaN
      else pad((iy * pw + ix).toInt)
    }
    @inline def inV(px: Long, py: Long, v: Double): Boolean = {
      val q = at(px, py); validV(q) && q == v
    }
    // ahead-right / ahead-left pixels at end vertex (vx, vy) per heading
    @inline def succDir(vx: Long, vy: Long, d: Int, v: Double): Int = {
      val arIn = d match {
        case 0 => inV(vx, vy, v)
        case 1 => inV(vx - 1, vy, v)
        case 2 => inV(vx - 1, vy - 1, v)
        case _ => inV(vx, vy - 1, v)
      }
      if (!arIn) return (d + 1) % 4
      val alIn = d match {
        case 0 => inV(vx, vy - 1, v)
        case 1 => inV(vx, vy, v)
        case 2 => inV(vx - 1, vy, v)
        case _ => inV(vx - 1, vy - 1, v)
      }
      if (!alIn) d else (d + 3) % 4
    }
    val dxs = Array(1L, 0L, -1L, 0L); val dys = Array(0L, 1L, 0L, -1L)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var p = 0
    while (p < w * h) {
      if (roots(p) >= 0) {
        val v = interior(p)
        val i = p % w; val jj = p / w
        val px = gx0 + i; val py = gy0 + jj
        val r = roots(p)
        val lab = (ty * h + r / w) * 4294967296L + (tx * w + r % w)
        // sides in N,E,S,W order → edge dirs E,S,W,N
        var s = 0
        while (s < 4) {
          val (nbx, nby, x0, y0) = s match {
            case 0 => (px, py - 1, px, py)          // N neighbor → E edge
            case 1 => (px + 1, py, px + 1, py)      // E neighbor → S edge
            case 2 => (px, py + 1, px + 1, py + 1)  // S neighbor → W edge
            case _ => (px - 1, py, px, py + 1)      // W neighbor → N edge
          }
          if (!inV(nbx, nby, v)) {
            val d = s // dir == side index by construction of the tables
            val ex = x0 + dxs(d); val ey = y0 + dys(d)
            out += new GenericInternalRow(Array[Any](
              x0, y0, d, ex, ey, succDir(ex, ey, d, v), lab))
          }
          s += 1
        }
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  def intersectsCell(geom: Geom, cell: Long): Boolean = {
    val b = graft.quadbin.Quadbin.cellBounds(cell)
    geom.intersectsBox(graft.geo.BBox(b(0), b(1), b(2), b(3)))
  }

  /** 3×3 focal mean over one tile + its halo strips. `halos` elements are
    * (dx, dy, vals) with (dx, dy) = source tile minus this tile, so (-1, 0)
    * carries the WEST neighbor's east column, (0, -1) the NORTH neighbor's
    * south row, corners a single pixel. Missing halo cells (raster edge)
    * and nodata/NaN pixels are excluded from the window; each output value
    * is sum(physical)/count with ONE division, so engines that sum the same
    * exact (dyadic/integer) pixel values agree bit-for-bit regardless of
    * accumulation order. Output is a FIRST-CLASS float64 band blob (gzip,
    * scale 1 / offset 0, NaN where the whole window is invalid) — the
    * RqReclassify/RqComposite shape — so focal output feeds every
    * downstream blob kernel and the writer without re-encoding, and no
    * 65k-element array ever materializes in the row. */
  def focalOf(k: BandKernel, raw: Array[Byte], halos: ArrayData): Array[Byte] = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val out = new Array[Double](w * h)
    var jj = 0
    while (jj < h) {
      var ii = 0
      while (ii < w) {
        var s = 0.0
        var c = 0
        var oy = 0
        while (oy < 3) {
          val base = (jj + oy) * pw + ii
          var ox = 0
          while (ox < 3) {
            val v = pad(base + ox)
            if (!java.lang.Double.isNaN(v) && !(hasNd && v == nodata)) {
              s += v * k.scale + k.offset
              c += 1
            }
            ox += 1
          }
          oy += 1
        }
        out(jj * w + ii) = if (c == 0) Double.NaN else s / c
        ii += 1
      }
      jj += 1
    }
    graft.raquet.PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** gdal_fillnodata-style hole filling over one tile + halo strips (same
    * exchange/label contract as [[focalOf]]): valid pixels pass through as
    * physical values; a nodata/missing pixel becomes the inverse-distance-
    * weighted mean of its VALID 3×3 neighbors (weight 1 edge-adjacent,
    * 1/√2 diagonal), NaN if the whole window is invalid (an iterative
    * caller re-runs until holes close). Accumulation is row-major with
    * invalid terms contributing +0.0 — algebraically the oracle's
    * left-associated coalesce(·,0) chain, so with IEEE-exact weights
    * (sqrt and divide are correctly rounded) both engines produce
    * bit-identical doubles. */
  def fillOf(k: BandKernel, raw: Array[Byte], halos: ArrayData): Array[Byte] = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val wDiag = 1.0 / math.sqrt(2.0)
    @inline def valid(v: Double): Boolean =
      !java.lang.Double.isNaN(v) && !(hasNd && v == nodata)
    val out = new Array[Double](w * h)
    var jj = 0
    while (jj < h) {
      var ii = 0
      while (ii < w) {
        val c = pad((jj + 1) * pw + ii + 1)
        if (valid(c)) out(jj * w + ii) = c * k.scale + k.offset
        else {
          var num = 0.0
          var den = 0.0
          var oy = 0
          while (oy < 3) {
            var ox = 0
            while (ox < 3) {
              if (ox != 1 || oy != 1) {
                val v = pad((jj + oy) * pw + ii + ox)
                if (valid(v)) {
                  val wt = if (ox == 1 || oy == 1) 1.0 else wDiag
                  num += (v * k.scale + k.offset) * wt
                  den += wt
                }
              }
              ox += 1
            }
            oy += 1
          }
          out(jj * w + ii) = if (den > 0) num / den else Double.NaN
        }
        ii += 1
      }
      jj += 1
    }
    graft.raquet.PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** Seed raster for the chamfer distance transform: 0 where the pixel is
    * valid and its PHYSICAL value equals `target`, +∞ elsewhere (float64
    * blob — ∞ survives the gzip round-trip; NaN-padded halos read as ∞ in
    * [[chamferRelax]]). */
  def chamferSeedOf(k: BandKernel, raw: Array[Byte], target: Double): Array[Byte] = {
    val n = k.width * k.height
    val vals = k.decode(raw)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = vals(i)
      out(i) =
        if (!java.lang.Double.isNaN(v) && !(hasNd && v == nodata) &&
          v * k.scale + k.offset == target) 0.0
        else Double.PositiveInfinity
      i += 1
    }
    graft.raquet.PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** One chamfer-(1, √2) relaxation round over a distance raster + halo
    * strips (same exchange contract as [[focalOf]]):
    * d' = min(d, min over 8 neighbors of (dₙ + w)), w = 1 edge-adjacent,
    * √2 diagonal; NaN pad cells (outside the raster) act as ∞. Run k
    * rounds for exact chamfer distance along paths of ≤ k king moves —
    * the gdal_proximity shape, with min's order-independence making every
    * double bit-replayable in SQL. */
  def chamferRelaxOf(k: BandKernel, raw: Array[Byte], halos: ArrayData): Array[Byte] = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val diag = math.sqrt(2.0)
    val out = new Array[Double](w * h)
    var jj = 0
    while (jj < h) {
      var ii = 0
      while (ii < w) {
        var best = pad((jj + 1) * pw + ii + 1)
        if (java.lang.Double.isNaN(best)) best = Double.PositiveInfinity
        var oy = 0
        while (oy < 3) {
          var ox = 0
          while (ox < 3) {
            if (ox != 1 || oy != 1) {
              val v = pad((jj + oy) * pw + ii + ox)
              if (!java.lang.Double.isNaN(v)) {
                val c = v + (if (ox == 1 || oy == 1) 1.0 else diag)
                if (c < best) best = c
              }
            }
            ox += 1
          }
          oy += 1
        }
        out(jj * w + ii) = best
        ii += 1
      }
      jj += 1
    }
    graft.raquet.PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** Horn's-method slope (degrees) over one tile + halo strips (same
    * exchange/label contract as [[focalOf]]). Window cells a..i row-major:
    * dz/dx = ((c+2f+i)−(a+2d+g))/(8·cell), dz/dy = ((g+2h+i)−(a+2b+c))/
    * (8·cell), slope = atan(√(dz/dx²+dz/dy²)) in degrees. Any missing or
    * nodata cell in the window → NaN output for that pixel (the strict GIS
    * convention — a gradient over a hole is not a gradient). For integer /
    * dyadic rasters every op before atan is IEEE-exact, so engines agree
    * to atan's correctly-rounded-input ulp. Output: float64 band blob
    * (same first-class-raster contract as [[focalOf]]). */
  /** Slope via Horn (default: full 3×3, the gdaldem default) or
    * Zevenbergen–Thorne (`zt = true`, gdaldem's `-alg ZevenbergenThorne`):
    * simple central differences over the 4 EDGE neighbors — corners are
    * ignored, so the strict window needs only the center + 4 edge cells. */
  def slopeOf(k: BandKernel, raw: Array[Byte], halos: ArrayData,
      cell: Double, zt: Boolean): Array[Byte] = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val out = new Array[Double](w * h)
    val need = if (zt) Array(1, 3, 4, 5, 7) else Array(0, 1, 2, 3, 4, 5, 6, 7, 8)
    var jj = 0
    while (jj < h) {
      var ii = 0
      while (ii < w) {
        val base = jj * pw + ii
        var ok = true
        val win = new Array[Double](9)
        var t = 0
        while (t < need.length && ok) {
          val p = need(t)
          val v = pad(base + (p / 3) * pw + (p % 3))
          if (java.lang.Double.isNaN(v) || (hasNd && v == nodata)) ok = false
          else win(p) = v * k.scale + k.offset
          t += 1
        }
        out(jj * w + ii) =
          if (!ok) Double.NaN
          else if (zt) {
            val dzdx = (win(5) - win(3)) / (2.0 * cell)
            val dzdy = (win(7) - win(1)) / (2.0 * cell)
            math.toDegrees(math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy)))
          } else {
            val dzdx = ((win(2) + 2.0 * win(5) + win(8)) -
              (win(0) + 2.0 * win(3) + win(6))) / (8.0 * cell)
            val dzdy = ((win(6) + 2.0 * win(7) + win(8)) -
              (win(0) + 2.0 * win(1) + win(2))) / (8.0 * cell)
            math.toDegrees(math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy)))
          }
        ii += 1
      }
      jj += 1
    }
    graft.raquet.PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  /** The per-tile halo strips focal operators take:
    * ARRAY<STRUCT<dx INT, dy INT, vals ARRAY<DOUBLE>>>. */
  val haloType: DataType = ArrayType(StructType(Seq(
    StructField("dx", IntegerType),
    StructField("dy", IntegerType),
    StructField("vals", ArrayType(DoubleType, containsNull = true)))),
    containsNull = true)

  val terrainSchema: StructType = StructType(Seq(
    StructField("slope", BinaryType),
    StructField("aspect", BinaryType),
    StructField("hillshade", BinaryType)))

  /** Full terrain triple from one window pass: Horn slope (degrees, as
    * [[slopeOf]]), downslope aspect (azimuth degrees clockwise from north;
    * NaN when flat — gy grows southward, so north is −dzdy), and
    * Lambertian hillshade `255·(cos z·cos s + sin z·sin s·cos(az−aspect))`
    * clamped at 0 (z = 90−altitude; for flat cells the aspect term
    * vanishes with sin s = 0, so hillshade stays defined). Any missing or
    * nodata cell in the 3×3 window → NaN for all three. */
  def terrainOf(k: BandKernel, raw: Array[Byte], halos: ArrayData,
      cell: Double, azimuthDeg: Double, altitudeDeg: Double): InternalRow = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val slope = new Array[Double](w * h)
    val aspect = new Array[Double](w * h)
    val shade = new Array[Double](w * h)
    val zenRad = math.toRadians(90.0 - altitudeDeg)
    val azRad = math.toRadians(azimuthDeg)
    var jj = 0
    while (jj < h) {
      var ii = 0
      while (ii < w) {
        val base = jj * pw + ii
        var ok = true
        val win = new Array[Double](9)
        var oy = 0
        while (oy < 3 && ok) {
          var ox = 0
          while (ox < 3 && ok) {
            val v = pad(base + oy * pw + ox)
            if (java.lang.Double.isNaN(v) || (hasNd && v == nodata)) ok = false
            else win(oy * 3 + ox) = v * k.scale + k.offset
            ox += 1
          }
          oy += 1
        }
        val o = jj * w + ii
        if (!ok) {
          slope(o) = Double.NaN; aspect(o) = Double.NaN; shade(o) = Double.NaN
        } else {
          val dzdx = ((win(2) + 2.0 * win(5) + win(8)) -
            (win(0) + 2.0 * win(3) + win(6))) / (8.0 * cell)
          val dzdy = ((win(6) + 2.0 * win(7) + win(8)) -
            (win(0) + 2.0 * win(1) + win(2))) / (8.0 * cell)
          val sRad = math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))
          slope(o) = math.toDegrees(sRad)
          val aRad = math.atan2(-dzdx, dzdy)
          aspect(o) =
            if (dzdx == 0.0 && dzdy == 0.0) Double.NaN
            else ((math.toDegrees(aRad) % 360.0) + 360.0) % 360.0
          val hs = 255.0 * (math.cos(zenRad) * math.cos(sRad) +
            math.sin(zenRad) * math.sin(sRad) * math.cos(azRad - aRad))
          shade(o) = if (hs < 0.0) 0.0 else hs
        }
        ii += 1
      }
      jj += 1
    }
    InternalRow(
      graft.raquet.PixelCodec.encode(slope, "float64", gzip = true,
        java.util.zip.Deflater.BEST_SPEED),
      graft.raquet.PixelCodec.encode(aspect, "float64", gzip = true,
        java.util.zip.Deflater.BEST_SPEED),
      graft.raquet.PixelCodec.encode(shade, "float64", gzip = true,
        java.util.zip.Deflater.BEST_SPEED))
  }

  /** gdaldem's MULTIDIRECTIONAL hillshade (Mark 1992 / USGS, the
    * `-multidirectional` flag): four sun azimuths 225/270/315/360° at the
    * given altitude, each Lambertian shade clamped at 0, weighted by
    * sin²(aspect − azimuth) and normalized by the EXACT weight sum 2
    * (Σ sin²(x − az) over two perpendicular azimuth pairs is 2 for any x,
    * so no per-pixel weight normalization pass is needed; flat cells get
    * aspect atan2(±0, 0) — every directional shade is equal there, so the
    * weights cannot matter). Accumulation order is the fixed azimuth
    * order, replayed left-associated by the oracle. */
  def hillshadeMdOf(k: BandKernel, raw: Array[Byte], halos: ArrayData,
      cell: Double, altitudeDeg: Double): Array[Byte] = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val out = new Array[Double](w * h)
    val zenRad = math.toRadians(90.0 - altitudeDeg)
    val azs = Array(225.0, 270.0, 315.0, 360.0).map(math.toRadians)
    var jj = 0
    while (jj < h) {
      var ii = 0
      while (ii < w) {
        val base = jj * pw + ii
        var ok = true
        val win = new Array[Double](9)
        var oy = 0
        while (oy < 3 && ok) {
          var ox = 0
          while (ox < 3 && ok) {
            val v = pad(base + oy * pw + ox)
            if (java.lang.Double.isNaN(v) || (hasNd && v == nodata)) ok = false
            else win(oy * 3 + ox) = v * k.scale + k.offset
            ox += 1
          }
          oy += 1
        }
        out(jj * w + ii) =
          if (!ok) Double.NaN
          else {
            val dzdx = ((win(2) + 2.0 * win(5) + win(8)) -
              (win(0) + 2.0 * win(3) + win(6))) / (8.0 * cell)
            val dzdy = ((win(6) + 2.0 * win(7) + win(8)) -
              (win(0) + 2.0 * win(1) + win(2))) / (8.0 * cell)
            val sRad = math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))
            val aRad = math.atan2(-dzdx, dzdy)
            var acc = 0.0
            var d = 0
            while (d < 4) {
              val hs = 255.0 * (math.cos(zenRad) * math.cos(sRad) +
                math.sin(zenRad) * math.sin(sRad) * math.cos(azs(d) - aRad))
              val sw = math.sin(aRad - azs(d))
              acc += sw * sw * (if (hs < 0.0) 0.0 else hs)
              d += 1
            }
            acc / 2.0
          }
        ii += 1
      }
      jj += 1
    }
    graft.raquet.PixelCodec.encode(out, "float64", gzip = true,
      java.util.zip.Deflater.BEST_SPEED)
  }

  val tpiSchema: StructType = StructType(Seq(
    StructField("tpi", BinaryType),
    StructField("tri", BinaryType),
    StructField("roughness", BinaryType)))

  /** gdaldem's remaining derived surfaces in one window pass: TPI (center
    * minus the mean of its 8 neighbors), TRI (Riley et al. 1999, the
    * gdaldem default algorithm: sqrt of the summed squared center-neighbor
    * differences) and roughness (window max minus min). Strict window —
    * any missing/nodata cell among the 9 → NaN for all three. Every step
    * except sqrt is exact on integer bands and IEEE sqrt is correctly
    * rounded, so an independent engine reproduces the values bit-for-bit
    * (neighbor folds run in fixed a..i order on both sides). */
  def tpiOf(k: BandKernel, raw: Array[Byte], halos: ArrayData): InternalRow = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = assemblePadded(k, raw, halos)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val tpi = new Array[Double](w * h)
    val tri = new Array[Double](w * h)
    val rough = new Array[Double](w * h)
    var jj = 0
    while (jj < h) {
      var ii = 0
      while (ii < w) {
        val base = jj * pw + ii
        var ok = true
        val win = new Array[Double](9)
        var oy = 0
        while (oy < 3 && ok) {
          var ox = 0
          while (ox < 3 && ok) {
            val v = pad(base + oy * pw + ox)
            if (java.lang.Double.isNaN(v) || (hasNd && v == nodata)) ok = false
            else win(oy * 3 + ox) = v * k.scale + k.offset
            ox += 1
          }
          oy += 1
        }
        val o = jj * w + ii
        if (!ok) {
          tpi(o) = Double.NaN; tri(o) = Double.NaN; rough(o) = Double.NaN
        } else {
          val c = win(4)
          var sum = 0.0
          var sq = 0.0
          var mx = win(0)
          var mn = win(0)
          var t = 0
          while (t < 9) {
            val v = win(t)
            if (v > mx) mx = v
            if (v < mn) mn = v
            if (t != 4) { sum += v; val d = c - v; sq += d * d }
            t += 1
          }
          tpi(o) = c - sum / 8.0
          tri(o) = math.sqrt(sq)
          rough(o) = mx - mn
        }
        ii += 1
      }
      jj += 1
    }
    InternalRow(
      graft.raquet.PixelCodec.encode(tpi, "float64", gzip = true,
        java.util.zip.Deflater.BEST_SPEED),
      graft.raquet.PixelCodec.encode(tri, "float64", gzip = true,
        java.util.zip.Deflater.BEST_SPEED),
      graft.raquet.PixelCodec.encode(rough, "float64", gzip = true,
        java.util.zip.Deflater.BEST_SPEED))
  }

  val colorReliefSchema: StructType = StructType(Seq(
    StructField("r", BinaryType),
    StructField("g", BinaryType),
    StructField("b", BinaryType)))

  /** gdaldem color-relief: physical values map through a color ramp to
    * three uint8 band blobs. Linear interpolation between adjacent ramp
    * entries (the gdaldem default), clamping to the end colors outside the
    * ramp; round-half-up to integers (positive values — identical in any
    * IEEE engine); missing/nodata pixels → 0 in all three channels (write
    * the mask from the source band's stats if transparency is needed). */
  def colorReliefOf(k: BandKernel, raw: Array[Byte], breaks: Array[Double],
      colors: Array[Array[Double]]): InternalRow = {
    val n = k.width * k.height
    val px = k.decode(raw)
    val nodata = k.nodata
    val hasNd = !nodata.isNaN
    val out = Array.fill(3)(new Array[Double](n))
    var i = 0
    while (i < n) {
      val dn = px(i)
      if (java.lang.Double.isNaN(dn) || (hasNd && dn == nodata)) {
        out(0)(i) = 0; out(1)(i) = 0; out(2)(i) = 0
      } else {
        val v = dn * k.scale + k.offset
        var ch = 0
        while (ch < 3) {
          val c =
            if (v <= breaks(0)) colors(0)(ch)
            else if (v >= breaks(breaks.length - 1)) colors(breaks.length - 1)(ch)
            else {
              var s = 1
              while (breaks(s) < v) s += 1
              val f = (v - breaks(s - 1)) / (breaks(s) - breaks(s - 1))
              colors(s - 1)(ch) + f * (colors(s)(ch) - colors(s - 1)(ch))
            }
          out(ch)(i) = math.floor(c + 0.5)
          ch += 1
        }
      }
      i += 1
    }
    InternalRow(
      graft.raquet.PixelCodec.encode(out(0), "uint8", gzip = true,
        java.util.zip.Deflater.BEST_SPEED),
      graft.raquet.PixelCodec.encode(out(1), "uint8", gzip = true,
        java.util.zip.Deflater.BEST_SPEED),
      graft.raquet.PixelCodec.encode(out(2), "uint8", gzip = true,
        java.util.zip.Deflater.BEST_SPEED))
  }

  /** Shared halo assembly: (w+2)×(h+2) padded raw-DN grid, NaN outside. */
  private def assemblePadded(k: BandKernel, raw: Array[Byte],
      halos: ArrayData): Array[Double] = {
    val w = k.width; val h = k.height
    val pw = w + 2
    val pad = Array.fill(pw * (h + 2))(Double.NaN)
    val center = k.decode(raw)
    var j = 0
    while (j < h) {
      System.arraycopy(center, j * w, pad, (j + 1) * pw + 1, w)
      j += 1
    }
    if (halos != null) {
      var p = 0
      while (p < halos.numElements()) {
        val r = halos.getStruct(p, 3)
        if (r != null) {
          val dx = r.getInt(0); val dy = r.getInt(1)
          val vals = r.getArray(2).toDoubleArray()
          (dx, dy) match {
            case (-1, 0) =>
              var i = 0; while (i < h) { pad((i + 1) * pw) = vals(i); i += 1 }
            case (1, 0) =>
              var i = 0; while (i < h) { pad((i + 1) * pw + w + 1) = vals(i); i += 1 }
            case (0, -1) =>
              var i = 0; while (i < w) { pad(i + 1) = vals(i); i += 1 }
            case (0, 1) =>
              var i = 0; while (i < w) { pad((h + 1) * pw + i + 1) = vals(i); i += 1 }
            case (-1, -1) => pad(0) = vals(0)
            case (1, -1)  => pad(w + 1) = vals(0)
            case (-1, 1)  => pad((h + 1) * pw) = vals(0)
            case (1, 1)   => pad((h + 1) * pw + w + 1) = vals(0)
            case _        => ()
          }
        }
        p += 1
      }
    }
    pad
  }

  // Per-thread last-parsed WKT: zonal joins deliver long runs of rows for
  // the same polygon, so a 1-entry cache removes re-parsing without any
  // plan-time binding. Keyed by string equality (cheap next to clip work).
  private val tlGeom = new ThreadLocal[(String, Geom)]
  def geomOf(wkt: String): Geom = {
    val c = tlGeom.get()
    if (c != null && c._1 == wkt) c._2
    else {
      val g = Wkt.parse(wkt)
      tlGeom.set((wkt, g))
      g
    }
  }

  def regionStripsOf(k: BandKernel, block: Long,
      valRaw: Array[Byte]): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      k.regionStrips(block, valRaw).map { case (dir, idx, lab, v) =>
        org.apache.spark.sql.catalyst.InternalRow(dir, idx, lab, v): Any
      })

  def regionSizesOf(k: BandKernel, block: Long, raw: Array[Byte]): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      k.regionSizes(block, raw).map { f =>
        org.apache.spark.sql.catalyst.InternalRow(
          f.lab, f.n, f.v, f.gx0, f.gy0, f.gx1, f.gy1): Any
      })

  def regionNeighborsOf(k: BandKernel, block: Long, raw: Array[Byte]): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      k.regionNeighbors(block, raw).map { case (la, lb) =>
        org.apache.spark.sql.catalyst.InternalRow(la, lb): Any
      })

  /** Label-blob remap-and-explode: decode one float64 label blob, map
    * every valid pixel's label through a per-tile O(1) hash table built
    * once per row, and emit (pos, v) structs. Replaces the
    * rq_decode → posexplode → filter(NaN) → element_at(map) chain whose
    * Catalyst map lookup is a LINEAR key scan per pixel (65k pixels ×
    * ~hundreds of fragment keys per tile dominated the sieve-apply
    * output stage). `vals` are doubles; `asLong` emits them as exact
    * longs (labels are < 2^53 by construction). */
  def labelRemapOf(k: BandKernel, lab: Array[Byte], kv: ArrayData,
      asLong: Boolean): ArrayData = {
    val n = kv.numElements()
    val m = new java.util.HashMap[java.lang.Long, java.lang.Double](n * 2)
    var i = 0
    while (i < n) {
      val row = kv.getStruct(i, 2)
      // a NULL 'o' stays NULL (the replaced inner-join path kept the row
      // with a NULL value — getDouble would silently read it as 0.0)
      m.put(row.getLong(0),
        if (row.isNullAt(1)) null else java.lang.Double.valueOf(row.getDouble(1)))
      i += 1
    }
    val px = k.decode(lab)
    val out = new Array[Any](px.length)
    var cnt = 0
    var p = 0
    while (p < px.length) {
      val x = px(p)
      if (!java.lang.Double.isNaN(x)) {
        val key = java.lang.Long.valueOf(x.toLong)
        val v = m.get(key)
        if (v != null) {
          out(cnt) = org.apache.spark.sql.catalyst.InternalRow(p,
            if (asLong) java.lang.Long.valueOf(v.doubleValue().toLong) else v)
          cnt += 1
        } else if (m.containsKey(key)) { // present but NULL-valued
          out(cnt) = org.apache.spark.sql.catalyst.InternalRow(p, null)
          cnt += 1
        }
        // else: label absent from the map — the replaced labelsFrom +
        // inner-join path DROPPED such pixels, so a partial map skips
        // them instead of emitting (pos, null) rows
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (cnt == out.length) out
      else { val t = new Array[Any](cnt); System.arraycopy(out, 0, t, 0, cnt); t })
  }

  /** Two-output variant of [[labelRemapOf]] — kv = (l, o, o2), emits
    * (pos, v, v2) with both outputs as exact longs (callers map labels
    * < 2^53 and pixel counts). One decode + one hash probe per pixel
    * resolves BOTH per-region attributes, so e.g. the sieve-flag path
    * (per-pixel label AND region size) needs no second explode and no
    * pixel-cardinality join. Same partial-map/null semantics: absent
    * labels drop their pixels, a NULL o/o2 stays NULL. */
  def labelRemap2Of(k: BandKernel, lab: Array[Byte], kv: ArrayData): ArrayData = {
    val n = kv.numElements()
    val m = new java.util.HashMap[java.lang.Long, Array[Any]](n * 2)
    var i = 0
    while (i < n) {
      val row = kv.getStruct(i, 3)
      m.put(row.getLong(0), Array[Any](
        if (row.isNullAt(1)) null
        else java.lang.Long.valueOf(row.getDouble(1).toLong),
        if (row.isNullAt(2)) null
        else java.lang.Long.valueOf(row.getDouble(2).toLong)))
      i += 1
    }
    val px = k.decode(lab)
    val out = new Array[Any](px.length)
    var cnt = 0
    var p = 0
    while (p < px.length) {
      val x = px(p)
      if (!java.lang.Double.isNaN(x)) {
        val v = m.get(java.lang.Long.valueOf(x.toLong))
        if (v != null) {
          out(cnt) = org.apache.spark.sql.catalyst.InternalRow(p, v(0), v(1))
          cnt += 1
        }
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (cnt == out.length) out
      else { val t = new Array[Any](cnt); System.arraycopy(out, 0, t, 0, cnt); t })
  }

  /** Fused region analysis (one decode + one union-find per tile): the
    * strips/frags/neighbors/label outputs the four standalone kernels
    * above each recomputed independently. */
  def regionAnalysisOf(k: BandKernel, block: Long, raw: Array[Byte],
      withNeighbors: Boolean, withLabel: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val ra = k.regionAnalysis(block, raw, withNeighbors, withLabel)
    org.apache.spark.sql.catalyst.InternalRow(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ra.strips.map { case (dir, idx, lab, v) =>
          org.apache.spark.sql.catalyst.InternalRow(dir, idx, lab, v): Any
        }),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ra.frags.map { f =>
          org.apache.spark.sql.catalyst.InternalRow(
            f.lab, f.n, f.v, f.gx0, f.gy0, f.gx1, f.gy1): Any
        }),
      if (ra.nbrs == null) null
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        ra.nbrs.map { case (la, lb) =>
          org.apache.spark.sql.catalyst.InternalRow(la, lb): Any
        }),
      ra.lab)
  }

  def idwGridOf(k: BandKernel, block: Long, points: ArrayData,
      radius: Long): Array[Byte] = {
    val n = points.numElements()
    val pxs = new Array[Long](n)
    val pys = new Array[Long](n)
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = points.getStruct(i, 4)
      // field 0 is the point id — only its ORDER matters (the caller
      // sorts the array by it so the IDW chain is deterministic)
      pxs(i) = row.getLong(1)
      pys(i) = row.getLong(2)
      vals(i) = row.getDouble(3)
      i += 1
    }
    k.idwGrid(block, pxs, pys, vals, radius)
  }

  def temporalFillOf(k: BandKernel, stack: ArrayData): ArrayData = {
    val n = stack.numElements()
    val ts = new Array[Double](n)
    val blobs = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val row = stack.getStruct(i, 2)
      ts(i) = row.getDouble(0)
      blobs(i) = row.getBinary(1)
      i += 1
    }
    val filled = k.temporalFill(ts, blobs)
    val rows = new Array[AnyRef](n)
    i = 0
    while (i < n) {
      rows(i) = InternalRow(ts(i), filled(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  def theilSenMkOf(k: BandKernel, stack: ArrayData): InternalRow = {
    val n = stack.numElements()
    val ts = new Array[Double](n)
    val blobs = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val row = stack.getStruct(i, 2)
      ts(i) = row.getDouble(0)
      blobs(i) = row.getBinary(1)
      i += 1
    }
    val (slope, s, tau) = k.theilSenMk(ts, blobs)
    InternalRow(slope, s, tau)
  }

  def gridStatOf(k: BandKernel, block: Long, points: ArrayData,
      radius: Long, mode: Int): Array[Byte] = {
    val n = points.numElements()
    val pxs = new Array[Long](n)
    val pys = new Array[Long](n)
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = points.getStruct(i, 4)
      pxs(i) = row.getLong(1)
      pys(i) = row.getLong(2)
      vals(i) = row.getDouble(3)
      i += 1
    }
    k.gridStat(block, pxs, pys, vals, radius, mode)
  }

  /** Unpack the per-tile zone list (value, wkt) and burn it into a fresh
    * band blob. Zone counts per tile are small (polyfill join), so the
    * per-row WKT parse is bounded by the zone list, not the pixel count. */
  def rasterizeOf(k: BandKernel, block: Long, zones: ArrayData): Array[Byte] = {
    val n = zones.numElements()
    val vals = new Array[Double](n)
    val geoms = new Array[Geom](n)
    var i = 0
    while (i < n) {
      val row = zones.getStruct(i, 2)
      vals(i) = row.getDouble(0)
      geoms(i) = Wkt.parse(row.getUTF8String(1).toString)
      i += 1
    }
    k.rasterize(block, vals, geoms)
  }

  /** Per-pixel OLS fit over a tile's time series: `series` is the sorted
    * ARRAY<STRUCT<x DOUBLE, b BINARY>> a collect_list per block produces;
    * returns (slope[], intercept[]) row-major arrays. A pixel with ANY
    * invalid (nodata/NaN) step fits to NaN (strict, the focal convention);
    * with exact dyadic inputs the sufficient sums are order-independent-
    * exact, so results are bit-reproducible. */
  def temporalFitOf(k: BandKernel, series: ArrayData): InternalRow = {
    val steps = series.numElements()
    val n = k.width * k.height
    val xs = new Array[Double](steps)
    val vals = new Array[Array[Double]](steps)
    var t = 0
    while (t < steps) {
      val row = series.getStruct(t, 2)
      xs(t) = row.getDouble(0)
      vals(t) = k.decode(row.getBinary(1))
      t += 1
    }
    var sx = 0.0
    var sxx = 0.0
    t = 0
    while (t < steps) { sx += xs(t); sxx += xs(t) * xs(t); t += 1 }
    val denom = steps * sxx - sx * sx
    val slope = new Array[Double](n)
    val icpt = new Array[Double](n)
    val hasNd = !k.nodata.isNaN
    var p = 0
    while (p < n) {
      var sy = 0.0
      var sxy = 0.0
      var bad = steps < 2 || denom == 0.0
      t = 0
      while (t < steps && !bad) {
        val v = vals(t)(p)
        if (java.lang.Double.isNaN(v) || (hasNd && v == k.nodata)) bad = true
        else { sy += v; sxy += xs(t) * v }
        t += 1
      }
      if (bad) { slope(p) = Double.NaN; icpt(p) = Double.NaN }
      else {
        val m = (steps * sxy - sx * sy) / denom
        slope(p) = m
        icpt(p) = (sy - m * sx) / steps
      }
      p += 1
    }
    InternalRow(ArrayData.toArrayData(slope), ArrayData.toArrayData(icpt))
  }

  val temporalFitSchema: StructType = StructType(Seq(
    StructField("slope", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("intercept", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Multi-zone clip histograms with ONE decode per tile: `zones` is the
    * per-tile ARRAY<STRUCT<zid BIGINT, wkt STRING>> a polyfill join +
    * collect_list produces; returns (zid, counts) per zone that actually
    * touches the tile. */
  def zonalHistsOf(k: BandKernel, raw: Array[Byte], block: Long,
      zones: ArrayData, min: Double, max: Double, buckets: Int): ArrayData = {
    val n = zones.numElements()
    val v = k.decode(raw)
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](n)
    var i = 0
    while (i < n) {
      val row = zones.getStruct(i, 2)
      val zid = row.getLong(0)
      val g = Wkt.parse(row.getUTF8String(1).toString)
      val h = k.clipHistogramOn(v, block, g, min, max, buckets)
      if (h != null) out += InternalRow(zid, ArrayData.toArrayData(h))
      i += 1
    }
    ArrayData.toArrayData(out.toArray)
  }
}

/** rq_decode(band) → ARRAY<DOUBLE> raw DN values (F10 + F7 gzip sniffing). */
case class RqDecode(child: Expression, kernel: BandKernel) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_decode"
  def compute(raw: Any): Any = ArrayData.toArrayData(kernel.decode(raw.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rq_reclassify(band) with plan-time `breaks`/`classes` → new band blob of
  * the same dtype/nodata (gzip) with each valid pixel's physical value
  * mapped to its bin's class (ST_Reclass shape; left-closed bins, binary
  * search). The output composes with every blob kernel downstream. */
case class RqReclassify(child: Expression, kernel: BandKernel,
    breaks: Array[Double], classes: Array[Double]) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_reclassify"
  def compute(raw: Any): Any = kernel.reclassify(raw.asInstanceOf[Array[Byte]], breaks, classes)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rq_translate(band) — gdal_translate's -scale/-ot as a codegen'd kernel:
  * linear DN rescale a·v + b re-encoded to `outDtype` (half-even rint +
  * range clamp for integer outputs), nodata → `outNodata`. No shuffle. */
case class RqTranslate(child: Expression, kernel: BandKernel,
    outDtype: String, outNodata: Double, a: Double, b: Double) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_translate"
  def compute(raw: Any): Any =
    kernel.translate(raw.asInstanceOf[Array[Byte]], outDtype, outNodata, a, b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rq_brovey(pan, mi, mj) — gdal_pansharpen's Brovey ratio for band i:
  * M_i · P / ((M_i + M_j)/2) over physical values, NaN on any invalid
  * input; float64 gzip blob out ([[graft.raquet.Pansharpen.brovey]]). */
case class RqBrovey(pan: Expression, mi: Expression, mj: Expression,
    kp: BandKernel, ki: BandKernel, kj: BandKernel) extends TernaryTileKernel {
  override def first: Expression = pan
  override def second: Expression = mi
  override def third: Expression = mj
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_brovey"
  def compute(p: Any, a: Any, b: Any): Any =
    graft.raquet.Pansharpen.brovey(kp, ki, kj, p.asInstanceOf[Array[Byte]],
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(
      p: Expression, a: Expression, b: Expression): Expression =
    copy(pan = p, mi = a, mj = b)
}

/** rq_contour(band) with a plan-time `level` → ARRAY<ARRAY<DOUBLE>> of
  * [x1,y1,x2,y2] marching-squares segments in fractional pixel
  * coordinates (the gdal_contour shape; see [[BandKernel.contour]]). */
case class RqContour(child: Expression, kernel: BandKernel, level: Double)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_contour"
  def compute(raw: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      kernel.contour(raw.asInstanceOf[Array[Byte]], level).map(s => ArrayData.toArrayData(s): Any))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rq_focal_contour(band, halos) with a plan-time `level` → contour
  * segments INCLUDING cross-tile cells (halo-label contract of
  * [[RqFocalMean]]; see [[RqBridge.contourHaloOf]] for ownership). */
case class RqFocalContour(band: Expression, halos: Expression,
    kernel: BandKernel, level: Double) extends HaloFocal {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "rq_focal_contour"
  protected def focal(raw: Array[Byte], h: ArrayData): Any =
    RqBridge.contourHaloOf(kernel, raw, h, level)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_region_label(block, band) → float64 blob of per-tile 4-connected
  * equal-value component labels (global-pixel-id of each component's min
  * pixel; see [[graft.raquet.BandKernel.regionLabel]]). */
case class RqRegionLabel(block: Expression, band: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = band
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_region_label"
  def compute(b: Any, raw: Any): Any =
    kernel.regionLabel(b.asInstanceOf[Long], raw.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, band = r)
}

/** rq_region_sizes(block, band) → ARRAY<STRUCT<lab, n>> per-tile fragment
  * size table (see [[graft.raquet.BandKernel.regionSizes]]) — the
  * pixel-volume-free path for global region sizes. */
case class RqRegionSizes(block: Expression, band: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = band
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("lab", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("gx0", LongType, nullable = false),
    StructField("gy0", LongType, nullable = false),
    StructField("gx1", LongType, nullable = false),
    StructField("gy1", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_region_sizes"
  def compute(b: Any, raw: Any): Any =
    RqBridge.regionSizesOf(kernel, b.asInstanceOf[Long], raw.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, band = r)
}

/** rq_region_neighbors(block, band) → ARRAY<STRUCT<la, lb>> of distinct
  * within-tile adjacent fragment pairs with DIFFERENT values (see
  * [[graft.raquet.BandKernel.regionNeighbors]]) — the cross-value
  * neighbor graph the sieve APPLY step merges along. */
case class RqRegionNeighbors(block: Expression, band: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = band
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("la", LongType, nullable = false),
    StructField("lb", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_region_neighbors"
  def compute(b: Any, raw: Any): Any =
    RqBridge.regionNeighborsOf(kernel, b.asInstanceOf[Long], raw.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, band = r)
}

/** rq_region_strips(block, band) → ARRAY<STRUCT<dir, idx, lab, v>> of the
  * tile's valid boundary pixels with their fragment labels (see
  * [[graft.raquet.BandKernel.regionStrips]]); the cross-tile label-merge
  * edges come from equi-joining opposing strips. */
case class RqRegionStrips(block: Expression, band: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = band
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dir", IntegerType, nullable = false),
    StructField("idx", IntegerType, nullable = false),
    StructField("lab", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_region_strips"
  def compute(b: Any, raw: Any): Any =
    RqBridge.regionStripsOf(kernel, b.asInstanceOf[Long], raw.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, band = r)
}

/** rq_region_analysis(block, band) → STRUCT<strips, frags, nbrs, lab> —
  * the fused one-decode one-union-find evaluation of rq_region_strips +
  * rq_region_sizes (+ optionally rq_region_neighbors / rq_region_label;
  * those fields are NULL when not requested). Each field is bit-identical
  * to its standalone kernel's output; [[graft.operators.Regions]]
  * checkpoints ONE such struct per tile instead of re-decoding the band
  * blob per consumer. */
case class RqRegionAnalysis(block: Expression, band: Expression,
    kernel: BandKernel, withNeighbors: Boolean, withLabel: Boolean)
    extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = band
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("strips", ArrayType(StructType(Seq(
      StructField("dir", IntegerType, nullable = false),
      StructField("idx", IntegerType, nullable = false),
      StructField("lab", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("frags", ArrayType(StructType(Seq(
      StructField("lab", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false),
      StructField("gx0", LongType, nullable = false),
      StructField("gy0", LongType, nullable = false),
      StructField("gx1", LongType, nullable = false),
      StructField("gy1", LongType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("nbrs", ArrayType(StructType(Seq(
      StructField("la", LongType, nullable = false),
      StructField("lb", LongType, nullable = false))), containsNull = false),
      nullable = true),
    StructField("lab", BinaryType, nullable = true)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_region_analysis"
  def compute(b: Any, raw: Any): Any =
    RqBridge.regionAnalysisOf(kernel, b.asInstanceOf[Long],
      raw.asInstanceOf[Array[Byte]], withNeighbors, withLabel)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, band = r)
}

/** rq_label_remap(lab, kv) → ARRAY<STRUCT<pos, v>> — per-tile label-blob
  * remap through an O(1) hash table (see [[RqBridge.labelRemapOf]]);
  * `asLong` picks BIGINT output (exact for labels < 2^53), else DOUBLE. */
case class RqLabelRemap(lab: Expression, kv: Expression, kernel: BandKernel,
    asLong: Boolean) extends BinaryTileKernel {
  override def left: Expression = lab
  override def right: Expression = kv
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType,
    ArrayType(StructType(Seq(
      StructField("l", LongType),
      StructField("o", DoubleType))), containsNull = false))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("v", if (asLong) LongType else DoubleType, nullable = true))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_label_remap"
  def compute(l: Any, k: Any): Any =
    RqBridge.labelRemapOf(kernel, l.asInstanceOf[Array[Byte]], k.asInstanceOf[ArrayData], asLong)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lab = l, kv = r)
}

/** rq_label_remap2(lab, kv) → ARRAY<STRUCT<pos, v, v2>> — the two-output
  * label remap (see [[RqBridge.labelRemap2Of]]): one decode + one probe
  * per pixel resolves two per-region attributes at once, both emitted as
  * exact longs. */
case class RqLabelRemap2(lab: Expression, kv: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = lab
  override def right: Expression = kv
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType,
    ArrayType(StructType(Seq(
      StructField("l", LongType),
      StructField("o", DoubleType),
      StructField("o2", DoubleType))), containsNull = false))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("v", LongType, nullable = true),
    StructField("v2", LongType, nullable = true))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_label_remap2"
  def compute(l: Any, k: Any): Any =
    RqBridge.labelRemap2Of(kernel, l.asInstanceOf[Array[Byte]], k.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(lab = l, kv = r)
}

/** rq_region_segments(block, band, halos) → boundary segments + successor
  * links for polygonize (see [[RqBridge.regionSegmentsOf]]). Halos use the
  * focal-exchange layout and may be NULL (isolated tile). */
case class RqRegionSegments(block: Expression, band: Expression,
    halos: Expression, kernel: BandKernel) extends TernaryTileKernel {
  override def first: Expression = block
  override def second: Expression = band
  override def third: Expression = halos
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, BinaryType, RqBridge.haloType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false),
    StructField("dir", IntegerType, nullable = false),
    StructField("sx", LongType, nullable = false),
    StructField("sy", LongType, nullable = false),
    StructField("sdir", IntegerType, nullable = false),
    StructField("lab", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rq_region_segments"
  override protected def optionalInputs: Set[Int] = Set(2)
  def compute(b: Any, raw: Any, h: Any): Any =
    RqBridge.regionSegmentsOf(kernel, b.asInstanceOf[Long],
      raw.asInstanceOf[Array[Byte]], h.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(block = f, band = s, halos = t)
}

/** rq_idw_grid(block, points) → float64 blob: gdal_grid invdist:power=2
  * over global pixel coordinates (see [[graft.raquet.BandKernel.idwGrid]]).
  * Points must arrive sorted by their id field — the accumulation chain
  * is array-order-deterministic so the oracle replays it bit-for-bit. */
case class RqIdwGrid(block: Expression, points: Expression,
    kernel: BandKernel, radius: Long) extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = points
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType,
    ArrayType(StructType(Seq(
      StructField("pid", LongType, nullable = false),
      StructField("px", LongType, nullable = false),
      StructField("py", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false))), containsNull = false))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_idw_grid"
  def compute(b: Any, ps: Any): Any =
    RqBridge.idwGridOf(kernel, b.asInstanceOf[Long], ps.asInstanceOf[ArrayData], radius)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, points = r)
}

/** rq_mask_range(band) → float64 blob: v ∈ [lo, hi) → NaN, nodata → NaN,
  * else pass-through (see [[graft.raquet.BandKernel.maskRange]]). */
case class RqMaskRange(child: Expression, kernel: BandKernel,
    lo: Double, hi: Double) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_mask_range"
  def compute(raw: Any): Any = kernel.maskRange(raw.asInstanceOf[Array[Byte]], lo, hi)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** rq_temporal_fill(stack) — linear time-axis gap fill of one block's
  * sorted (t, blob) stack (see [[graft.raquet.BandKernel.temporalFill]]);
  * returns (t, float64 blob) pairs in the same order. */
case class RqTemporalFill(child: Expression, kernel: BandKernel) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(StructType(Seq(
      StructField("t", DoubleType, nullable = false),
      StructField("b", BinaryType, nullable = false))), containsNull = false))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("t", DoubleType, nullable = false),
    StructField("vals", BinaryType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_temporal_fill"
  def compute(stack: Any): Any = RqBridge.temporalFillOf(kernel, stack.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** rq_theilsen_mk(stack) — Theil–Sen median slope + Mann–Kendall S/tau
  * along one block's sorted (t, blob) stack (see
  * [[graft.raquet.BandKernel.theilSenMk]]). */
case class RqTheilSenMk(child: Expression, kernel: BandKernel) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(StructType(Seq(
      StructField("t", DoubleType, nullable = false),
      StructField("b", BinaryType, nullable = false))), containsNull = false))
  override def dataType: DataType = StructType(Seq(
    StructField("slope", BinaryType, nullable = false),
    StructField("mk_s", BinaryType, nullable = false),
    StructField("tau", BinaryType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_theilsen_mk"
  def compute(stack: Any): Any = RqBridge.theilSenMkOf(kernel, stack.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** rq_grid_stat(block, points) → float64 blob: the gdal_grid
  * average / nearest / count algorithms (see
  * [[graft.raquet.BandKernel.gridStat]]). Points must arrive sorted by
  * their id field — the average chain is array-order-deterministic and
  * nearest ties resolve to the first (= lowest-id) point. */
case class RqGridStat(block: Expression, points: Expression,
    kernel: BandKernel, radius: Long, mode: Int) extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = points
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType,
    ArrayType(StructType(Seq(
      StructField("pid", LongType, nullable = false),
      StructField("px", LongType, nullable = false),
      StructField("py", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false))), containsNull = false))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_grid_stat"
  def compute(b: Any, ps: Any): Any =
    RqBridge.gridStatOf(kernel, b.asInstanceOf[Long], ps.asInstanceOf[ArrayData], radius, mode)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, points = r)
}

/** rq_rasterize(block, zones) → band blob with each zone's value burned
  * onto pixels whose center falls inside its geometry (max value wins on
  * overlap, untouched pixels = nodata). `zones` is the per-tile
  * ARRAY<STRUCT<value DOUBLE, wkt STRING>> a polyfill join + collect_list
  * produces — the vector→raster half of the engine (gdal_rasterize shape,
  * inverse of rq_clip). */
case class RqRasterize(block: Expression, zones: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = block
  override def right: Expression = zones
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType,
    ArrayType(StructType(Seq(
      StructField("value", DoubleType, nullable = false),
      StructField("wkt", StringType, nullable = false))), containsNull = false))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_rasterize"
  def compute(b: Any, zs: Any): Any =
    RqBridge.rasterizeOf(kernel, b.asInstanceOf[Long], zs.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, zones = r)
}

/** rq_histogram(band) with plan-time [min, max) × buckets → ARRAY<BIGINT>
  * per-tile bucket counts (GDAL convention). Element-wise sums across
  * tiles give exact dataset-level distributions/percentiles without a
  * global sort — the mergeable-sketch shape, exact for bounded DN ranges. */
case class RqHistogram(child: Expression, kernel: BandKernel,
    min: Double, max: Double, buckets: Int) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_histogram"
  def compute(raw: Any): Any =
    ArrayData.toArrayData(kernel.histogram(raw.asInstanceOf[Array[Byte]], min, max, buckets))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rq_child_tile(band, quadrant) → the ×2-upsampled child blob for
  * quadrant 0..3 (Morton order) — zoom refinement, the inverse of the
  * pyramid's 2×2-average reduce. Composes with quadbin_from_tile bit math
  * for the child cell ids; see [[graft.raquet.Pyramid.upsampleLevel]]. */
case class RqChildTile(band: Expression, quadrant: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = band
  override def right: Expression = quadrant
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_child_tile"
  def compute(raw: Any, q: Any): Any =
    kernel.childTile(raw.asInstanceOf[Array[Byte]], q.asInstanceOf[Int])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, quadrant = r)
}

/** rq_composite(a, b) → first-valid-wins per-pixel mosaic blob. NULL
  * handling is the mosaic's outer-join semantics: a missing side passes the
  * other side's blob through BYTE-IDENTICAL (no decode/re-encode), so
  * single-source regions of a mosaic cost nothing per tile. */
case class RqComposite(a: Expression, b: Expression, kernel: BandKernel)
    extends BinaryTileKernel {
  override def left: Expression = a
  override def right: Expression = b
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = a.nullable && b.nullable
  override def prettyName: String = "rq_composite"
  override protected def optionalInputs: Set[Int] = Set(0, 1)
  def compute(ra: Any, rb: Any): Any =
    if (ra == null) rb
    else if (rb == null) ra
    else kernel.composite(ra.asInstanceOf[Array[Byte]], rb.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(a = l, b = r)
}

/** rq_summary_stats(band) → stats struct over valid pixels (A1); null for
  * empty tiles. The partial-merge fields (count/sum/sum_sq) make the output
  * directly mergeable by [[graft.operators.StatsMerge]] (A3). */
case class RqSummaryStats(child: Expression, kernel: BandKernel) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = RqBridge.statsSchema
  override def nullable: Boolean = true
  override def prettyName: String = "rq_summary_stats"
  def compute(raw: Any): Any = RqBridge.statsRow(kernel.stats(raw.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rq_raster_value(band, block, lon, lat) → physical value at a point (F12);
  * NULL outside the tile / at nodata pixels. */
case class RqRasterValue(
    band: Expression, block: Expression, lon: Expression, lat: Expression,
    kernel: BandKernel) extends QuaternaryTileKernel {
  override def first: Expression = band
  override def second: Expression = block
  override def third: Expression = lon
  override def fourth: Expression = lat
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, LongType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "rq_raster_value"
  def compute(b: Any, blk: Any, x: Any, y: Any): Any = {
    val v = kernel.valueAt(b.asInstanceOf[Array[Byte]], blk.asInstanceOf[Long],
      x.asInstanceOf[Double], y.asInstanceOf[Double])
    if (java.lang.Double.isNaN(v)) null else v
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(band = f, block = s, lon = t, lat = q)
}

/** rq_clip_stats(band, block) with a plan-time geometry → stats struct over
  * valid pixels whose center is inside the geometry (F13+A1, the per-tile
  * half of ST_RegionStats); null when the tile misses the geometry. */
case class RqClipStats(band: Expression, block: Expression,
    kernel: BandKernel, wkt: String) extends BinaryTileKernel {
  @transient private lazy val geom: Geom = Wkt.parse(wkt)
  override def left: Expression = band
  override def right: Expression = block
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = RqBridge.statsSchema
  override def nullable: Boolean = true
  override def prettyName: String = "rq_clip_stats"
  def compute(raw: Any, blk: Any): Any =
    RqBridge.statsRow(kernel.clipStats(raw.asInstanceOf[Array[Byte]], blk.asInstanceOf[Long], geom))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, block = r)
}

/** rq_clip(band, block) with a plan-time geometry → ARRAY<DOUBLE> of
  * physical pixel values, NaN where the pixel center is outside the geometry
  * or the pixel is nodata (ST_Clip, `docs/engines.md:48`); NULL when the tile
  * misses the geometry entirely. */
case class RqClip(band: Expression, block: Expression,
    kernel: BandKernel, wkt: String) extends BinaryTileKernel {
  @transient private lazy val geom: Geom = Wkt.parse(wkt)
  override def left: Expression = band
  override def right: Expression = block
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rq_clip"
  def compute(raw: Any, blk: Any): Any = {
    val v = kernel.clip(raw.asInstanceOf[Array[Byte]], blk.asInstanceOf[Long], geom)
    if (v == null) null else ArrayData.toArrayData(v)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, block = r)
}

/** st_polyfill over a WKT COLUMN (the polygon-table / zonal form of
  * [[RqPolyfill]]): cells at `zoom` intersecting each row's geometry. The
  * per-row parse is amortized by [[RqBridge.geomOf]]'s run-cache. */
case class RqPolyfillDyn(wkt: Expression, zoom: Expression, mode: String)
    extends BinaryTileKernel {
  override def left: Expression = wkt
  override def right: Expression = zoom
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_polyfill"
  def compute(w: Any, z: Any): Any = ArrayData.toArrayData(
    graft.quadbin.Polyfill.cells(RqBridge.geomOf(w.toString), z.asInstanceOf[Int], mode))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(wkt = l, zoom = r)
}

/** rq_clip_histogram over a WKT COLUMN: per-(tile, zone) bucket counts,
  * NULL when the tile misses the zone — the mergeable-histogram form of
  * zonal statistics. Element-wise sums per zone give exact zonal
  * distributions and percentiles (zonal median) without sorting pixels. */
case class RqClipHistDyn(band: Expression, block: Expression,
    wkt: Expression, kernel: BandKernel, min: Double, max: Double,
    buckets: Int) extends TernaryTileKernel {
  override def first: Expression = band
  override def second: Expression = block
  override def third: Expression = wkt
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, LongType, StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rq_clip_histogram"
  def compute(raw: Any, blk: Any, w: Any): Any = {
    val h = kernel.clipHistogram(raw.asInstanceOf[Array[Byte]], blk.asInstanceOf[Long],
      RqBridge.geomOf(w.toString), min, max, buckets)
    if (h == null) null else ArrayData.toArrayData(h)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(band = f, block = s, wkt = t)
}

/** rq_temporal_fit(series) → per-pixel OLS (slope[], intercept[]) blobs
  * over a tile's sorted time series — pixel-level change detection (trend
  * maps). One expression per block, post-aggregation, fully parallel. */
case class RqTemporalFit(series: Expression, kernel: BandKernel) extends UnaryTileKernel {
  override def child: Expression = series
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(StructType(Seq(
      StructField("x", DoubleType, nullable = false),
      StructField("b", BinaryType, nullable = false))), containsNull = false))
  override def dataType: DataType = RqBridge.temporalFitSchema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_temporal_fit"
  def compute(s: Any): Any = RqBridge.temporalFitOf(kernel, s.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(series = c)
}

/** st_contains(wkt, lon, lat) → whether the point lies inside the
  * geometry (center-rule semantics shared with the clip kernels). The
  * per-row WKT parse is amortized by [[RqBridge.geomOf]]'s run-cache —
  * the exact-test stage of a blocked spatial join. */
case class StContains(wkt: Expression, lon: Expression, lat: Expression)
    extends TernaryTileKernel {
  override def first: Expression = wkt
  override def second: Expression = lon
  override def third: Expression = lat
  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains"
  def compute(w: Any, x: Any, y: Any): Any =
    RqBridge.geomOf(w.toString).containsPoint(x.asInstanceOf[Double], y.asInstanceOf[Double])
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(wkt = f, lon = s, lat = t)
}

/** rq_zonal_histograms(band, block, zones) → per-zone bucket counts with
  * ONE decode per tile regardless of how many zones overlap it (the
  * collect_list-per-tile shape rq_rasterize uses). */
case class RqZonalHists(band: Expression, block: Expression,
    zones: Expression, kernel: BandKernel, min: Double, max: Double,
    buckets: Int) extends TernaryTileKernel {
  override def first: Expression = band
  override def second: Expression = block
  override def third: Expression = zones
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType,
    ArrayType(StructType(Seq(
      StructField("zid", LongType, nullable = false),
      StructField("wkt", StringType, nullable = false))), containsNull = false))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("zid", LongType, nullable = false),
    StructField("h", ArrayType(LongType, containsNull = false), nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_zonal_histograms"
  def compute(raw: Any, blk: Any, zs: Any): Any =
    RqBridge.zonalHistsOf(kernel, raw.asInstanceOf[Array[Byte]],
      blk.asInstanceOf[Long], zs.asInstanceOf[ArrayData], min, max, buckets)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(band = f, block = s, zones = t)
}

/** rq_clip_stats over a WKT COLUMN — the zonal-statistics form of
  * [[RqClipStats]]: per-(tile, zone) stats struct, NULL when no pixel
  * center falls inside. Same interior fast path (fused stats, no
  * point-in-polygon loop) via the shared kernel. */
case class RqClipStatsDyn(band: Expression, block: Expression,
    wkt: Expression, kernel: BandKernel) extends TernaryTileKernel {
  override def first: Expression = band
  override def second: Expression = block
  override def third: Expression = wkt
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, LongType, StringType)
  override def dataType: DataType = RqBridge.statsSchema
  override def nullable: Boolean = true
  override def prettyName: String = "rq_clip_stats"
  def compute(raw: Any, blk: Any, w: Any): Any =
    RqBridge.statsRow(kernel.clipStats(raw.asInstanceOf[Array[Byte]],
      blk.asInstanceOf[Long], RqBridge.geomOf(w.toString)))
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(band = f, block = s, wkt = t)
}

/** The shared shape of the focal operators over (band blob, halo strips):
  * a NULL band gives NULL, and a NULL halo list reaches the kernel as an
  * empty halo. */
trait HaloFocal extends BinaryTileKernel {
  def band: Expression
  def halos: Expression
  def kernel: BandKernel
  /** The value over the band blob and the (possibly null) halo list. */
  protected def focal(raw: Array[Byte], h: ArrayData): Any
  override def left: Expression = band
  override def right: Expression = halos
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, RqBridge.haloType)
  override def nullable: Boolean = true
  override protected def optionalInputs: Set[Int] = Set(1)
  final def compute(raw: Any, h: Any): Any =
    focal(raw.asInstanceOf[Array[Byte]], h.asInstanceOf[ArrayData])
}

/** rq_focal_mean(band, halos) → float64 band BLOB of 3×3 neighborhood
  * means (physical values, nodata-aware, NaN = no valid window), given the
  * tile's blob and the halo strips collected from its 8 neighbors (see
  * [[graft.operators.Focal]] for the exchange shape and [[RqBridge.focalOf]]
  * for halo-label semantics). A NULL halo list (isolated tile / raster
  * corner) means an empty halo, NOT a null result. */
case class RqFocalMean(band: Expression, halos: Expression, kernel: BandKernel) extends HaloFocal {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rq_focal_mean"
  protected def focal(raw: Array[Byte], h: ArrayData): Any = RqBridge.focalOf(kernel, raw, h)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_fill_nodata(band, halos) → float64 band blob with nodata pixels
  * IDW-filled from their valid 3×3 neighbors (see [[RqBridge.fillOf]]).
  * Same halo contract as [[RqFocalMean]]. */
case class RqFillNodata(band: Expression, halos: Expression, kernel: BandKernel) extends HaloFocal {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rq_fill_nodata"
  protected def focal(raw: Array[Byte], h: ArrayData): Any = RqBridge.fillOf(kernel, raw, h)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_chamfer_seed(band) → float64 blob: 0 at target-valued valid pixels,
  * +∞ elsewhere (see [[RqBridge.chamferSeedOf]]). */
case class RqChamferSeed(band: Expression, kernel: BandKernel, target: Double)
    extends UnaryTileKernel {
  override def child: Expression = band
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rq_chamfer_seed"
  def compute(raw: Any): Any =
    RqBridge.chamferSeedOf(kernel, raw.asInstanceOf[Array[Byte]], target)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(band = c)
}

/** rq_chamfer_relax(dband, halos) → one chamfer-(1, √2) relaxation round
  * (see [[RqBridge.chamferRelaxOf]]). Same halo contract as
  * [[RqFocalMean]]. */
case class RqChamferRelax(band: Expression, halos: Expression, kernel: BandKernel)
    extends HaloFocal {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rq_chamfer_relax"
  protected def focal(raw: Array[Byte], h: ArrayData): Any =
    RqBridge.chamferRelaxOf(kernel, raw, h)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_focal_slope(band, halos) → float64 band blob of Horn's-method slope
  * degrees (see [[RqBridge.slopeOf]]); NaN where the 3×3 window has any
  * missing or nodata cell. Same halo contract as [[RqFocalMean]]. */
case class RqFocalSlope(band: Expression, halos: Expression,
    kernel: BandKernel, cell: Double, zt: Boolean = false) extends HaloFocal {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rq_focal_slope"
  protected def focal(raw: Array[Byte], h: ArrayData): Any =
    RqBridge.slopeOf(kernel, raw, h, cell, zt)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_focal_hillshade_md(band, halos) → gdaldem's multidirectional
  * hillshade as a float64 blob ([[RqBridge.hillshadeMdOf]]). Same halo
  * contract as [[RqFocalMean]]. */
case class RqFocalHillshadeMd(band: Expression, halos: Expression,
    kernel: BandKernel, cell: Double, altitudeDeg: Double) extends HaloFocal {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rq_focal_hillshade_md"
  protected def focal(raw: Array[Byte], h: ArrayData): Any =
    RqBridge.hillshadeMdOf(kernel, raw, h, cell, altitudeDeg)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_focal_terrain(band, halos) → struct of slope/aspect/hillshade float64
  * band blobs from one window pass (see [[RqBridge.terrainOf]]). Same halo
  * contract as [[RqFocalMean]]. */
case class RqFocalTerrain(band: Expression, halos: Expression,
    kernel: BandKernel, cell: Double, azimuthDeg: Double, altitudeDeg: Double) extends HaloFocal {
  override def dataType: DataType = RqBridge.terrainSchema
  override def prettyName: String = "rq_focal_terrain"
  protected def focal(raw: Array[Byte], h: ArrayData): Any =
    RqBridge.terrainOf(kernel, raw, h, cell, azimuthDeg, altitudeDeg)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_color_relief(band) → struct of r/g/b uint8 band blobs mapped
  * through a plan-time color ramp (see [[RqBridge.colorReliefOf]]). */
case class RqColorRelief(child: Expression, kernel: BandKernel,
    breaks: Seq[Double], colors: Seq[(Int, Int, Int)]) extends UnaryTileKernel {
  require(breaks.nonEmpty && breaks.length == colors.length,
    s"ramp needs one color per break: ${breaks.length} vs ${colors.length}")
  require(breaks.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "ramp breaks must be strictly increasing")
  private val breaksArr = breaks.toArray
  private val colorsArr = colors.map(c =>
    Array(c._1.toDouble, c._2.toDouble, c._3.toDouble)).toArray
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = RqBridge.colorReliefSchema
  override def nullable: Boolean = true
  override def prettyName: String = "rq_color_relief"
  def compute(raw: Any): Any =
    RqBridge.colorReliefOf(kernel, raw.asInstanceOf[Array[Byte]], breaksArr, colorsArr)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** rq_focal_tpi(band, halos) → struct of TPI / TRI / roughness float64
  * band blobs from one window pass (see [[RqBridge.tpiOf]]). Same halo
  * contract as [[RqFocalMean]]. */
case class RqFocalTpi(band: Expression, halos: Expression, kernel: BandKernel) extends HaloFocal {
  override def dataType: DataType = RqBridge.tpiSchema
  override def prettyName: String = "rq_focal_tpi"
  protected def focal(raw: Array[Byte], h: ArrayData): Any = RqBridge.tpiOf(kernel, raw, h)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, halos = r)
}

/** rq_normalized_difference_stats(band_a, band_b) → stats struct over the
  * valid normalized-difference pixels (ST_NormalizedDifferenceStats,
  * `docs/engines.md:100`) — one fused pass, no intermediate ND array; NULL
  * when no pixel pair is valid. */
case class RqNdStats(left: Expression, right: Expression, kernel: BandPairKernel)
    extends BinaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = RqBridge.statsSchema
  override def nullable: Boolean = true
  override def prettyName: String = "rq_normalized_difference_stats"
  def compute(a: Any, b: Any): Any =
    RqBridge.statsRow(kernel.ndStats(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** rq_band_math(a, b) with a plan-time op → per-pixel ARRAY<DOUBLE> over
  * physical values (add/sub/mul/div/ratio/min/max) — generic map algebra
  * completing the ND/clip family. */
case class RqBandMath(left: Expression, right: Expression,
    kernel: BandPairKernel, op: String) extends BinaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_band_math"
  def compute(a: Any, b: Any): Any = ArrayData.toArrayData(
    kernel.bandMath(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], op))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** rq_band_math_stats(a, b) → stats struct over the band-math result in
  * one fused pass (the decode-then-select shape every scale query should
  * use; the pixel-returning twin is [[RqBandMath]]). */
case class RqBandMathStats(left: Expression, right: Expression,
    kernel: BandPairKernel, op: String) extends BinaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = RqBridge.statsSchema
  override def nullable: Boolean = true
  override def prettyName: String = "rq_band_math_stats"
  def compute(a: Any, b: Any): Any = RqBridge.statsRow(
    kernel.bandMathStats(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], op))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** rq_normalized_difference(band_a, band_b) → ARRAY<DOUBLE> of
  * (a-b)/(a+b) over physical values (F14, NDVI); NaN where invalid. */
case class RqNormalizedDifference(left: Expression, right: Expression,
    kernel: BandPairKernel) extends BinaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_normalized_difference"
  def compute(a: Any, b: Any): Any = ArrayData.toArrayData(
    kernel.normalizedDifference(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** st_polyfill(zoom) with plan-time geometry + mode → ARRAY<LONG> of
  * covering quadbin cells (the FLATTEN/UDTF shape of the reference's
  * `__RAQUET_REGION_BLOCKS`, `docs/performance.md:118-140`); compose with
  * `explode` for the raster⋈vector join build side. */
case class RqPolyfill(wkt: String, child: Expression, mode: String)
    extends UnaryTileKernel {
  // parsed on the driver and shipped with the plan (see buildPlanTimeState)
  private lazy val geom: Geom = Wkt.parse(wkt)
  override protected def buildPlanTimeState(): Unit = geom
  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_polyfill"
  def compute(z: Any): Any =
    ArrayData.toArrayData(graft.quadbin.Polyfill.cells(geom, z.asInstanceOf[Int], mode))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_quadbin_intersects(block) with plan-time geometry → does the tile's
  * WGS84 bbox intersect the geometry (P4, `docs/engines.md:47`)? Used as a
  * residual predicate after coarse Morton-range pruning. */
case class QuadbinIntersects(child: Expression, wkt: String,
    expanded: Boolean = false) extends UnaryTileKernel {
  // parsed on the driver and shipped with the plan (see buildPlanTimeState)
  private lazy val geom: Geom = Wkt.parse(wkt)
  override protected def buildPlanTimeState(): Unit = geom
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_quadbin_intersects"
  def compute(cell: Any): Any = RqBridge.intersectsCell(geom, cell.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
