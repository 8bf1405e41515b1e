package graft.raquet

import graft.sources.RandomReader

/** netCDF-4 semantics over the [[Hdf5]] container: resolve lat/lon/time
  * coordinate datasets and the `(…, lat, lon)` data variable with the same
  * name heuristics as the classic reader ([[NetCdf.describe]] — netCDF-4
  * keeps classic-model variables as root-group datasets, with CF
  * attributes as HDF5 attributes), and expose the grid through
  * [[NetCdf.NcGridSource]] so `NetCdf.convert` handles `.nc` and `.nc4`
  * identically (reference parity: `raster2raquet.py` treats both through
  * one GDAL NetCDF driver).
  *
  * Scale shape: the driver reads headers + the chunk index once; the grid
  * (including the bounded chunk table) broadcasts with each task closure,
  * and executors read exactly the chunk ranges their windows touch in ONE
  * coalesced [[RandomReader.readRanges]] call per window. */
object Hdf5Nc {

  /** Chunk-grid view of the data variable. For contiguous layout the
    * "chunk" is a full (y, x) plane. */
  final case class H5DataLayout(
      chunkT: Int, chunkY: Int, chunkX: Int,
      /** chunk (t0, y0, x0) → (file address, stored size, filter mask) */
      chunks: Array[Hdf5.ChunkEntry],
      filters: Seq[Hdf5.Filter],
      contiguousAddr: Long) extends Serializable

  final case class H5Grid(
      path: String, width: Int, height: Int, dtype: String,
      elemSize: Int, isFloat: Boolean, signed: Boolean,
      nodata: Option[Double], scale: Option[Double], offset: Option[Double],
      x0: Double, dx: Double, y0: Double, dy: Double,
      flipY: Boolean, layout: H5DataLayout, nt: Int,
      timeValues: Array[Double], cfUnits: Option[String], cfCalendar: String,
      proj: graft.geo.Projection = graft.geo.Geographic)
      extends NetCdf.NcGridSource {
    def info: GeoTiff.SourceInfo = GeoTiff.SourceInfo(
      path, width, height, bands = 1, dtype, nodata,
      x0, dx, y0, dy, proj, None)
    def sampler(t: Int, wx: Int, wy: Int, ww: Int, wh: Int): GeoTiff.PixelSampler =
      new ChunkSampler(this, t, wx, wy, ww, wh)
  }

  private def doubles(path: String, rr: RandomReader, d: Hdf5.Dataset): Array[Double] = {
    require(d.dims.length == 1, s"$path: coordinate '${d.name}' must be 1-D")
    val n = d.dims(0).toInt
    require(n >= 0 && n <= (1 << 24),
      s"$path: implausible coordinate '${d.name}' length $n")
    val raw = Hdf5.readAll(path, rr, d)
    require(raw.length >= n.toLong * d.dtype.size,
      s"$path: coordinate '${d.name}' stores ${raw.length} bytes for $n values")
    val bb = java.nio.ByteBuffer.wrap(raw).order(
      if (d.dtype.littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    Array.tabulate(n) { i =>
      (d.dtype.cls, d.dtype.size) match {
        case (1, 8) => bb.getDouble(8 * i)
        case (1, 4) => bb.getFloat(4 * i).toDouble
        case (0, 4) => bb.getInt(4 * i).toDouble
        case (0, 2) => bb.getShort(2 * i).toDouble
        case (0, 1) => bb.get(i).toDouble
        case _ => throw new IllegalArgumentException(
          s"$path: coordinate '${d.name}' has non-numeric type")
      }
    }
  }

  def describe(path: String): H5Grid = {
    val rr = RandomReader(path)
    try describe(path, rr) finally rr.close()
  }

  def describe(path: String, rr: RandomReader): H5Grid = {
    val sets = Hdf5.open(path, rr)
    def find(names: Set[String]): Option[Hdf5.Dataset] =
      sets.valuesIterator.filter(d => names(d.name.toLowerCase) && d.dims.length == 1)
        .toSeq.sortBy(_.name).headOption
    // rotated-pole grids name their axes rlat/rlon (grid_latitude/longitude)
    val RotLat = Set("rlat", "grid_latitude")
    val RotLon = Set("rlon", "grid_longitude")
    val lat = find(NetCdf.LatNames).orElse(find(RotLat))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no latitude coordinate dataset (lat/latitude/y/rlat)"))
    val lon = find(NetCdf.LonNames).orElse(find(RotLon))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no longitude coordinate dataset (lon/longitude/x/rlon)"))
    val timeDs = find(NetCdf.TimeNames)
    val coordNames = Set(lat.name, lon.name) ++ timeDs.map(_.name)
    val ny = lat.dims(0).toInt; val nx = lon.dims(0).toInt
    // the data variable: highest-rank 2-D/3-D dataset ending in (ny, nx)
    val data = sets.valuesIterator.filter { d =>
      !coordNames(d.name) && (d.dims.length == 2 || d.dims.length == 3) &&
        d.dims(d.dims.length - 2) == ny.toLong && d.dims.last == nx.toLong &&
        d.dtype.cls != 3
    }.toSeq.sortBy(d => (-d.dims.length, d.name)).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no (…, lat, lon) data dataset found"))
    // CF grid-mapping: the SAME resolver as the classic reader (incl.
    // the projected families)
    val proj: graft.geo.Projection = data.attrs.get("grid_mapping")
      .flatMap(_.text).flatMap(sets.get) match {
      case None => graft.geo.Geographic
      case Some(gm) =>
        NetCdf.projFromGridMapping(path,
          gm.attrs.get("grid_mapping_name").flatMap(_.text),
          a => gm.attrs.get(a).flatMap(_.num),
          a => gm.attrs.get(a).map(_.nums).getOrElse(Array.empty),
          a => gm.attrs.get(a).flatMap(_.text))
    }
    val nt = if (data.dims.length == 3) data.dims(0).toInt else 1
    require(data.dtype.littleEndian,
      s"$path: big-endian data variable '${data.name}' unsupported " +
        "(netCDF-4 writes native little-endian)")

    // projected axes may be in kilometers (the classic reader's rule)
    def unitScale(d: Hdf5.Dataset): Double =
      d.attrs.get("units").flatMap(_.text).map(_.trim) match {
        case Some("km") | Some("kilometers") | Some("kilometer") => 1000.0
        case _ => 1.0
      }
    val lats = doubles(path, rr, lat).map(_ * unitScale(lat))
    val lons = doubles(path, rr, lon).map(_ * unitScale(lon))
    require(ny >= 2 && nx >= 2, s"$path: grid too small ($nx x $ny)")
    val dLon = (lons.last - lons.head) / (nx - 1)
    val dLat = (lats.last - lats.head) / (ny - 1)
    def uniform(a: Array[Double], d: Double): Boolean =
      a.iterator.zipWithIndex.forall { case (v, i) =>
        math.abs(v - (a.head + i * d)) <= math.abs(d) * 0.01 }
    require(uniform(lons, dLon) && uniform(lats, dLat),
      s"$path: non-uniform coordinate spacing is unsupported")
    val angular = proj == graft.geo.Geographic ||
      proj.isInstanceOf[graft.geo.RotatedPole]
    require(!angular ||
      (math.abs(lons.head) <= 360 && math.abs(lats.head) <= 90),
      s"$path: coordinates are not geographic degrees and no projected " +
        "grid mapping is declared")
    val flip = dLat > 0
    val gx0 = lons.head - dLon / 2
    val (gy0, gdy) =
      if (flip) (lats.last + dLat / 2, -dLat)
      else (lats.head - dLat / 2, dLat)

    val timeVals = timeDs match {
      case Some(td) => doubles(path, rr, td).take(nt)
      case None => Array.tabulate(nt)(_.toDouble)
    }
    val cfUnits = timeDs.flatMap(_.attrs.get("units")).flatMap(_.text)
    val cfCal = timeDs.flatMap(_.attrs.get("calendar")).flatMap(_.text)
      .getOrElse("standard")

    val nodata = data.attrs.get("_FillValue").orElse(data.attrs.get("missing_value"))
      .flatMap(_.num)
      .orElse(data.fill.filter(_.length == data.dtype.size).map { fb =>
        Hdf5.H5Attr("", data.dtype, 1, fb).num.getOrElse(Double.NaN)
      }.filterNot(_.isNaN))

    val layout = data.layout match {
      case Hdf5.Contiguous(addr, _) =>
        H5DataLayout(1, ny, nx, Array.empty, Seq.empty, addr)
      case Hdf5.Chunked(cd, _, chunks) =>
        val (ct, cy, cx) = cd.length match {
          case 3 => (cd(0), cd(1), cd(2))
          case 2 => (1, cd(0), cd(1))
          case r => throw new IllegalArgumentException(
            s"$path: data variable chunk rank $r unsupported")
        }
        require(ct == 1,
          s"$path: chunks spanning multiple timesteps (t-extent $ct) unsupported")
        // normalize rank-2 entries to (t, y, x) and reject arity lies from
        // corrupt B-tree keys before the sampler indexes into them
        val norm = chunks.map { ce =>
          val o = if (cd.length == 2) 0L +: ce.offsets else ce.offsets
          require(o.length == 3,
            s"$path: chunk key arity ${o.length} does not match data rank")
          ce.copy(offsets = o)
        }
        H5DataLayout(ct, cy, cx, norm, data.filters, Hdf5.Unset)
      case Hdf5.Compact(_) => throw new IllegalArgumentException(
        s"$path: compact-layout data variables are not rasters")
    }
    H5Grid(path, nx, ny, data.dtype.dtypeName, data.dtype.size,
      data.dtype.cls == 1, data.dtype.signed,
      nodata,
      data.attrs.get("scale_factor").flatMap(_.num),
      data.attrs.get("add_offset").flatMap(_.num),
      gx0, dLon, gy0, gdy, flip, layout, nt, timeVals, cfUnits, cfCal, proj)
  }

  /** Bounded window read of one timestep: decodes exactly the chunks the
    * (north-up) window intersects, fetched in one coalesced range batch.
    * Executor memory is O(intersecting chunks). */
  final class ChunkSampler(g: H5Grid, t: Int, wx: Int, wy: Int, ww: Int, wh: Int)
      extends GeoTiff.PixelSampler with AutoCloseable {
    private val sz = g.elemSize
    private val buf = new Array[Byte](ww * wh * sz)

    locally {
      val rr = RandomReader(g.path)
      try {
        // the window in FILE row coordinates (flipY mirrors)
        val fy0 = if (g.flipY) g.height - (wy + wh) else wy
        val cy0 = fy0 / g.layout.chunkY
        val cy1 = (fy0 + wh - 1) / g.layout.chunkY
        val cx0 = wx / g.layout.chunkX
        val cx1 = (wx + ww - 1) / g.layout.chunkX
        if (g.layout.contiguousAddr != Hdf5.Unset) {
          // contiguous: per-row ranges (coalesced by the transport)
          val planeBytes = g.height.toLong * g.width * sz
          val rows = (0 until wh).map { j =>
            val northUpRow = wy + j
            val fileRow = if (g.flipY) g.height - 1 - northUpRow else northUpRow
            (g.layout.contiguousAddr + t * planeBytes +
              (fileRow.toLong * g.width + wx) * sz, ww * sz)
          }
          rr.readRanges(rows).zipWithIndex.foreach { case (b, j) =>
            System.arraycopy(b, 0, buf, j * ww * sz, ww * sz)
          }
        } else {
          if (g.nodata.isDefined) {
            // pre-fill: chunks never written read back as nodata
            val one = encodeOne(g.nodata.get)
            var k = 0
            while (k < buf.length) { buf(k) = one(k % sz); k += 1 }
          }
          val wanted = g.layout.chunks.filter { ce =>
            val (t0, y0c, x0c) = (ce.offsets(0), ce.offsets(1), ce.offsets(2))
            t0 <= t && t < t0 + g.layout.chunkT &&
              y0c / g.layout.chunkY >= cy0 - 0 && y0c / g.layout.chunkY <= cy1 &&
              x0c / g.layout.chunkX >= cx0 && x0c / g.layout.chunkX <= cx1
          }
          val raws = rr.readRanges(wanted.toSeq.map(ce => (ce.addr, ce.size)))
          val chunkBytes = g.layout.chunkT * g.layout.chunkY * g.layout.chunkX * sz
          wanted.zip(raws).foreach { case (ce, raw) =>
            val dec = Hdf5.decodeChunk(g.path, raw, g.layout.filters,
              ce.filterMask, sz, chunkBytes)
            // copy the file-space intersection into the north-up window
            val cyBase = ce.offsets(1).toInt; val cxBase = ce.offsets(2).toInt
            val r0 = math.max(fy0, cyBase)
            val r1 = math.min(fy0 + wh, cyBase + g.layout.chunkY)
            val c0 = math.max(wx, cxBase)
            val c1 = math.min(wx + ww, cxBase + g.layout.chunkX)
            var r = r0
            while (r < r1) {
              val outRow = if (g.flipY) g.height - 1 - r - wy else r - fy0
              if (outRow >= 0 && outRow < wh && c1 > c0)
                System.arraycopy(dec, ((r - cyBase) * g.layout.chunkX + (c0 - cxBase)) * sz,
                  buf, (outRow * ww + (c0 - wx)) * sz, (c1 - c0) * sz)
              r += 1
            }
          }
        }
      } finally rr.close()
    }

    private def encodeOne(v: Double): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(sz).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (g.isFloat, sz) match {
        case (true, 4) => bb.putFloat(v.toFloat)
        case (true, 8) => bb.putDouble(v)
        case (false, 1) => bb.put(v.toByte)
        case (false, 2) => bb.putShort(v.toShort)
        case (false, 4) => bb.putInt(v.toInt)
        case (false, 8) => bb.putLong(v.toLong)
        case _ => ()
      }
      bb.array()
    }

    private val bb = java.nio.ByteBuffer.wrap(buf).order(
      java.nio.ByteOrder.LITTLE_ENDIAN) // netCDF-4 writes native-LE
    def sample(band: Int, px: Int, py: Int): Double = {
      val k = (py - wy) * ww + (px - wx)
      (g.isFloat, sz, g.signed) match {
        case (true, 4, _) => bb.getFloat(4 * k).toDouble
        case (true, 8, _) => bb.getDouble(8 * k)
        case (false, 1, true) => bb.get(k).toDouble
        case (false, 1, false) => (bb.get(k) & 0xFF).toDouble
        case (false, 2, true) => bb.getShort(2 * k).toDouble
        case (false, 2, false) => (bb.getShort(2 * k) & 0xFFFF).toDouble
        case (false, 4, true) => bb.getInt(4 * k).toDouble
        case (false, 4, false) => (bb.getInt(4 * k) & 0xFFFFFFFFL).toDouble
        case _ => bb.getLong(8 * k).toDouble
      }
    }
    def close(): Unit = ()
  }
}
