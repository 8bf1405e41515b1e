package graft.raquet

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.quadbin.Quadbin

/** NetCDF **classic** (CDF-1 / CDF-2) ingest — S6 breadth beyond TIFF and
  * the reference's flagship time-series story (CFSR SST,
  * `docs/performance.md:16`; NetCDF handling `raster2raquet.py:370-445`).
  *
  * The classic format is a small, fully public container: a big-endian
  * header (dimensions, attributes, variables with start offsets) followed by
  * flat row-major arrays, record variables interleaved per record. The
  * driver parses ONLY the header; executors read bounded per-row windows of
  * the data variable with `RandomAccessFile` seeks — the same driver-reads-
  * tags / tasks-read-windows split as [[GeoTiff.convert]], so a multi-GB
  * `.nc` never has to fit in any single heap.
  *
  * Scope: uniformly spaced 1-D coordinate axes — geographic lat/lon, CF
  * rotated-pole grids, and PROJECTED grids whose `grid_mapping` names one
  * of the engine's projections (Lambert conformal, Albers, polar
  * stereographic A/B, Mercator, transverse Mercator, sinusoidal,
  * geostationary; m or km axes); anything else fails loudly with the
  * mapping name. A CF `time` dimension maps each
  * timestep to its own row with the (`block`, `time_cf`) composite key and a
  * derived `time_ts`, matching the reference's row explosion
  * (`raster2raquet.py:2107-2125`) and spec `raquet.md:67-87`.
  */
object NetCdf {

  // ------------------------------------------------------------- header model

  /** NetCDF external types (spec: classic format, section "nc_type"). */
  private val TypeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 4, 6 -> 8)
  private def dtypeName(t: Int): String = t match {
    case 1 => "int8"
    case 3 => "int16"
    case 4 => "int32"
    case 5 => "float32"
    case 6 => "float64"
    case other => throw new IllegalArgumentException(
      s"unsupported NetCDF variable type $other (char variables are not rasters)")
  }

  final case class NcDim(name: String, length: Int) // length 0 = record dim
  final case class NcAttr(name: String, text: Option[String], nums: Array[Double]) {
    def num: Option[Double] = nums.headOption
  }
  final case class NcVar(name: String, dimIds: Seq[Int], attrs: Map[String, NcAttr],
      ncType: Int, vsize: Long, begin: Long)
  final case class NcHeader(version: Int, numRecs: Long, dims: Seq[NcDim],
      attrs: Map[String, NcAttr], vars: Seq[NcVar]) {
    /** Record-slab byte size: sum of record-variable vsizes, except the
      * single-record-variable case where the slab is the UNPADDED size
      * (classic-format special rule). */
    def recSize: Long = {
      val recVars = vars.filter(v => v.dimIds.headOption.exists(dims(_).length == 0))
      if (recVars.size == 1) {
        val v = recVars.head
        val n = v.dimIds.tail.map(dims(_).length.toLong).product
        n * TypeSize(v.ncType)
      } else recVars.map(_.vsize).sum
    }
  }

  /** Parse the header (tags/offsets only — O(header), not O(file)). */
  def readHeader(path: String): NcHeader = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(raf.getFD)))
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(magic(0) == 'C' && magic(1) == 'D' && magic(2) == 'F',
        s"$path: not a NetCDF classic file")
      val version = magic(3).toInt
      // CDF-1 (32-bit), CDF-2 (64-bit offsets), CDF-5 (64-bit everything:
      // every NON_NEG production in the classic spec widens to int64)
      require(version == 1 || version == 2 || version == 5,
        s"$path: NetCDF version $version unsupported (classic CDF-1/2/5 only; " +
          "NetCDF-4/HDF5 containers are out of scope)")
      val numRecs =
        if (version == 5) in.readLong() else in.readInt().toLong & 0xFFFFFFFFL
      // all-ones is the spec's STREAMING sentinel (numrecs unknown at
      // write time); downstream uses numRecs as an array length, so fail
      // loudly here instead of NegativeArraySizeException later.
      require(numRecs != 0xFFFFFFFFL && numRecs != -1L,
        s"$path: streaming NetCDF (numrecs sentinel) unsupported")
      require(numRecs >= 0 && numRecs <= Int.MaxValue,
        s"$path: implausible record count $numRecs")

      // header-field sanity caps: every count below sizes an allocation, so
      // a corrupt header must fail loudly here, not as an OOM / negative-
      // size error deeper in (same contract as the VP8/VP8L fuzz hardening)
      def sane(n: Int, cap: Int, what: String): Int = {
        require(n >= 0 && n <= cap, s"$path: implausible $what count $n")
        n
      }
      def typeSize(t: Int): Int = TypeSize.getOrElse(t,
        throw new IllegalArgumentException(s"$path: unknown NetCDF type $t"))
      // NON_NEG: int32 in CDF-1/2, int64 in CDF-5 (counts, lengths, ranks,
      // dimids, vsize all use this production — tags and nc_type stay int32)
      def readNonNeg(): Int = {
        val v = if (version == 5) in.readLong() else in.readInt().toLong
        require(v >= 0 && v <= Int.MaxValue, s"$path: NON_NEG field $v out of range")
        v.toInt
      }
      def readName(): String = {
        val n = sane(readNonNeg(), 1 << 16, "name byte")
        val b = new Array[Byte](n)
        in.readFully(b)
        in.skipBytes((4 - n % 4) % 4)
        new String(b, StandardCharsets.UTF_8)
      }
      def readAttrValues(t: Int, n: Int): NcAttr = {
        val size = typeSize(t) * sane(n, 1 << 24, "attribute value")
        val b = new Array[Byte](size)
        in.readFully(b)
        in.skipBytes((4 - size % 4) % 4)
        val bb = java.nio.ByteBuffer.wrap(b) // big-endian by default
        if (t == 2) NcAttr("", Some(new String(b, StandardCharsets.UTF_8)), Array.empty)
        else {
          val arr = Array.tabulate(n)(i => t match {
            case 1 => bb.get(i).toDouble
            case 3 => bb.getShort(2 * i).toDouble
            case 4 => bb.getInt(4 * i).toDouble
            case 5 => bb.getFloat(4 * i).toDouble
            case 6 => bb.getDouble(8 * i)
          })
          NcAttr("", None, arr)
        }
      }
      def readAttrList(): Map[String, NcAttr] = {
        val tag = in.readInt(); val n = sane(readNonNeg(), 1 << 16, "attribute")
        require(tag == 0x0C || (tag == 0 && n == 0), s"bad attr-list tag $tag")
        (0 until n).map { _ =>
          val name = readName()
          val t = in.readInt(); val cnt = readNonNeg()
          name -> readAttrValues(t, cnt).copy(name = name)
        }.toMap
      }

      // dim_list
      val dimTag = in.readInt(); val nDims = sane(readNonNeg(), 1 << 16, "dimension")
      require(dimTag == 0x0A || (dimTag == 0 && nDims == 0), s"bad dim-list tag $dimTag")
      val dims = (0 until nDims).map { _ =>
        val nm = readName()
        NcDim(nm, sane(readNonNeg(), Int.MaxValue, s"dimension '$nm' length"))
      }
      val gatts = readAttrList()
      // var_list
      val varTag = in.readInt(); val nVars = sane(readNonNeg(), 1 << 16, "variable")
      require(varTag == 0x0B || (varTag == 0 && nVars == 0), s"bad var-list tag $varTag")
      val vars = (0 until nVars).map { _ =>
        val name = readName()
        val nd = sane(readNonNeg(), 1 << 10, "variable dimension")
        val dimIds = (0 until nd).map { _ =>
          val id = readNonNeg()
          require(id >= 0 && id < nDims,
            s"$path: variable '$name' references dimension $id of $nDims")
          id
        }
        val atts = readAttrList()
        val t = in.readInt()
        typeSize(t) // reject unknown types at parse time, not mid-read
        val vsize =
          if (version == 5) in.readLong() else in.readInt().toLong & 0xFFFFFFFFL
        val begin = if (version == 1) in.readInt().toLong & 0xFFFFFFFFL
        else in.readLong()
        NcVar(name, dimIds, atts, t, vsize, begin)
      }
      NcHeader(version, numRecs, dims, gatts, vars)
    } finally raf.close()
  }

  /** Read a full (small) 1-D coordinate variable on the driver. Record
    * coordinates (e.g. an unlimited `time`) are strided: one value per
    * record slab. */
  private def readCoord(path: String, h: NcHeader, v: NcVar): Array[Double] = {
    require(v.dimIds.size == 1, s"${v.name}: coordinate variables must be 1-D")
    val isRec = h.dims(v.dimIds.head).length == 0
    val n = if (isRec) h.numRecs.toInt else h.dims(v.dimIds.head).length
    // coordinate variables are axes, not data: a corrupt header claiming a
    // multi-hundred-MB axis must fail loudly, not attempt the allocation
    require(n >= 0 && n <= (1 << 24),
      s"$path: implausible coordinate variable '${v.name}' length $n")
    val sz = TypeSize.getOrElse(v.ncType, throw new IllegalArgumentException(
      s"$path: coordinate '${v.name}' has non-numeric NetCDF type ${v.ncType}"))
    val raf = new RandomAccessFile(path, "r")
    try {
      def decode(bb: java.nio.ByteBuffer, i: Int): Double = v.ncType match {
        case 1 => bb.get(i).toDouble
        case 3 => bb.getShort(2 * i).toDouble
        case 4 => bb.getInt(4 * i).toDouble
        case 5 => bb.getFloat(4 * i).toDouble
        case 6 => bb.getDouble(8 * i)
        case t => throw new IllegalArgumentException(
          s"$path: coordinate '${v.name}' has non-numeric NetCDF type $t")
      }
      if (isRec) Array.tabulate(n) { t =>
        val b = new Array[Byte](sz)
        raf.seek(v.begin + t * h.recSize); raf.readFully(b)
        decode(java.nio.ByteBuffer.wrap(b), 0)
      } else {
        val b = new Array[Byte](n * sz)
        raf.seek(v.begin); raf.readFully(b)
        val bb = java.nio.ByteBuffer.wrap(b)
        Array.tabulate(n)(decode(bb, _))
      }
    } finally raf.close()
  }

  // ------------------------------------------------------------- grid model

  /** A georeferenced `(time, y, x)` grid any container can expose to
    * [[NetCdf.convert]]: classic CDF files ([[NcGrid]]) and HDF5-backed
    * netCDF-4 ([[Hdf5Nc.H5Grid]]) share the warp/convert pipeline; only the
    * bounded window read differs. Implementations are Serializable — the
    * driver builds one from the header (O(header), never O(file)) and tasks
    * call [[NcGridSource.sampler]] for exactly their window. */
  trait NcGridSource extends Serializable {
    def info: GeoTiff.SourceInfo
    def dtype: String
    def nodata: Option[Double]
    def scale: Option[Double]
    def offset: Option[Double]
    def timeValues: Array[Double]
    def cfUnits: Option[String]
    def cfCalendar: String
    /** Open a bounded window read of timestep `t` (north-up coordinates). */
    def sampler(t: Int, wx: Int, wy: Int, ww: Int, wh: Int): GeoTiff.PixelSampler
  }

  /** Everything needed to read planes of the data variable from tasks. */
  final case class NcGrid(
      path: String, width: Int, height: Int, dtype: String, ncType: Int,
      nodata: Option[Double], scale: Option[Double], offset: Option[Double],
      x0: Double, dx: Double, y0: Double, dy: Double,
      /** file rows run south→north (ascending lat): flip to north-up */
      flipY: Boolean,
      /** byte offset of each timestep's (y, x) plane */
      planeOffsets: Array[Long],
      timeValues: Array[Double], cfUnits: Option[String], cfCalendar: String,
      /** axis CRS: geographic, or the CF grid-mapping (rotated pole) */
      proj: graft.geo.Projection = graft.geo.Geographic)
      extends NcGridSource {
    def info: GeoTiff.SourceInfo = GeoTiff.SourceInfo(
      path, width, height, bands = 1, dtype, nodata,
      x0, dx, y0, dy, proj, None)
    def sampler(t: Int, wx: Int, wy: Int, ww: Int, wh: Int): GeoTiff.PixelSampler =
      new PlaneSampler(this, t, wx, wy, ww, wh)
  }

  private[raquet] val LatNames = Set("lat", "latitude", "y")
  private[raquet] val LonNames = Set("lon", "longitude", "x")
  private[raquet] val TimeNames = Set("time", "t")

  /** Container dispatch: classic CDF-1/2/5 files parse here; an HDF5
    * signature routes to the scoped netCDF-4 reader ([[Hdf5Nc]]); a GRIB
    * indicator routes to [[Grib2.describe]]; a Zarr store (directory with
    * zarr metadata, or any `*.zarr` path incl. remote stores) routes to
    * [[Zarr.describe]]. */
  def describeAny(path: String): NcGridSource = {
    if (Zarr.isStore(path)) return Zarr.describe(path)
    val raf = new RandomAccessFile(path, "r")
    val magic = new Array[Byte](8)
    try {
      require(raf.length >= 8, s"$path: too short to be a NetCDF container")
      raf.readFully(magic)
    } finally raf.close()
    if (java.util.Arrays.equals(magic, Hdf5.Signature)) Hdf5Nc.describe(path)
    else if (java.util.Arrays.equals(magic.take(4), Hdf4.Magic))
      Hdf4.describe(path)
    else if (magic.startsWith(Grib2.Magic)) {
      // octet 8 is the edition in BOTH editions' indicator sections
      if ((magic(7) & 0xFF) == 1) Grib1.describe(path) else Grib2.describe(path)
    }
    else describe(path)
  }

  /** Resolve the CF grid-mapping of a data variable: geographic when
    * absent, [[graft.geo.RotatedPole]] for `rotated_latitude_longitude`
    * (COSMO/CORDEX regional climate grids), loud failure for anything
    * else projected. */
  private[raquet] def gridMapping(path: String, data: NcVar,
      vars: Seq[NcVar]): graft.geo.Projection =
    data.attrs.get("grid_mapping").flatMap(_.text)
      .flatMap(n => vars.find(_.name == n)) match {
      case None => graft.geo.Geographic
      case Some(gm) =>
        projFromGridMapping(path,
          gm.attrs.get("grid_mapping_name").flatMap(_.text),
          a => gm.attrs.get(a).flatMap(_.num),
          a => gm.attrs.get(a).map(_.nums).getOrElse(Array.empty),
          a => gm.attrs.get(a).flatMap(_.text))
    }

  /** CF `grid_mapping` attributes → the engine projection (shared by the
    * classic and netCDF-4 readers): geographic, rotated pole, and the
    * projected families the warp implements; anything else fails loudly
    * with the mapping name. The earth model honors explicit ellipsoid /
    * sphere attrs and defaults to WGS84 like GDAL's netCDF driver. */
  private[graft] def projFromGridMapping(path: String,
      mappingName: Option[String], num: String => Option[Double],
      nums: String => Array[Double],
      text: String => Option[String]): graft.geo.Projection = {
    def need(a: String): Double = num(a).getOrElse(
      throw new IllegalArgumentException(s"$path: grid mapping needs $a"))
    def earth(): (Double, Double) =
      (num("semi_major_axis"), num("inverse_flattening"),
        num("semi_minor_axis"), num("earth_radius")) match {
        case (Some(a), Some(f), _, _) =>
          (a, if (f == 0.0) Double.PositiveInfinity else f)
        case (Some(a), None, Some(b), _) =>
          (a, if (a == b) Double.PositiveInfinity else a / (a - b))
        case (Some(a), None, None, _) => (a, Double.PositiveInfinity)
        case (None, _, _, Some(r)) => (r, Double.PositiveInfinity)
        case _ => graft.geo.Ellipsoidal.Wgs84
      }
    val fe = num("false_easting").getOrElse(0.0)
    val fn = num("false_northing").getOrElse(0.0)
    mappingName.getOrElse("?") match {
      case "latitude_longitude" => graft.geo.Geographic
      case "rotated_latitude_longitude" =>
        graft.geo.RotatedPole(
          num("grid_north_pole_latitude").getOrElse(
            throw new IllegalArgumentException(
              s"$path: rotated grid without grid_north_pole_latitude")),
          num("grid_north_pole_longitude").getOrElse(
            throw new IllegalArgumentException(
              s"$path: rotated grid without grid_north_pole_longitude")),
          num("north_pole_grid_longitude").getOrElse(0.0))
      case "lambert_conformal_conic" =>
        val (a, invF) = earth()
        val sp = nums("standard_parallel")
        require(sp.nonEmpty, s"$path: LCC without standard_parallel")
        val (sp1, sp2) = if (sp.length >= 2) (sp(0), sp(1)) else (sp(0), sp(0))
        graft.geo.LambertConformalConic(a, invF, sp1, sp2,
          need("latitude_of_projection_origin"),
          need("longitude_of_central_meridian"), fe, fn)
      case "albers_conical_equal_area" =>
        val (a, invF) = earth()
        val sp = nums("standard_parallel")
        require(sp.nonEmpty, s"$path: Albers without standard_parallel")
        val (sp1, sp2) = if (sp.length >= 2) (sp(0), sp(1)) else (sp(0), sp(0))
        graft.geo.AlbersEqualArea(a, invF, sp1, sp2,
          need("latitude_of_projection_origin"),
          need("longitude_of_central_meridian"), fe, fn)
      case "polar_stereographic" =>
        val (a, invF) = earth()
        val lat0 = need("latitude_of_projection_origin")
        require(lat0 == 90.0 || lat0 == -90.0,
          s"$path: polar_stereographic origin latitude $lat0 (±90 only)")
        val lon0 = need("straight_vertical_longitude_from_pole")
        (num("standard_parallel"), num("scale_factor_at_projection_origin")) match {
          case (Some(ts), _) =>
            graft.geo.PolarStereographic(a, invF,
              if (lat0 < 0) -math.abs(ts) else math.abs(ts), lon0, fe, fn)
          case (None, Some(k0)) =>
            graft.geo.PolarStereographicA(a, invF, k0, lat0 > 0, lon0, fe, fn)
          case _ => throw new IllegalArgumentException(
            s"$path: polar_stereographic needs standard_parallel or " +
              "scale_factor_at_projection_origin")
        }
      case "mercator" =>
        val (a, invF) = earth()
        val ts = num("standard_parallel").getOrElse {
          val k0 = num("scale_factor_at_projection_origin").getOrElse(1.0)
          require(k0 == 1.0, s"$path: mercator scale factor $k0 " +
            "unsupported (standard_parallel form only)")
          0.0
        }
        graft.geo.Mercator(a, invF, ts,
          num("longitude_of_projection_origin").getOrElse(0.0), fe, fn)
      case "transverse_mercator" =>
        require(need("latitude_of_projection_origin") == 0.0,
          s"$path: transverse_mercator with nonzero origin latitude " +
            "unsupported")
        graft.geo.TransverseMercator(
          need("longitude_of_central_meridian"),
          num("scale_factor_at_central_meridian").getOrElse(1.0), fe, fn)
      case "sinusoidal" =>
        val (a, invF) = earth()
        graft.geo.Sinusoidal(a, invF,
          num("longitude_of_projection_origin").getOrElse(0.0), fe, fn)
      case "geostationary" =>
        val (a, invF) = earth()
        graft.geo.Geostationary(a, invF,
          need("perspective_point_height"),
          num("longitude_of_projection_origin").getOrElse(0.0),
          sweepX = text("sweep_angle_axis").contains("x"))
      case other => throw new IllegalArgumentException(
        s"$path: grid mapping '$other' unsupported " +
          "(latitude_longitude, rotated_latitude_longitude, " +
          "lambert_conformal_conic, albers_conical_equal_area, " +
          "polar_stereographic, mercator, transverse_mercator, " +
          "sinusoidal, geostationary)")
    }
  }

  /** Resolve dims/coords/time → an [[NcGrid]] (driver-side, header + coords). */
  def describe(path: String): NcGrid = {
    val h = readHeader(path)
    def dimName(i: Int) = h.dims(i).name.toLowerCase
    // the data variable: highest-rank 2-D/3-D var ending in (lat-ish,
    // lon-ish) — or, for CF grid-mapped files whose axes are rotated-grid
    // coordinates (rlat/rlon), the var that declares a grid_mapping
    val data = h.vars.filter { v =>
      v.dimIds.size >= 2 && LatNames(dimName(v.dimIds(v.dimIds.size - 2))) &&
        LonNames(dimName(v.dimIds.last)) && v.ncType != 2
    }.sortBy(-_.dimIds.size).headOption
      .orElse(h.vars.filter(v => v.dimIds.size >= 2 && v.ncType != 2 &&
        v.attrs.contains("grid_mapping")).sortBy(-_.dimIds.size).headOption)
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no (…, lat, lon) data variable found"))
    val proj = gridMapping(path, data, h.vars)
    val latDim = data.dimIds(data.dimIds.size - 2)
    val lonDim = data.dimIds.last
    val ny = h.dims(latDim).length
    val nx = h.dims(lonDim).length
    def coordOf(dimId: Int): Option[Array[Double]] =
      h.vars.find(v => v.dimIds == Seq(dimId)).map(readCoord(path, h, _))
    // projected axes may be in kilometers (CF allows any length unit on
    // projection_x/y_coordinate; km is the one the wild actually uses)
    def unitScale(dimId: Int): Double =
      h.vars.find(v => v.dimIds == Seq(dimId))
        .flatMap(_.attrs.get("units")).flatMap(_.text).map(_.trim) match {
        case Some("km") | Some("kilometers") | Some("kilometer") => 1000.0
        case _ => 1.0
      }
    val lats = coordOf(latDim).map(_.map(_ * unitScale(latDim)))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no coordinate variable for dimension '${h.dims(latDim).name}'"))
    val lons = coordOf(lonDim).map(_.map(_ * unitScale(lonDim)))
      .getOrElse(throw new IllegalArgumentException(
        s"$path: no coordinate variable for dimension '${h.dims(lonDim).name}'"))
    require(ny >= 2 && nx >= 2, s"$path: grid too small ($nx x $ny)")
    val dLon = (lons.last - lons.head) / (nx - 1)
    val dLat = (lats.last - lats.head) / (ny - 1)
    // uniform-spacing check (1% tolerance, like the CF duration inference)
    def uniform(a: Array[Double], d: Double): Boolean =
      a.iterator.zipWithIndex.forall { case (v, i) =>
        math.abs(v - (a.head + i * d)) <= math.abs(d) * 0.01 }
    require(uniform(lons, dLon) && uniform(lats, dLat),
      s"$path: non-uniform coordinate spacing is unsupported")
    // degree bounds hold for true AND rotated-grid axes; PROJECTED grid
    // mappings carry meter axes, so the check applies only to angular CRSes
    val angular = proj == graft.geo.Geographic ||
      proj.isInstanceOf[graft.geo.RotatedPole]
    require(!angular ||
      (math.abs(lons.head) <= 360 && math.abs(lats.head) <= 90),
      s"$path: coordinates are not geographic degrees and no projected " +
        "grid mapping is declared")
    val flip = dLat > 0 // south-up storage
    // GDAL-style origin: first cell CENTER minus half a step, north-up
    val x0 = lons.head - dLon / 2
    val (y0, dy) =
      if (flip) (lats.last + dLat / 2, -dLat)
      else (lats.head - dLat / 2, dLat)

    // time: record dim or a dim named time with a coordinate variable
    val timeDimId = data.dimIds.size match {
      case 3 => Some(data.dimIds.head)
      case _ => None
    }
    timeDimId.foreach(t => require(TimeNames(dimName(t)) || h.dims(t).length == 0,
      s"$path: leading dimension '${h.dims(t).name}' is not a time dimension"))
    val nt = timeDimId.map { t =>
      if (h.dims(t).length == 0) h.numRecs.toInt else h.dims(t).length
    }.getOrElse(1)
    val timeVar = timeDimId.flatMap(t => h.vars.find(v => v.dimIds == Seq(t)))
    val timeVals = timeVar match {
      case Some(tv) => readCoord(path, h, tv).take(nt)
      case None => Array.tabulate(nt)(_.toDouble)
    }
    val cfUnits = timeVar.flatMap(_.attrs.get("units")).flatMap(_.text)
    val cfCal = timeVar.flatMap(_.attrs.get("calendar")).flatMap(_.text)
      .getOrElse("standard")

    val sz = TypeSize(data.ncType)
    val planeBytes = ny.toLong * nx * sz
    val isRecord = data.dimIds.headOption.exists(h.dims(_).length == 0)
    val planes = Array.tabulate(nt) { t =>
      if (timeDimId.isEmpty) data.begin
      else if (isRecord) data.begin + t * h.recSize
      else data.begin + t * planeBytes
    }
    val nodata = data.attrs.get("_FillValue").orElse(data.attrs.get("missing_value"))
      .flatMap(_.num)
    NcGrid(path, nx, ny, dtypeName(data.ncType), data.ncType, nodata,
      data.attrs.get("scale_factor").flatMap(_.num),
      data.attrs.get("add_offset").flatMap(_.num),
      x0, dLon, y0, dy, flip, planes, timeVals, cfUnits, cfCal, proj)
  }

  // ------------------------------------------------------------- window reads

  /** Bounded window read of one timestep plane: per-row seeks, north-up
    * output. Executor memory is O(window). */
  final class PlaneSampler(g: NcGrid, t: Int, wx: Int, wy: Int, ww: Int, wh: Int)
      extends GeoTiff.PixelSampler with AutoCloseable {
    private val sz = TypeSize(g.ncType)
    private val buf = new Array[Byte](ww * wh * sz)
    locally {
      val raf = new RandomAccessFile(g.path, "r")
      try {
        var j = 0
        while (j < wh) {
          val northUpRow = wy + j
          val fileRow = if (g.flipY) g.height - 1 - northUpRow else northUpRow
          raf.seek(g.planeOffsets(t) + (fileRow.toLong * g.width + wx) * sz)
          raf.readFully(buf, j * ww * sz, ww * sz)
          j += 1
        }
      } finally raf.close()
    }
    private val bb = java.nio.ByteBuffer.wrap(buf)
    def sample(band: Int, px: Int, py: Int): Double = {
      val k = (py - wy) * ww + (px - wx)
      g.ncType match {
        case 1 => bb.get(k).toDouble
        case 3 => bb.getShort(2 * k).toDouble
        case 4 => bb.getInt(4 * k).toDouble
        case 5 => bb.getFloat(4 * k).toDouble
        case 6 => bb.getDouble(8 * k)
      }
    }
    def close(): Unit = ()
  }

  // ------------------------------------------------------------- convert

  /** S6 (NetCDF): convert a classic NetCDF to a raquet file. Each timestep
    * becomes one row per tile — (`block`, `time_cf`) composite key, derived
    * `time_ts` (NULL for non-Gregorian calendars), `band_1` payload —
    * matching `raster2raquet.py:2107-2125`. Distribution: tiles × levels are
    * the task axis; each task re-reads its bounded source window once per
    * timestep. */
  def convert(spark: SparkSession, ncPath: String, outFile: String,
      blockZoom: Int = 8, zoomStrategy: String = "auto",
      tileStats: Boolean = false, resampling: String = "near",
      overviews: String = "auto", minZoomOverride: Option[Int] = None,
      rowGroupBytes: Long = 0): RaquetMetadata =
    convertGrid(spark, describeAny(ncPath), outFile, blockZoom, zoomStrategy,
      tileStats, resampling, overviews, minZoomOverride, rowGroupBytes)

  /** [[convert]] over a pre-described grid source — the hook for callers
    * that select within a container first (e.g. one parameter of a
    * multi-variable GRIB file). */
  def convertGrid(spark: SparkSession, g: NcGridSource, outFile: String,
      blockZoom: Int = 8, zoomStrategy: String = "auto",
      tileStats: Boolean = false, resampling: String = "near",
      overviews: String = "auto", minZoomOverride: Option[Int] = None,
      rowGroupBytes: Long = 0): RaquetMetadata = {
    require(overviews == "auto" || overviews == "none",
      s"overviews must be auto or none, got $overviews")
    val info = g.info
    val bs = 1 << blockZoom
    val win = GeoTiff.pixelWindow(info)
    val res = GeoTiff.resolution(info, win)
    val zoom = GeoTiff.findZoom(res, blockZoom, zoomStrategy)
    val cfInfo = g.cfUnits.flatMap(u => CfTime.parseUnits(u, g.cfCalendar))
    val nt = g.timeValues.length

    val statFields: Seq[StructField] =
      if (!tileStats) Seq.empty
      else Seq(
        StructField("band_1_count", LongType),
        StructField("band_1_min", DoubleType), StructField("band_1_max", DoubleType),
        StructField("band_1_sum", DoubleType), StructField("band_1_mean", DoubleType),
        StructField("band_1_stddev", DoubleType))
    val schema = StructType(Seq(
      StructField("block", LongType, nullable = false),
      StructField("metadata", StringType),
      StructField("time_cf", DoubleType),
      StructField("time_ts", TimestampType),
      StructField("band_1", BinaryType)) ++ statFields)

    /** One level's (row, extended-stats) pairs — every level warps from the
      * source grid (the reference's VRT-descent shape; there is no COG
      * overview chain in NetCDF). */
    def levelRows(z: Int) = {
      val (xtMin, xtMax, ytMin, ytMax) = GeoTiff.tileEnvelope(info, win, z)
      val tiles = for (ty <- ytMin to ytMax; tx <- xtMin to xtMax) yield (tx, ty)
      val histLen = if (g.dtype == "uint8") 256 else 0
      spark.sparkContext
        .parallelize(tiles, math.max(1, math.min(tiles.size, 64)))
        .flatMap { case (tx, ty) =>
          val w = GeoTiff.tileSourceWindow(info, tx, ty, z, bs, win)
          val (wx, wy, ww, wh) = w
          val cell = Quadbin.tileToCell(tx, ty, z)
          (0 until nt).iterator.map { t =>
            val sampler =
              if (ww <= 0 || wh <= 0) null
              else g.sampler(t, wx, wy, ww, wh)
            val arr =
              if (sampler == null) null
              else GeoTiff.warpTile(info, sampler, 0, tx, ty, z, bs, win, resampling)
            val a = if (arr != null) arr
              else Array.fill(bs * bs)(g.nodata.getOrElse(GeoTiff.noDataFill(g.dtype)))
            val blob = PixelCodec.encode(a, g.dtype, gzip = true)
            val s = PixelCodec.maskedStats(a, g.nodata.getOrElse(Double.NaN), null)
            val ext = new Array[Double](6 + histLen)
            if (s == null) { ext(1) = Double.PositiveInfinity; ext(2) = Double.NegativeInfinity }
            else System.arraycopy(s, 0, ext, 0, 5)
            ext(5) = (bs.toLong * bs).toDouble
            val cf = g.timeValues(t)
            val ts: java.sql.Timestamp = cfInfo.map(_.toEpochMicros(cf)) match {
              case Some(us) if us != Long.MinValue =>
                java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
                  Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
              case _ => null
            }
            val statCols: Seq[Any] =
              if (!tileStats) Seq.empty
              else if (s == null) Seq[Any](0L, null, null, null, null, null)
              else Seq[Any](s(0).toLong, s(1), s(2), s(3),
                PixelCodec.statsMean(s), PixelCodec.statsStddev(s))
            (Row.fromSeq(Seq(cell, null, cf, ts, blob) ++ statCols), ext)
          }
        }
    }

    val native = levelRows(zoom).cache()
    val globalStats = native.map(_._2).reduce { (x, y) =>
      val r = new Array[Double](x.length)
      r(0) = x(0) + y(0)
      r(1) = math.min(x(1), y(1)); r(2) = math.max(x(2), y(2))
      var i = 3
      while (i < r.length) { r(i) = x(i) + y(i); i += 1 }
      r
    }
    val numBlocks = native.count() / nt

    val (xtMin, xtMax, ytMin, ytMax) = GeoTiff.tileEnvelope(info, win, zoom)
    val bounds = Array(
      Quadbin.tileWest(xtMin, zoom), Quadbin.tileSouth(ytMax, zoom),
      Quadbin.tileEast(xtMax, zoom), Quadbin.tileNorth(ytMin, zoom))
    val (wx, wy, ww, wh) = win
    val (lonW, latN) = (info.x0 + wx * info.dx, info.y0 + wy * info.dy)
    val (lonE, latS) = (info.x0 + (wx + ww) * info.dx, info.y0 + (wy + wh) * info.dy)
    val minZoom =
      if (overviews == "none") zoom
      else minZoomOverride.map(z0 => math.max(0, math.min(zoom, z0)))
        .getOrElse(GeoTiff.findMinZoom(math.min(lonW, lonE), math.min(latS, latN),
          math.max(lonW, lonE), math.max(latS, latN), zoom, blockZoom))

    val unit = g.cfUnits.flatMap(CfTime.parseUnits(_, g.cfCalendar)).map(_.unit)
    val meta = RaquetMetadata(
      version = "0.5.0",
      width = (xtMax - xtMin + 1) * bs, height = (ytMax - ytMin + 1) * bs,
      crs = "EPSG:3857", bounds = bounds,
      compression = Some("gzip"),
      blockWidth = bs, blockHeight = bs,
      minZoom = minZoom, maxZoom = zoom, pixelZoom = zoom + blockZoom,
      numBlocks = numBlocks,
      bandLayout = "sequential",
      bands = Seq {
        val hasData = globalStats(0) > 0
        val st = if (hasData)
          Some((globalStats(1), globalStats(2),
            PixelCodec.statsMean(globalStats), PixelCodec.statsStddev(globalStats)))
        else None
        val vp = if (globalStats(5) > 0) Some(globalStats(0) / globalStats(5) * 100.0) else None
        BandMeta("band_1", g.dtype, g.nodata, g.scale, g.offset,
          Some("gray"), None, stats = st, validPercent = vp)
      },
      time = g.cfUnits.map(u => TimeMeta(u, g.cfCalendar,
        resolution = unit.flatMap(CfTime.toIsoDuration(_, g.timeValues.toSeq)),
        interpretation = Some("period_start"),
        count = Some(nt.toLong))))

    var all = spark.createDataFrame(native.map(_._1), schema)
    var z = zoom - 1
    while (z >= minZoom) {
      all = all.unionByName(spark.createDataFrame(levelRows(z).map(_._1), schema))
      z -= 1
    }
    RaquetIO.writeSingleFile(all, meta, outFile, rowGroupBytes)
    native.unpersist()
    meta
  }
}

/** Minimal CDF-1 writer for specs and driver-query synthetics (the ingest
  * twin of [[TiffWriter]]): dims `(time=unlimited, lat, lon)`, double
  * coordinate variables (time as a RECORD coordinate, the common CF layout),
  * and one float32 data variable `v(time, lat, lon)` with `_FillValue` —
  * exercising the record-slab stride path of the reader. */
object NetCdfWriter {

  /** A CF grid-mapping fixture: the scalar mapping variable's name-value
    * attributes plus the axis naming/units the mapped file uses. */
  final case class Mapping(mappingName: String,
      numAttrs: Seq[(String, Array[Double])],
      latAxis: String, lonAxis: String, axisUnits: String)

  def write(path: String, lats: Array[Double], lons: Array[Double],
      times: Array[Double], timeUnits: String, fill: Float,
      value: (Int, Int, Int) => Float, version: Int = 1,
      rotatedPole: Option[(Double, Double)] = None,
      gridMapping: Option[Mapping] = None): Unit = {
    require(version == 1 || version == 5, s"writer emits CDF-1 or CDF-5, not $version")
    require(rotatedPole.isEmpty || gridMapping.isEmpty,
      "pass rotatedPole OR gridMapping, not both")
    val mapping = gridMapping.orElse(rotatedPole.map { case (pLat, pLon) =>
      Mapping("rotated_latitude_longitude",
        Seq("grid_north_pole_latitude" -> Array(pLat),
          "grid_north_pole_longitude" -> Array(pLon)),
        "rlat", "rlon", "degrees")
    })
    val ny = lats.length; val nx = lons.length; val nt = times.length
    val planeBytes = ny * nx * 4
    val planePadded = (planeBytes + 3) / 4 * 4
    val latName = mapping.map(_.latAxis).getOrElse("lat")
    val lonName = mapping.map(_.lonAxis).getOrElse("lon")

    def headerBytes(bLat: Int, bLon: Int, bRp: Int, bTime: Int, bV: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      // NON_NEG production: int32 in CDF-1, int64 in CDF-5 (applies to all
      // counts/lengths/ranks/dimids/vsize AND the begin offsets here)
      def nn(v: Long): Unit =
        if (version == 5) out.writeLong(v) else out.writeInt(v.toInt)
      def name(s: String): Unit = {
        val b = s.getBytes(StandardCharsets.UTF_8)
        nn(b.length); out.write(b)
        (0 until (4 - b.length % 4) % 4).foreach(_ => out.writeByte(0))
      }
      def textAttr(n: String, v: String): Unit = {
        name(n); out.writeInt(2) // NC_CHAR
        val b = v.getBytes(StandardCharsets.UTF_8)
        nn(b.length); out.write(b)
        (0 until (4 - b.length % 4) % 4).foreach(_ => out.writeByte(0))
      }
      def floatAttr(n: String, v: Float): Unit = {
        name(n); out.writeInt(5); nn(1); out.writeFloat(v)
      }
      def doublesAttr(n: String, vs: Array[Double]): Unit = {
        name(n); out.writeInt(6); nn(vs.length); vs.foreach(out.writeDouble)
      }
      out.writeBytes("CDF"); out.writeByte(version)
      nn(nt) // numrecs
      out.writeInt(0x0A); nn(3) // dim_list
      name("time"); nn(0) // record dim
      name(latName); nn(ny)
      name(lonName); nn(nx)
      out.writeInt(0); nn(0) // no global attrs
      out.writeInt(0x0B); nn(if (mapping.isDefined) 5 else 4) // var_list
      // lat(lat): double, units attr
      name(latName); nn(1); nn(1)
      out.writeInt(0x0C); nn(1)
      textAttr("units", mapping.map(_.axisUnits).getOrElse("degrees_north"))
      out.writeInt(6); nn(ny * 8); nn(bLat)
      // lon(lon)
      name(lonName); nn(1); nn(2)
      out.writeInt(0x0C); nn(1)
      textAttr("units", mapping.map(_.axisUnits).getOrElse("degrees_east"))
      out.writeInt(6); nn(nx * 8); nn(bLon)
      // the scalar CF grid-mapping variable
      mapping.foreach { m =>
        name("crs"); nn(0)
        out.writeInt(0x0C); nn(1 + m.numAttrs.length)
        textAttr("grid_mapping_name", m.mappingName)
        m.numAttrs.foreach { case (n, vs) => doublesAttr(n, vs) }
        out.writeInt(4); nn(4); nn(bRp) // int, 4 bytes
      }
      // time(time): record coordinate with CF units + calendar
      name("time"); nn(1); nn(0)
      out.writeInt(0x0C); nn(2)
      textAttr("units", timeUnits); textAttr("calendar", "standard")
      out.writeInt(6); nn(8); nn(bTime)
      // v(time, lat, lon): float32 with _FillValue (+ grid_mapping link)
      name("v"); nn(3); nn(0); nn(1); nn(2)
      out.writeInt(0x0C); nn(if (mapping.isDefined) 2 else 1)
      floatAttr("_FillValue", fill)
      if (mapping.isDefined) textAttr("grid_mapping", "crs")
      out.writeInt(5); nn(planePadded); nn(bV)
      out.flush()
      bos.toByteArray
    }

    val headerLen = headerBytes(0, 0, 0, 0, 0).length
    val bLat = headerLen
    val bLon = bLat + ny * 8
    val bRp = bLon + nx * 8
    val bTime = bRp + (if (mapping.isDefined) 4 else 0)
    val bV = bTime + 8
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path)))
    try {
      out.write(headerBytes(bLat, bLon, bRp, bTime, bV))
      lats.foreach(out.writeDouble)
      lons.foreach(out.writeDouble)
      if (mapping.isDefined) out.writeInt(0) // the scalar mapping var
      var t = 0
      while (t < nt) {
        out.writeDouble(times(t))
        var j = 0
        while (j < ny) {
          var i = 0
          while (i < nx) { out.writeFloat(value(t, j, i)); i += 1 }
          j += 1
        }
        (0 until planePadded - planeBytes).foreach(_ => out.writeByte(0))
        t += 1
      }
    } finally out.close()
  }
}
