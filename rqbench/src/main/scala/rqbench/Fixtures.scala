package rqbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.raquet.{FixtureGen, GeoTiff, Pyramid, RaquetIO, RaquetMetadata, TiffWriter}

/** The benchmark's inputs. Every one is made from the seed and written by
  * the engine under test (its own `FixtureGen`, `Pyramid`, `RaquetIO.write`
  * and `TiffWriter`), and cached only under a directory keyed by the engine
  * build, so no run reads a table another build wrote.
  *
  * The inputs depend on the seed's [[variant]] only, so a series of runs on
  * many seeds needs only [[Variants]] fixtures, all written by its first
  * run; the queries, their positions and their order depend on the whole
  * seed. */
object Fixtures {

  /** Distinct fixtures: a fixture write (a JVM start plus 13-36 s) costs
    * most of a run, so one per seed would make a series on fresh seeds
    * about 70 % longer.
    * `rqbench/run.py` keeps the same number. */
  val Variants = 4

  def variant(seed: Long): Long = Math.floorMod(seed, Variants.toLong)

  /** Native zoom of the slope table: 256² tiles, pixel zoom 20. */
  val SlopeZoom = 12
  /** Native tiles per side: N² native tiles plus (N/2)² overview tiles. */
  val SlopeSide = 32
  /** Rows per output file: 8 data files for the 1,280-row table. */
  val SlopeRowsPerFile = 200L
  /** 2 MB row groups: the large set's fine-grained 8 MB pruning layout,
    * scaled with the table so each file holds several groups. */
  val SlopeRowGroupBytes = 2L << 20

  /** The slope table of one seed. The seed's variant fixes the tile origin,
    * and the pixel field is a function of global pixel coordinates, so
    * content changes with the variant. */
  final case class Slope(dir: String, x0: Long, y0: Long) {
    def z: Int = SlopeZoom
    def n: Int = SlopeSide
    def nativeTiles: Int = n * n
    def overviewTiles: Int = (n / 2) * (n / 2)
  }

  def slope(fixtureDir: String, seed: Long): Slope = {
    val v = variant(seed)
    val rnd = new java.util.Random(v * 0x9E3779B97F4A7C15L + 1)
    // origin on a 64-tile quadtree node: every overview tile has its four
    // children, and every variant's table has the same Morton layout (an
    // unaligned origin measured 17-74 s to write, varying by origin)
    Slope(s"$fixtureDir/slope-v$v", 64L * (16 + rnd.nextInt(32)),
      64L * (16 + rnd.nextInt(32)))
  }

  def slopeMeta(s: Slope): RaquetMetadata =
    FixtureGen.slopeMetadata(s.z, s.x0, s.y0, s.n, s.n, 256, minZoom = s.z - 1)

  /** Write the slope table (native + one overview level), returning seconds. */
  def writeSlope(spark: SparkSession, s: Slope): Double = {
    Util.deleteTree(s.dir)
    val t0 = System.nanoTime()
    val meta = slopeMeta(s)
    // persisted so the range-partitioning sample, the overview level and
    // the write read one generation of the native tiles
    val native = FixtureGen.slopeTiles(spark, s.z, s.x0, s.y0, s.n, s.n, 256)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val all = Pyramid.build(native, meta, s.z - 1)
    RaquetIO.write(all, meta, s.dir, maxRecordsPerFile = SlopeRowsPerFile,
      rowGroupBytes = SlopeRowGroupBytes)
    native.unpersist()
    (System.nanoTime() - t0) / 1e9
  }

  /** Exact per-tile [count, min, max, sum] of the slope field over the
    * table's native tiles, row-major from (x0, y0), evaluated from
    * `FixtureGen.slopeValue` on `threads` threads. Every value is a
    * multiple of 1/64 below 66, so the sums are exact in any order. */
  def slopeTileOracle(s: Slope, threads: Int): Array[Array[Double]] = {
    val out = new Array[Array[Double]](s.nativeTiles)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until s.nativeTiles).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val tx = s.x0 + t % s.n; val ty = s.y0 + t / s.n
            var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
            var sum = 0.0
            var j = 0
            while (j < 256) {
              var i = 0
              while (i < 256) {
                val v = FixtureGen.slopeValue(tx * 256 + i, ty * 256 + j)
                if (v < mn) mn = v
                if (v > mx) mx = v
                sum += v
                i += 1
              }
              j += 1
            }
            out(t) = Array(65536.0, mn, mx, sum)
          }
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    out
  }

  // --- convert source: a TCI-class RGB GeoTIFF ---

  /** Zoom whose 256-pixel tiles match the source's pixel grid exactly. */
  val TciZoom = 12
  /** Source side in pixels: 3 bands × 1024² uint8 = 3.1 MB raw. */
  val TciSide = 1024

  /** The convert source of one seed; `seed` here is the seed's variant. */
  final case class Tci(path: String, seed: Long, tx0: Long, ty0: Long) {
    def side: Int = TciSide
    def pixels: Long = side.toLong * side
    def rawBytes: Long = pixels * 3
  }

  def tci(fixtureDir: String, seed: Long): Tci = {
    val v = variant(seed)
    val rnd = new java.util.Random(v * 0xC2B2AE3D27D4EB4FL + 7)
    Tci(s"$fixtureDir/tci-v$v.tif", v, 1024L + rnd.nextInt(2048),
      1024L + rnd.nextInt(2048))
  }

  /** Sample of band `b` at source pixel (x, y): smooth colour fields plus
    * ±6 pseudo-noise, so deflate and gzip see photographic-class content
    * (roughly 1.5-2× compressible) rather than a gradient. */
  def tciValue(t: Tci, b: Int, x: Int, y: Int): Int = {
    val ph = (t.seed % 1000) / 100.0
    val base = b match {
      case 0 => 110 + 60 * StrictMath.sin(x / 97.0 + ph) + 40 * StrictMath.cos(y / 53.0)
      case 1 => 120 + 50 * StrictMath.sin((x + y) / 131.0 - ph) + 30 * StrictMath.cos(x / 41.0)
      case _ => 100 + 70 * StrictMath.cos(y / 89.0 + ph) + 20 * StrictMath.sin((x - y) / 37.0)
    }
    var h = (x.toLong * 0x9E3779B97F4A7C15L) ^ (y.toLong * 0xC2B2AE3D27D4EB4FL) ^
      ((b + 1).toLong * 0x165667B19E3779F9L) ^ t.seed
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    val noise = java.lang.Long.remainderUnsigned(h, 13L).toInt - 6
    math.max(0, math.min(255, math.round(base).toInt + noise))
  }

  /** Write the source: 3-band uint8, deflate, predictor 2, 256² tiles,
    * EPSG:3857 on the zoom-[[TciZoom]] tile grid. Returns seconds. */
  def writeTci(t: Tci): Double = {
    val t0 = System.nanoTime()
    val n = t.side
    val bands = Array.tabulate(3) { b =>
      val a = new Array[Double](n * n)
      var y = 0
      while (y < n) {
        var x = 0
        while (x < n) { a(y * n + x) = tciValue(t, b, x, y); x += 1 }
        y += 1
      }
      a
    }
    val tile = GeoTiff.CE / (1L << TciZoom)
    Files.createDirectories(Paths.get(t.path).getParent)
    TiffWriter.writeTiled(t.path, n, n, "uint8", bands,
      pixelSize = tile / 256, originX = -GeoTiff.CE / 2 + t.tx0 * tile,
      originY = GeoTiff.CE / 2 - t.ty0 * tile, nodata = None,
      compression = 8, predictor = 2)
    (System.nanoTime() - t0) / 1e9
  }
}
