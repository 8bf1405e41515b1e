package graft

import graft.geo.Wkt
import graft.quadbin.Quadbin
import graft.raquet.{BandKernel, PixelCodec}

/** Kernel-level edge semantics for the round-6 raster operators —
  * reclassify, composite (mosaic), rasterize, histogram. The driver
  * queries (q105/q106/q108/q109) prove the distributed pipelines against
  * closed-form oracles; these tests pin the per-kernel corner cases those
  * aggregate checks could mask (bin boundaries, nodata pass-through,
  * both-nodata holes, overlap priority, out-of-range buckets). */
class RasterOpsSpec extends SparkSpec {

  private val k = BandKernel("uint8", 255.0, 4, 4, 1.0, 0.0)
  private def enc(vs: Double*): Array[Byte] =
    PixelCodec.encode(vs.toArray, "uint8", gzip = true)
  private def dec(raw: Array[Byte]): Seq[Double] = k.decode(raw).toSeq

  test("reclassify: left-closed bins, boundary value goes to the upper class") {
    val raw = enc(0, 63, 64, 127, 128, 191, 192, 254, 255, 10, 100, 200,
      64, 128, 192, 1)
    val out = k.reclassify(raw, Array(64.0, 128.0, 192.0),
      Array(10.0, 20.0, 30.0, 40.0))
    assert(dec(out) == Seq(10, 10, 20, 20, 30, 30, 40, 40, 255, 10, 20, 40,
      20, 30, 40, 10).map(_.toDouble))
  }

  test("reclassify: nodata pixels pass through untouched") {
    val raw = enc(Seq.fill(16)(255.0): _*)
    assert(dec(k.reclassify(raw, Array(100.0), Array(1.0, 2.0))) ==
      Seq.fill(16)(255.0))
  }

  test("reclassify: class count must be breaks + 1") {
    intercept[IllegalArgumentException] {
      k.reclassify(enc(Seq.fill(16)(0.0): _*), Array(1.0, 2.0), Array(1.0, 2.0))
    }
  }

  test("contour: crossings interpolate, saddles split by center, masked cells skip") {
    // 2×2 cell raster (one cell per quadrant of the 4×4 tile is overkill;
    // use the single top-left cell via tailored values)
    // simple crossing: a=0 b=10 / c=0 d=10 at level 5 → vertical line x=0.5
    val simple = k.contour(enc(0, 10, 0, 0, 0, 10, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0), 5.0)
    assert(simple.exists(s => s.toSeq == Seq(0.5, 0.0, 0.5, 1.0)))
    // saddle: a=10 d=10 above, b=0 c=0 below; center avg 5 ≤ level(6) →
    // a and d isolated: (top,left) + (right,bottom)
    val sad = k.contour(enc(10, 0, 0, 0, 0, 10, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0), 6.0)
      .filter(s => s.forall(_ <= 1.0)) // cell (0,0) only
    assert(sad.length == 2)
    assert(sad.exists(s => s(0) == 0.0 && s(1) == 0.4 && s(2) == 0.4 && s(3) == 0.0))
    assert(sad.exists(s => s.toSeq == Seq(0.6, 1.0, 1.0, 0.6)))
    // center ABOVE the level → b and c isolated instead
    val sad2 = k.contour(enc(10, 0, 0, 0, 0, 10, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0), 4.0).filter(s => s.forall(_ <= 1.0))
    assert(sad2.exists(s => s(1) == 0.0 && s(0) > 0.5)) // top–right pairing
    // a masked corner silences the cell
    val masked = k.contour(enc(255, 10, 0, 0, 0, 10, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0), 5.0)
    assert(!masked.exists(s => s(0) <= 1 && s(1) <= 1 && s(2) <= 1 && s(3) <= 1))
    // no crossings → empty
    assert(k.contour(enc(Seq.fill(16)(1.0): _*), 5.0).isEmpty)
  }

  test("composite: a wins where valid, b fills holes, both-nodata stays a hole") {
    val a = enc(1, 255, 3, 255, 5, 255, 7, 255, 9, 255, 11, 255, 13, 255, 15, 255)
    val b = enc(100, 200, 100, 255, 100, 200, 100, 255,
      100, 200, 100, 255, 100, 200, 100, 255)
    assert(dec(k.composite(a, b)) == Seq(1, 200, 3, 255, 5, 200, 7, 255,
      9, 200, 11, 255, 13, 200, 15, 255).map(_.toDouble))
  }

  test("composite rejects mismatched tile sizes") {
    intercept[IllegalArgumentException] {
      k.composite(enc(Seq.fill(16)(1.0): _*), enc(Seq.fill(4)(1.0): _*))
    }
  }

  test("rasterize: max zone wins on overlap, untouched pixels stay nodata") {
    // tile (0,0) at zoom 0 spans the whole world; zone A covers the NW
    // quadrant (lon<0, lat>0), zone B a band overlapping A's east half
    val block = Quadbin.tileToCell(0, 0, 0)
    val a = Wkt.parse("POLYGON((-170 5, -5 5, -5 80, -170 80, -170 5))")
    val b = Wkt.parse("POLYGON((-100 5, 170 5, 170 80, -100 80, -100 5))")
    val out = k.rasterize(block, Array(1.0, 2.0), Array(a, b))
    val px = dec(out)
    // rows 0-1 are north of the equator at 4px resolution; pixel-center
    // lons are -135, -45, 45, 135
    assert(px.take(8) == Seq(1, 2, 2, 2, 1, 2, 2, 2).map(_.toDouble))
    assert(px.drop(8) == Seq.fill(8)(255.0)) // south half untouched
  }

  test("rasterize: whole-tile zone takes the containsBox path") {
    val block = Quadbin.tileToCell(2, 3, 3)
    val world = Wkt.parse("POLYGON((-180 -86, 180 -86, 180 86, -180 86, -180 -86))")
    assert(dec(k.rasterize(block, Array(7.0), Array(world))) == Seq.fill(16)(7.0))
  }

  test("SQL registrations of reclassify/composite/histogram match the DSL") {
    import org.apache.spark.sql.functions.col
    import graft.functions.GraftFunctions._
    val ds = graft.raquet.RaquetIO.read(spark,
      graft.operators.RaquetQueries.Fixture)
    ds.data.createOrReplaceTempView("rq_ops_sqlreg")
    val mj = graft.raquet.RaquetMetadata.toJson(ds.meta)
    val viaSql = spark.sql(
      s"""SELECT block,
            rq_reclassify(band_1, '$mj', 'band_1', '64,128,192', '10,20,30,40') AS r,
            rq_composite(band_1, band_1, '$mj', 'band_1') AS c,
            rq_histogram(band_1, '$mj', 'band_1', -0.5, 255.5, 256) AS h,
            rq_contour(band_1, '$mj', 'band_1', 100.5) AS ct
          FROM rq_ops_sqlreg""").collect()
    val viaDsl = ds.data.select(col("block"),
        rq_reclassify(col("band_1"), ds.meta, "band_1",
          Array(64.0, 128.0, 192.0), Array(10.0, 20.0, 30.0, 40.0)).as("r"),
        rq_composite(col("band_1"), col("band_1"), ds.meta, "band_1").as("c"),
        rq_histogram(col("band_1"), ds.meta, "band_1", -0.5, 255.5, 256).as("h"),
        rq_contour(col("band_1"), ds.meta, "band_1", 100.5).as("ct"))
      .collect()
    val byBlock = viaSql.map(r => r.getLong(0) -> r).toMap
    assert(viaDsl.length == viaSql.length)
    viaDsl.foreach { d =>
      val q = byBlock(d.getLong(0))
      assert(java.util.Arrays.equals(d.getAs[Array[Byte]](1), q.getAs[Array[Byte]](1)))
      assert(java.util.Arrays.equals(d.getAs[Array[Byte]](2), q.getAs[Array[Byte]](2)))
      assert(d.getSeq[Long](3) == q.getSeq[Long](3))
      assert(d.getSeq[Seq[Double]](4) == q.getSeq[Seq[Double]](4))
    }
  }

  test("SQL registrations of band-math/st_contains match the DSL") {
    import org.apache.spark.sql.functions.col
    import graft.functions.GraftFunctions._
    val ds = graft.raquet.RaquetIO.read(spark,
      graft.operators.RaquetQueries.Fixture)
    ds.data.createOrReplaceTempView("rq_bm_sqlreg")
    val mj = graft.raquet.RaquetMetadata.toJson(ds.meta)
    val viaSql = spark.sql(
      s"""SELECT block,
            rq_band_math(band_2, band_1, '$mj', 'band_2', 'band_1', 'sub') AS v,
            rq_band_math_stats(band_2, band_1, '$mj', 'band_2', 'band_1', 'sub') AS s,
            st_contains('POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))', 5.0, 5.0) AS c
          FROM rq_bm_sqlreg""").collect()
    val viaDsl = ds.data.select(col("block"),
        rq_band_math(col("band_2"), col("band_1"), ds.meta,
          "band_2", "band_1", "sub").as("v"),
        rq_band_math_stats(col("band_2"), col("band_1"), ds.meta,
          "band_2", "band_1", "sub").as("s"))
      .collect()
    val byB = viaSql.map(r => r.getLong(0) -> r).toMap
    assert(viaDsl.length == viaSql.length)
    viaDsl.foreach { d =>
      val q = byB(d.getLong(0))
      val a = d.getSeq[Double](1); val b = q.getSeq[Double](1)
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) => assert(x == y || (x.isNaN && y.isNaN)) }
      assert(d.getStruct(2) == q.getStruct(2))
      assert(q.getBoolean(3))
    }
  }

  test("mosaicToFile writes a complete raquet dataset that validates") {
    import org.apache.spark.sql.functions.{col, sum}
    val fixture = graft.operators.RaquetQueries.Fixture
    val out = java.nio.file.Files.createTempDirectory("mosaic").toString + "/m.parquet"
    // self-mosaic: both sides present everywhere → decode+composite+encode
    // of every blob; values (hence stats) must be preserved exactly
    graft.raquet.Mosaic.mosaicToFile(spark, fixture, fixture, out)
    val orig = graft.raquet.RaquetIO.read(spark, fixture)
    val back = graft.raquet.RaquetIO.read(spark, out)
    assert(back.data.count() == orig.data.count())
    def sums(d: org.apache.spark.sql.DataFrame) =
      d.agg(sum("band_1_sum"), sum("band_1_count"), sum("band_2_sum")).head()
    assert(sums(back.data) == sums(orig.data))
    val checks = graft.raquet.Maintenance.validate(spark, out).collect()
    assert(checks.forall(_.getBoolean(1)),
      checks.filterNot(_.getBoolean(1)).mkString(", "))
    // decoded pixels identical to the original through the standard kernel
    val diff = back.data.as("b").join(orig.data.as("o"), "block")
      .select(graft.functions.GraftFunctions.rq_decode(col("b.band_1"), back.meta, "band_1").as("vb"),
        graft.functions.GraftFunctions.rq_decode(col("o.band_1"), orig.meta, "band_1").as("vo"))
      .filter(col("vb") =!= col("vo")).count()
    assert(diff == 0)
  }

  test("temporal fit: nodata at any step makes that pixel NaN; others exact") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def step(x: Double, vs: Seq[Double]) =
      InternalRow(x, PixelCodec.encode(vs.toArray, "uint8", gzip = true))
    // pixel 0 trends 1,2,3 (slope 1, intercept 1); pixel 1 hits nodata at
    // step 1 → strict NaN; every other pixel is constant 5 (slope 0)
    val base = Seq.fill(16)(5.0)
    val fit = org.apache.spark.sql.graft.RqBridge.temporalFitOf(k,
      new GenericArrayData(Array[Any](
        step(0.0, base.updated(0, 1.0).updated(1, 7.0)),
        step(1.0, base.updated(0, 2.0).updated(1, 255.0)),
        step(2.0, base.updated(0, 3.0).updated(1, 9.0)))))
    val slope = fit.getArray(0).toDoubleArray()
    val icpt = fit.getArray(1).toDoubleArray()
    assert(slope(0) == 1.0 && icpt(0) == 1.0)
    assert(slope(1).isNaN && icpt(1).isNaN)
    assert(slope(2) == 0.0 && icpt(2) == 5.0)
    assert(slope.length == 16 && slope.drop(2).forall(_ == 0.0))
  }

  test("histogram: per-DN counts, nodata and out-of-range dropped") {
    val raw = enc(0, 0, 1, 5, 5, 5, 255, 255, 3, 3, 3, 3, 0, 1, 5, 2)
    val h = k.histogram(raw, -0.5, 255.5, 256)
    assert(h(0) == 3 && h(1) == 2 && h(2) == 1 && h(3) == 4 && h(5) == 4)
    assert(h(255) == 0) // nodata masked
    assert(h.sum == 14)
    // narrowed range drops values outside it
    val h2 = k.histogram(raw, -0.5, 2.5, 3)
    assert(h2.toSeq == Seq(3L, 2L, 1L))
  }
}
