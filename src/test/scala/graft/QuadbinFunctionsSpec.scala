package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.quadbin.Quadbin

class QuadbinFunctionsSpec extends SparkSpec {

  test("quadbin expressions agree with the kernel via DSL (codegen path)") {
    import spark.implicits._
    val df = spark.range(0, 1000)
      .withColumn("z", (col("id") % 10 + 5).cast("int"))
      .withColumn("x", pmod(col("id") * 2654435761L, expr("shiftleft(1L, z)")))
      .withColumn("y", pmod(col("id") * 40503L, expr("shiftleft(1L, z)")))
      .withColumn("cell", quadbin_from_tile($"x", $"y", $"z"))
      .withColumn("zz", quadbin_zoom($"cell"))
      .withColumn("xx", quadbin_tile_x($"cell"))
      .withColumn("yy", quadbin_tile_y($"cell"))
      .withColumn("valid", quadbin_is_valid($"cell"))
      .withColumn("parent", quadbin_ancestor($"cell", lit(3)))
    val rows = df.collect()
    assert(rows.length == 1000)
    rows.foreach { r =>
      val x = r.getAs[Long]("x"); val y = r.getAs[Long]("y")
      val z = r.getAs[Int]("z"); val cell = r.getAs[Long]("cell")
      assert(cell == Quadbin.tileToCell(x, y, z))
      assert(r.getAs[Int]("zz") == z)
      assert(r.getAs[Long]("xx") == x)
      assert(r.getAs[Long]("yy") == y)
      assert(r.getAs[Boolean]("valid"))
      assert(r.getAs[Long]("parent") == Quadbin.ancestor(cell, 3))
    }
  }

  test("SQL registration works") {
    val row = spark.sql(
      """SELECT quadbin_from_tile(1L, 2L, 3) AS c,
                quadbin_zoom(quadbin_from_tile(1L, 2L, 3)) AS z,
                quadbin_from_lonlat(0.0D, 0.0D, 1) AS ll""").first()
    assert(row.getLong(0) == 5202361257054699519L)
    assert(row.getInt(1) == 3)
    assert(row.getLong(2) == Quadbin.fromLonLat(0, 0, 1))
  }

  test("quadbin_bounds returns wsen array") {
    import spark.implicits._
    val b = spark.sql("SELECT quadbin_bounds(quadbin_from_tile(0L, 0L, 1))")
      .first().getSeq[Double](0)
    assert(b(0) == -180.0 && b(2) == 0.0)
    assert(math.abs(b(3) - Quadbin.LatLimit) < 0.001)
  }

  test("expressions stay null-safe") {
    val r = spark.sql("SELECT quadbin_zoom(CAST(NULL AS BIGINT)) AS z").first()
    assert(r.isNullAt(0))
  }
}
