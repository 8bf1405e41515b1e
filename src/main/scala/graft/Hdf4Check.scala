package graft

import java.nio.file.{Files, Paths}

import graft.raquet.{GeoTiff, Hdf4, Hdf4Writer, PixelCodec, RaquetIO}

/** Scale check for the HDF4/HDF-EOS ingest: writes a 16384×16384 int16
  * chunked+deflate grid (512 MB of samples, 256 chunks) and converts it
  * with the WHOLE JVM heap capped:
  *
  *   SPARK_DRIVER_MEM=1g sbt "runMain graft.Hdf4Check"
  *
  * A whole-SDS materialization (samples as doubles) would need ~2.1 GB —
  * guaranteed OOM at 1 GB. The windowed ingest reads only the chunks each
  * 256-px tile window intersects (≤ 4 × 2 MB decoded per window), and the
  * fixture writer itself encodes chunk-at-a-time (never the cube). A pixel
  * probe verifies warped output against the synthetic closed form — the
  * BigTiffCheck pattern. Not part of the driver contract. */
object Hdf4Check {

  private def v(i: Int, j: Int): Int = (i * 3 + j * 7) % 4001

  def main(args: Array[String]): Unit = {
    val n = 16384
    val dir = Files.createTempDirectory("hdf4check")
    val hdf = s"$dir/big.hdf"
    // geographic grid: lon [-60, 60], lat [50, -30] (north-up)
    val x0 = -60.0; val dx = 120.0 / n
    val y0 = 50.0; val dy = -80.0 / n
    println(s"writing ${n}x$n int16 chunked-deflate HDF4 to $hdf ...")
    Hdf4Writer.write(hdf, Hdf4Writer.Grid("BigGrid",
      Seq(Hdf4Writer.Field("v", 22, n, n, (j, i) => v(i, j).toDouble,
        layout = "chunked-deflate", chunkY = 1024, chunkX = 1024)),
      Hdf4Writer.degToDms(x0), Hdf4Writer.degToDms(y0),
      Hdf4Writer.degToDms(x0 + n * dx), Hdf4Writer.degToDms(y0 + n * dy),
      projection = "geo"))
    println(f"wrote ${Files.size(Paths.get(hdf)) / 1e6}%.1f MB " +
      f"(${2L * n * n / 1e9}%.2f GB of samples); heap max " +
      f"${Runtime.getRuntime.maxMemory / 1e9}%.2f GB")

    val spark = SessionDefaults.session("graft-hdf4-check")
    try {
      val out = s"$dir/big.parquet"
      val t0 = System.nanoTime()
      val meta = Hdf4.convert(spark, hdf, out, overviews = "none")
      println(f"convert: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
        s"numBlocks=${meta.numBlocks}, zoom=${meta.maxZoom}")
      require(meta.numBlocks > 1000, s"unexpected tiling: ${meta.numBlocks}")

      // pixel probe: decoded warped pixel == closed form at the NN source px
      val ds = RaquetIO.read(spark, out)
      val z = meta.maxZoom; val bs = meta.blockWidth
      val probe = ds.data
        .filter(org.apache.spark.sql.functions.col("block") =!= 0L)
        .select("block", "band_1").limit(3).collect()
      var checked = 0
      for (row <- probe) {
        val cell = row.getLong(0)
        val px = PixelCodec.decode(row.getAs[Array[Byte]](1),
          meta.bands.head.bandType)
        val tx = graft.quadbin.Quadbin.tileX(cell)
        val ty = graft.quadbin.Quadbin.tileY(cell)
        val size = GeoTiff.CE / (1L << z)
        for ((i, j) <- Seq((0, 0), (bs / 2, bs / 3), (bs - 1, bs - 1))) {
          val mx = -GeoTiff.CE / 2 + tx * size + (i + 0.5) * size / bs
          val my = GeoTiff.CE / 2 - ty * size - (j + 0.5) * size / bs
          val sx = GeoTiff.invLon(mx); val sy = GeoTiff.invLat(my)
          val si = math.floor((sx - x0) / dx).toInt
          val sj = math.floor((sy - y0) / dy).toInt
          if (si >= 0 && si < n && sj >= 0 && sj < n) {
            val want = v(si, sj).toDouble
            val got = px(j * bs + i)
            require(got == want, s"pixel ($i,$j) of $cell: got $got want $want")
            checked += 1
          }
        }
      }
      require(checked > 0, "no probe pixel landed inside the source")
      println(s"pixel probe OK ($checked checked). PASS")
    } finally {
      spark.stop()
      RaquetIO.deleteTree(dir.toString)
    }
  }
}
