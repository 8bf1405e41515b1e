package graft.raquet

import graft.geo.{Geom, MultiPolygonGeom, PointGeom, PolygonGeom}

/** The pixels of a tile that a clip keeps, as `count` runs of pixel
  * offsets `[start(r), end(r))` (offset = row · width + column), sorted and
  * disjoint: walking the runs in order visits the kept pixels in row-major
  * order, the order every kernel accumulates in. */
final class PixelRuns private (bounds: Array[Int], val count: Int) {
  def start(r: Int): Int = bounds(2 * r)
  def end(r: Int): Int = bounds(2 * r + 1)
}

object PixelRuns {

  /** Every one of `n` pixels. */
  def all(n: Int): PixelRuns = new PixelRuns(Array(0, n), 1)

  /** The pixels whose centre `geom.containsPoint` accepts, on the grid of
    * column-centre longitudes `lons` (non-decreasing) and row-centre
    * latitudes `lats`; the same pixels as a per-pixel `containsPoint` test.
    *
    * A polygon's row is one pass: its edge intercepts on the row's latitude
    * ([[PolygonGeom.rowCrossings]]) are sorted once, and a pixel is inside
    * when an odd number of them lie strictly east of its centre and the
    * centre is in the bbox. A multipolygon keeps the union of its members'
    * pixels (one parity over all members would drop their overlaps); a
    * point keeps the pixels whose centre equals it. */
  def apply(geom: Geom, lons: Array[Double], lats: Array[Double]): PixelRuns = {
    val width = lons.length
    val polys = geom match {
      case p: PolygonGeom => Array(p)
      case MultiPolygonGeom(ps) => ps
      case _: PointGeom => Array.empty[PolygonGeom]
    }
    val xs = new Array[Double](if (polys.isEmpty) 0 else polys.map(_.edgeCount).max)
    val row = new Array[Boolean](width)
    var bounds = new Array[Int](16)
    var count = 0
    var j = 0
    while (j < lats.length) {
      val py = lats(j)
      java.util.Arrays.fill(row, false)
      geom match {
        case PointGeom(lon, lat) =>
          if (py == lat) {
            var i = 0
            while (i < width) { if (lons(i) == lon) row(i) = true; i += 1 }
          }
        case _ =>
          var p = 0
          while (p < polys.length) {
            val b = polys(p).bbox
            if (py >= b.south && py <= b.north) {
              val m = polys(p).rowCrossings(py, xs)
              var k = 0 // intercepts ≤ the current centre
              var i = 0
              while (i < width) {
                val px = lons(i)
                while (k < m && xs(k) <= px) k += 1
                if (((m - k) & 1) == 1 && px >= b.west && px <= b.east) row(i) = true
                i += 1
              }
            }
            p += 1
          }
      }
      var i = 0
      while (i < width) {
        if (row(i)) {
          val s = i
          while (i < width && row(i)) i += 1
          if (2 * count + 2 > bounds.length)
            bounds = java.util.Arrays.copyOf(bounds, 2 * bounds.length)
          bounds(2 * count) = j * width + s
          bounds(2 * count + 1) = j * width + i
          count += 1
        } else i += 1
      }
      j += 1
    }
    new PixelRuns(bounds, count)
  }
}
