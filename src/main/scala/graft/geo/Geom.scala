package graft.geo

/** Minimal dependency-free planar geometry for tile/geometry predicates.
  *
  * Covers what the raquet query surface needs (reference `docs/engines.md:47-50`,
  * `scripts/benchmark.py:27-48`): WKT POINT/POLYGON/MULTIPOLYGON parsing,
  * point-in-polygon (even-odd ray cast), bbox×polygon intersects/contains.
  * Coordinates are WGS84 lon/lat; all tests are planar (consistent with the
  * reference's mercantile-based tile tests).
  */
final case class BBox(west: Double, south: Double, east: Double, north: Double) {
  def intersects(o: BBox): Boolean =
    west <= o.east && o.west <= east && south <= o.north && o.south <= north
  def contains(o: BBox): Boolean =
    west <= o.west && o.east <= east && south <= o.south && o.north <= north
  def containsPoint(lon: Double, lat: Double): Boolean =
    lon >= west && lon <= east && lat >= south && lat <= north
  def centerLon: Double = (west + east) / 2
  def centerLat: Double = (south + north) / 2
}

sealed trait Geom {
  def bbox: BBox
  def containsPoint(lon: Double, lat: Double): Boolean
  /** True if this geometry and the box share any point. */
  def intersectsBox(b: BBox): Boolean
  /** True if the box is entirely inside this geometry. */
  def containsBox(b: BBox): Boolean
}

final case class PointGeom(lon: Double, lat: Double) extends Geom {
  val bbox: BBox = BBox(lon, lat, lon, lat)
  def containsPoint(x: Double, y: Double): Boolean = x == lon && y == lat
  def intersectsBox(b: BBox): Boolean = b.containsPoint(lon, lat)
  def containsBox(b: BBox): Boolean = false
}

/** rings(0) = shell, rings(1..) = holes; each ring closed (first==last ok
  * but not required). Even-odd rule handles holes uniformly. */
final case class PolygonGeom(rings: Array[Array[Double]]) extends Geom {
  // each ring is a flat [x0,y0,x1,y1,...] array — cache-friendly, no tuples
  val bbox: BBox = {
    var w = Double.MaxValue; var s = Double.MaxValue
    var e = Double.MinValue; var n = Double.MinValue
    val shell = rings(0)
    var i = 0
    while (i < shell.length) {
      val x = shell(i); val y = shell(i + 1)
      if (x < w) w = x; if (x > e) e = x
      if (y < s) s = y; if (y > n) n = y
      i += 2
    }
    BBox(w, s, e, n)
  }

  def containsPoint(px: Double, py: Double): Boolean = {
    if (!bbox.containsPoint(px, py)) return false
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val m = ring.length
      var i = 0
      var j = m - 2
      while (i < m) {
        val xi = ring(i); val yi = ring(i + 1)
        val xj = ring(j); val yj = ring(j + 1)
        if (((yi > py) != (yj > py)) &&
            (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inside = !inside
        j = i
        i += 2
      }
      r += 1
    }
    inside
  }

  /** Number of vertices over all rings: an upper bound on [[rowCrossings]]. */
  def edgeCount: Int = rings.iterator.map(_.length / 2).sum

  /** The edge intercepts [[containsPoint]] compares `px` against on the
    * line `py`, sorted ascending into `xs` (NaN intercepts, which no `px`
    * is below, left out); returns their count. Each is computed with
    * [[containsPoint]]'s own expressions, so for every `px` inside the bbox
    * `containsPoint(px, py)` is true exactly when an odd number of them are
    * greater than `px`. */
  def rowCrossings(py: Double, xs: Array[Double]): Int = {
    var n = 0
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val m = ring.length
      var i = 0
      var j = m - 2
      while (i < m) {
        val xi = ring(i); val yi = ring(i + 1)
        val xj = ring(j); val yj = ring(j + 1)
        if ((yi > py) != (yj > py)) {
          val x = (xj - xi) * (py - yi) / (yj - yi) + xi
          if (!java.lang.Double.isNaN(x)) { xs(n) = x; n += 1 }
        }
        j = i
        i += 2
      }
      r += 1
    }
    java.util.Arrays.sort(xs, 0, n)
    n
  }

  private def segsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
                            cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Int = {
      val v = (qx - px) * (ry - py) - (qy - py) * (rx - px)
      if (v > 0) 1 else if (v < 0) -1 else 0
    }
    def onSeg(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Boolean =
      math.min(px, qx) <= rx && rx <= math.max(px, qx) &&
      math.min(py, qy) <= ry && ry <= math.max(py, qy)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) return true
    (o1 == 0 && onSeg(ax, ay, bx, by, cx, cy)) ||
    (o2 == 0 && onSeg(ax, ay, bx, by, dx, dy)) ||
    (o3 == 0 && onSeg(cx, cy, dx, dy, ax, ay)) ||
    (o4 == 0 && onSeg(cx, cy, dx, dy, bx, by))
  }

  private def anyEdgeIntersectsBox(b: BBox): Boolean = {
    // box edges as 4 segments
    val bx = Array(b.west, b.south, b.east, b.south, b.east, b.north, b.west, b.north)
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val m = ring.length
      var i = 0
      var j = m - 2
      while (i < m) {
        val x1 = ring(j); val y1 = ring(j + 1)
        val x2 = ring(i); val y2 = ring(i + 1)
        // quick reject: edge bbox vs box
        if (!(math.max(x1, x2) < b.west || math.min(x1, x2) > b.east ||
              math.max(y1, y2) < b.south || math.min(y1, y2) > b.north)) {
          var k = 0
          while (k < 8) {
            val k2 = (k + 2) % 8
            if (segsIntersect(x1, y1, x2, y2, bx(k), bx(k + 1), bx(k2), bx(k2 + 1)))
              return true
            k += 2
          }
          // edge fully inside box also counts as intersection
          if (b.containsPoint(x1, y1)) return true
        }
        j = i
        i += 2
      }
      r += 1
    }
    false
  }

  def intersectsBox(b: BBox): Boolean = {
    if (!bbox.intersects(b)) return false
    // box corner inside polygon, or polygon vertex inside box, or edge crossing
    if (containsPoint(b.west, b.south) || containsPoint(b.east, b.south) ||
        containsPoint(b.west, b.north) || containsPoint(b.east, b.north)) return true
    if (b.containsPoint(rings(0)(0), rings(0)(1))) return true
    anyEdgeIntersectsBox(b)
  }

  def containsBox(b: BBox): Boolean = {
    if (!bbox.contains(b)) return false
    containsPoint(b.west, b.south) && containsPoint(b.east, b.south) &&
    containsPoint(b.west, b.north) && containsPoint(b.east, b.north) &&
    !anyEdgeIntersectsBox(b)
  }
}

final case class MultiPolygonGeom(polys: Array[PolygonGeom]) extends Geom {
  val bbox: BBox = polys.map(_.bbox).reduce((a, b) =>
    BBox(math.min(a.west, b.west), math.min(a.south, b.south),
      math.max(a.east, b.east), math.max(a.north, b.north)))
  def containsPoint(lon: Double, lat: Double): Boolean = polys.exists(_.containsPoint(lon, lat))
  def intersectsBox(b: BBox): Boolean = polys.exists(_.intersectsBox(b))
  /** Per-polygon containment: a box covered only by the UNION of two
    * adjacent members reports false. This is deliberately conservative —
    * Polyfill uses containsBox purely as a subtree-collapse optimization
    * (and contains-mode cells straddling internal boundaries are omitted,
    * matching a strict per-polygon reading of the reference's contains
    * mode). Union-exact containment would need boundary-overlap analysis. */
  def containsBox(b: BBox): Boolean = polys.exists(_.containsBox(b))
}

/** Tiny WKT reader for POINT / POLYGON / MULTIPOLYGON. */
object Wkt {
  def parse(wkt: String): Geom = {
    val s = wkt.trim
    val upper = s.toUpperCase
    if (upper.startsWith("POINT")) {
      val nums = numbers(s)
      if (nums.length < 2)
        throw new IllegalArgumentException(s"POINT needs 2 coords: ${s.take(30)}")
      PointGeom(nums(0), nums(1))
    } else if (upper.startsWith("POLYGON")) {
      PolygonGeom(parseRings(body(s)))
    } else if (upper.startsWith("MULTIPOLYGON")) {
      val polys = splitTopLevel(body(s)).map(p => PolygonGeom(parseRings(p)))
      if (polys.isEmpty)
        throw new IllegalArgumentException(s"empty MULTIPOLYGON: ${s.take(30)}")
      MultiPolygonGeom(polys.toArray)
    } else throw new IllegalArgumentException(s"unsupported WKT: ${s.take(30)}")
  }

  private def body(s: String): String = {
    val i = s.indexOf('(')
    val j = s.lastIndexOf(')')
    if (i < 0 || j <= i)
      throw new IllegalArgumentException(s"malformed WKT body: ${s.take(30)}")
    s.substring(i + 1, j)
  }

  /** Split "(...),(...)" at depth 0. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' =>
          if (depth == 0) start = i + 1
          depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) out += s.substring(start, i)
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** POLYGON body is "(ring1),(ring2),…" — one coord list per ring. */
  private def parseRings(s: String): Array[Array[Double]] = {
    val rings = splitTopLevel(s).map(numbers).toArray
    if (rings.isEmpty)
      throw new IllegalArgumentException(s"polygon with no rings: ${s.take(30)}")
    rings.foreach { r =>
      // a closed ring needs >= 4 points of (x, y) pairs; odd counts would
      // index out of bounds deep inside executor pixel loops
      if (r.length < 8 || r.length % 2 != 0)
        throw new IllegalArgumentException(
          s"ring needs >= 4 (x, y) pairs, got ${r.length} coords")
    }
    rings
  }

  private def isNumChar(d: Char): Boolean =
    d == '.' || d == 'e' || d == 'E' || d == '-' || d == '+' || (d >= '0' && d <= '9')

  private def numbers(s: String): Array[Double] = {
    val out = Array.newBuilder[Double]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < n && isNumChar(s.charAt(j))) j += 1
        out += java.lang.Double.parseDouble(s.substring(i, j))
        i = j
      } else i += 1
    }
    out.result()
  }

  /** Canonical WKT text for a [[Geom]] (the inverse of [[parse]]; doubles
    * render via Double.toString, which [[parse]] reads back exactly). */
  def format(g: Geom): String = g match {
    case PointGeom(lon, lat) => s"POINT ($lon $lat)"
    case p: PolygonGeom => "POLYGON " + polyBody(p)
    case MultiPolygonGeom(polys) =>
      polys.map(polyBody).mkString("MULTIPOLYGON (", ", ", ")")
  }

  private def polyBody(p: PolygonGeom): String =
    p.rings.map { r =>
      r.grouped(2).map(xy => s"${xy(0)} ${xy(1)}").mkString("(", ", ", ")")
    }.mkString("(", ", ", ")")
}

/** Planar measures in coordinate units (ST_Area / ST_Perimeter /
  * ST_Centroid semantics on the engine's geometry model): shoelace areas
  * with holes subtracting, perimeter over every ring, area-weighted
  * centroid. Rings are treated as closed whether or not the last point
  * repeats the first; orientation is normalized (ring 0 = outer adds,
  * later rings = holes subtract), so input winding doesn't matter. */
object Measure {

  /** (signedArea, Σ(x-moment), Σ(y-moment)) of one ring, shoelace form. */
  private def ringSums(r: Array[Double]): (Double, Double, Double) = {
    val n = r.length / 2
    var a = 0.0; var sx = 0.0; var sy = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val cross = r(2 * i) * r(2 * j + 1) - r(2 * j) * r(2 * i + 1)
      a += cross
      sx += (r(2 * i) + r(2 * j)) * cross
      sy += (r(2 * i + 1) + r(2 * j + 1)) * cross
      i += 1
    }
    (a / 2, sx / 6, sy / 6)
  }

  private def ringLength(r: Array[Double]): Double = {
    val n = r.length / 2
    var len = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val dx = r(2 * j) - r(2 * i)
      val dy = r(2 * j + 1) - r(2 * i + 1)
      len += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    len
  }

  /** (area, perimeter, Σx·w, Σy·w) with hole-corrected weights. */
  private def polySums(p: PolygonGeom): (Double, Double, Double, Double) = {
    var area = 0.0; var perim = 0.0; var mx = 0.0; var my = 0.0
    var i = 0
    while (i < p.rings.length) {
      val (a, sx, sy) = ringSums(p.rings(i))
      val sign = if (i == 0) 1.0 else -1.0 // ring 0 outer, rest holes
      val orient = if (a == 0) 0.0 else math.signum(a)
      area += sign * math.abs(a)
      mx += sign * orient * sx
      my += sign * orient * sy
      perim += ringLength(p.rings(i))
      i += 1
    }
    (area, perim, mx, my)
  }

  def area(g: Geom): Double = g match {
    case _: PointGeom => 0.0
    case p: PolygonGeom => polySums(p)._1
    case MultiPolygonGeom(polys) => polys.map(polySums(_)._1).sum
  }

  def perimeter(g: Geom): Double = g match {
    case _: PointGeom => 0.0
    case p: PolygonGeom => polySums(p)._2
    case MultiPolygonGeom(polys) => polys.map(polySums(_)._2).sum
  }

  /** Area-weighted centroid; a zero-area geometry (point) is itself. */
  def centroid(g: Geom): (Double, Double) = g match {
    case PointGeom(lon, lat) => (lon, lat)
    case p: PolygonGeom =>
      val (a, _, mx, my) = polySums(p)
      require(a != 0, "centroid of a zero-area polygon")
      (mx / a, my / a)
    case MultiPolygonGeom(polys) =>
      var a = 0.0; var mx = 0.0; var my = 0.0
      polys.foreach { p =>
        val (pa, _, px, py) = polySums(p)
        a += pa; mx += px; my += py
      }
      require(a != 0, "centroid of a zero-area multipolygon")
      (mx / a, my / a)
  }
}
