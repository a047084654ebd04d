package graft.core

/** Planar geometry predicates and measures.
  *
  * The point-in-ring test is a faithful re-expression of the reference's
  * ray-cast (`/root/reference/gdal/ogr/ogrlinearring.cpp:575-637`
  * isPointInRing: translate ring coords to the test point, count positive-x
  * crossings of segments straddling y=0, odd = inside), including the
  * envelope pretest. Polygon containment follows
  * `gdal/ogr/ogrcurvepolygon.cpp:680-716`: a point is Contained iff it is in
  * the exterior ring and in none of the holes; Intersects additionally
  * accepts boundary points.
  */
object GeomOps {

  /** Does the segment from (x1, y1) to (x2, y2), both relative to the test
    * point, cross the ray from the point toward +x? One crossing of the
    * reference's ray cast (`ogrlinearring.cpp:575-637`); the decoded rings
    * here and the in-place WKB kernel (`graft.expr.GeoRt`) share it so both
    * give bit-identical answers.
    */
  @inline def crossesRay(x1: Double, y1: Double, x2: Double, y2: Double): Boolean =
    ((y1 > 0 && y2 <= 0) || (y2 > 0 && y1 <= 0)) &&
      (x1 * y2 - x2 * y1) / (y2 - y1) > 0.0

  /** Is the test point on the segment from (x1, y1) to (x2, y2), both
    * relative to it? Port of `gdal/ogr/ogrlinearring.cpp:643`
    * isPointOnRingBoundary: collinear via cross product == 0 plus the
    * bounding-interval test.
    */
  @inline def onSegment(x1: Double, y1: Double, x2: Double, y2: Double): Boolean =
    x1 * y2 - x2 * y1 == 0.0 &&
      ((x1 <= 0 && x2 >= 0) || (x2 <= 0 && x1 >= 0)) &&
      ((y1 <= 0 && y2 >= 0) || (y2 <= 0 && y1 >= 0))

  /** Ray-cast point-in-ring (odd crossings = inside). Boundary points may
    * fall either way (exactly like the reference). xy = packed ring coords.
    */
  def pointInRing(xy: Array[Double], px: Double, py: Double): Boolean = {
    val n = xy.length / 2
    if (n < 4) return false
    var crossings = 0
    var prevX = xy(0) - px
    var prevY = xy(1) - py
    var i = 1
    while (i < n) {
      val x1 = xy(2 * i) - px
      val y1 = xy(2 * i + 1) - py
      if (crossesRay(x1, y1, prevX, prevY)) crossings += 1
      prevX = x1
      prevY = y1
      i += 1
    }
    (crossings & 1) == 1
  }

  /** Point exactly on a ring segment (isPointOnRingBoundary). */
  def pointOnRingBoundary(xy: Array[Double], px: Double, py: Double): Boolean = {
    val n = xy.length / 2
    if (n < 4) return false
    var prevX = xy(0) - px
    var prevY = xy(1) - py
    var i = 1
    while (i < n) {
      val x1 = xy(2 * i) - px
      val y1 = xy(2 * i + 1) - py
      if (onSegment(x1, y1, prevX, prevY)) return true
      prevX = x1
      prevY = y1
      i += 1
    }
    false
  }

  /** Strict interior test for polygons: inside exterior, outside all holes. */
  def polygonContainsPoint(p: GPolygon, px: Double, py: Double): Boolean = {
    if (p.rings.isEmpty) return false
    if (!p.envelope.contains(px, py)) return false
    if (!pointInRing(p.rings(0).xy, px, py)) return false
    var i = 1
    while (i < p.rings.length) {
      if (pointInRing(p.rings(i).xy, px, py)) return false
      i += 1
    }
    true
  }

  /** Containment for any geometry vs a point. */
  def containsPoint(g: Geom, px: Double, py: Double): Boolean = g match {
    case p: GPolygon => polygonContainsPoint(p, px, py)
    case GMulti(6 | 7, gs) => gs.exists(containsPoint(_, px, py))
    case pt: GPoint => pt.x == px && pt.y == py
    case _ => false
  }

  /** Point-vs-geometry intersects (boundary counts as intersecting,
    * matching OGRCurvePolygon::Intersects' point fast path,
    * `gdal/ogr/ogrcurvepolygon.cpp:705-716`).
    */
  def intersectsPoint(g: Geom, px: Double, py: Double): Boolean = g match {
    case p: GPolygon =>
      p.envelope.contains(px, py) &&
        (polygonContainsPoint(p, px, py) ||
          p.rings.exists(r => pointOnRingBoundary(r.xy, px, py)))
    case GMulti(_, gs) => gs.exists(intersectsPoint(_, px, py))
    case pt: GPoint => pt.x == px && pt.y == py
    case l: GLine => pointOnLine(l, px, py)
    case _ => false
  }

  def pointOnLine(l: GLine, px: Double, py: Double): Boolean = {
    var i = 1
    val n = l.numPoints
    while (i < n) {
      if (onSegment(l.x(i - 1) - px, l.y(i - 1) - py, l.x(i) - px, l.y(i) - py)) return true
      i += 1
    }
    false
  }

  // ------------------------------------------------------------ measures ----

  /** Shoelace ring area (absolute), as OGRLinearRing::get_Area.
    * Coordinates are centered at the first vertex before the cross
    * products: mathematically identical, but conditioned on the FEATURE
    * extent instead of the coordinate magnitude (a 1e-6 ring at
    * x=90000 otherwise cancels to pure ulp noise).
    */
  def ringArea(xy: Array[Double]): Double = {
    val n = xy.length / 2
    if (n < 3) return 0.0
    val x0 = xy(0); val y0 = xy(1)
    var sum = 0.0
    var i = 0
    while (i < n - 1) {
      sum += (xy(2 * i) - x0) * (xy(2 * i + 3) - y0) -
        (xy(2 * i + 1) - y0) * (xy(2 * i + 2) - x0)
      i += 1
    }
    math.abs(sum) / 2.0
  }

  /** Polygon area = exterior − holes (OGRPolygon::get_Area semantics). */
  def area(g: Geom): Double = g match {
    case p: GPolygon =>
      if (p.rings.isEmpty) 0.0
      else ringArea(p.rings(0).xy) - p.rings.iterator.drop(1).map(r => ringArea(r.xy)).sum
    case GMulti(_, gs) => gs.map(area).sum
    case _ => 0.0
  }

  def length(g: Geom): Double = g match {
    case l: GLine =>
      var sum = 0.0
      var i = 1
      while (i < l.numPoints) {
        val dx = l.x(i) - l.x(i - 1); val dy = l.y(i) - l.y(i - 1)
        sum += math.sqrt(dx * dx + dy * dy)
        i += 1
      }
      sum
    case p: GPolygon => p.rings.map(length(_: Geom)).sum
    case GMulti(_, gs) => gs.map(length).sum
    case _ => 0.0
  }

  /** Polygon centroid (area-weighted); point/line fall back to vertex mean. */
  def centroid(g: Geom): (Double, Double) = g match {
    case p: GPoint => (p.x, p.y)
    case l: GLine =>
      var sx = 0.0; var sy = 0.0
      var i = 0
      while (i < l.numPoints) { sx += l.x(i); sy += l.y(i); i += 1 }
      (sx / l.numPoints, sy / l.numPoints)
    case p: GPolygon if p.rings.isEmpty || p.rings(0).xy.length < 2 =>
      (Double.NaN, Double.NaN) // POLYGON EMPTY → empty point, not a crash
    case p: GPolygon =>
      // signed-area weighted centroid of exterior minus holes
      // centered at the polygon's first vertex for precision (see
      // ringArea); the offset is added back to the final centroid
      val ox = p.rings(0).xy(0); val oy = p.rings(0).xy(1)
      var cx = 0.0; var cy = 0.0; var a = 0.0
      var r = 0
      while (r < p.rings.length) {
        val xy = p.rings(r).xy
        val n = xy.length / 2
        var ra = 0.0; var rx = 0.0; var ry = 0.0
        var i = 0
        while (i < n - 1) {
          val ax = xy(2 * i) - ox; val ay = xy(2 * i + 1) - oy
          val bx = xy(2 * i + 2) - ox; val by = xy(2 * i + 3) - oy
          val cross = ax * by - bx * ay
          ra += cross
          rx += (ax + bx) * cross
          ry += (ay + by) * cross
          i += 1
        }
        val sign = if (r == 0) 1.0 else -1.0
        val w = sign * math.abs(ra)
        a += w
        // centroid contribution keeps its own orientation normalization
        if (ra != 0.0) { cx += sign * math.abs(ra) * (rx / (3.0 * ra)); cy += sign * math.abs(ra) * (ry / (3.0 * ra)) }
        r += 1
      }
      cx += a * ox; cy += a * oy
      if (a == 0.0) centroid(GLine(p.rings(0).xy)) else (cx / a, cy / a)
    case GMulti(_, gs) if gs.nonEmpty =>
      // area-weighted over parts (falls back to mean of part centroids)
      val areas = gs.map(area)
      val total = areas.sum
      if (total > 0) {
        var cx = 0.0; var cy = 0.0
        var i = 0
        while (i < gs.length) {
          val (x, y) = centroid(gs(i)); cx += x * areas(i); cy += y * areas(i); i += 1
        }
        (cx / total, cy / total)
      } else {
        val cs = gs.map(centroid)
        (cs.map(_._1).sum / cs.length, cs.map(_._2).sum / cs.length)
      }
    case _ => (Double.NaN, Double.NaN)
  }

  // ------------------------------------------------------------ distance ----

  def segmentDistSq(px: Double, py: Double, x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    val lenSq = dx * dx + dy * dy
    val t =
      if (lenSq == 0.0) 0.0
      else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / lenSq))
    val cx = x1 + t * dx - px
    val cy = y1 + t * dy - py
    cx * cx + cy * cy
  }

  def distToLineSq(l: GLine, px: Double, py: Double): Double = {
    var best = Double.MaxValue
    var i = 1
    while (i < l.numPoints) {
      val d = segmentDistSq(px, py, l.x(i - 1), l.y(i - 1), l.x(i), l.y(i))
      if (d < best) best = d
      i += 1
    }
    if (l.numPoints == 1) {
      val dx = l.x(0) - px; val dy = l.y(0) - py
      best = dx * dx + dy * dy
    }
    best
  }

  /** Planar distance between two geometries (point/line/polygon combos).
    * Mirrors OGRGeometry::Distance semantics for the shapes we support.
    */
  def distance(a: Geom, b: Geom): Double = (a, b) match {
    case (a: GPoint, b: GPoint) =>
      val ax = a.x; val ay = a.y; val bx = b.x; val by = b.y
      math.hypot(ax - bx, ay - by)
    case (p: GPoint, l: GLine) => math.sqrt(distToLineSq(l, p.x, p.y))
    case (l: GLine, p: GPoint) => math.sqrt(distToLineSq(l, p.x, p.y))
    case (p: GPoint, poly: GPolygon) =>
      if (poly.rings.isEmpty) Double.NaN // distance to POLYGON EMPTY undefined
      else if (polygonContainsPoint(poly, p.x, p.y)) 0.0
      else math.sqrt(poly.rings.map(r => distToLineSq(r, p.x, p.y)).min)
    case (poly: GPolygon, p: GPoint) => distance(p, poly)
    // empty collections: NaN, not an empty.min crash
    case (m: GMulti, o) =>
      if (m.geoms.isEmpty) Double.NaN else m.geoms.map(distance(_, o)).min
    case (o, m: GMulti) =>
      if (m.geoms.isEmpty) Double.NaN else m.geoms.map(distance(o, _)).min
    case (l1: GLine, l2: GLine) =>
      if (linesIntersect(l1, l2)) 0.0
      else {
        var best = Double.MaxValue
        var i = 0
        while (i < l1.numPoints) { best = math.min(best, distToLineSq(l2, l1.x(i), l1.y(i))); i += 1 }
        var j = 0
        while (j < l2.numPoints) { best = math.min(best, distToLineSq(l1, l2.x(j), l2.y(j))); j += 1 }
        math.sqrt(best)
      }
    case (l: GLine, poly: GPolygon) => polyLineDistance(poly, l)
    case (poly: GPolygon, l: GLine) => polyLineDistance(poly, l)
    case (p1: GPolygon, p2: GPolygon) =>
      if (p1.rings.isEmpty || p2.rings.isEmpty) Double.NaN
      else if (polygonsIntersect(p1, p2)) 0.0
      else p1.rings.flatMap(r1 => p2.rings.map(r2 => distance(GLine(r1.xy), GLine(r2.xy)))).min
  }

  private def polyLineDistance(poly: GPolygon, l: GLine): Double = {
    if (l.numPoints > 0 && polygonContainsPoint(poly, l.x(0), l.y(0))) return 0.0
    if (poly.rings.exists(r => linesIntersect(GLine(r.xy), l))) return 0.0
    poly.rings.map(r => distance(GLine(r.xy), l)).min
  }

  // ---------------------------------------------------------- intersects ----

  def segmentsIntersect(ax1: Double, ay1: Double, ax2: Double, ay2: Double,
                        bx1: Double, by1: Double, bx2: Double, by2: Double): Boolean = {
    def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Double =
      (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
    val d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    val d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    val d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    val d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
    def onSeg(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Boolean =
      math.min(ox, px) <= qx && qx <= math.max(ox, px) &&
      math.min(oy, py) <= qy && qy <= math.max(oy, py)
    (d1 == 0 && onSeg(bx1, by1, bx2, by2, ax1, ay1)) ||
    (d2 == 0 && onSeg(bx1, by1, bx2, by2, ax2, ay2)) ||
    (d3 == 0 && onSeg(ax1, ay1, ax2, ay2, bx1, by1)) ||
    (d4 == 0 && onSeg(ax1, ay1, ax2, ay2, bx2, by2))
  }

  def linesIntersect(a: GLine, b: GLine): Boolean = {
    if (!a.envelope.intersects(b.envelope)) return false
    var i = 1
    while (i < a.numPoints) {
      var j = 1
      while (j < b.numPoints) {
        if (segmentsIntersect(a.x(i - 1), a.y(i - 1), a.x(i), a.y(i),
                              b.x(j - 1), b.y(j - 1), b.x(j), b.y(j))) return true
        j += 1
      }
      i += 1
    }
    false
  }

  def polygonsIntersect(p1: GPolygon, p2: GPolygon): Boolean = {
    if (!p1.envelope.intersects(p2.envelope)) return false
    if (p1.rings.isEmpty || p2.rings.isEmpty) return false
    // any boundary crossing
    var i = 0
    while (i < p1.rings.length) {
      var j = 0
      while (j < p2.rings.length) {
        if (linesIntersect(GLine(p1.rings(i).xy), GLine(p2.rings(j).xy))) return true
        j += 1
      }
      i += 1
    }
    // full containment either way (test one vertex)
    polygonContainsPoint(p1, p2.rings(0).x(0), p2.rings(0).y(0)) ||
      polygonContainsPoint(p2, p1.rings(0).x(0), p1.rings(0).y(0))
  }

  /** General Intersects with the reference's staged evaluation
    * (`gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:1347-1454` FilterGeometry):
    * envelope reject first, then exact test.
    */
  def intersects(a: Geom, b: Geom): Boolean = {
    if (!a.envelope.intersects(b.envelope)) return false
    (a, b) match {
      case (p: GPoint, g) => intersectsPoint(g, p.x, p.y)
      case (g, p: GPoint) => intersectsPoint(g, p.x, p.y)
      case (m: GMulti, o) => m.geoms.exists(intersects(_, o))
      case (o, m: GMulti) => m.geoms.exists(intersects(o, _))
      case (l1: GLine, l2: GLine) => linesIntersect(l1, l2)
      case (l: GLine, p: GPolygon) => lineIntersectsPolygon(l, p)
      case (p: GPolygon, l: GLine) => lineIntersectsPolygon(l, p)
      case (p1: GPolygon, p2: GPolygon) => polygonsIntersect(p1, p2)
    }
  }

  private def lineIntersectsPolygon(l: GLine, p: GPolygon): Boolean = {
    if (l.numPoints == 0 || p.rings.isEmpty) return false
    if (polygonContainsPoint(p, l.x(0), l.y(0))) return true
    p.rings.exists(r => linesIntersect(GLine(r.xy), l))
  }

  /** a contains b (supported combos; polygon ⊇ point/line/polygon). */
  def contains(a: Geom, b: Geom): Boolean = (a, b) match {
    case (g, p: GPoint) => containsPoint(g, p.x, p.y)
    case (p: GPolygon, l: GLine) =>
      if (!p.envelope.containsEnv(l.envelope)) false
      else {
        var i = 0
        var all = true
        while (all && i < l.numPoints) {
          if (!polygonContainsPoint(p, l.x(i), l.y(i)) &&
              !p.rings.exists(r => pointOnRingBoundary(r.xy, l.x(i), l.y(i)))) all = false
          i += 1
        }
        all && !p.rings.exists(r => properCrossing(GLine(r.xy), l))
      }
    case (p1: GPolygon, p2: GPolygon) =>
      p1.envelope.containsEnv(p2.envelope) &&
        p2.rings.headOption.forall(r => contains(p1, GLine(r.xy))) &&
        // a hole of p1 overlapping p2's interior disproves containment.
        // Three detectors, cheapest first: (a) a hole VERTEX strictly
        // inside p2; (b) a hole EDGE MIDPOINT strictly inside p2 (vertices
        // alone miss a hole whose vertices all sit on p2's boundary while
        // its edges dip through the interior); (c) a PROPER edge crossing
        // between the hole ring and any p2 ring (midpoints alone miss an
        // edge whose endpoints AND midpoint are outside p2 but whose
        // middle passes through — proper crossings exclude mere boundary
        // grazes, which do not break containment)
        !p1.rings.drop(1).exists { h =>
          val n = h.xy.length / 2
          var i = 0
          var bad = false
          @inline def strictlyInside(hx: Double, hy: Double): Boolean =
            polygonContainsPoint(p2, hx, hy) &&
              !p2.rings.exists(r => pointOnRingBoundary(r.xy, hx, hy))
          while (!bad && i < n) {
            val hx = h.xy(2 * i); val hy = h.xy(2 * i + 1)
            if (strictlyInside(hx, hy)) bad = true
            else if (i + 1 < n &&
                strictlyInside((hx + h.xy(2 * i + 2)) / 2, (hy + h.xy(2 * i + 3)) / 2))
              bad = true
            i += 1
          }
          bad || {
            val hl = GLine(h.xy)
            p2.rings.exists(r => properCrossing(GLine(r.xy), hl))
          }
        }
    case (a1, m: GMulti) => m.geoms.forall(contains(a1, _))
    case (m: GMulti, b1) => m.geoms.exists(contains(_, b1))
    case _ => false
  }

  private def properCrossing(a: GLine, b: GLine): Boolean = {
    // strict interior crossing (shared boundary points don't count)
    var i = 1
    while (i < a.numPoints) {
      var j = 1
      while (j < b.numPoints) {
        def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Double =
          (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
        val d1 = orient(a.x(i - 1), a.y(i - 1), a.x(i), a.y(i), b.x(j - 1), b.y(j - 1))
        val d2 = orient(a.x(i - 1), a.y(i - 1), a.x(i), a.y(i), b.x(j), b.y(j))
        val d3 = orient(b.x(j - 1), b.y(j - 1), b.x(j), b.y(j), a.x(i - 1), a.y(i - 1))
        val d4 = orient(b.x(j - 1), b.y(j - 1), b.x(j), b.y(j), a.x(i), a.y(i))
        if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
            ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) return true
        j += 1
      }
      i += 1
    }
    false
  }
}
