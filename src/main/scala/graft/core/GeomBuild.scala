package graft.core

/** Constructive geometry operations for the slice the engine needs:
  * convex hull (the reference delegates to GEOS,
  * `/root/reference/gdal/ogr/ogrgeometry.cpp:3007` ConvexHull — here
  * Andrew's monotone chain), Douglas-Peucker simplification
  * (`ogrgeometry.cpp` Simplify), and segmentize — an exact port of
  * `gdal/ogr/ogrlinestring.cpp:2343` OGRSimpleCurve::segmentize including
  * its direction normalization and intermediate-point formula — plus
  * buffer (point circles here, everything else through
  * [[Arrangement.buffer]]), boundary, Delaunay triangulation and
  * point-on-surface. Boolean overlay lives in [[Arrangement]] alone.
  */
object GeomBuild {

  /** Convex hull of all vertices of `g` (monotone chain; CCW shell,
    * closed ring). Degenerate inputs return the input geometry.
    */
  def convexHull(g: Geom): Geom = {
    val pts = collectPoints(g).distinct.sortBy(p => (p._1, p._2))
    if (pts.length < 3) return g
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val lower = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (p <- pts) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0)
        lower.remove(lower.length - 1)
      lower += p
    }
    val upper = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (p <- pts.reverse) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0)
        upper.remove(upper.length - 1)
      upper += p
    }
    val hull = (lower.dropRight(1) ++ upper.dropRight(1)) :+ lower.head
    if (hull.length < 4) return g
    val xy = new Array[Double](hull.length * 2)
    hull.zipWithIndex.foreach { case ((x, y), i) => xy(2 * i) = x; xy(2 * i + 1) = y }
    GPolygon(Array(GLine(xy)))
  }

  private def collectPoints(g: Geom): Seq[(Double, Double)] = g match {
    case p: GPoint => Seq((p.x, p.y))
    case l: GLine => (0 until l.numPoints).map(i => (l.x(i), l.y(i)))
    case p: GPolygon => p.rings.toSeq.flatMap(r => collectPoints(r))
    case m: GMulti => m.geoms.toSeq.flatMap(collectPoints)
  }

  /** SimplifyPreserveTopology (`ogrgeometry.cpp:4737`, GEOS
    * TopologyPreservingSimplifier semantics for a single part): remove
    * vertices in order of increasing offset from their neighbor chord —
    * like Douglas-Peucker — but REJECT any removal that would make the
    * ring self-intersect or collapse below a valid ring (4 points), so
    * a valid input always yields a valid output. Plain `simplify` (DP)
    * gives no such guarantee: a tight S-bend under a large tolerance
    * collapses to a bow-tie.
    */
  def simplifyPreserveTopology(g: Geom, tolerance: Double): Geom = g match {
    case l: GLine if !l.isClosed =>
      pickLine(l, keptIndices(dpSimplifyKeep(l.xy, tolerance)), closeRing = false)
    case l: GLine =>
      val (idx, close) = ptSimplifyRingIdx(l.xy, tolerance)
      pickLine(l, idx, close)
    case p: GPolygon =>
      GPolygon(p.rings.map { r =>
        val (idx, close) = ptSimplifyRingIdx(r.xy, tolerance)
        pickLine(r, idx, close)
      })
    case m: GMulti => GMulti(m.multiKind, m.geoms.map(simplifyPreserveTopology(_, tolerance)))
    case other => other
  }

  /** Rebuild a line from kept vertex indices, carrying Z and M along —
    * simplification must not silently flatten 2.5D/measured geometries.
    */
  private def pickLine(l: GLine, idx: IndexedSeq[Int], closeRing: Boolean): GLine = {
    val k = idx.length + (if (closeRing) 1 else 0)
    val xy = new Array[Double](2 * k)
    val z = if (l.z != null) new Array[Double](k) else null
    val m = if (l.m != null) new Array[Double](k) else null
    var i = 0
    while (i < idx.length) {
      xy(2 * i) = l.xy(2 * idx(i)); xy(2 * i + 1) = l.xy(2 * idx(i) + 1)
      if (z != null) z(i) = l.z(idx(i))
      if (m != null) m(i) = l.m(idx(i))
      i += 1
    }
    if (closeRing) {
      xy(2 * i) = xy(0); xy(2 * i + 1) = xy(1)
      if (z != null) z(i) = z(0)
      if (m != null) m(i) = m(0)
    }
    GLine(xy, z, m)
  }

  private def keptIndices(keep: Array[Boolean]): IndexedSeq[Int] =
    (0 until keep.length).filter(keep)

  /** Greedy topology-safe ring simplification: repeatedly drop the vertex
    * whose distance to its neighbor chord is smallest (and under
    * tolerance), skipping any drop whose replacement chord would cross a
    * remaining ring edge. O(n²) — fine for per-row geometries.
    */
  private def ptSimplifyRingIdx(xyClosed: Array[Double],
                                tol: Double): (IndexedSeq[Int], Boolean) = {
    val nAll = xyClosed.length / 2
    val closed = nAll >= 2 && xyClosed(0) == xyClosed(2 * nAll - 2) &&
      xyClosed(1) == xyClosed(2 * nAll - 1)
    val n = if (closed) nAll - 1 else nAll
    if (n <= 4) return ((0 until nAll), false) // identity, dup point kept
    val alive = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
    val tolSq = tol * tol

    def x(i: Int) = xyClosed(2 * alive(i))
    def y(i: Int) = xyClosed(2 * alive(i) + 1)

    def segsCross(ax: Double, ay: Double, bx: Double, by: Double,
                  cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
      def o(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double) =
        math.signum((qx - px) * (ry - py) - (qy - py) * (rx - px))
      val o1 = o(ax, ay, bx, by, cx, cy); val o2 = o(ax, ay, bx, by, dx, dy)
      val o3 = o(cx, cy, dx, dy, ax, ay); val o4 = o(cx, cy, dx, dy, bx, by)
      o1 != o2 && o3 != o4 && o1 != 0 && o2 != 0 && o3 != 0 && o4 != 0
    }

    var removedSomething = true
    while (removedSomething && alive.length > 4) {
      removedSomething = false
      // candidate with minimal chord offset under tolerance
      var best = -1; var bestD = tolSq
      var i = 0
      while (i < alive.length) {
        val p = (i - 1 + alive.length) % alive.length
        val q = (i + 1) % alive.length
        val d = GeomOps.segmentDistSq(x(i), y(i), x(p), y(p), x(q), y(q))
        if (d <= bestD) {
          // the new chord p→q must not cross any remaining edge
          var ok = true
          var j = 0
          while (ok && j < alive.length) {
            val j2 = (j + 1) % alive.length
            if (j != i && j2 != i && j != p && j2 != q &&
              !(j == q && j2 == p) && !(j == p && j2 == q))
              ok = !segsCross(x(p), y(p), x(q), y(q), x(j), y(j), x(j2), y(j2))
            j += 1
          }
          if (ok) { best = i; bestD = d }
        }
        i += 1
      }
      if (best >= 0) { alive.remove(best); removedSomething = true }
    }
    (alive.toIndexedSeq, closed)
  }

  /** Douglas-Peucker simplification with tolerance (per-part); Z/M ride
    * along with the kept vertices.
    */
  def simplify(g: Geom, tolerance: Double): Geom = g match {
    case l: GLine =>
      pickLine(l, keptIndices(dpSimplifyKeep(l.xy, tolerance)), closeRing = false)
    case p: GPolygon =>
      GPolygon(p.rings.map { r =>
        val idx = keptIndices(dpSimplifyKeep(r.xy, tolerance))
        if (idx.length >= 4) pickLine(r, idx, closeRing = false)
        else r // keep ring valid (≥ 4 points)
      })
    case m: GMulti => GMulti(m.multiKind, m.geoms.map(simplify(_, tolerance)))
    case other => other
  }

  private def dpSimplifyKeep(xy: Array[Double], tol: Double): Array[Boolean] = {
    val n = xy.length / 2
    val keep = new Array[Boolean](n)
    if (n <= 2) { java.util.Arrays.fill(keep, true); return keep }
    keep(0) = true; keep(n - 1) = true
    def recurse(lo: Int, hi: Int): Unit = {
      if (hi - lo < 2) return
      var best = -1; var bestD = tol * tol
      var i = lo + 1
      while (i < hi) {
        val d = GeomOps.segmentDistSq(xy(2 * i), xy(2 * i + 1),
          xy(2 * lo), xy(2 * lo + 1), xy(2 * hi), xy(2 * hi + 1))
        if (d > bestD) { bestD = d; best = i }
        i += 1
      }
      if (best >= 0) { keep(best) = true; recurse(lo, best); recurse(best, hi) }
    }
    recurse(0, n - 1)
    keep
  }

  /** Exact port of OGRSimpleCurve::segmentize (direction normalization at
    * `ogrlinestring.cpp:2356`, intermediate count
    * `floor(sqrt(d²/maxLen²))`, Z carried from the segment start).
    */
  def segmentize(l: GLine, maxLength: Double): GLine = {
    require(maxLength > 0, "maxLength must be strictly positive")
    val n = l.numPoints
    if (n < 2) return l
    // normalize direction so both traversals give the same result
    if (l.x(0) < l.x(n - 1) || (l.x(0) == l.x(n - 1) && l.y(0) < l.y(n - 1))) {
      val rev = reverse(l)
      return reverse(segmentize(rev, maxLength))
    }
    val maxSq = maxLength * maxLength
    val xs = new scala.collection.mutable.ArrayBuffer[Double](2 * n)
    val zs = new scala.collection.mutable.ArrayBuffer[Double](n)
    val hasZ = l.hasZ
    var i = 0
    while (i < n) {
      xs += l.x(i); xs += l.y(i)
      if (hasZ) zs += l.zAt(i)
      if (i < n - 1) {
        val dx = l.x(i + 1) - l.x(i)
        val dy = l.y(i + 1) - l.y(i)
        val sq = dx * dx + dy * dy
        if (sq > maxSq) {
          val k = math.floor(math.sqrt(sq / maxSq)).toInt
          var j = 1
          while (j <= k) {
            xs += l.x(i) + j * dx / (k + 1)
            xs += l.y(i) + j * dy / (k + 1)
            if (hasZ) zs += l.zAt(i) // reference: no Z interpolation
            j += 1
          }
        }
      }
      i += 1
    }
    GLine(xs.toArray, if (hasZ) zs.toArray else null)
  }

  private def reverse(l: GLine): GLine = {
    val n = l.numPoints
    val xy = new Array[Double](2 * n)
    val z = if (l.hasZ) new Array[Double](n) else null
    var i = 0
    while (i < n) {
      xy(2 * i) = l.x(n - 1 - i); xy(2 * i + 1) = l.y(n - 1 - i)
      if (z != null) z(i) = l.zAt(n - 1 - i)
      i += 1
    }
    GLine(xy, z)
  }

  /** Buffer (`ogrgeometry.cpp:3229`, GEOS-delegated in the reference).
    * Points buffer to a 4·quadSegs-gon circle (GEOS quadrant-segment
    * convention, default 8 → 32 vertices, first vertex at angle 0 — the
    * layout behind the autotest expectation
    * `POINT(1 2).Buffer(0.5) ≈ circle (1.5 2)…(0.5 2)`). Lines and
    * polygons (convex OR concave, holes honored, negative distances
    * eroding) buffer EXACTLY through the snap-rounded arrangement:
    * union of the region with one capsule per boundary edge, offset
    * self-intersections resolved by winding extraction
    * ([[Arrangement.buffer]] — the same construction GEOS's offset-curve
    * + noding pipeline performs).
    */
  def buffer(g: Geom, dist: Double, quadSegs: Int = 8): Geom = {
    val n = 4 * quadSegs
    def circle(cx: Double, cy: Double): GPolygon = {
      val xy = new Array[Double]((n + 1) * 2)
      var i = 0
      while (i <= n) {
        val a = 2 * math.Pi * i / n
        xy(2 * i) = cx + dist * math.cos(a)
        xy(2 * i + 1) = cy + dist * math.sin(a)
        i += 1
      }
      xy(2 * n) = xy(0); xy(2 * n + 1) = xy(1)
      GPolygon(Array(GLine(xy)))
    }
    g match {
      case p: GPoint if dist > 0 => circle(p.x, p.y)
      case other =>
        Arrangement.buffer(other, dist, quadSegs) match {
          case Seq() => GMulti(6, Array.empty[Geom])
          case Seq(one) => one
          case many => GMulti(6, many.toArray[Geom])
        }
    }
  }

  /** Boundary (`ogrgeometry.cpp:3097`, OGC semantics): polygon → its
    * ring(s); open curve → endpoints; closed curve / point → empty (None).
    */
  def boundary(g: Geom): Option[Geom] = g match {
    case p: GPolygon =>
      if (p.rings.length == 1) Some(p.rings(0))
      else Some(GMulti(5, p.rings.map(r => r: Geom)))
    case l: GLine =>
      if (l.isClosed || l.numPoints == 0) None
      else Some(GMulti(4, Array[Geom](
        GPoint(l.x(0), l.y(0)), GPoint(l.x(l.numPoints - 1), l.y(l.numPoints - 1)))))
    case GMulti(6, gs) =>
      val rings = gs.flatMap { case p: GPolygon => p.rings.map(r => r: Geom); case _ => Array.empty[Geom] }
      if (rings.isEmpty) None else Some(GMulti(5, rings))
    case _ => None
  }

  /** DelaunayTriangulation (`ogrgeometry.cpp:4651`, GEOS-delegated in the
    * reference): triangulation of the geometry's vertices as a
    * multipolygon of triangles.
    */
  def delaunayTriangulation(g: Geom): Option[Geom] = {
    val pts = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    def collect(gg: Geom): Unit = gg match {
      case p: GPoint => pts += ((p.x, p.y))
      case l: GLine => (0 until l.numPoints).foreach(i => pts += ((l.x(i), l.y(i))))
      case p: GPolygon => p.rings.foreach(collect)
      case GMulti(_, gs) => gs.foreach(collect)
    }
    collect(g)
    val distinct = pts.distinct
    if (distinct.length < 3) return None
    val xs = distinct.map(_._1).toArray
    val ys = distinct.map(_._2).toArray
    val tris = Delaunay.triangulate(xs, ys)
    if (tris.isEmpty) None
    else Some(GMulti(6, tris.map { t =>
      GPolygon(Array(GLine(Array(
        xs(t.a), ys(t.a), xs(t.b), ys(t.b), xs(t.c), ys(t.c), xs(t.a), ys(t.a))))): Geom
    }))
  }

  /** PointOnSurface (`ogrgeometry.cpp:4923`): a point guaranteed interior
    * to the polygon — midpoint of the widest interior span on the scanline
    * through the bounding-box middle (nudged between distinct ring-y
    * values when the middle is degenerate). Points/lines return a vertex.
    */
  def pointOnSurface(g: Geom): Option[GPoint] = g match {
    case p: GPoint => Some(p)
    case l: GLine if l.numPoints > 0 =>
      Some(GPoint(l.x(l.numPoints / 2), l.y(l.numPoints / 2)))
    case poly: GPolygon =>
      val env = poly.envelope
      // candidate scan ys: midline first, then offsets between ring ys
      val candidates = ((env.minY + env.maxY) / 2) +:
        (1 to 7).map(k => env.minY + (env.maxY - env.minY) * k / 8.0)
      candidates.iterator.flatMap { sy =>
        // ring crossings at y = sy (ray-cast span extraction)
        val xsB = Seq.newBuilder[Double]
        poly.rings.foreach { r =>
          var i = 1
          while (i < r.numPoints) {
            val y1 = r.y(i - 1); val y2 = r.y(i)
            if ((y1 <= sy && y2 > sy) || (y2 <= sy && y1 > sy)) {
              val t = (sy - y1) / (y2 - y1)
              xsB += r.x(i - 1) + t * (r.x(i) - r.x(i - 1))
            }
            i += 1
          }
        }
        val xs = xsB.result().sorted
        // interior spans are between even-odd crossing pairs
        xs.grouped(2).collect { case Seq(a, b) if b > a => (b - a, (a + b) / 2, sy) }
      }.toSeq.sortBy(-_._1).headOption.map { case (_, mx, my) => GPoint(mx, my) }
    case GMulti(_, gs) => gs.iterator.flatMap(pointOnSurface).toSeq.headOption
    case _ => None
  }
}
