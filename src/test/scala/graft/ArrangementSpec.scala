package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

class ArrangementSpec extends AnyFunSuite {

  private def ring(pts: (Double, Double)*): Array[Double] =
    pts.flatMap(p => Seq(p._1, p._2)).toArray

  private def poly(pts: (Double, Double)*): GPolygon =
    GPolygon(Array(GLine(ring(pts: _*) ++ Array(pts.head._1, pts.head._2))))

  private def area(ps: Seq[GPolygon]): Double = ps.map(GeomOps.area).sum

  /** Area tolerance of an overlay of `a` and `b`: the arrangement snaps
    * every vertex and crossing to a grid of step extent / 2^26
    * (`Arrangement.quantize`), so an output area may differ from the exact
    * one by up to the inputs' total perimeter times one step. Extents whose
    * step is a power of two hold integer corners exactly.
    */
  private def snapTol(a: GPolygon, b: GPolygon): Double = {
    val (ea, eb) = (a.envelope, b.envelope)
    val extent = math.max(math.max(ea.maxX, eb.maxX) - math.min(ea.minX, eb.minX),
      math.max(ea.maxY, eb.maxY) - math.min(ea.minY, eb.minY))
    (GeomOps.length(a) + GeomOps.length(b)) * extent / (1L << 26)
  }

  private val sq = (x: Double, y: Double, s: Double) =>
    poly((x, y), (x + s, y), (x + s, y + s), (x, y + s))

  test("union of two overlapping squares: one polygon, exact area") {
    val out = Arrangement.overlay2(sq(0, 0, 2), sq(1, 1, 2), 1)
    assert(out.length === 1)
    assert(math.abs(area(out) - 7.0) < 1e-6) // 4 + 4 − 1
    assert(out.head.rings.length === 1)
  }

  test("union forming a hole (the crescent case): U-shape + cap = donut") {
    // U: outer 6×6 square minus the open 2-wide central slot from the top
    val u = poly((0, 0), (6, 0), (6, 6), (4, 6), (4, 2), (2, 2), (2, 6), (0, 6))
    val cap = poly((0, 5), (6, 5), (6, 7), (0, 7))
    val out = Arrangement.overlay2(u, cap, 1)
    assert(out.length === 1)
    val p = out.head
    assert(p.rings.length === 2, s"expected hole, got ${p.rings.length} rings")
    // area: U (36−8=28) + cap 12 − overlaps (two 2×1 arms = 2·2) = 36;
    // the enclosed hole (2 wide, y 2..5 = 6) is NOT part of the region
    assert(math.abs(area(out) - 36.0) < 1e-5, s"area ${area(out)}")
  }

  test("difference carving a hole, then union filling it back") {
    val diff = Arrangement.overlay2(sq(0, 0, 6), sq(2, 2, 2), 2)
    assert(diff.length === 1 && diff.head.rings.length === 2)
    assert(math.abs(area(diff) - 32.0) < 1e-6)
    // union the hole-bearing result with the plug: hole must disappear
    val refill = Arrangement.overlay2(diff.head, sq(2, 2, 2), 1)
    assert(refill.length === 1 && refill.head.rings.length === 1)
    assert(math.abs(area(refill) - 36.0) < 1e-5)
  }

  test("intersection and symdifference honor holes") {
    val holed = Arrangement.overlay2(sq(0, 0, 6), sq(2, 2, 2), 2).head
    // intersect with a square covering the hole: hole stays excluded
    val inter = Arrangement.overlay2(holed, sq(1, 1, 4), 0)
    assert(math.abs(area(inter) - (16.0 - 4.0)) < 1e-5)
    val sym = Arrangement.overlay2(sq(0, 0, 2), sq(1, 0, 2), 3)
    assert(math.abs(area(sym) - 4.0) < 1e-6) // 4+4−2·(2×1 overlap)
  }

  test("cascaded union dissolves overlapping + disjoint pieces") {
    val gs = Seq(sq(0, 0, 2), sq(1, 0, 2), sq(2.5, 0, 1), sq(10, 10, 1))
    val out = Arrangement.unionCascaded(gs)
    // [0,3]x[0,2] as one blob of area 6+... : sq(0,0,2)∪sq(1,0,2) = x∈[0,3] area 4+4−2=6;
    // sq(2.5,0,1) overlaps [2.5,3]x[0,1] → +1−0.5 = 6.5; plus disjoint 1
    assert(math.abs(area(out) - 7.5) < 1e-5, s"area ${area(out)}")
    assert(out.length === 2)
  }

  test("exact concave buffer matches the distance function (L-shape)") {
    val l = poly((0, 0), (4, 0), (4, 1), (1, 1), (1, 4), (0, 4))
    val d = 0.5
    val out = Arrangement.buffer(l, d, quadSegs = 8)
    assert(out.length === 1)
    // validate membership against the exact point-to-polygon distance on a
    // grid, skipping the arc-discretization tolerance band
    def distToPoly(px: Double, py: Double): Double = {
      val r = l.rings(0)
      var best = Double.MaxValue
      var i = 0
      while (i < r.numPoints - 1) {
        val ax = r.x(i); val ay = r.y(i); val bx = r.x(i + 1); val by = r.y(i + 1)
        val vx = bx - ax; val vy = by - ay
        val t = math.max(0, math.min(1, ((px - ax) * vx + (py - ay) * vy) / (vx * vx + vy * vy)))
        best = math.min(best, math.hypot(px - (ax + t * vx), py - (ay + t * vy)))
        i += 1
      }
      if (GeomOps.containsPoint(l, px, py)) -best else best
    }
    var checked = 0
    for (gx <- -30 to 110; gy <- -30 to 110) {
      val px = gx / 20.0; val py = gy / 20.0
      val dist = distToPoly(px, py)
      if (math.abs(dist - d) > 0.02 * d) { // outside the chord-error band
        val in = out.exists(p => GeomOps.containsPoint(p, px, py))
        assert(in === (dist < d), s"($px,$py) dist=$dist in=$in")
        checked += 1
      }
    }
    assert(checked > 15000)
    // and strictly smaller than the convex-hull over-approximation
    val hullArea = {
      val hull = GeomBuild.convexHull(l).asInstanceOf[GPolygon]
      GeomOps.area(Arrangement.buffer(hull, d).head)
    }
    assert(area(out) < hullArea - 1.0)
  }

  test("negative buffer erodes exactly (square)") {
    val out = Arrangement.buffer(sq(0, 0, 6), -1.0)
    assert(out.length === 1)
    assert(math.abs(area(out) - 16.0) < 0.05) // (6−2)² with arc snap slack
  }

  test("line buffer is a capsule") {
    val line = GLine(Array(0.0, 0.0, 4.0, 0.0))
    val out = Arrangement.buffer(line, 1.0, quadSegs = 16)
    assert(out.length === 1)
    // capsule area = 2·4·1 + π·1² (64-gon slightly less)
    val exact = 8 + math.Pi
    assert(math.abs(area(out) - exact) < 0.02, s"area ${area(out)}")
  }

  test("polygonize: shared-edge squares + dangle -> two faces") {
    val lines = Seq(
      GLine(Array(0.0, 0, 2, 0, 2, 2, 0, 2, 0, 0)), // square 1
      GLine(Array(2.0, 0, 4, 0, 4, 2, 2, 2)),       // square 2 (shares edge)
      GLine(Array(4.0, 2, 6, 5)))                    // dangle
    val out = Arrangement.polygonizeLines(lines)
    assert(out.length === 2, s"got ${out.length}")
    assert(math.abs(area(out) - 8.0) < 1e-5)
    assert(out.forall(_.rings.length === 1))
  }

  test("polygonize: concentric squares -> annulus with hole + inner face") {
    val lines = Seq(
      GLine(Array(0.0, 0, 6, 0, 6, 6, 0, 6, 0, 0)),
      GLine(Array(2.0, 2, 4, 2, 4, 4, 2, 4, 2, 2)))
    val out = Arrangement.polygonizeLines(lines)
    assert(out.length === 2, s"got ${out.length}")
    val byArea = out.sortBy(p => GeomOps.area(p))
    assert(math.abs(GeomOps.area(byArea(0)) - 4.0) < 1e-5)  // inner face
    assert(math.abs(GeomOps.area(byArea(1)) - 32.0) < 1e-5) // annulus
    assert(byArea(1).rings.length === 2)
  }

  test("polygonize: crossing lines nodal faces") {
    // a # grid: 4 lines crossing → 1 bounded center face
    val lines = Seq(
      GLine(Array(0.0, 1, 3, 1)), GLine(Array(0.0, 2, 3, 2)),
      GLine(Array(1.0, 0, 1, 3)), GLine(Array(2.0, 0, 2, 3)))
    val out = Arrangement.polygonizeLines(lines)
    assert(out.length === 1)
    assert(math.abs(area(out) - 1.0) < 1e-5)
  }

  test("degenerate: identical rings, zero-area input, empty ops") {
    val out = Arrangement.overlay2(sq(0, 0, 2), sq(0, 0, 2), 1)
    assert(out.length === 1 && math.abs(area(out) - 4.0) < 1e-6)
    val none = Arrangement.overlay2(sq(0, 0, 1), sq(5, 5, 1), 0)
    assert(none.isEmpty)
    val sym0 = Arrangement.overlay2(sq(0, 0, 2), sq(0, 0, 2), 3)
    assert(area(sym0) < 1e-6)
  }

  test("non-areal overlay inputs yield empty, never fabricated area") {
    val line = GLine(Array(0.0, 0, 4, 0, 4, 4, 0, 4))
    val p = sq(0, 0, 4)
    assert(Arrangement.overlay2(line, p, 0).isEmpty)
    assert(math.abs(area(Arrangement.overlay2(p, line, 1)) - 16.0) < 1e-6)
  }

  test("component-wise dissolve: tiny feature far away keeps its own grid") {
    // envelope-disjoint inputs get separate arrangements with their own
    // snapping grids — both features survive exactly
    val tiny = sq(0, 0, 1e-6)
    val far = sq(100000, 100000, 10)
    val out = Arrangement.unionCascaded(Seq(tiny, far))
    assert(out.length === 2)
    assert(math.abs(area(out) - (1e-12 + 100.0)) < 1e-4)
    assert(out.map(GeomOps.area).min > 0.9e-12)
  }

  test("overlapping extreme size ratio: collapsed shell inside is union-exact") {
    // the tiny ring's envelope intersects the huge one → same component,
    // shared grid collapses the tiny ring — but it lies INSIDE the huge
    // polygon, so dropping it is the exact union
    val tiny = sq(50000, 50000, 1e-6)
    val huge = sq(0, 0, 100000)
    val out = Arrangement.unionCascaded(Seq(tiny, huge))
    assert(out.length === 1)
    assert(math.abs(area(out) - 1e10) < 1.0)
  }

  test("overlapping extreme size ratio: collapsed shell outside re-dissolves") {
    // huge right triangle; two overlapping tiny squares in the envelope's
    // empty corner — collapsed at the shared grid, resolved OUTSIDE, and
    // re-dissolved at their own locality grid (their union is exact)
    val huge = GPolygon(Array(GLine(Array(0.0, 0, 100000, 0, 0, 100000, 0, 0))))
    val t1 = sq(90000, 90000, 1e-6)
    val t2 = sq(90000 + 0.5e-6, 90000, 1e-6) // overlaps t1 by half
    val out = Arrangement.unionCascaded(Seq(huge, t1, t2))
    assert(out.length === 2)
    val tinyArea = out.map(GeomOps.area).min
    assert(math.abs(tinyArea - 1.5e-12) < 1e-14, tinyArea.toString)
    assert(math.abs(area(out) - (5e9 + 1.5e-12)) < 1.0)
  }

  test("multipoint buffer unions overlapping circles") {
    val mp = GMulti(4, Array(GPoint(0, 0), GPoint(0.1, 0)))
    val buf = GeomBuild.buffer(mp, 1.0)
    val a = buf match {
      case p: GPolygon => GeomOps.area(p)
      case GMulti(_, gs) => gs.map(GeomOps.area).sum
    }
    // union of two nearly-coincident unit circles ≈ one circle, NOT 2π
    assert(a < math.Pi * 1.15, s"area $a double-counts overlap")
    assert(a > math.Pi * 0.95)
  }

  test("shared-edge adjacency unions without slivers") {
    val out = Arrangement.overlay2(sq(0, 0, 2), sq(2, 0, 2), 1)
    assert(out.length === 1, s"got ${out.length}")
    assert(math.abs(area(out) - 8.0) < 1e-6)
    assert(out.head.rings.length === 1)
  }

  test("containment: intersection = inner, difference = ring with hole") {
    val a = sq(0, 0, 4); val inner = sq(1, 1, 2)
    assert(math.abs(area(Arrangement.overlay2(a, inner, 0)) - 4.0) < 1e-9)
    assert(math.abs(area(Arrangement.overlay2(a, inner, 1)) - 16.0) < 1e-9)
    val holed = Arrangement.overlay2(a, inner, 2)
    assert(holed.length === 1 && holed.head.rings.length === 2)
    assert(math.abs(area(holed) - 12.0) < 1e-9)
    assert(Arrangement.overlay2(inner, a, 2).isEmpty)
  }

  test("disjoint: empty intersection, multi union, identity difference") {
    val a = sq(0, 0, 4); val far = sq(10, 10, 2)
    val tol = snapTol(a, far)
    assert(Arrangement.overlay2(a, far, 0).isEmpty)
    val both = Arrangement.overlay2(a, far, 1)
    assert(both.length === 2 && math.abs(area(both) - 20.0) < tol)
    assert(math.abs(area(Arrangement.overlay2(a, far, 2)) - 16.0) < tol)
  }

  test("shared-edge rectangles resolve exactly: the edge bounds no area") {
    val a = sq(0, 0, 4); val right = sq(4, 0, 4)
    assert(Arrangement.overlay2(a, right, 0).isEmpty)
    val u = Arrangement.overlay2(a, right, 1)
    assert(u.length === 1 && math.abs(area(u) - 32.0) < 1e-9)
    val d = Arrangement.overlay2(a, right, 2)
    assert(d.length === 1 && math.abs(area(d) - 16.0) < 1e-9)
  }

  test("crossing rectangles: all four ops satisfy the area identities") {
    val a = sq(0, 0, 4); val b = sq(2, 2, 4)
    val tol = snapTol(a, b)
    assert(math.abs(area(Arrangement.overlay2(a, b, 0)) - 4.0) < tol)
    assert(math.abs(area(Arrangement.overlay2(a, b, 1)) - 28.0) < tol)
    assert(math.abs(area(Arrangement.overlay2(a, b, 2)) - 12.0) < tol)
    assert(math.abs(area(Arrangement.overlay2(b, a, 2)) - 12.0) < tol)
    assert(math.abs(area(Arrangement.overlay2(a, b, 3)) - 24.0) < tol)
  }

  test("concave U-shape x rect: intersection splits into two pieces") {
    val u = poly((0, 0), (6, 0), (6, 6), (4, 6), (4, 2), (2, 2), (2, 6), (0, 6))
    val r = poly((1, 3), (5, 3), (5, 5), (1, 5))
    val tol = snapTol(u, r)
    val inter = Arrangement.overlay2(u, r, 0)
    assert(inter.length === 2, s"got ${inter.length} pieces")
    assert(math.abs(area(inter) - 4.0) < tol, s"got ${area(inter)}")
    // U area = 36 − 8 (notch) = 28; minus the 4 units clipped by the rect
    assert(math.abs(area(Arrangement.overlay2(u, r, 2)) - (28.0 - 4.0)) < tol)
  }

  test("random rectangles: area identities hold pairwise") {
    for (seed <- 1 to 40) {
      val h = graft.sources.Pages.mix(seed.toLong)
      def f(k: Int): Double = ((h >>> (k * 8)) & 0x3f) / 4.0
      val (x1, y1, w1, h1) = (f(0), f(1), 1.0 + f(2) / 2, 1.0 + f(3) / 2)
      val (x2, y2, w2, h2) = (f(4) + 0.013, f(5) + 0.017, 1.0 + f(6) / 2, 1.0 + f(7) / 2)
      val p1 = poly((x1, y1), (x1 + w1, y1), (x1 + w1, y1 + h1), (x1, y1 + h1))
      val p2 = poly((x2, y2), (x2 + w2, y2), (x2 + w2, y2 + h2), (x2, y2 + h2))
      val expInter = math.max(0.0, math.min(x1 + w1, x2 + w2) - math.max(x1, x2)) *
        math.max(0.0, math.min(y1 + h1, y2 + h2) - math.max(y1, y2))
      val (a1, a2) = (w1 * h1, w2 * h2)
      val ai = area(Arrangement.overlay2(p1, p2, 0))
      val au = area(Arrangement.overlay2(p1, p2, 1))
      val ad = area(Arrangement.overlay2(p1, p2, 2))
      val ax = area(Arrangement.overlay2(p1, p2, 3))
      val tol = snapTol(p1, p2)
      assert(math.abs(ai - expInter) < tol, s"seed $seed inter: $ai vs $expInter")
      assert(math.abs(au - (a1 + a2 - expInter)) < tol, s"seed $seed union")
      assert(math.abs(ad - (a1 - expInter)) < tol, s"seed $seed diff")
      assert(math.abs(ax - (a1 + a2 - 2 * expInter)) < tol, s"seed $seed symdiff")
    }
  }

}
