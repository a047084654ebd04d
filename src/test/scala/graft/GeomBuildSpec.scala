package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Geom, GeomBuild, GeomOps, GLine, GPolygon}

class GeomBuildSpec extends AnyFunSuite {

  test("segmentize matches the reference expectation (ogr_geom.py:475)") {
    val l = Geom.fromWkt("LINESTRING(0 0,0 10)").asInstanceOf[GLine]
    val out = GeomBuild.segmentize(l, 1.00001)
    assert(Geom.toWkt(out) ===
      "LINESTRING (0 0,0 1,0 2,0 3,0 4,0 5,0 6,0 7,0 8,0 9,0 10)")
    // 3D variant: Z carried, not interpolated
    val l3 = Geom.fromWkt("LINESTRING(0 0 1,0 10 1)").asInstanceOf[GLine]
    val out3 = GeomBuild.segmentize(l3, 1.00001)
    assert(Geom.toWkt(out3) ===
      "LINESTRING (0 0 1,0 1 1,0 2 1,0 3 1,0 4 1,0 5 1,0 6 1,0 7 1,0 8 1,0 9 1,0 10 1)")
  }

  test("segmentize is direction-independent (reference normalization)") {
    val a = GeomBuild.segmentize(Geom.fromWkt("LINESTRING(3 7,0 0)").asInstanceOf[GLine], 2.0)
    val b = GeomBuild.segmentize(Geom.fromWkt("LINESTRING(0 0,3 7)").asInstanceOf[GLine], 2.0)
    val aPts = (0 until a.numPoints).map(i => (a.x(i), a.y(i)))
    val bPts = (0 until b.numPoints).map(i => (b.x(i), b.y(i)))
    assert(aPts === bPts.reverse)
  }

  test("convex hull of a concave polygon is its bounding convex shape") {
    val g = Geom.fromWkt("POLYGON((0 0,10 0,10 10,6 10,6 4,4 4,4 10,0 10,0 0))")
    val hull = GeomBuild.convexHull(g).asInstanceOf[GPolygon]
    assert(GeomOps.area(hull) === 100.0)
    assert(hull.rings(0).numPoints === 5) // square + closing point
    // hull contains every original vertex
    val src = g.asInstanceOf[GPolygon].rings(0)
    (0 until src.numPoints).foreach { i =>
      assert(GeomOps.intersectsPoint(hull, src.x(i), src.y(i)))
    }
  }

  test("simplify removes collinear/near-collinear vertices, keeps shape") {
    val l = Geom.fromWkt("LINESTRING(0 0,1 0.01,2 0,3 -0.01,4 0,10 8)").asInstanceOf[GLine]
    val out = GeomBuild.simplify(l, 0.1).asInstanceOf[GLine]
    assert(out.numPoints === 3) // endpoints + the (4 0) corner
    assert((out.x(0), out.y(0)) === (0.0, 0.0))
    assert((out.x(out.numPoints - 1), out.y(out.numPoints - 1)) === (10.0, 8.0))
    // tolerance below deviations keeps all except the exactly-collinear
    // midpoint (2,0) between (1,0.01) and (3,-0.01)
    val keep = GeomBuild.simplify(l, 0.001).asInstanceOf[GLine]
    assert(keep.numPoints === 5)
  }

  test("graph ops: connected components and shortest paths") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // two components: {1,2,3,4} chain and {10,11}
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 1.0), (1L, 3L, 5.0),
      (10L, 11L, 1.0)).toDF("u", "v", "w")
    val cc = graft.operators.GraphOps.connectedComponents(edges, $"u", $"v")
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) === 1L && cc(4L) === 1L && cc(11L) === 10L)
    // a self-loop-only vertex is its own component; duplicate and reversed
    // edges change nothing
    val extra = Seq((7L, 7L), (2L, 1L), (1L, 2L), (11L, 10L)).toDF("u", "v")
    val cc2 = graft.operators.GraphOps.connectedComponents(
        edges.select($"u", $"v").union(extra), $"u", $"v")
      .as[(Long, Long)].collect()
    assert(cc2.toMap === cc + (7L -> 7L))
    assert(cc2.length === cc.size + 1)
    // a 10^4-vertex path with shuffled ids is one component labeled with
    // its min id (min-label propagation would need ~10^4 rounds)
    val ids = new scala.util.Random(5).shuffle((100L until 10100L).toVector)
    val path = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("u", "v")
    val pcc = graft.operators.GraphOps.connectedComponents(path, $"u", $"v")
      .as[(Long, Long)].collect()
    assert(pcc.length === 10000)
    assert(pcc.forall(_._2 == 100L))
    // shortest paths from 1 over symmetric closure
    val sym = edges.union(edges.select($"v", $"u", $"w"))
    val sp = graft.operators.GraphOps.shortestPaths(sym, $"u", $"v", $"w", 1L)
      .as[(Long, Double)].collect().toMap
    assert(sp(1L) === 0.0)
    assert(sp(2L) === 1.0)
    assert(sp(3L) === 3.0) // 1-2-3 beats direct 5.0
    assert(sp(4L) === 4.0)
    assert(!sp.contains(10L))
  }

  test("buffer: point → 32-gon circle, convex polygon → rounded offset") {
    val p = Geom.fromWkt("POINT(1 2)")
    val buf = GeomBuild.buffer(p, 0.5)
    // area of the inscribed 32-gon: n/2 r² sin(2π/n)
    val expect = 32.0 / 2 * 0.25 * math.sin(2 * math.Pi / 32)
    assert(math.abs(GeomOps.area(buf) - expect) < 1e-9)
    val ring = buf.asInstanceOf[GPolygon].rings(0)
    assert(math.abs(ring.x(0) - 1.5) < 1e-12 && math.abs(ring.y(0) - 2.0) < 1e-12)
    // rect buffer: area = rect + perimeter·d + (approx) circle at corners
    val rect = Geom.fromWkt("POLYGON((0 0,4 0,4 2,0 2,0 0))")
    val rb = GeomBuild.buffer(rect, 1.0)
    val circleApprox = 32.0 / 2 * math.sin(2 * math.Pi / 32)
    val expectRect = 8.0 + 12.0 * 1.0 + circleApprox
    assert(math.abs(GeomOps.area(rb) - expectRect) < 0.05, s"got ${GeomOps.area(rb)}")
  }

  test("st_convexhull/st_simplify/st_segmentize through the SQL surface") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq("POLYGON((0 0,10 0,10 10,6 10,6 4,4 4,4 10,0 10,0 0))").toDF("wkt")
      .withColumn("g", gf.st_geomfromtext($"wkt"))
    val area = df.select(gf.st_area(gf.st_convexhull($"g"))).as[Double].head()
    assert(area === 100.0)
    val segPts = spark.sql(
      "select st_astext(st_segmentize(st_geomfromtext('LINESTRING(0 0,0 10)'), 1.00001))")
      .head().getString(0)
    assert(segPts === "LINESTRING (0 0,0 1,0 2,0 3,0 4,0 5,0 6,0 7,0 8,0 9,0 10)")
  }
}
