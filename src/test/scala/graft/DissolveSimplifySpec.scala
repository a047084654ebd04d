package graft

import graft.core._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DissolveSimplifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ringWkt(pts: Seq[(Double, Double)]): String =
    "POLYGON((" + (pts :+ pts.head).map(p => s"${p._1} ${p._2}").mkString(",") + "))"

  // ---- SimplifyPreserveTopology ----

  test("plain DP breaks a spiky ring; PT preserves validity") {
    // star polygon (deterministic search hit): DP at tol=3 drops vertices
    // whose replacement chords cross retained edges → bow-tie; PT must
    // refuse exactly those drops while still simplifying 11 → ≤7 points
    val g = Geom.fromWkt("POLYGON((1.01 0.0,1.41 0.91,2.85 6.25," +
      "-0.48 3.36,-1.34 1.55,-1.09 0.32,-1.8 -0.53,-0.98 -1.14," +
      "-1.3 -9.06,1.47 -3.22,4.81 -3.09,1.01 0.0))")
    val tol = 3.0

    def selfIntersects(p: GPolygon): Boolean = {
      val r = p.rings(0)
      val n = r.numPoints - 1
      def cross(i: Int, j: Int): Boolean = {
        def o(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double) =
          math.signum((qx - px) * (ry - py) - (qy - py) * (rx - px))
        val (ax, ay, bx, by) = (r.x(i), r.y(i), r.x(i + 1), r.y(i + 1))
        val (cx, cy, dx, dy) = (r.x(j), r.y(j), r.x(j + 1), r.y(j + 1))
        val o1 = o(ax, ay, bx, by, cx, cy); val o2 = o(ax, ay, bx, by, dx, dy)
        val o3 = o(cx, cy, dx, dy, ax, ay); val o4 = o(cx, cy, dx, dy, bx, by)
        o1 != o2 && o3 != o4 && o1 != 0 && o2 != 0 && o3 != 0 && o4 != 0
      }
      (0 until n).exists(i => (i + 2 until n).exists(j =>
        !(i == 0 && j == n - 1) && cross(i, j)))
    }

    val dp = GeomBuild.simplify(g, tol).asInstanceOf[GPolygon]
    val pt = GeomBuild.simplifyPreserveTopology(g, tol).asInstanceOf[GPolygon]
    assert(selfIntersects(dp), "fixture must be one where plain DP breaks the ring")
    assert(!selfIntersects(pt), "PT must stay valid")
    assert(pt.rings(0).numPoints < g.asInstanceOf[GPolygon].rings(0).numPoints,
      "PT must still simplify something")
  }

  test("PT equals DP when DP is safe, and respects minimum ring size") {
    val square = Geom.fromWkt("POLYGON((0 0,4 0,4 4,0 4,0 0))")
    val ptSq = GeomBuild.simplifyPreserveTopology(square, 10.0)
    assert(ptSq.asInstanceOf[GPolygon].rings(0).numPoints === 5)
    // near-collinear noise removed identically by both
    val noisy = Geom.fromWkt(
      "POLYGON((0 0,2 0.01,4 0,4 4,2 4.01,0 4,0 0))")
    val pt = GeomBuild.simplifyPreserveTopology(noisy, 0.1).asInstanceOf[GPolygon]
    assert(pt.rings(0).numPoints === 5)
    assert(math.abs(GeomOps.area(pt) - 16.0) < 1e-9)
  }

  // ---- dissolve aggregate through a real Spark plan ----

  test("st_union_agg dissolves per group with map-side collapse") {
    import spark.implicits._
    // group 0: chain of 100 overlapping rects [i, i+1.4]×[0,1] → one
    // polygon [0, 100.4]×[0,1]; group 1: two disjoint squares
    val rows =
      (0 until 100).map(i => (0, ringWkt(Seq((i.toDouble, 0.0), (i + 1.4, 0.0), (i + 1.4, 1.0), (i.toDouble, 1.0))))) ++
        Seq((1, ringWkt(Seq((0.0, 5.0), (1.0, 5.0), (1.0, 6.0), (0.0, 6.0)))),
          (1, ringWkt(Seq((3.0, 5.0), (4.0, 5.0), (4.0, 6.0), (3.0, 6.0)))))
    val df = rows.toDF("g", "wkt")
      .withColumn("geom", gf.st_geomfromtext($"wkt"))
    val out = df.groupBy($"g")
      .agg(gf.st_union_agg($"geom").as("diss"))
      .select($"g", gf.st_area($"diss").as("area"),
        gf.st_geometrytype($"diss").as("t"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    assert(math.abs(out(0)._2 - 100.4) < 1e-4, s"chain area ${out(0)._2}")
    assert(out(0)._3 === "POLYGON")
    assert(math.abs(out(1)._2 - 2.0) < 1e-6)
    assert(out(1)._3 === "MULTIPOLYGON")
  }

  test("st_union_agg via SQL registration") {
    gf.registerAll(spark)
    import spark.implicits._
    Seq(("POLYGON((0 0,2 0,2 2,0 2,0 0))"), ("POLYGON((1 0,3 0,3 2,1 2,1 0))"))
      .toDF("wkt").createOrReplaceTempView("diss_in")
    val a = spark.sql(
      "SELECT st_area(st_union_agg(st_geomfromtext(wkt))) AS a FROM diss_in")
      .head().getDouble(0)
    assert(math.abs(a - 6.0) < 1e-6)
  }

  // ---- polygonize expression ----

  test("st_polygonize emits bounded faces of noded linework") {
    import spark.implicits._
    gf.registerAll(spark)
    val grid = "MULTILINESTRING((0 1,3 1),(0 2,3 2),(1 0,1 3),(2 0,2 3))"
    val donut = "MULTILINESTRING((0 0,6 0,6 6,0 6,0 0),(2 2,4 2,4 4,2 4,2 2))"
    val rows = Seq(("grid", grid), ("donut", donut)).toDF("name", "wkt")
      .select($"name", gf.st_polygonize(gf.st_geomfromtext($"wkt")).as("faces"))
      .select($"name", gf.st_area($"faces").as("area"),
        gf.st_geometrytype($"faces").as("t"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(math.abs(rows("grid")._1 - 1.0) < 1e-6)
    // donut faces: annulus (32) + inner square (4) = total covered 36
    assert(math.abs(rows("donut")._1 - 36.0) < 1e-5)
    assert(rows("donut")._2 === "MULTIPOLYGON")
  }

  // ---- exact concave buffer closed-form (rectilinear dilation) ----

  test("concave buffer matches the rectilinear dilation closed form") {
    // L-shape: A=7, P=16, 5 convex + 1 reflex right angle.
    // Exact dilation area = A + P·d − d² + 5·(πd²/4); the 32-gon arc
    // discretization may only shrink it by the inscribed-chord deficit.
    val l = Geom.fromWkt("POLYGON((0 0,4 0,4 1,1 1,1 4,0 4,0 0))")
    val d = 0.5
    val buf = GeomBuild.buffer(l, d)
    val area = buf match {
      case p: GPolygon => GeomOps.area(p)
      case GMulti(_, gs) => gs.map(GeomOps.area).sum
    }
    val exact = 7.0 + 16.0 * d - d * d + 5 * math.Pi * d * d / 4
    val quarterDeficit = (math.Pi / 4 - 4 * math.sin(math.Pi / 16)) * d * d
    assert(area <= exact + 1e-4, s"area $area exceeds exact $exact")
    assert(area >= exact - 5 * quarterDeficit - 1e-4,
      s"area $area below inscribed bound ${exact - 5 * quarterDeficit}")
  }
}
