package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.GeoTransform
import graft.raster._
import graft.raster.Dem.DStrip
import graft.raster.Overview.IStrip

/** Overview pyramid + DEM derivative operators: distributed-vs-local
  * parity plus hand-computed anchors.
  */
class RasterOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("overview AVERAGE uses the reference (total+2)/4 rounding") {
    // 2x2 block (1,2,3,4): total 10 -> (10+2)/4 = 3 (plain average 2.5)
    val (out, ow, oh) = Overview.downsampleLocal(Array(1, 2, 3, 4), 2, 2, Overview.Average)
    assert((out.toSeq, ow, oh) === (Seq(3), 1, 1))
    // odd edge: partial blocks round like the reference Byte path —
    // (dfTotal + nCount/2) / nCount (overview.cpp:390), not truncation
    val (o2, w2, h2) = Overview.downsampleLocal(Array(10, 20, 5, 30, 40, 5, 7, 8, 9), 3, 3, Overview.Average)
    assert(w2 === 2 && h2 === 2)
    assert(o2(0) === (10 + 20 + 30 + 40 + 2) / 4)
    assert(o2(1) === (5 + 5 + 1) / 2)   // right edge column
    assert(o2(2) === (7 + 8 + 1) / 2)   // bottom edge row: rounds to 8
    assert(o2(3) === 9)
  }

  test("distributed overview equals local for all resamplers") {
    val w = 17; val h = 14
    val vals = Array.tabulate(w * h)(i => (graft.sources.Pages.mix(i) & 0xff).toInt)
    for (r <- Seq(Overview.Average, Overview.Nearest, Overview.Mode)) {
      val (expect, ow, oh) = Overview.downsampleLocal(vals, w, h, r)
      val strips = (0 until h by 4).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(4, h - y0)
        IStrip(idx, y0, hh, w, java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w))
      }.toDS()
      val got = Overview.level(strips, r).collect().sortBy(_.yOff)
      assert(got.map(_.width).distinct.toSeq === Seq(ow))
      assert(got.map(_.height).sum === oh)
      assert(got.flatMap(_.vals).toSeq === expect.toSeq, s"resampler $r")
    }
  }

  test("hillshade flat terrain is uniform; slope of a plane is exact") {
    val w = 8; val h = 8
    val gt = GeoTransform.northUp(0, 8, 1, 1)
    // flat: hillshade = 1 + 254*sin(alt); slope 0
    val flat = Array.fill(w * h)(5.0)
    val hsFlat = Dem.apply3x3Local(flat, w, h, 0.0,
      (a, b, c, d, _, e, f, g, i) => Dem.hillshadePixel(a, b, c, d, e, f, g, i, gt.gt1, gt.gt5, Dem.HillshadeParams()))
    val expectFlat = 1.0 + 254.0 * math.sin(math.toRadians(45.0))
    assert(math.abs(hsFlat(w + 1) - expectFlat) < 1e-9)
    // plane z = 2x: Horn dx = ((z(x-1)*4) - (z(x+1)*4))/1 = -16 ; slope = atan(16/8)
    val plane = Array.tabulate(w * h)(i => 2.0 * (i % w))
    val sl = Dem.apply3x3Local(plane, w, h, -9999.0,
      (a, b, c, d, _, e, f, g, i) => Dem.slopePixel(a, b, c, d, e, f, g, i, gt.gt1, gt.gt5, 1.0, degrees = true))
    val expectSlope = math.atan(16.0 / 8.0).toDegrees
    assert(math.abs(sl(w + 1) - expectSlope) < 1e-9)
    assert(sl(0) === -9999.0) // border = dst nodata
  }

  test("distributed 3x3 with halo equals local for hillshade and slope") {
    val w = 11; val h = 13
    val gt = GeoTransform.northUp(0, h, 1, 1)
    val vals = Array.tabulate(w * h)(i => ((graft.sources.Pages.mix(i) & 0xff) / 8.0))
    def strips(stripH: Int) = (0 until h by stripH).zipWithIndex.map { case (y0, idx) =>
      val hh = math.min(stripH, h - y0)
      DStrip(idx, y0, hh, java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w))
    }.toDS()
    val p = Dem.HillshadeParams(z = 2.0, alt = 40.0, az = 300.0)
    val localHs = Dem.apply3x3Local(vals, w, h, 0.0,
      (a, b, c, d, _, e, f, g, i) => Dem.hillshadePixel(a, b, c, d, e, f, g, i, gt.gt1, gt.gt5, p))
    for (stripH <- Seq(1, 2, 5, 13)) {
      val got = Dem.hillshade(spark, strips(stripH), w, h, gt, p)
        .collect().sortBy(_.yOff).flatMap(_.vals)
      assert(got.toSeq === localHs.toSeq, s"hillshade stripH=$stripH")
    }
    val localSl = Dem.apply3x3Local(vals, w, h, -9999.0,
      (a, b, c, d, _, e, f, g, i) => Dem.slopePixel(a, b, c, d, e, f, g, i, gt.gt1, gt.gt5, 1.0, degrees = true))
    val gotSl = Dem.slope(spark, strips(3), w, h, gt).collect().sortBy(_.yOff).flatMap(_.vals)
    assert(gotSl.toSeq === localSl.toSeq)
  }

  test("polygon-polygon intersects join matches brute force") {
    import graft.core.{Geom, GLine, GPolygon}
    def translate(wkt: String, dx: Double, dy: Double): String = {
      val p = Geom.fromWkt(wkt).asInstanceOf[GPolygon]
      Geom.toWkt(GPolygon(p.rings.map { r =>
        val xy = r.xy.clone()
        var i = 0
        while (i < xy.length) { xy(i) += dx; xy(i + 1) += dy; i += 2 }
        GLine(xy)
      }))
    }
    val zoneWkts = graft.sources.Pages.zones(30)
    val a = zoneWkts.toDF("aid", "wkt")
      .withColumn("ag", gf.st_geomfromtext($"wkt")).select($"aid", $"ag")
    // right side: same zones shifted by (1.5, 1.5) — every zone overlaps
    // its own twin, some overlap neighbors
    val b = zoneWkts.map { case (id, w) => (id, translate(w, 1.5, 1.5)) }
      .toDF("bid", "wkt")
      .withColumn("bg", gf.st_geomfromtext($"wkt")).select($"bid", $"bg")
    val brute = a.crossJoin(b)
      .filter(gf.st_intersects($"ag", $"bg"))
      .select($"aid", $"bid").as[(Long, Long)].collect().toSet
    val got = graft.operators.SpatialJoin.intersectsJoin(
        a, $"aid", $"ag", b, $"bid", $"bg", res = 6)
      .as[(Long, Long)].collect().toSet
    assert(got === brute)
    assert(brute.size >= 30)
  }

  test("IDW-NN interpolation matches a direct computation") {
    val pts = Seq((0.0, 0.0, 10.0), (1.0, 0.0, 20.0), (0.0, 1.0, 30.0),
      (3.0, 3.0, 100.0), (50.0, 50.0, 999.0))
      .toDF("lon", "lat", "v")
    val qs = Seq((0L, 0.5, 0.5), (1L, 3.0, 3.0)).toDF("qid", "qlon", "qlat")
    val got = graft.operators.GridInterp.idwNearestNeighbor(
        pts, $"lon", $"lat", $"v", qs, $"qid", $"qlon", $"qlat",
        k = 3, res = 5, power = 2.0)
      .as[(Long, Double)].collect().toMap
    // q1 sits exactly on the (3,3) sample -> exact-hit short circuit
    assert(got(1L) === 100.0)
    // q0: 3 nearest of the 4 close points, weight 1/r^2
    val cands = Seq((0.0, 0.0, 10.0), (1.0, 0.0, 20.0), (0.0, 1.0, 30.0))
    val ws = cands.map { case (x, y, v) =>
      val r2 = (x - 0.5) * (x - 0.5) + (y - 0.5) * (y - 0.5)
      (1.0 / r2, v)
    }
    val expect = ws.map(t => t._1 * t._2).sum / ws.map(_._1).sum
    assert(math.abs(got(0L) - expect) < 1e-12)
  }

  test("cell metrics per cell match direct groupBy") {
    val pts = Seq((10.1, 10.1, 1.0), (10.2, 10.2, 3.0), (-20.0, 5.0, 7.0))
      .toDF("lon", "lat", "v")
    val m = graft.operators.GridInterp.cellMetrics(pts, $"lon", $"lat", $"v", res = 4)
      .orderBy($"cell").collect()
    assert(m.length === 2)
    val first = m.find(_.getLong(1) == 2).get
    assert(first.getDouble(2) === 1.0 && first.getDouble(3) === 3.0)
    assert(first.getDouble(4) === 2.0 && first.getDouble(5) === 2.0)
  }

  test("translate casts round signed half away from zero (GDALCopyWord)") {
    assert(Translate.toInt16(-2.4) === -2)
    assert(Translate.toInt16(-2.5) === -3)
    assert(Translate.toInt16(-7.0) === -7)
    assert(Translate.toInt32(-2.5) === -3)
    assert(Translate.toInt32(2.5) === 3)
    assert(Translate.toByte(-0.4) === 0) // unsigned: +0.5 then clamp at 0
  }

  test("srcWin: dense strip indices, zero-fill outside extent") {
    val vals = Array.tabulate(5 * 7)(identity)
    val strips = (0 until 7 by 2).zipWithIndex.map { case (y0, idx) =>
      val hh = math.min(2, 7 - y0)
      IStrip(idx, y0, hh, 5, java.util.Arrays.copyOfRange(vals, y0 * 5, (y0 + hh) * 5))
    }.toDS()
    // window starting at y=3 keeps strips 1..3 → re-indexed 0..2
    val win = Translate.srcWin(strips, 1, 3, 3, 4).collect().sortBy(_.yOff)
    assert(win.map(_.stripIdx).toSeq === Seq(0, 1, 2))
    assert(win.map(_.yOff).toSeq === Seq(0, 1, 3))
    // x window partially outside: in-extent pixels exact, rest zero-filled
    val wide = Translate.srcWin(strips, 3, 0, 4, 2).collect().sortBy(_.yOff)
    assert(wide(0).vals.toSeq === Seq(3, 4, 0, 0, 8, 9, 0, 0))
    // completely-outside x window fails loudly
    assertThrows[IllegalArgumentException](Translate.srcWin(strips, 9, 0, 3, 2).count())
  }

  test("proximity with zero target pixels yields all-noData, not a crash") {
    val strips = (0 until 4 by 2).zipWithIndex.map { case (y0, idx) =>
      IStrip(idx, y0, 2, 3, Array.fill(6)(1))
    }.toDS()
    val out = Proximity.proximity(spark, strips, 3, 4, Set(9), maxDist = 10.0,
      noData = 65535.0)
    assert(out.collect().flatMap(_.vals).forall(_ == 65535.0))
  }

  test("contour stitching survives 3-way junctions at one endpoint") {
    val p = (1.0, 1.0)
    val a = Vector((0.0, 0.0), p)
    val b = Vector(p, (2.0, 0.0))
    val c = Vector(p, (1.0, 2.0))
    val out = Contour.stitchChains(Seq(a, b, c))
    // two chains merge through p; the third must survive intact (the old
    // single-slot endpoint map dropped its registration)
    assert(out.map(_.length).sum === a.length + b.length + c.length - 1)
    assert(out.length === 2)
  }
}
