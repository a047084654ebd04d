package graft

import java.lang.management.ManagementFactory
import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.expr.GeoRt
import graft.fixtures.PolyFixture
import graft.sources.Pages

class GeomSpec extends AnyFunSuite {

  test("WKT parse/write round-trip for all kinds") {
    val wkts = Seq(
      "POINT (1 2)",
      "POINT (1.5 -2.25 7)",
      "LINESTRING (0 0,1 1,2 0)",
      "POLYGON ((0 0,10 0,10 10,0 10,0 0))",
      "POLYGON ((0 0,10 0,10 10,0 10,0 0),(2 2,4 2,4 4,2 4,2 2))",
      "MULTIPOINT ((1 1),(2 2))",
      "MULTILINESTRING ((0 0,1 1),(2 2,3 3))",
      "MULTIPOLYGON (((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))",
      "GEOMETRYCOLLECTION (POINT (1 2),LINESTRING (0 0,1 1))"
    )
    for (w <- wkts) {
      val g = Geom.fromWkt(w)
      assert(Geom.toWkt(g) == w, s"round trip of $w")
    }
  }

  test("WKB round-trip preserves geometry incl. Z") {
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (1005 1000 10,1100 1050 120)",
      "POLYGON ((1020 1030 40,1020 1045 30,1050 1045 20,1050 1030 35,1020 1030 40))",
      "MULTIPOLYGON (((0 0,1 0,1 1,0 0)))",
      "GEOMETRYCOLLECTION (POINT (1 2 3))"
    )
    for (w <- wkts) {
      val g = Geom.fromWkt(w)
      val g2 = Geom.fromWkb(Geom.toWkb(g))
      assert(Geom.toWkt(g2) == Geom.toWkt(g), s"wkb round trip of $w")
    }
  }

  test("point-in-ring: unit square (reference ray-cast semantics)") {
    val sq = Geom.fromWkt("POLYGON ((0 0,10 0,10 10,0 10,0 0))").asInstanceOf[GPolygon]
    assert(GeomOps.polygonContainsPoint(sq, 5, 5))
    assert(!GeomOps.polygonContainsPoint(sq, 15, 5))
    assert(!GeomOps.polygonContainsPoint(sq, -1, 5))
    // boundary points intersect but may not be "contained" (ray-cast edge rule)
    assert(GeomOps.intersectsPoint(sq, 0, 5))
    assert(GeomOps.intersectsPoint(sq, 10, 10))
    assert(GeomOps.intersectsPoint(sq, 5, 0))
  }

  test("point-in-polygon with hole (donut)") {
    val donut = Geom.fromWkt(
      "POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,7 3,7 7,3 7,3 3))").asInstanceOf[GPolygon]
    assert(GeomOps.polygonContainsPoint(donut, 1, 1))   // in shell
    assert(!GeomOps.polygonContainsPoint(donut, 5, 5))  // in hole
    assert(!GeomOps.polygonContainsPoint(donut, 12, 5)) // outside
    assert(GeomOps.polygonContainsPoint(donut, 2.5, 5)) // between shell and hole
  }

  test("multipolygon containment") {
    val mp = Geom.fromWkt("MULTIPOLYGON (((0 0,2 0,2 2,0 2,0 0)),((5 5,7 5,7 7,5 7,5 5)))")
    assert(GeomOps.containsPoint(mp, 1, 1))
    assert(GeomOps.containsPoint(mp, 6, 6))
    assert(!GeomOps.containsPoint(mp, 3.5, 3.5))
  }

  test("shoelace area matches poly.shp AREA attribute within 0.15") {
    // poly.shp stores an AREA column computed by the original GIS; our
    // shoelace must agree closely (values are planar square meters).
    for (r <- PolyFixture.rows) {
      val g = Geom.fromWkt(r.wkt)
      val a = GeomOps.area(g)
      assert(math.abs(a - r.area) / r.area < 0.002, s"eas_id=${r.easId}: got $a want ~${r.area}")
    }
  }

  test("area of polygon with hole subtracts the hole") {
    val donut = Geom.fromWkt("POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,7 3,7 7,3 7,3 3))")
    assert(math.abs(GeomOps.area(donut) - (100.0 - 16.0)) < 1e-12)
  }

  test("length, distance, centroid") {
    val l = Geom.fromWkt("LINESTRING (0 0,3 4)")
    assert(GeomOps.length(l) == 5.0)
    val p1 = Geom.fromWkt("POINT (0 0)")
    val p2 = Geom.fromWkt("POINT (3 4)")
    assert(GeomOps.distance(p1, p2) == 5.0)
    val sq = Geom.fromWkt("POLYGON ((0 0,10 0,10 10,0 10,0 0))")
    val (cx, cy) = GeomOps.centroid(sq)
    assert(math.abs(cx - 5) < 1e-12 && math.abs(cy - 5) < 1e-12)
    // point to polygon distance
    assert(GeomOps.distance(Geom.fromWkt("POINT (15 10)"), sq) == 5.0)
    assert(GeomOps.distance(Geom.fromWkt("POINT (5 5)"), sq) == 0.0)
  }

  test("intersects: polygon/polygon, line/polygon, envelope reject") {
    val a = Geom.fromWkt("POLYGON ((0 0,10 0,10 10,0 10,0 0))")
    val b = Geom.fromWkt("POLYGON ((5 5,15 5,15 15,5 15,5 5))")
    val c = Geom.fromWkt("POLYGON ((20 20,30 20,30 30,20 30,20 20))")
    val inner = Geom.fromWkt("POLYGON ((2 2,4 2,4 4,2 4,2 2))")
    assert(GeomOps.intersects(a, b))
    assert(!GeomOps.intersects(a, c))
    assert(GeomOps.intersects(a, inner)) // full containment
    assert(GeomOps.intersects(inner, a))
    val line = Geom.fromWkt("LINESTRING (-5 5,25 5)")
    assert(GeomOps.intersects(a, line))
    assert(!GeomOps.intersects(c, line))
    assert(GeomOps.contains(a, inner))
    assert(!GeomOps.contains(inner, a))
  }

  test("geotransform fwd/inverse (GDAL convention)") {
    val gt = GeoTransform(1000, 1, 0, 1100, 0, -1)
    assert(gt.applyFwd(0, 0) == ((1000.0, 1100.0)))
    assert(gt.applyFwd(50, 70) == ((1050.0, 1030.0)))
    val (px, ln) = gt.toPixel(1050.0, 1030.0)
    assert(math.abs(px - 50) < 1e-12 && math.abs(ln - 70) < 1e-12)
  }

  // ---- in-place WKB point predicates (GeoRt) against the decoded reference ----

  /** Polygon / MultiPolygon WKB in big-endian order, byte by byte. */
  private def bigEndianWkb(g: Geom): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    def int32(v: Int): Unit = out.write(ByteBuffer.allocate(4).putInt(v).array())
    def write(g: Geom): Unit = {
      out.write(0)
      g match {
        case p: GPolygon =>
          int32(3); int32(p.rings.length)
          for (r <- p.rings) {
            int32(r.numPoints)
            r.xy.foreach(v => out.write(ByteBuffer.allocate(8).putDouble(v).array()))
          }
        case GMulti(6, parts) => int32(6); int32(parts.length); parts.foreach(write)
        case other => sys.error(s"not polygonal: $other")
      }
    }
    write(g)
    out.toByteArray
  }

  private val donutWkt = "POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,7 3,7 7,3 7,3 3))"
  private val multiWkt = "MULTIPOLYGON (((0 0,10 0,10 10,0 10,0 0),(2 2,4 2,4 4,2 4,2 2))," +
    "((20 0,30 0,25 8.5,20 0)),((5 5,15 5,15 15,5 15,5 5)))"
  private val starWkt = "POLYGON ((0 -10,2.5 -2.5,10 0,2.5 2.5,0 10,-2.5 2.5,-10 0,-2.5 -2.5,0 -10))"

  /** name -> WKB. Polygon, MultiPolygon and their big-endian forms are read in
    * place; the Z polygon and the mixed-order MultiPolygon take the decoding
    * path; the rest are the degenerate rules.
    */
  private def kernelShapes: Seq[(String, Array[Byte])] = {
    val multi = Geom.fromWkt(multiWkt).asInstanceOf[GMulti]
    val mixed = {
      // little-endian MultiPolygon with one big-endian part
      val parts = multi.geoms.map(Geom.toWkb)
      parts(1) = bigEndianWkb(multi.geoms(1))
      val head = ByteBuffer.allocate(9).order(ByteOrder.LITTLE_ENDIAN).put(1.toByte).putInt(6)
        .putInt(parts.length).array()
      head ++ parts.flatten
    }
    val tri = GLine(Array(0.0, 0, 10, 0, 0, 10))
    Seq(
      "square" -> Geom.toWkb(Geom.fromWkt("POLYGON ((0 0,10 0,10 10,0 10,0 0))")),
      "donut" -> Geom.toWkb(Geom.fromWkt(donutWkt)),
      "star" -> Geom.toWkb(Geom.fromWkt(starWkt)),
      "zone" -> Geom.toWkb(Geom.fromWkt(Pages.zones(3).last._2)),
      "multipolygon" -> Geom.toWkb(multi),
      "big-endian donut" -> bigEndianWkb(Geom.fromWkt(donutWkt)),
      "big-endian multipolygon" -> bigEndianWkb(multi),
      "mixed-order multipolygon" -> mixed,
      "Z donut" -> Geom.toWkb(Geom.fromWkt(
        "POLYGON ((0 0 1,10 0 1,10 10 1,0 10 1,0 0 1),(3 3 2,7 3 2,7 7 2,3 7 2,3 3 2))")),
      "empty polygon" -> Geom.toWkb(GPolygon(Array())),
      "empty ring" -> Geom.toWkb(GPolygon(Array(GLine(Array())))),
      "empty multipolygon" -> Geom.toWkb(GMulti(6, Array())),
      "3-point exterior" -> Geom.toWkb(GPolygon(Array(tri))),
      "3-point hole" -> Geom.toWkb(GPolygon(Array(
        Geom.fromWkt("POLYGON ((-5 -5,15 -5,15 15,-5 15,-5 -5))").asInstanceOf[GPolygon].exterior,
        tri)))
    )
  }

  /** Seeded points over the envelope plus the adversarial ones: every vertex,
    * edge midpoints (on horizontal and vertical edges exactly), the envelope
    * border and corners, each ring's vertex mean (inside every hole here),
    * and NaN / signed zeros.
    */
  private def kernelPoints(g: Geom, seed: Long): Seq[(Double, Double)] = {
    val rings = g match {
      case p: GPolygon => p.rings.toSeq
      case GMulti(_, parts) => parts.toSeq.collect { case p: GPolygon => p.rings.toSeq }.flatten
      case _ => Seq.empty
    }
    val e = rings.filter(_.numPoints > 0).map(_.envelope).foldLeft(Envelope(0, 0, 10, 10))(_ union _)
    def unit(h: Long): Double = ((h >>> 11) & 0xfffffffffffffL).toDouble / (1L << 52)
    val random = (0 until 400).map { i =>
      val h = Pages.mix(seed + i)
      (e.minX - 1 + unit(h) * (e.maxX - e.minX + 2), e.minY - 1 + unit(h * 7) * (e.maxY - e.minY + 2))
    }
    val onRings = rings.flatMap { r =>
      (0 until r.numPoints).map(i => (r.x(i), r.y(i))) ++
        (1 until r.numPoints).map(i => ((r.x(i - 1) + r.x(i)) / 2, (r.y(i - 1) + r.y(i)) / 2))
    }
    val centres = rings.filter(_.numPoints > 0).map { r =>
      (r.xy.grouped(2).map(_(0)).sum / r.numPoints, r.xy.grouped(2).map(_(1)).sum / r.numPoints)
    }
    val midX = (e.minX + e.maxX) / 2; val midY = (e.minY + e.maxY) / 2
    val border = Seq((e.minX, midY), (e.maxX, midY), (midX, e.minY), (midX, e.maxY),
      (e.minX, e.minY), (e.maxX, e.maxY), (e.minX, e.maxY), (e.maxX, e.minY),
      (Math.nextDown(e.minX), midY), (Math.nextUp(e.maxX), midY))
    val odd = Seq((Double.NaN, midY), (midX, Double.NaN), (-0.0, 0.0), (0.0, -0.0))
    random ++ onRings ++ centres ++ border ++ odd
  }

  test("in-place WKB contains/intersects equal GeomOps on the decoded geometry") {
    for (((name, wkb), k) <- kernelShapes.zipWithIndex) {
      val g = Geom.fromWkb(wkb)
      var contained = 0; var touched = 0
      for ((x, y) <- kernelPoints(g, 1000L * k)) {
        val c = GeomOps.containsPoint(g, x, y)
        val i = GeomOps.intersectsPoint(g, x, y)
        assert(GeoRt.containsPoint(wkb, x, y) == c, s"$name contains ($x, $y)")
        assert(GeoRt.intersectsPoint(wkb, x, y) == i, s"$name intersects ($x, $y)")
        if (c) contained += 1
        if (i && !c) touched += 1
      }
      if (!name.startsWith("empty") && !name.startsWith("3-point exterior")) {
        assert(contained > 0, s"$name: no point inside")
        assert(touched > 0, s"$name: no boundary-only point")
      }
    }
  }

  test("in-place point predicates: degenerate rings and holes") {
    val shapes = kernelShapes.toMap
    for (n <- Seq("empty polygon", "empty ring", "empty multipolygon", "3-point exterior")) {
      assert(!GeoRt.containsPoint(shapes(n), 1, 1), n)
      assert(!GeoRt.intersectsPoint(shapes(n), 0, 0), n)
    }
    assert(GeoRt.containsPoint(shapes("3-point hole"), 1, 1), "a 3-point hole excludes nothing")
    for (n <- Seq("donut", "big-endian donut", "Z donut")) {
      assert(GeoRt.containsPoint(shapes(n), 1, 1), n)
      assert(!GeoRt.containsPoint(shapes(n), 5, 5), s"$n: hole")
      assert(GeoRt.intersectsPoint(shapes(n), 3, 5), s"$n: hole edge")
      assert(!GeoRt.intersectsPoint(shapes(n), 5, 5), s"$n: hole")
    }
    for (n <- Seq("multipolygon", "big-endian multipolygon", "mixed-order multipolygon")) {
      assert(GeoRt.containsPoint(shapes(n), 25, 4), s"$n: second part")
      assert(GeoRt.containsPoint(shapes(n), 12, 12), s"$n: third part")
      assert(!GeoRt.containsPoint(shapes(n), 3, 3), s"$n: hole of the first part")
      assert(GeoRt.intersectsPoint(shapes(n), 2, 3), s"$n: hole edge")
    }
  }

  test("malformed WKB still fails in the decoder, not in the in-place kernel") {
    val donut = Geom.toWkb(Geom.fromWkt(donutWkt))
    for (cut <- Seq(3, 7, 12, 40, donut.length - 1)) {
      val bad = java.util.Arrays.copyOf(donut, cut)
      val want = intercept[RuntimeException](Geom.fromWkb(bad)).getClass
      assert(intercept[RuntimeException](GeoRt.containsPoint(bad, 1, 1)).getClass == want, s"cut $cut")
    }
  }

  test("in-place point predicates allocate nothing per call (decode per call does)") {
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    val calls = 100000
    val xs = Array.tabulate(calls)(i => -180.0 + 360.0 * ((Pages.mix(i) >>> 11) % 100000) / 1e5)
    val ys = Array.tabulate(calls)(i => -80.0 + 160.0 * ((Pages.mix(i + calls) >>> 11) % 100000) / 1e5)
    def allocated(body: => Int): (Long, Int) = {
      body // warm
      val before = threads.getThreadAllocatedBytes(tid)
      val hits = body
      (threads.getThreadAllocatedBytes(tid) - before, hits)
    }
    // one polygon, and the 1024 zones of a dense join in a seeded order, so a
    // slot-cache decode (which hits on one polygon) cannot pass either
    val zones = Pages.zones(1024).map(z => Geom.toWkb(Geom.fromWkt(z._2))).toArray
    val one = Array.fill(calls)(zones(7))
    val cycled = Array.tabulate(calls)(i => zones((Pages.mix(i * 31L) & 1023).toInt))
    for ((name, wkbs) <- Seq("one polygon" -> one, "1024 zones" -> cycled)) {
      val (kernel, kernelHits) = allocated {
        var n = 0; var i = 0
        while (i < calls) { if (GeoRt.containsPoint(wkbs(i), xs(i), ys(i))) n += 1; i += 1 }
        n
      }
      val (decoded, decodedHits) = allocated {
        var n = 0; var i = 0
        while (i < calls) {
          if (GeomOps.containsPoint(Geom.fromWkb(wkbs(i)), xs(i), ys(i))) n += 1; i += 1
        }
        n
      }
      assert(kernelHits == decodedHits, name)
      assert(kernel * 10 < decoded, s"$name: in place $kernel bytes, decoded $decoded bytes")
    }
  }
}
