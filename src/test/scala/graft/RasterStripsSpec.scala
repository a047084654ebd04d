package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Geom, GeoTransform}
import graft.raster._
import graft.raster.RasterStrips.{RasterSpec => RSpec, ShapeRow, ValueStrip}

/** Distributed strip execution matches the single-node kernels bit for bit:
  * checksums, and polygonize's (value, WKB) multisets.
  */
class RasterStripsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("distributed rasterize reproduces checksum 6452 across strip sizes") {
    val gt = GeoTransform(1000, 1, 0, 1100, 0, -1)
    val spec = RSpec(100, 100, 3, gt)
    val shapes = Seq(
      ShapeRow(0L, Geom.toWkb(Geom.fromWkt("POLYGON((1020 1030,1020 1045,1050 1045,1050 1030,1020 1030))")), Array(200.0, 220.0, 240.0)),
      ShapeRow(1L, Geom.toWkb(Geom.fromWkt("LINESTRING(1000 1000, 1100 1050)")), Array(200.0, 220.0, 240.0)))
    for (stripH <- Seq(7, 33, 100)) {
      val strips = RasterStrips.rasterize(spark, shapes.toDS(), spec,
        Rasterize.Options(), stripHeight0 = stripH)
      assert(RasterStrips.checksum(strips, spec, 1) === 6452, s"stripH=$stripH")
    }
  }

  test("distributed Z-burn reproduces checksum 15006 with strips") {
    val gt = GeoTransform(1000, 1, 0, 1100, 0, -1)
    val spec = RSpec(100, 100, 3, gt)
    val wkts = Seq(
      "POLYGON((1020 1030 40,1020 1045 30,1050 1045 20,1050 1030 35,1020 1030 40))",
      "POLYGON((1010 1046 85,1015 1055 35,1055 1060 26,1054 1048 35,1010 1046 85))",
      "POLYGON((1020 1076 190,1025 1085 35,1065 1090 26,1064 1078 35,1020 1076 190),(1023 1079 5,1061 1081 35,1062 1087 26,1028 1082 35,1023 1079 85))",
      "LINESTRING(1005 1000 10, 1100 1050 120)",
      "LINESTRING(1000 1000 150, 1095 1050 -5, 1080 1080 200)")
    val shapes = wkts.zipWithIndex.map { case (w, i) =>
      ShapeRow(i.toLong, Geom.toWkb(Geom.fromWkt(w)), Array(10.0, 10.0, 55.0))
    }
    val strips = RasterStrips.rasterize(spark, shapes.toDS(), spec,
      Rasterize.Options(burnValueFromZ = true), stripHeight0 = 13)
    assert(RasterStrips.checksum(strips, spec, 1) === 15006)
  }

  // ---- polygonize ----

  private val W = 5; private val H = 7
  private val grid = Array(
    107, 123, 132, 115, 132,
    115, 132, 132, 123, 123,
    115, 132, 140, 132, 123,
    148, 132, 123, 123, 123,
    156, 156, 156, 140, 132,
    156, 100, 156, 101, 102,
    156, 156, 156, 103, 103)
  private val gt = GeoTransform(440720, 60, 0, 3751440, 0, -60)

  private def stripsOf(vals: Array[Int], w: Int, h: Int, stripH: Int): Seq[ValueStrip] = {
    (0 until h by stripH).zipWithIndex.map { case (y0, idx) =>
      val hh = math.min(stripH, h - y0)
      ValueStrip(idx, y0, hh, java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w))
    }
  }

  private def hex(wkb: Array[Byte]): String = wkb.map("%02x".format(_)).mkString

  /** The distributed (value, WKB hex) multiset equals the sequential
    * kernel's byte for byte.
    */
  private def check(vals: Array[Int], w: Int, h: Int, conn: Int, stripH: Int,
                    what: String = ""): Unit = {
    val expected = Polygonize.polygonize(vals, w, h, conn, gt)
      .map { case (v, p) => (v, hex(Geom.toWkb(p))) }.sorted
    val got = RasterStrips.polygonize(spark, stripsOf(vals, w, h, stripH).toDS(), w, h, conn, gt)
      .collect()
      .map(r => (r.getInt(0), hex(r.getAs[Array[Byte]](1))))
      .toSeq.sorted
    assert(got === expected, s"$what conn=$conn stripH=$stripH")
  }

  test("distributed polygonize matches single-node kernel (masked, 4-conn)") {
    val masked = grid.map(v => if (v == 132) Polygonize.NoDataMarker else v)
    for (stripH <- Seq(2, 3, 7)) check(masked, W, H, 4, stripH)
  }

  test("distributed polygonize matches single-node kernel (unmasked, 4+8 conn)") {
    for (conn <- Seq(4, 8); stripH <- Seq(2, 4, 7)) check(grid, W, H, conn, stripH)
  }

  test("distributed polygonize keeps a ring pinched at a corner byte-identical") {
    // the two 1-pixels touch only at (2, 2): one 8-connected polygon whose
    // ring visits that vertex twice, inside a 0-polygon pinched there too
    val pinch = Array(
      0, 0, 0, 0,
      0, 1, 0, 0,
      0, 0, 1, 0,
      0, 0, 0, 0)
    for (conn <- Seq(4, 8); stripH <- Seq(1, 2, 4)) check(pinch, 4, 4, conn, stripH, "pinch")
  }

  test("distributed polygonize equals the single-node kernel on seeded random rasters") {
    val rnd = new scala.util.Random(20261018)
    for (k <- 0 until 12) {
      val w = 6 + rnd.nextInt(11); val h = 6 + rnd.nextInt(11)
      val vals = Array.fill(w * h)(
        if (rnd.nextDouble() < 0.05) Polygonize.NoDataMarker else rnd.nextInt(3))
      for (conn <- Seq(4, 8); stripH <- Seq(1, 3, h))
        check(vals, w, h, conn, stripH, s"raster $k (${w}x$h)")
    }
  }
}
