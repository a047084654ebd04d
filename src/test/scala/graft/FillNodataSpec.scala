package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.{Checksum, FillNodata}

/** FillNodata parity: the canonical byte.tif fixture (20×20, band checksum
  * 4672, `autotest/gcore/tiff_read.py:45`) passes through unchanged when
  * fully valid (`autotest/pyscripts/test_gdal_fillnodata.py:43`), and
  * quadrant interpolation fills holes per the reference formula.
  */
class FillNodataSpec extends AnyFunSuite {
  private val W = 20; private val H = 20
  private val byteTif: Array[Int] = graft.fixtures.RasterFixtures.byteTif

  test("byte.tif is checksum 4672 and identity-fills with no nodata") {
    assert(Checksum.finish(Checksum.partialInt(byteTif, 0, byteTif.length, 0L)) === 4672)
    val vals = byteTif.map(_.toFloat)
    val filled = FillNodata.fill(vals, Array.fill(W * H)(true), W, H)
    assert(filled.toSeq === vals.toSeq)
    val asInt = filled.map(v => graft.raster.Translate.toByte(v.toDouble))
    assert(Checksum.finish(Checksum.partialInt(asInt, 0, asInt.length, 0L)) === 4672)
  }

  test("single hole fills with inverse-distance of quadrant neighbors") {
    // constant raster: hole must fill to the constant exactly
    val const = Array.fill(25)(42.0f)
    val valid = Array.fill(25)(true)
    valid(12) = false
    val filled = FillNodata.fill(const, valid, 5, 5)
    assert(filled(12) === 42.0f)
    // gradient raster: filled value stays within neighbor bounds
    val grad = Array.tabulate(25)(i => (i % 5 * 10 + i / 5).toFloat)
    val f2 = FillNodata.fill(grad, valid, 5, 5)
    assert(f2(12) > grad(11) - 10 && f2(12) < grad(13) + 10)
    // exact quadrant hits for the hole at (2,2), grid v = x*10+y:
    // TL=(2,1) v=21 d=1; BL=(2,3) v=23 d=1; TR=(3,2) v=32 d=1;
    // BR=(3,3) v=33 d=√2 → IDW = (21+23+32+33/√2)/(3+1/√2)
    val expect = (21.0 + 23.0 + 32.0 + 33.0 / math.sqrt(2)) / (3.0 + 1.0 / math.sqrt(2))
    assert(math.abs(f2(12) - expect) < 1e-4, s"got ${f2(12)}, expect $expect")
  }

  test("unreachable holes (beyond maxSearchDist) stay unchanged") {
    val vals = Array.fill(100)(7.0f)
    val valid = Array.fill(100)(false)
    valid(0) = true
    vals(55) = -99.0f
    val filled = FillNodata.fill(vals, valid, 10, 10, maxSearchDist0 = 2.0)
    assert(filled(55) === -99.0f) // nearest valid is ~7 px away
  }

  test("distributed fillStrips equals the local port bit-for-bit") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val w = 23; val h = 31
    // deterministic pseudo-random field + mask (mix of holes and runs)
    val vals = Array.tabulate(w * h)(i => ((i * 2654435761L >>> 16) % 199).toFloat)
    val valid = Array.tabulate(w * h) { i =>
      val r = (i * 0x9e3779b97f4a7c15L >>> 32) & 0xff
      r > 80 // ~30% holes
    }
    for (maxDist <- Seq(0.0, 3.0); stripH <- Seq(1, 4, 11, 31)) {
      val local = FillNodata.fill(vals.clone(), valid, w, h, maxDist)
      val strips = (0 until h by stripH).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(stripH, h - y0)
        FillNodata.FStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w),
          java.util.Arrays.copyOfRange(valid, y0 * w, (y0 + hh) * w))
      }.toDS()
      val dist = FillNodata.fillStrips(spark, strips, w, h, maxDist)
        .collect().sortBy(_.yOff).flatMap(_.vals)
      assert(dist.toSeq === local.toSeq, s"stripH=$stripH maxDist=$maxDist")
    }
  }
}
