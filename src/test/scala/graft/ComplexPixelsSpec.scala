package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.ComplexPixels
import graft.raster.ComplexPixels._
import graft.raster.Dem.DStrip

/** Complex pixel family: CopyWords cast rules, checksum strip-split
  * invariance, real-component statistics.
  */
class ComplexPixelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val w = 11; private val h = 9
  private def re = Array.tabulate(w * h)(i => ((i * 7) % 31) * 1.25 - 13.0)
  private def im = Array.tabulate(w * h)(i => ((i * 5) % 17) * -0.75 + 4.0)

  private def stripsOf(stripH: Int): org.apache.spark.sql.Dataset[DStrip] = {
    val r = re; val m = im
    (0 until h by stripH).zipWithIndex.map { case (y0, idx) =>
      val hh = math.min(stripH, h - y0)
      DStrip(idx, y0, hh,
        java.util.Arrays.copyOfRange(r, y0 * w, (y0 + hh) * w) ++
          java.util.Arrays.copyOfRange(m, y0 * w, (y0 + hh) * w), bands = 2)
    }.toDS()
  }

  test("checksum is invariant to strip layout (both paths)") {
    val ref = ComplexPixels.checksum(stripsOf(9), TCFloat32)
    for (sh <- Seq(1, 2, 4)) {
      assert(ComplexPixels.checksum(stripsOf(sh), TCFloat32) === ref, s"stripH=$sh")
    }
    val int16 = ComplexPixels.convert(stripsOf(3), TCFloat32, TCInt16)
    val refI = ComplexPixels.checksum(int16, TCInt16)
    val int16b = ComplexPixels.convert(stripsOf(4), TCFloat32, TCInt16)
    assert(ComplexPixels.checksum(int16b, TCInt16) === refI)
  }

  test("float→int casts round half away from zero; int→int plain clamp") {
    val s = Seq(DStrip(0, 0, 1,
      Array(-3.7, 3.7, 40000.0, -40000.0) ++ Array(0.4, -0.6, 0.0, 0.0), bands = 2)).toDS()
    val c16 = ComplexPixels.convert(s, TCFloat32, TCInt16).head()
    // GDALCopyWord float→GInt16 (gdal_priv_templates.hpp:247-255):
    // v>0 ? v+0.5 : v-0.5 then C cast: -4.2→-4, 4.2→4, -0.6→-1.1→-1
    assert(c16.band(0).toSeq === Seq(-4.0, 4.0, 32767.0, -32768.0))
    assert(c16.band(1).toSeq === Seq(0.0, -1.0, 0.0, 0.0))
    // int→int: no +0.5 (a CInt32 strip of integer values through CInt16)
    val i32 = Seq(DStrip(0, 0, 1,
      Array(-3.0, 40000.0, 7.0) ++ Array(1.0, -2.0, 0.0), bands = 2)).toDS()
    val d16 = ComplexPixels.convert(i32, TCInt32, TCInt16).head()
    assert(d16.band(0).toSeq === Seq(-3.0, 32767.0, 7.0))
  }

  test("complex→real keeps re; real→complex zeroes im") {
    val s = stripsOf(3)
    val realOnly = ComplexPixels.convert(s, TCFloat32, TFloat64).head()
    assert(realOnly.bands === 1)
    val back = ComplexPixels.convert(
      ComplexPixels.convert(s, TCFloat32, TFloat64), TFloat64, TCFloat64)
    back.collect().foreach(p => assert(p.bands === 2 && p.band(1).forall(_ == 0.0)))
  }

  test("stats are over the real component (population stddev)") {
    val st = ComplexPixels.stats(stripsOf(4))
    val vals = re
    val mean = vals.sum / vals.length
    val varp = vals.map(v => (v - mean) * (v - mean)).sum / vals.length
    assert(st.count === vals.length)
    assert(math.abs(st.min - vals.min) < 1e-12)
    assert(math.abs(st.max - vals.max) < 1e-12)
    assert(math.abs(st.mean - mean) < 1e-9)
    assert(math.abs(st.std - math.sqrt(varp)) < 1e-9)
  }
}
