package graft

import graft.raster.Overview
import graft.raster.Dem.DStrip
import org.scalatest.funsuite.AnyFunSuite

/** AVERAGE_MAGPHASE complex overview — `gcore/overview.cpp:1867` parity. */
class ComplexOverviewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("magnitude is preserved as the block-average of magnitudes") {
    // four unit vectors at 0°, 90°, 180°, 270°: vector sum ≈ 0, but the
    // output magnitude must be the AVERAGE magnitude (1.0)... the vector
    // sum is exactly 0 here so ratio can't apply; use a slightly
    // asymmetric block instead so m != 0
    val re = Array(1.0f, 0.0f, -0.5f, 0.0f)
    val im = Array(0.0f, 1.0f, 0.0f, -1.0f)
    val s = cstrip(0, 0, 2, re, im)
    val o = Overview.downsampleComplexMagPhase(s)
    val mags = (0 until 4).map(i => math.hypot(re(i), im(i)))
    val outM = math.hypot(o.vals(0), o.vals(1))
    assert(math.abs(outM - mags.sum / 4) < 1e-6,
      s"out magnitude $outM vs mean ${mags.sum / 4}")
    // phase follows the vector average direction: sum = (0.5, 0) → 0°
    assert(o.vals(1) === 0.0f)
    assert(o.vals(0) > 0)
  }

  test("zero vector sum stays zero (reference ratio guard)") {
    val re = Array(1.0f, -1.0f, 1.0f, -1.0f)
    val im = Array(1.0f, -1.0f, -1.0f, 1.0f)
    val o = Overview.downsampleComplexMagPhase(cstrip(0, 0, 2, re, im))
    assert(o.vals(0) === 0.0f && o.vals(1) === 0.0f)
  }

  test("distributed level matches local kernel on every strip") {
    import spark.implicits._
    val w = 16; val h = 8
    val re = Array.tabulate(w * h)(i => ((i * 37) % 23 - 11).toFloat / 3f)
    val im = Array.tabulate(w * h)(i => ((i * 53) % 19 - 9).toFloat / 4f)
    val strips = (0 until h by 4).zipWithIndex.map { case (y0, idx) =>
      cstrip(idx, y0, 4,
        java.util.Arrays.copyOfRange(re, y0 * w, (y0 + 4) * w),
        java.util.Arrays.copyOfRange(im, y0 * w, (y0 + 4) * w))
    }
    val dist = Overview.levelComplexMagPhase(strips.toDS())
      .collect().sortBy(_.yOff)
    val local = strips.map(Overview.downsampleComplexMagPhase)
    dist.zip(local).foreach { case (d, l) =>
      assert(java.util.Arrays.equals(d.band(0), l.band(0)) &&
        java.util.Arrays.equals(d.band(1), l.band(1)), s"strip ${d.stripIdx}")
    }
    // edge column (odd width handled): re-run with w=15
    val s15 = cstrip(0, 0, 4,
      java.util.Arrays.copyOfRange(re, 0, 60), java.util.Arrays.copyOfRange(im, 0, 60))
    val o15 = Overview.downsampleComplexMagPhase(s15)
    assert(o15.band(0).length / o15.height === 8 && o15.height === 2)
  }

  test("CFloat32 output bits are pinned on the q_complex_magphase fixture") {
    import spark.implicits._
    val w = 8; val h = 4
    val re = Array.tabulate(w * h)(i => (((i % w) * 37 % 23) - 11).toFloat / 3f)
    val im = Array.tabulate(w * h)(i => ((((i % w) * 53 + (i / w) * 29) % 19) - 9).toFloat / 4f)
    val strips = (0 until h by 2).zipWithIndex.map { case (y0, idx) =>
      cstrip(idx, y0, 2,
        java.util.Arrays.copyOfRange(re, y0 * w, (y0 + 2) * w),
        java.util.Arrays.copyOfRange(im, y0 * w, (y0 + 2) * w))
    }
    val out = Overview.levelComplexMagPhase(strips.toDS()).collect().sortBy(_.yOff)
    val vals = out.flatMap(_.band(0)) ++ out.flatMap(_.band(1))
    // every stored value is a float: the level never leaves CFloat32
    assert(vals.forall(v => v.toFloat.toDouble == v))
    // bits from the float-plane kernel: re of the 4×2 level, then im
    assert(vals.map(v => java.lang.Float.floatToIntBits(v.toFloat)).toSeq === Seq(
      0xc02bd298, 0x40294c78, 0xc01ac8c8, 0xbf4a4dac,
      0xc02ffafe, 0x3ffc354b, 0xc0199ddc, 0xbfc4f3c5,
      0xbf21156e, 0x3efdf2b2, 0x3f13bfa8, 0xbfe39764,
      0xbe03fc3e, 0x3fec71f5, 0xbf2794f1, 0xbf93b6d6))
  }

  /** A CFloat32 strip: band 0 re, band 1 im. */
  private def cstrip(idx: Int, y0: Int, height: Int,
                     re: Array[Float], im: Array[Float]): DStrip =
    DStrip(idx, y0, height, (re ++ im).map(_.toDouble), bands = 2)
}
