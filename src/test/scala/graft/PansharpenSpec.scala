package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.Pansharpen
import graft.raster.Dem.DStrip

class PansharpenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("weighted Brovey: ratio preserved, pseudo-pan matches pan exactly") {
    // when pan == Σ w·ms, output equals input (factor 1)
    val ms = Array(Array(30.0, 60.0), Array(90.0, 120.0), Array(150.0, 30.0))
    val w = Array(1.0 / 3, 1.0 / 3, 1.0 / 3)
    val pan = Array(ms(0)(0) / 3 + ms(1)(0) / 3 + ms(2)(0) / 3,
      ms(0)(1) / 3 + ms(1)(1) / 3 + ms(2)(1) / 3)
    val out = Pansharpen.broveyStrip(pan, ms, w)
    for (i <- 0 until 3; j <- 0 until 2)
      assert(math.abs(out(i)(j) - ms(i)(j)) < 1e-9)
    // doubled pan doubles every band; band ratios preserved
    val out2 = Pansharpen.broveyStrip(pan.map(_ * 2), ms, w)
    for (i <- 0 until 3; j <- 0 until 2)
      assert(math.abs(out2(i)(j) - 2 * ms(i)(j)) < 1e-9)
  }

  test("nodata in any spectral band zeroes the pixel; maxValue clamps") {
    val ms = Array(Array(10.0, -99.0), Array(20.0, 30.0))
    val out = Pansharpen.broveyStrip(Array(100.0, 100.0), ms,
      Array(0.5, 0.5), noData = -99.0, maxValue = 120.0)
    assert(out(0)(1) === 0.0 && out(1)(1) === 0.0) // nodata pixel
    assert(out(1)(0) === 120.0) // 20 * (100/15) = 133 -> clamped
  }

  test("distributed fusion matches the strip kernel") {
    val w = Array(0.25, 0.75)
    val strips = (0 until 4).map { s =>
      DStrip(s, s * 2, 2, Array.concat(
        Array.tabulate(20)(i => 50.0 + s + i),
        Array.tabulate(20)(i => 10.0 + i), Array.tabulate(20)(i => 30.0 + i)), bands = 3)
    }
    val got = Pansharpen.brovey(strips.toDS(), w).collect().sortBy(_.stripIdx)
    strips.zip(got).foreach { case (in, res) =>
      val expect = Pansharpen.broveyStrip(in.band(0), Array(in.band(1), in.band(2)), w)
      assert((1 until res.bands).map(res.band(_).toSeq) === expect.map(_.toSeq).toSeq)
    }
  }
}
