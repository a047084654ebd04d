package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.{Checksum, Palette}
import graft.raster.Overview.IStrip

/** Median-cut + dither golden parity (`autotest/alg/dither.py:43-90`):
  * rgbsmall.tif (50×50 RGB, DEFLATE planes extracted) → 8-color table
  * matching the reference entries, dithered band checksum 8803.
  */
class PaletteSpec extends AnyFunSuite {
  private val red = graft.fixtures.RasterFixtures.rgbSmallRed
  private val green = graft.fixtures.RasterFixtures.rgbSmallGreen
  private val blue = graft.fixtures.RasterFixtures.rgbSmallBlue

  test("median cut produces the reference 8-color table") {
    val ct = Palette.medianCut(red, green, blue, 8)
    val expected = Seq((36,48,32), (92,120,20), (88,96,20), (92,132,56),
      (0,0,0), (96,152,24), (60,112,32), (164,164,108))
    assert(ct.length === 8)
    assert(ct.map(c => (c.r, c.g, c.b)).toSeq === expected)
  }

  test("dither to the computed palette gives checksum 8803") {
    val ct = Palette.medianCut(red, green, blue, 8)
    val idx = Palette.dither(red, green, blue, 50, 50, ct)
    assert(Checksum.finish(Checksum.partialInt(idx, 0, idx.length, 0L)) === 8803)
  }

  test("distributed median-cut + streamed dither match the local goldens") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    for (stripH <- Seq(7, 17, 50)) {
      val strips = (0 until 50 by stripH).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(stripH, 50 - y0)
        rgbStrip(idx, y0, hh)
      }.toDS()
      val ct = Palette.medianCutStrips(strips, 8)
      assert(ct.map(c => (c.r, c.g, c.b)).toSeq ===
        Palette.medianCut(red, green, blue, 8).map(c => (c.r, c.g, c.b)).toSeq,
        s"stripH=$stripH color table")
      val idx = Palette.ditherStripsStreamed(strips, ct)
        .toSeq.sortBy(_._2).flatMap(_._3).toArray
      assert(Checksum.finish(Checksum.partialInt(idx, 0, idx.length, 0L)) === 8803,
        s"stripH=$stripH dither checksum")
    }
  }

  test("streamed dither handles non-contiguous strip indices") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // stripIdx 0, 2, 4 (as after filtering/tiling) — the scan must still
    // visit in stripIdx order with the carried error line intact
    val strips = Seq(0, 2, 4).zipWithIndex.map { case (sIdx, k) =>
      val y0 = k * 17
      val hh = if (k == 2) 16 else 17
      rgbStrip(sIdx, y0, hh)
    }.toDS()
    val ct = Palette.medianCutStrips(strips, 8)
    val streamed = Palette.ditherStripsStreamed(strips, ct)
      .toSeq.sortBy(_._2).flatMap(_._3).toArray
    assert(java.util.Arrays.equals(streamed, Palette.dither(red, green, blue, 50, 50, ct)),
      "non-contiguous streamed dither differs from the local dither")
  }

  /** Rows `y0 until y0 + hh` of rgbsmall as a 3-band strip (r, g, b). */
  private def rgbStrip(idx: Int, y0: Int, hh: Int): IStrip =
    IStrip(idx, y0, hh, 50, Array(red, green, blue).flatMap(
      java.util.Arrays.copyOfRange(_, y0 * 50, (y0 + hh) * 50)), bands = 3)
}
