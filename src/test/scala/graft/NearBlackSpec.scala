package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.NearBlack
import graft.raster.NearBlack.Opts
import graft.raster.Overview.IStrip

/** nearblack collar removal: distributed == serial port across strip
  * layouts, multi-band + near-white variants, tolerance semantics.
  */
class NearBlackSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val W = 30; private val H = 22

  /** Bright core, dark collar, speckles in the collar, holes in the core. */
  private def fixture(b: Int): Array[Array[Int]] = Array.tabulate(b) { band =>
    Array.tabulate(W * H) { i =>
      val x = i % W; val y = i / W
      var v = if (x >= 5 && x < 25 && y >= 4 && y < 18) 70 + ((x * 3 + y * 7 + band * 13) % 50)
              else (x * 5 + y * 3 + band) % 10
      if ((x, y) == (2, 2) || (x, y) == (3, 2) || (x, y) == (27, 20)) v = 190
      if ((x, y) == (14, 10) || (x, y) == (15, 10)) v = 2
      v
    }
  }

  private def toStrips(bands: Array[Array[Int]], stripH: Int) =
    (0 until H by stripH).zipWithIndex.map { case (y0, idx) =>
      val hh = math.min(stripH, H - y0)
      IStrip(idx, y0, hh, W,
        bands.flatMap(b => java.util.Arrays.copyOfRange(b, y0 * W, (y0 + hh) * W)), bands.length)
    }.toDS()

  test("distributed equals the serial port across strip layouts and band counts") {
    for (nBands <- Seq(1, 3); opts <- Seq(Opts(), Opts(nearDist = 5, maxNonBlack = 0));
         stripH <- Seq(1, 3, 8, 22)) {
      val bands = fixture(nBands)
      val expect = NearBlack.local(bands, W, H, opts)
      val got = NearBlack(spark, toStrips(bands, stripH), W, H, opts)
        .collect().sortBy(_.yOff)
      val flat = Array.tabulate(nBands)(b => got.flatMap(_.band(b)))
      for (b <- 0 until nBands)
        assert(flat(b).toSeq === expect(b).toSeq,
          s"bands=$nBands stripH=$stripH opts=$opts band=$b")
    }
  }

  test("semantics: collar smashed, interior holes survive, tolerance eats edges") {
    val bands = fixture(1)
    val out = NearBlack.local(bands, W, H, Opts())
    // far collar corner smashed to exact black
    assert(out(0)(0) === 0 && out(0)(W - 1) === 0)
    // interior dark holes survive (horizontal runs stopped long before)
    assert(out(0)(10 * W + 14) === 2 && out(0)(10 * W + 15) === 2)
    // core center untouched
    assert(out(0)(11 * W + 15) === bands(0)(11 * W + 15))
    // maxNonBlack=2 eats two core rows/cols at each edge (vertical + the
    // bottom-up 0-tolerance pass keeps the rest)
    assert(out(0)(4 * W + 15) === 0)  // first core row smashed
    assert(out(0)(5 * W + 15) === 0)  // second core row smashed
    assert(out(0)(6 * W + 15) !== 0)  // third survives
  }

  test("accumulated counts reach strips whose own column is all-collar") {
    // regression: a column saturated in earlier strips must carry its
    // count into a later strip with ZERO non-collar pixels in that column
    // — otherwise the replay wrongly smashes shielded interior pixels.
    // 9×9, strips of 3: top/bottom strips all bright; middle strip has a
    // 3×3 collar-valued block flanked by bright shields on both sides.
    val w9 = 9; val h9 = 9
    val vals = Array.tabulate(w9 * h9) { i =>
      val x = i % w9; val y = i / w9
      if (y >= 3 && y < 6 && x >= 3 && x < 6) 5 else 100
    }
    val opts = Opts(nearDist = 15, maxNonBlack = 2)
    val expect = NearBlack.local(Array(vals), w9, h9, opts)
    // the shielded 3×3 block must SURVIVE in the serial truth
    assert(expect(0)(4 * w9 + 4) === 5, "fixture must shield the block")
    val strips = (0 until h9 by 3).zipWithIndex.map { case (y0, idx) =>
      IStrip(idx, y0, 3, w9, java.util.Arrays.copyOfRange(vals, y0 * w9, (y0 + 3) * w9))
    }.toDS()
    val got = NearBlack(spark, strips, w9, h9, opts)
      .collect().sortBy(_.yOff).flatMap(_.vals)
    assert(got.toSeq === expect(0).toSeq)
  }

  test("fuzz: random fixtures match the serial port (24 seeds × layouts)") {
    def rnd(seed: Long, k: Int): Int =
      ((graft.sources.Pages.mix(seed * 2654435761L + k) >>> 17) & 0x1f).toInt // 0..31
    val w = 13; val h = 11
    for (seed <- 1 to 24; stripH <- Seq(2, 4)) {
      val vals = Array.tabulate(w * h)(i => rnd(seed, i))
      val opts = Opts(nearDist = 15, maxNonBlack = seed % 3)
      val expect = NearBlack.local(Array(vals), w, h, opts)
      val strips = (0 until h by stripH).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(stripH, h - y0)
        IStrip(idx, y0, hh, w, java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + hh) * w))
      }.toDS()
      val got = NearBlack(spark, strips, w, h, opts)
        .collect().sortBy(_.yOff).flatMap(_.vals)
      assert(got.toSeq === expect(0).toSeq, s"seed=$seed stripH=$stripH")
    }
  }

  test("near-white smashes to 255") {
    val w = 12; val h = 8
    val bands = Array(Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      if (x >= 3 && x < 9 && y >= 2 && y < 6) 30 else 250 + (x + y) % 5
    })
    val out = NearBlack.local(bands, w, h, Opts(nearDist = 10, maxNonBlack = 0, nearWhite = true))
    assert(out(0)(0) === 255)
    assert(out(0)(3 * w + 5) === 30) // dark interior survives
  }
}
