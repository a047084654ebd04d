package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.raster.Overview.IStrip

/** Collar removal — `nearblack` (`/root/reference/gdal/apps/
  * nearblack_lib.cpp`): pixels within `nearDist` of a collar color
  * (black/white/custom list) are smashed to the exact color, scanning
  * inward from every edge until `maxNonBlack` non-collar pixels have been
  * crossed. Exact port of ProcessLine (`nearblack_lib.cpp:506`): top-down
  * pass (vertical saturating counts + L→R and R→L horizontal runs), then a
  * bottom-up pass over the first pass's OUTPUT with counts reset and the
  * horizontal tolerance pinned to 0, including the reference's quirks
  * (`i != iEnd` leaves the final pixel of each horizontal run untouched;
  * non-collar pixels inside the tolerance are smashed too; vertical counts
  * never reset).
  *
  * Distribution: the only cross-strip state is panLastLineCounts — and
  * because a column's count saturates at maxNonBlack+1 and never resets,
  * the state entering strip k is `min(Σ F_i, max+1)` over the strips the
  * pass has already crossed, where F_i = that column's non-collar pixel
  * count in strip i (clamped). Each pass is one [[StripScan.scan]] with the
  * [[StripScan.CappedSum]] rule (top-down reads `above`, bottom-up reads
  * `below`) followed by an exact per-strip replay — no driver state at
  * any width.
  *
  * Strips are [[Overview.IStrip]]s with `bands = n`, one plane per input
  * band in input order (band-sequential `vals`); a collar color lists one
  * value per band in that order.
  */
object NearBlack extends Serializable {

  final case class Opts(nearDist: Int = 15, maxNonBlack: Int = 2,
                        nearWhite: Boolean = false,
                        colors: Seq[Array[Int]] = Nil) {
    def replaceValue: Int = if (nearWhite) 255 else 0
    def colorList(nBands: Int): Array[Array[Int]] =
      if (colors.nonEmpty) colors.map { c =>
        require(c.length == nBands, s"color arity ${c.length} != bands $nBands"); c
      }.toArray
      else Array(Array.fill(nBands)(replaceValue))
  }

  /** Pixel is NON-collar iff it matches no color within nearDist on every
    * band (`nearblack_lib.cpp:545-567`).
    */
  @inline private def isNonBlack(s: IStrip, idx: Int,
                                 colors: Array[Array[Int]], dist: Int): Boolean = {
    val plane = s.width * s.height
    var iColor = 0
    while (iColor < colors.length) {
      val col = colors(iColor)
      var non = false
      var b = 0
      while (!non && b < s.bands) {
        val pix = s.vals(b * plane + idx)
        if (col(b) - pix > dist || pix > dist + col(b)) non = true
        b += 1
      }
      if (!non) return false // matched this color → collar pixel
      iColor += 1
    }
    true
  }

  /** Set every band of pixel `idx` to `v`. */
  @inline private def smash(s: IStrip, idx: Int, v: Int): Unit = {
    val plane = s.width * s.height
    var b = 0
    while (b < s.bands) { s.vals(b * plane + idx) = v; b += 1 }
  }

  /** One ProcessLine invocation (vertical + one horizontal direction). */
  private def processLine(s: IStrip, rowOff: Int,
                          counts: Array[Int], opts: Opts,
                          colors: Array[Array[Int]],
                          iStart: Int, iEnd: Int,
                          doVertical: Boolean, bottomUp: Boolean): Unit = {
    val dist = opts.nearDist
    val repl = opts.replaceValue
    val maxNB = opts.maxNonBlack
    val w = s.width
    if (doVertical) {
      var i = 0
      while (i < w) {
        if (counts(i) <= maxNB) {
          val non = isNonBlack(s, rowOff + i, colors, dist)
          var skip = false
          if (non) {
            counts(i) += 1
            if (counts(i) > maxNB) skip = true
          }
          if (!skip) smash(s, rowOff + i, repl)
        }
        i += 1
      }
    }
    // horizontal: the reference loop runs i != iEnd, leaving iEnd untouched
    val hMax = if (bottomUp) 0 else maxNB
    var nNonBlack = 0
    var doTest = true
    val dir = if (iStart < iEnd) 1 else -1
    var i = iStart
    while (i != iEnd) {
      if (doTest) {
        val non = isNonBlack(s, rowOff + i, colors, dist)
        if (non) {
          if (counts(i) <= hMax) nNonBlack = counts(i)
          else nNonBlack += 1
        }
        if (nNonBlack > hMax) doTest = false
        else smash(s, rowOff + i, repl)
      } else if (counts(i) == 0) {
        doTest = true
        nNonBlack = 0
      }
      i += dir
    }
  }

  /** Replay one pass over a strip IN PLACE, given the per-column counts
    * entering the strip (mutated to the exiting counts).
    */
  private def processStrip(s: IStrip, counts: Array[Int], opts: Opts,
                           colors: Array[Array[Int]], bottomUp: Boolean): Unit = {
    val w = s.width
    val rows = if (bottomUp) (s.height - 1) to 0 by -1 else 0 until s.height
    rows.foreach { r =>
      processLine(s, r * w, counts, opts, colors, iStart = 0, iEnd = w - 1,
        doVertical = true, bottomUp = bottomUp)
      processLine(s, r * w, counts, opts, colors, iStart = w - 1, iEnd = 0,
        doVertical = false, bottomUp = bottomUp)
    }
  }

  /** Exact single-node port (both passes), for tests and tiny rasters. */
  def local(bands0: Array[Array[Int]], w: Int, h: Int, opts: Opts = Opts()): Array[Array[Int]] = {
    val s = IStrip(0, 0, h, w, Array.concat(bands0: _*), bands0.length)
    val colors = opts.colorList(s.bands)
    processStrip(s, new Array[Int](w), opts, colors, bottomUp = false)
    processStrip(s, new Array[Int](w), opts, colors, bottomUp = true)
    Array.tabulate(s.bands)(s.band)
  }

  /** Distributed nearblack over strips (both passes). */
  def apply(spark: SparkSession, strips: Dataset[IStrip], w: Int, h: Int,
            opts: Opts = Opts()): Dataset[IStrip] =
    pass(spark, pass(spark, strips, w, opts, bottomUp = false), w, opts, bottomUp = true)

  /** One pass: the per-column non-collar counts entering each strip (a
    * saturating [[StripScan.scan]], read from `above` top-down and from
    * `below` bottom-up) feed an exact per-strip replay.
    */
  private def pass(spark: SparkSession, strips: Dataset[IStrip], w: Int,
                   opts: Opts, bottomUp: Boolean): Dataset[IStrip] = {
    import spark.implicits._
    val cap = opts.maxNonBlack + 1
    // per-strip per-column clamped non-collar counts (from pristine pass
    // input — vertical tests never see same-pass mutations of OTHER rows)
    def counts(s: IStrip): StripScan.StripCols = {
      val colors = opts.colorList(s.bands)
      val f = new Array[Long](w)
      var r = 0
      while (r < s.height) {
        var c = 0
        while (c < w) {
          if (f(c) < cap && isNonBlack(s, r * w + c, colors, opts.nearDist))
            f(c) += 1
          c += 1
        }
        r += 1
      }
      StripScan.StripCols(f, f)
    }
    StripScan.scan(strips, w, StripScan.CappedSum(cap))(_.stripIdx, counts)
      .map { case (s, in) =>
        val entering = (if (bottomUp) in.below else in.above).map(_.toInt)
        val out = s.copy(vals = s.vals.clone())
        processStrip(out, entering, opts, opts.colorList(out.bands), bottomUp)
        out
      }
  }
}
