package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.raster.Overview.IStrip
import graft.raster.Dem.DStrip

/** Proximity raster — distance from every pixel to the nearest target
  * pixel (`/root/reference/gdal/alg/gdalproximity.cpp:103`
  * GDALComputeProximity: VALUES target set, MAXDIST cap, DISTUNITS
  * PIXEL/GEO, NODATA fill).
  *
  * The reference uses a sequential two-pass scanline propagation (an
  * 8SSEDT-style approximation, kept below as [[proximityExact]] for golden
  * parity). The distributed path computes the EXACT euclidean distance
  * transform with the separable two-phase layout:
  *
  *  1. vertical phase — per column, the nearest target row above/below
  *     each pixel. Within a strip this is two linear scans; across strips
  *     only the per-column min/max target row of each strip is exchanged,
  *     by one [[StripScan.scan]] with the [[StripScan.Latest]] rule
  *     (nothing on the driver). No target pixel list is ever collected: a
  *     raster whose target class covers half its pixels costs the same
  *     coordination as a sparse one.
  *  2. horizontal phase — per row, the 1D lower-envelope-of-parabolas
  *     pass (Felzenszwalb–Huttenlocher) over the squared vertical
  *     distances. Entirely row-local, embarrassingly parallel per strip.
  */
object Proximity {

  /** Exact port of the reference's two-pass scanline propagation
    * (`gdalproximity.cpp:300-560`: top-down then bottom-up, each line
    * swept in both directions, nearest-target (x, y) carried per column).
    * Float arithmetic mirrored where the reference uses float. Returns
    * the float proximity raster AFTER post-processing (nodata fill,
    * FIXED_BUF_VAL, distMult).
    */
  def proximityExact(vals: Array[Int], w: Int, h: Int,
                     targetValues: Seq[Int] = Nil,
                     maxDist0: Double = Double.NaN,
                     noData: Float = 65535.0f,
                     fixedBufVal: Option[Double] = None,
                     distMult: Double = 1.0): Array[Float] = {
    val maxDist = if (maxDist0.isNaN) (w + h).toDouble else maxDist0 / distMult
    val out = new Array[Float](w * h)
    val nearX = Array.fill(w)(-1)
    val nearY = Array.fill(w)(-1)
    val prox = new Array[Float](w)

    def processLine(line: Int, forward: Boolean): Unit = {
      val (start, end, step) = if (forward) (0, w, 1) else (w - 1, -1, -1)
      var i = start
      while (i != end) {
        val v = vals(line * w + i)
        val isTarget =
          if (targetValues.isEmpty) v != 0 else targetValues.contains(v)
        if (isTarget) {
          prox(i) = 0.0f
          nearX(i) = i
          nearY(i) = line
        } else {
          var nearDistSq = (math.max(maxDist, w) * math.max(maxDist, w) * 2).toFloat
          if (nearX(i) != -1) {
            val d = ((nearX(i) - i) * (nearX(i) - i) +
              (nearY(i) - line) * (nearY(i) - line)).toFloat
            if (d < nearDistSq) nearDistSq = d
            else { nearX(i) = -1; nearY(i) = -1 }
          }
          val iLast = i - step
          if (i != start && nearX(iLast) != -1) {
            val d = ((nearX(iLast) - i) * (nearX(iLast) - i) +
              (nearY(iLast) - line) * (nearY(iLast) - line)).toFloat
            if (d < nearDistSq) {
              nearDistSq = d
              nearX(i) = nearX(iLast); nearY(i) = nearY(iLast)
            }
          }
          val iTR = i + step
          if (iTR != end && nearX(iTR) != -1) {
            val d = ((nearX(iTR) - i) * (nearX(iTR) - i) +
              (nearY(iTR) - line) * (nearY(iTR) - line)).toFloat
            if (d < nearDistSq) {
              nearDistSq = d
              nearX(i) = nearX(iTR); nearY(i) = nearY(iTR)
            }
          }
          if (nearX(i) != -1 && nearDistSq <= maxDist * maxDist &&
              (prox(i) < 0 || nearDistSq < prox(i) * prox(i)))
            prox(i) = math.sqrt(nearDistSq).toFloat
        }
        i += step
      }
    }

    // pass 1: top to bottom
    var line = 0
    while (line < h) {
      java.util.Arrays.fill(prox, -1.0f)
      processLine(line, forward = true)
      processLine(line, forward = false)
      System.arraycopy(prox, 0, out, line * w, w)
      line += 1
    }
    // pass 2: bottom to top
    java.util.Arrays.fill(nearX, -1)
    java.util.Arrays.fill(nearY, -1)
    line = h - 1
    while (line >= 0) {
      System.arraycopy(out, line * w, prox, 0, w)
      processLine(line, forward = false)
      processLine(line, forward = true)
      var i = 0
      while (i < w) {
        if (prox(i) < 0.0f) prox(i) = noData
        else if (prox(i) > 0.0f)
          prox(i) = fixedBufVal.map(_.toFloat).getOrElse((prox(i) * distMult).toFloat)
        i += 1
      }
      System.arraycopy(prox, 0, out, line * w, w)
      line -= 1
    }
    out
  }

  private final val Big = 1e18 // finite "no target in column" sentinel

  /** Squared 1D distance transform (lower envelope of parabolas). */
  private[raster] def edt1d(f: Array[Double]): Array[Double] = {
    val n = f.length
    val d = new Array[Double](n)
    val v = new Array[Int](n)
    val z = new Array[Double](n + 1)
    var k = 0
    v(0) = 0
    z(0) = Double.NegativeInfinity
    z(1) = Double.PositiveInfinity
    var q = 1
    while (q < n) {
      var s = 0.0
      var cont = true
      while (cont) {
        val p = v(k)
        s = ((f(q) + q.toDouble * q) - (f(p) + p.toDouble * p)) / (2.0 * (q - p))
        if (s <= z(k) && k > 0) k -= 1 else cont = false
      }
      k += 1
      v(k) = q
      z(k) = s
      z(k + 1) = Double.PositiveInfinity
      q += 1
    }
    k = 0
    q = 0
    while (q < n) {
      while (z(k + 1) < q) k += 1
      val p = v(k)
      d(q) = (q - p).toDouble * (q - p) + f(p)
      q += 1
    }
    d
  }

  /** @param targetValues pixel values considered targets
    * @param maxDist cap; farther pixels get `noData`
    * @param pixelDist distance per pixel step (1.0 = DISTUNITS=PIXEL;
    *                  the geotransform cell size for GEO)
    */
  def proximity(spark: SparkSession, strips: Dataset[IStrip], w: Int, h: Int,
                targetValues: Set[Int], maxDist: Double = Double.MaxValue,
                noData: Double = 65535.0, pixelDist: Double = 1.0): Dataset[DStrip] = {
    import spark.implicits._

    // Phase A: per-strip per-column target-row extremes (down payload =
    // max target row, propagates to later strips; up payload = min target
    // row, propagates to earlier strips). A raster with zero target pixels
    // is valid input to GDALComputeProximity (and to proximityExact): every
    // vertical distance stays Big, the maxDist cap turns it into noData,
    // and the output is the all-noData raster the reference produces
    def extremes(s: IStrip): StripScan.StripCols = {
      val mn = Array.fill(w)(StripScan.Absent)
      val mx = Array.fill(w)(StripScan.Absent)
      var r = 0
      while (r < s.height) {
        var c = 0
        while (c < s.width) {
          if (targetValues.contains(s.vals(r * s.width + c))) {
            val gy = s.yOff + r
            if (mn(c) == StripScan.Absent) mn(c) = gy.toLong
            mx(c) = gy.toLong
          }
          c += 1
        }
        r += 1
      }
      StripScan.StripCols(mx, mn)
    }

    // Phase B: nearest target row strictly above/below each strip per
    // column ([[StripScan.scan]], never on the driver), then per-strip
    // vertical scans + row-local 1D EDT
    StripScan.scan(strips, w, StripScan.Latest)(_.stripIdx, extremes).map { case (s, in) =>
      val above = in.above.map(v => if (v == StripScan.Absent) -1 else v.toInt)
      val below = in.below.map(v => if (v == StripScan.Absent) -1 else v.toInt)
      val hh = s.height
      val dvert2 = new Array[Double](w * hh) // squared vertical distance
      // downward scan: nearest target at or above each pixel
      val lastUp = above.clone()
      var r = 0
      while (r < hh) {
        val gy = s.yOff + r
        var c = 0
        while (c < w) {
          if (targetValues.contains(s.vals(r * s.width + c))) lastUp(c) = gy
          val d = if (lastUp(c) == -1) Big else {
            val dy = (gy - lastUp(c)).toDouble; dy * dy
          }
          dvert2(r * w + c) = d
          c += 1
        }
        r += 1
      }
      // upward scan: nearest target at or below each pixel
      val lastDown = below.clone()
      r = hh - 1
      while (r >= 0) {
        val gy = s.yOff + r
        var c = 0
        while (c < w) {
          if (targetValues.contains(s.vals(r * s.width + c))) lastDown(c) = gy
          if (lastDown(c) != -1) {
            val dy = (lastDown(c) - gy).toDouble
            val d = dy * dy
            if (d < dvert2(r * w + c)) dvert2(r * w + c) = d
          }
          c += 1
        }
        r -= 1
      }
      // horizontal lower-envelope per row
      val out = new Array[Double](w * hh)
      val rowBuf = new Array[Double](w)
      r = 0
      while (r < hh) {
        System.arraycopy(dvert2, r * w, rowBuf, 0, w)
        val d2 = edt1d(rowBuf)
        var c = 0
        while (c < w) {
          val d = math.sqrt(d2(c)) * pixelDist
          out(r * w + c) = if (d > maxDist) noData else d
          c += 1
        }
        r += 1
      }
      DStrip(s.stripIdx, s.yOff, hh, out)
    }
  }
}
