package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}

/** Fill-nodata — interpolate masked-out pixels from the nearest valid
  * pixels in four quadrant directions, inverse-distance weighted. Faithful
  * port of `/root/reference/gdal/alg/rasterfill.cpp:388` GDALFillNodata:
  * top-down pass records per-column last-valid (value, y); bottom-up pass
  * combines both directions, stepping left/right up to the search radius
  * and keeping the closest hit per quadrant (QUAD_CHECK `:333`), with the
  * every-4-steps search-radius shrink (`:765`); fill = Σ v/d / Σ 1/d.
  * Smoothing iterations (GDALMultiFilter) are not ported (the reference
  * default is 0 iterations).
  *
  * Distributed path ([[fillStrips]]): the reference's running column
  * state is a pure function of the TRUE nearest valid pixel above/below
  * (the distance invalidation is monotone), so each strip only needs the
  * per-column (nearest-valid-row, value) of everything above and below
  * it. One [[StripScan.scan]] with the [[StripScan.Latest]] rule hands
  * each strip those two rows from the per-strip first/last valid pixels;
  * the quadrant search itself is row-local and embarrassingly parallel
  * per strip.
  */
object FillNodata {

  private final val NoDataY = Int.MaxValue

  /** @param vals row-major values (the reference works in a Float32
    *             buffer; mirrored here)
    * @param valid row-major validity mask (true = keep)
    * @param maxSearchDist 0 → max(w,h)+1 like the reference
    * @return filled copy of `vals`
    */
  def fill(vals: Array[Float], valid: Array[Boolean], w: Int, h: Int,
           maxSearchDist0: Double = 0.0): Array[Float] = {
    val maxSearchDist = if (maxSearchDist0 == 0.0) math.max(w, h) + 1.0 else maxSearchDist0
    val nMaxSearchDist = math.floor(maxSearchDist).toInt

    // pass 1: top-down last-valid per column, materialized per row
    val topDownY = Array.ofDim[Int](h * w)
    val topDownV = Array.ofDim[Float](h * w)
    val lastY = Array.fill(w)(NoDataY)
    val lastV = new Array[Float](w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (valid(y * w + x)) {
          lastV(x) = vals(y * w + x)
          lastY(x) = y
        } else if (!(lastY(x) != NoDataY && y <= maxSearchDist + lastY(x))) {
          lastY(x) = NoDataY
        }
        topDownY(y * w + x) = lastY(x)
        topDownV(y * w + x) = lastV(x)
        x += 1
      }
      y += 1
    }

    // pass 2: bottom-up + quadrant interpolation
    val out = vals.clone()
    java.util.Arrays.fill(lastY, NoDataY)
    y = h - 1
    while (y >= 0) {
      val thisY = new Array[Int](w)
      val thisV = new Array[Float](w)
      var x = 0
      while (x < w) {
        if (valid(y * w + x)) {
          thisV(x) = vals(y * w + x)
          thisY(x) = y
        } else if (lastY(x) != NoDataY && lastY(x) - y <= maxSearchDist) {
          thisV(x) = lastV(x)
          thisY(x) = lastY(x)
        } else {
          thisY(x) = NoDataY
        }
        x += 1
      }
      x = 0
      while (x < w) {
        if (!valid(y * w + x)) {
          // quadrants: 0 top-left, 1 bottom-left, 2 top-right, 3 bottom-right
          val quadDist = Array.fill(4)(maxSearchDist + 1.0)
          val quadValue = new Array[Double](4)
          var thisMax = nMaxSearchDist
          var step = 0
          while (step < thisMax) {
            val lx = math.max(0, x - step)
            val rx = math.min(w - 1, x + step)
            @inline def check(q: Int, tx: Int, ty: Int, tv: Float): Unit =
              if (ty != NoDataY) {
                val dx = (tx - x).toDouble
                val dy = (ty - y).toDouble
                val distSq = dx * dx + dy * dy
                if (distSq < quadDist(q) * quadDist(q)) {
                  quadDist(q) = math.sqrt(distSq)
                  quadValue(q) = tv
                }
              }
            check(0, lx, topDownY(y * w + lx), topDownV(y * w + lx))
            check(1, lx, lastY(lx), lastV(lx))
            if (step != 0) {
              check(2, rx, topDownY(y * w + rx), topDownV(y * w + rx))
              check(3, rx, lastY(rx), lastV(rx))
              if ((step & 0x3) == 0)
                thisMax = math.floor(math.max(math.max(quadDist(0), quadDist(1)),
                  math.max(quadDist(2), quadDist(3)))).toInt
            }
            step += 1
          }
          var weightSum = 0.0
          var valueSum = 0.0
          var q = 0
          while (q < 4) {
            if (quadDist(q) <= maxSearchDist) {
              val wgt = 1.0 / quadDist(q)
              weightSum += wgt
              valueSum += quadValue(q) * wgt
            }
            q += 1
          }
          if (weightSum > 0.0) out(y * w + x) = (valueSum / weightSum).toFloat
        }
        x += 1
      }
      System.arraycopy(thisY, 0, lastY, 0, w)
      System.arraycopy(thisV, 0, lastV, 0, w)
      y -= 1
    }
    out
  }

  /** One strip of float pixels + validity mask. */
  final case class FStrip(stripIdx: Int, yOff: Int, height: Int,
                          vals: Array[Float], valid: Array[Boolean])

  /** Distributed fill — exact result parity with [[fill]] on any strip
    * layout (asserted by FillNodataSpec).
    */
  def fillStrips(spark: SparkSession, strips: Dataset[FStrip], w: Int, h: Int,
                 maxSearchDist0: Double = 0.0): Dataset[FStrip] = {
    import spark.implicits._
    val maxSearchDist = if (maxSearchDist0 == 0.0) math.max(w, h) + 1.0 else maxSearchDist0
    val nMaxSearchDist = math.floor(maxSearchDist).toInt

    // Phase A: per-strip per-column summaries. Each column's payload packs
    // (row, floatBits(value)) into one Long: the down payload is the LAST
    // valid pixel (propagates to later strips), the up payload the FIRST
    // valid pixel (propagates to earlier strips).
    def edges(s: FStrip): StripScan.StripCols = {
      val first = Array.fill(w)(StripScan.Absent)
      val last = Array.fill(w)(StripScan.Absent)
      var r = 0
      while (r < s.height) {
        var x = 0
        while (x < w) {
          if (s.valid(r * w + x)) {
            val gy = s.yOff + r
            val packed = (gy.toLong << 32) |
              (java.lang.Float.floatToRawIntBits(s.vals(r * w + x)).toLong & 0xffffffffL)
            if (first(x) == StripScan.Absent) first(x) = packed
            last(x) = packed
          }
          x += 1
        }
        r += 1
      }
      StripScan.StripCols(last, first)
    }

    // Phase B: nearest valid pixel above / below each strip per column
    // ([[StripScan.scan]], nothing on the driver); Phase C: per-strip
    // materialization + quadrant interpolation
    StripScan.scan(strips, w, StripScan.Latest)(_.stripIdx, edges).map { case (s, in) =>
      val inAY = Array.fill(w)(-1); val inAV = new Array[Float](w)
      val inBY = Array.fill(w)(-1); val inBV = new Array[Float](w)
      var x = 0
      while (x < w) {
        val a = in.above(x)
        if (a != StripScan.Absent) {
          inAY(x) = (a >> 32).toInt
          inAV(x) = java.lang.Float.intBitsToFloat(a.toInt)
        }
        val b = in.below(x)
        if (b != StripScan.Absent) {
          inBY(x) = (b >> 32).toInt
          inBV(x) = java.lang.Float.intBitsToFloat(b.toInt)
        }
        x += 1
      }
      val hh = s.height
      // true nearest valid at-or-above each row (unchecked distance)
      val upY = new Array[Int](hh * w); val upV = new Array[Float](hh * w)
      val curY = inAY.clone(); val curV = inAV.clone()
      var r = 0
      while (r < hh) {
        var x = 0
        while (x < w) {
          if (s.valid(r * w + x)) { curY(x) = s.yOff + r; curV(x) = s.vals(r * w + x) }
          upY(r * w + x) = curY(x); upV(r * w + x) = curV(x)
          x += 1
        }
        r += 1
      }
      // true nearest valid at-or-below each row
      val dnY = new Array[Int](hh * w); val dnV = new Array[Float](hh * w)
      System.arraycopy(inBY, 0, curY, 0, w); System.arraycopy(inBV, 0, curV, 0, w)
      r = hh - 1
      while (r >= 0) {
        var x = 0
        while (x < w) {
          if (s.valid(r * w + x)) { curY(x) = s.yOff + r; curV(x) = s.vals(r * w + x) }
          dnY(r * w + x) = curY(x); dnV(r * w + x) = curV(x)
          x += 1
        }
        r -= 1
      }
      // materialized reference state per row:
      //   topDown(y)   = up, invalidated when y − upY > maxSearchDist
      //   bottomRead(y) = nearest valid ≥ y+1, invalidated vs y+1
      val out = s.vals.clone()
      val tdY = new Array[Int](w); val tdV = new Array[Float](w)
      val buY = new Array[Int](w); val buV = new Array[Float](w)
      r = 0
      while (r < hh) {
        val gy = s.yOff + r
        var x = 0
        while (x < w) {
          val uy = upY(r * w + x)
          if (uy != -1 && gy - uy <= maxSearchDist) { tdY(x) = uy; tdV(x) = upV(r * w + x) }
          else tdY(x) = NoDataY
          val by0 = if (r + 1 < hh) dnY((r + 1) * w + x) else inBY(x)
          val bv0 = if (r + 1 < hh) dnV((r + 1) * w + x) else inBV(x)
          if (by0 != -1 && by0 - (gy + 1) <= maxSearchDist) { buY(x) = by0; buV(x) = bv0 }
          else buY(x) = NoDataY
          x += 1
        }
        x = 0
        while (x < w) {
          if (!s.valid(r * w + x)) {
            val quadDist = Array.fill(4)(maxSearchDist + 1.0)
            val quadValue = new Array[Double](4)
            var thisMax = nMaxSearchDist
            var step = 0
            while (step < thisMax) {
              val lx = math.max(0, x - step)
              val rx = math.min(w - 1, x + step)
              @inline def check(q: Int, tx: Int, ty: Int, tv: Float): Unit =
                if (ty != NoDataY) {
                  val dx = (tx - x).toDouble
                  val dy = (ty - gy).toDouble
                  val distSq = dx * dx + dy * dy
                  if (distSq < quadDist(q) * quadDist(q)) {
                    quadDist(q) = math.sqrt(distSq)
                    quadValue(q) = tv
                  }
                }
              check(0, lx, tdY(lx), tdV(lx))
              check(1, lx, buY(lx), buV(lx))
              if (step != 0) {
                check(2, rx, tdY(rx), tdV(rx))
                check(3, rx, buY(rx), buV(rx))
                if ((step & 0x3) == 0)
                  thisMax = math.floor(math.max(math.max(quadDist(0), quadDist(1)),
                    math.max(quadDist(2), quadDist(3)))).toInt
              }
              step += 1
            }
            var weightSum = 0.0
            var valueSum = 0.0
            var q = 0
            while (q < 4) {
              if (quadDist(q) <= maxSearchDist) {
                val wgt = 1.0 / quadDist(q)
                weightSum += wgt
                valueSum += quadValue(q) * wgt
              }
              q += 1
            }
            if (weightSum > 0.0) out(r * w + x) = (valueSum / weightSum).toFloat
          }
          x += 1
        }
        r += 1
      }
      s.copy(vals = out)
    }
  }
}
