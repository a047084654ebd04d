package graft.raster

import scala.jdk.CollectionConverters._
import graft.raster.Overview.IStrip

/** RGB→paletted conversion: median-cut color quantization + Floyd-
  * Steinberg-style dithering. Faithful ports of
  * `/root/reference/gdal/alg/gdalmediancut.cpp:282`
  * GDALComputeMedianCutPCT (nBits=5 histogram, box split at median along
  * the widest axis, shrink-to-content, head-prepended box list order) and
  * `gdal/alg/gdaldither.cpp:140` GDALDitherRGB2PCT (5-bit nearest-color
  * lookup cube, one-line error buffer with the 1/6-weighted diffusion).
  * Golden gate: rgbsmall.tif → 8 colors + checksum 8803
  * (`autotest/alg/dither.py:66-77`).
  *
  * Distributed entries read [[Overview.IStrip]]s with `bands = 3`: band 0
  * red, band 1 green, band 2 blue, 8-bit values.
  */
object Palette {

  private final val Bits = 5
  private final val CLevels = 1 << Bits // 32
  private final val Shift = 8 - Bits

  final case class Color(r: Int, g: Int, b: Int)

  private final class Box {
    var rmin = 999; var gmin = 999; var bmin = 999
    var rmax = -1; var gmax = -1; var bmax = -1
    var total = 0L
  }

  @inline private def hidx(r: Int, g: Int, b: Int): Int = (r * CLevels + g) * CLevels + b

  /** Median-cut PCT of 8-bit RGB planes. */
  def medianCut(red: Array[Int], green: Array[Int], blue: Array[Int],
                nColors: Int): Array[Color] = {
    val n = red.length
    val hist = new Array[Int](CLevels * CLevels * CLevels)
    var i = 0
    while (i < n) {
      hist(hidx(red(i) >> Shift, green(i) >> Shift, blue(i) >> Shift)) += 1
      i += 1
    }
    medianCutFromHist(hist, n.toLong, nColors)
  }

  /** Median-cut over a prebuilt 5-bit histogram — the distributed entry:
    * the histogram is the only global state the algorithm needs, so
    * executors aggregate partial histograms and the ≤2^15-box splitting
    * runs wherever (it is O(colors·cube) regardless of raster size). The
    * first box's bounds derive from the non-empty bins (identical to the
    * per-pixel min/max scan).
    */
  def medianCutFromHist(hist: Array[Int], total: Long, nColors: Int): Array[Color] = {
    val used = new scala.collection.mutable.ListBuffer[Box]
    val first = new Box
    first.total = total
    used.prepend(first)
    var freeCount = nColors - 1

    var r = 0
    while (r < CLevels) {
      var g = 0
      while (g < CLevels) {
        var b = 0
        while (b < CLevels) {
          if (hist(hidx(r, g, b)) != 0) {
            if (r < first.rmin) first.rmin = r
            if (g < first.gmin) first.gmin = g
            if (b < first.bmin) first.bmin = b
            if (r > first.rmax) first.rmax = r
            if (g > first.gmax) first.gmax = g
            if (b > first.bmax) first.bmax = b
          }
          b += 1
        }
        g += 1
      }
      r += 1
    }

    def largest: Box = {
      var best: Box = null
      used.foreach { p =>
        if ((p.rmax > p.rmin || p.gmax > p.gmin || p.bmax > p.bmin) &&
            (best == null || p.total > best.total)) best = p
      }
      best
    }

    def shrink(box: Box): Unit = {
      // six directional scans, each exiting at the first non-empty slice
      def any(rLo: Int, rHi: Int, gLo: Int, gHi: Int, bLo: Int, bHi: Int): Boolean = {
        var r = rLo
        while (r <= rHi) {
          var g = gLo
          while (g <= gHi) {
            var b = bLo
            while (b <= bHi) {
              if (hist(hidx(r, g, b)) != 0) return true
              b += 1
            }
            g += 1
          }
          r += 1
        }
        false
      }
      if (box.rmax > box.rmin) {
        var r = box.rmin
        while (r <= box.rmax && !any(r, r, box.gmin, box.gmax, box.bmin, box.bmax)) r += 1
        if (r <= box.rmax) box.rmin = r
      }
      if (box.rmax > box.rmin) {
        var r = box.rmax
        while (r >= box.rmin && !any(r, r, box.gmin, box.gmax, box.bmin, box.bmax)) r -= 1
        if (r >= box.rmin) box.rmax = r
      }
      if (box.gmax > box.gmin) {
        var g = box.gmin
        while (g <= box.gmax && !any(box.rmin, box.rmax, g, g, box.bmin, box.bmax)) g += 1
        if (g <= box.gmax) box.gmin = g
      }
      if (box.gmax > box.gmin) {
        var g = box.gmax
        while (g >= box.gmin && !any(box.rmin, box.rmax, g, g, box.bmin, box.bmax)) g -= 1
        if (g >= box.gmin) box.gmax = g
      }
      if (box.bmax > box.bmin) {
        var b = box.bmin
        while (b <= box.bmax && !any(box.rmin, box.rmax, box.gmin, box.gmax, b, b)) b += 1
        if (b <= box.bmax) box.bmin = b
      }
      if (box.bmax > box.bmin) {
        var b = box.bmax
        while (b >= box.bmin && !any(box.rmin, box.rmax, box.gmin, box.gmax, b, b)) b -= 1
        if (b >= box.bmin) box.bmax = b
      }
    }

    def split(ptr: Box): Unit = {
      val rSpread = ptr.rmax - ptr.rmin
      val gSpread = ptr.gmax - ptr.gmin
      val bSpread = ptr.bmax - ptr.bmin
      // axis: RED >= GREEN >= BLUE tie order, as the reference
      val axis = if (rSpread >= gSpread && rSpread >= bSpread) 0
        else if (gSpread >= bSpread) 1 else 2
      val (firstI, lastI) = axis match {
        case 0 => (ptr.rmin, ptr.rmax)
        case 1 => (ptr.gmin, ptr.gmax)
        case _ => (ptr.bmin, ptr.bmax)
      }
      val hist2 = new Array[Long](256)
      var r = ptr.rmin
      while (r <= ptr.rmax) {
        var g = ptr.gmin
        while (g <= ptr.gmax) {
          var b = ptr.bmin
          while (b <= ptr.bmax) {
            val c = hist(hidx(r, g, b))
            axis match {
              case 0 => hist2(r) += c
              case 1 => hist2(g) += c
              case _ => hist2(b) += c
            }
            b += 1
          }
          g += 1
        }
        r += 1
      }
      // median point (reference loop semantics)
      val sum2 = ptr.total / 2
      var sum = 0L
      var i2 = firstI
      var done = false
      while (!done && i2 <= lastI) {
        sum += hist2(i2)
        if (sum < sum2) i2 += 1 else done = true
      }
      if (i2 == firstI) i2 += 1

      val newBox = new Box
      used.prepend(newBox)
      freeCount -= 1
      var sum1 = 0L; var sumRest = 0L
      var j = firstI
      while (j < i2) { sum1 += hist2(j); j += 1 }
      while (j <= lastI) { sumRest += hist2(j); j += 1 }
      newBox.total = sum1
      ptr.total = sumRest
      newBox.rmin = ptr.rmin; newBox.rmax = ptr.rmax
      newBox.gmin = ptr.gmin; newBox.gmax = ptr.gmax
      newBox.bmin = ptr.bmin; newBox.bmax = ptr.bmax
      axis match {
        case 0 => newBox.rmax = i2 - 1; ptr.rmin = i2
        case 1 => newBox.gmax = i2 - 1; ptr.gmin = i2
        case _ => newBox.bmax = i2 - 1; ptr.bmin = i2
      }
      shrink(newBox)
      shrink(ptr)
    }

    var continue = true
    while (freeCount > 0 && continue) {
      val ptr = largest
      if (ptr == null) continue = false
      else split(ptr)
    }

    used.map { box =>
      Color(((box.rmin + box.rmax) << Shift) / 2,
        ((box.gmin + box.gmax) << Shift) / 2,
        ((box.bmin + box.bmax) << Shift) / 2)
    }.toArray
  }

  @inline private def nearest(pct: Array[Color], r: Int, g: Int, b: Int): Int = {
    var bestDist = 768; var bestIdx = 0
    var i = 0
    while (i < pct.length) {
      val d = math.abs(r - pct(i).r) + math.abs(g - pct(i).g) + math.abs(b - pct(i).b)
      if (d < bestDist) { bestDist = d; bestIdx = i }
      i += 1
    }
    bestIdx
  }

  /** Floyd-Steinberg-style dither to palette indices (reference error
    * weights: 1/6 up-left-carry scheme over a single error line).
    */
  def dither(red: Array[Int], green: Array[Int], blue: Array[Int],
             w: Int, h: Int, pct: Array[Color]): Array[Int] =
    ditherChunk(Array.concat(red, green, blue), w, h, pct, buildColorMap(pct),
      new Array[Int]((w + 2) * 3))

  // ------------------------------------------------------------------
  // Distributed entry points
  // ------------------------------------------------------------------

  /** Distributed median-cut: per-partition partial 32³ histograms reduced
    * to one (2^15 ints — tiny), box splitting on the driver. The only
    * full-raster pass is the embarrassingly-parallel histogram.
    */
  def medianCutStrips(strips: org.apache.spark.sql.Dataset[IStrip],
                      nColors: Int): Array[Color] = {
    import strips.sparkSession.implicits._
    val agg = strips.mapPartitions { it =>
      val hist = new Array[Int](CLevels * CLevels * CLevels)
      var total = 0L
      it.foreach { s =>
        var i = 0
        val n = s.width * s.height
        while (i < n) {
          hist(hidx(s.vals(i) >> Shift, s.vals(n + i) >> Shift, s.vals(2 * n + i) >> Shift)) += 1
          i += 1
        }
        total += n
      }
      if (total == 0L) Iterator.empty else Iterator.single((hist, total))
    }.reduce { (a, b) =>
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    medianCutFromHist(agg._1, agg._2, nColors)
  }

  /** Floyd-Steinberg dithering is a strict scanline recurrence: every row's
    * output depends on the previous row's error line, so the scan itself
    * cannot fan out (true of the reference too — GDALDitherRGB2PCT is one
    * sequential pass). This entry streams strips through the driver IN
    * ORDER carrying only the O(width) error line and yields dithered strips
    * one at a time — memory stays O(strip), and the expensive global stages
    * (histogram, color table, the 32³ nearest-color map) are distributed/
    * precomputed. Returns an iterator so callers can stream results to a
    * sink without materializing the raster.
    */
  def ditherStripsStreamed(strips: org.apache.spark.sql.Dataset[IStrip],
                           pct: Array[Color]): Iterator[(Int, Int, Array[Int])] = {
    val colorMap = buildColorMap(pct)
    val ordered = strips.orderBy(org.apache.spark.sql.functions.col("stripIdx"))
    var errLine: Array[Int] = null
    ordered.toLocalIterator().asScala.map { s =>
      if (errLine == null) errLine = new Array[Int]((s.width + 2) * 3)
      val out = ditherChunk(s.vals, s.width, s.height, pct, colorMap, errLine)
      (s.stripIdx, s.yOff, out)
    }
  }

  /** The 5-bit nearest-color cube (pabyColorMap path), shared by the
    * local and streamed dither.
    */
  private[raster] def buildColorMap(pct: Array[Color]): Array[Int] = {
    val colorMap = new Array[Int](CLevels * CLevels * CLevels)
    var ib = 0
    while (ib < CLevels) {
      var ig = 0
      while (ig < CLevels) {
        var ir = 0
        while (ir < CLevels) {
          colorMap(ir + ig * CLevels + ib * CLevels * CLevels) =
            nearest(pct, ir * 255 / (CLevels - 1), ig * 255 / (CLevels - 1),
              ib * 255 / (CLevels - 1))
          ir += 1
        }
        ig += 1
      }
      ib += 1
    }
    colorMap
  }

  /** Dither a chunk of rows, mutating `err` (the carried error line) so
    * consecutive chunks chain exactly like one continuous scan. `rgb` holds
    * the red, green and blue planes of `w × h` back to back.
    */
  private[raster] def ditherChunk(rgb: Array[Int], w: Int, h: Int, pct: Array[Color],
                                  colorMap: Array[Int], err: Array[Int]): Array[Int] = {
    val plane = w * h
    val out = new Array[Int](plane)
    val lineR = new Array[Int](w)
    val lineG = new Array[Int](w)
    val lineB = new Array[Int](w)
    @inline def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    var y = 0
    while (y < h) {
      var i = 0
      while (i < w) {
        lineR(i) = clamp(rgb(y * w + i) + err(i * 3 + 3))
        lineG(i) = clamp(rgb(plane + y * w + i) + err(i * 3 + 4))
        lineB(i) = clamp(rgb(2 * plane + y * w + i) + err(i * 3 + 5))
        i += 1
      }
      java.util.Arrays.fill(err, 0)
      var lastR = 0; var lastG = 0; var lastB = 0
      i = 0
      while (i < w) {
        val r = clamp(lineR(i) + lastR)
        val g = clamp(lineG(i) + lastG)
        val b = clamp(lineB(i) + lastB)
        val idx = colorMap((r * CLevels / 256) + (g * CLevels / 256) * CLevels +
          (b * CLevels / 256) * CLevels * CLevels)
        out(y * w + i) = idx
        var e = r - pct(idx).r
        var sixth = e / 6
        err(i * 3) += sixth; err(i * 3 + 6) = sixth; err(i * 3 + 3) += e - 5 * sixth
        lastR = 2 * sixth
        e = g - pct(idx).g
        sixth = e / 6
        err(i * 3 + 1) += sixth; err(i * 3 + 7) = sixth; err(i * 3 + 4) += e - 5 * sixth
        lastG = 2 * sixth
        e = b - pct(idx).b
        sixth = e / 6
        err(i * 3 + 2) += sixth; err(i * 3 + 8) = sixth; err(i * 3 + 5) += e - 5 * sixth
        lastB = 2 * sixth
        i += 1
      }
      y += 1
    }
    out
  }
}
