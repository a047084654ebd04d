package graft.raster

import org.apache.spark.sql.Dataset
import graft.raster.Overview.IStrip

/** gdal_translate semantics over strip datasets
  * (`/root/reference/gdal/apps/gdal_translate_lib.cpp:522-625`):
  * `-srcwin` sub-window, `-outsize` nearest-neighbor decimation /
  * replication (the default RasterIO path samples src pixel
  * `floor((dst + 0.5) * srcSize / dstSize)`), `-scale` linear rescale, and
  * `-ot` type conversion with GDALCopyWords rounding
  * (`gdal/gcore/gdal_priv_templates.hpp:156-273`: unsigned destinations
  * clamp(v + 0.5) then truncate; signed destinations round half away
  * from zero — note the CHECKSUM float path (`alg/gdalchecksum.cpp:110`)
  * instead hard-codes floor(v+0.5) clamped at ±2147483647, which
  * Checksum.scala mirrors separately).
  */
object Translate {

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.raster.Translate")

  /** GDALCopyWords double→Byte: clamp(v+0.5, 0, 255), truncate. */
  def toByte(v: Double): Int = {
    val s = v + 0.5
    if (s < 0) 0 else if (s > 255) 255 else s.toInt
  }

  /** GDALCopyWord double→GInt16 (`gdal_priv_templates.hpp:247-255`):
    * signed destinations round half AWAY from zero, then C-cast truncate.
    */
  def toInt16(v: Double): Int = {
    val s = if (v > 0) v + 0.5 else v - 0.5
    if (s < -32768) -32768 else if (s > 32767) 32767 else s.toInt
  }

  def toUInt16(v: Double): Int = {
    val s = v + 0.5
    if (s < 0) 0 else if (s > 65535) 65535 else s.toInt
  }

  /** double→int (`gdal_priv_templates.hpp:237-245`): symmetric rounding,
    * clamp at int min/max, truncate.
    */
  def toInt32(v: Double): Int = {
    val s = if (v >= 0) v + 0.5 else v - 0.5
    if (s < -2147483648.0) -2147483648 else if (s > 2147483647.0) 2147483647
    else s.toInt
  }

  /** `-scale src_min src_max dst_min dst_max` linear mapping. */
  def scaleFn(srcMin: Double, srcMax: Double, dstMin: Double, dstMax: Double): Double => Double = {
    val ratio = (dstMax - dstMin) / (srcMax - srcMin)
    v => (v - srcMin) * ratio + dstMin
  }

  /** Nearest source index for `-outsize` resampling (RasterIO default). */
  @inline def srcIndex(dst: Int, srcSize: Int, dstSize: Int): Int = {
    val i = math.floor((dst + 0.5) * srcSize.toDouble / dstSize).toInt
    if (i >= srcSize) srcSize - 1 else i
  }

  /** Sub-window extraction: keeps only pixels in
    * [x0, x0+w) × [y0, y0+h), re-origined to (0,0). Strips not
    * intersecting the window disappear; strip indices are re-derived from
    * the new yOff so downstream ops see a dense strip set.
    */
  def srcWin(strips: Dataset[IStrip], x0: Int, y0: Int, w: Int, h: Int): Dataset[IStrip] = {
    import strips.sparkSession.implicits._
    require(w > 0 && h > 0, s"srcWin: non-positive window ${w}x$h")
    val kept = strips.filter(s => s.yOff + s.height > y0 && s.yOff < y0 + h)
    // one tiny agg: the window clips strips but never splits them, so the
    // kept strips are a contiguous run of the original dense indices —
    // subtracting the first kept index re-derives a DENSE 0..n-1 set
    // (downstream boundary merges require contiguity); also fetch the
    // raster width once for x validation
    val head = kept.groupBy().agg(
      org.apache.spark.sql.functions.min("stripIdx"),
      org.apache.spark.sql.functions.min("width")).collect()
    if (head.isEmpty || head(0).isNullAt(0))
      return strips.sparkSession.emptyDataset[IStrip]
    val minIdx = head(0).getInt(0)
    val srcW = head(0).getInt(1)
    require(x0 + w > 0 && x0 < srcW,
      s"srcWin: x window [$x0, ${x0 + w}) falls completely outside raster width $srcW")
    if (x0 < 0 || x0 + w > srcW)
      log.warn(s"srcWin: window [$x0,${x0 + w}) partially outside " +
        s"raster width $srcW; out-of-extent pixels are zero-filled. Going on however.")
    strips.flatMap { s =>
      val top = math.max(s.yOff, y0)
      val bot = math.min(s.yOff + s.height, y0 + h)
      if (bot <= top) Iterator.empty
      else {
        val rows = bot - top
        val out = new Array[Int](rows * w)
        var r = 0
        while (r < rows) {
          val srcRow = top - s.yOff + r
          var c = 0
          while (c < w) {
            val sx = x0 + c
            // out-of-extent columns stay zero (reference fill) instead of
            // silently wrapping into the neighbouring row
            if (sx >= 0 && sx < s.width) out(r * w + c) = s.vals(srcRow * s.width + sx)
            c += 1
          }
          r += 1
        }
        Iterator.single(IStrip(s.stripIdx - minIdx, top - y0, rows, w, out))
      }
    }
  }

  /** `-projwin ulx uly lrx lry` (`apps/gdal_translate_lib.cpp:726`):
    * georeferenced window → fractional source window through the (north-up,
    * unrotated — same restriction as the reference) geotransform, output
    * size `ceil(w−0.001) × ceil(h−0.001)` (`:877`), pixels sampled nearest
    * at destination centers (the VRT SimpleSource convention the reference
    * reads the fractional window with). Throws when the window has
    * non-positive size, like the reference's "Verify source window".
    *
    * @return (windowed strips, output width, output height, output
    *         geotransform anchored at the requested UL corner)
    */
  def projWin(strips: Dataset[IStrip], srcW: Int, srcH: Int,
              gt: graft.core.GeoTransform,
              ulx: Double, uly: Double, lrx: Double, lry: Double)
      : (Dataset[IStrip], Int, Int, graft.core.GeoTransform) = {
    require(gt.gt2 == 0.0 && gt.gt4 == 0.0,
      "-projwin requires an unrotated geotransform (reference parity)")
    val wx0 = (ulx - gt.gt0) / gt.gt1
    val wy0 = (uly - gt.gt3) / gt.gt5
    val ww = (lrx - ulx) / gt.gt1
    val wh = (lry - uly) / gt.gt5
    require(ww > 0 && wh > 0, s"-projwin window is empty ($ww x $wh px)")
    // reference parity ("Verify source window", gdal_translate_lib.cpp):
    // a window entirely outside the raster is an error; a partial overlap
    // is a warning and the uncovered area is fill-valued
    require(wx0 + ww > 0 && wy0 + wh > 0 && wx0 < srcW && wy0 < srcH,
      f"-projwin: computed source window $wx0%.1f $wy0%.1f $ww%.1f $wh%.1f " +
        s"falls completely outside raster extent (${srcW}x$srcH)")
    if (wx0 < 0 || wy0 < 0 || wx0 + ww > srcW || wy0 + wh > srcH)
      log.warn(
        f"projWin: computed -srcwin $wx0%.1f $wy0%.1f $ww%.1f " +
          f"$wh%.1f falls partially outside raster extent. Going on however.")
    val ow = math.ceil(ww - 0.001).toInt
    val oh = math.ceil(wh - 0.001).toInt
    val stripH = 256
    import strips.sparkSession.implicits._
    // dst (ox, oy) ← nearest src pixel at the dst-center position within
    // the fractional window
    val rows = strips.flatMap { s =>
      val out = Seq.newBuilder[(Int, Int, Array[Int])] // (oy, sy, row)
      var oy = 0
      while (oy < oh) {
        val sy = math.floor(wy0 + (oy + 0.5) * wh / oh).toInt
        if (sy >= s.yOff && sy < s.yOff + s.height && sy >= 0 && sy < srcH) {
          out += ((oy, sy, java.util.Arrays.copyOfRange(s.vals,
            (sy - s.yOff) * s.width, (sy - s.yOff + 1) * s.width)))
        }
        oy += 1
      }
      out.result().iterator
    }
    // sentinel row (sy = -1) per dst strip block so a block whose rows all
    // fall outside the source still materializes as a fill-valued IStrip
    // instead of silently missing from the output
    val nBlocks = (oh + stripH - 1) / stripH
    val sentinels = strips.sparkSession
      .createDataset((0 until nBlocks).map(b => (b * stripH, -1, Array.empty[Int])))
    val ds = rows.union(sentinels).groupByKey(_._1 / stripH).mapGroups { (st, it) =>
      val byOy: Map[Int, Array[Int]] =
        it.filter(_._2 >= 0).map(t => t._1 -> t._3).toMap
      val y0 = st * stripH
      val hh = math.min(stripH, oh - y0)
      val out = new Array[Int](hh * ow)
      var r = 0
      while (r < hh) {
        byOy.get(y0 + r).foreach { row =>
          var ox = 0
          while (ox < ow) {
            val sx = math.floor(wx0 + (ox + 0.5) * ww / ow).toInt
            if (sx >= 0 && sx < srcW) out(r * ow + ox) = row(sx)
            ox += 1
          }
        }
        r += 1
      }
      IStrip(st, y0, hh, ow, out)
    }
    val outGt = graft.core.GeoTransform(ulx, gt.gt1 * ww / ow, 0.0,
      uly, 0.0, gt.gt5 * wh / oh)
    (ds, ow, oh, outGt)
  }

  /** `-outsize` nearest resize of the whole raster. Each DST strip gathers
    * the SRC rows it samples via a row-range overlap join (flatMap of src
    * rows to dst strips), so nothing is centralized.
    */
  def resizeNearest(strips: Dataset[IStrip], srcW: Int, srcH: Int,
                    dstW: Int, dstH: Int, dstStripH: Int = 256): Dataset[IStrip] = {
    import strips.sparkSession.implicits._
    val nDst = (dstH + dstStripH - 1) / dstStripH
    // src row -> list of dst rows sampling it (precomputed small map)
    val dstRowForSrc: Array[Int] = Array.tabulate(dstH)(dy => srcIndex(dy, srcH, dstH))
    // ship each needed src row to the dst strips that sample it
    val rows = strips.flatMap { s =>
      val out = Seq.newBuilder[(Int, Int, Array[Int])] // (dstStrip, srcRow, rowVals)
      val emitted = scala.collection.mutable.HashSet[(Int, Int)]()
      for (dy <- 0 until dstH) {
        val sy = dstRowForSrc(dy)
        if (sy >= s.yOff && sy < s.yOff + s.height) {
          val st = dy / dstStripH
          if (emitted.add((st, sy))) {
            val row = java.util.Arrays.copyOfRange(s.vals,
              (sy - s.yOff) * s.width, (sy - s.yOff + 1) * s.width)
            out += ((st, sy, row))
          }
        }
      }
      out.result().iterator
    }
    rows.groupByKey(_._1).mapGroups { (st, it) =>
      val srcRows: Map[Int, Array[Int]] = it.map(t => t._2 -> t._3).toMap
      val y0 = st * dstStripH
      val hh = math.min(dstStripH, dstH - y0)
      val out = new Array[Int](hh * dstW)
      var r = 0
      while (r < hh) {
        val srcRow = srcRows(dstRowForSrc(y0 + r))
        var c = 0
        while (c < dstW) {
          out(r * dstW + c) = srcRow(srcIndex(c, srcW, dstW))
          c += 1
        }
        r += 1
      }
      IStrip(st, y0, hh, dstW, out)
    }
  }

  /** Map every pixel through a scale function + CopyWords byte rounding. */
  def scaleToByte(strips: Dataset[IStrip], srcMin: Double, srcMax: Double,
                  dstMin: Double = 0, dstMax: Double = 255): Dataset[IStrip] = {
    import strips.sparkSession.implicits._
    val f = scaleFn(srcMin, srcMax, dstMin, dstMax)
    strips.map(s => s.copy(vals = s.vals.map(v => toByte(f(v)))))
  }

  /** `-outsize -r <kernel>` resampled resize: the RasterIO resampled path
    * maps dst centers to src px `(dst + 0.5) · srcSize / dstSize`, which is
    * exactly a scaling affine warp — composed from the shared warp kernels
    * (Bilinear/Cubic/CubicSpline/Lanczos/Average/Mode/…). Output values
    * convert with CopyWords rounding (`convert`, byte by default).
    */
  def resizeResampled(strips: Dataset[IStrip], srcW: Int, srcH: Int,
                      dstW: Int, dstH: Int, kernel: Warp.Kernel,
                      dstStripH: Int = 256,
                      convert: Double => Int = toByte): Dataset[IStrip] = {
    import strips.sparkSession.implicits._
    val spark = strips.sparkSession
    val d = strips.map(s => Dem.DStrip(s.stripIdx, s.yOff, s.height,
      s.vals.map(_.toDouble)))
    val srcGt = graft.core.GeoTransform.northUp(0, srcH, 1, 1)
    val dstGt = graft.core.GeoTransform.northUp(0, srcH,
      srcW.toDouble / dstW, srcH.toDouble / dstH)
    Warp.warp(spark, d, srcW, srcH, srcGt,
        Warp.DstSpec(dstW, dstH, dstGt, stripHeight = dstStripH),
        kernel = kernel, noData = 0.0)
      .map(st => IStrip(st.stripIdx, st.yOff, st.height, dstW,
        st.vals.map(convert)))
  }

  /** `-expand rgb`: paletted single band → RGB planes via the color table
    * (`gdal_translate_lib.cpp` -expand; a pure per-pixel LUT map, fully
    * parallel). Out-of-range indices map to (0,0,0) like a missing entry.
    * Returns strips with `bands = 3` (red, green, blue), the layout
    * [[Palette]]'s distributed entries read.
    */
  def expandRgb(strips: Dataset[IStrip], palette: Array[Palette.Color]): Dataset[IStrip] = {
    import strips.sparkSession.implicits._
    strips.map { s =>
      val n = s.vals.length
      val rgb = new Array[Int](3 * n)
      var i = 0
      while (i < n) {
        val idx = s.vals(i)
        if (idx >= 0 && idx < palette.length) {
          rgb(i) = palette(idx).r; rgb(n + i) = palette(idx).g; rgb(2 * n + i) = palette(idx).b
        }
        i += 1
      }
      IStrip(s.stripIdx, s.yOff, s.height, s.width, rgb, bands = 3)
    }
  }
}
