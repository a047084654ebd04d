package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}

/** Overview (pyramid) generation — 2× downsampling re-expressing
  * `/root/reference/gdal/gcore/overview.cpp:2261` GDALRegenerateOverviews:
  *  - AVERAGE: integer fast path `(total + 2) / 4` for full 2×2 blocks
  *    (`overview.cpp:355`), `total / count` truncation on partial edge
  *    blocks (`:392`)
  *  - NEAREST: top-left pixel of each block
  *  - MODE: most frequent value, ties to the first encountered scan-order
  *    value
  *
  * Distribution: requires strips aligned to even y (stripHeight % 2 == 0
  * except the last) so every 2×2 block lives inside one strip — each level
  * is then an embarrassingly-parallel map, and L levels chain maps with no
  * shuffle at all.
  */
object Overview {

  /** One strip of integer pixels: `bands` planes of `width × height`,
    * stored band-sequentially. Band `b` is `vals(b·plane until
    * (b+1)·plane)` with `plane = width · height`; within a plane, row-major.
    * Single-band operators read `bands = 1` (the whole of `vals`).
    */
  final case class IStrip(stripIdx: Int, yOff: Int, height: Int, width: Int, vals: Array[Int],
                          bands: Int = 1) {
    /** A copy of band `b`'s plane. */
    def band(b: Int): Array[Int] = {
      val plane = width * height
      java.util.Arrays.copyOfRange(vals, b * plane, (b + 1) * plane)
    }
  }

  /** Local row `r` of `s` as a one-row strip. */
  private[raster] def row(s: IStrip, r: Int): IStrip =
    IStrip(s.stripIdx, s.yOff + r, 1, s.width,
      java.util.Arrays.copyOfRange(s.vals, r * s.width, (r + 1) * s.width))

  sealed trait Resampler
  case object Average extends Resampler
  case object Nearest extends Resampler
  case object Mode extends Resampler

  /** Downsample one strip 2× (both axes). yOff must be even. */
  def downsampleStrip(s: IStrip, r: Resampler): IStrip = {
    require(s.yOff % 2 == 0, s"strip yOff ${s.yOff} not 2-aligned")
    val w = s.width
    val ow = (w + 1) / 2
    val oh = (s.height + 1) / 2
    val out = new Array[Int](ow * oh)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val x0 = ox * 2; val y0 = oy * 2
        val hasX1 = x0 + 1 < w
        val hasY1 = y0 + 1 < s.height
        val v: Int = r match {
          case Nearest => s.vals(y0 * w + x0)
          case Average =>
            if (hasX1 && hasY1) {
              val total = s.vals(y0 * w + x0) + s.vals(y0 * w + x0 + 1) +
                s.vals((y0 + 1) * w + x0) + s.vals((y0 + 1) * w + x0 + 1)
              (total + 2) / 4
            } else {
              var total = 0; var count = 0
              var dy = 0
              while (dy < 2) {
                var dx = 0
                while (dx < 2) {
                  if (x0 + dx < w && y0 + dy < s.height) {
                    total += s.vals((y0 + dy) * w + x0 + dx); count += 1
                  }
                  dx += 1
                }
                dy += 1
              }
              // reference Byte/UInt16 path rounds: (dfTotal + nCount/2) /
              // nCount (overview.cpp:390) — same rule as the full-block
              // (total+2)/4 fast path, not a truncating division
              (total + count / 2) / count
            }
          case Mode =>
            val cand = new scala.collection.mutable.LinkedHashMap[Int, Int]
            var dy = 0
            while (dy < 2) {
              var dx = 0
              while (dx < 2) {
                if (x0 + dx < w && y0 + dy < s.height) {
                  val p = s.vals((y0 + dy) * w + x0 + dx)
                  cand(p) = cand.getOrElse(p, 0) + 1
                }
                dx += 1
              }
              dy += 1
            }
            cand.maxBy(_._2)._1
        }
        out(oy * ow + ox) = v
        ox += 1
      }
      oy += 1
    }
    IStrip(s.stripIdx, s.yOff / 2, oh, ow, out)
  }

  /** AVERAGE_MAGPHASE 2× downsample of a complex strip — exact port of
    * `gcore/overview.cpp:1867`: average the real and imaginary parts
    * (float-cast, like the reference's float scanline), then rescale the
    * averaged vector so its magnitude equals the AVERAGE of the source
    * magnitudes (phases average through the vector sum, magnitude is
    * preserved explicitly).
    *
    * The strip is a CFloat32 slice: a [[Dem.DStrip]] with `bands = 2`,
    * band 0 the real and band 1 the imaginary plane, every value
    * float-representable. The output keeps that layout and every stored
    * value is a float widened to double.
    */
  def downsampleComplexMagPhase(s: Dem.DStrip): Dem.DStrip = {
    require(s.yOff % 2 == 0, s"strip yOff ${s.yOff} not 2-aligned")
    val plane = s.vals.length / 2
    val w = plane / s.height
    val ow = (w + 1) / 2
    val oh = (s.height + 1) / 2
    val out = new Array[Double](2 * ow * oh)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val x0 = ox * 2; val y0 = oy * 2
        var totalR = 0.0; var totalI = 0.0; var totalM = 0.0
        var count = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            if (x0 + dx < w && y0 + dy < s.height) {
              val r = s.vals((y0 + dy) * w + x0 + dx)
              val i = s.vals(plane + (y0 + dy) * w + x0 + dx)
              totalR += r; totalI += i
              totalM += math.sqrt(r * r + i * i)
              count += 1
            }
            dx += 1
          }
          dy += 1
        }
        // float casts mirror the reference's float dst scanline exactly
        var fr = (totalR / count).toFloat
        var fi = (totalI / count).toFloat
        val m = math.sqrt(fr.toDouble * fr + fi.toDouble * fi)
        val desiredM = totalM / count
        if (m != 0.0) {
          // reference: pafDst *= (float)dfRatio — a FLOAT multiply by the
          // float-cast ratio, not a double multiply rounded once
          val ratio = (desiredM / m).toFloat
          fr = fr * ratio
          fi = fi * ratio
        }
        out(oy * ow + ox) = fr.toDouble
        out(ow * oh + oy * ow + ox) = fi.toDouble
        ox += 1
      }
      oy += 1
    }
    Dem.DStrip(s.stripIdx, s.yOff / 2, oh, out, bands = 2)
  }

  /** One complex pyramid level (shuffle-free map) over CFloat32 strips
    * (`bands = 2`: re, im).
    */
  def levelComplexMagPhase(strips: Dataset[Dem.DStrip]): Dataset[Dem.DStrip] = {
    import strips.sparkSession.implicits._
    strips.map(downsampleComplexMagPhase)
  }

  /** One pyramid level over a strip Dataset (shuffle-free map). */
  def level(strips: Dataset[IStrip], r: Resampler): Dataset[IStrip] = {
    import strips.sparkSession.implicits._
    strips.map(downsampleStrip(_, r))
  }

  /** Full pyramid: returns levels 1..n (level 0 = input). */
  /** Best-overview substitution (`gcore/rasterio.cpp:2486`
    * GDALBandGetBestOverviewLevel2): the desired resolution is the
    * LEAST-reduced axis ratio (src pixels per buffer pixel); pick the
    * overview with the LARGEST resolution still below desired×1.2.
    * Returns −1 when no overview helps (read the base raster). At scale
    * this is the difference between scanning the full table of base tiles
    * and scanning a pyramid level ~factor² smaller for decimated reads,
    * histograms, and statistics (`gdalrasterband.cpp:2683` GetHistogram
    * takes the same path).
    *
    * @param levels (width, height) of each overview, finest first
    */
  def bestOverviewLevel(baseW: Int, baseH: Int, levels: Seq[(Int, Int)],
                        srcW: Int, srcH: Int, bufW: Int, bufH: Int): Int = {
    val desired =
      if (srcW.toDouble / bufW < srcH.toDouble / bufH || bufH == 1)
        srcW.toDouble / bufW
      else srcH.toDouble / bufH
    var best = -1
    var bestRes = 0.0
    var i = 0
    while (i < levels.length) {
      val (w, h) = levels(i)
      val res =
        if (baseW.toDouble / w < baseH.toDouble / h) baseW.toDouble / w
        else baseH.toDouble / h
      if (!(res >= desired * 1.2 || res <= bestRes)) { best = i; bestRes = res }
      i += 1
    }
    best
  }

  /** Decimated read with overview substitution: nearest-resize served from
    * the best pyramid level instead of the base raster (the
    * RasterIOResampled-over-overviews path, `gcore/rasterio.cpp:213`).
    * Falls back to the base when no level qualifies.
    */
  def resizeWithPyramid(base: Dataset[IStrip], baseW: Int, baseH: Int,
                        pyramidLevels: Seq[(Dataset[IStrip], Int, Int)],
                        dstW: Int, dstH: Int): (Dataset[IStrip], Int) = {
    val lvl = bestOverviewLevel(baseW, baseH,
      pyramidLevels.map(l => (l._2, l._3)), baseW, baseH, dstW, dstH)
    if (lvl < 0)
      (Translate.resizeNearest(base, baseW, baseH, dstW, dstH), -1)
    else {
      val (ds, w, h) = pyramidLevels(lvl)
      (Translate.resizeNearest(ds, w, h, dstW, dstH), lvl)
    }
  }

  def pyramid(strips: Dataset[IStrip], nLevels: Int, r: Resampler): Seq[Dataset[IStrip]] = {
    var cur = strips
    (1 to nLevels).map { _ =>
      cur = level(cur, r)
      cur
    }
  }

  // ------------------------------------------------------------------
  // GAUSS (exact port) and convolution resamplers (CUBIC / CUBICSPLINE /
  // LANCZOS via the shared warp kernels — an overview IS a 2× affine warp)
  // ------------------------------------------------------------------

  /** GAUSS 2× level — exact port of GDALResampleChunk32R_Gauss
    * (`/root/reference/gdal/gcore/overview.cpp:521`): for the 2× ratio the
    * 3×3 binomial window anchors at (2ox, 2oy), clips at the raster
    * bounds, and normalizes by the used-weight sum; byte output via the
    * CopyWords float→byte rounding. Needs one halo row below each strip
    * (window rows 2oy..2oy+2) — exchanged by shuffle.
    */
  def levelGauss(spark: SparkSession, strips: Dataset[IStrip], w: Int, h: Int): Dataset[IStrip] = {
    import spark.implicits._
    StripScan.halo(strips, above = false, below = true)(_.stripIdx, _.height, row)
      .map { case (strip, _, down) =>
        require(strip.yOff % 2 == 0, s"strip yOff ${strip.yOff} not 2-aligned")
        val below = down.map(_.vals).orNull
        val ow = (w + 1) / 2
        val oh = (strip.height + 1) / 2
        val weights = Array(1, 2, 1)
        @inline def v(gy: Int, x: Int): Int = {
          val ly = gy - strip.yOff
          if (ly < strip.height) strip.vals(ly * w + x) else below(x)
        }
        val out = new Array[Int](ow * oh)
        var oy = 0
        while (oy < oh) {
          val gy0 = strip.yOff + oy * 2
          val yEnd = math.min(gy0 + 3, h)
          var ox = 0
          while (ox < ow) {
            val x0 = ox * 2
            val xEnd = math.min(x0 + 3, w)
            var total = 0L; var count = 0L
            var gy = gy0
            while (gy < yEnd) {
              val wy = weights(gy - gy0)
              var x = x0
              while (x < xEnd) {
                val wt = wy * weights(x - x0)
                total += v(gy, x).toLong * wt
                count += wt
                x += 1
              }
              gy += 1
            }
            out(oy * ow + ox) = Translate.toByte(total.toDouble / count)
            ox += 1
          }
          oy += 1
        }
        IStrip(strip.stripIdx, strip.yOff / 2, oh, ow, out)
      }
  }

  /** Convolution 2× level: delegates to the warp kernel family with a
    * 2× affine dst grid — the anti-aliasing filter scale (0.5) and the
    * edge-clipped normalization come from the shared
    * [[Warp.generalResample]] path. Byte output via CopyWords rounding.
    */
  def levelConvolution(spark: SparkSession, strips: Dataset[IStrip], w: Int, h: Int,
                       kernel: Warp.Kernel): Dataset[IStrip] = {
    import spark.implicits._
    val ow = (w + 1) / 2
    val oh = (h + 1) / 2
    val d = strips.map(s => Dem.DStrip(s.stripIdx, s.yOff, s.height,
      s.vals.map(_.toDouble)))
    val srcGt = graft.core.GeoTransform.northUp(0, h, 1, 1)
    val dstGt = graft.core.GeoTransform.northUp(0, h, 2, 2)
    Warp.warp(spark, d, w, h, srcGt,
        Warp.DstSpec(ow, oh, dstGt, stripHeight = math.max(1, oh / math.max(1, 4))),
        kernel = kernel, noData = 0.0)
      .map(st => IStrip(st.stripIdx, st.yOff, st.height, ow,
        st.vals.map(Translate.toByte)))
  }

  /** Local Gauss reference for tests (same math, whole raster). */
  def gaussLocal(vals: Array[Int], w: Int, h: Int): (Array[Int], Int, Int) = {
    val ow = (w + 1) / 2; val oh = (h + 1) / 2
    val weights = Array(1, 2, 1)
    val out = new Array[Int](ow * oh)
    for (oy <- 0 until oh; ox <- 0 until ow) {
      val y0 = oy * 2; val x0 = ox * 2
      var total = 0L; var count = 0L
      for (y <- y0 until math.min(y0 + 3, h); x <- x0 until math.min(x0 + 3, w)) {
        val wt = weights(y - y0) * weights(x - x0)
        total += vals(y * w + x).toLong * wt
        count += wt
      }
      out(oy * ow + ox) = Translate.toByte(total.toDouble / count)
    }
    (out, ow, oh)
  }

  /** Single-node reference for tests. */
  def downsampleLocal(vals: Array[Int], w: Int, h: Int, r: Resampler): (Array[Int], Int, Int) = {
    val s = downsampleStrip(IStrip(0, 0, h, w, vals), r)
    (s.vals, s.width, s.height)
  }
}
