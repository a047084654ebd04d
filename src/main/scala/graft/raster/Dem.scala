package graft.raster

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.GeoTransform

/** DEM derivatives — 3×3 neighborhood kernels re-expressing
  * `/root/reference/gdal/apps/gdaldem_lib.cpp`:
  *  - hillshade, Horn gradient (`:476` GDALHillshadeAlg) with the
  *    precomputed constants of GDALCreateHillshadeData (`:608-629`)
  *  - slope, Horn (`:644` GDALSlopeHornAlg; degrees or percent)
  *  - aspect (`:708` GDALAspectAlg; azimuth or trigonometric angle)
  *  - TRI (`:1881`), TPI (`:1902`), roughness (`:1924`)
  *  - color-relief (`:930` GDALColorReliefGetRGBA: sorted LUT, linear
  *    interpolation with the 0.45 rounding bias, EXACT/NEAREST modes)
  *
  * Distribution: strips with a one-row halo on both sides from
  * [[StripScan.halo]] (one shuffle of the raster, no driver collect).
  * Image border pixels (no full 3×3 window) produce the dst nodata value,
  * the reference default (`bComputeAtEdges == FALSE`).
  */
object Dem {

  /** One strip of double-valued pixels: `bands` planes of `height` rows,
    * stored band-sequentially. Band `b` is `vals(b·plane until
    * (b+1)·plane)` with `plane = vals.length / bands`; the width is
    * `plane / height`. Single-band operators read `bands = 1` (the whole of
    * `vals`).
    */
  final case class DStrip(stripIdx: Int, yOff: Int, height: Int, vals: Array[Double],
                          bands: Int = 1) {
    /** A copy of band `b`'s plane. */
    def band(b: Int): Array[Double] = {
      val plane = vals.length / bands
      java.util.Arrays.copyOfRange(vals, b * plane, (b + 1) * plane)
    }
  }

  /** Local row `r` of `s` as a one-row strip. */
  private[raster] def row(s: DStrip, r: Int): DStrip = {
    val w = s.vals.length / s.height
    DStrip(s.stripIdx, s.yOff + r, 1, java.util.Arrays.copyOfRange(s.vals, r * w, (r + 1) * w))
  }

  /** zt = Zevenbergen–Thorne gradient (2-neighbor; z factor /2 instead of
    * /8, GDALCreateHillshadeData `gdaldem_lib.cpp:623`).
    */
  final case class HillshadeParams(z: Double = 1.0, scale: Double = 1.0,
                                   alt: Double = 45.0, az: Double = 315.0,
                                   zt: Boolean = false) {
    val sinAlt: Double = math.sin(math.toRadians(alt))
    val azRad: Double = math.toRadians(az)
    def zScale: Double = z / ((if (zt) 2 else 8) * scale)
    val cosAltMulZ: Double = math.cos(math.toRadians(alt)) * zScale
    val squareZ: Double = zScale * zScale
    val squarePiHalf: Double = (math.Pi * math.Pi) / 4
  }

  /** 3×3 kernel over the full window (afWin row-major 0..8, center = 4). */
  type Kernel = (Double, Double, Double, Double, Double, Double, Double, Double, Double) => Double

  /** Horn hillshade of a 3×3 window. */
  def hillshadePixel(w0: Double, w1: Double, w2: Double, w3: Double, w5: Double,
                     w6: Double, w7: Double, w8: Double,
                     ewres: Double, nsres: Double, p: HillshadeParams): Double = {
    val x = ((w0 + w3 + w3 + w6) - (w2 + w5 + w5 + w8)) / ewres
    val y = ((w6 + w7 + w7 + w8) - (w0 + w1 + w1 + w2)) / nsres
    val xxPlusYy = x * x + y * y
    val aspect = math.atan2(y, x)
    var cang = (p.sinAlt - p.cosAltMulZ * math.sqrt(xxPlusYy) *
      math.sin(aspect - p.azRad)) / math.sqrt(1 + p.squareZ * xxPlusYy)
    if (cang <= 0.0) cang = 1.0 else cang = 1.0 + 254.0 * cang
    cang
  }

  /** Zevenbergen–Thorne hillshade (`gdaldem_lib.cpp:544`). */
  def hillshadePixelZT(w1: Double, w3: Double, w5: Double, w7: Double,
                       ewres: Double, nsres: Double, p: HillshadeParams): Double = {
    val x = (w3 - w5) / ewres
    val y = (w7 - w1) / nsres
    val xxPlusYy = x * x + y * y
    val aspect = math.atan2(y, x)
    var cang = (p.sinAlt - p.cosAltMulZ * math.sqrt(xxPlusYy) *
      math.sin(aspect - p.azRad)) / math.sqrt(1 + p.squareZ * xxPlusYy)
    if (cang <= 0.0) cang = 1.0 else cang = 1.0 + 254.0 * cang
    cang
  }

  /** Combined shading (`gdaldem_lib.cpp:508`): hillshade angle weighted by
    * slope steepness; `zt` selects the gradient flavor.
    */
  def hillshadePixelCombined(w0: Double, w1: Double, w2: Double, w3: Double,
                             w5: Double, w6: Double, w7: Double, w8: Double,
                             ewres: Double, nsres: Double, p: HillshadeParams): Double = {
    val x = if (p.zt) (w3 - w5) / ewres
      else ((w0 + w3 + w3 + w6) - (w2 + w5 + w5 + w8)) / ewres
    val y = if (p.zt) (w7 - w1) / nsres
      else ((w6 + w7 + w7 + w8) - (w0 + w1 + w1 + w2)) / nsres
    val xxPlusYy = x * x + y * y
    val aspect = math.atan2(y, x)
    val slope = xxPlusYy * p.squareZ
    var cang = math.acos((p.sinAlt - p.cosAltMulZ * math.sqrt(xxPlusYy) *
      math.sin(aspect - p.azRad)) / math.sqrt(1 + slope))
    cang = 1 - cang * math.atan(math.sqrt(slope)) / p.squarePiHalf
    if (cang <= 0.0) cang = 1.0 else cang = 1.0 + 254.0 * cang
    cang
  }

  /** Zevenbergen–Thorne slope (`gdaldem_lib.cpp:665`). */
  def slopePixelZT(w1: Double, w3: Double, w5: Double, w7: Double,
                   ewres: Double, nsres: Double, scale: Double, degrees: Boolean): Double = {
    val dx = (w3 - w5) / ewres
    val dy = (w7 - w1) / nsres
    val key = dx * dx + dy * dy
    if (degrees) math.atan(math.sqrt(key) / (2 * scale)) * (180.0 / math.Pi)
    else 100.0 * (math.sqrt(key) / (2 * scale))
  }

  /** Zevenbergen–Thorne aspect (`gdaldem_lib.cpp:748`). */
  def aspectPixelZT(w1: Double, w3: Double, w5: Double, w7: Double,
                    dstNoData: Double, azimuth: Boolean): Double = {
    val dx = w5 - w3
    val dy = w7 - w1
    var aspect = math.atan2(dy, -dx) * (180.0 / math.Pi)
    if (dx == 0 && dy == 0) return dstNoData
    else if (azimuth) {
      aspect = if (aspect > 90.0) 450.0 - aspect else 90.0 - aspect
    } else if (aspect < 0) aspect += 360.0
    if (aspect == 360.0) 0.0 else aspect
  }

  /** Horn slope; degrees when `degrees`, else percent. */
  def slopePixel(w0: Double, w1: Double, w2: Double, w3: Double, w5: Double,
                 w6: Double, w7: Double, w8: Double,
                 ewres: Double, nsres: Double, scale: Double, degrees: Boolean): Double = {
    val dx = ((w0 + w3 + w3 + w6) - (w2 + w5 + w5 + w8)) / ewres
    val dy = ((w6 + w7 + w7 + w8) - (w0 + w1 + w1 + w2)) / nsres
    val key = dx * dx + dy * dy
    if (degrees) math.atan(math.sqrt(key) / (8 * scale)) * (180.0 / math.Pi)
    else 100.0 * (math.sqrt(key) / (8 * scale))
  }

  /** Aspect (`gdaldem_lib.cpp:708`): atan2(dy, −dx) in degrees; flat areas
    * → dstNoData; azimuth mode remaps to compass bearing; 360 → 0.
    */
  def aspectPixel(w0: Double, w1: Double, w2: Double, w3: Double, w5: Double,
                  w6: Double, w7: Double, w8: Double,
                  dstNoData: Double, azimuth: Boolean): Double = {
    val dx = (w2 + w5 + w5 + w8) - (w0 + w3 + w3 + w6)
    val dy = (w6 + w7 + w7 + w8) - (w0 + w1 + w1 + w2)
    var aspect = math.atan2(dy, -dx) * (180.0 / math.Pi)
    if (dx == 0 && dy == 0) return dstNoData
    else if (azimuth) {
      aspect = if (aspect > 90.0) 450.0 - aspect else 90.0 - aspect
    } else if (aspect < 0) aspect += 360.0
    if (aspect == 360.0) 0.0 else aspect
  }

  /** TRI (`:1881`): mean |neighbor − center|. */
  def triPixel(w0: Double, w1: Double, w2: Double, w3: Double, w4: Double,
               w5: Double, w6: Double, w7: Double, w8: Double): Double =
    (math.abs(w0 - w4) + math.abs(w1 - w4) + math.abs(w2 - w4) +
      math.abs(w3 - w4) + math.abs(w5 - w4) + math.abs(w6 - w4) +
      math.abs(w7 - w4) + math.abs(w8 - w4)) / 8.0

  /** TPI (`:1902`): center − mean(neighbors). */
  def tpiPixel(w0: Double, w1: Double, w2: Double, w3: Double, w4: Double,
               w5: Double, w6: Double, w7: Double, w8: Double): Double =
    w4 - (w0 + w1 + w2 + w3 + w5 + w6 + w7 + w8) / 8.0

  /** Roughness (`:1924`): max − min over the full window. */
  def roughnessPixel(w0: Double, w1: Double, w2: Double, w3: Double, w4: Double,
                     w5: Double, w6: Double, w7: Double, w8: Double): Double = {
    var mn = w0; var mx = w0
    val ws = Array(w1, w2, w3, w4, w5, w6, w7, w8)
    var i = 0
    while (i < 8) {
      if (ws(i) > mx) mx = ws(i)
      if (ws(i) < mn) mn = ws(i)
      i += 1
    }
    mx - mn
  }

  /** Apply a 3×3 kernel over a full single-node raster (tests/oracle). */
  def apply3x3Local(vals: Array[Double], w: Int, h: Int, dstNoData: Double,
                    kernel: Kernel): Array[Double] = {
    val out = Array.fill(w * h)(dstNoData)
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val i = y * w + x
        out(i) = kernel(vals(i - w - 1), vals(i - w), vals(i - w + 1),
          vals(i - 1), vals(i), vals(i + 1),
          vals(i + w - 1), vals(i + w), vals(i + w + 1))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Distributed 3×3 over strips with halo rows. */
  def apply3x3(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int,
               dstNoData: Double, kernel: Kernel): Dataset[DStrip] = {
    import spark.implicits._
    StripScan.halo(strips, above = true, below = true)(_.stripIdx, _.height, row)
      .map { case (strip, up, down) =>
        val hh = strip.height
        val vals = strip.vals
        val above = up.map(_.vals).orNull
        val below = down.map(_.vals).orNull
        val out = Array.fill(w * hh)(dstNoData)
        @inline def v(y: Int, x: Int): Double =
          if (y == -1) above(x)
          else if (y == hh) below(x)
          else vals(y * w + x)
        var y = 0
        while (y < hh) {
          val gy = strip.yOff + y
          if (gy >= 1 && gy <= h - 2 && (y > 0 || above != null) && (y < hh - 1 || below != null)) {
            var x = 1
            while (x < w - 1) {
              out(y * w + x) = kernel(
                v(y - 1, x - 1), v(y - 1, x), v(y - 1, x + 1),
                v(y, x - 1), v(y, x), v(y, x + 1),
                v(y + 1, x - 1), v(y + 1, x), v(y + 1, x + 1))
              x += 1
            }
          }
          y += 1
        }
        DStrip(strip.stripIdx, strip.yOff, hh, out)
      }
  }

  def hillshade(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int,
                gt: GeoTransform, p: HillshadeParams = HillshadeParams(),
                combined: Boolean = false): Dataset[DStrip] =
    apply3x3(spark, strips, w, h, 0.0,
      if (combined)
        (a, b, c, d, _, e, f, g, i) =>
          hillshadePixelCombined(a, b, c, d, e, f, g, i, gt.gt1, gt.gt5, p)
      else if (p.zt)
        (_, b, _, d, _, e, _, g, _) => hillshadePixelZT(b, d, e, g, gt.gt1, gt.gt5, p)
      else
        (a, b, c, d, _, e, f, g, i) => hillshadePixel(a, b, c, d, e, f, g, i, gt.gt1, gt.gt5, p))

  def slope(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int,
            gt: GeoTransform, scale: Double = 1.0, degrees: Boolean = true,
            zt: Boolean = false): Dataset[DStrip] =
    apply3x3(spark, strips, w, h, -9999.0,
      if (zt) (_, b, _, d, _, e, _, g, _) =>
        slopePixelZT(b, d, e, g, gt.gt1, gt.gt5, scale, degrees)
      else (a, b, c, d, _, e, f, g, i) =>
        slopePixel(a, b, c, d, e, f, g, i, gt.gt1, gt.gt5, scale, degrees))

  def aspect(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int,
             azimuth: Boolean = true, dstNoData: Double = -9999.0,
             zt: Boolean = false): Dataset[DStrip] =
    apply3x3(spark, strips, w, h, dstNoData,
      if (zt) (_, b, _, d, _, e, _, g, _) => aspectPixelZT(b, d, e, g, dstNoData, azimuth)
      else (a, b, c, d, _, e, f, g, i) => aspectPixel(a, b, c, d, e, f, g, i, dstNoData, azimuth))

  def tri(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int): Dataset[DStrip] =
    apply3x3(spark, strips, w, h, -9999.0, triPixel)

  def tpi(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int): Dataset[DStrip] =
    apply3x3(spark, strips, w, h, -9999.0, tpiPixel)

  def roughness(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int): Dataset[DStrip] =
    apply3x3(spark, strips, w, h, -9999.0, roughnessPixel)

  /** Backwards-compatible local TRI (tests). */
  def triLocal(vals: Array[Double], w: Int, h: Int): Array[Double] =
    apply3x3Local(vals, w, h, -9999.0, triPixel)

  // ------------------------------------------------------------------
  // Color relief (gdaldem_lib.cpp:930 GDALColorReliefGetRGBA)
  // ------------------------------------------------------------------

  final case class ColorEntry(v: Double, r: Int, g: Int, b: Int, a: Int = 255)

  sealed trait ColorMode
  case object Interpolate extends ColorMode   // COLOR_SELECTION_INTERPOLATE
  case object NearestEntry extends ColorMode  // COLOR_SELECTION_NEAREST_ENTRY
  case object ExactEntry extends ColorMode    // COLOR_SELECTION_EXACT_ENTRY

  /** Color for one value against a sorted LUT — faithful to the reference's
    * binary search + linear interpolation with the 0.45 rounding bias and
    * 0..255 clamp. Returns (r, g, b, a); EXACT misses return (0,0,0,0).
    * (The nodata-epsilon splitting of GDALColorReliefProcessColors is not
    * ported — supply an explicit nodata entry instead.)
    */
  def colorFor(lut: Array[ColorEntry], v: Double, mode: ColorMode): (Int, Int, Int, Int) = {
    val n = lut.length
    // first index whose value is not smaller than v
    var lower = 0; var upper = n - 1
    var i = 0
    var loop = true
    while (loop) {
      val mid = (lower + upper) / 2
      if (upper - lower <= 1) {
        i = if (v <= lut(lower).v) lower
        else if (v <= lut(upper).v) upper
        else upper + 1
        loop = false
      } else if (lut(mid).v >= v) upper = mid
      else lower = mid
    }
    @inline def rgba(e: ColorEntry) = (e.r, e.g, e.b, e.a)
    if (i == 0) {
      if (mode == ExactEntry && lut(0).v != v) (0, 0, 0, 0) else rgba(lut(0))
    } else if (i == n) {
      if (mode == ExactEntry && lut(n - 1).v != v) (0, 0, 0, 0) else rgba(lut(n - 1))
    } else {
      if (mode == ExactEntry && lut(i - 1).v != v) (0, 0, 0, 0)
      else if (mode == NearestEntry && lut(i - 1).v != v) {
        val idx = if (v - lut(i - 1).v < lut(i).v - v) i - 1 else i
        rgba(lut(idx))
      } else if (lut(i - 1).v == v) rgba(lut(i - 1))
      else {
        val ratio = (v - lut(i - 1).v) / (lut(i).v - lut(i - 1).v)
        @inline def ch(lo: Int, hi: Int): Int = {
          val x = (0.45 + lo + ratio * (hi - lo)).toInt
          if (x < 0) 0 else if (x > 255) 255 else x
        }
        (ch(lut(i - 1).r, lut(i).r), ch(lut(i - 1).g, lut(i).g),
          ch(lut(i - 1).b, lut(i).b), ch(lut(i - 1).a, lut(i).a))
      }
    }
  }

  /** Distributed color-relief: per-pixel LUT application over strips (a
    * pure map — the LUT is tiny and ships in the closure). Output:
    * DataFrame(x, y, r, g, b) — the 3-band expansion the reference writes.
    */
  def colorRelief(spark: SparkSession, strips: Dataset[DStrip], w: Int,
                  lut0: Array[ColorEntry], mode: ColorMode = Interpolate): DataFrame = {
    import spark.implicits._
    val lut = lut0.sortBy(_.v) // stable sort mirror of ProcessColors' ordering
    strips.flatMap { s =>
      for {
        y <- (0 until s.height).iterator
        x <- (0 until w).iterator
      } yield {
        val (r, g, b, _) = colorFor(lut, s.vals(y * w + x), mode)
        (x, s.yOff + y, r, g, b)
      }
    }.toDF("x", "y", "r", "g", "b")
  }
}
