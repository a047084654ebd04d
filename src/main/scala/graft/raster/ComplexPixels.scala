package graft.raster

import org.apache.spark.sql.Dataset
import graft.raster.Dem.DStrip

/** Complex pixel family (CInt16/CInt32/CFloat32/CFloat64,
  * `/root/reference/gdal/gcore/gdal.h:66-69`) end-to-end through
  * translate-style casts, statistics, and checksums.
  *
  * Reference semantics mirrored:
  *  - `-ot` casts run GDALCopyWords per component
  *    (`gcore/rasterio.cpp:1800` GDALCopyWordsComplexT): float→signed-int
  *    rounds half away from zero then truncates, float→unsigned adds
  *    +0.5 and clamps at 0, int→int is plain clamp
  *    (`gdal_priv_templates.hpp:155-273`);
  *  - complex→real keeps the REAL component (the complex-in/real-out
  *    dispatch at `rasterio.cpp:1906` strides over pairs);
  *  - real→complex zeroes the imaginary part
  *    (`rasterio.cpp:1862` GDALCopyWordsComplexOutT);
  *  - statistics read the REAL component, not the magnitude
  *    (`gcore/gdalrasterband.cpp:3718-3731` reads pData[2*i] for
  *    CInt16/CInt32/CFloat32/CFloat64);
  *  - checksum walks interleaved re,im words per scanline — twice the
  *    word count, same rolling prime phase
  *    (`alg/gdalchecksum.cpp:92,:150` nCount = 2*nXSize).
  *
  * Values are carried as Double planes (GDAL converts through double for
  * mixed-type RasterIO); the [[PixType]] tags decide quantization. A strip
  * is a [[Dem.DStrip]] with `bands = 1` (real: band 0) or `bands = 2`
  * (complex: band 0 re, band 1 im).
  */
object ComplexPixels {

  sealed abstract class PixType(val isComplex: Boolean, val isFloat: Boolean)
  case object TByte extends PixType(false, false)
  case object TUInt16 extends PixType(false, false)
  case object TInt16 extends PixType(false, false)
  case object TInt32 extends PixType(false, false)
  case object TFloat32 extends PixType(false, true)
  case object TFloat64 extends PixType(false, true)
  case object TCInt16 extends PixType(true, false)
  case object TCInt32 extends PixType(true, false)
  case object TCFloat32 extends PixType(true, true)
  case object TCFloat64 extends PixType(true, true)

  /** Per-component GDALCopyWords conversion: srcFloat selects the
    * float→int rounding vs the int→int plain clamp. Signed integer
    * destinations round half AWAY from zero (`gdal_priv_templates.hpp:
    * 237-273` — `v >= 0 ? v+0.5 : v-0.5` then C-cast truncation);
    * unsigned destinations add +0.5 unconditionally and clamp at 0
    * (the generic template at `:155-162`).
    */
  private def quantizer(srcFloat: Boolean, dst: PixType): Double => Double = {
    def clampInt(v: Double, lo: Double, hi: Double): Double =
      if (v < lo) lo else if (v > hi) hi else v
    dst match {
      case TByte | TUInt16 | TInt16 | TInt32 | TCInt16 | TCInt32 =>
        val (lo, hi) = dst match {
          case TByte => (0.0, 255.0)
          case TUInt16 => (0.0, 65535.0)
          case TInt16 | TCInt16 => (-32768.0, 32767.0)
          case _ => (-2147483648.0, 2147483647.0)
        }
        val signed = lo < 0.0
        if (srcFloat) { v =>
          val s = if (signed && v < 0.0) v - 0.5 else v + 0.5
          if (s < lo) lo else if (s > hi) hi
          else s.toLong.toDouble // C cast: trunc toward zero
        }
        else v => clampInt(v, lo, hi)
      case TFloat32 | TCFloat32 => v => v.toFloat.toDouble
      case TFloat64 | TCFloat64 => v => v
    }
  }

  /** `-ot`-style cast of a strip dataset between pixel types. A complex
    * destination has two bands (a promoted real source gets a zero im
    * plane); a real destination keeps band 0 only.
    */
  def convert(strips: Dataset[DStrip], src: PixType, dst: PixType): Dataset[DStrip] = {
    import strips.sparkSession.implicits._
    val q = quantizer(src.isFloat, dst)
    strips.map { s =>
      val plane = s.vals.length / s.bands
      val outBands = if (dst.isComplex) 2 else 1
      val kept = if (dst.isComplex && src.isComplex) s.bands else 1
      val out = new Array[Double](outBands * plane)
      var i = 0
      while (i < kept * plane) { out(i) = q(s.vals(i)); i += 1 }
      s.copy(vals = out, bands = outBands)
    }
  }

  /** Distributed GDALChecksumImage over (possibly complex) strips: each
    * strip contributes a phase-keyed partial over its interleaved words.
    */
  def checksum(strips: Dataset[DStrip], typ: PixType): Int = {
    import strips.sparkSession.implicits._
    val complex = typ.isComplex
    val floatPath = typ.isFloat
    val partials = strips.map { s =>
      val plane = s.vals.length / s.bands
      val interleave = complex && s.bands == 2
      val wordsPerRow = (if (interleave) 2 else 1) * plane / s.height
      val words = new Array[Double](s.height * wordsPerRow)
      var i = 0; var o = 0
      while (i < plane) {
        if (interleave) {
          words(o) = s.vals(i); words(o + 1) = s.vals(plane + i); o += 2
        } else { words(o) = s.vals(i); o += 1 }
        i += 1
      }
      val start = s.yOff.toLong * wordsPerRow
      if (floatPath) Checksum.partialDouble(words, 0, words.length, start)
      else {
        val iw = words.map(_.toInt)
        Checksum.partialInt(iw, 0, iw.length, start)
      }
    }
    Checksum.finish(partials.reduce(_ + _))
  }

  final case class Stats(min: Double, max: Double, mean: Double, std: Double,
                         count: Long)

  /** ComputeStatistics parity: real component only (population stddev,
    * like the reference's dfM2/nSampleCount).
    */
  def stats(strips: Dataset[DStrip]): Stats = {
    import strips.sparkSession.implicits._
    val partials = strips.map { s =>
      var mn = Double.MaxValue; var mx = Double.MinValue
      var sum = 0.0; var sumSq = 0.0; var n = 0L
      s.band(0).foreach { v =>
        if (!v.isNaN) {
          if (v < mn) mn = v
          if (v > mx) mx = v
          sum += v; sumSq += v * v; n += 1
        }
      }
      (mn, mx, sum, sumSq, n)
    }
    val (mn, mx, sum, sumSq, n) = partials.reduce { (a, b) =>
      (math.min(a._1, b._1), math.max(a._2, b._2),
        a._3 + b._3, a._4 + b._4, a._5 + b._5)
    }
    val mean = sum / n
    Stats(mn, mx, mean, math.sqrt(math.max(0, sumSq / n - mean * mean)), n)
  }
}
