package graft.raster

import org.apache.spark.sql.Dataset
import graft.raster.Dem.DStrip

/** Pansharpening — weighted-Brovey fusion of a high-resolution
  * panchromatic band with upsampled multispectral bands
  * (`/root/reference/gdal/alg/gdalpansharpen.cpp:405-445`
  * WeightedBrovey: pseudo-pan = Σ wᵢ·msᵢ; factor = pan / pseudo-pan;
  * outᵢ = CopyWord(msᵢ · factor) clamped to maxValue; nodata in any
  * input zeroes the pixel).
  *
  * The spectral bands are expected pre-upsampled to the pan grid (use
  * [[Warp]] bilinear for the reference's default upsampling). Strips make
  * the per-pixel fusion embarrassingly parallel.
  *
  * Strips are [[Dem.DStrip]]s with `bands = 1 + N`: band 0 is pan, bands
  * 1..N the spectral bands in weight order (fused on output).
  */
object Pansharpen {

  /** Single-strip kernel (the exact reference formula, double work type). */
  def broveyStrip(pan: Array[Double], spectral: Array[Array[Double]],
                  weights: Array[Double], noData: Double = Double.NaN,
                  maxValue: Double = 0.0): Array[Array[Double]] = {
    require(spectral.nonEmpty && weights.length == spectral.length)
    val n = pan.length
    val out = Array.ofDim[Double](spectral.length, n)
    val hasNoData = !noData.isNaN
    var j = 0
    while (j < n) {
      var pseudoPan = 0.0
      var i = 0
      var broken = false
      while (i < spectral.length && !broken) {
        val v = spectral(i)(j)
        if (hasNoData && v == noData) { pseudoPan = 0.0; broken = true }
        else pseudoPan += weights(i) * v
        i += 1
      }
      if (pseudoPan != 0.0 && !(hasNoData && pan(j) == noData)) {
        val factor = pan(j) / pseudoPan
        i = 0
        while (i < spectral.length) {
          var v = spectral(i)(j) * factor
          if (maxValue != 0.0 && v > maxValue) v = maxValue
          out(i)(j) = v
          i += 1
        }
      }
      j += 1
    }
    out
  }

  /** Distributed fusion over aligned strips: band 0 passes through, bands
    * 1..N are replaced by their fused planes.
    */
  def brovey(strips: Dataset[DStrip], weights: Array[Double],
             noData: Double = Double.NaN, maxValue: Double = 0.0): Dataset[DStrip] = {
    import strips.sparkSession.implicits._
    strips.map { s =>
      val pan = s.band(0)
      val fused = broveyStrip(pan, Array.tabulate(s.bands - 1)(b => s.band(b + 1)),
        weights, noData, maxValue)
      s.copy(vals = Array.concat(pan +: fused: _*))
    }
  }
}
