package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.Proximity
import graft.raster.Overview.IStrip

class ProximitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("proximity distances are exact euclidean to nearest target") {
    val w = 12; val h = 9
    val vals = Array.fill(w * h)(0)
    val targets = Seq((2, 1), (9, 6), (11, 0))
    targets.foreach { case (x, y) => vals(y * w + x) = 7 }
    for (stripH <- Seq(3, 1)) withClue(s"stripH=$stripH: ") {
      val strips = (0 until h by stripH).zipWithIndex.map { case (y0, i) =>
        IStrip(i, y0, math.min(stripH, h - y0), w,
          java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + math.min(stripH, h - y0)) * w))
      }.toDS()
      val got = Proximity.proximity(spark, strips, w, h, Set(7), maxDist = 6.0, noData = -1)
        .collect().sortBy(_.yOff).flatMap(_.vals)
      // brute-force expectation
      for (y <- 0 until h; x <- 0 until w) {
        val d = targets.map { case (tx, ty) =>
          math.sqrt((tx - x).toDouble * (tx - x) + (ty - y).toDouble * (ty - y))
        }.min
        val expect = if (d > 6.0) -1.0 else d
        assert(got(y * w + x) === expect, s"pixel ($x,$y)")
      }
      // targets themselves are at distance 0
      targets.foreach { case (x, y) => assert(got(y * w + x) === 0.0) }
    }
  }
}
