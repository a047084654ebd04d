package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.{Checksum, Sieve}
import graft.raster.Overview.IStrip

/** Sieve filter golden parity (`/root/reference/autotest/alg/sieve.py`). */
class SieveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val W = 5; private val H = 7
  private val sieveSrc = Array(
    107, 123, 132, 115, 132,
    115, 132, 132, 123, 123,
    115, 132, 140, 132, 123,
    148, 132, 123, 123, 123,
    156, 156, 156, 140, 132,
    156, 100, 156, 101, 102,
    156, 156, 156, 103, 103)
  private val unmergable = Array(
    10, 11, 12, 13, 14,
    15, 16, 17, 18, 19,
    20, 21, 22, 23, 24,
    25, 25, 26, 27, 28,
    29, 30, 31, 32, 33,
    34, 35, 36, 37, 38,
    39, 40, 41, 42, 43)

  private def cs(vals: Array[Int]): Int =
    Checksum.finish(Checksum.partialInt(vals, 0, vals.length, 0L))

  test("sieve_1: threshold 2, 4-connected, checksum 364 (sieve.py:55)") {
    assert(cs(Sieve.sieveLocal(sieveSrc, W, H, 2, 4)) === 364)
  }

  test("sieve_2: threshold 2, 8-connected, checksum 370 (sieve.py:85)") {
    assert(cs(Sieve.sieveLocal(sieveSrc, W, H, 2, 8)) === 370)
  }

  test("sieve_3: unmergable polygons, checksum 451 (sieve.py:117)") {
    assert(cs(Sieve.sieveLocal(unmergable, W, H, 2, 8)) === 451)
  }

  test("distributed sieve matches the local port across strip sizes") {
    for (src <- Seq(sieveSrc, unmergable); conn <- Seq(4, 8); stripH <- Seq(2, 3, 7)) {
      val expect = Sieve.sieveLocal(src, W, H, 2, conn)
      val strips = (0 until H by stripH).zipWithIndex.map { case (y0, i) =>
        val hh = math.min(stripH, H - y0)
        IStrip(i, y0, hh, W, java.util.Arrays.copyOfRange(src, y0 * W, (y0 + hh) * W))
      }.toDS()
      val got = Sieve.sieve(spark, strips, W, H, 2, conn)
        .collect().sortBy(_.yOff).flatMap(_.vals)
      assert(got.toSeq === expect.toSeq, s"conn=$conn stripH=$stripH")
    }
  }

  test("distributed sieve matches the local port across strip seams on seeded rasters") {
    val w = 13; val h = 10
    val rnd = new scala.util.Random(3)
    for (k <- 0 until 12) {
      val src = Array.fill(w * h)(rnd.nextInt(3))
      for (conn <- Seq(4, 8); stripH <- Seq(1, 2)) {
        val expect = Sieve.sieveLocal(src, w, h, 3, conn)
        val strips = (0 until h by stripH).zipWithIndex.map { case (y0, i) =>
          IStrip(i, y0, stripH, w, java.util.Arrays.copyOfRange(src, y0 * w, (y0 + stripH) * w))
        }.toDS()
        val got = Sieve.sieve(spark, strips, w, h, 3, conn)
          .collect().sortBy(_.yOff).flatMap(_.vals)
        assert(got.toSeq === expect.toSeq, s"raster $k conn=$conn stripH=$stripH")
      }
    }
  }
}
