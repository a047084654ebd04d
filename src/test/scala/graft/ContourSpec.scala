package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.GeoTransform
import graft.raster.Contour

/** Contour parity with `/root/reference/autotest/alg/contour.py:43-129`:
  * concentric plateaus at 0/10/20/25 → two contour lines (levels 10, 20)
  * whose envelopes match the expected rectangles within half a pixel.
  */
class ContourSpec extends AnyFunSuite {

  test("contour_1: two closed contours with expected envelopes") {
    val size = 160
    val precision = 1.0 / size
    val vals = Array.fill(size * size)(0.0)
    for (y <- 40 until 120; x <- 40 until 120) vals(y * size + x) = 10.0
    for (y <- 60 until 100; x <- 60 until 100) vals(y * size + x) = 20.0
    for (y <- 70 until 90; x <- 70 until 90) vals(y * size + x) = 25.0
    val gt = GeoTransform(1, precision, 0, 50, 0, -precision)

    val result = Contour.contourLines(vals, size, size, gt,
      levels = Seq(10.0, 20.0), interval = 10.0)

    val expected = Map(
      10.0 -> (1.25, 1.75, 49.25, 49.75),
      20.0 -> (1.375, 1.625, 49.375, 49.625))

    for ((level, (minx, maxx, miny, maxy)) <- expected) {
      val lines = result(level)
      assert(lines.size === 1, s"level $level should stitch into one ring, got ${lines.size}")
      val l = lines.head
      assert(l.isClosed, s"level $level contour should close")
      val env = l.envelope
      val tol = precision / 2 * 1.001
      assert(math.abs(env.minX - minx) <= tol, s"level $level minX ${env.minX}")
      assert(math.abs(env.maxX - maxx) <= tol, s"level $level maxX ${env.maxX}")
      assert(math.abs(env.minY - miny) <= tol, s"level $level minY ${env.minY}")
      assert(math.abs(env.maxY - maxy) <= tol, s"level $level maxY ${env.maxY}")
    }
    // level 0 (all samples fudged above) and 30 (above max) produce nothing
    val empty = Contour.contourLines(vals, size, size, gt, Seq(0.0, 30.0), 10.0)
    assert(empty(0.0).isEmpty && empty(30.0).isEmpty)
  }

  test("distributed contour equals the local port across strip layouts") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val size = 160
    val precision = 1.0 / size
    val vals = Array.fill(size * size)(0.0)
    for (y <- 40 until 120; x <- 40 until 120) vals(y * size + x) = 10.0
    for (y <- 60 until 100; x <- 60 until 100) vals(y * size + x) = 20.0
    for (y <- 70 until 90; x <- 70 until 90) vals(y * size + x) = 25.0
    // a ripple field too, so chains cross strips many times
    val ripple = Array.tabulate(size * size) { i =>
      val x = i % size; val y = i / size
      math.sin(x * 0.21) * 7 + math.cos(y * 0.17) * 7 + (x % 13) * 0.3
    }
    val gt = GeoTransform(1, precision, 0, 50, 0, -precision)
    val levels = Seq(10.0, 20.0)

    def canonChains(chains: Seq[graft.core.GLine]): Seq[Seq[(Double, Double)]] =
      chains.map { l =>
        val pts = (0 until l.xy.length / 2).map(j => (l.xy(2 * j), l.xy(2 * j + 1)))
        // rings may start anywhere: canonicalize by rotation + direction
        implicit val ord: Ordering[Seq[(Double, Double)]] =
          Ordering.Implicits.seqOrdering[Seq, (Double, Double)]
        if (pts.nonEmpty && pts.head == pts.last) {
          val ring = pts.dropRight(1)
          val rots: Seq[Seq[(Double, Double)]] =
            (ring.indices.map(k => (ring.drop(k) ++ ring.take(k)).toSeq) ++
              ring.reverse.indices.map(k => (ring.reverse.drop(k) ++ ring.reverse.take(k)).toSeq))
          val best = rots.min
          best :+ best.head
        } else {
          val rev = pts.reverse
          (if (ord.lt(pts.toSeq, rev.toSeq)) pts else rev).toSeq
        }
      }.sortBy(_.headOption)

    // second pass through the same layouts with the distributed seam
    // union-find forced (conf limit 0) — a many-level ripple crosses every
    // seam dozens of times, exercising pack/UnionFind/join-back
    spark.conf.set(graft.core.DriverRows.LimitKey, "0")
    try {
      val manyLevels = Seq(-5.0, 0.0, 5.0, 10.0, 15.0, 20.0)
      val strips = (0 until size by 7).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(7, size - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(ripple, y0 * size, (y0 + hh) * size))
      }.toDS()
      val dist = Contour.contour(spark, strips, size, size, gt, manyLevels, interval = 10.0)
        .collect().map(r => (r.getDouble(0), graft.core.Geom.fromWkb(r.getAs[Array[Byte]](1)).asInstanceOf[graft.core.GLine]))
      val local = Contour.contourLines(ripple, size, size, gt, manyLevels, interval = 10.0)
      for (level <- manyLevels) {
        val d = canonChains(dist.filter(_._1 == level).map(_._2).toSeq)
        val l = canonChains(local(level))
        assert(d === l, s"distributed ripple level=$level: ${d.size} vs ${l.size} chains")
      }
    } finally spark.conf.unset(graft.core.DriverRows.LimitKey)

    for ((field, name) <- Seq((vals, "plateau"), (ripple, "ripple")); stripH <- Seq(1, 7, 37, 160)) {
      val strips = (0 until size by stripH).zipWithIndex.map { case (y0, idx) =>
        val hh = math.min(stripH, size - y0)
        graft.raster.Dem.DStrip(idx, y0, hh,
          java.util.Arrays.copyOfRange(field, y0 * size, (y0 + hh) * size))
      }.toDS()
      val dist = Contour.contour(spark, strips, size, size, gt, levels, interval = 10.0)
        .collect().map(r => (r.getDouble(0), graft.core.Geom.fromWkb(r.getAs[Array[Byte]](1)).asInstanceOf[graft.core.GLine]))
      val local = Contour.contourLines(field, size, size, gt, levels, interval = 10.0)
      for (level <- levels) {
        val d = canonChains(dist.filter(_._1 == level).map(_._2).toSeq)
        val l = canonChains(local(level))
        assert(d === l, s"$name stripH=$stripH level=$level: ${d.size} vs ${l.size} chains")
      }
    }
  }
}
