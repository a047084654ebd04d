package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.raster.Translate
import graft.raster.Overview.IStrip

class TranslateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("CopyWords rounding: clamp(v+0.5) then truncate") {
    assert(Translate.toByte(-0.4) === 0)
    assert(Translate.toByte(-10.0) === 0)
    assert(Translate.toByte(10.4) === 10)
    assert(Translate.toByte(10.6) === 11)
    assert(Translate.toByte(254.6) === 255)
    assert(Translate.toByte(300.0) === 255)
    assert(Translate.toInt16(-40000.0) === -32768)
    assert(Translate.toUInt16(70000.0) === 65535)
    assert(Translate.toInt32(3e9) === 2147483647)
  }

  private val W = 5; private val H = 7
  private val grid = Array(
    107, 123, 132, 115, 132,
    115, 132, 132, 123, 123,
    115, 132, 140, 132, 123,
    148, 132, 123, 123, 123,
    156, 156, 156, 140, 132,
    156, 100, 156, 101, 102,
    156, 156, 156, 103, 103)

  private def strips(stripH: Int) = (0 until H by stripH).zipWithIndex.map { case (y0, i) =>
    val hh = math.min(stripH, H - y0)
    IStrip(i, y0, hh, W, java.util.Arrays.copyOfRange(grid, y0 * W, (y0 + hh) * W))
  }.toDS()

  test("srcwin extracts the sub-window across strip boundaries") {
    val out = Translate.srcWin(strips(2), 1, 1, 3, 5)
      .collect().sortBy(_.yOff).flatMap(_.vals).toSeq
    val expect = for (y <- 1 to 5; x <- 1 to 3) yield grid(y * W + x)
    assert(out === expect)
  }

  test("a partly outside srcwin logs a log4j warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Level, String)]()
    val appender = new AbstractAppender("translate-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add((e.getLevel, e.getMessage.getFormattedMessage))
    }
    appender.start()
    val logger = LogManager.getLogger("graft.raster.Translate").asInstanceOf[Logger]
    logger.addAppender(appender)
    try Translate.srcWin(strips(2), 3, 0, 4, 2).count()
    finally { logger.removeAppender(appender); appender.stop() }
    val warned = seen.toArray(Array.empty[(Level, String)]).toSeq
    assert(warned.exists { case (l, m) => l == Level.WARN && m.contains("partially outside raster width 5") },
      warned.toString)
  }

  test("resizeNearest matches the (dst+0.5)*src/dst sampling rule both ways") {
    def local(dw: Int, dh: Int): Seq[Int] =
      for (y <- 0 until dh; x <- 0 until dw) yield
        grid(Translate.srcIndex(y, H, dh) * W + Translate.srcIndex(x, W, dw))
    for ((dw, dh) <- Seq((10, 14), (3, 4), (5, 7))) {
      val got = Translate.resizeNearest(strips(3), W, H, dw, dh, dstStripH = 4)
        .collect().sortBy(_.yOff).flatMap(_.vals).toSeq
      assert(got === local(dw, dh), s"resize to ${dw}x$dh")
    }
  }

  test("scaleToByte applies -scale then CopyWords rounding") {
    val out = Translate.scaleToByte(strips(7), 100, 156).collect().head.vals
    val f = Translate.scaleFn(100, 156, 0, 255)
    assert(out.toSeq === grid.map(v => Translate.toByte(f(v))).toSeq)
    assert(out.min === 0 && out.max === 255)
  }

  test("resizeResampled bilinear/average match the warp-kernel local path") {
    for (k <- Seq(graft.raster.Warp.Bilinear, graft.raster.Warp.Average,
        graft.raster.Warp.Cubic)) {
      val got = Translate.resizeResampled(strips(3), W, H, 10, 14, k, dstStripH = 5)
        .collect().sortBy(_.yOff).flatMap(_.vals).toSeq
      val local = graft.raster.Warp.warpLocal(grid.map(_.toDouble), W, H,
        graft.core.GeoTransform.northUp(0, H, 1, 1),
        graft.raster.Warp.DstSpec(10, 14,
          graft.core.GeoTransform.northUp(0, H, W.toDouble / 10, H.toDouble / 14)),
        kernel = k).map(Translate.toByte).toSeq
      assert(got === local, s"kernel $k")
    }
  }

  test("expandRgb maps palette indices to RGB planes") {
    val pal = Array(graft.raster.Palette.Color(10, 20, 30), graft.raster.Palette.Color(200, 100, 50))
    val idx = strips(4).map(s => s.copy(vals = s.vals.map(_ % 2)))(
      org.apache.spark.sql.Encoders.product[graft.raster.Overview.IStrip])
    val rgb = Translate.expandRgb(idx, pal).collect().sortBy(_.yOff)
    val flat = rgb.flatMap { s =>
      val (r, g, b) = (s.band(0), s.band(1), s.band(2))
      r.indices.map(i => (r(i), g(i), b(i)))
    }
    val expect = grid.map(_ % 2).map(i => (pal(i).r, pal(i).g, pal(i).b)).toSeq
    assert(flat.toSeq === expect)
  }
}
