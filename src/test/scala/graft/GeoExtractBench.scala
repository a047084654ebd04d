package graft

import org.apache.spark.unsafe.types.UTF8String
import graft.expr.GeoExtract
import graft.sources.Pages

/** Single-threaded `GeoExtract.extractArrayData` over `Pages.page` texts:
  * the per-page cost of the flagship's first operator, without Spark.
  * Warms up for 5 s, then times 7 passes over the same texts and prints
  * µs per page (min and median) and the mention count of one pass. Run ad
  * hoc: `sbt -batch "Test/runMain graft.GeoExtractBench [nPages] [seed]"`
  * (defaults 100000 pages, seed 42, the seed of `Pages.synth`).
  */
object GeoExtractBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val seed = if (args.length > 1) args(1).toLong else 42L
    val texts = Array.tabulate(n)(i => UTF8String.fromString(Pages.page(seed, i.toLong).text))
    val bytes = texts.map(_.numBytes.toLong).sum
    def pass(): Long = {
      var mentions = 0L
      var i = 0
      while (i < n) { mentions += GeoExtract.extractArrayData(texts(i)).numElements(); i += 1 }
      mentions
    }
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 5000000000L) pass()
    val runs = Seq.fill(7) {
      val t0 = System.nanoTime()
      val m = pass()
      ((System.nanoTime() - t0) / 1e3 / n, m)
    }
    val us = runs.map(_._1).sorted
    println(f"GeoExtractBench: $n%d pages (seed $seed%d, ${bytes.toDouble / n}%.1f bytes/page), " +
      f"${runs.head._2}%d mentions (${runs.head._2.toDouble / n}%.3f/page), " +
      f"us/page min ${us.head}%.3f median ${us(us.size / 2)}%.3f")
  }
}
