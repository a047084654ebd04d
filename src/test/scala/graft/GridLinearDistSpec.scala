package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.GridInterp

/** Distributed GDALGridLinear: the cell-partitioned local-triangulation
  * path must EQUAL the driver-side global triangulation (the circumcircle
  * containment check proves each answered triangle is globally Delaunay),
  * and must reproduce a planar field exactly at >2M samples — far past
  * the old driver cap.
  */
object GridLinearDistFns extends Serializable {
  def mix(a: Long): Long = graft.sources.Pages.mix(a)
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
}

class GridLinearDistSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import GridLinearDistFns.{mix, unit}

  test("distributed path equals the driver global triangulation exactly") {
    import spark.implicits._
    // 3000 random points in general position, nonlinear field
    val pts = (0 until 3000).map { i =>
      val x = unit(mix(i * 2 + 1)) * 100.0
      val y = unit(mix(i * 2 + 2)) * 100.0
      (x, y, math.sin(x * 0.3) * 7.0 + y * y * 0.01)
    }.toDF("x", "y", "z")
    // queries: interior grid + a few outside the envelope + near edges
    val qs = ((0 until 100).map { i =>
      (i.toLong, 5.0 + (i % 10) * 10.0 + 0.37, 5.0 + (i / 10) * 10.0 + 0.61)
    } ++ Seq((100L, -5.0, 50.0), (101L, 50.0, 105.0), (102L, 0.2, 0.2)))
      .toDF("qid", "qx", "qy")
    val global = GridInterp.linear(pts, col("x"), col("y"), col("z"),
        qs, col("qid"), col("qx"), col("qy"), noData = -999.0)
      .as[(Long, Double)].collect().toMap
    // tiny cells force multi-cell gathering + halo growth
    val dist = GridInterp.linearDistributed(pts, col("x"), col("y"), col("z"),
        qs, col("qid"), col("qx"), col("qy"), noData = -999.0, targetPerCell = 40)
      .as[(Long, Double)].collect().toMap
    assert(dist.keySet === global.keySet)
    for ((k, v) <- global) {
      assert(math.abs(dist(k) - v) < 1e-9, s"qid=$k dist=${dist(k)} global=$v")
    }
  }

  test("linear logs the mode the driver row limit picks, same results") {
    import spark.implicits._
    val pts = (0 until 40).map { i =>
      (unit(mix(i * 2 + 1)) * 10.0, unit(mix(i * 2 + 2)) * 10.0, i.toDouble)
    }.toDF("x", "y", "z")
    val qs = (0 until 9).map(i => (i.toLong, 2.0 + (i % 3) * 3.0, 2.0 + (i / 3) * 3.0))
      .toDF("qid", "qx", "qy")
    def run() = LogCapture.logged("graft.operators.GridInterp") {
      GridInterp.linear(pts, col("x"), col("y"), col("z"),
          qs, col("qid"), col("qx"), col("qy"), noData = -999.0)
        .as[(Long, Double)].collect().toMap
    }
    val (global, driverLog) = DriverRowLimit(40L)(run())
    assert(driverLog === Seq("linear: driver mode, 40 samples"))
    val (dist, distLog) = DriverRowLimit(39L)(run())
    assert(distLog === Seq("linear: distributed mode, samples over the driver row limit"))
    assert(dist.keySet === global.keySet)
    for ((k, v) <- global) assert(math.abs(dist(k) - v) < 1e-9, s"qid=$k")
  }

  test("2.1M samples interpolate a plane exactly through the distributed path") {
    import spark.implicits._
    val n = 2100000L
    val pts = spark.range(n).select(
      (col("id") * 2 + 1).as("h1"), (col("id") * 2 + 2).as("h2"))
      .as[(Long, Long)]
      .map { case (h1, h2) =>
        val x = unit(mix(h1)) * 1000.0
        val y = unit(mix(h2)) * 1000.0
        (x, y, 3.0 * x + 5.0 * y + 7.0)
      }.toDF("x", "y", "z")
    // queries across a handful of cells, all interior
    val qs = (0 until 64).map { i =>
      (i.toLong, 100.0 + (i % 8) * 100.0 + 0.13, 100.0 + (i / 8) * 100.0 + 0.71)
    }.toDF("qid", "qx", "qy")
    // via linear(): the samples exceed a 2M driver row limit → auto-dispatch
    // to the distributed path (the old loud cap is gone)
    val out = DriverRowLimit(2000000L) {
      GridInterp.linear(pts, col("x"), col("y"), col("z"),
          qs, col("qid"), col("qx"), col("qy"), noData = -999.0)
        .as[(Long, Double)].collect()
    }
    assert(out.length === 64)
    out.foreach { case (id, v) =>
      val qx = 100.0 + (id % 8) * 100.0 + 0.13
      val qy = 100.0 + (id / 8) * 100.0 + 0.71
      val expect = 3.0 * qx + 5.0 * qy + 7.0
      assert(math.abs(v - expect) < 1e-6, s"qid=$id got $v expect $expect")
    }
  }
}
