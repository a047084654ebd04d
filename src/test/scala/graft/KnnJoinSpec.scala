package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.operators.KnnJoin

/** `KnnJoin.apply` against `KnnJoin.bruteForce` on the cases its proved
  * radius has to get right: the antimeridian, the poles and out-of-domain
  * points, points on cell boundaries and ties cut by k, far queries, and a
  * plan whose job count does not depend on the data.
  */
class KnnJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** (qid, id, dist) rows, ordered by (qid, id). */
  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select($"qid", $"id", $"dist").as[(Long, Long, Double)].collect()
      .sortBy(r => (r._1, r._2)).toSeq

  private def knn(pts: DataFrame, qs: DataFrame, k: Int, res: Int): DataFrame =
    KnnJoin(pts, $"lon", $"lat", qs, $"qid", $"qlon", $"qlat", k, res, tieBreak = Seq($"id"))

  private def assertBruteForce(pts: DataFrame, qs: DataFrame, k: Int, res: Int): Seq[(Long, Long, Double)] = {
    val want = rows(KnnJoin.bruteForce(pts, $"lon", $"lat", qs, $"qid", $"qlon", $"qlat", k,
      tieBreak = Seq($"id")))
    val got = rows(knn(pts, qs, k, res))
    assert(got === want, s"k=$k res=$res")
    got
  }

  test("antimeridian: the planar nearest comes from the query's own side") {
    val pts = Seq((1L, 179.5, 0.0), (2L, 179.9, 0.3), (3L, 180.0, 0.0), (4L, 179.0, -0.5),
      (5L, -179.99, 0.0), (6L, -180.0, 0.0), (7L, -179.9, 0.1), (8L, -179.5, 0.0),
      (9L, 0.0, 0.0), (10L, 90.0, 45.0)).toDF("id", "lon", "lat")
    val qs = Seq((1L, 179.95, 0.0), (2L, -179.95, 0.0)).toDF("qid", "qlon", "qlat")
    for (res <- Seq(6, 8, 12)) {
      val got = assertBruteForce(pts, qs, 3, res)
      assert(got.filter(_._1 == 1L).map(_._2) === Seq(1L, 2L, 3L))
      assert(got.filter(_._1 == 2L).map(_._2) === Seq(5L, 6L, 7L))
    }
  }

  test("near the pole an out-of-domain point neither hides nor displaces a neighbour") {
    // (0, 95) clamps into the query's own top-row cell; counted there it
    // would prove a one-cell radius that misses (0, 86)
    val pts = Seq((1L, 0.0, 95.0), (2L, 0.0, 86.0), (3L, 10.0, 80.0), (4L, -50.0, 0.0),
      (5L, 100.0, -30.0)).toDF("id", "lon", "lat")
    val qs = Seq((1L, 0.0, 89.99)).toDF("qid", "qlon", "qlat")
    for (res <- Seq(6, 8); k <- 1 to 3) {
      val got = assertBruteForce(pts, qs, k, res)
      assert(got.map(_._2).toSet === Seq(2L, 1L, 3L).take(k).toSet)
    }
  }

  test("res-6 lattice: points on cell boundaries, at the bound distance, and ties cut by k") {
    // nodes of the res-6 grid (5.625° × 2.8125°), so every point sits on a
    // cell corner; duplicates put several points at each tied distance
    val lattice = for (i <- -3 to 3; j <- -3 to 3) yield (i * 5.625, j * 2.8125)
    val dups = Seq((0.0, 2.8125), (0.0, 2.8125), (5.625, 0.0), (5.625, 0.0), (0.0, 0.0))
    val pts = (lattice ++ dups).zipWithIndex
      .map { case ((x, y), i) => (1000L - i, x, y) } // ids against input order
      .toDF("id", "lon", "lat")
    val qs = Seq((1L, 0.0, 0.0), (2L, 2.8125, 1.40625), (3L, 5.625, 2.8125),
      (4L, -16.875, -8.4375)).toDF("qid", "qlon", "qlat")
    for (k <- Seq(1, 2, 3, 5, 8, 13)) assertBruteForce(pts, qs, k, 6)
  }

  test("a dense cluster and a query 40 degrees from every point") {
    val rnd = new scala.util.Random(5)
    val pts = (0 until 2000).map(i => (i.toLong, 10 + 2 * rnd.nextDouble(), 40 + 2 * rnd.nextDouble()))
      .toDF("id", "lon", "lat")
    val qs = Seq((1L, -30.0, 41.0), (2L, 11.0, 41.0)).toDF("qid", "qlon", "qlat")
    for (res <- Seq(6, 8)) assertBruteForce(pts, qs, 8, res)
  }

  test("random points and queries at every histogram regime") {
    val rnd = new scala.util.Random(9)
    val pts = (0 until 1500).map(i => (i.toLong, rnd.nextDouble() * 360 - 180,
        rnd.nextDouble() * 180 - 90)).toDF("id", "lon", "lat")
    val qs = (0 until 40).map(i => (i.toLong, rnd.nextDouble() * 380 - 190,
        rnd.nextDouble() * 190 - 95)).toDF("qid", "qlon", "qlat")
    for (res <- Seq(0, 3, 9, 11)) assertBruteForce(pts, qs, 6, res)
  }

  /** Spark jobs started while `f` runs. Listener events arrive in order, so
    * once a marker job's start is seen, every job of `f` has been counted.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.marker") != null)
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener queue not drained")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** A dense square around (5, 5) and, around each of (60 + 20i, 0), eight
    * points 3.9° away: at res 7 a ring of radius r covers 1.40625·r°, so
    * a doubling ring converges in one round in the square and in three
    * (r = 1, 2, 4) around the sparse centres.
    */
  private def twoDensities: DataFrame = {
    val rnd = new scala.util.Random(17)
    val dense = (0 until 3000).map(i => (i.toLong, 10 * rnd.nextDouble(), 10 * rnd.nextDouble()))
    val sparse = for (c <- 0 until 5; j <- 0 until 8) yield {
      val a = 2 * math.Pi * j / 8
      (10000L + 8 * c + j, 60.0 + 20 * c + 3.9 * math.cos(a), 3.9 * math.sin(a))
    }
    (dense ++ sparse).toDF("id", "lon", "lat")
  }

  test("the job count does not depend on how far the neighbours are") {
    val pts = twoDensities.cache()
    pts.count()
    val near = (0 until 5).map(i => (i.toLong, 3.0 + i, 5.0)).toDF("qid", "qlon", "qlat")
    val far = (0 until 5).map(i => (i.toLong, 60.0 + 20 * i, 0.0)).toDF("qid", "qlon", "qlat")
    def jobs(qs: DataFrame): Int = {
      var got = Seq.empty[(Long, Long, Double)]
      val n = jobsOf { got = rows(knn(pts, qs, 8, 7)) }
      assert(got.size === 40)
      n
    }
    val oneRound = jobs(near)
    assert(oneRound > 0)
    assert(jobs(far) === oneRound, "jobs for neighbours 3.9° away vs inside a dense square")
    assertBruteForce(pts, far, 8, 7)
    pts.unpersist()
  }

  /** Every node of an executed adaptive plan, query stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  test("the sweep scans the points only when a query takes it") {
    val dir = Files.createTempDirectory("graft-knn-sweep").toString
    twoDensities.write.mode("overwrite").parquet(dir)
    val pts = spark.read.parquet(dir)
    val n = pts.count()
    def scanned(qs: DataFrame): (Long, Boolean) = {
      val out = knn(pts, qs, 8, 7)
      out.collect()
      val plan = nodes(out.queryExecution.executedPlan)
      (plan.collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum,
        plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    }
    val near = Seq((0L, 5.0, 5.0)).toDF("qid", "qlon", "qlat")
    assert(scanned(near) === (n, false), "no query takes the sweep")
    // 8 neighbours of a query in the far south lie ~80° away: its box
    // spans more res-7 cells than there are points
    val south = Seq((0L, 5.0, 5.0), (1L, -100.0, -85.0)).toDF("qid", "qlon", "qlat")
    assert(scanned(south) === (2 * n, true), "one query takes the sweep")
    assertBruteForce(pts, south, 8, 7)
  }
}
