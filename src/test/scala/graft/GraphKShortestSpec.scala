package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** Distributed Yen (batched multi-source spur SSSP) against the in-memory
  * variant — the scale path past the driver edge cap must agree with the
  * broadcastable-graph path on the same input.
  */
class GraphKShortestSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** The exact q_graph_kshortest fixture: 4×3 grid DAG, 0→11, k=4. */
  private def gridEdges = {
    val rights = for (r <- 0 until 4; c <- 0 until 2) yield (r * 3 + c, r * 3 + c + 1)
    val downs = for (r <- 0 until 3; c <- 0 until 3) yield (r * 3 + c, (r + 1) * 3 + c)
    import spark.implicits._
    (rights ++ downs).toDF("u", "v")
      .withColumn("w", ((col("u") * 7 + col("v") * 13) % 10 + 1).cast("double"))
  }

  test("distributed Yen matches in-memory on the oracled grid fixture") {
    val mem = GraphOps.kShortestPaths(gridEdges, col("u"), col("v"), col("w"),
      0L, 11L, 4).orderBy("rank").collect()
    val dist = GraphOps.kShortestPathsDistributed(gridEdges, col("u"), col("v"),
      col("w"), 0L, 11L, 4).orderBy("rank").collect()
    assert(dist.map(r => (r.getInt(0), r.getDouble(1), r.getInt(2))).toSeq ===
      mem.map(r => (r.getInt(0), r.getDouble(1), r.getInt(2))).toSeq)
    // costs on this fixture are distinct, so the paths must agree too
    assert(dist.map(_.getString(3)).toSeq === mem.map(_.getString(3)).toSeq)
  }

  test("cap dispatch degrades to the distributed search, same results") {
    val viaCap = DriverRowLimit(1L) {
      GraphOps.kShortestPaths(gridEdges, col("u"), col("v"), col("w"),
        0L, 11L, 4).orderBy("rank").collect()
    }
    val mem = GraphOps.kShortestPaths(gridEdges, col("u"), col("v"), col("w"),
      0L, 11L, 4).orderBy("rank").collect()
    assert(viaCap.map(_.toSeq).toSeq === mem.map(_.toSeq).toSeq)
  }

  test("kShortestPaths logs the mode the driver row limit picks") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 3.0)).toDF("u", "v", "w")
    def run() = LogCapture.logged("graft.operators.GraphOps") {
      GraphOps.kShortestPaths(edges, col("u"), col("v"), col("w"), 0L, 2L, 2)
        .orderBy("rank").collect().map(_.toSeq).toSeq
    }
    val (mem, memLog) = DriverRowLimit(3L)(run())
    assert(memLog === Seq("kShortestPaths: driver mode, 3 edges"))
    val (dist, distLog) = DriverRowLimit(2L)(run())
    assert(distLog === Seq("kShortestPaths: distributed mode, edges over the driver row limit"))
    assert(dist === mem)
    assert(mem === Seq(Seq(1, 2.0, 2, "0-1-2"), Seq(2, 3.0, 1, "0-2")))
  }

  test("distributed Yen on a denser random digraph (distinct costs)") {
    import spark.implicits._
    // 40 vertices, ~5 out-edges each, deterministic high-precision weights
    // (sums in general position — no exact cost ties, so both variants
    // must return identical paths)
    val edges = (for {
      u <- 0 until 40
      j <- 1 to 5
    } yield {
      val h = graft.sources.Pages.mix(u * 131L + j * 9176L)
      val v = math.floorMod(h, 40L).toInt
      val w = 1.0 + math.floorMod(h >>> 17, 100000L).toDouble / 9973.0
      (u.toLong, v.toLong, w)
    }).filter { case (u, v, _) => u != v }
      .toDF("u", "v", "w")
    val mem = GraphOps.kShortestPaths(edges, col("u"), col("v"), col("w"),
      0L, 37L, 5).orderBy("rank").collect()
    val dist = GraphOps.kShortestPathsDistributed(edges, col("u"), col("v"),
      col("w"), 0L, 37L, 5).orderBy("rank").collect()
    assert(mem.nonEmpty)
    // identical ranks/hops/paths; costs to 1e-9 (the two variants sum the
    // same edge weights in different association orders)
    assert(dist.map(r => (r.getInt(0), r.getInt(2), r.getString(3))).toSeq ===
      mem.map(r => (r.getInt(0), r.getInt(2), r.getString(3))).toSeq)
    dist.zip(mem).foreach { case (d, m) =>
      assert(math.abs(d.getDouble(1) - m.getDouble(1)) < 1e-9)
    }
  }

  /** 0 → 1 → … → 52, unit weights: every shortest path from 0 is as long
    * as its target id, up to 52 hops.
    */
  private def chain = {
    import spark.implicits._
    (0L until 52L).map(u => (u, u + 1, 1.0)).toDF("u", "v", "w")
  }

  test("shortestPaths settles a 52-edge chain") {
    import spark.implicits._
    val sp = GraphOps.shortestPaths(chain, col("u"), col("v"), col("w"), 0L)
      .as[(Long, Double)].collect().toMap
    assert(sp === (0L to 52L).map(v => v -> v.toDouble).toMap)
  }

  test("distributed kShortestPaths settles a 52-hop spur search") {
    import spark.implicits._
    // plus a direct 0 → 52 edge, so the second level finds a 1-hop path
    val edges = chain.union(Seq((0L, 52L, 100.0)).toDF("u", "v", "w"))
    def run() = GraphOps.kShortestPaths(edges, col("u"), col("v"), col("w"),
      0L, 52L, 2).orderBy("rank").collect().map(_.toSeq).toSeq
    val dist = DriverRowLimit(1L)(run())
    assert(dist === Seq(Seq(1, 52.0, 52, (0 to 52).mkString("-")), Seq(2, 100.0, 1, "0-52")))
    assert(dist === run())
  }

  test("negative, NaN and null weights are rejected naming the edge") {
    import spark.implicits._
    for (bad <- Seq(Some(-1.0), Some(Double.NaN), None)) {
      val edges = Seq((0L, 1L, Some(1.0)), (1L, 2L, bad)).toDF("u", "v", "w")
      val runs = Seq[(String, () => Any)](
        "shortestPaths" -> (() =>
          GraphOps.shortestPaths(edges, col("u"), col("v"), col("w"), 0L).collect()),
        "driver kShortestPaths" -> (() =>
          GraphOps.kShortestPaths(edges, col("u"), col("v"), col("w"), 0L, 2L, 2).collect()),
        "distributed kShortestPaths" -> (() => DriverRowLimit(1L) {
          GraphOps.kShortestPaths(edges, col("u"), col("v"), col("w"), 0L, 2L, 2).collect()
        }))
      for ((name, run) <- runs) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("edge 1 -> 2 has weight"), s"$name, weight $bad")
      }
    }
  }
}
