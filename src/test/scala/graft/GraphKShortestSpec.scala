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
}
