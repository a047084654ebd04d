package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Ann, Dedup, GraphOps, KnnJoin, Multimodal, TextOps, UnionFind}

/** Operator edge-case regressions from the round-4 operators review. */
class OperatorEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("ANN: zero-norm vectors rank last, not first") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), // failed/padded embedding
      (4L, Array(0.0f, 1.0f))).toDF("id", "vec")
    val qs = Seq((10L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val top = Ann.cosineTopK(corpus, col("id"), col("vec"),
        qs, col("qid"), col("qvec"), 3)
      .orderBy(desc("cosine")).as[(Long, Long, Double)].collect()
    assert(top.map(_._2).toSeq == Seq(1L, 2L, 4L),
      s"zero vector must not displace true neighbors: ${top.toSeq}")
    assert(top.forall(!_._3.isNaN))
  }

  test("knn: empty points and k > dataset size return fewer rows, not a crash") {
    val qs = Seq((1L, 10.0, 10.0)).toDF("qid", "qlon", "qlat")
    val empty = Seq.empty[(Long, Double, Double)].toDF("id", "lon", "lat")
    val r0 = KnnJoin(empty, col("lon"), col("lat"),
      qs, col("qid"), col("qlon"), col("qlat"), k = 3, res = 6)
    assert(r0.count() == 0)
    val three = Seq((1L, 10.0, 10.0), (2L, 11.0, 10.0), (3L, 50.0, -20.0))
      .toDF("id", "lon", "lat")
    val r1 = KnnJoin(three, col("lon"), col("lat"),
      qs, col("qid"), col("qlon"), col("qlat"), k = 5, res = 6)
    assert(r1.count() == 3) // all points, ordered; fewer than k
    // high res: the proved box spans more cells than there are points,
    // so the query takes the sweep over every point
    val r2 = KnnJoin(three, col("lon"), col("lat"),
      qs, col("qid"), col("qlon"), col("qlat"), k = 2, res = 22)
    assert(r2.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("connectedComponents throws on non-convergence instead of splitting") {
    val chain = (0L until 6L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("u", "v")
    val ok = GraphOps.connectedComponents(chain, col("u"), col("v"))
    assert(ok.select(countDistinct(col("comp"))).as[Long].head() == 1L)
    assertThrows[IllegalStateException](
      UnionFind.roots(chain.toDF("a", "b"), maxRounds = 1).count())
  }

  test("kShortestPaths prices multigraph hops by the min parallel edge") {
    val edges = Seq((1L, 2L, 5.0), (1L, 2L, 1.0), (2L, 3L, 1.0),
      (1L, 3L, 10.0)).toDF("u", "v", "w")
    val paths = GraphOps.kShortestPaths(edges, col("u"), col("v"), col("w"),
        from = 1L, to = 3L, k = 2)
      .orderBy("rank").as[(Int, Double, Int, String)].collect()
    assert(paths(0)._4 == "1-2-3" && math.abs(paths(0)._2 - 2.0) < 1e-12)
    assert(paths(1)._4 == "1-3" && math.abs(paths(1)._2 - 10.0) < 1e-12)
  }

  test("resizeImages passes non-image payloads through untouched") {
    val audio = Multimodal.MediaRow(7L, "audio", "s3://bucket/media/7",
      Array.fill[Byte](64)(0x41), 0, 0)
    val out = Multimodal.resizeImages(Seq(audio).toDS(), maxSide = 16).head()
    assert(out.bytes != null && out.bytes.sameElements(audio.bytes))
  }

  test("exact dedup keys on the text itself (hash collisions cannot drop docs)") {
    val docs = Seq((1L, "aaaa"), (2L, "aaaa"), (3L, "bbbb")).toDF("doc_id", "text")
    val kept = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("kdTree knn ties resolve to the smallest ids (oracle order)") {
    val xs = Array(1.0, 0.0, -1.0)
    val ys = Array(0.0, 1.0, 0.0)
    val ids = Array(5L, 7L, 2L) // all at distance 1 from the origin
    val t = graft.index.KdTree.build(xs, ys, ids)
    assert(t.knn(0.0, 0.0, 2).map(_._2).toSeq == Seq(2L, 5L))
  }

  test("coverEnvelope rejects cell counts that would overflow, loudly") {
    val world = graft.core.Envelope(-180, -90, 180, 90)
    assertThrows[IllegalArgumentException](
      graft.index.CellGrid.coverEnvelope(world, 16))
    assert(graft.index.CellGrid.coverEnvelope(world, 5).nonEmpty)
  }

  test("page/zone synthesis is locale-independent (Locale.ROOT decimals)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma decimals
      val wkt = graft.sources.Pages.zones(2).head._2
      graft.core.Geom.fromWkt(wkt) // parses: dot decimals survived
      val pg = graft.sources.Pages.synth(spark, 50L)
        .selectExpr("geo_extract(text) AS c").selectExpr("size(c)")
        .as[Int].collect()
      assert(pg.exists(_ > 0), "no coordinates extracted under de locale")
    } finally java.util.Locale.setDefault(prev)
  }

  test("unitCount: whitespace is never a unit") {
    val df = Seq("a\tb", "line1\nline2", "hi, there!", "").toDF("t")
    val got = df.select(TextOps.unitCount(col("t"))).as[Int].collect().toSeq
    assert(got == Seq(2, 2, 4, 0), got.toString) // hi , there !
  }
}
