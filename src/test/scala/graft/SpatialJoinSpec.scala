package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Geom, GPolygon}
import graft.operators.{KnnJoin, SpatialJoin}
import graft.sources.Pages

class SpatialJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def points(n: Int, seed: Long) = {
    (0 until n).map { i =>
      val h = Pages.mix(seed + i)
      val lon = ((h & 0xfffff) % 36000).toDouble / 100.0 - 180.0
      val lat = (((h >>> 24) & 0xfffff) % 18000).toDouble / 100.0 - 90.0
      (i.toLong, lon, lat)
    }.toDF("pid", "lon", "lat")
  }

  private def zonesDF(n: Int) =
    Pages.zones(n).toDF("zone_id", "wkt").withColumn("geom", gf.st_geomfromtext($"wkt")).drop("wkt")

  test("cell-bucketed PIP join matches brute force and never duplicates pairs") {
    val pts = points(3000, 99L).cache()
    val zs = zonesDF(40).cache()
    val expected = pts.crossJoin(zs)
      .filter(gf.st_contains_point($"geom", $"lon", $"lat"))
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    for (res <- Seq(4, 6, 9)) {
      val got = SpatialJoin.pointInPolygon(pts, $"lon", $"lat", zs, $"geom", res)
        .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
      assert(got === expected, s"res=$res")
      assert(got.distinct.size === got.size, "duplicate (point, zone) pairs")
    }
    assert(expected.nonEmpty, "fixture should produce matches")
  }

  test("boundary-inclusive PIP join matches brute force, also on zone edges and vertices") {
    val zs = zonesDF(40).cache()
    // points of the 0.0001-degree lattice exactly on the zones' vertices and
    // on their (axis-aligned) edges, where contains and intersects part ways
    def lattice(v: Double): Double = math.rint(v * 1e4) / 1e4
    val onEdges = Pages.zones(40).flatMap { case (_, wkt) =>
      val r = Geom.fromWkt(wkt).asInstanceOf[GPolygon].exterior
      (1 until r.numPoints).flatMap { i =>
        val (x0, y0, x1, y1) = (r.x(i - 1), r.y(i - 1), r.x(i), r.y(i))
        Seq((x0, y0), if (y0 == y1) (lattice((x0 + x1) / 2), y0) else (x0, lattice((y0 + y1) / 2)))
      }
    }
    val latticeIds = onEdges.indices.map(_ + 1000000L)
    val pts = points(3000, 5L).union(latticeIds.zip(onEdges)
      .map { case (id, (x, y)) => (id, x, y) }.toDF("pid", "lon", "lat")).cache()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    val expected = pairs(pts.crossJoin(zs).filter(gf.st_intersects_point($"geom", $"lon", $"lat")))
    for (res <- Seq(4, 6, 9)) {
      val got = pairs(SpatialJoin.pointIntersectsPolygon(pts, $"lon", $"lat", zs, $"geom", res))
      assert(got === expected, s"res=$res")
      assert(got.distinct.size === got.size, "duplicate (point, zone) pairs")
    }
    val onLattice = latticeIds.toSet
    val touching = expected.filter(p => onLattice(p._1))
    val contained = pairs(SpatialJoin.pointInPolygon(pts, $"lon", $"lat", zs, $"geom", 6))
      .filter(p => onLattice(p._1))
    assert(touching.map(_._1).distinct.size === onEdges.size, "every edge point touches its zone")
    assert(contained.toSet.subsetOf(touching.toSet))
    assert(contained.size < touching.size, "boundary points must separate the two predicates")
  }

  test("salted PIP join matches broadcast variant") {
    val pts = points(2000, 7L)
    val zs = zonesDF(25)
    val expected = SpatialJoin.pointInPolygon(pts, $"lon", $"lat", zs, $"geom", 6)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    val got = SpatialJoin.pointInPolygonSalted(pts, $"lon", $"lat", zs, $"geom", 6, nSalt = 4)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    assert(got === expected)
  }

  test("cell-ring kNN matches brute force") {
    val pts = points(4000, 3L).cache()
    val qs = Seq(
      (0L, 2.35, 48.85), (1L, -122.4, 37.78), (2L, 151.2, -33.86),
      (3L, 0.0, 0.0), (4L, 179.9, 89.9)).toDF("qid", "qlon", "qlat")
    val k = 7
    def key(r: org.apache.spark.sql.Row) = (r.getAs[Long]("qid"), r.getAs[Long]("pid"))
    val expected = KnnJoin.bruteForce(pts, $"lon", $"lat", qs, $"qid", $"qlon", $"qlat", k)
      .collect().map(key).sorted.toSeq
    val got = KnnJoin(pts, $"lon", $"lat", qs, $"qid", $"qlon", $"qlat", k, res = 7)
      .collect().map(key).sorted.toSeq
    assert(got === expected)
    assert(got.size === 5 * k)
  }

  test("per-partition k-d tree kNN matches brute force") {
    val pts = points(5000, 21L).repartition(7).cache()
    val qs = Seq((0L, 2.35, 48.85), (1L, -122.4, 37.78), (2L, 151.2, -33.86),
      (3L, 0.0, 0.0), (4L, 179.9, 89.9)).toDF("qid", "qlon", "qlat")
    val k = 9
    def key(r: org.apache.spark.sql.Row) = (r.getAs[Long]("qid"), r.getAs[Long]("pid"))
    val expected = KnnJoin.bruteForce(pts, $"lon", $"lat", qs, $"qid", $"qlon", $"qlat", k)
      .collect().map(key).sorted.toSeq
    val got = KnnJoin.kdTree(pts, $"pid", $"lon", $"lat", qs, $"qid", $"qlon", $"qlat", k)
      .collect().map(key).sorted.toSeq
    assert(got === expected)
  }

  test("kNN with fewer points than k returns all points per query") {
    val pts = points(3, 11L)
    val qs = Seq((0L, 10.0, 10.0)).toDF("qid", "qlon", "qlat")
    val got = KnnJoin(pts, $"lon", $"lat", qs, $"qid", $"qlon", $"qlat", k = 5, res = 6)
    assert(got.count() === 3)
  }
}
