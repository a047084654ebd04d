package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gf
import graft.index.CellGrid

/** Exact kNN join over cell buckets — the distributed re-expression of
  * the reference's expanding quadtree radius search
  * (`gdal/alg/gdalgrid.cpp:265-385`; quadtree search
  * `gdal/port/cpl_quad_tree.cpp:682`), in one pass over a proved radius:
  *  1. one aggregate counts the points of [-180,180]×[-90,90] per cell at
  *     h = min(res, 10) into a broadcast (2^h+1)² summed-area table;
  *  2. per query (a map; queries are never collected): r0 is the smallest
  *     Chebyshev radius whose box of h-cells around the query's — clamped,
  *     not wrapped — holds ≥ k counted points (binary search), and d the
  *     distance to that box's farthest lon/lat corner plus [[Slack]]
  *     (∞ when fewer than k points are counted);
  *  3. the query equi-joins the points of the `res` cells that cover
  *     [qlon ± d] × [qlat ± d], clamped and not wrapped, as the planar
  *     distance does not wrap. A query with d = ∞, or whose box spans more
  *     cells than there are points, takes every point in a broadcast
  *     cross join, which AQE drops when no query takes it;
  *  4. one `row_number` window by (dist, tieBreak…) keeps k per query.
  *
  * Proof: the box holds ≥ k points, all within d (a rectangle's farthest
  * point from the query is a corner), so the k-th neighbour is at ≤ d.
  * Every point within that distance, ties included, lies in the square of
  * step 3 and buckets into one of its cells: `cell_of` is monotone and
  * clamps like the square, out-of-domain points included (step 1 skips
  * them, as their clamped cell bounds no distance). So the window sees a
  * superset of the global top-k. The slack covers the rounding of the
  * corner distance, of the bucketing and of the planar distance (about
  * 1e-13° at these magnitudes).
  */
object KnnJoin {

  /** Added to every proved radius; see the proof above. */
  private val Slack = 1e-9

  /** @param points DataFrame with (idCols..., lon, lat)
    * @param queries DataFrame with (qid, qlon, qlat); it stays distributed
    * @param k neighbors per query
    * @param res cell resolution of the candidate join
    * @param tieBreak order among equal distances (default: lon, lat)
    * @return points columns + qid + dist, exactly k rows per query (fewer
    *         if the whole dataset has < k points)
    */
  def apply(points: DataFrame, lon: Column, lat: Column,
            queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
            k: Int, res: Int, tieBreak: Seq[Column] = Nil): DataFrame = {
    val h = math.min(res, 10) // at most 4^10 cells: a table of 8 MiB
    val w = (1 << h) + 1
    // points per h-cell; out-of-domain and null points count as cell -1
    val inDomain = lon.between(-180.0, 180.0) && lat.between(-90.0, 90.0)
    val counts = points.groupBy(when(inDomain, gf.cell_of(lon, lat, h)).otherwise(-1L))
      .count().collect().map(r => (r.getLong(0), r.getLong(1)))
    // sat(y·w + x) = counted points in the h-cells [0, x) × [0, y)
    val sat = new Array[Long](w * w)
    for ((c, m) <- counts if c >= 0) sat((CellGrid.iy(c).toInt + 1) * w + CellGrid.ix(c).toInt + 1) = m
    for (y <- 1 until w; x <- 1 until w)
      sat(y * w + x) += sat((y - 1) * w + x) + sat(y * w + x - 1) - sat((y - 1) * w + x - 1)
    val table = points.sparkSession.sparkContext.broadcast(sat)
    val radius = udf((x: Double, y: Double) => provedRadius(table.value, h, k, x, y))

    val q = queries.select(qid.cast("long").as("__qid"),
        qlon.cast("double").as("__qlon"), qlat.cast("double").as("__qlat"))
      .withColumn("__d", radius(col("__qlon"), col("__qlat")))
    val box = new CellBox(col("__qlon"), col("__qlat"), col("__d"), res)
    val sweep = col("__d").isNull || col("__d") === Double.PositiveInfinity ||
      box.size > counts.iterator.map(_._2).sum
    val pts = points.withColumn("__pcell", gf.cell_of(lon, lat, res))
    val cand = pts.join(box.explodeCells(q.filter(!sweep), "__qcell"),
        col("__pcell") === col("__qcell"))
      .drop("__qcell")
      .unionByName(pts.crossJoin(broadcast(q.filter(sweep))))
    // plain products (not pow): bit-identical across engines for oracles
    val dist = sqrt((lon - col("__qlon")) * (lon - col("__qlon")) +
      (lat - col("__qlat")) * (lat - col("__qlat")))
    val tb = if (tieBreak.nonEmpty) tieBreak else Seq(lon, lat)
    cand
      .withColumn("__dist", dist)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__qid")).orderBy(col("__dist") +: tb: _*)))
      .filter(col("__rn") <= k)
      .drop("__rn", "__pcell", "__qlon", "__qlat", "__d")
      .withColumnRenamed("__qid", "qid")
      .withColumnRenamed("__dist", "dist")
  }

  /** Step 2 for a query at (x, y), given the summed-area table `sat` of
    * the h-cell counts.
    */
  private def provedRadius(sat: Array[Long], h: Int, k: Int, x: Double, y: Double): Double = {
    val (n, w) = (1 << h, (1 << h) + 1)
    if (sat(w * w - 1) < k || x.isNaN || y.isNaN) return Double.PositiveInfinity
    val (cx, cy) = (CellGrid.lonToIx(x, h).toInt, CellGrid.latToIy(y, h).toInt)
    // h-cells [x0, x1) × [y0, y1) of the clamped box of radius r
    def box(r: Int) = (math.max(0, cx - r), math.min(n, cx + r + 1),
      math.max(0, cy - r), math.min(n, cy + r + 1))
    def count(r: Int) = box(r) match {
      case (x0, x1, y0, y1) => sat(y1 * w + x1) - sat(y0 * w + x1) - sat(y1 * w + x0) + sat(y0 * w + x0)
    }
    var (lo, hi) = (0, n - 1) // radius n - 1 covers the grid
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (count(mid) >= k) hi = mid else lo = mid + 1 }
    val (x0, x1, y0, y1) = box(lo)
    def far(v: Double, i0: Int, i1: Int, lo: Double, span: Double) =
      math.max(math.abs(v - (lo + span * i0 / n)), math.abs(v - (lo + span * i1 / n)))
    val (dx, dy) = (far(x, x0, x1, -180.0, 360.0), far(y, y0, y1, -90.0, 180.0))
    math.sqrt(dx * dx + dy * dy) + Slack
  }

  /** The `res` cells that cover the square [x − r, x + r] × [y − r, y + r]
    * by `cell_of`'s bucketing, clamped to the grid and not wrapped in
    * longitude: the kNN candidates and [[GridInterp]]'s search ellipses.
    */
  private[operators] final class CellBox(x: Column, y: Column, r: Column, res: Int) {
    private val n = CellGrid.cellsPerAxis(res)
    private def ix(c: Column, lo: Double, span: Double): Column =
      least(greatest(floor((c + lo) / span * n), lit(0.0)), lit((n - 1).toDouble)).cast("long")
    private val (x0, x1, y0, y1) =
      (ix(x - r, 180.0, 360.0), ix(x + r, 180.0, 360.0), ix(y - r, 90.0, 180.0), ix(y + r, 90.0, 180.0))

    def size: Column = (x1 - x0 + 1) * (y1 - y0 + 1)

    /** `df` with one row per covered cell, its id in column `name`. */
    def explodeCells(df: DataFrame, name: String): DataFrame = df
      .withColumn("__cx", explode(sequence(x0, x1)))
      .withColumn("__cy", explode(sequence(y0, y1)))
      .withColumn(name, lit(res.toLong << 52) + col("__cx") * (1L << 26) + col("__cy"))
      .drop("__cx", "__cy")
  }

  /** Exact kNN via a per-partition k-d tree (the north-star variant):
    * every partition builds a local tree once, answers all queries with
    * branch-and-bound, and the per-partition top-k lists merge globally —
    * one pass over the points, no candidate shuffle (only P×Q×k rows move).
    * Right when the query set is broadcastable; the cell-bucketed variant
    * above is the path for huge query sets (it never joins points outside
    * candidate cells).
    */
  def kdTree(points: DataFrame, id: Column, lon: Column, lat: Column,
             queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
             k: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val qs = queries.select(qid.cast("long").as("qid"),
      qlon.cast("double").as("qlon"), qlat.cast("double").as("qlat"))
      .as[(Long, Double, Double)].collect()
    val qsB = spark.sparkContext.broadcast(qs)
    val pts = points.select(id.cast("long").as("id"),
      lon.cast("double").as("lon"), lat.cast("double").as("lat"))
      .as[(Long, Double, Double)]
    val partial = pts.mapPartitions { it =>
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val tree = graft.index.KdTree.build(
          rows.map(_._2), rows.map(_._3), rows.map(_._1))
        qsB.value.iterator.flatMap { case (q, qx, qy) =>
          tree.knn(qx, qy, k).iterator.map { case (d2, pid) => (q, pid, d2) }
        }
      }
    }.toDF("qid", "pid", "__d2")
    partial
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("__d2"), col("pid"))))
      .filter(col("__rn") <= k)
      .select(col("qid"), col("pid"), sqrt(col("__d2")).as("dist"))
  }

  /** Brute-force reference implementation (cross join + window) — the
    * oracle for the cell-bucketed variant and the right plan when the point
    * set is tiny. Ties order by `tieBreak` (default: lon, lat), as in
    * [[apply]].
    */
  def bruteForce(points: DataFrame, lon: Column, lat: Column,
                 queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
                 k: Int, tieBreak: Seq[Column] = Nil): DataFrame = {
    val q = queries.select(qid.cast("long").as("qid"),
      qlon.cast("double").as("qlon"), qlat.cast("double").as("qlat"))
    val dist = sqrt((lon - col("qlon")) * (lon - col("qlon")) +
      (lat - col("qlat")) * (lat - col("qlat")))
    val tb = if (tieBreak.nonEmpty) tieBreak else Seq(lon, lat)
    points.crossJoin(broadcast(q))
      .withColumn("dist", dist)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist") +: tb: _*)))
      .filter(col("__rn") <= k)
      .drop("__rn", "qlon", "qlat")
  }
}
