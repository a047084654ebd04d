package graft.operators

import graft.core.Ckpt.CkptOps
import graft.core.DriverRows
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gf

/** Gridding / interpolation aggregates — the distributed re-expression of
  * `/root/reference/gdal/alg/gdalgrid.cpp`:
  *  - data-metrics per output cell (count / min / max / range / average
  *    distance; `gdalgrid.cpp:794-1000`) become a plain groupBy(cell).agg
  *    with map-side partial aggregation;
  *  - inverse-distance-to-a-power with nearest-neighbor search
  *    (`gdalgrid.cpp:265` GDALGridInverseDistanceToAPowerNearestNeighbor):
  *    weight = 1/(r²)^(p/2) over the k closest samples within a radius,
  *    exact-hit short-circuit, nodata below minPoints — the quadtree
  *    search is replaced by the one-pass cell-bucketed kNN join.
  */
object GridInterp {

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.operators.GridInterp")

  /** Per-cell data metrics of a point set (gdalgrid "metrics" family). */
  def cellMetrics(points: DataFrame, lon: Column, lat: Column, value: Column,
                  res: Int): DataFrame =
    points.groupBy(gf.cell_of(lon, lat, res).as("cell"))
      .agg(count(lit(1)).as("n"),
        min(value).as("min_v"), max(value).as("max_v"),
        (max(value) - min(value)).as("range_v"),
        avg(value).as("avg_v"))

  /** IDW-NN interpolation at query points.
    *
    * @param points samples with a value column
    * @param queries small set of (qid, qlon, qlat) interpolation sites
    * @param k nMaxPoints (closest-k cap)
    * @param minPoints below this → nodata
    * @param power weighting power p
    */
  def idwNearestNeighbor(points: DataFrame, lon: Column, lat: Column, value: Column,
                         queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
                         k: Int, res: Int, power: Double = 2.0,
                         minPoints: Int = 1, noData: Double = 0.0): DataFrame = {
    val pts = points.withColumn("__v", value)
    val knn = KnnJoin(pts, lon, lat, queries, qid, qlon, qlat, k, res,
      tieBreak = Seq(lon, lat))
    // weight 1/(r2)^(p/2); exact hits (r2 ~ 0) take the sample value
    // directly (reference threshold 1e-13 on r², gdalgrid.cpp:341)
    val r2 = col("dist") * col("dist")
    val exactHit = r2 < 1e-13
    val invW = lit(1.0) / pow(r2, power / 2.0)
    knn.groupBy(col("qid"))
      .agg(
        max(when(exactHit, col("__v"))).as("__exact"),
        sum(when(!exactHit, invW * col("__v")).otherwise(0.0)).as("__nom"),
        sum(when(!exactHit, invW).otherwise(0.0)).as("__den"),
        count(lit(1)).as("__n"))
      .select(col("qid"),
        when(col("__exact").isNotNull, col("__exact"))
          .when(col("__n") < minPoints || col("__den") === 0.0, lit(noData))
          .otherwise(col("__nom") / col("__den")).as("idw"))
  }

  /** Candidate (query, point) pairs within the search-ellipse bounding box
    * via cell bucketing: the query side explodes the cell range its bbox
    * covers, then equi-joins the single-cell point side. Shared by the
    * ellipse-search algorithms below.
    */
  private def ellipseCandidates(points: DataFrame, lon: Column, lat: Column, value: Column,
                                queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
                                radius1: Double, radius2: Double, angle: Double,
                                res: Int): DataFrame = {
    val rmax = math.max(radius1, radius2)
    val q = new KnnJoin.CellBox(col("__qlon"), col("__qlat"), lit(rmax), res)
      .explodeCells(queries.select(qid.cast("long").as("__qid"),
        qlon.cast("double").as("__qlon"), qlat.cast("double").as("__qlat")), "__qcell")
    val pts = points.select(lon.cast("double").as("__px"),
        lat.cast("double").as("__py"), value.cast("double").as("__v"))
      .withColumn("__pcell", gf.cell_of(col("__px"), col("__py"), res))
    // ellipse membership mirror of gdalgrid.cpp:587: rotate, then
    // r2²·RX² + r1²·RY² ≤ r1²·r2²
    val r1sq = radius1 * radius1
    val r2sq = radius2 * radius2
    val aRad = math.toRadians(angle)
    val (c1, c2) = (math.cos(aRad), math.sin(aRad))
    val rx0 = col("__px") - col("__qlon")
    val ry0 = col("__py") - col("__qlat")
    val (rx, ry) =
      if (angle == 0.0) (rx0, ry0)
      else (rx0 * c1 + ry0 * c2, ry0 * c1 - rx0 * c2)
    pts.join(q, col("__pcell") === col("__qcell"))
      .withColumn("__rx", rx).withColumn("__ry", ry)
      .filter(col("__rx") * col("__rx") * r2sq + col("__ry") * col("__ry") * r1sq
        <= r1sq * r2sq)
  }

  /** Moving average (`gdalgrid.cpp:540` GDALGridMovingAverage): mean of
    * all samples inside the search ellipse; < minPoints → noData.
    */
  def movingAverage(points: DataFrame, lon: Column, lat: Column, value: Column,
                    queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
                    radius1: Double, radius2: Double, res: Int,
                    angle: Double = 0.0, minPoints: Int = 0,
                    noData: Double = 0.0): DataFrame = {
    val cand = ellipseCandidates(points, lon, lat, value,
      queries, qid, qlon, qlat, radius1, radius2, angle, res)
    val agg = cand.groupBy(col("__qid"))
      .agg(sum(col("__v")).as("__acc"), count(lit(1)).as("__n"))
    queries.select(qid.cast("long").as("qid")).distinct()
      .join(agg, col("qid") === col("__qid"), "left")
      .select(col("qid"),
        when(col("__n").isNull || col("__n") < math.max(minPoints, 1), lit(noData))
          .otherwise(col("__acc") / col("__n")).as("avg_v"))
  }

  /** Nearest neighbor (`gdalgrid.cpp:635` GDALGridNearestNeighbor): the
    * value of the closest sample inside the search ellipse; none → noData.
    * `tieBreak` replaces the reference's input-array-order tie (meaningless
    * under distribution) with an explicit deterministic order.
    */
  def nearestNeighbor(points: DataFrame, lon: Column, lat: Column, value: Column,
                      queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
                      radius1: Double, radius2: Double, res: Int,
                      angle: Double = 0.0, noData: Double = 0.0,
                      tieBreak: Seq[Column] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = ellipseCandidates(points, lon, lat, value,
      queries, qid, qlon, qlat, radius1, radius2, angle, res)
    val r2 = col("__rx") * col("__rx") + col("__ry") * col("__ry")
    val tb = if (tieBreak.nonEmpty) tieBreak else Seq(col("__px"), col("__py"))
    val best = cand.withColumn("__r2", r2)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__qid")).orderBy(col("__r2") +: tb: _*)))
      .filter(col("__rn") === 1)
      .select(col("__qid"), col("__v"))
    queries.select(qid.cast("long").as("qid")).distinct()
      .join(best, col("qid") === col("__qid"), "left")
      .select(col("qid"), coalesce(col("__v"), lit(noData)).as("nn_v"))
  }

  /** Linear (Delaunay) interpolation (GDALGridLinear). The selected
    * samples are probed once with [[graft.core.DriverRows.fit]]. When they
    * fit under the driver row limit they are triangulated ONCE on the
    * driver (the reference also holds every point in memory for its global
    * triangulation) and the triangulation is broadcast; queries
    * interpolate barycentrically in parallel. Outside the hull → noData.
    * Over the limit the call dispatches to [[linearDistributed]] — same
    * results, no driver collection. Logs one `info` event naming the mode.
    */
  def linear(points: DataFrame, lon: Column, lat: Column, value: Column,
             queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
             noData: Double = 0.0): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val collected = DriverRows.fit(points.select(lon.cast("double"), lat.cast("double"),
      value.cast("double")).as[(Double, Double, Double)]) match {
      case Some(rows) =>
        log.info(s"linear: driver mode, ${rows.length} samples")
        rows
      case None =>
        log.info("linear: distributed mode, samples over the driver row limit")
        // grid-cell local triangulations with a circumcircle-containment
        // proof of global-Delaunay equality
        return linearDistributed(points, lon, lat, value,
          queries, qid, qlon, qlat, noData)
    }
    // dedupe by (x, y) keeping the first value — duplicate coordinates
    // corrupt the Bowyer-Watson cavity (matching delaunayTriangulation's
    // .distinct hygiene)
    val seen = scala.collection.mutable.HashSet.empty[(Double, Double)]
    val samples = collected.filter(s => seen.add((s._1, s._2)))
    val xs = samples.map(_._1); val ys = samples.map(_._2); val zs = samples.map(_._3)
    val tris = graft.core.Delaunay.triangulate(xs, ys)
    val bc = spark.sparkContext.broadcast((xs, ys, zs, tris))
    queries.select(qid.cast("long").as("qid"),
        qlon.cast("double").as("qlon"), qlat.cast("double").as("qlat"))
      .as[(Long, Double, Double)]
      .map { case (id, qx, qy) =>
        val (bxs, bys, bzs, btris) = bc.value
        (id, graft.core.Delaunay.interpolate(bxs, bys, bzs, btris, qx, qy)
          .getOrElse(noData))
      }.toDF("qid", "lin_v")
  }

  // public: Spark's generated encoder projections need access
  final case class CPt(cell: Long, x: Double, y: Double, z: Double)
  final case class CQry(cell: Long, qid: Long, qx: Double, qy: Double)
  final case class LinRes(cell: Long, qid: Long, qx: Double, qy: Double,
                          v: Double, done: Boolean)

  /** Distributed GDALGridLinear for sample sets beyond driver memory:
    * grid-cell-partitioned LOCAL Delaunay triangulations with a growing
    * halo and a circumcircle-containment PROOF of exactness.
    *
    * A query in cell c at halo h sees every sample whose cell lies in the
    * box B = c ± h. The local triangulation of those samples is Delaunay
    * among them; if the triangle containing the query has its circumcircle
    * strictly inside B's coordinate box, no un-gathered sample can invade
    * the circle, so the triangle is in the GLOBAL Delaunay triangulation
    * and the interpolated value is exact — not an approximation.
    * Unverified queries re-run at double the halo (only per-round
    * COUNTS leave the executors, never samples); once B covers the whole
    * extent the local triangulation IS the global one, so termination is
    * guaranteed. Queries outside the sample envelope are outside the hull
    * and short-circuit to noData.
    *
    * Work per query cell is bounded by local density, not total sample
    * count — on a 1000-executor cluster each cell group triangulates only
    * its neighborhood, embarrassingly parallel across cells.
    */
  def linearDistributed(points: DataFrame, lon: Column, lat: Column, value: Column,
                        queries: DataFrame, qid: Column, qlon: Column, qlat: Column,
                        noData: Double = 0.0, targetPerCell: Int = 512): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val pts0 = points.select(lon.cast("double").as("x"), lat.cast("double").as("y"),
      value.cast("double").as("z"))
    val (minX, maxX, minY, maxY, n) =
      pts0.agg(min($"x"), max($"x"), min($"y"), max($"y"), count(lit(1)))
        .as[(Double, Double, Double, Double, Long)].head()
    require(n >= 3, "GridInterp.linearDistributed: need at least 3 samples")
    val side = math.max(1, math.ceil(math.sqrt(
      math.max(1.0, n.toDouble / targetPerCell))).toInt)
    val cw = { val w = (maxX - minX) / side; if (w > 0) w else 1.0 }
    val ch = { val w = (maxY - minY) / side; if (w > 0) w else 1.0 }
    @inline def cellIx(v: Double, lo: Double, w: Double): Int =
      math.min(side - 1, math.max(0, math.floor((v - lo) / w).toInt))
    def key(cx: Int, cy: Int): Long = (cx.toLong << 32) | (cy.toLong & 0xffffffffL)

    val cellPts = pts0.as[(Double, Double, Double)]
      .map { case (x, y, z) => CPt(key(cellIx(x, minX, cw), cellIx(y, minY, ch)), x, y, z) }
      .persist()
    cellPts.count() // materialize once; reused every round

    val q0 = queries.select(qid.cast("long"), qlon.cast("double"), qlat.cast("double"))
      .as[(Long, Double, Double)]
      .map { case (id, qx, qy) =>
        CQry(key(cellIx(qx, minX, cw), cellIx(qy, minY, ch)), id, qx, qy)
      }
    // outside the sample envelope ⇒ outside the hull ⇒ noData, no rounds
    val inEnv = q0.filter(q => q.qx >= minX && q.qx <= maxX && q.qy >= minY && q.qy <= maxY)
    val outEnv = q0.filter(q => !(q.qx >= minX && q.qx <= maxX && q.qy >= minY && q.qy <= maxY))
      .map(q => (q.qid, noData)).toDF("qid", "lin_v")

    var unresolved = inEnv.persist()
    var resolved: DataFrame = null
    var h = 1
    while (unresolved.count() > 0) {
      val coversAll = h >= side
      val needed = unresolved.map(_.cell).distinct().collect().toSet
      val bNeeded = spark.sparkContext.broadcast(needed)
      val hh = h
      val shipped = cellPts.flatMap { p =>
        val pcx = (p.cell >> 32).toInt; val pcy = p.cell.toInt
        val set = bNeeded.value
        // emit to each NEEDED cell within Chebyshev distance h — iterate
        // whichever enumeration is smaller (offsets vs needed list)
        val span = 2L * hh + 1
        if (span * span <= set.size) {
          val out = scala.collection.mutable.ArrayBuffer.empty[CPt]
          var dx = -hh
          while (dx <= hh) {
            var dy = -hh
            while (dy <= hh) {
              val k = key(pcx + dx, pcy + dy)
              if (set.contains(k)) out += p.copy(cell = k)
              dy += 1
            }
            dx += 1
          }
          out.iterator
        } else set.iterator.filter { k =>
          val cx = (k >> 32).toInt; val cy = k.toInt
          math.abs(cx - pcx) <= hh && math.abs(cy - pcy) <= hh
        }.map(k => p.copy(cell = k))
      }
      val res = shipped.groupByKey(_.cell)
        .cogroup(unresolved.groupByKey(_.cell)) { (cellKey, pit, qit) =>
          val qs = qit.toArray
          if (qs.isEmpty) Iterator.empty
          else {
            val cx = (cellKey >> 32).toInt; val cy = cellKey.toInt
            // coordinate box of the gathered cells (un-gathered samples
            // are provably outside it)
            val bLoX = minX + (cx - hh).toDouble * cw
            val bHiX = minX + (cx + hh + 1).toDouble * cw
            val bLoY = minY + (cy - hh).toDouble * ch
            val bHiY = minY + (cy + hh + 1).toDouble * ch
            val margin = 1e-9 * math.max(cw, ch)
            val seen = scala.collection.mutable.HashSet.empty[(Double, Double)]
            val arr = pit.filter(p => seen.add((p.x, p.y))).toArray
            if (arr.length < 3)
              qs.iterator.map(q => LinRes(q.cell, q.qid, q.qx, q.qy, noData, coversAll))
            else {
              val xs = arr.map(_.x); val ys = arr.map(_.y); val zs = arr.map(_.z)
              val tris = graft.core.Delaunay.triangulate(xs, ys)
              qs.iterator.map { q =>
                graft.core.Delaunay.interpolateTri(xs, ys, zs, tris, q.qx, q.qy) match {
                  case Some((ti, v)) =>
                    val (ox, oy, r) = graft.core.Delaunay.circumcircle(xs, ys, tris(ti))
                    val inside = ox - r >= bLoX + margin && ox + r <= bHiX - margin &&
                      oy - r >= bLoY + margin && oy + r <= bHiY - margin
                    LinRes(q.cell, q.qid, q.qx, q.qy, v, inside || coversAll)
                  case None =>
                    // outside the LOCAL hull proves nothing until the box
                    // covers everything
                    LinRes(q.cell, q.qid, q.qx, q.qy, noData, coversAll)
                }
              }
            }
          }
        }.persist()
      val roundDone = res.filter(_.done).map(r => (r.qid, r.v)).toDF("qid", "lin_v")
        .ckpt()
      resolved = if (resolved == null) roundDone else resolved.union(roundDone)
      val next = res.filter(!_.done).map(r => CQry(r.cell, r.qid, r.qx, r.qy))
        .ckpt()
      unresolved.unpersist(false)
      res.unpersist(false)
      unresolved = next
      h *= 2
    }
    cellPts.unpersist(false)
    val all = if (resolved == null) outEnv else resolved.union(outEnv)
    all.select(col("qid"), col("lin_v"))
  }
}
