package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gf

/** Cell-bucketed spatial join: the distributed replacement for the
  * reference's nested-loop layer algebra
  * (`/root/reference/gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:2034`
  * Intersection and friends: per-A-feature `SetSpatialFilter` on B, then
  * exact GEOS test) and its staged filter evaluation
  * (`ogrlayer.cpp:1347-1454`: envelope reject → exact test).
  *
  * Plan shape (Spark-first):
  *   polys  → explode(cells_covering(geom, res))   // polyfill, broadcast side
  *   points → cell_of(lon, lat, res)               // one cell per point
  *   equi-join on cell → exact ray-cast PIP post-filter (codegen'd)
  *
  * Properties that make this scale:
  *  - a point has exactly ONE cell and a polygon covers each cell at most
  *    once → the join never duplicates a (point, polygon) pair, so no
  *    dedup shuffle is needed;
  *  - the polygon side after polyfill is small per cell → Spark broadcasts
  *    it (BroadcastHashJoin; no shuffle of the page table at all);
  *  - with a huge polygon side, the same plan degrades to a shuffled hash
  *    join on `cell`, where AQE skew-join splitting plus optional explicit
  *    salting (`pointInPolygonSalted`, `nSalt` join keys per cell) handles
  *    dense cells;
  *  - the exact PIP runs as a whole-stage-codegen expression that reads
  *    each candidate's polygon WKB in place (`GeoRt.containsPoint`).
  */
object SpatialJoin {

  /** points ⋈ polys on st_contains(poly, point).
    *
    * @param points any DataFrame with numeric lon/lat columns
    * @param lon,lat point coordinate columns
    * @param polys DataFrame with a WKB geometry column
    * @param geom the WKB column of `polys`
    * @param res cell resolution (higher = tighter polyfill, more cells)
    * @param broadcastPolys force-broadcast the exploded polygon side
    * @param pointCell a column of `points` that holds `cell_of(lon, lat, res)`:
    *                  the join buckets on it, and it stays in the output
    */
  def pointInPolygon(points: DataFrame, lon: Column, lat: Column,
                     polys: DataFrame, geom: Column, res: Int,
                     broadcastPolys: Boolean = true,
                     pointCell: Option[String] = None): DataFrame =
    pointJoin(points, lon, lat, polys, geom, res, broadcastPolys, gf.st_contains_point,
      pointCell = pointCell)

  /** Boundary-inclusive variant (st_intersects semantics,
    * `gdal/ogr/ogrcurvepolygon.cpp:705-716`).
    */
  def pointIntersectsPolygon(points: DataFrame, lon: Column, lat: Column,
                             polys: DataFrame, geom: Column, res: Int,
                             broadcastPolys: Boolean = true): DataFrame =
    pointJoin(points, lon, lat, polys, geom, res, broadcastPolys, gf.st_intersects_point)

  /** The one point-join plan, with `pred(geom, lon, lat)` as its post-filter.
    * With `nSalt` > 1 (SURVEY.md §4 #18) each (poly, cell) pair is
    * replicated `nSalt` times and each point joins the replica its
    * coordinates hash to, so a dense cell spreads over `nSalt` join keys.
    */
  private def pointJoin(points: DataFrame, lon: Column, lat: Column, polys: DataFrame,
                        geom: Column, res: Int, broadcastPolys: Boolean,
                        pred: (Column, Column, Column) => Column, nSalt: Int = 1,
                        pointCell: Option[String] = None): DataFrame = {
    val cells = polys.withColumn("__cell", explode(gf.cells_covering(geom, res)))
    val polyCells0 =
      if (nSalt == 1) cells else cells.withColumn("__salt", explode(lit((0 until nSalt).toArray)))
    val polyCells = if (broadcastPolys) broadcast(polyCells0) else polyCells0
    val pts0 = if (pointCell.isDefined) points else points.withColumn("__pcell", gf.cell_of(lon, lat, res))
    val pts = if (nSalt == 1) pts0 else pts0.withColumn("__psalt", pmod(hash(lon, lat), lit(nSalt)))
    val onCell = pts(pointCell.getOrElse("__pcell")) === polyCells("__cell")
    pts.join(polyCells,
        if (nSalt == 1) onCell else onCell && pts("__psalt") === polyCells("__salt"))
      .filter(pred(geom, lon, lat))
      .drop("__cell", "__pcell", "__salt", "__psalt")
  }

  /** Geometry-geometry join (the layer-algebra shape: per-pair exact
    * Intersects after cell-bucket candidate generation). Both sides
    * polyfill their cells; a pair can share several cells, so candidates
    * dedup on the two key columns before the exact test — the reference's
    * envelope-pretest + GEOS-test loop (`ogrlayer.cpp:2034` Intersection
    * et al.) becomes: cell equi-join → dropDuplicates → codegen'd exact
    * predicate.
    */
  def intersectsJoin(left: DataFrame, leftKey: Column, leftGeom: Column,
                     right: DataFrame, rightKey: Column, rightGeom: Column,
                     res: Int): DataFrame = {
    candidatePairs(left, leftKey, leftGeom, right, rightKey, rightGeom, res)
      .filter(gf.st_intersects(col("__lg"), col("__rg")))
      .select(col("__lk").as("left_key"), col("__rk").as("right_key"))
  }

  /** Candidate pairs of a geometry-geometry join: every (left, right) key
    * pair sharing a covering cell, once, as columns `__lk`, `__lg`, `__rk`,
    * `__rg`.
    */
  private def candidatePairs(left: DataFrame, leftKey: Column, leftGeom: Column,
                             right: DataFrame, rightKey: Column, rightGeom: Column,
                             res: Int): DataFrame = {
    val l = left.select(leftKey.as("__lk"), leftGeom.as("__lg"))
      .withColumn("__lcell", explode(gf.cells_covering(col("__lg"), res)))
    val r = right.select(rightKey.as("__rk"), rightGeom.as("__rg"))
      .withColumn("__rcell", explode(gf.cells_covering(col("__rg"), res)))
    l.join(r, col("__lcell") === col("__rcell"))
      .dropDuplicates("__lk", "__rk")
  }

  /** Layer-algebra overlay join: like [[intersectsJoin]] but emits the
    * CLIPPED geometry of every intersecting pair — the actual semantics of
    * the reference's layer Intersection (`ogrlayer.cpp:2034`), Clip
    * (`:3878` = intersection against a clip layer keeping left attrs) and
    * Erase (`:4151` = difference). Same scale shape: cell-bucket candidate
    * generation, pair dedup, then the per-pair boolean overlay as a
    * codegen'd expression — pairs whose overlay is empty drop out via the
    * null filter, no driver involvement anywhere.
    *
    * @param op "intersection" (Intersection/Clip) or "difference" (Erase)
    * @return (left_key, right_key, wkb) clipped pieces
    */
  def overlayJoin(left: DataFrame, leftKey: Column, leftGeom: Column,
                  right: DataFrame, rightKey: Column, rightGeom: Column,
                  res: Int, op: String = "intersection"): DataFrame = {
    val opCol: (Column, Column) => Column = op match {
      case "intersection" => gf.st_intersection
      case other => sys.error(
        s"overlayJoin supports only 'intersection' (Intersection/Clip): " +
          s"a per-PAIR '$other' under cell-candidate pruning depends on " +
          "which disjoint pairs happen to share a cell — use eraseJoin " +
          "for the layer-level Erase/Difference")
    }
    candidatePairs(left, leftKey, leftGeom, right, rightKey, rightGeom, res)
      .withColumn("wkb", opCol(col("__lg"), col("__rg")))
      .filter(col("wkb").isNotNull)
      .select(col("__lk").as("left_key"), col("__rk").as("right_key"), col("wkb"))
  }

  /** Erase: left features minus the union of all intersecting right
    * features (`ogrlayer.cpp:4151`). Each left feature's clip set is
    * grouped and subtracted sequentially; left features with no
    * intersecting right geometry pass through unchanged.
    */
  def eraseJoin(left: DataFrame, leftKey: Column, leftGeom: Column,
                right: DataFrame, rightKey: Column, rightGeom: Column,
                res: Int): DataFrame = {
    // aggregate the intersecting right geoms per left key, then fold the
    // difference in one expression pass (aggregate() over the collected
    // array keeps it declarative; the array per key is the small clip set)
    val clipSets = candidatePairs(left, leftKey, leftGeom, right, rightKey, rightGeom, res)
      .filter(gf.st_intersects(col("__lg"), col("__rg")))
      .groupBy(col("__lk")).agg(collect_list(col("__rg")).as("__clips"))
    left.select(leftKey.as("__lk"), leftGeom.as("__lg"))
      .join(clipSets, Seq("__lk"), "left")
      .withColumn("wkb",
        when(col("__clips").isNull, col("__lg"))
          .otherwise(aggregate(col("__clips"), col("__lg"),
            (acc, c) => gf.st_difference(acc, c))))
      .filter(col("wkb").isNotNull)
      .select(col("__lk").as("left_key"), col("wkb"))
  }

  /** Salted shuffled variant for a large polygon side with dense cells:
    * [[pointInPolygon]] without the broadcast, with `nSalt` join keys per
    * cell. Use when neither side broadcasts and one cell dominates.
    */
  def pointInPolygonSalted(points: DataFrame, lon: Column, lat: Column,
                           polys: DataFrame, geom: Column, res: Int,
                           nSalt: Int): DataFrame =
    pointJoin(points, lon, lat, polys, geom, res, broadcastPolys = false,
      gf.st_contains_point, nSalt)
}
