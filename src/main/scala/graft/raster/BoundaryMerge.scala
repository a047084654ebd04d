package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Ckpt.CkptOps
import graft.operators.UnionFind

/** Distributed strip-boundary component merge for the 2-phase connected-
  * components layout (polygonize, sieve).
  *
  * The naive layout collects every strip's top and bottom pixel rows to
  * the driver (O(strips × width) driver memory — gigabytes on a 10⁶-px-wide
  * raster). Here the boundary matching itself runs in a shuffle: strip k
  * contributes its bottom row to boundary k and its top row to boundary
  * k−1; each boundary group (two rows) emits only the DEDUPED global-id
  * equivalence pairs found along it.
  *
  * The union-find over those pairs follows the [[UnionFind]] mode policy:
  *  - pairs under the driver pair limit: collected and resolved by
  *    `UnionFind.driverRoots` (one small job, zero extra shuffles — the
  *    common case);
  *  - over it (salt-and-pepper noise is ~width/2 pairs PER SEAM, so a
  *    10⁶-px-wide raster in 10³ strips is ~5·10⁸ pairs — driver OOM
  *    territory): `UnionFind.roots` resolves roots distributed, and the
  *    per-strip root maps travel to consumers as extra [[Side]] rows in the
  *    same cogroup stream as the halos. The driver then never sees
  *    per-pixel-derived data at all (`lastDriverPairs == 0`).
  *
  * The "previous strip's bottom row" halo that downstream passes need is
  * likewise a Dataset keyed by the consuming strip's index (cogroup it
  * with the strips), not a driver-built broadcast map of full rows.
  */
object BoundaryMerge extends Serializable {

  /** Per-strip boundary summary from the local CC pass: local component
    * count plus the top/bottom pixel rows with their final local ids.
    */
  final case class BoundarySummary(
      stripIdx: Int, nIds: Int,
      topVals: Array[Int], topIds: Array[Int],
      botVals: Array[Int], botIds: Array[Int])

  /** Per-strip side-channel row, keyed by the CONSUMING strip. Exactly one
    * of the two payloads is set:
    *  - halo rows (`haloVals != null`): the bottom pixel row of strip
    *    `stripIdx − 1` with global ROOT ids — what the strip below needs;
    *  - root rows (`rootGids != null`, distributed mode only): the
    *    (gid → root) entries for stripIdx's OWN global ids, replacing the
    *    driver/broadcast roots map.
    */
  final case class Side(stripIdx: Int,
                        haloVals: Array[Int], haloGids: Array[Long],
                        rootGids: Array[Long], rootRoots: Array[Long])

  /** @param base   prefix-sum of per-strip local component counts
    *               (base(k) = first global id of strip k); length nStrips+1
    * @param roots  union-find results (non-root gids only); EMPTY in
    *               distributed mode — consumers must resolve via [[Side]]
    *               root rows then (`root(gid)` below does both)
    * @param side   halo rows (+ root rows in distributed mode), keyed by
    *               consuming strip (lazy, distributed)
    * @param nPairs number of equivalence pairs found along all boundaries
    * @param distributed true when the union-find ran as a Spark job and
    *               `roots` is intentionally empty
    */
  final case class Merged(base: Array[Long], roots: Map[Long, Long],
                          side: Dataset[Side], nPairs: Long,
                          distributed: Boolean)

  /** Resolve a gid against per-strip root arrays (distributed mode) or a
    * broadcast map (driver mode) — exactly one source is populated.
    */
  @inline def lookup(localRoots: scala.collection.Map[Long, Long],
                     bcast: Map[Long, Long], gid: Long): Long =
    if (localRoots != null) localRoots.getOrElse(gid, gid)
    else bcast.getOrElse(gid, gid)

  /** Root lookup over parallel (gid, root) arrays — identity when null. */
  def rootFn(rg: Array[Long], rr: Array[Long]): Long => Long =
    if (rg == null) identity
    else {
      val m = new scala.collection.mutable.HashMap[Long, Long]
      var i = 0
      while (i < rg.length) { m.put(rg(i), rr(i)); i += 1 }
      gid => m.getOrElse(gid, gid)
    }

  /** Build the per-strip root map from Side root rows (null if none). */
  def sideRootMap(sides: Iterable[Side]): scala.collection.Map[Long, Long] = {
    var m: scala.collection.mutable.HashMap[Long, Long] = null
    sides.foreach { sd =>
      if (sd.rootGids != null) {
        if (m == null) m = new scala.collection.mutable.HashMap[Long, Long]
        var i = 0
        while (i < sd.rootGids.length) { m.put(sd.rootGids(i), sd.rootRoots(i)); i += 1 }
      }
    }
    m
  }

  /** Equivalence pairs collected by the most recent merge (test hook for
    * asserting driver traffic: 0 on the distributed path).
    */
  @volatile var lastDriverPairs: Long = -1

  /** Owner strip of a global id: largest k with base(k) ≤ gid. */
  @inline def ownerStrip(base: Array[Long], gid: Long): Int = {
    val pos = java.util.Arrays.binarySearch(base, gid)
    if (pos >= 0) pos else -(pos + 1) - 1
  }

  /** Strip indices must be contiguous from 0 (they are strip positions).
    * `summaries` is consumed by several actions — callers should persist it.
    */
  def merge(spark: SparkSession, summaries: Dataset[BoundarySummary],
            w: Int, conn: Int): Merged = {
    import spark.implicits._
    val counts = summaries.map(s => (s.stripIdx, s.nIds)).collect().sortBy(_._1)
    val n = counts.length
    require(counts.iterator.map(_._1).zipWithIndex.forall { case (s, i) => s == i },
      "strip indices must be contiguous from 0")
    val base = new Array[Long](n + 1)
    var i = 0
    while (i < n) { base(i + 1) = base(i) + counts(i)._2; i += 1 }
    val sc = spark.sparkContext
    val baseB = sc.broadcast(base)
    val connV = conn
    val wV = w

    // adjacent-boundary shuffle: each boundary b sees (bottom of strip b,
    // top of strip b+1) and emits deduped equivalence pairs
    val boundaryRows = summaries.flatMap { s =>
      val lo = (s.stripIdx, true, s.botVals, s.botIds)
      val hi = (s.stripIdx - 1, false, s.topVals, s.topIds)
      if (s.stripIdx == 0) Iterator(lo) else Iterator(lo, hi)
    }
    val pairsDs: Dataset[(Long, Long)] =
      boundaryRows.groupByKey(_._1).flatMapGroups { (b, it) =>
        var botVals: Array[Int] = null; var botIds: Array[Int] = null
        var topVals: Array[Int] = null; var topIds: Array[Int] = null
        it.foreach { case (_, isLo, vals, ids) =>
          if (isLo) { botVals = vals; botIds = ids }
          else { topVals = vals; topIds = ids }
        }
        if (botVals == null || topVals == null) Iterator.empty
        else {
          val loBase = baseB.value(b); val hiBase = baseB.value(b + 1)
          val seen = new java.util.HashSet[(Long, Long)]()
          val out = Vector.newBuilder[(Long, Long)]
          @inline def u(a: Long, c: Long): Unit = {
            val p = (math.min(a, c), math.max(a, c))
            if (seen.add(p)) out += p
          }
          var x = 0
          while (x < wV) {
            val v = botVals(x)
            if (v != Polygonize.NoDataMarker) {
              if (topVals(x) == v) u(loBase + botIds(x), hiBase + topIds(x))
              if (connV == 8) {
                if (x > 0 && topVals(x - 1) == v)
                  u(loBase + botIds(x), hiBase + topIds(x - 1))
                if (x < wV - 1 && topVals(x + 1) == v)
                  u(loBase + botIds(x), hiBase + topIds(x + 1))
              }
            }
            x += 1
          }
          out.result().iterator
        }
      }
    UnionFind.driverPairs(pairsDs) match {
      case Some(pairs) =>
        // ---- driver mode: pairs collected, union-find in memory ----
        lastDriverPairs = pairs.length.toLong
        val roots = UnionFind.driverRoots(pairs)
        val rootsB = sc.broadcast(roots)
        val side = summaries.map { s =>
          val rm = rootsB.value
          haloSide(s, baseB.value, gid => rm.getOrElse(gid, gid))
        }
        Merged(base, roots, side, pairs.length.toLong, distributed = false)
      case None =>
        // ---- distributed mode: union-find as a Spark job; the driver
        // never materializes pairs. Roots reach consumers as per-strip
        // Side rows.
        lastDriverPairs = 0L
        val rootsDF = UnionFind.roots(pairsDs.toDF("a", "b"))
        val rootRows: Dataset[Side] = rootsDF.as[(Long, Long)]
          .groupByKey { case (gid, _) => ownerStrip(baseB.value, gid) }
          .mapGroups { (k, it) =>
            val gs = Array.newBuilder[Long]; val rs = Array.newBuilder[Long]
            it.foreach { case (g, r) => gs += g; rs += r }
            Side(k, null, null, gs.result(), rs.result())
          }.ckpt() // consumed twice: halo resolution below + the side union
        rootsDF.unpersist(false) // rolled into rootRows; drop the UnionFind cache

        val haloRows: Dataset[Side] = summaries.groupByKey(_.stripIdx)
          .cogroup(rootRows.groupByKey(_.stripIdx)) { (_, sIt, rIt) =>
            val rm = sideRootMap(rIt.toSeq)
            sIt.map(s => haloSide(s, baseB.value,
              if (rm == null) identity else gid => rm.getOrElse(gid, gid)))
          }
        // exact pair count is not re-derived in distributed mode (it would
        // cost another scan); -1 = "over the driver limit"
        Merged(base, Map.empty, haloRows.union(rootRows), -1L, distributed = true)
    }
  }

  /** Strip `s`'s bottom row as the halo of strip `s + 1`, ids resolved to
    * global roots.
    */
  private def haloSide(s: BoundarySummary, base: Array[Long], root: Long => Long): Side = {
    val sBase = base(s.stripIdx)
    val g = new Array[Long](s.botIds.length)
    var x = 0
    while (x < g.length) {
      val id = s.botIds(x)
      g(x) = if (id == -1) -1L else root(sBase + id)
      x += 1
    }
    Side(s.stripIdx + 1, s.botVals, g, null, null)
  }
}
