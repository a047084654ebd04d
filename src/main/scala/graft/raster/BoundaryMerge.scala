package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Ckpt.CkptOps
import graft.core.DriverRows
import graft.operators.UnionFind

/** Distributed strip-boundary component merge for the 2-phase connected-
  * components layout (polygonize, sieve): labelled strips in, resolved
  * strips out.
  *
  * Each consumer labels its strips once ([[Polygonize.label]]) and hands
  * them to [[merge]]. The boundary matching runs in a shuffle: strip k
  * contributes its bottom row to boundary k and its top row to boundary
  * k−1; each boundary group (two rows) emits only the DEDUPED global-id
  * equivalence pairs found along it. The driver sees one id count per
  * strip and, in driver mode, those pairs — never pixel rows.
  *
  * The union-find over the pairs takes the mode [[DriverRows.fit]] picks:
  *  - driver mode (pairs under the driver row limit): the pairs are
  *    collected and resolved by `UnionFind.driverRoots`, and the roots map
  *    is broadcast;
  *  - distributed mode (over it: salt-and-pepper noise is ~width/2 pairs
  *    PER SEAM, so a 10⁶-px-wide raster in 10³ strips is ~5·10⁸ pairs —
  *    driver OOM territory): `UnionFind.roots` resolves roots as a Spark
  *    job, and each strip's (gid → root) entries travel to it as [[Side]]
  *    root rows. The driver never sees per-pixel-derived data
  *    (`lastDriverPairs == 0`).
  *
  * Either way the result is one Dataset of [[ResolvedStrip]]s, each with
  * the global root of every local id and the previous strip's bottom row
  * as its halo, so consumers map over strips and never look at the mode.
  */
object BoundaryMerge extends Serializable {

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.raster.BoundaryMerge")

  /** Rows [yOff, yOff+height) of a raster, labelled by one
    * [[Polygonize.label]] pass.
    */
  final case class LabelledStrip(stripIdx: Int, yOff: Int, height: Int,
                                 labels: Polygonize.Labels)

  /** A labelled strip with its components resolved across strip seams.
    * `roots(id)` is the global root id of local id `id` (the component's
    * smallest global id). The halo is the bottom row of strip
    * `stripIdx − 1`: its pixel values and global root ids (-1 for
    * nodata); both are null for strip 0.
    */
  final case class ResolvedStrip(stripIdx: Int, yOff: Int, height: Int,
                                 labels: Polygonize.Labels, roots: Array[Long],
                                 haloVals: Array[Int], haloRoots: Array[Long]) {
    /** Global root id of pixel `p` (row-major within the strip), -1 for nodata. */
    def root(p: Int): Long = if (labels.ids(p) == -1) -1L else roots(labels.ids(p))
  }

  /** Per-strip boundary summary: local id count plus the top/bottom pixel
    * rows with their final local ids.
    */
  final case class BoundarySummary(
      stripIdx: Int, nIds: Int,
      topVals: Array[Int], topIds: Array[Int],
      botVals: Array[Int], botIds: Array[Int])

  /** Side-channel row of [[merge]], keyed by the strip that consumes it.
    * Exactly one of the two payloads is set:
    *  - halo row (`haloVals != null`): the bottom pixel row of strip
    *    `stripIdx − 1` with global root ids;
    *  - root row (`rootGids != null`, distributed mode only): the
    *    (gid → root) entries for stripIdx's own non-root global ids.
    */
  final case class Side(stripIdx: Int,
                        haloVals: Array[Int], haloRoots: Array[Long],
                        rootGids: Array[Long], rootRoots: Array[Long])

  /** @param base   prefix-sum of per-strip local id counts (base(k) = first
    *               global id of strip k); length nStrips+1
    * @param strips every strip, resolved (lazy, distributed)
    * @param caches what `strips` reads from merge's own caches (the
    *               distributed mode's root rows)
    */
  final case class Merged(base: Array[Long], strips: Dataset[ResolvedStrip],
                          caches: Seq[Dataset[_]]) {
    /** Drop merge's caches once the consumer's output is materialized. */
    def unpersist(): Unit = caches.foreach(_.unpersist(false))
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

  /** Resolve labelled strips across their seams. Strip indices must be
    * contiguous from 0 (they are strip positions). `strips` is read by
    * several jobs — callers should persist it.
    */
  def merge(spark: SparkSession, strips: Dataset[LabelledStrip],
            w: Int, conn: Int): Merged = {
    import spark.implicits._
    val wV = w
    val summaries = strips.map { s =>
      val bot = (s.height - 1) * wV
      def vals(p0: Int) = Array.tabulate(wV)(x => s.labels.value(p0 + x))
      BoundarySummary(s.stripIdx, s.labels.nIds,
        vals(0), java.util.Arrays.copyOfRange(s.labels.ids, 0, wV),
        vals(bot), java.util.Arrays.copyOfRange(s.labels.ids, bot, bot + wV))
    }
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

    // the side rows (halos, plus root rows in distributed mode) and the
    // broadcast roots map (empty in distributed mode)
    val (side, rootsB, caches) = DriverRows.fit(pairsDs) match {
      case Some(pairs) =>
        lastDriverPairs = pairs.length.toLong
        log.info(s"merge: $n strips, driver mode, ${pairs.length} boundary pairs")
        val rootsB = sc.broadcast(UnionFind.driverRoots(pairs))
        (summaries.map(s => haloSide(s, baseB.value, rootResolver(Nil, rootsB.value))), rootsB, Nil)
      case None =>
        // the driver never materializes pairs; each strip's roots reach it
        // as a root row
        lastDriverPairs = 0L
        log.info(s"merge: $n strips, distributed mode")
        val rootsDF = UnionFind.roots(pairsDs.toDF("a", "b"))
        val rootRows: Dataset[Side] = rootsDF.as[(Long, Long)]
          .groupByKey { case (gid, _) => ownerStrip(baseB.value, gid) }
          .mapGroups { (k, it) =>
            val gs = Array.newBuilder[Long]; val rs = Array.newBuilder[Long]
            it.foreach { case (g, r) => gs += g; rs += r }
            Side(k, null, null, gs.result(), rs.result())
          }.ckpt() // consumed twice: halo resolution below + the side union
        rootsDF.unpersist(false) // rolled into rootRows; drop the UnionFind cache
        val haloRows = summaries.groupByKey(_.stripIdx)
          .cogroup(rootRows.groupByKey(_.stripIdx)) { (_, sIt, rIt) =>
            val root = rootResolver(rIt.toSeq, Map.empty)
            sIt.map(s => haloSide(s, baseB.value, root))
          }
        (haloRows.union(rootRows), sc.broadcast(Map.empty[Long, Long]), Seq(rootRows))
    }

    val resolved = strips.groupByKey(_.stripIdx)
      .cogroup(side.groupByKey(_.stripIdx)) { (_, sIt, sideIt) =>
        val sides = sideIt.toSeq
        val root = rootResolver(sides, rootsB.value)
        val halo = sides.find(_.haloVals != null)
        sIt.map { s =>
          val sBase = baseB.value(s.stripIdx)
          ResolvedStrip(s.stripIdx, s.yOff, s.height, s.labels,
            Array.tabulate(s.labels.nIds)(id => root(sBase + id)),
            halo.map(_.haloVals).orNull, halo.map(_.haloRoots).orNull)
        }
      }
    Merged(base, resolved, caches)
  }

  /** gid → root from a strip's root rows (distributed mode) and the
    * broadcast map (driver mode); one of the two is always empty.
    */
  private def rootResolver(sides: Iterable[Side], bcast: Map[Long, Long]): Long => Long = {
    val own = new scala.collection.mutable.HashMap[Long, Long]
    sides.foreach { sd =>
      if (sd.rootGids != null) {
        var i = 0
        while (i < sd.rootGids.length) { own.put(sd.rootGids(i), sd.rootRoots(i)); i += 1 }
      }
    }
    gid => own.getOrElse(gid, bcast.getOrElse(gid, gid))
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
