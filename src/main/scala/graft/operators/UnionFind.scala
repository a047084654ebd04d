package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ckpt.CkptOps

/** The engine's one connected-components kernel over Long ids — the
  * equivalence merges of polygonize/sieve strip seams, contour chain
  * endpoints, near-dup clusters and [[GraphOps.connectedComponents]].
  *
  * Two entry points, one contract: `gid → root` for every vertex whose
  * component minimum differs from itself (component minima and isolated
  * vertices are absent; callers `coalesce(root, gid)`):
  *  - [[driverRoots]]: serial union-find for pair sets that fit in driver
  *    memory;
  *  - [[roots]]: the distributed kernel, for pair sets that do not (worst
  *    case ~width/2 pairs per strip seam on salt-and-pepper rasters).
  *
  * Callers choose the entry point with the engine's one mode probe,
  * [[graft.core.DriverRows.fit]], over their pair Dataset: under the limit
  * the pairs are already on the driver; at the limit the driver sees no
  * pairs at all.
  *
  * Distributed algorithm: Shiloach–Vishkin-style hooking fused with
  * pointer doubling. Each round, along every edge (a, b) the label p(b) is
  * offered to a's current label p(a) — hooking a's whole tree, not only a —
  * then p ← p∘p. Labels are vertex ids, only ever decrease, and only ever
  * move within a component, so the detected fixpoint (strictly-decreasing
  * label sum stalls) is exactly "every vertex labeled with its component
  * minimum". Convergence detection costs one aggregate per round — no
  * driver-side materialization of the vertex set, ever. No round bound is
  * proven; the specs pin a sequential 300-vertex path under 16 rounds and
  * a shuffled-id 10⁴-vertex path and 100×100 grid under the default cap.
  */
object UnionFind {

  /** Driver twin of [[roots]]: same contract, serial union-find (union by
    * minimum root, path compression).
    */
  def driverRoots(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = new scala.collection.mutable.HashMap[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // snapshot the keys: find() path-compresses into `parent`, and an
    // update of an existing key can still resize the table under a live
    // iterator, which then skips keys
    parent.keys.toArray.map(x => x -> find(x)).toMap
  }

  /** @param edges DataFrame with two long columns `a`, `b`
    * @return DataFrame (gid: long, root: long), cached — callers should
    *         unpersist it when done
    * @throws IllegalStateException when the labels have not converged
    *         after `maxRounds` rounds
    */
  def roots(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val sym = edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val symBoth = sym.unionAll(sym.select(col("b").as("a"), col("a").as("b"))).ckpt()

    var p = symBoth.groupBy(col("a")).agg(min(col("b")).as("m"))
      .select(col("a").as("v"), least(col("a"), col("m")).as("p"))
      .ckpt()
    var prevSum = labelSum(p)
    var round = 0
    var converged = p.isEmpty
    while (!converged) {
      if (round >= maxRounds) {
        p.unpersist(false)
        symBoth.unpersist(false)
        throw new IllegalStateException(s"UnionFind.roots did not converge " +
          s"within maxRounds=$maxRounds (reached round $round) — pathological input?")
      }
      // 1. hook: along each edge (a, b), a's label p(a) may adopt p(b)
      val cand = symBoth
        .join(p.select(col("v").as("__av"), col("p").as("__pa")), col("a") === col("__av"))
        .join(p.select(col("v").as("__bv"), col("p").as("__pb")), col("b") === col("__bv"))
        .groupBy(col("__pa").as("v")).agg(min(col("__pb")).as("__c"))
      val p1 = p.join(cand, Seq("v"), "left")
        .select(col("v"), least(col("p"), coalesce(col("__c"), col("p"))).as("p"))
      // 2. pointer doubling: p(v) ← p(p(v))
      val pl = p1.select(col("v").as("__pv"), col("p").as("__pp"))
      val p2 = dropStats(p1.join(pl, p1("p") === col("__pv"), "left")
        .select(p1("v").as("v"), coalesce(col("__pp"), p1("p")).as("p"))
        .ckpt())
      val s = labelSum(p2)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      p.unpersist(false)
      p = p2
      round += 1
    }
    // materialize the (much smaller) root set, then drop the symmetrized
    // edge set and the final label round — this path exists for edge sets
    // too big for a driver, so leaving them cached would pin ~2× the input
    // in executor storage for the rest of the session
    val out = p.filter(col("p") =!= col("v"))
      .select(col("v").as("gid"), col("p").as("root"))
      .ckpt()
    p.unpersist(false)
    symBoth.unpersist(false)
    out
  }

  /** A checkpoint keeps its plan's size estimate, and each join multiplies
    * the estimates of its sides, so across rounds the estimate's digits
    * compound (the planner's BigInt products take minutes by round ~12).
    * Re-wrapping the checkpointed rows drops the estimate.
    */
  private def dropStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Exact label sum (decimal(38,0) — labels only decrease, so a stalled
    * sum ⟺ no label changed; overflow-proof unlike sum(long)).
    */
  private def labelSum(p: DataFrame): java.math.BigDecimal = {
    val d = p.agg(sum(col("p").cast("decimal(38,0)"))).head().getDecimal(0)
    if (d == null) java.math.BigDecimal.ZERO else d
  }
}
