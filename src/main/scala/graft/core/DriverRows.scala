package graft.core

import org.apache.spark.sql.Dataset

/** The engine's one driver-or-distributed mode probe: [[fit]] takes
  * `limit + 1` rows in one scan. Under the limit the rows are already on
  * the driver (one job, no count first — the common case); at it the
  * operator goes distributed and the driver keeps no rows. The limit,
  * session conf [[LimitKey]] (default [[DefaultLimit]]), governs the
  * union-find pairs of `BoundaryMerge` and `Contour`, the edges of
  * `GraphOps.kShortestPaths`, the samples of `GridInterp.linear` and the
  * rewrite table of `Sieve.sieve`.
  */
object DriverRows {

  /** Above this many rows an operator moves off the driver. 4M rows of a
    * Long pair ≈ 64 MB driver-side — comfortably under default driver
    * memory, far above anything a non-adversarial input produces.
    */
  val DefaultLimit: Long = 4000000L

  /** Session-conf key overriding [[DefaultLimit]]. */
  val LimitKey = "spark.graft.driverRowLimit"

  /** Every row when they fit under the session's driver row limit, None
    * when the caller must go distributed. The over-limit case recomputes
    * `ds`' lineage, so its inputs should be persisted.
    */
  def fit[T](ds: Dataset[T]): Option[Array[T]] = {
    val limit = ds.sparkSession.conf.get(LimitKey, DefaultLimit.toString).toLong
    // take(limit + 1), clamped BEFORE the +1 so a Long.MaxValue limit
    // cannot wrap, and kept below Int.MaxValue for take(); a take() that
    // fills the cap may be truncated, so it means "over the limit"
    val cap = (math.min(math.max(limit, 0L), Int.MaxValue.toLong - 9L) + 1L).toInt
    val taken = ds.take(cap)
    if (taken.length < cap) Some(taken) else None
  }
}
