package graft.raster

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one exchange of state between raster strips. Every operator that
  * reads across a strip seam goes through one of two primitives, generic
  * over its strip case class:
  *
  *  - [[halo]] hands each strip the last row of the strip above and/or the
  *    first row of the strip below (one-row strips, `None` at the raster
  *    edge): one shuffle of the raster keyed on strip index. The 3×3 DEM
  *    kernels, contour's marching squares and the GAUSS overview read it.
  *  - [[scan]] combines a per-strip, per-column payload down and up the
  *    strip order and hands every strip the state of all strips strictly
  *    ABOVE (prefix) and strictly BELOW (suffix) it. The [[Combine]] rule
  *    is either [[Latest]] (the nearest non-[[Absent]] value wins:
  *    fill-nodata's nearest valid pixel, proximity's nearest target row) or
  *    [[CappedSum]] (nearblack's saturating non-collar count).
  *
  * The scan never touches the driver. Each strip's payload splits into
  * column blocks (block index is the shuffle key); each block group sorts
  * its O(strips) slices by strip index and runs the prefix and suffix
  * locally (per-task memory = nStrips × blockW longs, sized to a fixed
  * budget); the slices then cogroup back with their strips. The scan owns
  * its input's cache: it persists the strips, counts them once (the count
  * sizes the blocks), checkpoints the joined result and unpersists.
  */
object StripScan {

  val Absent: Long = Long.MinValue

  /** How a column's payloads fold along the strip order. */
  sealed trait Combine extends Serializable {
    def zero: Long
    def apply(acc: Long, v: Long): Long
  }

  /** The nearest strip's non-[[Absent]] value wins. */
  case object Latest extends Combine {
    val zero: Long = Absent
    def apply(acc: Long, v: Long): Long = if (v != Absent) v else acc
  }

  /** A count that saturates at `cap`: `min(cap, acc + v)`. */
  final case class CappedSum(cap: Long) extends Combine {
    val zero: Long = 0L
    def apply(acc: Long, v: Long): Long = math.min(cap, acc + v)
  }

  /** One strip's per-column payload: `down` folds into the strips below it
    * (their `above`), `up` into the strips above it (their `below`).
    */
  final case class StripCols(down: Array[Long], up: Array[Long])

  /** Combined payload of the strips strictly above / strictly below. */
  final case class Incoming(above: Array[Long], below: Array[Long])

  /** Each strip with the last row of the strip above (when `above`) and the
    * first row of the strip below (when `below`); `row(s, r)` cuts local
    * row `r` of `s` as a one-row strip.
    */
  def halo[S <: Product : TypeTag](strips: Dataset[S], above: Boolean, below: Boolean)(
      index: S => Int, height: S => Int, row: (S, Int) => S): Dataset[(S, Option[S], Option[S])] = {
    val spark = strips.sparkSession
    import spark.implicits._
    strips.flatMap { s =>
      val k = index(s)
      val parts = Seq.newBuilder[(Int, S)]
      parts += ((k, s))
      if (above) parts += ((k + 1, row(s, height(s) - 1)))
      if (below && k > 0) parts += ((k - 1, row(s, 0)))
      parts.result()
    }.groupByKey(_._1).flatMapGroups { (k, it) =>
      var self: Option[S] = None
      var up: Option[S] = None
      var down: Option[S] = None
      it.foreach { case (_, p) =>
        val from = index(p)
        if (from == k) self = Some(p) else if (from < k) up = Some(p) else down = Some(p)
      }
      self.iterator.map(s => (s, up, down)) // a row sent past the last strip has no owner
    }
  }

  /** Each strip with the `rule`-combined `cols` payloads of all strips
    * above and below it. The result is checkpointed; `strips` is cached
    * only while the scan runs.
    */
  def scan[S <: Product : TypeTag](strips: Dataset[S], w: Int, rule: Combine)(
      index: S => Int, cols: S => StripCols): Dataset[(S, Incoming)] = {
    val spark = strips.sparkSession
    import spark.implicits._
    val cached = strips.persist(StorageLevel.MEMORY_AND_DISK)
    val nStrips = cached.count().toInt
    // per-block-task memory = nStrips × blockW × 16 B; 4M longs ≈ 64 MiB
    val blockW = math.max(256, math.min(w, (4 << 20) / math.max(1, nStrips)))
    val nBlocks = (w + blockW - 1) / blockW
    val blockRows = cached.flatMap { s =>
      val c = cols(s)
      val k = index(s)
      (0 until nBlocks).iterator.map { b =>
        val x0 = b * blockW; val x1 = math.min(w, x0 + blockW)
        (b, k, java.util.Arrays.copyOfRange(c.down, x0, x1),
          java.util.Arrays.copyOfRange(c.up, x0, x1))
      }
    }
    val incBlocks = blockRows.groupByKey(_._1).flatMapGroups { (b, it) =>
      val rows = it.toArray.sortBy(_._2)
      val bw = rows(0)._3.length
      val run = Array.fill(bw)(rule.zero)
      val above = rows.map { r =>
        val a = run.clone()
        var x = 0
        while (x < bw) { run(x) = rule(run(x), r._3(x)); x += 1 }
        a
      }
      java.util.Arrays.fill(run, rule.zero)
      val below = new Array[Array[Long]](rows.length)
      var k = rows.length - 1
      while (k >= 0) {
        below(k) = run.clone()
        var x = 0
        while (x < bw) { run(x) = rule(run(x), rows(k)._4(x)); x += 1 }
        k -= 1
      }
      rows.indices.iterator.map(k => (rows(k)._2, b, above(k), below(k)))
    }
    val joined = cached.groupByKey(index).cogroup(incBlocks.groupByKey(_._1)) { (_, sIt, bIt) =>
      val above = new Array[Long](w)
      val below = new Array[Long](w)
      bIt.foreach { case (_, b, a, bl) =>
        System.arraycopy(a, 0, above, b * blockW, a.length)
        System.arraycopy(bl, 0, below, b * blockW, bl.length)
      }
      sIt.map(s => (s, Incoming(above, below)))
    }
    val out = graft.core.Ckpt(joined)
    cached.unpersist(false)
    out
  }
}
