package graft.raster

import graft.core.Ckpt.CkptOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.{DriverRows, GLine, GeoTransform}
import graft.operators.UnionFind
import graft.raster.Dem.DStrip
import scala.collection.mutable

/** Contour generation — iso-lines from a raster
  * (`/root/reference/gdal/alg/contour.cpp:1543` GDALContourGenerate):
  * marching squares over pixel-center samples with linear interpolation,
  * value fudging for samples exactly on a level (`contour.cpp:38` comment:
  * nudge by a fraction of the interval), and segment stitching into
  * polylines. Fixture gate: the concentric-plateau case of
  * `autotest/alg/contour.py:43-129` (2 features, envelope parity within
  * half a pixel).
  *
  * Distribution note: the marching-squares cell pass is strip-parallel
  * (one halo row below each strip, from [[StripScan.halo]]); chains
  * stitch per strip and merge across strips by shared endpoints: chains
  * are grouped by component root and stitched again. Unlike
  * [[RasterStrips.polygonize]] Phase D, which replays unit edges in the
  * sequential kernel's order, this stitches whole per-strip chains. The local kernel below is the
  * per-strip unit.
  */
object Contour extends Serializable {

  private final val Fudge = 1e-5 // fraction of interval to nudge exact hits

  /** Generate contour polylines for the given levels.
    * Samples are at pixel centers; output coordinates in geo space.
    */
  def contourLines(vals: Array[Double], w: Int, h: Int, gt: GeoTransform,
                   levels: Seq[Double], interval: Double = 0.0): Map[Double, Seq[GLine]] = {
    val fudgeAmt = (if (interval > 0) interval else 1.0) * Fudge
    levels.map { level =>
      @inline def v(x: Int, y: Int): Double = {
        val raw = vals(y * w + x)
        if (raw == level) raw + fudgeAmt else raw
      }
      // segments in pixel-center space
      val segs = mutable.ArrayBuffer[(Double, Double, Double, Double)]()
      var cy = 0
      while (cy < h - 1) {
        var cx = 0
        while (cx < w - 1) {
          // cell corners: (cx,cy) (cx+1,cy) (cx,cy+1) (cx+1,cy+1)
          val v00 = v(cx, cy); val v10 = v(cx + 1, cy)
          val v01 = v(cx, cy + 1); val v11 = v(cx + 1, cy + 1)
          var code = 0
          if (v00 > level) code |= 1
          if (v10 > level) code |= 2
          if (v01 > level) code |= 4
          if (v11 > level) code |= 8
          if (code != 0 && code != 15) {
            @inline def interp(va: Double, vb: Double): Double = (level - va) / (vb - va)
            // edge crossing points (pixel-center coords)
            def top = (cx + 0.5 + interp(v00, v10), cy + 0.5)
            def bottom = (cx + 0.5 + interp(v01, v11), cy + 1.5)
            def left = (cx + 0.5, cy + 0.5 + interp(v00, v01))
            def right = (cx + 1.5, cy + 0.5 + interp(v10, v11))
            def add(a: (Double, Double), b: (Double, Double)): Unit =
              segs += ((a._1, a._2, b._1, b._2))
            code match {
              case 1 | 14 => add(left, top)
              case 2 | 13 => add(top, right)
              case 3 | 12 => add(left, right)
              case 4 | 11 => add(bottom, left)
              case 5 | 10 => add(top, bottom)
              case 7 | 8  => add(right, bottom)
              case 6 | 9  => // saddle (TR+BL or TL+BR above): center decides
                val connectAbove = (v00 + v10 + v01 + v11) / 4 > level
                if (code == 6) {
                  if (connectAbove) { add(left, top); add(right, bottom) }
                  else { add(top, right); add(bottom, left) }
                } else {
                  if (connectAbove) { add(top, right); add(left, bottom) }
                  else { add(left, top); add(right, bottom) }
                }
              case _ =>
            }
          }
          cx += 1
        }
        cy += 1
      }
      // stitch segments into chains by exact endpoint matching
      level -> stitch(segs.toSeq).map { chain =>
        val xy = new Array[Double](chain.length * 2)
        chain.zipWithIndex.foreach { case ((px, py), i) =>
          xy(2 * i) = gt.geoX(px, py)
          xy(2 * i + 1) = gt.geoY(px, py)
        }
        GLine(xy)
      }
    }.toMap
  }

  // ------------------------------------------------------------------
  // Distributed path: marching squares per strip (one halo row below),
  // per-strip stitching, then cross-strip chain merge. A strip owns cell
  // rows [yOff, yOff+height-1] (cell row cy reads pixel rows cy, cy+1 —
  // the last one via the halo), so every cell row of the raster is
  // computed by exactly one strip. Crossing coordinates on a shared cell
  // edge are bit-identical in both neighbor strips (same inputs, same
  // arithmetic), so chains merge by exact endpoint equality — the driver
  // sees only boundary endpoints (O(strips·width·levels)), the same
  // classic layout as [[RasterStrips.polygonize]] Phase B.
  // ------------------------------------------------------------------

  /** One stitched per-strip chain (pixel-center coords, global y). */
  final case class StripChain(level: Double, stripIdx: Int, localIdx: Int,
                              xy: Array[Double])

  /** Marching squares over one strip's cell rows (with below-halo). */
  private def stripSegments(vals: Array[Double], w: Int, stripH: Int, yOff: Int,
                            below: Array[Double], h: Int, level: Double,
                            fudgeAmt: Double): Seq[(Double, Double, Double, Double)] = {
    @inline def raw(y: Int, x: Int): Double =
      if (y == stripH) below(x) else vals(y * w + x)
    @inline def v(y: Int, x: Int): Double = {
      val r = raw(y, x)
      if (r == level) r + fudgeAmt else r
    }
    val segs = mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    val lastCellRow = math.min(stripH - 1, h - 2 - yOff) // local cy range
    var cy = 0
    while (cy <= lastCellRow) {
      if (cy == stripH - 1 && below == null) { cy += 1 }
      else {
        var cx = 0
        while (cx < w - 1) {
          val v00 = v(cy, cx); val v10 = v(cy, cx + 1)
          val v01 = v(cy + 1, cx); val v11 = v(cy + 1, cx + 1)
          var code = 0
          if (v00 > level) code |= 1
          if (v10 > level) code |= 2
          if (v01 > level) code |= 4
          if (v11 > level) code |= 8
          if (code != 0 && code != 15) {
            @inline def interp(va: Double, vb: Double): Double = (level - va) / (vb - va)
            val gy = yOff + cy
            def top = (cx + 0.5 + interp(v00, v10), gy + 0.5)
            def bottom = (cx + 0.5 + interp(v01, v11), gy + 1.5)
            def left = (cx + 0.5, gy + 0.5 + interp(v00, v01))
            def right = (cx + 1.5, gy + 0.5 + interp(v10, v11))
            def add(a: (Double, Double), b: (Double, Double)): Unit =
              segs += ((a._1, a._2, b._1, b._2))
            code match {
              case 1 | 14 => add(left, top)
              case 2 | 13 => add(top, right)
              case 3 | 12 => add(left, right)
              case 4 | 11 => add(bottom, left)
              case 5 | 10 => add(top, bottom)
              case 7 | 8  => add(right, bottom)
              case 6 | 9  =>
                val connectAbove = (v00 + v10 + v01 + v11) / 4 > level
                if (code == 6) {
                  if (connectAbove) { add(left, top); add(right, bottom) }
                  else { add(top, right); add(bottom, left) }
                } else {
                  if (connectAbove) { add(top, right); add(left, bottom) }
                  else { add(left, top); add(right, bottom) }
                }
              case _ =>
            }
          }
          cx += 1
        }
        cy += 1
      }
    }
    segs.toSeq
  }

  /** Merge whole polylines sharing endpoints (cross-strip stitch).
    * `byEnd` is a MULTImap: at a 3-way/4-way junction on a strip seam
    * (saddle on a boundary row) several chains share one endpoint, and a
    * single-slot map would let a later registration overwrite an earlier
    * one — the overwritten chain then never stitches.
    */
  private[graft] def stitchChains(chains: Seq[Vector[(Double, Double)]]): Seq[Vector[(Double, Double)]] = {
    type P = (Double, Double)
    val acc = mutable.ArrayBuffer[Vector[P]]()
    val byEnd = mutable.HashMap[P, mutable.Set[Int]]()
    def unregister(i: Int, p: P): Unit =
      byEnd.get(p).foreach { s => s -= i; if (s.isEmpty) byEnd.remove(p) }
    def pick(p: P): Option[Int] =
      byEnd.get(p).flatMap(_.find(i => acc(i).nonEmpty))
    chains.foreach { c0 =>
      var c = c0
      var merged = true
      while (merged) {
        merged = false
        pick(c.head).orElse(pick(c.last)) match {
          case Some(i) =>
            val other = acc(i)
            unregister(i, other.head); unregister(i, other.last)
            acc(i) = Vector.empty
            c =
              if (other.last == c.head) other ++ c.tail
              else if (other.head == c.head) other.reverse ++ c.tail
              else if (other.last == c.last) other ++ c.reverse.tail
              else other.reverse ++ c.reverse.tail
            merged = c.head != c.last // closed ring: stop
          case None => merged = false
        }
      }
      acc += c
      if (c.head != c.last) {
        byEnd.getOrElseUpdate(c.head, mutable.Set.empty) += (acc.length - 1)
        byEnd.getOrElseUpdate(c.last, mutable.Set.empty) += (acc.length - 1)
      }
    }
    acc.filter(_.nonEmpty).map(_.toVector).toSeq
  }

  /** Distributed contour over strips → DataFrame(level, wkb) of stitched
    * LINESTRINGs in geo coordinates.
    */
  def contour(spark: SparkSession, strips: Dataset[DStrip], w: Int, h: Int,
              gt: GeoTransform, levels: Seq[Double], interval: Double = 0.0): DataFrame = {
    import spark.implicits._
    val fudgeAmt = (if (interval > 0) interval else 1.0) * Fudge
    val lvls = levels.toArray

    // per-strip marching squares (first row of the strip below as halo) +
    // local stitch
    val halo = StripScan.halo(strips, above = false, below = true)(_.stripIdx, _.height, Dem.row)
    val chains: Dataset[StripChain] = halo.flatMap { case (strip, _, down) =>
      val below = down.map(_.vals).orNull
      lvls.iterator.flatMap { level =>
        val segs = stripSegments(strip.vals, w, strip.height, strip.yOff,
          below, h, level, fudgeAmt)
        stitch(segs).zipWithIndex.map { case (chain, i) =>
          val xy = new Array[Double](chain.length * 2)
          chain.zipWithIndex.foreach { case ((px, py), j) =>
            xy(2 * j) = px; xy(2 * j + 1) = py
          }
          StripChain(level, strip.stripIdx, i, xy)
        }
      }
    }.ckpt() // reused for boundary collection AND final merge

    // chain ids packed into a Long: level index | strip | local index
    val lvlIdxB = spark.sparkContext.broadcast(lvls.zipWithIndex.toMap)
    require(lvls.length <= (1 << 20), "contour: too many levels to pack")
    def pack(c: StripChain): Long = {
      require(c.stripIdx < (1 << 22) && c.localIdx < (1 << 22), "contour: pack overflow")
      (lvlIdxB.value(c.level).toLong << 44) | (c.stripIdx.toLong << 22) | c.localIdx.toLong
    }
    // seam pairs: chains whose endpoints meet at the same seam point are
    // equivalent. The UnionFind mode limit counts these pairs (a
    // continental DEM with 100 levels has millions — never driver-collected
    // then); the over-limit case recomputes from `chains`, checkpointed above
    val pairsDs: Dataset[(Long, Long)] = chains.flatMap { c =>
      val n = c.xy.length / 2
      Seq((c.xy(0), c.xy(1)), (c.xy(2 * (n - 1)), c.xy(2 * (n - 1) + 1)))
        .filter { case (_, ey) => ey == math.floor(ey) + 0.5 } // on a row seam
        .map { case (ex, ey) => (c.level, ex, ey, pack(c)) }
    }.groupByKey(t => (t._1, t._2, t._3)).flatMapGroups { (_, it) =>
      val ids = mutable.LinkedHashSet[Long]()
      it.foreach(t => ids += t._4)
      if (ids.size < 2) Iterator.empty
      else ids.toSeq.sliding(2).map(p => (p(0), p(1))).toVector.iterator
    }
    val gtB = spark.sparkContext.broadcast(gt)

    def mergeGroup(level: Double, it: Iterator[StripChain]): Iterator[(Double, Array[Byte])] = {
      val members = it.toSeq.map { c =>
        (0 until c.xy.length / 2).map(j => (c.xy(2 * j), c.xy(2 * j + 1))).toVector
      }
      val g = gtB.value
      stitchChains(members).iterator.map { merged =>
        val xy = new Array[Double](merged.length * 2)
        merged.zipWithIndex.foreach { case ((px, py), j) =>
          xy(2 * j) = g.geoX(px, py); xy(2 * j + 1) = g.geoY(px, py)
        }
        (level, graft.core.Geom.toWkb(GLine(xy)))
      }
    }

    // key every chain by its component root: a broadcast map (driver mode)
    // or a join against the distributed roots
    val keyed: Dataset[(Long, StripChain)] = DriverRows.fit(pairsDs) match {
      case Some(pairs) =>
        val rootB = spark.sparkContext.broadcast(UnionFind.driverRoots(pairs))
        chains.map { c => val k = pack(c); (rootB.value.getOrElse(k, k), c) }
      case None =>
        import org.apache.spark.sql.functions.{coalesce, col}
        val rootsDF = UnionFind.roots(pairsDs.toDF("a", "b"))
          .withColumnRenamed("gid", "pid")
        chains.map(c => (pack(c), c)).toDF("pid", "c")
          .join(rootsDF, Seq("pid"), "left")
          .select(coalesce(col("root"), col("pid")), col("c"))
          .as[(Long, StripChain)]
    }
    val out = keyed.groupByKey(_._1).flatMapGroups { (_, it) =>
      val ms = it.toSeq
      mergeGroup(ms.head._2.level, ms.iterator.map(_._2))
    }
    out.toDF("level", "wkb")
  }

  /** Join segments sharing endpoints into maximal polylines. */
  private def stitch(segs: Seq[(Double, Double, Double, Double)]): Seq[Vector[(Double, Double)]] = {
    type P = (Double, Double)
    val chains = mutable.ArrayBuffer[mutable.ArrayDeque[P]]()
    val byEnd = mutable.HashMap[P, Int]() // endpoint -> chain index
    def endpoints(c: mutable.ArrayDeque[P]): (P, P) = (c.head, c.last)
    segs.foreach { case (x1, y1, x2, y2) =>
      val a: P = (x1, y1); val b: P = (x2, y2)
      (byEnd.get(a), byEnd.get(b)) match {
        case (Some(i), Some(j)) if i != j =>
          // join two chains
          val ci = chains(i); val cj = chains(j)
          byEnd.remove(ci.head); byEnd.remove(ci.last)
          byEnd.remove(cj.head); byEnd.remove(cj.last)
          val joinedI = if (ci.head == a) ci.reverse else ci
          val joinedJ = if (cj.last == b) cj.reverse else cj
          val merged = joinedI ++ joinedJ
          chains(i) = merged
          chains(j) = mutable.ArrayDeque.empty
          byEnd(merged.head) = i; byEnd(merged.last) = i
        case (Some(i), Some(_)) => // same chain: closes a ring
          val ci = chains(i)
          byEnd.remove(ci.head); byEnd.remove(ci.last)
          ci.append(if (ci.last == a) b else a)
        case (Some(i), None) =>
          val ci = chains(i)
          byEnd.remove(ci.head); byEnd.remove(ci.last)
          if (ci.last == a) ci.append(b) else ci.prepend(b)
          byEnd(ci.head) = i; byEnd(ci.last) = i
        case (None, Some(j)) =>
          val cj = chains(j)
          byEnd.remove(cj.head); byEnd.remove(cj.last)
          if (cj.last == b) cj.append(a) else cj.prepend(a)
          byEnd(cj.head) = j; byEnd(cj.last) = j
        case (None, None) =>
          val c = mutable.ArrayDeque(a, b)
          chains += c
          byEnd(a) = chains.length - 1
          byEnd(b) = chains.length - 1
      }
    }
    chains.filter(_.nonEmpty).map(_.toVector).toSeq
  }
}
