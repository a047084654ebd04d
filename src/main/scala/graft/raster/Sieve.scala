package graft.raster

import graft.core.Ckpt.CkptOps
import graft.core.DriverRows
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.raster.Overview.IStrip

/** Sieve filter — removes raster polygons smaller than a threshold,
  * replacing them with the value of their largest neighbour polygon.
  * Faithful re-expression of `/root/reference/gdal/alg/gdalsievefilter.cpp`
  * (GDALSieveFilter): CC enumeration (shared [[Polygonize.Enumerator]]),
  * per-polygon size accumulation, scan-order biggest-neighbour selection
  * (`CompareNeighbour`, `:104-137` — strict-less update keeps the first
  * encountered maximum, which is order-sensitive and preserved here),
  * chain-walking for too-small neighbours with cycle detection
  * (`:428-500`), and the final rewrite pass.
  *
  * Golden gates: checksums 364 / 370 / 451
  * (`autotest/alg/sieve.py:55,:85,:117`).
  */
object Sieve extends Serializable {

  private val logger = org.apache.logging.log4j.LogManager.getLogger("graft.raster.Sieve")

  /** Single-node exact port. `vals` row-major (no mask: every value incl.
    * any "nodata" value participates, matching SieveFilter(…, None, …)).
    */
  def sieveLocal(vals: Array[Int], w: Int, h: Int, threshold: Int, conn: Int): Array[Int] = {
    // pass 1: enumerate + sizes
    val en = new Polygonize.Enumerator(conn)
    var lastId = new Array[Int](w)
    var thisId = new Array[Int](w)
    var lastRow: Array[Int] = null
    val sizes = new scala.collection.mutable.ArrayBuffer[Int]()
    var y = 0
    while (y < h) {
      val row = java.util.Arrays.copyOfRange(vals, y * w, (y + 1) * w)
      en.processLine(lastRow, row, lastId, thisId, 0, 0, w)
      while (sizes.length < en.nNextPolygonId) sizes += 0
      var x = 0
      while (x < w) {
        val p = thisId(x)
        if (p >= 0) sizes(p) += 1
        x += 1
      }
      val t = lastId; lastId = thisId; thisId = t
      lastRow = row
      y += 1
    }
    en.completeMerges()
    var i = 0
    while (i < en.nNextPolygonId) {
      if (en.polyIdMap(i) != i) {
        sizes(en.polyIdMap(i)) += sizes(i)
        sizes(i) = 0
      }
      i += 1
    }

    // pass 2: biggest neighbour in scan order
    val big = Array.fill(en.nNextPolygonId)(-1)
    @inline def compare(raw1: Int, raw2: Int): Unit = {
      if (raw1 < 0 || raw2 < 0) return
      val p1 = en.polyIdMap(raw1)
      val p2 = en.polyIdMap(raw2)
      if (p1 == p2) return
      if (big(p1) == -1 || sizes(big(p1)) < sizes(p2)) big(p1) = p2
      if (big(p2) == -1 || sizes(big(p2)) < sizes(p1)) big(p2) = p1
    }
    val second = new Polygonize.Enumerator(conn)
    lastId = new Array[Int](w); thisId = new Array[Int](w)
    lastRow = null
    y = 0
    while (y < h) {
      val row = java.util.Arrays.copyOfRange(vals, y * w, (y + 1) * w)
      second.processLine(lastRow, row, lastId, thisId, 0, 0, w)
      var x = 0
      while (x < w) {
        if (y > 0) {
          compare(thisId(x), lastId(x))
          if (x > 0 && conn == 8) compare(thisId(x), lastId(x - 1))
          if (x < w - 1 && conn == 8) compare(thisId(x), lastId(x + 1))
        }
        if (x > 0) compare(thisId(x), thisId(x - 1))
        x += 1
      }
      val t = lastId; lastId = thisId; thisId = t
      lastRow = row
      y += 1
    }

    resolveAndRewrite(vals, w, h, conn, en, sizes.toArray, big, threshold)
  }

  /** Chain-walk small polygons to a big-enough neighbour, then rewrite. */
  private[raster] def resolveAndRewrite(vals: Array[Int], w: Int, h: Int, conn: Int,
                                        en: Polygonize.Enumerator, sizes: Array[Int],
                                        big: Array[Int], threshold: Int): Array[Int] = {
    var iPoly = 0
    while (iPoly < en.nNextPolygonId) {
      if (en.polyIdMap(iPoly) == iPoly && en.polyValue(iPoly) != Polygonize.NoDataMarker) {
        if (sizes(iPoly) >= threshold) big(iPoly) = -1
        else if (big(iPoly) != -1) {
          val visited = scala.collection.mutable.Set(iPoly)
          var finalId = iPoly
          var found = false
          var done = false
          while (!done) {
            finalId = big(finalId)
            if (finalId < 0) done = true
            else if (sizes(finalId) >= threshold) { found = true; done = true }
            else if (visited.contains(finalId)) done = true
            else visited += finalId
          }
          if (!found) big(iPoly) = -1
          else {
            var cur = iPoly
            while (big(cur) != finalId) {
              val next = big(cur)
              big(cur) = finalId
              cur = next
            }
          }
        }
      }
      iPoly += 1
    }

    // pass 3: rewrite
    val out = vals.clone()
    val third = new Polygonize.Enumerator(conn)
    var lastId = new Array[Int](w)
    var thisId = new Array[Int](w)
    var lastRow: Array[Int] = null
    var y = 0
    while (y < h) {
      val row = java.util.Arrays.copyOfRange(vals, y * w, (y + 1) * w)
      third.processLine(lastRow, row, lastId, thisId, 0, 0, w)
      var x = 0
      while (x < w) {
        val raw = thisId(x)
        if (raw >= 0) {
          val p = en.polyIdMap(raw)
          if (big(p) != -1) out(y * w + x) = en.polyValue(big(p))
        }
        x += 1
      }
      val t = lastId; lastId = thisId; thisId = t
      lastRow = row
      y += 1
    }
    out
  }

  /** One component's partial stats within a strip. */
  final case class CompPart(gid: Long, size: Int, value: Int)

  final case class NeighborPair(y: Int, x: Int, sub: Int, g1: Long, g2: Long)

  /** Distributed sieve over strips — the genuinely-parallel layout:
    *
    *  A. label each strip once ([[Polygonize.label]]); the labelled strips
    *     are the operator's only strip cache besides B's output;
    *  B. [[BoundaryMerge.merge]]: an adjacent-boundary shuffle emits
    *     deduped equivalence pairs, the union-find resolves them (the driver
    *     sees O(#boundary components) pairs plus one count per strip, never
    *     pixel rows), and every strip comes back with the global root of
    *     each local id and the previous strip's bottom row as its halo;
    *  C. global component sizes/values as a DataFrame AGGREGATION of
    *     per-strip partials (map-side combined, never driver-collected);
    *  D. biggest-neighbour selection as an argmax AGGREGATION: the
    *     sequential CompareNeighbour loop's strict-less update keeps the
    *     first-encountered maximum in (y, x, sub) scan order, which equals
    *     argmax over (neighbour size, −first-encounter position) — a
    *     groupBy, not a driver replay of the pair stream;
    *  E. distributed pointer-doubling over the small-polygon pointer graph;
    *  F. per-strip rewrite: the (global id → new value) table is broadcast
    *     when [[graft.core.DriverRows.fit]] finds it under the driver row
    *     limit, else shipped per-strip via a shuffle join on stripIdx
    *     (salt-and-pepper noise makes #small ≈ pixels/2 — too big to
    *     materialize on the driver).
    *
    * C, D and F are plain maps over B's resolved strips: none re-runs the
    * enumerator or depends on the union-find mode.
    */
  def sieve(spark: SparkSession, stripsIn: Dataset[IStrip], w: Int, h: Int,
            threshold: Int, conn: Int): Dataset[IStrip] = {
    import spark.implicits._

    // A: the one enumerator pass per strip, read by B's several jobs
    val labelled = stripsIn.map { s =>
      BoundaryMerge.LabelledStrip(s.stripIdx, s.yOff, s.height,
        Polygonize.label(s.vals, w, s.height, conn))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // B: resolved strips, read by C, D and F
    val merged = BoundaryMerge.merge(spark, labelled, w, conn)
    val strips = merged.strips.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // C: global component sizes/values — distributed aggregation of
    // per-strip partials (one CompPart row per local component)
    val compStats = strips.flatMap { s =>
      val l = s.labels
      val sizes = new Array[Int](l.nIds)
      l.ids.foreach(id => if (id != -1) sizes(id) += 1)
      (0 until l.nIds).iterator.filter(sizes(_) > 0)
        .map(f => CompPart(s.roots(f), sizes(f), l.values(f)))
    }
    import org.apache.spark.sql.functions.{col, count => _, _}
    val sizesDF = compStats.toDF("gid", "size", "value")
      .groupBy(col("gid"))
      .agg(sum(col("size")).cast("int").as("gsize"), first(col("value")).as("gvalue"))
      .ckpt()

    // D: scan-ordered effective neighbour pair occurrences (distributed);
    // row 0 of a strip pairs with its halo row
    val pairs = strips.flatMap { s =>
      val out = Seq.newBuilder[NeighborPair]
      var lastG = s.haloRoots
      var r = 0
      while (r < s.height) {
        val thisG = Array.tabulate(w)(x => s.root(r * w + x))
        val gy = s.yOff + r
        var x = 0
        while (x < w) {
          @inline def emit(sub: Int, a: Long, b: Long): Unit =
            if (a >= 0 && b >= 0 && a != b) out += NeighborPair(gy, x, sub, a, b)
          if (gy > 0 && lastG != null) {
            emit(0, thisG(x), lastG(x))
            if (x > 0 && conn == 8) emit(1, thisG(x), lastG(x - 1))
            if (x < w - 1 && conn == 8) emit(2, thisG(x), lastG(x + 1))
          }
          if (x > 0) emit(3, thisG(x), thisG(x - 1))
          x += 1
        }
        lastG = thisG
        r += 1
      }
      out.result().iterator
    }

    // biggest-neighbour argmax: first-encountered maximum in scan order
    // ≡ max_by(q, (size(q), −firstOccurrence(p,q)))
    val occ = pairs.toDF("y", "x", "sub", "g1", "g2")
      .withColumn("pos", (col("y").cast("long") * w + col("x")) * 4 + col("sub"))
    val directed = occ.select(col("g1").as("p"), col("g2").as("q"), col("pos"))
      .unionAll(occ.select(col("g2").as("p"), col("g1").as("q"), col("pos")))
    val firstOcc = directed.groupBy(col("p"), col("q")).agg(min(col("pos")).as("fpos"))
    val bigDF = firstOcc
      .join(sizesDF.select(col("gid").as("q"), col("gsize").as("qsize"),
        col("gvalue").as("qvalue")), "q")
      .groupBy(col("p"))
      .agg(max_by(struct(col("q"), col("qsize"), col("qvalue")),
        struct(col("qsize"), -col("fpos"))).as("b"))
      .select(col("p"), col("b.q").as("q"), col("b.qsize").as("qsize"),
        col("b.qvalue").as("qvalue"))

    // E: distributed pointer-doubling over the small-polygon pointer graph
    // (gid → biggest small neighbor, or resolved value when the biggest
    // neighbor is large). Each round composes the pointer function with
    // itself, so a resolvable chain of length L resolves in ⌈log2 L⌉
    // rounds. The loop needs no round cap to end: `active` is a
    // non-negative count, and a round runs only while it strictly falls.
    // A round in which it does not fall leaves only pointers into
    // pure-small cycles, which never resolve; that
    // matches the serial walk's visited-set stop. Only the FINAL
    // (gid → replacement value) map — O(resolved small polygons), which
    // must broadcast to executors anyway — ever reaches the driver;
    // each pointer round brings back only its active count.
    val smallPtr0 = sizesDF.filter(col("gsize") < threshold)
      .join(bigDF, col("gid") === col("p"), "left")
      .select(col("gid"), col("gvalue"),
        when(col("q").isNotNull && col("qsize") < threshold, col("q"))
          .otherwise(lit(null).cast("long")).as("next"),
        when(col("q").isNotNull && col("qsize") >= threshold, col("qvalue"))
          .otherwise(lit(null).cast("int")).as("res"))
    var f = smallPtr0.ckpt()
    var active = f.filter(col("next").isNotNull && col("res").isNull).count()
    var prevActive = Long.MaxValue
    var ptrIter = 0
    while (active > 0 && active < prevActive) {
      prevActive = active
      val b = f.select(col("gid").as("b_gid"), col("next").as("b_next"),
        col("res").as("b_res"))
      val nf = f.join(b, f("next") === col("b_gid"), "left")
        .select(f("gid"), f("gvalue"),
          when(f("res").isNotNull, lit(null).cast("long"))
            .otherwise(col("b_next")).as("next"),
          coalesce(f("res"), col("b_res")).as("res"))
        .ckpt()
      f.unpersist()
      f = nf
      active = f.filter(col("next").isNotNull && col("res").isNull).count()
      ptrIter += 1
    }
    val rewriteDF = f
      .filter(col("res").isNotNull && col("gvalue") =!= Polygonize.NoDataMarker)
      .select(col("gid"), col("res").cast("int").as("res"))
      .ckpt()
    f.unpersist()

    // F: per-strip rewrite. The resolved (gid → value) table is applied
    // via broadcast when it fits under the driver row limit, else via a
    // shuffle join on stripIdx so it never materializes on the driver
    // (salt-and-pepper noise makes #small components ≈ pixels/2).
    val rewrites = DriverRows.fit(rewriteDF.as[(Long, Int)])
    val stop = if (active == 0) "resolved" else "on the non-shrinking (cycle) rule"
    val rewrite = rewrites.fold("shuffle-join rewrite of components over the driver row limit")(
      rw => s"broadcast rewrite of ${rw.length} components")
    logger.info(s"sieve: pointer doubling took $ptrIter rounds and stopped $stop; $rewrite")
    val out = rewrites match {
      case Some(rw) =>
        val rewriteB = spark.sparkContext.broadcast(rw.toMap)
        strips.map(s => rewriteStrip(s, w, rewriteB.value))
      case None =>
        // per-strip (root gid) inventory → join with the rewrite table →
        // group the strip's own rewrite entries back to it
        val stripRoots = strips.flatMap(s => s.roots.distinct.iterator.map(r => (r, s.stripIdx)))
          .toDF("gid", "stripIdx")
        val byStrip = stripRoots.join(rewriteDF, "gid")
          .select(col("stripIdx"), col("gid"), col("res"))
          .as[(Int, Long, Int)]
        strips.groupByKey(_.stripIdx)
          .cogroup(byStrip.groupByKey(_._1)) { (_, sIt, rIt) =>
            val rw: Map[Long, Int] = rIt.map(t => t._2 -> t._3).toMap
            sIt.map(s => rewriteStrip(s, w, rw))
          }
    }
    // materialize before dropping the caches: `out`'s final rewrite pass
    // is lazy, and unpersisting first would recompute the whole input
    // lineage one more time
    val res = out.ckpt()
    strips.unpersist(false)
    merged.unpersist()
    labelled.unpersist(false)
    res
  }

  /** Apply a (root gid → replacement value) map to one resolved strip. */
  private def rewriteStrip(s: BoundaryMerge.ResolvedStrip, w: Int,
                           rw: scala.collection.Map[Long, Int]): IStrip = {
    val l = s.labels
    val idVal = Array.tabulate(l.nIds)(id => rw.getOrElse(s.roots(id), l.values(id)))
    val out = Array.tabulate(w * s.height) { p =>
      if (l.ids(p) == -1) Polygonize.NoDataMarker else idVal(l.ids(p))
    }
    IStrip(s.stripIdx, s.yOff, s.height, w, out)
  }
}
