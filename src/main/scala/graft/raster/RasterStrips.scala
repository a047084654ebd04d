package graft.raster

import graft.core.Ckpt.CkptOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Geom, GeoTransform}

/** Distributed raster execution over horizontal strips.
  *
  * The reference processes rasters in y-swaths sized to a memory budget
  * (`/root/reference/gdal/alg/gdalrasterize.cpp:637-648`: 10 MB / scanline
  * bytes; warp quad-splits chunks until they fit 64 MB,
  * `gdal/alg/gdalwarpoperation.cpp:538,:680`). Here a strip IS the unit of
  * distribution: a `Dataset[Strip]` row per swath, burned/scanned in
  * parallel across executors instead of sequentially.
  *
  * Scale design (100 TB / 1000-executor thinking):
  *  - shapes are range-joined to strips on pixel-row overlap, so a shape is
  *    shipped only to strips it can touch (no broadcast of the full vector
  *    side needed; Spark broadcasts the small side automatically when it
  *    fits — both plans remain shuffle-minimal);
  *  - strips never materialize the whole raster on one node; strip height
  *    is the memory knob (default targets ~8 MiB byte strips);
  *  - checksum is an order-insensitive partial-sum aggregate (see
  *    [[Checksum]]), so verification needs no global sort;
  *  - polygonize runs the sequential enumerator per strip, matches
  *    components across strip boundaries in an adjacent-boundary shuffle
  *    ([[BoundaryMerge]]: the driver collects only deduped equivalence
  *    pairs, O(#boundary components), never pixel rows), then groups unit
  *    pixel edges by global polygon id and replays them into the
  *    sequential kernel's ring builder — the classic 2-phase distributed
  *    connected-components layout, with output byte-identical to
  *    [[Polygonize.polygonize]].
  */
object RasterStrips extends Serializable {

  /** One shape to burn, WKB-encoded with per-band burn values. */
  final case class ShapeRow(idx: Long, wkb: Array[Byte], burn: Array[Double])

  /** One burned strip: rows [yOff, yOff+height) of all bands,
    * band-sequential within the strip.
    */
  final case class Strip(yOff: Int, height: Int, data: Array[Byte])

  final case class RasterSpec(width: Int, height: Int, bands: Int, gt: GeoTransform)

  /** Strip height targeting ~targetBytes per strip. */
  def stripHeightFor(spec: RasterSpec, targetBytes: Long = 8L << 20): Int =
    math.max(1, math.min(spec.height, (targetBytes / math.max(1L, spec.width.toLong * spec.bands)).toInt))

  /** Distributed rasterize of WKB shapes into byte strips.
    *
    * Plan shape: shapes → explode(strip range from pixel-space envelope) →
    * shuffle on stripId → per-strip ordered burn. Empty strips are emitted
    * too (checksum completeness).
    */
  def rasterize(spark: SparkSession, shapes: Dataset[ShapeRow], spec: RasterSpec,
                opts: Rasterize.Options, stripHeight0: Int = 0): Dataset[Strip] = {
    import spark.implicits._
    val stripHeight = if (stripHeight0 > 0) stripHeight0 else stripHeightFor(spec)
    val nStrips = (spec.height + stripHeight - 1) / stripHeight
    val inv = spec.gt.inverse.getOrElse(sys.error("non-invertible geotransform"))
    val w = spec.width; val h = spec.height; val bands = spec.bands; val gt = spec.gt

    // strip range per shape from the geo envelope's pixel-space corners
    val withStrip = shapes.flatMap { s =>
      val env = Geom.fromWkb(s.wkb).envelope
      val ys = Array(
        inv.geoY(env.minX, env.minY), inv.geoY(env.minX, env.maxY),
        inv.geoY(env.maxX, env.minY), inv.geoY(env.maxX, env.maxY))
      val y0 = math.max(0, math.floor(ys.min).toInt - 1)
      val y1 = math.min(h - 1, math.ceil(ys.max).toInt + 1)
      if (y1 < y0) Iterator.empty
      else (y0 / stripHeight to y1 / stripHeight).iterator.map(st => (st, s))
    }

    val allStrips = spark.range(nStrips).map(_.toInt).toDF("st")
    val grouped = allStrips
      .join(withStrip.toDF("st2", "shape"), $"st" === $"st2", "left")
      .select($"st", $"shape")
      .as[(Int, ShapeRow)]
      .groupByKey(_._1)
      .mapGroups { (st, it) =>
        val yOff = st * stripHeight
        val hh = math.min(stripHeight, h - yOff)
        val chunk = new Rasterize.ByteChunk(w, hh, bands)
        val shapesHere = it.map(_._2).filter(_ != null).toArray.sortBy(_.idx)
        shapesHere.foreach { s =>
          Rasterize.burnShapeByte(chunk, yOff, gt,
            Rasterize.Shape(Geom.fromWkb(s.wkb), s.burn), opts)
        }
        Strip(yOff, hh, chunk.data)
      }
    grouped
  }

  /** Distributed checksum of one band over burned strips: per-strip partial
    * with the strip's global prime phase, plain sum combine, final mask.
    */
  def checksum(strips: Dataset[Strip], spec: RasterSpec, band: Int): Int = {
    import strips.sparkSession.implicits._
    val w = spec.width
    val partials = strips.map { s =>
      val off = band * w * s.height
      Checksum.partialByte(s.data, off, w * s.height, s.yOff.toLong * w)
    }
    Checksum.finish(partials.reduce(_ + _))
  }

  // -------------------------------------------------------------------------
  // Distributed polygonize
  // -------------------------------------------------------------------------

  /** Value strip: rows [yOff, yOff+height) of pixel values (nodata already
    * replaced by [[Polygonize.NoDataMarker]]).
    */
  final case class ValueStrip(stripIdx: Int, yOff: Int, height: Int, vals: Array[Int])

  /** One unit pixel edge of global polygon `gid`, as [[Polygonize.addEdges]]
    * reports it: `x` is its iXReal, `y` the global line (`h` for the
    * closing pass below the last row).
    */
  final case class Edge(gid: Long, value: Int, y: Int, x: Int, vertical: Boolean)

  /** Run pass-1 locally over a strip; return (enumerator, per-row final ids
    * for top and bottom rows).
    */
  private def localPass1(s: ValueStrip, w: Int, conn: Int): (Polygonize.Enumerator, Array[Int], Array[Int]) = {
    val en = new Polygonize.Enumerator(conn)
    var lastId = new Array[Int](w)
    var thisId = new Array[Int](w)
    var lastRow: Array[Int] = null
    var topIds: Array[Int] = null
    var r = 0
    while (r < s.height) {
      val row = java.util.Arrays.copyOfRange(s.vals, r * w, (r + 1) * w)
      en.processLine(lastRow, row, lastId, thisId, 0, 0, w)
      if (r == 0) topIds = thisId.clone()
      val t = lastId; lastId = thisId; thisId = t
      lastRow = row
      r += 1
    }
    en.completeMerges()
    val botIds = lastId.clone()
    (en, topIds.map(i => if (i == -1) -1 else en.polyIdMap(i)),
      botIds.map(i => if (i == -1) -1 else en.polyIdMap(i)))
  }

  /** Distributed polygonize over value strips → DataFrame(value: Int,
    * wkb: Array[Byte]). For any strip height, the (value, WKB) multiset
    * equals [[Polygonize.polygonize]]'s byte for byte: Phase C ships unit
    * pixel edges keyed by global polygon id, and Phase D replays each
    * polygon's edges into an [[Polygonize.RPoly]] in the sequential
    * kernel's emission order. Only the order of the rows differs.
    */
  def polygonize(spark: SparkSession, strips0: Dataset[ValueStrip], w: Int, h: Int,
                 connectedness: Int, gt: GeoTransform): DataFrame = {
    import spark.implicits._
    val conn = connectedness
    // the strip set is consumed by Phase A (summaries) and Phase C (edge
    // extraction): persist so upstream lineage evaluates once
    val strips = strips0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Phase A: per-strip pass 1 → boundary summaries (distributed — the
    // driver sees only (stripIdx, nIds) counts and deduped equivalence
    // pairs, never pixel rows)
    val summariesDs = strips.map { s =>
      val (en, topIds, botIds) = localPass1(s, w, conn)
      val topVals = java.util.Arrays.copyOfRange(s.vals, 0, w)
      val botVals = java.util.Arrays.copyOfRange(s.vals, (s.height - 1) * w, s.height * w)
      BoundaryMerge.BoundarySummary(s.stripIdx, en.nNextPolygonId,
        topVals, topIds, botVals, botIds)
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Phase B: adjacent-boundary shuffle → pairs → union-find (driver
    // below the pair limit, distributed Spark job above it)
    val merged = BoundaryMerge.merge(spark, summariesDs, w, conn)
    val rootsB = spark.sparkContext.broadcast(merged.roots)
    val baseB = spark.sparkContext.broadcast(merged.base)

    // Phase C: per-strip edge extraction with global ids; the previous
    // strip's bottom-row halo (and, in distributed mode, the strip's own
    // root map) arrives via cogroup, not a driver broadcast
    val lastStripIdx = merged.base.length - 2
    val edges = strips.groupByKey(_.stripIdx)
      .cogroup(merged.side.groupByKey(_.stripIdx)) { (_, sIt, sideIt) =>
      var haloVals: Array[Int] = null; var haloGids: Array[Long] = null
      val sides = sideIt.toSeq
      sides.foreach { sd =>
        if (sd.haloVals != null) { haloVals = sd.haloVals; haloGids = sd.haloGids }
      }
      val localRoots = BoundaryMerge.sideRootMap(sides)
      sIt.flatMap { s =>
      val myBase = baseB.value(s.stripIdx)
      val rootMap = rootsB.value
      val (en1, _, _) = localPass1(s, w, conn)
      // second pass over the strip: raw ids → local final (first-pass
      // map) → global root, then the shared AddEdges walk
      val second = new Polygonize.Enumerator(conn)
      val buf = Vector.newBuilder[Edge]
      val sink: Polygonize.EdgeSink =
        (gid, value, x, y, vertical) => buf += Edge(gid, value, y, x, vertical)
      var lastRaw = new Array[Int](w); var thisRaw = new Array[Int](w)
      var lastG = Array.fill(w + 2)(-1L); var thisG = Array.fill(w + 2)(-1L)
      // the halo row (previous strip's bottom row, global root ids) sits
      // above row 0: the edges between the two strips are emitted here
      var lastRow = haloVals
      if (haloGids != null) System.arraycopy(haloGids, 0, lastG, 1, w)
      var prevLocalRow: Array[Int] = null
      var r = 0
      while (r < s.height) {
        val row = java.util.Arrays.copyOfRange(s.vals, r * w, (r + 1) * w)
        second.processLine(prevLocalRow, row, lastRaw, thisRaw, 0, 0, w)
        var x = 0
        while (x < w) {
          val raw = thisRaw(x)
          thisG(x + 1) = if (raw == -1) -1L
            else BoundaryMerge.lookup(localRoots, rootMap, myBase + en1.polyIdMap(raw))
          x += 1
        }
        Polygonize.addEdges(thisG, lastG, row, lastRow, w, s.yOff + r, sink)
        val tR = lastRaw; lastRaw = thisRaw; thisRaw = tR
        val tG = lastG; lastG = thisG; thisG = tG
        prevLocalRow = row
        lastRow = row
        r += 1
      }
      // bottom closing pass: only the strip that owns the LAST row of the
      // raster (otherwise the next strip's halo pass emits this boundary)
      if (s.stripIdx == lastStripIdx) {
        java.util.Arrays.fill(thisG, -1L)
        Polygonize.addEdges(thisG, lastG, null, lastRow, w, s.yOff + s.height, sink)
      }
      buf.result()
      }
    }

    // Phase D: replay each polygon's edges in the sequential kernel's
    // emission order. (y, x, horizontal before vertical) is unique per
    // polygon and is the order in which Polygonize.polygonize calls
    // addSegment; its periodic flush only takes finished polygons, so the
    // rings come out byte-identical.
    val out = edges.groupByKey(_.gid)
      .mapGroups { (_, it) =>
        val es = it.toArray.sortBy(e => (e.y, e.x, e.vertical))
        val rp = new Polygonize.RPoly(es(0).value)
        es.foreach(e => rp.addEdge(e.x, e.y, e.vertical))
        rp.coalesce()
        (rp.value, Geom.toWkb(rp.toPolygon(gt)))
      }
      .toDF("value", "wkb")
      .ckpt() // materialize, then release the strip cache
    summariesDs.unpersist(false)
    strips.unpersist(false)
    out
  }
}
