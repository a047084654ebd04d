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
  *  - polygonize labels each strip in one enumerator pass
  *    ([[Polygonize.label]]), hands the labelled strips to
  *    [[BoundaryMerge.merge]] (an adjacent-boundary shuffle; the driver
  *    collects only deduped equivalence pairs, O(#boundary components),
  *    never pixel rows), which returns each strip with the global root of
  *    every local id and its halo row; it then groups unit pixel edges by
  *    global polygon id and replays them into the sequential kernel's ring
  *    builder — the classic 2-phase distributed connected-components
  *    layout, with output byte-identical to [[Polygonize.polygonize]].
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

  /** Distributed polygonize over value strips → DataFrame(value: Int,
    * wkb: Array[Byte]). For any strip height, the (value, WKB) multiset
    * equals [[Polygonize.polygonize]]'s byte for byte. Phase A labels each
    * strip once; Phase B ([[BoundaryMerge.merge]]) resolves the labels to
    * global polygon ids; Phase C ships unit pixel edges keyed by global
    * polygon id; Phase D replays each polygon's edges into an
    * [[Polygonize.RPoly]] in the sequential kernel's emission order. Only
    * the order of the rows differs.
    */
  def polygonize(spark: SparkSession, strips0: Dataset[ValueStrip], w: Int, h: Int,
                 connectedness: Int, gt: GeoTransform): DataFrame = {
    import spark.implicits._
    val conn = connectedness
    // Phase A: the one enumerator pass per strip; the labelled strips are
    // read by the boundary merge and its resolve step, so persist them
    val labelled = strips0.map { s =>
      BoundaryMerge.LabelledStrip(s.stripIdx, s.yOff, s.height,
        Polygonize.label(s.vals, w, s.height, conn))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Phase B: adjacent-boundary shuffle → pairs → union-find → every
    // strip with the global root of each local id and its halo row
    val merged = BoundaryMerge.merge(spark, labelled, w, conn)

    // Phase C: per-strip edge extraction with global ids
    val lastStripIdx = merged.base.length - 2
    val edges = merged.strips.flatMap { s =>
      val buf = Vector.newBuilder[Edge]
      val sink: Polygonize.EdgeSink =
        (gid, value, x, y, vertical) => buf += Edge(gid, value, y, x, vertical)
      var lastG = Array.fill(w + 2)(-1L); var thisG = Array.fill(w + 2)(-1L)
      // the halo row (previous strip's bottom row, global root ids) sits
      // above row 0: the edges between the two strips are emitted here
      var lastRow = s.haloVals
      if (s.haloRoots != null) System.arraycopy(s.haloRoots, 0, lastG, 1, w)
      var r = 0
      while (r < s.height) {
        val row = new Array[Int](w)
        var x = 0
        while (x < w) {
          row(x) = s.labels.value(r * w + x)
          thisG(x + 1) = s.root(r * w + x)
          x += 1
        }
        Polygonize.addEdges(thisG, lastG, row, lastRow, w, s.yOff + r, sink)
        val tG = lastG; lastG = thisG; thisG = tG
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
      .ckpt() // materialize, then release the caches
    merged.unpersist()
    labelled.unpersist(false)
    out
  }
}
