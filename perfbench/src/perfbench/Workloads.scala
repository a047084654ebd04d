package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gf
import graft.core.{Geom, GeoTransform}
import graft.jobs.Pipeline
import graft.operators.{KnnJoin, SpatialJoin}
import graft.raster.{BoundaryMerge, Checksum, Rasterize, RasterStrips}
import graft.sources.{PageTable, Pages}

final class OracleMiss(msg: String) extends Exception(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new OracleMiss(what)
}

/** Order-insensitive full-output sinks. Every column of every row feeds
  * `xxhash64`, so the optimizer cannot prune an expression whose result
  * lands in the output. The low 32 bits of each row hash are summed, which
  * stays far from Long overflow (ANSI mode would throw) at these sizes.
  */
object Sink {
  def rowHash(df: DataFrame): Column = xxhash64(df.columns.toIndexedSeq.map(df.col): _*)
  def hsum(h: Column): Column = coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L))

  /** (rows, hash sum) of the whole frame, in one action. */
  def all(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), hsum(rowHash(df))).head()
    (r.getLong(0), r.getLong(1))
  }
}

object Disk {
  def tree(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.toList finally s.close() }
  }
  def bytes(dir: String, suffix: String): Long =
    tree(dir).filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
      .map(Files.size).sum
  def delete(dir: String): Unit = tree(dir).reverse.foreach(Files.delete)
}

/** splitmix64, for inputs the benchmark generates itself. */
object Mix {
  def apply(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1) from (seed, i, salt). */
  def unit(seed: Long, i: Long, salt: Int): Double =
    (apply(apply(seed * 0x632be59bd9b4e019L + salt) ^ i) >>> 11) * (1.0 / (1L << 53))
}

/** One workload: inputs and oracle made from the seed, one timed iteration
  * (the public calls plus a full-output sink), an oracle check of that
  * output, and the prefix plans of the traced run.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: String) {
  type Out
  /** Input pages, points, raster pixels or kNN queries of one iteration. */
  def items: Long
  /** Generate inputs and compute the oracle; repeatable. */
  def prepare(): Unit
  /** Names the optimized plan of some query of an iteration must contain:
    * expression names, `alias:<name>` and `out:<column>`.
    */
  def guard: Seq[String]
  /** The timed part: public calls, with the output fully consumed. */
  def run(): Out
  /** Untimed oracle check; throws [[OracleMiss]]. */
  def verify(out: Out): Unit
  def cleanup(): Unit = ()
  /** Prefix plans of the traced run, each sunk like the full query; each
    * returns its row count.
    */
  def steps: Seq[(String, () => Long)]
  /** Per-layer seconds from the step times `t` and the full iteration. */
  def layers(t: String => Double, full: Double): Seq[(String, Double)]
  /** Per-layer counts after a traced iteration, given the row counts of
    * the steps and the listener counters and plan metrics of the full call.
    */
  def counts(rows: String => Long, listener: Map[String, Double],
             plan: PlanStats): Seq[(String, Double)]

  protected var first: Option[Any] = None
  /** The full-output hash must repeat the first iteration's. */
  protected def stable(v: Any): Unit = first match {
    case None => first = Some(v)
    case Some(f) => Check(f == v, s"output hash $v differs from first iteration's $f")
  }
}

object Workload {
  val names = Seq("flagship_commit", "pip_dense", "raster_roundtrip", "knn_join")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "flagship_commit" => new FlagshipCommit(spark, seed, dir)
    case "pip_dense" => new PipDense(spark, seed, dir)
    case "raster_roundtrip" => new RasterRoundtrip(spark, seed, dir)
    case "knn_join" => new KnnJoinWorkload(spark, seed, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def zones(spark: SparkSession, z: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    z.toDF("zone_id", "wkt").select($"zone_id", gf.st_geomfromtext($"wkt").as("geom"))
  }

  /** The cell-bucketed join without its PIP filter, for the prefix plans. */
  def polyCells(zones: DataFrame, res: Int): DataFrame =
    zones.withColumn("__cell", explode(gf.cells_covering(col("geom"), res)))
}

/** The user's job: `Pipeline.runOnPath` over a `PageTable` layout, writing
  * parquet plus per-partition lineage. `geo_extract` and the commit path do
  * most of the work; the join sees few candidates.
  */
final class FlagshipCommit(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  type Out = Unit
  val nPages = 100000L
  val crawlDays = 16
  private val input = s"$dir/pages"
  // Batches and partitions scaled to the input: the default 8 x 64 would
  // write 512 part files per iteration for a few thousand output rows
  private val cfg = Pipeline.Config(outDir = s"$dir/out", nBatches = 2,
    nParts = 2 * spark.sparkContext.defaultParallelism)
  private lazy val zones = Workload.zones(spark, Pages.zones(64))
  private var inputBytes = 0L
  private var expectRows, expectXor = 0L
  private var expectSample = (0L, 0L)
  private var expectText = 0L
  private var written = Map.empty[String, Double]
  def items: Long = nPages

  private def pages = spark.read.parquet(input)
    .select(col("url"), col("warc_ts"), col("lang"), col("text"))
  private def coords = pages
    .select(col("url"), col("warc_ts"), col("lang"), col("text"),
      posexplode(gf.geo_extract(col("text"))).as(Seq("mention_idx", "c")))
    .select(col("url"), col("warc_ts"), col("lang"), col("text"),
      col("mention_idx"), col("c.lon").as("lon"), col("c.lat").as("lat"))
  private val inSample = pmod(xxhash64(col("url"), col("mention_idx")), lit(16)) === 0
  /** (sampled rows, their (url, mention, zone) hash, hash of every (url, text)). */
  private def outputStats(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(when(inSample, lit(1))),
      Sink.hsum(when(inSample, xxhash64(col("url"), col("mention_idx"), col("zone_id")))),
      Sink.hsum(xxhash64(col("url"), col("text")))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def prepare(): Unit = {
    // Pages hashes seed ^ id: spread the seed so nearby seeds differ
    val synth = Pages.synth(spark, nPages, Mix(seed),
      partitions = 2 * spark.sparkContext.defaultParallelism)
    // a crawl segment of `crawlDays` days, so each day partition of the
    // layout holds thousands of pages rather than the few hundred a year
    // of timestamps would leave it
    PageTable.write(synth.withColumn("warc_ts", timestamp_seconds(
      lit(1577836800L) + pmod(unix_seconds(col("warc_ts")), lit(86400L * crawlDays)))), input)
    inputBytes = Disk.bytes(input, ".parquet")
    val transformed = Pipeline.transform(pages, zones, cfg)
    // each iteration's output must carry the same (url, text) multiset,
    // which the anti-join below ties to the input
    val t = transformed
      .agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("url"), col("cell"), col("zone_id"))), lit(0L)),
        Sink.hsum(xxhash64(col("url"), col("text"))))
      .head()
    expectRows = t.getLong(0); expectXor = t.getLong(1); expectText = t.getLong(2)
    val foreign = transformed.select("url", "text")
      .join(pages.select("url", "text"), Seq("url", "text"), "left_anti").count()
    Check(foreign == 0, s"$foreign transform rows carry a (url, text) not in the input")
    // brute force: every sampled mention against every zone, no cells
    val brute = outputStats(coords.filter(inSample).crossJoin(zones)
      .filter(gf.st_contains_point(col("geom"), col("lon"), col("lat"))))
    expectSample = (brute._1, brute._2)
    Disk.delete(cfg.outDir)
  }

  def guard: Seq[String] = Seq("geo_extract", "cell_of", "cells_covering",
    "st_contains_point", "alias:tile_x", "alias:tile_y", "alias:cell", "out:text")

  def run(): Unit = Trace.span("jobs.Pipeline.runOnPath") {
    Pipeline.runOnPath(spark, input, zones, cfg)
  }

  private def field(json: String, key: String): Long =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(throw new OracleMiss(s"lineage record without $key: $json"))

  def verify(out: Unit): Unit = {
    val lineage = Disk.tree(s"${cfg.outDir}/_lineage")
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    val batches = lineage.filter(_._1.startsWith("batch-")).map(_._2)
    val parts = lineage.filter(_._1.startsWith("part-")).map(_._2)
    Check(batches.size == cfg.nBatches, s"${batches.size} batch records, want ${cfg.nBatches}")
    val outRows = batches.map(field(_, "out_rows")).sum
    Check(outRows == expectRows, s"lineage out_rows $outRows, transform gives $expectRows")
    val xor = batches.map(field(_, "checksum")).foldLeft(0L)(_ ^ _)
    Check(xor == expectXor, s"lineage checksum $xor, transform gives $expectXor")
    Check(batches.map(field(_, "in_pages")).sum == nPages, "lineage in_pages != input pages")
    Check(parts.map(field(_, "rows")).sum == outRows, "part records do not sum to out_rows")
    val (n, h, text) = outputStats(Pipeline.output(spark, cfg))
    Check((n, h) == expectSample, s"sampled PIP ${(n, h)}, brute force gives $expectSample")
    Check(text == expectText, "output (url, text) pairs differ from the anti-joined oracle's")
    val bytes = Disk.bytes(cfg.outDir, ".parquet") + Disk.bytes(s"${cfg.outDir}/_lineage", ".json")
    written = Map(
      "jobs.out_rows" -> outRows.toDouble,
      "jobs.parts_committed" -> parts.size.toDouble,
      "jobs.bytes_written" -> bytes.toDouble,
      "jobs.write_amp" -> bytes.toDouble / inputBytes)
  }

  override def cleanup(): Unit = Disk.delete(cfg.outDir)

  def steps: Seq[(String, () => Long)] = {
    val cells = coords.withColumn("__pcell", gf.cell_of(col("lon"), col("lat"), cfg.cellRes))
    val joined = cells.join(broadcast(Workload.polyCells(zones, cfg.cellRes)),
      col("__pcell") === col("__cell"))
    Seq(
      "scan" -> (() => Sink.all(pages)._1),
      "extract" -> (() => Sink.all(coords)._1),
      "cell" -> (() => Sink.all(cells)._1),
      "polyfill" -> (() => Sink.all(Workload.polyCells(zones, cfg.cellRes))._1),
      "join" -> (() => Sink.all(joined)._1),
      "pip" -> (() => Sink.all(joined.filter(
        gf.st_contains_point(col("geom"), col("lon"), col("lat"))))._1),
      "tile" -> (() => Sink.all(Pipeline.transform(pages, zones, cfg))._1))
  }

  def layers(t: String => Double, full: Double): Seq[(String, Double)] = Seq(
    "sources.scan_s" -> t("scan"),
    "expr.geo_extract_s" -> (t("extract") - t("scan")),
    "expr.cell_of_s" -> (t("cell") - t("extract")),
    "index.polyfill_s" -> t("polyfill"),
    "operators.cell_join_s" -> (t("join") - t("cell") - t("polyfill")),
    "operators.pip_s" -> (t("pip") - t("join")),
    "jobs.tile_s" -> (t("tile") - t("pip")),
    "jobs.commit_s" -> (full - t("tile")))

  def counts(rows: String => Long, listener: Map[String, Double],
             plan: PlanStats): Seq[(String, Double)] = Seq(
    "sources.rows" -> rows("scan").toDouble,
    "expr.mentions" -> rows("extract").toDouble,
    "operators.polyfill_cells" -> rows("polyfill").toDouble,
    "operators.join_candidates" -> rows("join").toDouble,
    "operators.pip_hits" -> plan.joinRows.toDouble) ++ written
}

/** Read-only `SpatialJoin.pointInPolygon` of an extracted point table against
  * about a thousand zones: `cell_of`, the cell equi-join and the ray cast,
  * with no `geo_extract` and no writes.
  */
final class PipDense(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  type Out = Row
  val nPoints = 2000000L
  val nZones = 1024
  val res = 7
  private val path = s"$dir/points"
  private lazy val zones = Workload.zones(spark, Pages.zones(nZones, Mix(seed)))
  private var expectSample = (0L, 0L)
  def items: Long = nPoints

  private def points = spark.read.parquet(path)
  private val inSample = pmod(xxhash64(col("pid")), lit(256)) === 0
  private def pairHash = xxhash64(col("pid"), col("zone_id"))

  def prepare(): Unit = {
    // one file per scan task (see spark.sql.files.minPartitionNum in Main):
    // parquet splits no finer than its row groups
    spark.range(0, nPoints, 1, 8 * spark.sparkContext.defaultParallelism)
      .select(col("id").as("pid"),
        (pmod(xxhash64(col("id"), lit(seed)), lit(36000000L)) / 1e5 - 180.0).as("lon"),
        (pmod(xxhash64(col("id"), lit(seed + 1)), lit(15000000L)) / 1e5 - 75.0).as("lat"))
      .write.mode("overwrite").parquet(path)
    val r = points.filter(inSample).crossJoin(zones)
      .filter(gf.st_contains_point(col("geom"), col("lon"), col("lat")))
      .agg(count(lit(1)), Sink.hsum(pairHash)).head()
    expectSample = (r.getLong(0), r.getLong(1))
  }

  def guard: Seq[String] = Seq("cell_of", "cells_covering", "st_contains_point")

  def run(): Row = {
    val joined = Trace.span("operators.SpatialJoin.pointInPolygon") {
      SpatialJoin.pointInPolygon(points, col("lon"), col("lat"), zones, col("geom"), res)
    }
    Trace.span("sink") {
      joined.agg(count(lit(1)), Sink.hsum(Sink.rowHash(joined)),
        count(when(inSample, lit(1))), Sink.hsum(when(inSample, pairHash))).head()
    }
  }

  def verify(r: Row): Unit = {
    val s = (r.getLong(2), r.getLong(3))
    Check(s == expectSample, s"sampled PIP $s, brute force gives $expectSample")
    stable((r.getLong(0), r.getLong(1)))
  }

  private def cells = points.withColumn("__pcell", gf.cell_of(col("lon"), col("lat"), res))
  def steps: Seq[(String, () => Long)] = Seq(
    "scan" -> (() => Sink.all(points)._1),
    "cell" -> (() => Sink.all(cells)._1),
    "polyfill" -> (() => Sink.all(Workload.polyCells(zones, res))._1),
    "join" -> (() => Sink.all(cells.join(broadcast(Workload.polyCells(zones, res)),
      col("__pcell") === col("__cell")))._1))

  def layers(t: String => Double, full: Double): Seq[(String, Double)] = Seq(
    "sources.scan_s" -> t("scan"),
    "expr.cell_of_s" -> (t("cell") - t("scan")),
    "index.polyfill_s" -> t("polyfill"),
    "operators.cell_join_s" -> (t("join") - t("cell") - t("polyfill")),
    "operators.pip_s" -> (full - t("join")))

  def counts(rows: String => Long, listener: Map[String, Double],
             plan: PlanStats): Seq[(String, Double)] = Seq(
    "sources.rows" -> rows("scan").toDouble,
    "operators.polyfill_cells" -> rows("polyfill").toDouble,
    "operators.join_candidates" -> rows("join").toDouble,
    "operators.pip_hits" -> plan.joinRows.toDouble)
}

object RasterGen {
  /** Burned byte band to the polygonize input of one strip. */
  def valueStrip(stripHeight: Int)(s: RasterStrips.Strip): RasterStrips.ValueStrip =
    RasterStrips.ValueStrip(s.yOff / stripHeight, s.yOff, s.height, s.data.map(_ & 0xff))

  /** Concave star, `n` points, in pixel units (the geotransform is 1:1). */
  def star(seed: Long, i: Int, w: Int, h: Int): String = {
    def u(salt: Int) = Mix.unit(seed, i.toLong, salt)
    val cx = u(1) * w; val cy = u(2) * h
    val r = 8 + u(3) * 120
    val n = 5 + (u(4) * 5).toInt
    val rot = u(5) * math.Pi
    val pts = (0 until 2 * n).map { k =>
      val a = rot + math.Pi * k / n
      val rr = if (k % 2 == 0) r else r * (0.35 + 0.3 * u(6 + k))
      f"${cx + rr * math.cos(a)}%.3f ${cy + rr * math.sin(a)}%.3f"
    }
    (pts :+ pts.head).mkString("POLYGON ((", ", ", "))")
  }
}

/** `RasterStrips.rasterize` of seeded polygons, `checksum`, then 4-connected
  * `RasterStrips.polygonize` of the burned band: strips, the polygonize
  * enumerator and `BoundaryMerge`, with no SQL expressions and no joins.
  */
final class RasterRoundtrip(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  import spark.implicits._
  type Out = (Int, Array[Row])
  val width = 2048
  val height = 1024
  val stripHeight = 64
  val nShapes = 400
  private val spec = RasterStrips.RasterSpec(width, height, 1,
    GeoTransform(0, 1, 0, height, 0, -1))
  private var shapes: org.apache.spark.sql.Dataset[RasterStrips.ShapeRow] = _
  private var expectChecksum = 0
  private var expectPixels = Map.empty[Int, Long]
  private var stats = Map.empty[String, Double]
  def items: Long = width.toLong * height

  def prepare(): Unit = {
    shapes = (0 until nShapes).map { i =>
      RasterStrips.ShapeRow(i.toLong,
        Geom.toWkb(Geom.fromWkt(RasterGen.star(seed, i, width, height))),
        Array((1 + i % 15).toDouble))
    }.toDS()
    val single = RasterStrips.rasterize(spark, shapes, spec, Rasterize.Options(), height).collect()
    Check(single.length == 1, s"single-strip rasterize gave ${single.length} strips")
    expectChecksum = Checksum.ofByteBand(single(0).data, width, height, 0)
    val hist = new Array[Long](256)
    single(0).data.foreach(b => hist(b & 0xff) += 1)
    expectPixels = hist.indices.filter(hist(_) > 0).map(v => v -> hist(v)).toMap
  }

  def guard: Seq[String] = Nil // typed Dataset operators: no SQL expressions to prune

  def run(): (Int, Array[Row]) = {
    val (strips, checksum) = Trace.span("raster.RasterStrips.rasterize") {
      val s = RasterStrips.rasterize(spark, shapes, spec, Rasterize.Options(), stripHeight)
        .persist()
      (s, RasterStrips.checksum(s, spec, 0))
    }
    val sh = stripHeight // the closure must not capture the workload
    val perDn = Trace.span("raster.RasterStrips.polygonize") {
      val p = RasterStrips.polygonize(spark, strips.map(RasterGen.valueStrip(sh)),
        width, height, 4, spec.gt)
      p.groupBy(col("value"))
        .agg(count(lit(1)), sum(gf.st_area(col("wkb"))), Sink.hsum(Sink.rowHash(p)))
        .collect()
    }
    strips.unpersist(false)
    (checksum, perDn)
  }

  def verify(out: (Int, Array[Row])): Unit = {
    val (checksum, perDn) = out
    Check(checksum == expectChecksum,
      s"checksum $checksum, single-strip rasterize gives $expectChecksum")
    val area = perDn.map(r => r.getInt(0) -> r.getDouble(2)).toMap
    Check(area.keySet == expectPixels.keySet,
      s"DNs ${area.keySet.toSeq.sorted} vs pixels of ${expectPixels.keySet.toSeq.sorted}")
    expectPixels.foreach { case (dn, px) =>
      Check(math.abs(area(dn) - px) <= 1e-6 * px, s"DN $dn: polygon area ${area(dn)}, $px pixels")
    }
    stable(perDn.map(_.getLong(3)).sum)
    stats = Map(
      "raster.pixels" -> items.toDouble,
      "raster.strips" -> ((height + stripHeight - 1) / stripHeight).toDouble,
      "raster.polygons" -> perDn.map(_.getLong(1)).sum.toDouble,
      "raster.boundary_pairs" -> BoundaryMerge.lastDriverPairs.toDouble)
  }

  def steps: Seq[(String, () => Long)] = Seq("scan" -> (() => Sink.all(shapes.toDF())._1))

  def layers(t: String => Double, full: Double): Seq[(String, Double)] = Seq(
    "sources.scan_s" -> t("scan"),
    "raster.rasterize_s" -> t("raster.RasterStrips.rasterize"),
    "raster.polygonize_s" -> t("raster.RasterStrips.polygonize"))

  def counts(rows: String => Long, listener: Map[String, Double],
             plan: PlanStats): Seq[(String, Double)] =
    Seq("sources.rows" -> rows("scan").toDouble) ++ stats
}

object KnnGen {
  val clusters = 256
  val clusteredShare = 0.5

  /** Point `i`: one in two within a degree of one of the cluster centres,
    * the rest spread evenly over latitudes [-80, 80].
    */
  def point(seed: Long, i: Long): (Long, Double, Double) =
    if (Mix.unit(seed, i, 0) < clusteredShare) near(seed, i, 1)
    else (i, Mix.unit(seed, i, 6) * 360 - 180, Mix.unit(seed, i, 7) * 160 - 80)

  private def near(seed: Long, i: Long, salt: Int): (Long, Double, Double) = {
    val (cx, cy) = centre(seed, (Mix.unit(seed, i, salt) * clusters).toInt)
    (i, cx + Mix.unit(seed, i, salt + 1) - Mix.unit(seed, i, salt + 2),
      cy + Mix.unit(seed, i, salt + 3) - Mix.unit(seed, i, salt + 4))
  }

  def centre(seed: Long, c: Int): (Double, Double) =
    (Mix.unit(seed, c, 100) * 340 - 170, Mix.unit(seed, c, 101) * 120 - 60)

  /** Query `q`: three in four inside a cluster, where ring 1 suffices; the
    * rest in the sparse background, kept 5 degrees from its edges so that
    * at res 8 every one of them converges by ring 4.
    */
  def query(seed: Long, q: Long): (Long, Double, Double) =
    if (Mix.unit(seed, q, 200) < 0.75) near(seed, q, 201)
    else (q, Mix.unit(seed, q, 206) * 350 - 175, Mix.unit(seed, q, 207) * 150 - 75)
}

/** `KnnJoin.apply` (cell-ring expansion, k = 8) of a few thousand queries
  * from dense and sparse regions: the ring-doubling loop, its checkpoints
  * and its window shuffles.
  */
final class KnnJoinWorkload(spark: SparkSession, seed: Long, dir: String)
    extends Workload(spark, seed, dir) {
  import spark.implicits._
  type Out = Array[Row]
  val nPoints = 150000L
  val nQueries = 2000
  val k = 8
  val res = 8
  private val path = s"$dir/points"
  private val oracleEvery = 50
  private var expectTopK = Map.empty[Long, Seq[Long]]
  private var outRows = 0L
  def items: Long = nQueries

  private def points = spark.read.parquet(path)
  private lazy val queries =
    (0L until nQueries).map(KnnGen.query(seed, _)).toDF("qid", "qlon", "qlat")

  def prepare(): Unit = {
    val pts = (0L until nPoints).map(KnnGen.point(seed, _)).toArray
    pts.toSeq.toDF("pid", "lon", "lat").repartition(2 * spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    // brute force on the driver, same distance formula, ties by pid
    val order = Ordering.Tuple2[Double, Long]
    expectTopK = (0L until nQueries by oracleEvery).map { q =>
      val (_, qx, qy) = KnnGen.query(seed, q)
      val best = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](order)
      pts.foreach { case (pid, x, y) =>
        best.enqueue((math.sqrt((x - qx) * (x - qx) + (y - qy) * (y - qy)), pid))
        if (best.size > k) best.dequeue()
      }
      q -> best.toSeq.map(_._2).sorted
    }.toMap
  }

  // the operator hands back a checkpoint of its rows: nothing downstream
  // can prune its work, and its queries run as checkpoints, not actions
  def guard: Seq[String] = Nil

  def run(): Array[Row] = {
    val out = Trace.span("operators.KnnJoin.apply") {
      KnnJoin(points, col("lon"), col("lat"), queries, col("qid"), col("qlon"), col("qlat"),
        k = k, res = res, tieBreak = Seq(col("pid")))
    }
    Trace.span("sink") {
      out.groupBy(col("qid"))
        .agg(count(lit(1)), Sink.hsum(Sink.rowHash(out)), sort_array(collect_list(col("pid"))))
        .collect()
    }
  }

  def verify(rows: Array[Row]): Unit = {
    Check(rows.length == nQueries, s"${rows.length} queries answered, want $nQueries")
    val short = rows.filter(_.getLong(1) != k)
    Check(short.isEmpty, s"${short.length} queries without exactly $k rows")
    rows.foreach { r =>
      expectTopK.get(r.getLong(0)).foreach { want =>
        val got = r.getSeq[Long](3)
        Check(got == want, s"query ${r.getLong(0)}: neighbours $got, brute force $want")
      }
    }
    stable(rows.map(_.getLong(2)).sum)
    outRows = rows.map(_.getLong(1)).sum
  }

  private def cells = points.withColumn("__pcell", gf.cell_of(col("lon"), col("lat"), res))
  def steps: Seq[(String, () => Long)] = Seq(
    "scan" -> (() => Sink.all(points)._1),
    "cell" -> (() => Sink.all(cells)._1))

  def layers(t: String => Double, full: Double): Seq[(String, Double)] = Seq(
    "sources.scan_s" -> t("scan"),
    "expr.cell_of_s" -> (t("cell") - t("scan")),
    "operators.knn_s" -> (full - t("cell")))

  def counts(rows: String => Long, listener: Map[String, Double],
             plan: PlanStats): Seq[(String, Double)] = Seq(
    "sources.rows" -> rows("scan").toDouble,
    "operators.knn_jobs" -> listener("spark.jobs"),
    "operators.knn_out_rows" -> outRows.toDouble)
}
