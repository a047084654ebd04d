package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.gf
import graft.operators.SpatialJoin

/** The flagship spark-submit job (north rule): pages → geo_extract →
  * cell index → cell-bucketed PIP join → tile assignment → partitioned
  * parquet, resumable at PARTITION granularity via per-partition lineage
  * records.
  *
  * Lineage model, two levels:
  *  - the input is split into `nBatches` deterministic hash-batches of
  *    pages (url-hash — stable across runs and cluster sizes); each batch
  *    runs as one fully-parallel Spark job writing `out/batch=<b>/`, then
  *    commits a `_lineage/batch-<b>.json` record with input/output counts
  *    and an order-insensitive result checksum, folded from its part records;
  *  - WITHIN a batch, rows carry a deterministic partition id and each
  *    write task durably commits its own partitions, each with its rows
  *    and checksum (`_lineage/batch-<b>/part-<p>.json`, see [[runBatch]]),
  *    so a job killed mid-batch resumes from the first uncommitted
  *    PARTITION, not the batch start.
  * A restarted job lists committed records and skips them — the
  * reference's chunked processing loops
  * (`/root/reference/gdal/alg/gdalrasterize.cpp:655-706`,
  * `gdal/alg/gdalwarpoperation.cpp:672-735`) are the restart units GDAL
  * never persisted; the lineage table is the genuinely-new part
  * (SURVEY.md §2.10).
  *
  * The per-row invariant (byte-identical `text` per `url`,
  * BASELINE.json.input_hint) holds by construction: `text` is carried
  * through untouched as a projection; PipelineSpec verifies it by
  * anti-joining output against input on (url, text).
  */
/** JVM-static commit counter for the mid-batch kill test hook (local-mode
  * task closures are serialized copies — a captured counter would not be
  * shared; a static is, within the single local JVM).
  */
object PartKill {
  val committed = new java.util.concurrent.atomic.AtomicInteger(0)
}

object Pipeline {

  final case class BatchResult(batch: Int, inPages: Long, outRows: Long, checksum: Long)

  final case class Config(
      outDir: String,
      nBatches: Int = 8,
      cellRes: Int = 7,
      tileDeg: Double = 0.1,
      tilePx: Int = 256,
      nParts: Int = 64,        // deterministic output partitions per batch
      failAfterBatch: Int = -1, // test hook: throw after N committed batches
      failAfterParts: Int = -1) // test hook: kill mid-batch after N partition commits

  /** Transform one page batch: extract coords, assign cells + tiles, join
    * zones. Pure projection of `text`/`url` — never rewritten.
    */
  def transform(pages: DataFrame, zones: DataFrame, cfg: Config): DataFrame = {
    val coords = pages
      .select(col("url"), col("warc_ts"), col("lang"), col("text"),
        posexplode(gf.geo_extract(col("text"))).as(Seq("mention_idx", "c")))
      .select(col("url"), col("warc_ts"), col("lang"), col("text"),
        col("mention_idx"), col("c.lon").as("lon"), col("c.lat").as("lat"))
    val joined = SpatialJoin.pointInPolygon(coords, col("lon"), col("lat"),
      zones, col("geom"), cfg.cellRes)
    joined
      .withColumn("cell", gf.cell_of(col("lon"), col("lat"), cfg.cellRes))
      .withColumn("tile_x", floor(((col("lon") + 180.0) / cfg.tileDeg) / cfg.tilePx).cast("long"))
      .withColumn("tile_y", floor(((lit(90.0) - col("lat")) / cfg.tileDeg) / cfg.tilePx).cast("long"))
      .drop("geom", "wkt")
  }

  private def lineageDir(cfg: Config) = s"${cfg.outDir}/_lineage"

  def committedBatches(spark: SparkSession, cfg: Config): Set[Int] = {
    val fs = new Path(cfg.outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(lineageDir(cfg))
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("batch-") && n.endsWith(".json") =>
        n.stripPrefix("batch-").stripSuffix(".json").toInt
      }.toSet
  }

  private def commitLineage(spark: SparkSession, cfg: Config, r: BatchResult): Unit = {
    val fs = new Path(cfg.outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(lineageDir(cfg)))
    val tmp = new Path(s"${lineageDir(cfg)}/.batch-${r.batch}.json.tmp")
    val fin = new Path(s"${lineageDir(cfg)}/batch-${r.batch}.json")
    val out = fs.create(tmp, true)
    out.write(
      s"""{"batch":${r.batch},"in_pages":${r.inPages},"out_rows":${r.outRows},"checksum":${r.checksum}}"""
        .getBytes("UTF-8"))
    out.close()
    fs.rename(tmp, fin) // atomic commit: record exists ⇒ batch output complete
  }

  /** Committed output partitions of a batch: `_lineage/batch-<b>/part-<p>.json`. */
  def committedParts(spark: SparkSession, cfg: Config, b: Int): Set[Int] =
    partRecords(spark, cfg, b).keySet

  /** pid → (rows, checksum) of the batch's part records. A record without
    * either key (written by an older build) throws instead of folding in as 0.
    */
  private def partRecords(spark: SparkSession, cfg: Config, b: Int): Map[Int, (Long, Long)] = {
    val fs = new Path(cfg.outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"${lineageDir(cfg)}/batch-$b")
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath)
      .collect { case p if p.getName.startsWith("part-") && p.getName.endsWith(".json") =>
        val in = fs.open(p)
        val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        def field(key: String): Long = s""""$key":(-?\\d+)""".r.findFirstMatchIn(json)
          .map(_.group(1).toLong)
          .getOrElse(throw new IllegalStateException(
            s"""part record $p has no "$key" key: $json"""))
        p.getName.stripPrefix("part-").stripSuffix(".json").toInt ->
          (field("rows"), field("checksum"))
      }.toMap
  }

  /** One batch, committed at PARTITION granularity: rows get a
    * deterministic partition id (url+mention hash — stable across runs
    * and cluster sizes), and each WRITE TASK makes its partitions durable
    * itself (parquet tmp file → rename → `part-<p>.json` lineage record
    * via [[TaskParquet]]) instead of waiting for Spark's job-level
    * committer. A job killed mid-batch therefore restarts from the first
    * UNCOMMITTED partition: committed partitions are filtered out of the
    * scan before the shuffle, and their files are never rewritten.
    *
    * The input-page count is observed from the same scan (no second count
    * job); output stats sum and XOR the part records, including those of
    * an earlier, killed attempt, so no Spark job runs after the write.
    */
  private def runBatch(spark: SparkSession, batchPages: DataFrame, zones: DataFrame,
                       cfg: Config, b: Int): BatchResult = {
    val batchDir = s"${cfg.outDir}/batch=$b"
    val partLineDir = s"${lineageDir(cfg)}/batch-$b"
    val done = committedParts(spark, cfg, b)
    val obs = org.apache.spark.sql.Observation(s"graft_pipe_in_${b}_${done.size}")
    val observed = batchPages.observe(obs, count(lit(1)).as("n"))
    val out = transform(observed, zones, cfg)
      .withColumn("__pid",
        pmod(xxhash64(col("url"), col("mention_idx")), lit(cfg.nParts)).cast("int"))
    val pending =
      if (done.isEmpty) out
      else out.filter(!col("__pid").isInCollection(done))
    val schema = pending.drop("__pid").schema
    val conf = new TaskParquet.SerConf(spark.sparkContext.hadoopConfiguration)
    val bconf = spark.sparkContext.broadcast(conf)
    val failAfter = cfg.failAfterParts
    val pidIdx = schema.length // __pid, then __h, follow the output columns
    // hashed after the shuffle, so the shuffle does not carry it
    pending.repartition(cfg.nParts, col("__pid"))
      .withColumn("__h", xxhash64(col("url"), col("cell"), col("zone_id")))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val hconf = bconf.value.conf
          val mt = TaskParquet.messageType(schema) // MessageType is not Serializable
          val fs = new Path(batchDir).getFileSystem(hconf)
          fs.mkdirs(new Path(batchDir)); fs.mkdirs(new Path(partLineDir))
          val attempt = java.util.UUID.randomUUID().toString.take(8)
          // hash collisions can land several pids in one task: one
          // streaming writer and (rows, checksum) stat per pid, commit
          // each pid independently
          val writers = scala.collection.mutable.HashMap
            .empty[Int, (Path, TaskParquet.RowFileWriter, Array[Long])]
          // on ANY failure mid-partition, close and delete every open tmp
          // writer — leaked parquet-mr writers hold buffers and file
          // handles across task retries
          var committed = false
          try {
          it.foreach { row =>
            val pid = row.getInt(pidIdx)
            val (_, w, stat) = writers.getOrElseUpdate(pid, {
              val tmp = new Path(s"$batchDir/.part-$pid-$attempt.tmp")
              (tmp, new TaskParquet.RowFileWriter(hconf, tmp, schema, mt),
                Array(0L, 0L))
            })
            // strip __pid and __h: rebuild the row view without the last two fields
            w.add(org.apache.spark.sql.Row.fromSeq(row.toSeq.dropRight(2)))
            stat(0) += 1
            stat(1) ^= row.getLong(pidIdx + 1)
          }
          writers.toSeq.sortBy(_._1).foreach { case (pid, (tmp, w, stat)) =>
            w.close()
            val fin = new Path(s"$batchDir/part-$pid.parquet")
            // a racing retry may have won: its output is equivalent
            if (!fs.rename(tmp, fin) && !fs.exists(fin))
              throw new java.io.IOException(s"commit failed for $fin")
            if (fs.exists(new Path(s"$batchDir/.part-$pid-$attempt.tmp")))
              fs.delete(new Path(s"$batchDir/.part-$pid-$attempt.tmp"), false)
            val recTmp = new Path(s"$partLineDir/.part-$pid-$attempt.tmp")
            val rec = new Path(s"$partLineDir/part-$pid.json")
            val os = fs.create(recTmp, true)
            os.write(s"""{"batch":$b,"part":$pid,"rows":${stat(0)},"checksum":${stat(1)}}"""
              .getBytes("UTF-8"))
            os.close()
            if (!fs.rename(recTmp, rec) && !fs.exists(rec))
              throw new java.io.IOException(s"lineage commit failed for $rec")
            val k = PartKill.committed.incrementAndGet()
            if (failAfter >= 0 && k > failAfter)
              throw new RuntimeException(
                s"injected failure after $k partition commits (test hook)")
          }
          committed = true
          } finally {
            if (!committed) writers.valuesIterator.foreach { case (tmp, w, _) =>
              try w.close() catch { case _: Throwable => () }
              try { if (fs.exists(tmp)) fs.delete(tmp, false) }
              catch { case _: Throwable => () }
            }
          }
        }
      }
    val inCount = obs.get("n").asInstanceOf[Long]
    val parts = partRecords(spark, cfg, b).values
    BatchResult(b, inCount, parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(_ ^ _))
  }

  private def commitLoop(spark: SparkSession, cfg: Config,
                         batchSource: Int => DataFrame, zones: DataFrame): Seq[BatchResult] = {
    val done = committedBatches(spark, cfg)
    val results = Seq.newBuilder[BatchResult]
    var committed = 0
    for (b <- 0 until cfg.nBatches if !done.contains(b)) {
      val r = runBatch(spark, batchSource(b), zones, cfg, b)
      commitLineage(spark, cfg, r)
      results += r
      committed += 1
      if (cfg.failAfterBatch >= 0 && committed > cfg.failAfterBatch)
        throw new RuntimeException(s"injected failure after batch $b (test hook)")
    }
    results.result()
  }

  /** Run (or resume) the pipeline over an arbitrary DataFrame input.
    * Batches are stable url-hash classes; each batch job scans the input
    * once (total nBatches scans — use [[runOnPath]] for file inputs, which
    * scans the whole input exactly once across all batches).
    */
  def run(spark: SparkSession, pages: DataFrame, zones: DataFrame,
          cfg: Config): Seq[BatchResult] =
    commitLoop(spark, cfg,
      b => pages.filter(pmod(xxhash64(col("url")), lit(cfg.nBatches)) === b), zones)

  /** Run (or resume) over a parquet directory: batch = contiguous range of
    * the sorted file list, so the full input is read exactly ONCE per run
    * (each batch job opens only its own files — no per-batch full scans).
    * File-list order is deterministic, so restarts and different cluster
    * sizes see identical batches.
    */
  def runOnPath(spark: SparkSession, inputPath: String, zones: DataFrame,
                cfg: Config): Seq[BatchResult] = {
    val fs = new Path(inputPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recursive: PageTable.write produces a ts_day=...-partitioned layout,
    // so a flat listStatus would see only directories and find no files
    val files = {
      val it = fs.listFiles(new Path(inputPath), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) buf += it.next().getPath.toString
      buf.filter(p => p.endsWith(".parquet") && !p.contains("/_")).sorted.toArray
    }
    require(files.nonEmpty, s"no parquet files under $inputPath")
    val perBatch: Array[Array[String]] =
      Array.tabulate(cfg.nBatches)(b => files.zipWithIndex.collect {
        case (f, i) if i % cfg.nBatches == b => f
      })
    commitLoop(spark, cfg,
      b => if (perBatch(b).isEmpty)
        spark.read.parquet(files.head).limit(0)
      else spark.read.parquet(perBatch(b): _*), zones)
  }

  /** Read back the full (resumed) output. A batch whose every page had
    * zero coordinate mentions commits a lineage record but never creates
    * its directory — skip those instead of failing the read.
    */
  def output(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = new Path(cfg.outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = (0 until cfg.nBatches).map(b => s"${cfg.outDir}/batch=$b")
      .filter(d => fs.exists(new Path(d)))
    require(dirs.nonEmpty, s"no committed batch output under ${cfg.outDir}")
    spark.read.parquet(dirs: _*)
  }
}
