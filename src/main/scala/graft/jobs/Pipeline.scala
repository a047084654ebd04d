package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.gf
import graft.operators.SpatialJoin

/** The flagship spark-submit job (north rule): pages → geo_extract →
  * cell index → cell-bucketed PIP join → tile assignment → partitioned
  * parquet, resumable at PARTITION granularity via per-partition lineage
  * records.
  *
  * Lineage model, two levels:
  *  - the input is split into `nBatches` deterministic batches of pages
  *    (url-hash classes, or every `nBatches`-th input file — stable across
  *    runs and cluster sizes), the unit of lineage, resume and output
  *    layout: a batch writes `out/batch=<b>/` and commits a
  *    `_lineage/batch-<b>.json` record with input/output counts and an
  *    order-insensitive result checksum, folded from its part records;
  *  - all pending batches of a run go through ONE fully-parallel Spark
  *    job: the batch is a column and the leading key of the write shuffle,
  *    rows carry a deterministic partition id, and each write task durably
  *    commits its one (batch, partition) with its rows and checksum
  *    (`_lineage/batch-<b>/part-<p>.json`, see [[runBatches]]), so a job
  *    killed mid-run resumes from the first uncommitted PARTITION, not the
  *    batch start.
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

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.jobs.Pipeline")

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

  /** The batch tag of a run's input: carried to the write, never written. */
  private val Batch = "__batch"

  /** Transform pages: extract coords, assign cells + tiles, join zones.
    * Pure projection of `text`/`url` — never rewritten. A `__batch` tag on
    * `pages` (a run's input) rides along as the last output column.
    */
  def transform(pages: DataFrame, zones: DataFrame, cfg: Config): DataFrame = {
    val tag = pages.columns.filter(_ == Batch).map(col).toSeq
    val coords = pages
      .select(Seq(col("url"), col("warc_ts"), col("lang"), col("text"),
        posexplode(gf.geo_extract(col("text"))).as(Seq("mention_idx", "c"))) ++ tag: _*)
      .select(Seq(col("url"), col("warc_ts"), col("lang"), col("text"),
        col("mention_idx"), col("c.lon").as("lon"), col("c.lat").as("lat"),
        gf.cell_of(col("c.lon"), col("c.lat"), cfg.cellRes).as("cell")) ++ tag: _*)
    // the join buckets on the mention's own cell, which the output keeps
    val joined = SpatialJoin.pointInPolygon(coords, col("lon"), col("lat"),
      zones, col("geom"), cfg.cellRes, pointCell = Some("cell"))
      .withColumn("tile_x", floor(((col("lon") + 180.0) / cfg.tileDeg) / cfg.tilePx).cast("long"))
      .withColumn("tile_y", floor(((lit(90.0) - col("lat")) / cfg.tileDeg) / cfg.tilePx).cast("long"))
      .drop("geom", "wkt")
    val last = Seq("cell", "tile_x", "tile_y")
    joined.select((joined.columns.toSeq.filterNot((last :+ Batch).contains) ++ last).map(col) ++ tag: _*)
  }

  private def lineageDir(cfg: Config) = s"${cfg.outDir}/_lineage"

  def committedBatches(spark: SparkSession, cfg: Config): Set[Int] = {
    val fs = CommitFs(cfg.outDir, spark.sparkContext.hadoopConfiguration)
    val dir = new Path(lineageDir(cfg))
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("batch-") && n.endsWith(".json") =>
        n.stripPrefix("batch-").stripSuffix(".json").toInt
      }.toSet
  }

  private def commitLineage(spark: SparkSession, cfg: Config, r: BatchResult): Unit = {
    val fs = CommitFs(cfg.outDir, spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(lineageDir(cfg)))
    val tmp = new Path(s"${lineageDir(cfg)}/.batch-${r.batch}.json.tmp")
    val fin = new Path(s"${lineageDir(cfg)}/batch-${r.batch}.json")
    val out = fs.create(tmp, true)
    out.write(
      s"""{"batch":${r.batch},"in_pages":${r.inPages},"out_rows":${r.outRows},"checksum":${r.checksum}}"""
        .getBytes("UTF-8"))
    out.close()
    commit(fs, tmp, fin) // record exists ⇒ batch output complete
  }

  /** Atomic commit of a finished temp file by rename. A refused rename is
    * fine when a racing attempt's equivalent `fin` won (the temp file is
    * dropped); with no `fin` it throws, naming it.
    */
  private def commit(fs: FileSystem, tmp: Path, fin: Path): Unit =
    if (!fs.rename(tmp, fin)) {
      if (!fs.exists(fin)) throw new java.io.IOException(s"commit failed for $fin")
      fs.delete(tmp, false)
    }

  /** Committed output partitions of a batch: `_lineage/batch-<b>/part-<p>.json`. */
  def committedParts(spark: SparkSession, cfg: Config, b: Int): Set[Int] =
    partRecords(spark, cfg, b).keySet

  /** pid → (rows, checksum) of the batch's part records. A record without
    * either key (written by an older build) throws instead of folding in as 0.
    */
  private def partRecords(spark: SparkSession, cfg: Config, b: Int): Map[Int, (Long, Long)] = {
    val fs = CommitFs(cfg.outDir, spark.sparkContext.hadoopConfiguration)
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

  /** Every pending batch of a run as ONE Spark job, committed at
    * PARTITION granularity. `tagged` carries each page's batch in `__batch`;
    * rows get a deterministic partition id (url+mention hash — stable
    * across runs and cluster sizes), and the write shuffle is batch-major
    * on direct partition ids (`slot · nParts + pid`, `slot` the batch's rank
    * among `pending`), so each WRITE TASK holds exactly one (batch, pid)
    * and makes it durable itself (parquet tmp file → rename →
    * `part-<p>.json` lineage record via [[TaskParquet]]) instead of waiting
    * for Spark's job-level committer. Tasks launch in index order, so the
    * first pending batch commits first. A job killed mid-run therefore
    * restarts from the first UNCOMMITTED partition: committed (batch, pid)
    * keys are filtered out before the shuffle, and their files are never
    * rewritten.
    *
    * One observation on the scan counts every pending batch's input pages
    * (no second count job); after the job each batch's output stats sum
    * and XOR its part records, including those of an earlier, killed
    * attempt, and the batch records commit in batch order, once the temp
    * files a killed attempt left in a resumed batch are deleted. Logs one
    * `info` event on logger `graft.jobs.Pipeline`: pending batches, parts
    * written this run and kept from a killed attempt, and how local commits
    * set permissions (see [[CommitFs]]).
    */
  private def runBatches(spark: SparkSession, tagged: DataFrame, zones: DataFrame,
                         cfg: Config, pending: Seq[Int]): Seq[BatchResult] = {
    val nParts = cfg.nParts
    val fs = CommitFs(cfg.outDir, spark.sparkContext.hadoopConfiguration)
    // only a batch a killed attempt got to holds parts or temp files
    val resumed = pending.filter(b => fs.exists(new Path(s"${lineageDir(cfg)}/batch-$b")))
    val done = resumed.flatMap(b => committedParts(spark, cfg, b).map(b * nParts + _))
    val obs = org.apache.spark.sql.Observation("graft_pipe_in")
    val inPages = pending.map(b => count(when(col(Batch) === b, 1)).as(s"n$b"))
    val out = transform(tagged.observe(obs, inPages.head, inPages.tail: _*), zones, cfg)
      .withColumn("__pid",
        pmod(xxhash64(col("url"), col("mention_idx")), lit(nParts)).cast("int"))
    val key = col(Batch) * nParts + col("__pid")
    val toWrite = if (done.isEmpty) out else out.filter(!key.isInCollection(done))
    val schema = toWrite.drop(Batch, "__pid").schema
    val slot = array_position(lit(pending.toArray), col(Batch)) - 1
    val conf = new TaskParquet.SerConf(spark.sparkContext.hadoopConfiguration)
    val bconf = spark.sparkContext.broadcast(conf)
    val (outDir, partLineRoot, failAfter) = (cfg.outDir, lineageDir(cfg), cfg.failAfterParts)
    val tagIdx = schema.length // __batch, __pid, then __h follow the output columns
    // hashed after the shuffle, so the shuffle does not carry it
    toWrite.repartitionById(pending.size * nParts, (slot * nParts + col("__pid")).cast("int"))
      .withColumn("__h", xxhash64(col("url"), col("cell"), col("zone_id")))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val rows = it.buffered
          val (b, pid) = (rows.head.getInt(tagIdx), rows.head.getInt(tagIdx + 1))
          val hconf = bconf.value.conf
          val batchDir = s"$outDir/batch=$b"
          val partLineDir = s"$partLineRoot/batch-$b"
          val fs = CommitFs(batchDir, hconf)
          fs.mkdirs(new Path(batchDir)); fs.mkdirs(new Path(partLineDir))
          val attempt = java.util.UUID.randomUUID().toString.take(8)
          val tmp = new Path(s"$batchDir/.part-$pid-$attempt.tmp")
          // MessageType is not Serializable: built in the task
          val w = new TaskParquet.RowFileWriter(fs, hconf, tmp, schema, TaskParquet.messageType(schema))
          // on ANY failure mid-partition, close and delete the tmp writer —
          // a leaked parquet-mr writer holds buffers and file handles across
          // task retries
          var committed = false
          try {
            var n, checksum = 0L
            rows.foreach { row =>
              if (row.getInt(tagIdx) != b || row.getInt(tagIdx + 1) != pid)
                throw new IllegalStateException(s"write task of (batch $b, part $pid) got a row of another part")
              w.add(row) // reads only the output columns; the tags trail
              n += 1
              checksum ^= row.getLong(tagIdx + 2)
            }
            w.close()
            // test hook: the (failAfter + 1)-th part to get here dies before its
            // rename, so exactly failAfter parts commit however many tasks run
            if (failAfter >= 0 && PartKill.committed.incrementAndGet() > failAfter)
              throw new RuntimeException(s"injected failure after $failAfter partition commits (test hook)")
            val fin = new Path(s"$batchDir/part-$pid.parquet")
            commit(fs, tmp, fin)
            val recTmp = new Path(s"$partLineDir/.part-$pid-$attempt.tmp")
            val rec = new Path(s"$partLineDir/part-$pid.json")
            val os = fs.create(recTmp, true)
            os.write(s"""{"batch":$b,"part":$pid,"rows":$n,"checksum":$checksum}"""
              .getBytes("UTF-8"))
            os.close()
            commit(fs, recTmp, rec)
            committed = true
          } finally {
            if (!committed) {
              try w.close() catch { case _: Throwable => () }
              try { if (fs.exists(tmp)) fs.delete(tmp, false) }
              catch { case _: Throwable => () }
            }
          }
        }
      }
    val counts = obs.get
    for (b <- resumed; dir <- Seq(s"$outDir/batch=$b", s"$partLineRoot/batch-$b");
         st <- fs.globStatus(new Path(s"$dir/.part-*.tmp"))) fs.delete(st.getPath, false)
    val records = pending.map(partRecords(spark, cfg, _))
    val how = if (CommitFs.inProcess(fs)) "in-process" else "through Hadoop's default"
    log.info(s"runBatches: ${pending.size} pending batches, ${records.map(_.size).sum - done.size} parts " +
      s"written this run, ${done.size} kept from a killed attempt; local commits set permissions $how")
    pending.zip(records).zipWithIndex.map { case ((b, recs), i) =>
      val parts = recs.values
      val r = BatchResult(b, counts(s"n$b").asInstanceOf[Long],
        parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(_ ^ _))
      commitLineage(spark, cfg, r)
      if (cfg.failAfterBatch >= 0 && i + 1 > cfg.failAfterBatch)
        throw new RuntimeException(s"injected failure after batch $b (test hook)")
      r
    }
  }

  /** Run (or resume) the pipeline over an arbitrary DataFrame input.
    * Batches are stable url-hash classes, tagged on the rows; one job
    * scans the input once for every pending batch (use [[runOnPath]] for
    * file inputs, which opens only the pending batches' files).
    */
  def run(spark: SparkSession, pages: DataFrame, zones: DataFrame,
          cfg: Config): Seq[BatchResult] = {
    val pending = (0 until cfg.nBatches).filterNot(committedBatches(spark, cfg))
    val tagged = pages.withColumn(Batch, pmod(xxhash64(col("url")), lit(cfg.nBatches)).cast("int"))
    if (pending.isEmpty) Nil
    else runBatches(spark, tagged.filter(col(Batch).isin(pending: _*)), zones, cfg, pending)
  }

  /** Run (or resume) over a parquet directory: batch = every
    * `nBatches`-th file of the sorted file list, so the full input is read
    * exactly ONCE per run, by one job that unions the pending batches' file
    * scans, each tagged with its batch (batches already committed are not
    * read at all). File-list order is deterministic, so restarts and
    * different cluster sizes see identical batches.
    */
  def runOnPath(spark: SparkSession, inputPath: String, zones: DataFrame,
                cfg: Config): Seq[BatchResult] = {
    val fs = CommitFs(inputPath, spark.sparkContext.hadoopConfiguration)
    // recursive: PageTable.write produces a ts_day=...-partitioned layout.
    // A listStatus walk, not listFiles: its LocatedFileStatus copies each
    // file's permission, which the local file system reads by forking a
    // process per file (~150 ms for 16 files, more than a batch's planning)
    def leaves(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) leaves(st.getPath) else Seq(st.getPath.toString)
    }
    val files = leaves(new Path(inputPath))
      .filter(p => p.endsWith(".parquet") && !p.contains("/_")).sorted.toArray
    require(files.nonEmpty, s"no parquet files under $inputPath")
    val pending = (0 until cfg.nBatches).filterNot(committedBatches(spark, cfg))
    if (pending.isEmpty) Nil
    else {
      val read = spark.read.schema(footerSchema(spark, files.head))
      val scans = pending.map { b =>
        val own = files.indices.collect { case i if i % cfg.nBatches == b => files(i) }
        val scan = if (own.isEmpty) read.parquet(files.head).limit(0) else read.parquet(own: _*)
        scan.withColumn(Batch, lit(b))
      }
      runBatches(spark, scans.reduce(_ union _), zones, cfg, pending)
    }
  }

  /** The schema `spark.read.parquet(file)` infers, read from the file's
    * footer on the driver instead of by a Spark job: Spark's row metadata
    * when the footer has it, the parquet-to-Spark converter of the
    * session's settings otherwise, every field nullable as the reader
    * makes it.
    */
  private[graft] def footerSchema(spark: SparkSession, file: String): StructType = {
    val path = new Path(file)
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration))
    val footer = try in.getFooter finally in.close()
    nullable(ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(SQLConf.get))).asInstanceOf[StructType]
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Read back the full (resumed) output. A batch whose every page had
    * zero coordinate mentions commits a lineage record but never creates
    * its directory — skip those instead of failing the read.
    */
  def output(spark: SparkSession, cfg: Config): DataFrame = {
    val fs = CommitFs(cfg.outDir, spark.sparkContext.hadoopConfiguration)
    val dirs = (0 until cfg.nBatches).map(b => s"${cfg.outDir}/batch=$b")
      .filter(d => fs.exists(new Path(d)))
    require(dirs.nonEmpty, s"no committed batch output under ${cfg.outDir}")
    spark.read.parquet(dirs: _*)
  }
}
