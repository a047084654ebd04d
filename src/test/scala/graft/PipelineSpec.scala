package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.jobs.Pipeline
import graft.sources.{Pages, PageTable}

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def zones = Pages.zones(12).toDF("zone_id", "wkt")
    .withColumn("geom", gf.st_geomfromtext($"wkt")).select($"zone_id", $"geom")

  /** The integer fields of one lineage JSON record. */
  private def record(path: String): Map[String, Long] =
    """"(\w+)":(-?\d+)""".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  /** (rows, checksum) as a lineage record states them, recomputed from `df`. */
  private def stats(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64($"url", $"cell", $"zone_id")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Every batch record of a finished `Pipeline.run` equals a re-read of
    * the batch's parquet and a read-only transform of the batch's pages.
    */
  private def assertBatchRecordsMatch(pages: DataFrame, cfg: Pipeline.Config): Unit =
    (0 until cfg.nBatches).foreach { b =>
      val rec = record(s"${cfg.outDir}/_lineage/batch-$b.json")
      val dir = s"${cfg.outDir}/batch=$b"
      val onDisk = if (Files.exists(Paths.get(dir))) stats(spark.read.parquet(dir)) else (0L, 0L)
      val batchPages = pages.filter(pmod(xxhash64($"url"), lit(cfg.nBatches)) === b)
      assert((rec("out_rows"), rec("checksum")) === onDisk, s"batch $b record vs its parquet")
      assert(stats(Pipeline.transform(batchPages, zones, cfg)) === onDisk,
        s"batch $b parquet vs transform")
      assert(onDisk._1 > 0, s"batch $b wrote no rows")
    }

  test("pipeline resumes from lineage after injected failure; output identical") {
    val pages = Pages.synth(spark, 4000L).cache()
    val dirA = java.nio.file.Files.createTempDirectory("graft-pipe-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-pipe-b").toString

    // reference run: straight through
    val cfgA = Pipeline.Config(outDir = dirA, nBatches = 4)
    val resA = Pipeline.run(spark, pages, zones, cfgA)
    assert(resA.size === 4)

    // failing run: dies after 2 committed batches, then resumes
    val cfgB = Pipeline.Config(outDir = dirB, nBatches = 4, failAfterBatch = 1)
    intercept[RuntimeException] { Pipeline.run(spark, pages, zones, cfgB) }
    val done = Pipeline.committedBatches(spark, cfgB)
    assert(done.size === 2, s"expected 2 committed batches, got $done")
    val resB = Pipeline.run(spark, pages, zones, cfgB.copy(failAfterBatch = -1))
    assert(resB.size === 2) // only the remaining batches ran
    assert(Pipeline.committedBatches(spark, cfgB).size === 4)

    // identical results either way
    def canon(dir: String) =
      Pipeline.output(spark, Pipeline.Config(outDir = dir, nBatches = 4))
        .select($"url", $"mention_idx", $"zone_id", $"cell", $"tile_x", $"tile_y")
        .as[(String, Int, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(canon(dirB) === canon(dirA))
    assert(canon(dirA).nonEmpty)

    // per-row invariant: byte-identical text per url vs the input
    val out = Pipeline.output(spark, cfgA)
    val bad = out.select($"url", $"text").distinct()
      .join(pages.select($"url", $"text".as("orig")), "url")
      .filter($"text" =!= $"orig")
    assert(bad.count() === 0, "text column was rewritten somewhere")
    pages.unpersist()
  }

  test("mid-batch kill resumes at partition granularity; committed parts untouched") {
    val pages = Pages.synth(spark, 4000L).cache()
    val dirA = java.nio.file.Files.createTempDirectory("graft-pipe-pa").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-pipe-pb").toString

    val cfgA = Pipeline.Config(outDir = dirA, nBatches = 2, nParts = 16)
    Pipeline.run(spark, pages, zones, cfgA)

    // kill INSIDE the first batch after 5 partition commits
    graft.jobs.PartKill.committed.set(0)
    val cfgB = Pipeline.Config(outDir = dirB, nBatches = 2, nParts = 16,
      failAfterParts = 5)
    intercept[org.apache.spark.SparkException] {
      Pipeline.run(spark, pages, zones, cfgB)
    }
    assert(Pipeline.committedBatches(spark, cfgB).isEmpty, "no batch record yet")
    val partsDone = Pipeline.committedParts(spark, cfgB, 0)
    assert(partsDone.size >= 5, s"expected >=5 committed parts, got $partsDone")
    assert(partsDone.size < 16, "kill should leave some partitions uncommitted")

    // committed partition files must survive the restart untouched
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def mtimes(): Map[String, Long] = partsDone.toSeq.map { p =>
      val f = new org.apache.hadoop.fs.Path(s"$dirB/batch=0/part-$p.parquet")
      (f.getName, fs.getFileStatus(f).getModificationTime)
    }.toMap
    val before = mtimes()

    graft.jobs.PartKill.committed.set(0)
    Pipeline.run(spark, pages, zones, cfgB.copy(failAfterParts = -1))
    assert(Pipeline.committedBatches(spark, cfgB).size === 2)
    assert(mtimes() === before, "restart rewrote already-committed partitions")

    def canon(dir: String) =
      Pipeline.output(spark, Pipeline.Config(outDir = dir, nBatches = 2))
        .select($"url", $"mention_idx", $"zone_id", $"cell", $"tile_x", $"tile_y")
        .as[(String, Int, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(canon(dirB) === canon(dirA))
    assert(canon(dirB).nonEmpty)
    // timestamps/text round-trip through the task-written parquet intact
    val out = Pipeline.output(spark, cfgB)
    val bad = out.select($"url", $"warc_ts", $"text").distinct()
      .join(pages.select($"url", $"warc_ts".as("ots"), $"text".as("orig")), "url")
      .filter($"text" =!= $"orig" || $"warc_ts" =!= $"ots")
    assert(bad.count() === 0, "text/warc_ts changed through task-committed parquet")
    pages.unpersist()
  }

  test("file-batched runOnPath: one scan of the input, same rows, resumable") {
    val pages = Pages.synth(spark, 3000L)
    val inDir = java.nio.file.Files.createTempDirectory("graft-pipe-in").toString
    pages.repartition(8).write.mode("overwrite").parquet(inDir)

    val dirH = java.nio.file.Files.createTempDirectory("graft-pipe-h").toString
    val dirF = java.nio.file.Files.createTempDirectory("graft-pipe-f").toString
    val cfgH = Pipeline.Config(outDir = dirH, nBatches = 3)
    val cfgF = Pipeline.Config(outDir = dirF, nBatches = 3)
    Pipeline.run(spark, spark.read.parquet(inDir), zones, cfgH)
    // failing file-batched run, then resume
    intercept[RuntimeException] {
      Pipeline.runOnPath(spark, inDir, zones, cfgF.copy(failAfterBatch = 0))
    }
    assert(Pipeline.committedBatches(spark, cfgF).size === 1)
    val res = Pipeline.runOnPath(spark, inDir, zones, cfgF)
    assert(res.size === 2)

    def canon(dir: String) =
      Pipeline.output(spark, Pipeline.Config(outDir = dir, nBatches = 3))
        .select($"url", $"mention_idx", $"zone_id", $"cell")
        .as[(String, Int, Long, Long)].collect().sorted.toSeq
    assert(canon(dirF) === canon(dirH))
    assert(canon(dirF).nonEmpty)
    // lineage in-counts cover every input page exactly once across batches
    val totIn = Pipeline.committedBatches(spark, cfgF) // 3 batches committed
    assert(totIn.size === 3)
  }

  test("lineage records equal a re-read of the written parquet and a read-only transform") {
    val pages = Pages.synth(spark, 4000L).cache()
    val dir = Files.createTempDirectory("graft-pipe-stats").toString
    val cfg = Pipeline.Config(outDir = dir, nBatches = 2, nParts = 16)
    val res = Pipeline.run(spark, pages, zones, cfg)
    assertBatchRecordsMatch(pages, cfg)
    res.foreach { r =>
      val rec = record(s"$dir/_lineage/batch-${r.batch}.json")
      assert((r.outRows, r.checksum) === (rec("out_rows"), rec("checksum")))
    }
    pages.unpersist()
  }

  test("lineage after a mid-batch kill counts the killed attempt's parts") {
    val pages = Pages.synth(spark, 4000L).cache()
    val dir = Files.createTempDirectory("graft-pipe-kstats").toString
    val cfg = Pipeline.Config(outDir = dir, nBatches = 2, nParts = 16, failAfterParts = 5)
    graft.jobs.PartKill.committed.set(0)
    intercept[org.apache.spark.SparkException] { Pipeline.run(spark, pages, zones, cfg) }
    val killed = Pipeline.committedParts(spark, cfg, 0)
    assert(killed.nonEmpty && killed.size < 16, s"kill left parts $killed")
    graft.jobs.PartKill.committed.set(0)
    Pipeline.run(spark, pages, zones, cfg.copy(failAfterParts = -1))
    assertBatchRecordsMatch(pages, cfg)
    pages.unpersist()
  }

  test("every part record equals a re-read of its own part file") {
    val nParts = 64
    val pages = Pages.synth(spark, 4000L)
    val dir = Files.createTempDirectory("graft-pipe-parts").toString
    Pipeline.run(spark, pages, zones, Pipeline.Config(outDir = dir, nBatches = 1, nParts = nParts))
    def names(d: String, suffix: String) =
      new java.io.File(d).list().filter(n => n.startsWith("part-") && n.endsWith(suffix))
        .map(_.stripSuffix(suffix)).toSet
    val parts = names(s"$dir/_lineage/batch-0", ".json")
    assert(parts === names(s"$dir/batch=0", ".parquet"))
    // repartition(nParts, __pid) hashes the int pid: some write task must
    // have committed several pids, or per-task stats would pass too
    val tasks = parts.toSeq.map(_.stripPrefix("part-").toInt).toDF("p")
      .select(pmod(hash($"p"), lit(nParts))).distinct().count()
    assert(tasks < parts.size, s"each of ${parts.size} pids had its own write task")
    parts.foreach { p =>
      val rec = record(s"$dir/_lineage/batch-0/$p.json")
      assert((rec("rows"), rec("checksum")) === stats(spark.read.parquet(s"$dir/batch=0/$p.parquet")),
        s"$p record vs its parquet")
    }
  }

  test("a part record without checksum throws on resume instead of folding in as 0") {
    val pages = Pages.synth(spark, 1500L)
    val dir = Files.createTempDirectory("graft-pipe-old").toString
    val cfg = Pipeline.Config(outDir = dir, nBatches = 2, nParts = 8)
    Pipeline.run(spark, pages, zones, cfg)
    // batch 1 becomes partly committed, one of its parts in the format
    // written before part records carried a checksum
    Files.delete(Paths.get(s"$dir/_lineage/batch-1.json"))
    val p = Pipeline.committedParts(spark, cfg, 1).min
    val rec = Paths.get(s"$dir/_lineage/batch-1/part-$p.json")
    Files.write(rec, s"""{"batch":1,"part":$p,"rows":${record(rec.toString)("rows")}}""".getBytes("UTF-8"))
    Files.delete(Paths.get(s"$dir/_lineage/batch-1/.part-$p.json.crc")) // now stale
    val e = intercept[IllegalStateException] { Pipeline.run(spark, pages, zones, cfg) }
    assert(e.getMessage.contains(s"part-$p.json") && e.getMessage.contains("\"checksum\""),
      e.getMessage)
    intercept[IllegalStateException] { Pipeline.committedParts(spark, cfg, 1) }
    assert(!Files.exists(Paths.get(s"$dir/_lineage/batch-1.json")))
  }

  test("tools/check_lineage.py accepts a pipeline output and names a tampered part record") {
    val dir = Files.createTempDirectory("graft-pipe-check").toString
    Pipeline.run(spark, Pages.synth(spark, 1500L), zones,
      Pipeline.Config(outDir = dir, nBatches = 2, nParts = 8))
    val (ok, okOut) = checkLineage(dir)
    assert(ok === 0, okOut)
    val part = new java.io.File(s"$dir/_lineage/batch-0").list().filter(_.endsWith(".json")).min
    val rec = Paths.get(s"$dir/_lineage/batch-0/$part")
    val r = record(rec.toString)
    Files.write(rec, s"""{"batch":0,"part":${r("part")},"rows":${r("rows") + 1},"checksum":${r("checksum")}}"""
      .getBytes("UTF-8"))
    val (bad, badOut) = checkLineage(dir)
    assert(bad !== 0, badOut)
    assert(badOut.contains(part), badOut)
    // a sidecar with no data file is a mismatch too
    Files.write(rec, s"""{"batch":0,"part":${r("part")},"rows":${r("rows")},"checksum":${r("checksum")}}"""
      .getBytes("UTF-8"))
    Files.delete(Paths.get(s"$dir/_lineage/batch-0/.$part.crc")) // stale after the rewrite
    assert(checkLineage(dir)._1 === 0)
    Files.copy(Paths.get(s"$dir/_lineage/.batch-0.json.crc"), Paths.get(s"$dir/_lineage/.batch-9.json.crc"))
    val (orphan, orphanOut) = checkLineage(dir)
    assert(orphan !== 0, orphanOut)
    assert(orphanOut.contains(".batch-9.json.crc"), orphanOut)
  }

  test("a resume deletes the temp files a killed attempt left behind") {
    val pages = Pages.synth(spark, 1500L)
    val dir = Files.createTempDirectory("graft-pipe-tmp").toString
    val cfg = Pipeline.Config(outDir = dir, nBatches = 2, nParts = 8, failAfterParts = 3)
    graft.jobs.PartKill.committed.set(0)
    intercept[org.apache.spark.SparkException] { Pipeline.run(spark, pages, zones, cfg) }
    assert(Pipeline.committedBatches(spark, cfg).isEmpty, "no batch record yet")
    // what a JVM killed mid-write leaves: a parquet and a part-record temp file
    val left = Seq(s"$dir/batch=0/.part-7-0badf00d.tmp", s"$dir/_lineage/batch-0/.part-7-0badf00d.tmp")
    left.foreach(p => Files.write(Paths.get(p), "partial".getBytes("UTF-8")))
    graft.jobs.PartKill.committed.set(0)
    Pipeline.run(spark, pages, zones, cfg.copy(failAfterParts = -1))
    left.foreach(p => assert(!Files.exists(Paths.get(p)), s"$p survived the resume"))
    val (code, out) = checkLineage(dir)
    assert(code === 0, out)
  }

  test("a commit that loses its rename to a racing attempt leaves no temp file") {
    val dir = Files.createTempDirectory("graft-pipe-lost-rename").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set(s"fs.${LostRenameFs.Scheme}.impl", classOf[LostRenameFs].getName)
    LostRenameFs.lost.set(0)
    try Pipeline.run(spark, Pages.synth(spark, 1500L), zones,
      Pipeline.Config(outDir = s"${LostRenameFs.Scheme}://$dir", nBatches = 2, nParts = 4))
    finally hconf.unset(s"fs.${LostRenameFs.Scheme}.impl")
    // every part file and every part record lost its rename
    val parts = (0 until 2).flatMap(b => Option(new java.io.File(s"$dir/batch=$b").list()).toSeq.flatten)
      .count(_.endsWith(".parquet"))
    assert(parts > 0 && LostRenameFs.lost.get === 2 * parts)
    val (code, out) = checkLineage(dir)
    assert(code === 0, out)
  }

  test("a refused batch-record rename fails the run instead of reporting the batch committed") {
    val dir = Files.createTempDirectory("graft-pipe-refused-record").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set(s"fs.${RefusedRecordFs.Scheme}.impl", classOf[RefusedRecordFs].getName)
    val e = try intercept[java.io.IOException] {
      Pipeline.run(spark, Pages.synth(spark, 1500L), zones,
        Pipeline.Config(outDir = s"${RefusedRecordFs.Scheme}://$dir", nBatches = 2, nParts = 4))
    } finally hconf.unset(s"fs.${RefusedRecordFs.Scheme}.impl")
    assert(e.getMessage.endsWith(s"$dir/_lineage/batch-0.json"), e)
    val records = new java.io.File(s"$dir/_lineage").list().filter(_.matches("batch-\\d+\\.json"))
    assert(records.isEmpty, records.mkString(", "))
  }

  /** Exit code and output of `tools/check_lineage.py` on `dir`; cancels the
    * test when python3 or pyarrow is missing.
    */
  private def checkLineage(dir: String): (Int, String) = {
    val (code, out) = try {
      val p = new ProcessBuilder("python3", "tools/check_lineage.py", dir)
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      (p.waitFor(), out)
    } catch { case _: java.io.IOException => cancel("python3 not available") }
    if (out.contains("No module named")) cancel(s"check_lineage.py needs pyarrow: $out")
    (code, out)
  }

  /** Every lineage record (batch and part) under `dir`, relative path → bytes. */
  private def lineageRecords(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(s"$dir/_lineage")
    val it = Files.walk(root).iterator()
    val recs = Map.newBuilder[String, Seq[Byte]]
    while (it.hasNext) {
      val p = it.next()
      if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json") &&
          !p.getFileName.toString.startsWith("."))
        recs += root.relativize(p).toString -> Files.readAllBytes(p).toSeq
    }
    recs.result()
  }

  /** The parquet files under `dir`, sorted, as `Pipeline.runOnPath` lists them. */
  private def parquetFiles(dir: String): Seq[String] = {
    val it = Files.walk(Paths.get(dir)).iterator()
    val b = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().toString
      if (p.endsWith(".parquet") && !p.contains("/_")) b += p
    }
    b.result().sorted
  }

  /** Spark jobs started while `f` runs. Listener events arrive in order, so
    * once a marker job's start is seen, every job of `f` has been counted.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.marker") != null)
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener queue not drained")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a run takes as many Spark jobs for 4 batches as for 1") {
    val pages = Pages.synth(spark, 4000L).cache()
    pages.count()
    def jobs(nBatches: Int): Int = {
      val dir = Files.createTempDirectory(s"graft-pipe-jobs$nBatches").toString
      jobsOf(Pipeline.run(spark, pages, zones, Pipeline.Config(outDir = dir, nBatches = nBatches, nParts = 8)))
    }
    val one = jobs(1)
    assert(one > 0)
    assert(jobs(4) === one, "jobs of a 4-batch run vs a 1-batch run")
    pages.unpersist()
  }

  test("runOnPath reads its input schema from a parquet footer: one Spark job fewer") {
    val inDir = Files.createTempDirectory("graft-pipe-schema").toString
    PageTable.write(Pages.synth(spark, 2000L), inDir)
    val files = parquetFiles(inDir)
    var inferred, footer: org.apache.spark.sql.types.StructType = null
    assert(jobsOf { inferred = spark.read.parquet(files.head).schema } === 1, "Spark's schema inference")
    assert(jobsOf { footer = Pipeline.footerSchema(spark, files.head) } === 0, "footer read")
    assert(footer === inferred)
    assert(footer.fields.forall(_.nullable))

    // the same run over a reader that is handed the schema takes as many jobs
    val cfg = Pipeline.Config(outDir = Files.createTempDirectory("graft-pipe-schema-a").toString,
      nBatches = 1, nParts = 4)
    val onPath = jobsOf(Pipeline.runOnPath(spark, inDir, zones, cfg))
    val schemaGiven = jobsOf(Pipeline.run(spark, spark.read.schema(inferred).parquet(files: _*), zones,
      cfg.copy(outDir = Files.createTempDirectory("graft-pipe-schema-b").toString)))
    assert(onPath === schemaGiven, "jobs of runOnPath vs a run over a schema-given reader")

    // part files carry no Spark row metadata: the converter path
    val part = parquetFiles(cfg.outDir).head
    assert(Pipeline.footerSchema(spark, part) === spark.read.parquet(part).schema)
  }

  test("a kill past batch 0's parts resumes with batch 0's record; no part file rewritten") {
    val pages = Pages.synth(spark, 4000L).cache()
    val dirA = Files.createTempDirectory("graft-pipe-xa").toString
    val dirB = Files.createTempDirectory("graft-pipe-xb").toString
    val cfgA = Pipeline.Config(outDir = dirA, nBatches = 2, nParts = 16)
    Pipeline.run(spark, pages, zones, cfgA)
    val (parts0, parts1) = (Pipeline.committedParts(spark, cfgA, 0), Pipeline.committedParts(spark, cfgA, 1))
    assert(parts1.size >= 4, s"batch 1 has too few parts to kill inside it: $parts1")

    // dies inside batch 1, after batch 0's last part and half of batch 1's
    val cfgB = cfgA.copy(outDir = dirB, failAfterParts = parts0.size + parts1.size / 2)
    graft.jobs.PartKill.committed.set(0)
    intercept[org.apache.spark.SparkException] { Pipeline.run(spark, pages, zones, cfgB) }
    assert(Pipeline.committedBatches(spark, cfgB).isEmpty, "no batch record yet")
    assert(Pipeline.committedParts(spark, cfgB, 0) === parts0, "every batch-0 part is committed")
    val killed1 = Pipeline.committedParts(spark, cfgB, 1)
    assert(killed1.size < parts1.size, s"batch 1 should be partly committed: $killed1")

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def mtimes(): Map[String, Long] = (parts0.map(0 -> _) ++ killed1.map(1 -> _)).toSeq.map {
      case (b, p) =>
        val f = new org.apache.hadoop.fs.Path(s"$dirB/batch=$b/part-$p.parquet")
        (s"$b/$p", fs.getFileStatus(f).getModificationTime)
    }.toMap
    val before = mtimes()
    graft.jobs.PartKill.committed.set(0)
    val res = Pipeline.run(spark, pages, zones, cfgB.copy(failAfterParts = -1))
    assert(res.map(_.batch) === Seq(0, 1))
    assert(mtimes() === before, "restart rewrote already-committed partitions")
    assert(lineageRecords(dirB) === lineageRecords(dirA), "lineage records vs a straight run's")
    pages.unpersist()
  }

  test("runOnPath: each batch record's in_pages equals the row count of its files") {
    val inDir = Files.createTempDirectory("graft-pipe-pin").toString
    PageTable.write(Pages.synth(spark, 3000L), inDir)
    val dir = Files.createTempDirectory("graft-pipe-pout").toString
    val cfg = Pipeline.Config(outDir = dir, nBatches = 3, nParts = 8)
    Pipeline.runOnPath(spark, inDir, zones, cfg)
    // the pipeline's batching: every nBatches-th file of the sorted list
    val files = parquetFiles(inDir)
    assert(files.size > cfg.nBatches)
    val inPages = (0 until cfg.nBatches).map { b =>
      val own = files.indices.filter(_ % cfg.nBatches == b).map(files)
      val expect = spark.read.parquet(own: _*).count()
      val rec = record(s"$dir/_lineage/batch-$b.json")
      assert(rec("in_pages") === expect, s"batch $b in_pages")
      expect
    }
    assert(inPages.sum === 3000L)
  }

  test("runOnPath under umask 027: a checked .crc per file, umask modes, one log event per run") {
    val inDir = Files.createTempDirectory("graft-pipe-umask-in").toString
    PageTable.write(Pages.synth(spark, 1500L), inDir)
    val dir = Files.createTempDirectory("graft-pipe-umask").toString
    val cfg = Pipeline.Config(outDir = dir, nBatches = 2, nParts = 4, failAfterParts = 2)
    def parts() = (0 until cfg.nBatches).map(Pipeline.committedParts(spark, cfg, _).size).sum
    val hconf = spark.sparkContext.hadoopConfiguration
    val umask = Option(hconf.get("fs.permissions.umask-mode"))
    hconf.set("fs.permissions.umask-mode", "027")
    val (killedEvents, kept, resumedEvents) = try {
      graft.jobs.PartKill.committed.set(0)
      val (_, killed) = LogCapture.logged("graft.jobs.Pipeline") {
        intercept[org.apache.spark.SparkException] { Pipeline.runOnPath(spark, inDir, zones, cfg) }
      }
      val kept = parts()
      graft.jobs.PartKill.committed.set(0)
      (killed, kept, LogCapture.logged("graft.jobs.Pipeline") {
        Pipeline.runOnPath(spark, inDir, zones, cfg.copy(failAfterParts = -1))
      }._2)
    } finally umask.fold(hconf.unset("fs.permissions.umask-mode"))(hconf.set("fs.permissions.umask-mode", _))

    // the killed run never reached the event; the resume logs one
    assert(killedEvents.isEmpty, killedEvents)
    assert(kept >= 2 && kept < parts(), s"kill left $kept of ${parts()} parts")
    assert(resumedEvents === Seq(s"runBatches: 2 pending batches, ${parts() - kept} parts written this run, " +
      s"$kept kept from a killed attempt; local commits set permissions in-process"))

    val root = Paths.get(dir)
    val all = Files.walk(root).iterator().asScala.toSeq.filter(_ != root)
    val (dirs, files) = all.partition(Files.isDirectory(_))
    def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    assert(dirs.nonEmpty && dirs.forall(mode(_) == (0x1ff & ~0x17)), dirs.map(d => d -> mode(d).toOctalString))
    assert(files.forall(mode(_) == (0x1b6 & ~0x17)), files.map(f => f -> mode(f).toOctalString))
    val data = files.filterNot(_.getFileName.toString.endsWith(".crc"))
    assert(data.nonEmpty && data.forall(f => f.toString.endsWith(".parquet") || f.toString.endsWith(".json")), data)
    val sidecars = data.map(f => f.resolveSibling(s".${f.getFileName}.crc"))
    assert(sidecars.forall(Files.exists(_)), sidecars.filterNot(Files.exists(_)))
    assert(files.size === 2 * data.size, "a .crc without its data file")

    // the sidecars are checked on read: one flipped byte in a part file
    val part = data.filter(_.toString.endsWith(".parquet")).maxBy(Files.size(_))
    val bytes = Files.readAllBytes(part)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(part, bytes)
    val e = intercept[Exception] { Pipeline.output(spark, cfg).collect() }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }
}

/** A local file system under the `lostrename:` scheme on which every part
  * file and part record loses its commit: just before the rename, a racing
  * attempt's copy lands at the destination, and `rename` then refuses the
  * existing destination, as HDFS does.
  */
final class LostRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileUtil, Path}
  override def getUri: java.net.URI = java.net.URI.create(s"${LostRenameFs.Scheme}:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName.startsWith("part-") && !exists(dst)) {
      FileUtil.copy(this, src, this, dst, false, getConf)
      LostRenameFs.lost.incrementAndGet()
    }
    !exists(dst) && super.rename(src, dst)
  }
}

object LostRenameFs {
  val Scheme = "lostrename"
  val lost = new java.util.concurrent.atomic.AtomicInteger
}

/** A local file system under the `refusedrecord:` scheme whose `rename`
  * refuses every batch record (`batch-<b>.json`) and leaves nothing at the
  * destination, as a file system that reports failure instead of throwing.
  */
final class RefusedRecordFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  override def getUri: java.net.URI = java.net.URI.create(s"${RefusedRecordFs.Scheme}:///")
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.matches("batch-\\d+\\.json") && super.rename(src, dst)
}

object RefusedRecordFs {
  val Scheme = "refusedrecord"
}
