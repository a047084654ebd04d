package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round benchmark: headline queries on SPARK_GRAFT_SF_DIR plus the
  * flagship pipeline throughput (pages/sec). Prints ONE JSON line.
  *
  * Noise protocol (VERDICT r3 #1): the driver-captured artifact must be
  * able to arbitrate real regressions on a noisy shared VM, so it
  * embeds its own evidence:
  *   - hardware probes run FIRST (ALU per-thread speed and DRAM
  *     per-thread bandwidth at 8 and 32 busy threads, the same probes
  *     ScalingBench uses) — `alu_ceiling`/`dram_ceiling` near the
  *     quiet-window values in BENCH.md mean timings are comparable;
  *     collapsed values mean the host was loaded and absolute times
  *     are inflated;
  *   - each query runs once for warmup (codegen+JIT) then N=3 timed
  *     runs; the reported number is the MIN (steady-state claim), and
  *     all three raw runs are embedded under "runs" so a skewed
  *     distribution is visible in the artifact itself;
  *   - every run consumes the query's FULL output through the `noop`
  *     sink: a `.count()` lets Catalyst prune the very expressions under
  *     test (BENCH.md rows measured that way are marked "count path").
  */
object Bench {

  /** Headline subset (each representative of an operator family). */
  private val headline = Seq(
    "q1_agg", "q_window", "q_cell_of", "q_spatial_join", "q_knn",
    "q_tile_assign", "q_dedup_minhash", "q_ann_cosine", "q_text_quality",
    "q_rasterize_checksum", "q_polygonize", "q_idw", "q_hillshade",
    "q_warp", "q_grid_metrics")

  /** Evaluates every row and column of `df` and discards them. */
  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // --- hardware probe, before any Spark work: quantifies host noise ---
    import graft.tools.ScalingBench.{hwPerThreadSpeed, memPerThreadSpeed}
    val alu8 = hwPerThreadSpeed(8); val alu32 = hwPerThreadSpeed(32)
    val mem8 = memPerThreadSpeed(8); val mem32 = memPerThreadSpeed(32)
    val aluCeil = alu32 / alu8
    val memCeil = mem32 / mem8

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: JIT + codegen + parquet footer caches
    SparkEntry.queries("q1_agg")(spark, sfDir).count()

    val nTimed = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val results: Seq[(String, Seq[Double])] = headline.map { name =>
      val fn = SparkEntry.queries(name)
      def hygiene(): Unit = {
        // drop any blocks a query cached/checkpointed so later runs
        // aren't measured under accumulated executor-memory pressure,
        // and reclaim codegen classes + shuffle buffers so runs aren't
        // timed mid-full-GC
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        System.gc()
      }
      try { sink(fn(spark, sfDir)); hygiene() } // warmup (codegen + JIT)
      catch { case e: Throwable => System.err.println(s"[bench] $name (warmup): ${e.getMessage}") }
      val runs = (1 to nTimed).flatMap { i =>
        val t0 = System.nanoTime()
        val ok =
          try { sink(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name (timed run $i) FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        hygiene()
        // a failed run must not report a truncated elapsed time as if
        // it were a fast success
        if (ok) Some(dt) else None
      }
      name -> runs
    }

    // flagship pipeline throughput: pages/sec over a deterministic synthetic
    // page table sized to the scale factor (sf0.1 -> 300k pages)
    val nPages = {
      val sf = scala.util.Try(sfDir.split("sf").last.toDouble).getOrElse(0.01)
      math.max(10000L, (3000000 * sf).toLong)
    }
    val pages = graft.sources.Pages.synth(spark, nPages, partitions = cpus.toInt * 2)
    val zones = {
      import spark.implicits._
      graft.sources.Pages.zones(64).toDF("zone_id", "wkt")
        .withColumn("geom", gf.st_geomfromtext($"wkt")).select($"zone_id", $"geom")
    }
    val cfg = graft.jobs.Pipeline.Config(outDir = "", nBatches = 1)
    System.gc()
    sink(graft.jobs.Pipeline.transform(pages, zones, cfg)) // warm
    val pipeRuns = (1 to nTimed).map { _ =>
      val t0 = System.nanoTime()
      sink(graft.jobs.Pipeline.transform(pages, zones, cfg))
      val dt = (System.nanoTime() - t0) / 1e9
      System.gc()
      dt
    }
    val outRows = graft.jobs.Pipeline.transform(pages, zones, cfg).count() // untimed

    val allRuns: Seq[(String, Seq[Double])] =
      (results :+ ("pipeline" -> pipeRuns)).filter(_._2.nonEmpty)
    val mins = allRuns.map { case (k, rs) => k -> rs.min }
    val qs = mins.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val rawRuns = allRuns.map { case (k, rs) =>
      "\"" + k + "\":[" + rs.map(r => f"$r%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = mins.map(_._2).sum
    val pagesPerSec = nPages / pipeRuns.min
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"runs":$rawRuns,"sf":"$sfDir","pipeline_pages":$nPages,"pipeline_out_rows":$outRows,"pages_per_sec":$pagesPerSec%.0f,"probe":{"alu_per_thread_8":$alu8%.0f,"alu_per_thread_32":$alu32%.0f,"alu_ceiling":$aluCeil%.3f,"dram_per_thread_8":$mem8%.0f,"dram_per_thread_32":$mem32%.0f,"dram_ceiling":$memCeil%.3f},"protocol":"min-of-$nTimed after 1 warmup; probe run before Spark start; quiet-window reference in BENCH.md"}""")
    spark.stop()
  }
}
