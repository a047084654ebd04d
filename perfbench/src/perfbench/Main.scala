package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution

/** Single-client closed loop: one driver thread runs one iteration at a
  * time on `local[nproc]`, and the next starts when the previous one's
  * output has been consumed and checked.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> [--trace-out <spans.jsonl>]
  *
  * The last stdout line is the result object. Exit code 1 when an output
  * missed its oracle, 2 when the run could not be made at all.
  */
object Main {
  val SetupReps = 3    // set-up is repeated and its median reported
  // first iterations run 2-3x slower (JIT, codegen), and iteration times
  // keep falling for 20 s more: warm up for at least this many
  // iterations and seconds
  val Warmups = 2
  val WarmupSeconds = 20.0
  val MinIters = 5
  val MinTraced = 3

  /** Every per-layer metric of the workloads in BENCHMARK.json, with its
    * unit; a layer a workload does not touch reports 0. The metrics of the
    * workloads left out of it ([[otherLayer]]) follow when present.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.rows" -> "count",
    "expr.geo_extract_s" -> "s", "expr.mentions" -> "count", "expr.cell_of_s" -> "s",
    "index.polyfill_s" -> "s",
    "operators.polyfill_cells" -> "count", "operators.join_candidates" -> "count",
    "operators.pip_hits" -> "count", "operators.pip_hit_ratio" -> "ratio",
    "operators.cell_join_s" -> "s", "operators.pip_s" -> "s",
    "jobs.tile_s" -> "s", "jobs.commit_s" -> "s", "jobs.out_rows" -> "count",
    "jobs.parts_committed" -> "count", "jobs.bytes_written" -> "bytes",
    "jobs.write_amp" -> "ratio",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.broadcast_build_s" -> "s",
    "spark.broadcast_bytes" -> "bytes", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count") ++
    layerNames.filter(_ != "raster").map(l => s"$l.self_s" -> "s") ++ Seq(
    "trace.run_s" -> "s", "trace.untraced_run_s" -> "s", "trace.overhead_s" -> "s",
    "trace.residual_s" -> "s", "trace.iterations" -> "count")

  val otherLayer: Seq[(String, String)] = Seq(
    "operators.knn_s" -> "s", "operators.knn_jobs" -> "count",
    "operators.knn_out_rows" -> "count",
    "raster.rasterize_s" -> "s", "raster.polygonize_s" -> "s", "raster.pixels" -> "count",
    "raster.strips" -> "count", "raster.polygons" -> "count",
    "raster.boundary_pairs" -> "count", "raster.self_s" -> "s")

  /** The engine's modules, which are the layers. */
  def layerNames: Seq[String] = Seq("sources", "expr", "index", "operators", "raster", "jobs")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process: executor threads, GC and JIT too. */
  def cpuNs: Long = os.getProcessCpuTime

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val need = Seq("workload", "seed", "seconds", "trace", "work")
    if (!need.forall(a.contains) || !Workload.names.contains(a("workload"))) {
      log(s"usage: --workload <${Workload.names.mkString("|")}> --seed <n> --seconds <s> " +
        "--trace <0|1> --work <dir> [--trace-out <file>]")
      System.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", 2 * cores)
      // by default a file scan packs its input into one task per core, and a
      // core the shared host holds back for a while then delays a quarter
      // of the stage; eight smaller tasks per core keep it balanced
      .config("spark.sql.files.minPartitionNum", 8 * cores)
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job and SQL execution for the UI;
      // left at its defaults, the live heap grows with the iteration count
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val code =
      try {
        val w = Workload(a("workload"), spark, a("seed").toLong, s"${a("work")}/data")
        new Bench(spark, w, a("seconds").toDouble, sessionS)
          .run(a("trace") == "1", a.get("trace-out"))
      } catch {
        case e: Throwable =>
          log(s"run failed: $e"); e.printStackTrace(); 2
      } finally spark.stop()
    System.exit(code)
  }

  /** Expression names, alias names and data-output columns of a query's
    * optimized plan.
    */
  def planTokens(qe: QueryExecution): Set[String] = {
    val b = Set.newBuilder[String]
    def dataOut(p: LogicalPlan): Seq[String] = p match {
      case d: DeserializeToObject => dataOut(d.child)
      case other => other.output.map(_.name)
    }
    dataOut(qe.optimizedPlan).foreach(n => b += s"out:$n")
    qe.optimizedPlan.foreach(_.expressions.foreach(_.foreach {
      case al: Alias => b += s"alias:${al.name}"
      case e => b += e.prettyName
    }))
    b.result()
  }
}

final class Bench(spark: SparkSession, w: Workload, runSeconds: Double, sessionS: Double) {
  import Main._

  private val counters = new SparkCounters(spark)
  private var attempted, failed = 0

  private def hygiene(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** One checked iteration: (wall seconds, cpu seconds) of the timed part,
    * or None when it threw or missed its oracle.
    */
  private def iteration(): Option[(Double, Double)] = {
    attempted += 1
    try {
      val c0 = cpuNs
      val t0 = System.nanoTime()
      val out = w.run()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (cpuNs - c0) / 1e9
      w.verify(out)
      Some((dt, dc))
    } catch {
      case e: Exception =>
        failed += 1
        log(s"iteration $attempted failed: $e")
        None
    } finally { w.cleanup(); hygiene() }
  }

  /** Inputs, oracle, plan guard and warmup; returns setup seconds. */
  private def setup(): Double = {
    val prep = (1 to SetupReps).map(_ => seconds(w.prepare())._2)
    val (first, _, _, qes) = counters.measure(seconds(iteration()))
    val missing = w.guard.filterNot(t => qes.exists(qe => planTokens(qe).contains(t)))
    require(missing.isEmpty,
      s"plan guard: no optimized plan of the timed query contains ${missing.mkString(", ")}")
    val warm = ArrayBuffer(first._2)
    while (failed == 0 && (warm.size < Warmups || warm.sum < WarmupSeconds))
      warm += seconds(iteration())._2
    val s = sessionS + median(prep) + warm.sum
    log(s"setup: session $sessionS s, prepare ${prep.mkString(" ")}, warmup ${warm.mkString(" ")}")
    s
  }

  def run(trace: Boolean, traceOut: Option[String]): Int = {
    val setupS = setup()
    val metrics =
      if (failed > 0) Nil // a warmup output missed its oracle: nothing to time
      else if (trace) traced(traceOut)
      else {
        val deadline = System.nanoTime() + (runSeconds * 1e9).toLong
        val ok = ArrayBuffer.empty[(Double, Double)]
        val warmed = attempted
        while (attempted - warmed < MinIters || System.nanoTime() < deadline)
          ok ++= iteration()
        // the context cleaner frees broadcasts and shuffles of collected
        // datasets on its own thread, after the first collection
        System.gc(); Thread.sleep(500); System.gc()
        val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        val runS = median(ok.map(_._1).toSeq)
        log(s"run_s: ${ok.map(_._1).mkString(" ")}")
        if (ok.isEmpty) Nil else Seq(
          ("setup_s", setupS, "s"),
          ("run_s", runS, "s"),
          ("items_per_s", w.items / runS, "items/s"),
          ("cpu_s", median(ok.map(_._2).toSeq), "s"),
          ("heap_live_mb", heap / 1048576.0, "MiB"))
      }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    if (failed == 0) 0 else 1
  }

  /** Alternates an untraced iteration with a traced one (spans and
    * listeners on) followed by the workload's prefix plans.
    */
  private def traced(traceOut: Option[String]): Seq[(String, Double, String)] = {
    val deadline = System.nanoTime() + (runSeconds * 1e9).toLong
    val untraced = ArrayBuffer.empty[Double]
    val rounds = ArrayBuffer.empty[Map[String, Double]]
    var r = 0
    while (r < MinTraced || System.nanoTime() < deadline) {
      untraced ++= iteration().map(_._1)
      Trace.on = true
      Trace.startRun(r)
      attempted += 1
      try {
        val (out, listener, plan, _) = counters.measure(Trace.span("iteration")(w.run()))
        val full = Trace.seconds(r, "iteration")
        w.verify(out)
        val stepRows = w.steps.map { case (name, f) => name -> Trace.span(name)(f()) }.toMap
        val t = (n: String) => Trace.seconds(r, n)
        val layers = w.layers(t, full)
        val self = layerNames.map(l => l -> layers.filter(_._1.startsWith(s"$l.")))
          .collect { case (l, ts) if ts.nonEmpty => s"$l.self_s" -> ts.map(_._2).sum }
        val counts = w.counts(stepRows, listener, plan).toMap
        val ratio = counts.get("operators.join_candidates").filter(_ > 0)
          .map(c => "operators.pip_hit_ratio" -> counts("operators.pip_hits") / c)
        rounds += (listener ++ layers ++ self ++ counts ++ ratio + ("trace.run_s" -> full))
      } catch {
        case e: Exception =>
          failed += 1
          log(s"traced iteration $r failed: $e")
      } finally {
        Trace.on = false
        w.cleanup(); hygiene()
      }
      r += 1
    }
    traceOut.foreach(Trace.write)
    if (rounds.isEmpty) return Nil
    val names = perLayer ++ otherLayer.filter(n => rounds.exists(_.contains(n._1)))
    val med = names.map(_._1).map(n => n -> median(rounds.map(_.getOrElse(n, 0.0)).toSeq))
      .toMap
    val untracedS = median(untraced.toSeq)
    val extra = Map(
      "trace.untraced_run_s" -> untracedS,
      "trace.overhead_s" -> (med("trace.run_s") - untracedS),
      "trace.residual_s" ->
        (med("trace.run_s") - names.map(_._1).filter(_.endsWith(".self_s")).map(med).sum),
      "trace.iterations" -> rounds.size.toDouble)
    names.map { case (n, u) => (n, extra.getOrElse(n, med(n)), u) }
  }
}
