package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval recorded by the benchmark around a public call or a
  * prefix plan. Spans of one traced iteration share `run`.
  */
final case class Span(id: Int, parent: Int, run: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Off (the default) it only runs the body, so the
  * untraced runs that give the end-to-end metrics pay one branch per call.
  */
object Trace {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var run = 0

  def startRun(r: Int): Unit = { run = r; stack = List(-1) }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      spans += null // reserve the id so children get later ids
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, run, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds of the named span in traced iteration `r` (one per name). */
  def seconds(r: Int, name: String): Double =
    spans.find(s => s.run == r && s.name == name).map(_.seconds)
      .getOrElse(sys.error(s"no span '$name' in traced iteration $r"))

  /** JSON lines, one span each, with its self time (duration minus the part
    * covered by its children).
    */
  def write(path: String): Unit = {
    val kids = spans.groupBy(_.parent)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val self = s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum
      out.println(
        s"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":$self}""")
    } finally out.close()
  }
}

/** Counters harvested from outside the engine while one traced call runs:
  * task metrics and job/stage/task counts from a SparkListener, and SQL
  * metrics from the executed plans of every query that finished.
  */
final class SparkCounters(spark: SparkSession) {
  private val taskCpuNs, gcMs, shWrite, shRead, fetchWaitMs, spill, jobs, stages, tasks =
    new AtomicLong
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def all = Seq(taskCpuNs, gcMs, shWrite, shRead, fetchWaitMs, spill, jobs, stages, tasks)

  /** Run `body` with the listeners attached and return its result, the
    * counters it moved and the queries it ran.
    */
  def measure[T](body: => T): (T, Map[String, Double], PlanStats, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    queries.clear()
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val before = all.map(_.get)
    val r = try body finally {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    val d = all.map(_.get).zip(before).map { case (a, b) => (a - b).toDouble }
    val qes = scala.jdk.CollectionConverters.IteratorHasAsScala(queries.iterator).asScala.toSeq
    val plan = PlanStats.of(qes)
    val m = Map(
      "spark.task_cpu_s" -> d(0) / 1e9,
      "spark.gc_s" -> d(1) / 1e3,
      "spark.shuffle_write_bytes" -> d(2),
      "spark.shuffle_read_bytes" -> d(3),
      "spark.shuffle_fetch_wait_s" -> d(4) / 1e3,
      "spark.spill_bytes" -> d(5),
      "spark.jobs" -> d(6),
      "spark.stages" -> d(7),
      "spark.tasks" -> d(8),
      "spark.broadcast_build_s" -> plan.broadcastBuildS,
      "spark.broadcast_bytes" -> plan.broadcastBytes)
    (r, m, plan, qes)
  }
}

/** SQL metrics summed over the executed plans of a set of queries. The walk
  * descends through adaptive plans, query stages and reused exchanges, so it
  * reads the plan that actually ran, not the initial one. The optimizer
  * moves the PIP predicate into the broadcast hash join's condition, so the
  * join's output rows are the PIP hits; candidates come from the traced
  * run's join prefix.
  */
final case class PlanStats(joinRows: Long, broadcastBuildS: Double, broadcastBytes: Double)

object PlanStats {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  def of(qes: Seq[QueryExecution]): PlanStats = {
    val ns = qes.flatMap(qe => nodes(qe.executedPlan))
    val bhj = ns.collect { case j: BroadcastHashJoinExec => j }
    val bx = ns.collect { case b: BroadcastExchangeExec => b }
    PlanStats(
      bhj.map(metric(_, "numOutputRows")).sum,
      bx.map(metric(_, "buildTime")).sum / 1e3,
      bx.map(metric(_, "dataSize")).sum.toDouble)
  }
}
