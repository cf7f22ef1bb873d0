package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Scheduler-level counters for one window of work, from task and job
  * events. `window` resets them, runs the body, waits for the listener
  * bus to deliver the body's events, and returns the totals.
  */
final class ExecStats extends SparkListener {
  import ExecStats.Totals

  private var t = Totals.zero

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.taskInfo.successful) 0 else 1
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1, failedTasks = t.failedTasks + failed)
    else t.copy(
      tasks = t.tasks + 1,
      failedTasks = t.failedTasks + failed,
      inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      gcMs = t.gcMs + m.jvmGCTime,
      runMs = t.runMs + m.executorRunTime,
      maxTaskMs = math.max(t.maxTaskMs, e.taskInfo.duration),
      peakExecBytes = math.max(t.peakExecBytes, m.peakExecutionMemory))
  }

  def window[A](spark: SparkSession)(body: => A): (A, Totals) = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized { t = Totals.zero }
    val a = body
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    (a, synchronized(t))
  }
}

object ExecStats {
  final case class Totals(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
      inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      spillBytes: Long, gcMs: Long, runMs: Long, maxTaskMs: Long, peakExecBytes: Long)
  object Totals { val zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }
}

/** The largest task `peakExecutionMemory` seen — the one scheduler
  * counter the untraced passes keep, for `peak_exec_mb`.
  */
final class PeakMemory extends SparkListener {
  @volatile var peakBytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      synchronized { peakBytes = math.max(peakBytes, e.taskMetrics.peakExecutionMemory) }
}

/** The executed plans of every action a window runs (writes included). */
final class Plans extends QueryExecutionListener {
  private val seen = ArrayBuffer.empty[SparkPlan]
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { seen += qe.executedPlan }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def window[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized(seen.clear())
    val a = body
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    (a, synchronized(seen.toList))
  }
}

/** Exchange counts of a final adaptive plan. A plain `SparkPlan.collect`
  * stops at query-stage boundaries and finds none; the adaptive helper
  * descends into every stage and subquery.
  */
object Exchanges extends AdaptiveSparkPlanHelper {
  final case class Counts(shuffle: Int, broadcast: Int) {
    def +(o: Counts): Counts = Counts(shuffle + o.shuffle, broadcast + o.broadcast)
  }
  def of(plan: SparkPlan): Counts = {
    val nodes = collectWithSubqueries(plan) {
      case s: ShuffleExchangeExec => 0
      case b: BroadcastExchangeExec => 1
    }
    Counts(nodes.count(_ == 0), nodes.count(_ == 1))
  }
}

/** One timed interval of the benchmark: a layer call, a program, or a
  * pass over a workload's programs. Spans of one run share the run's
  * trace file; `parent` links a span to the span that caused it (0 for
  * none).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startS: Double, endS: Double) {
  def seconds: Double = endS - startS
  def json: String =
    s"""{"id": $id, "parent": $parent, "name": ${Json.str(name)}, "layer": ${Json.str(layer)}, """ +
      s""""start_s": ${Json.num(startS)}, "end_s": ${Json.num(endS)}}"""
}

/** Spans kept in memory and written out when the run ends. */
final class Spans(t0: Long) {
  private val all = ArrayBuffer.empty[Span]
  private def now: Double = (System.nanoTime() - t0) / 1e9

  /** Time `body`, which receives the new span's id, as a span. */
  def apply[A](name: String, layer: String, parent: Int = 0)(body: Int => A): (A, Span) = {
    val id = all.size + 1
    val start = now
    all += Span(id, parent, name, layer, start, Double.NaN)
    val a = body(id)
    val span = Span(id, parent, name, layer, start, now)
    all(id - 1) = span
    (a, span)
  }

  def json: String = all.map(_.json).mkString("[\n    ", ",\n    ", "\n  ]")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
