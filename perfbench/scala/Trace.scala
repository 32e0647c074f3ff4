package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative work counters, fed by a SparkListener (task and job events)
  * and a QueryExecutionListener (SQL metrics of each action's final
  * plan). Readers take a [[Snap]] after draining the listener bus and
  * subtract two snaps to get the work done between them.
  */
final class Counters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Counters._

  private val sums = new Array[Long](Names.length)
  private val taskMs = ArrayBuffer.empty[Long]

  private def add(i: Int, v: Long): Unit = sums(i) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add(Jobs, 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    add(Tasks, 1)
    if (m != null) {
      taskMs += m.executorRunTime
      add(BusyMs, m.executorRunTime)
      add(InRec, m.inputMetrics.recordsRead)
      add(InB, m.inputMetrics.bytesRead)
      add(ShR, m.shuffleReadMetrics.totalBytesRead)
      add(ShW, m.shuffleWriteMetrics.bytesWritten)
      add(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(OutB, m.outputMetrics.bytesWritten)
      add(OutRec, m.outputMetrics.recordsWritten)
      add(GcMs, m.jvmGCTime)
    }
  }

  private def metric(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private val PairKeys = Seq("id_a", "id_b", "__na", "__nb")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    // rows the raw-scrape JSON scans produced: the reads of the landing files
    val json = collectWithSubqueries(plan) {
      case s: FileSourceScanExec if (s.relation.fileFormat match {
        case f: DataSourceRegister => f.shortName() == "json"
        case _ => false
      }) => metric(s)
    }.sum
    // near-duplicate candidate pairs: the final distinct over
    // (id_a, id_b, __na, __nb) that feeds exact verification
    val cand = collectWithSubqueries(plan) {
      case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined &&
          a.aggregateExpressions.isEmpty && a.groupingExpressions.map(_.name) == PairKeys =>
        metric(a)
    }.sum
    synchronized { add(JsonRows, json); add(PairCand, cand) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snap(spark: SparkSession): Snap = {
    org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
    synchronized { Snap(sums.clone(), taskMs.length, System.nanoTime()) }
  }

  def taskTimes(from: Snap, to: Snap): Seq[Long] =
    synchronized { taskMs.slice(from.taskIdx, to.taskIdx).toSeq }
}

object Counters {
  val Names: Array[String] = Array("jobs", "tasks", "task_busy_s", "input_records",
    "input_bytes", "shuffle_read_b", "shuffle_write_b", "spill_b", "output_bytes",
    "output_records", "gc_s", "json_scan_rows", "pair_candidates")
  private def idx(n: String): Int = Names.indexOf(n)
  val Jobs: Int = idx("jobs"); val Tasks: Int = idx("tasks")
  val BusyMs: Int = idx("task_busy_s"); val InRec: Int = idx("input_records")
  val InB: Int = idx("input_bytes"); val ShR: Int = idx("shuffle_read_b")
  val ShW: Int = idx("shuffle_write_b"); val Spill: Int = idx("spill_b")
  val OutB: Int = idx("output_bytes"); val OutRec: Int = idx("output_records")
  val GcMs: Int = idx("gc_s"); val JsonRows: Int = idx("json_scan_rows")
  val PairCand: Int = idx("pair_candidates")

  /** Milliseconds-valued counters, reported in seconds. */
  val MsCounters: Set[Int] = Set(BusyMs, GcMs)

  final case class Snap(vals: Array[Long], taskIdx: Int, nanos: Long)

  def delta(a: Snap, b: Snap): Map[String, Double] =
    Names.indices.map { i =>
      val d = (b.vals(i) - a.vals(i)).toDouble
      Names(i) -> (if (MsCounters(i)) d / 1000.0 else d)
    }.toMap
}

/** One timed region: a layer name, its parent span, the operation it
  * belongs to, and the counter deltas between its start and end.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startS: Double, endS: Double, counters: Map[String, Double],
    taskMaxMs: Double, taskP50Ms: Double)

/** Span recorder. With tracing off, [[span]] just runs its body; with
  * tracing on, it drains the listener bus at both ends (part of the
  * tracing overhead the benchmark reports) and keeps the span in memory.
  * Spans nest by call; a span may also name a logical parent explicitly
  * (probes that run beside the part they explain).
  */
final class Tracer(spark: SparkSession, val counters: Counters, t0: Long) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var enabled = false
  var op = -1

  def span[T](name: String, parent: Option[Int] = None)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val par = parent.getOrElse(stack.headOption.getOrElse(-1))
      val a = counters.snap(spark)
      stack = id :: stack
      val out = try body finally stack = stack.tail
      val b = counters.snap(spark)
      val ts = counters.taskTimes(a, b).sorted
      spans += Span(id, name, par, op, (a.nanos - t0) / 1e9, (b.nanos - t0) / 1e9,
        Counters.delta(a, b), if (ts.isEmpty) 0.0 else ts.last.toDouble,
        if (ts.isEmpty) 0.0 else ts(ts.length / 2).toDouble)
      out
    }

  /** Id of the most recent span with this name (for logical parents). */
  def lastId(name: String): Option[Int] = spans.reverseIterator.find(_.name == name).map(_.id)
}
