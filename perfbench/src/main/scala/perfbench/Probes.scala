package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide JVM readings. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def allocBytes: Long = threads.getTotalThreadAllocatedBytes
  /** Heap in use right after the latest collection, over all pools. */
  def heapAfterGcBytes: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  /** Peak resident set size (VmHWM), in kB; 0 where /proc is absent. */
  def rssPeakKb: Long = Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally src.close()
  }.getOrElse(0L)
}

/** SQLMetrics totals of one executed physical plan. */
final case class PlanTotals(scanRows: Long = 0, scanFiles: Long = 0,
    filterIn: Long = 0, filterOut: Long = 0, joinRows: Long = 0,
    aggRows: Long = 0, sortMs: Double = 0, aggMs: Double = 0,
    broadcasts: Long = 0, writeRows: Long = 0, writeBytes: Long = 0) {
  def +(o: PlanTotals): PlanTotals = PlanTotals(scanRows + o.scanRows,
    scanFiles + o.scanFiles, filterIn + o.filterIn, filterOut + o.filterOut,
    joinRows + o.joinRows, aggRows + o.aggRows, sortMs + o.sortMs,
    aggMs + o.aggMs, broadcasts + o.broadcasts, writeRows + o.writeRows,
    writeBytes + o.writeBytes)
}

object PlanTotals {
  /** Every operator of the final plan: through AQE's current plan and
    * its query stages, and into subqueries. A reused exchange is listed
    * without its subtree, which ran where it first appears. The plan
    * that fills a persisted subtree is listed the first time one of
    * `seen`'s plans reads it, since its metrics are those of the run
    * that materialised it. */
  def nodes(p: SparkPlan, seen: java.util.Set[SparkPlan]): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, seen)
    case s: QueryStageExec => nodes(s.plan, seen)
    case r: ReusedExchangeExec => Seq(r)
    case m: InMemoryTableScanExec =>
      m +: (if (seen.add(m.relation.cachedPlan)) nodes(m.relation.cachedPlan, seen) else Nil)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes(_, seen))
  }

  private def value(p: SparkPlan, m: String): Long =
    p.metrics.get(m).map(_.value).getOrElse(0L)

  private def millis(p: SparkPlan, m: String): Double =
    p.metrics.get(m).map(x =>
      if (x.metricType == "nsTiming") x.value / 1e6 else x.value.toDouble)
      .getOrElse(0.0)

  /** Rows a filter read: the output of the nearest operator below it
    * that counts rows (code-generation wrappers count none). */
  private def rowsInto(f: SparkPlan): Long =
    Iterator.iterate(f.children.headOption)(_.flatMap(_.children.headOption))
      .takeWhile(_.isDefined).flatten
      .find(_.metrics.contains("numOutputRows"))
      .map(value(_, "numOutputRows")).getOrElse(0L)

  private def one(p: SparkPlan): PlanTotals = {
    val rows = value(p, "numOutputRows")
    p match {
      case _: FileSourceScanExec =>
        PlanTotals(scanRows = rows, scanFiles = value(p, "numFiles"))
      case f: FilterExec => PlanTotals(filterIn = rowsInto(f), filterOut = rows)
      case _: BaseJoinExec => PlanTotals(joinRows = rows)
      case _: BaseAggregateExec =>
        PlanTotals(aggRows = rows, aggMs = millis(p, "aggTime"))
      case _: SortExec => PlanTotals(sortMs = millis(p, "sortTime"))
      case _: BroadcastExchangeExec => PlanTotals(broadcasts = 1)
      case _: DataWritingCommandExec =>
        PlanTotals(writeRows = rows, writeBytes = value(p, "numOutputBytes"))
      case _ => PlanTotals()
    }
  }

  def of(plan: SparkPlan, seen: java.util.Set[SparkPlan]): PlanTotals =
    nodes(plan, seen).map(one).foldLeft(PlanTotals())(_ + _)
}

/** One executed QueryExecution, as its listener callback saw it. */
final case class QeRec(endNs: Long, durNs: Long, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, plan: PlanTotals)

/** Catalyst layer: phase times and final-plan metrics of every executed
  * QueryExecution, buffered until the runner takes them. */
final class QeRecorder extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[QeRec]
  /** Persisted-subtree plans already counted since the last [[take]]. */
  private val cached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])

  private def add(qe: QueryExecution, durNs: Long): Unit = {
    val end = System.nanoTime()
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    synchronized {
      val plan = Try(PlanTotals.of(qe.executedPlan, cached)).getOrElse(PlanTotals())
      buf += QeRec(end, durNs, ms("analysis"), ms("optimization"), ms("planning"), plan)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe, 0L)

  def take(): Seq[QeRec] = synchronized {
    val r = buf.toList; buf.clear(); cached.clear(); r
  }
}

/** A job or stage of one timed operation; times in epoch milliseconds. */
final case class ExecRec(kind: String, id: Int, op: Int, job: Int,
    startMs: Long, endMs: Long)

/** Scheduler and executor layer: jobs, stages and task metrics of the
  * timed operations (jobs whose `perfbench.phase` property is `timed`). */
final class ExecRecorder extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val stageJob = mutable.Map.empty[Int, (Int, Int)]
  private val recs = mutable.ArrayBuffer.empty[ExecRec]
  val totals: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    Seq("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
      "gc_ms", "sched_ms", "input_rows", "output_rows", "shuffle_write_b",
      "shuffle_read_b", "fetch_wait_ms", "spill_b", "peak_mem_b")
      .map(_ -> 0.0): _*)

  private def add(k: String, v: Double): Unit = totals(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty("perfbench.phase") == "timed")) {
      val op = props.get.getProperty("perfbench.op").toInt
      jobStart(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = (op, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, st) =>
      recs += ExecRec("exec.job", e.jobId, op, e.jobId, st, e.time)
      add("jobs", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { case (op, job) =>
      for (st <- si.submissionTime; en <- si.completionTime)
        recs += ExecRec("exec.stage", si.stageId, op, job, st, en)
      add("stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      add("tasks", 1)
      if (e.reason != Success) add("failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        val info = e.taskInfo
        val getting =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("sched_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting))
        add("input_rows", m.inputMetrics.recordsRead)
        add("output_rows", m.outputMetrics.recordsWritten)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_b", m.diskBytesSpilled)
        totals("peak_mem_b") = math.max(totals("peak_mem_b"), m.peakExecutionMemory)
      }
    }
  }

  /** The jobs and stages of operation `op` recorded so far. */
  def take(op: Int): Seq[ExecRec] = synchronized {
    val (mine, rest) = recs.partition(_.op == op)
    recs.clear(); recs ++= rest
    mine.toList
  }

  def snapshot: Map[String, Double] = synchronized(totals.toMap)
}
