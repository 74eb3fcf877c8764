package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{Engine, GraftSession, SparkEntry}
import graft.operators.Meta

/** A workload: what one run times. In dedup_heavy an operation is one
  * pass of `queries`, in a seeded order; sql_session runs whole blocks
  * of [[KvStream.Mix]], one statement per operation. `nominalPassS` is
  * one warm pass on the reference machine (4 cores): a run times
  * round(seconds / nominalPassS) passes, so every run of a workload
  * times the same operations. `warmPasses` untimed passes come first,
  * while the JIT compiles the hot paths: latency falls by a third or
  * more over the first passes. dedup_heavy's pass latency stops falling
  * after its fifth pass, so all of its timed passes are warm. */
final case class Workload(name: String, queries: Seq[String],
    nominalPassS: Double, warmPasses: Int) {
  def opsPerPass: Int = if (queries.isEmpty) KvStream.Mix.size else 1
  def passes(seconds: Int): Int = math.max(1, math.round(seconds / nominalPassS).toInt)
  /** The tail percentile: the highest with at least 10 samples beyond
    * it at this run length; p90 when the run holds too few samples. */
  def tailPct(seconds: Int): Int =
    Stats.tailPercentile(passes(seconds) * opsPerPass).getOrElse(90)
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("dedup_heavy",
      Seq("dedup_ngram_jaccard", "dedup_components"), 2.7, 5),
    Workload("sql_session", Nil, 6.5, 1))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))
}

/** One timed operation: latency, process CPU, GC and allocation inside
  * its window, and whether it ran and returned the expected result. */
final case class OpRec(id: Int, name: String, latMs: Double, cpuNs: Long,
    gcMs: Long, allocB: Long, var ok: Boolean, var error: String = "")

/** Command line of one run; see perfbench/run.py, which builds it. */
final case class Args(workload: Workload, seed: Long, seconds: Int,
    trace: Boolean, data: String, out: String, expected: String,
    launchedMs: Long, record: Boolean)

object Main {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Workload(arg("workload")), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("data"), arg("out"), kv.getOrElse("expected", ""),
      kv.get("launched-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      kv.get("record").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a)
    val result = try run.execute() finally run.spark.stop()
    Files.writeString(Paths.get(a.out), Json.render(result))
  }
}

/** One benchmark run in one JVM: set-up, warmup, the timed operations,
  * the result checks, and the metrics. */
final class Run(a: Args) {
  private val w = a.workload
  private val cores = Runtime.getRuntime.availableProcessors

  private val t0 = System.nanoTime()
  /** Built as graft.Bench builds its session; the two paths only keep
    * the warehouse and scratch files inside the run's directory. */
  val spark: SparkSession = Engine.memoryPins(Engine.semanticPins(SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
    .config("spark.local.dir", sys.props("java.io.tmpdir") + "/spark-local")))
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sc = spark.sparkContext
  private val sessionS = (System.nanoTime() - t0) / 1e9

  private val qeRec = new QeRecorder
  private val execRec = new ExecRecorder
  if (a.trace) {
    spark.listenerManager.register(qeRec)
    sc.addSparkListener(execRec)
  }

  /** Clock offset that maps epoch milliseconds onto System.nanoTime. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  // ---------------------------------------------------------------- ops

  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val qes = mutable.ArrayBuffer.empty[(Int, QeRec)]
  private var firstOpMs = 0L
  private var liveRddsMax = 0
  private var storedMbMax = 0.0

  /** What an operation's body sees: spans it opens inside the root, and
    * untimed work between its parts. */
  final class OpScope(val op: Int, val root: Int) {
    private[Run] var paused = Seq(0L, 0L, 0L, 0L) // ns, cpu ns, gc ms, alloc bytes
    private[Run] val wrong = mutable.ArrayBuffer.empty[String]
    private[Run] val qes = mutable.ArrayBuffer.empty[QeRec]

    def span[T](name: String)(f: => T): T = {
      val st = System.nanoTime()
      try f finally spans += Span(spans.size, name, op, root, st, System.nanoTime())
    }

    /** Harness work between the parts of one operation (checks, cache
      * reads): kept out of its latency and resource counts, and traced as
      * an `op.check` span so the span tree still covers the operation. */
    def untimed[T](f: => T): T = {
      val before = Seq(System.nanoTime(), Proc.cpuNs, Proc.gcMs, Proc.allocBytes)
      sc.setLocalProperty("perfbench.phase", "check")
      // keep the operation's Catalyst records, drop the check's own
      if (a.trace) { ListenerBusDrain(sc); qes ++= qeRec.take() }
      try span("op.check")(f) finally {
        if (a.trace) { ListenerBusDrain(sc); qeRec.take() }
        sc.setLocalProperty("perfbench.phase", "timed")
        val after = Seq(System.nanoTime(), Proc.cpuNs, Proc.gcMs, Proc.allocBytes)
        paused = paused.lazyZip(after).lazyZip(before).map(_ + _ - _)
      }
    }
  }

  /** Runs one timed operation and returns its record. A failure is
    * recorded, not thrown. The metrics of the untraced run come from
    * these windows only; everything outside them is untimed. */
  private def timed(name: String)(body: OpScope => Unit): OpRec = {
    val id = ops.size
    if (a.trace) { ListenerBusDrain(sc); qeRec.take() } // drop untimed work
    sc.setLocalProperty("perfbench.op", id.toString)
    sc.setLocalProperty("perfbench.phase", "timed")
    if (firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
    val rootId = spans.size
    spans += null // the root, filled in below
    val scope = new OpScope(id, rootId)
    val (c0, g0, a0) = (Proc.cpuNs, Proc.gcMs, Proc.allocBytes)
    val st = System.nanoTime()
    val err = try { body(scope); "" }
      catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val en = System.nanoTime()
    val Seq(pNs, pCpu, pGc, pAlloc) = scope.paused
    val rec = OpRec(id, name, (en - st - pNs) / 1e6, Proc.cpuNs - c0 - pCpu,
      Proc.gcMs - g0 - pGc, Proc.allocBytes - a0 - pAlloc, err.isEmpty, err)
    sc.setLocalProperty("perfbench.phase", "untimed")
    spans(rootId) = Span(rootId, "op", id, -1, st, en)
    ops += rec
    if (a.trace) collectTrace(id, rootId, scope.qes.toList)
    if (!rec.ok) System.err.println(s"[perfbench] op $id $name failed: $err")
    scope.wrong.foreach(fail(rec, _))
    rec
  }

  private def fail(op: OpRec, why: String): Unit = if (op.ok) {
    op.ok = false; op.error = why
    System.err.println(s"[perfbench] op ${op.id} ${op.name} wrong result: $why")
  }

  /** Attaches the operation's Catalyst, job and stage records to its
    * span tree, each under the innermost span that contains it in time. */
  private def collectTrace(op: Int, rootId: Int, earlier: Seq[QeRec]): Unit = {
    ListenerBusDrain(sc)
    val root = spans(rootId)
    val level2 = spans.iterator.drop(rootId + 1).filter(_.op == op).toList
    def add(s: Span): Span = { val t = s.copy(id = spans.size); spans += t; t }
    val qeSpans = (earlier ++ qeRec.take()).map { q =>
      qes += ((op, q))
      val s = Span(-1, "catalyst.qe", op, rootId, q.endNs - q.durNs, q.endNs)
      add(Trace.clampInto(s, Trace.containing(s, root +: level2).getOrElse(root)))
    }
    val execs = execRec.take(op).sortBy(r => (r.kind, r.startMs))
    def at(ms: Long) = ms * 1000000L + epochToNano
    val jobSpans = execs.filter(_.kind == "exec.job").map { r =>
      val s = Span(-1, "exec.job", op, rootId, at(r.startMs), at(r.endMs))
      r.id -> add(Trace.clampInto(s,
        Trace.containing(s, (root +: level2) ++ qeSpans).getOrElse(root)))
    }.toMap
    execs.filter(_.kind == "exec.stage").foreach { r =>
      val s = Span(-1, "exec.stage", op, rootId, at(r.startMs), at(r.endMs))
      val parent = jobSpans.get(r.job)
        .orElse(Trace.containing(s, root +: jobSpans.values.toSeq)).getOrElse(root)
      add(Trace.clampInto(s, parent))
    }
  }

  /** Between operations: the cache reading of the layer table. */
  private def readCache(): Unit = {
    liveRddsMax = math.max(liveRddsMax, sc.getPersistentRDDs.size)
    if (a.trace) storedMbMax = math.max(storedMbMax,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  private val passes = w.passes(a.seconds)
  private val tailPct = w.tailPct(a.seconds)

  // ------------------------------------------------------ query workloads

  private lazy val queryFns = SparkEntry.queries

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Untimed passes that run what a timed pass runs, the digest check
    * included, so that the JIT has compiled all of it before the first
    * timed pass. */
  private def warmQueries(): Unit = for (_ <- 1 to w.warmPasses; q <- w.queries.sorted) {
    val df = queryFns(q)(spark, a.data)
    sink(df); Digest.of(df); spark.catalog.clearCache()
  }

  private def expected: Map[String, (Long, String)] =
    Json.parse(new String(Files.readAllBytes(Paths.get(a.expected)), "UTF-8"))
      .asInstanceOf[Map[String, Map[String, Any]]].map { case (q, m) =>
        q -> (m("rows").asInstanceOf[Double].toLong, m("digest").toString)
      }

  /** dedup_heavy: an operation is one pass, the workload's queries in a
    * seeded order, each materialised by the noop sink. Between queries,
    * untimed, the result is checked against its recorded digest, the
    * live cached RDDs are counted, and the cache is cleared. */
  private def runQueries(): Unit = {
    val want = expected
    require(w.queries.forall(want.contains),
      s"no expected digest for ${w.queries.filterNot(want.contains).mkString(", ")}")
    warmQueries()
    val rng = new scala.util.Random(a.seed)
    for (_ <- 1 to passes) {
      val order = rng.shuffle(w.queries)
      timed("pass") { s =>
        order.foreach { q =>
          val df = s.span("module.build")(queryFns(q)(spark, a.data))
          s.span("op.sink")(sink(df))
          s.untimed {
            readCache()
            val d = Digest.of(df)
            val (rows, digest) = want(q)
            if (d.rows != rows || d.hex != digest)
              s.wrong += s"$q: rows ${d.rows} digest ${d.hex}, expected rows $rows digest $digest"
            spark.catalog.clearCache()
          }
        }
      }
      spark.catalog.clearCache()
    }
  }

  /** Digests of every query of the workload, for perfbench/expected.json. */
  private def recordQueries(): Map[String, Any] = {
    warmQueries()
    w.queries.sorted.map { q =>
      val d = Digest.of(queryFns(q)(spark, a.data))
      spark.catalog.clearCache()
      q -> Map("rows" -> d.rows, "digest" -> d.hex)
    }.toMap
  }

  // ---------------------------------------------------------- sql_session

  private var registerMs = 0.0
  private var stmts = 0
  private val writeOps = mutable.Map.empty[Int, Int] // op -> rows changed
  private var stateOk = true

  private def runSession(): Unit = {
    val st = System.nanoTime()
    Meta.registerAll(spark, a.data, prefix = "")
    registerMs = (System.nanoTime() - st) / 1e6
    val gs = new GraftSession(spark)
    gs.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v BIGINT, s VARCHAR(16))")
    gs.execute("""INSERT INTO kv SELECT c_custkey, CAST(c_nationkey AS BIGINT),
                  c_mktsegment FROM customer""")
    gs.execute("SET @v = 1")
    def table(t: String, cols: String*) =
      spark.read.parquet(s"${a.data}/$t.parquet").selectExpr(cols: _*).collect()
    val init = table("customer", "c_custkey", "CAST(c_nationkey AS BIGINT)", "c_mktsegment")
      .map(r => r.getLong(0) -> KvRow(r.getLong(1), r.getString(2)))
    val regionOf = table("nation", "CAST(n_nationkey AS BIGINT)", "CAST(n_regionkey AS BIGINT)")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val model = new KvModel(init, regionOf)
    val stream = new KvStream(a.seed, 2L * init.map(_._1).max)

    def run(st: Stmt, timedOp: Boolean): Unit = {
      var rows: Array[Row] = null
      def body(s: Option[OpScope]): Unit = {
        def span[T](n: String)(f: => T): T = s.fold(f)(_.span(n)(f))
        if (st.statements > 1) span("frontend.execute")(gs.executeAll(st.sql))
        else {
          val df = span("frontend.execute")(gs.execute(st.sql))
          if (st.expected.isDefined) rows = span("op.sink")(df.collect())
        }
      }
      val op = if (timedOp) Some(timed(st.kind)(s => body(Some(s)))) else {
        body(None); None
      }
      if (op.forall(_.ok)) {
        st.effect(model)
        val got = Option(rows).map(_.toSeq.map(Digest.row).sorted)
        if (got != st.expected) {
          val why = s"${st.sql}: got ${got.getOrElse(Nil).take(5)}, expected ${st.expected.getOrElse(Nil).take(5)}"
          op.fold(throw new IllegalStateException(s"warmup statement wrong: $why"))(fail(_, why))
        }
      }
      op.foreach { o =>
        stmts += st.statements
        if (st.kind != "set" && st.expected.isEmpty) writeOps(o.id) = st.changed
        readCache()
      }
    }

    for (_ <- 1 to w.warmPasses; k <- stream.block()) run(stream.draw(k, model), timedOp = false)
    for (_ <- 1 to passes; k <- stream.block()) run(stream.draw(k, model), timedOp = true)
    sc.setLocalProperty("perfbench.phase", "check")
    val content = gs.execute("SELECT k, v, s FROM kv").collect().map(Digest.row).sorted.toSeq
    stateOk = content == model.content
    if (!stateOk) System.err.println(
      s"[perfbench] final kv state differs from the shadow: ${content.size} rows vs ${model.rows.size}")
  }

  // ------------------------------------------------------------- metrics

  def execute(): Map[String, Any] = {
    if (a.record) return recordQueries()
    if (w.name == "sql_session") runSession() else runQueries()
    val rssMb = Proc.rssPeakKb / 1024.0
    val n = ops.size
    val okOps = ops.count(_.ok)
    val failed = n - okOps + (if (stateOk) 0 else 1)
    val timedS = ops.map(_.latMs).sum / 1000.0
    val lat = ops.map(_.latMs).toSeq
    val e2e = Map(
      "ops_per_s" -> okOps / timedS,
      "latency_p50_ms" -> Stats.harrellDavis(lat, 50),
      "latency_tail_ms" -> Stats.harrellDavis(lat, tailPct),
      "cpu_s_per_op" -> ops.map(_.cpuNs).sum / 1e9 / n,
      "setup_s" -> (firstOpMs - a.launchedMs) / 1000.0)
    val layers = if (a.trace) perLayer(timedS, okOps / timedS, rssMb, failed.toDouble / n) else Map.empty
    val selfTable = if (a.trace) selfTimeTable() else Nil
    if (a.trace) Files.writeString(Paths.get(a.out + ".spans.jsonl"), spans.map { s =>
      Json.render(Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end))
    }.mkString("", "\n", "\n"))
    Map("workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> cores, "passes" -> passes,
      "attempted" -> n, "failed" -> math.min(failed, n), "state_ok" -> stateOk,
      "tail_pct" -> tailPct, "tail_beyond" -> Stats.beyond(n, tailPct),
      "end_to_end" -> e2e, "per_layer" -> layers, "self_time" -> selfTable,
      "self_sum_gap_ms" -> (if (a.trace) selfSumGapMs else 0.0),
      "ops" -> ops.map(o => Map("name" -> o.name, "ms" -> o.latMs, "ok" -> o.ok,
        "error" -> o.error)))
  }

  private lazy val selfTimes: Map[Int, Double] =
    spans.groupBy(_.op).values.flatMap(t => Trace.selfTimes(t.toSeq)).toMap

  /** Per span name: count, total and self milliseconds. */
  private def selfTimeTable(): Seq[Map[String, Any]] =
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.dur).sum).map { case (name, ss) =>
      Map("span" -> name, "count" -> ss.size, "total_ms" -> ss.map(_.dur).sum / 1e6,
        "self_ms" -> ss.map(s => selfTimes(s.id)).sum / 1e6)
    }

  /** The largest gap, over operations, between an operation's span and
    * the sum of its spans' self times (0 up to rounding). */
  private def selfSumGapMs: Double = spans.groupBy(_.op).values.map { t =>
    math.abs(t.find(_.parent == -1).get.dur - t.map(s => selfTimes(s.id)).sum) / 1e6
  }.max

  private def perLayer(timedS: Double, opsPerS: Double, rssMb: Double,
      failRatio: Double): Map[String, Double] = {
    val x = execRec.snapshot
    val p = qes.map(_._2.plan).foldLeft(PlanTotals())(_ + _)
    def named(n: String) = spans.filter(_.name == n)
    def selfMs(n: String) = named(n).map(s => selfTimes(s.id)).sum / 1e6
    val builds = named("module.build").map(_.id).toSet
    val writeQes = qes.filter { case (op, _) => writeOps.contains(op) }.map(_._2.plan)
    val changed = writeOps.values.sum
    val mb = 1e6
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    Map(
      "engine.session_s" -> sessionS,
      "tables.register_ms" -> registerMs,
      "frontend.stmts" -> stmts.toDouble,
      "frontend.self_ms" -> selfMs("frontend.execute"),
      "frontend.self_ms_per_stmt" -> ratio(selfMs("frontend.execute"), stmts),
      "module.calls" -> builds.size.toDouble,
      "module.build_ms" -> named("module.build").map(_.dur).sum / 1e6,
      "module.self_ms" -> selfMs("module.build"),
      "module.eager_qes" -> named("catalyst.qe").count(s => builds(s.parent)).toDouble,
      "catalyst.qes" -> qes.size.toDouble,
      "catalyst.qes_per_op" -> ratio(qes.size, ops.size),
      "catalyst.analysis_ms" -> qes.map(_._2.analysisMs).sum,
      "catalyst.optimization_ms" -> qes.map(_._2.optimizationMs).sum,
      "catalyst.planning_ms" -> qes.map(_._2.planningMs).sum,
      "exec.jobs" -> x("jobs"),
      "exec.stages" -> x("stages"),
      "exec.tasks" -> x("tasks"),
      "exec.task_run_s" -> x("run_ms") / 1e3,
      "exec.task_cpu_s" -> x("cpu_ns") / 1e9,
      "exec.task_gc_s" -> x("gc_ms") / 1e3,
      "exec.sched_wait_s" -> x("sched_ms") / 1e3,
      "exec.core_busy_ratio" -> x("run_ms") / 1e3 / (cores * timedS),
      "exec.input_rows" -> x("input_rows"),
      "exec.shuffle_write_mb" -> x("shuffle_write_b") / mb,
      "exec.shuffle_read_mb" -> x("shuffle_read_b") / mb,
      "exec.shuffle_fetch_wait_s" -> x("fetch_wait_ms") / 1e3,
      "exec.spill_mb" -> x("spill_b") / mb,
      "exec.task_peak_mem_mb" -> x("peak_mem_b") / mb,
      "exec.output_rows" -> x("output_rows"),
      "exec.failed_tasks" -> x("failed_tasks"),
      "plan.scan_rows" -> p.scanRows.toDouble,
      "plan.scan_files" -> p.scanFiles.toDouble,
      "plan.filter_keep_ratio" -> ratio(p.filterOut, p.filterIn),
      "plan.join_rows_out" -> p.joinRows.toDouble,
      "plan.agg_rows_out" -> p.aggRows.toDouble,
      "plan.sort_ms" -> p.sortMs,
      "plan.agg_ms" -> p.aggMs,
      "plan.broadcasts" -> p.broadcasts.toDouble,
      "cache.live_rdds_after_op" -> liveRddsMax.toDouble,
      "cache.stored_mb_peak" -> storedMbMax,
      "write.rows_per_changed_row" -> ratio(writeQes.map(_.writeRows).sum, changed),
      "write.mb_per_stmt" -> ratio(writeQes.map(_.writeBytes).sum / mb, writeOps.size),
      "jvm.gc_s" -> ops.map(_.gcMs).sum / 1e3,
      "jvm.alloc_mb" -> ops.map(_.allocB).sum / mb,
      "jvm.heap_after_gc_mb" -> Proc.heapAfterGcBytes / mb,
      "jvm.rss_peak_mb" -> rssMb,
      "span.op.self_ms" -> selfMs("op"),
      "span.catalyst.qe.self_ms" -> selfMs("catalyst.qe"),
      "span.exec.job.self_ms" -> selfMs("exec.job"),
      "span.exec.stage.self_ms" -> selfMs("exec.stage"),
      "span.op.sink.self_ms" -> selfMs("op.sink"),
      "trace.ops_per_s" -> opsPerS,
      "fail_ratio" -> failRatio)
  }
}
