package perfbench

import scala.collection.mutable
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics derived from a [[Tracer]]'s spans, stage sums and
  * progress events. Every traced run reports the full list; a layer the
  * workload does not exercise reads 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "functions.pct_share" -> "ratio",
    "tables.bytes_read" -> "bytes", "tables.rows_read" -> "count",
    "spark.plan.analysis_ms" -> "ms", "spark.plan.optimizer_ms" -> "ms",
    "spark.plan.physical_ms" -> "ms",
    "spark.sched.jobs" -> "count", "spark.sched.stages" -> "count",
    "spark.sched.tasks" -> "count", "spark.sched.delay_ms" -> "ms",
    "spark.sched.driver_ms" -> "ms",
    "spark.exec.run_ms" -> "ms", "spark.exec.cpu_ms" -> "ms", "spark.exec.gc_ms" -> "ms",
    "spark.exec.deser_ms" -> "ms", "spark.exec.busy_share" -> "ratio",
    "spark.exec.parallel_speedup" -> "ratio",
    "spark.shuffle.write_bytes" -> "bytes", "spark.shuffle.read_bytes" -> "bytes",
    "spark.shuffle.fetch_wait_ms" -> "ms", "spark.shuffle.write_ms" -> "ms",
    "spark.shuffle.spill_bytes" -> "bytes", "spark.shuffle.skew" -> "ratio",
    "streaming.triggers" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_ms_p99" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.rows_per_trigger" -> "count", "streaming.empty_trigger_share" -> "ratio",
    "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.rows_removed" -> "count", "state.commit_ms" -> "ms", "state.update_ms" -> "ms",
    "state.memory_bytes" -> "bytes", "state.dropped_rows" -> "count",
    "sink.write_ms" -> "ms", "sink.rows" -> "count",
    "drain.eps" -> "1/s", "drain.rows_per_trigger" -> "count", "drain.add_batch_ms" -> "ms",
    "drain.state_commit_ms" -> "ms", "drain.state_update_ms" -> "ms",
    "gen.lag_ms_p99" -> "ms", "gen.backlog_max_events" -> "count", "gen.events" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "untraced.latency_p50_ms" -> "ms", "untraced.latency_tail_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio", "trace.self_time_error_ms" -> "ms",
    "trace.count_drift_keys" -> "count")

  /** The full list in a fixed order, 0 where `m` has no value. */
  def complete(m: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = m.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
    Units.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
  }

  def subtree(root: Span, spans: Seq[Span]): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = Seq(root)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
      out ++= frontier
    }
    out.toSeq
  }

  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[Span], lo: Double, hi: Double): Double = {
    var end = lo; var total = 0.0
    xs.map(s => (math.max(s.startMs, lo), math.min(s.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Scheduler, executor, shuffle, table and planning metrics of the jobs
    * under `roots` (query or trigger spans). */
  def spark(t: Tracer, roots: Seq[Span], wallMs: Double, nproc: Int): Map[String, Double] = {
    val spans = t.resolved
    val trees = roots.map(r => r -> subtree(r, spans))
    val jobs = trees.flatMap(_._2).filter(_.kind == "job")
    val aggs = t.stageAggs(jobs.map(_.id).toSet, spans)
    def sum(f: StageAgg => Double) = aggs.map(f).sum
    val skew = aggs.filter(_.taskReads.size >= 2).flatMap { a =>
      val med = Stats.median(a.taskReads.map(_.toDouble).toSeq)
      if (med > 0) Some(a.taskReads.max / med) else None
    }
    val phases = t.phases.synchronized(t.phases.toList).filter { case (_, a, b) =>
      roots.exists(r => a >= r.startMs - 1 && b <= r.endMs + 1)
    }
    def phase(n: String) = phases.filter(_._1 == n).map(p => p._3 - p._2).sum
    val selfError = trees.map { case (r, sub) =>
      math.abs(Spans.selfTimes(r, r +: sub).values.sum - r.ms)
    }
    val runMs = sum(_.runMs)
    Map(
      "spark.sched.jobs" -> jobs.size.toDouble,
      "spark.sched.stages" -> aggs.size.toDouble,
      "spark.sched.tasks" -> sum(_.tasks.toDouble),
      "spark.sched.delay_ms" -> sum(_.delayMs),
      "spark.sched.driver_ms" -> trees.map { case (r, sub) =>
        r.ms - covered(sub.filter(_.kind == "job"), r.startMs, r.endMs) }.sum,
      "spark.exec.run_ms" -> runMs,
      "spark.exec.cpu_ms" -> sum(_.cpuMs),
      "spark.exec.gc_ms" -> sum(_.gcMs),
      "spark.exec.deser_ms" -> sum(_.deserMs),
      "spark.exec.busy_share" -> runMs / (wallMs * nproc),
      "spark.shuffle.write_bytes" -> sum(_.shWriteBytes.toDouble),
      "spark.shuffle.read_bytes" -> sum(_.shReadBytes.toDouble),
      "spark.shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "spark.shuffle.write_ms" -> sum(_.shWriteMs),
      "spark.shuffle.spill_bytes" -> sum(_.spillBytes.toDouble),
      "spark.shuffle.skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "tables.bytes_read" -> sum(_.bytesRead.toDouble),
      "tables.rows_read" -> sum(_.rowsRead.toDouble),
      "spark.plan.analysis_ms" -> phase("analysis"),
      "spark.plan.optimizer_ms" -> phase("optimization"),
      "spark.plan.physical_ms" -> phase("planning"),
      "trace.self_time_error_ms" -> (if (selfError.isEmpty) 0.0 else selfError.max))
  }

  /** Micro-batch loop and state-store metrics of the given progress. */
  def streaming(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val trig = ps.map(d(_, "triggerExecution"))
    val data = ps.filter(_.numInputRows > 0)
    val ops = ps.map(_.stateOperators.toSeq)
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ops.map(_.map(f).sum)
    Map(
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.trigger_ms_p50" -> (if (trig.isEmpty) 0.0 else Stats.pct(trig, 50)),
      "streaming.trigger_ms_p99" -> (if (trig.isEmpty) 0.0 else Stats.pct(trig, 99)),
      "streaming.latest_offset_ms" -> ps.map(d(_, "latestOffset")).sum,
      "streaming.planning_ms" -> ps.map(d(_, "queryPlanning")).sum,
      "streaming.add_batch_ms" -> ps.map(d(_, "addBatch")).sum,
      "streaming.wal_ms" -> ps.map(d(_, "walCommit")).sum,
      "streaming.commit_ms" -> ps.map(d(_, "commitOffsets")).sum,
      "streaming.rows_per_trigger" ->
        (if (data.isEmpty) 0.0 else data.map(_.numInputRows.toDouble).sum / data.size),
      "streaming.empty_trigger_share" ->
        (if (ps.isEmpty) 0.0 else (ps.size - data.size).toDouble / ps.size),
      "state.rows_total" -> st(_.numRowsTotal.toDouble).lastOption.getOrElse(0.0),
      "state.rows_updated" -> st(_.numRowsUpdated.toDouble).sum,
      "state.rows_removed" -> st(_.numRowsRemoved.toDouble).sum,
      "state.commit_ms" -> st(_.commitTimeMs.toDouble).sum,
      "state.update_ms" -> st(_.allUpdatesTimeMs.toDouble).sum,
      "state.memory_bytes" -> st(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max),
      "state.dropped_rows" -> st(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  /** The untraced half's operation latency: its median, and a tail that
    * is too noisy run to run to gate on. */
  def latency(samples: Seq[Double], tailP: Double): Map[String, Double] = Map(
    "untraced.latency_p50_ms" -> Stats.pct(samples, 50),
    "untraced.latency_tail_ms" -> Stats.pct(samples, tailP))

  /** JVM counters as deltas from `base` (gc, jit) plus the heap peak. */
  def jvm(base: (Double, Double)): Map[String, Double] = Map(
    "jvm.gc_ms" -> (Jvm.gcMs - base._1),
    "jvm.jit_ms" -> (Jvm.jitMs - base._2),
    "jvm.heap_peak_mb" -> Jvm.heapPeakMb)

  def jvmBase(): (Double, Double) = { Jvm.resetPeaks(); (Jvm.gcMs, Jvm.jitMs) }

  /** Progress events of `t` for the given query run ids. */
  def progressOf(t: Tracer, runIds: Set[java.util.UUID]): Seq[StreamingQueryProgress] =
    t.progress.synchronized(t.progress.toList).map(_.progress).filter(p => runIds(p.runId))

  def triggerSpans(t: Tracer, ps: Seq[StreamingQueryProgress]): Seq[Span] = {
    val names = ps.map(p => s"${p.id}/${p.batchId}").toSet
    t.resolved.filter(s => s.kind == "trigger" && names(s.name))
  }
}
