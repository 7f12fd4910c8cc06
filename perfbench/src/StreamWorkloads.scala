package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** What one stream measurement saw, checked against the reference fold. */
final case class StreamRun(rows: Seq[WinRow], checked: Int, failed: Int,
    problems: Seq[String], wallMs: Double, events: Long, query: StreamingQuery)

object StreamCheck {
  final case class Reference(windows: Map[(Long, Int), WinAgg], maxTs: Long)

  def reference(events: () => Iterator[Event]): Reference =
    Reference(WindowFold.fold(events()), events().map(_.eventMs).max)

  /** Compares `rows` with the reference fold: every window that ends at
    * or before the latest emitted end must match exactly, and emission
    * must have reached to within a few windows of the final watermark. */
  def check(rows: Seq[WinRow], ref: Reference, delayMs: Long,
      withPct: Boolean): (Int, Int, Seq[String]) = {
    val want = if (withPct) ref.windows
      else ref.windows.map { case (k, a) => k -> a.copy(pct = Double.NaN) }
    val cmp = rows.map(r => if (withPct) r else r.copy(pct = Double.NaN))
    val (n, bad, msgs) = WindowFold.compare(cmp, want, WindowJob.emittedEnd(rows))
    val lagging = WindowJob.emittedEnd(rows) < ref.maxTs - delayMs - 4 * WindowFold.SizeMs
    if (lagging) (n + 1, bad + 1, msgs :+ "emission stopped short of the final watermark")
    else (n, bad, msgs)
  }
}

/** Open-loop keyed sliding-window aggregation: events arrive at a fixed
  * rate whatever the engine does, and latency runs from the moment a
  * window could first close to the moment the sink receives its row. */
object StreamWindow {
  val DelayMs = 5000L
  /** Windows closing in the first seconds are left out: trigger times
    * fall for about this long while the JIT compiles the micro-batch path. */
  val SettleSec = 10
  def config(seed: Long): GenConfig = GenConfig(seed, keys = 1000, zipfS = 1.1,
    ratePerSec = 20000, filePeriodMs = 100, timeFactor = 100,
    watermarkDelayMs = DelayMs, maxJitterMs = 4000)

  final case class Measured(run: StreamRun, latMs: Seq[Double], eps: Double,
      gen: OpenLoopWriter)

  def measure(ctx: Ctx, spark: SparkSession, src: EventSource, tag: String): Measured = {
    val in = ctx.dir(s"window_in_$tag")
    SinkBuffer.reset()
    val q = WindowJob.start(spark, in, ctx.work.resolve(s"cp_window_$tag"), DelayMs,
      Trigger.ProcessingTime(0L), None, withPct = true)
    val gen = new OpenLoopWriter(src, in, ctx.dir(s"window_tmp_$tag"))
    gen.start()
    gen.stopAfter((SettleSec + ctx.seconds) * 1000L)
    q.processAllAvailable()
    val wallMs = (System.nanoTime() - gen.startNanos) / 1e6
    q.stop()
    val rows = SinkBuffer.drain()
    val files = 0 until gen.filesWritten
    def events() = files.iterator.flatMap(src.file)
    val (n, bad, msgs) = StreamCheck.check(rows, StreamCheck.reference(() => events()),
      DelayMs, withPct = true)
    val close = WindowFold.closeDue(events(), DelayMs)
    val lat = rows.flatMap { r =>
      close.get(r.startMs + WindowFold.SizeMs).filter(_ >= SettleSec * 1000L)
        .map(due => (r.atNanos - gen.startNanos) / 1e6 - due)
    }
    val nEvents = files.size.toLong * src.cfg.eventsPerFile
    val backlogOk = gen.backlogMax <= 5L * src.cfg.eventsPerFile
    val run = StreamRun(rows, n + 1, bad + (if (backlogOk) 0 else 1),
      msgs ++ (if (backlogOk) Nil else Seq(s"generator backlog reached ${gen.backlogMax} events")),
      wallMs, nEvents, q)
    Measured(run, lat, nEvents / (wallMs / 1000), gen)
  }

  def run(ctx: Ctx): Outcome = {
    val src = new EventSource(config(ctx.seed))
    val warm = ctx.dir("window_warm")
    (0 until 20).foreach(f => src.write(warm, f, ctx.dir("window_warm_tmp")))
    var rep = 0
    val (spark, setupS, setups) = Main.setup(ctx, Main.SetupReps) { s =>
      rep += 1
      WindowJob.start(s, warm, ctx.work.resolve(s"cp_warm_$rep"), DelayMs,
        Trigger.AvailableNow(), None, withPct = true).awaitTermination()
    }
    val m = measure(ctx, spark, src, "main")
    val tailP = 99.0
    val p50 = Stats.pct(m.latMs, 50)
    val heap = Jvm.retainedMb
    val report = Seq(
      "setup_s" -> f"$setupS%.3f s (median of ${Main.fmt(setups)})",
      "latency_p50_ms" -> f"$p50%.1f ms (n=${m.latMs.size}; gated as latency_ms)",
      "latency_p99_ms" -> f"${Stats.pct(m.latMs, tailP)}%.1f ms (n=${m.latMs.size})",
      "events_per_s" -> f"${m.eps}%.1f 1/s (open loop at ${src.cfg.ratePerSec}/s)",
      "retained_heap_mb" -> f"$heap%.1f MB") ++ naRows
    val e2e = Seq(("setup_s", setupS, "s"), ("latency_ms", p50, "ms"),
      ("retained_heap_mb", heap, "MB"))
    var checked = m.run.checked
    var failed = m.run.failed
    val problems = collection.mutable.ArrayBuffer.from(m.run.problems)
    val layers = if (!ctx.trace) Nil else {
      val t = new Tracer(spark.sparkContext)
      t.attach(spark)
      val base = Layers.jvmBase()
      val tm = measure(ctx, spark, src, "traced")
      t.detach(spark)
      val ps = Layers.progressOf(t, Set(tm.run.query.runId))
      val trig = Layers.triggerSpans(t, ps)
      t.write(ctx.out.resolve("spans_stream_window.jsonl"))
      val sink = Map("sink.write_ms" -> SinkBuffer.writeNanos.sum / 1e6,
        "sink.rows" -> tm.run.rows.size.toDouble)
      val jvm = Layers.jvm(base)
      val d = StreamDrain.measure(ctx, spark)
      checked += tm.run.checked + d.checked
      failed += tm.run.failed + d.failed
      problems ++= tm.run.problems ++ d.problems
      Layers.complete(Layers.spark(t, trig, tm.run.wallMs, ctx.nproc) ++
        Layers.streaming(ps) ++ jvm ++ genLayers(tm.gen) ++ sink ++ d.metrics ++
        Layers.latency(m.latMs, tailP) ++ Map(
          "trace.overhead_ratio" -> Stats.pct(tm.latMs, 50) / p50))
    }
    Outcome(e2e, layers, checked, failed, report, problems.toSeq)
  }

  def genLayers(g: OpenLoopWriter): Map[String, Double] = Map(
    "gen.lag_ms_p99" -> Stats.pct(g.lagsMs.asScala.map(_.doubleValue).toSeq, 99),
    "gen.backlog_max_events" -> g.backlogMax.toDouble,
    "gen.events" -> g.filesWritten.toDouble * g.eventsPerFile)

  val naRows: Seq[(String, String)] =
    Seq("drain_eps" -> "measured by a traced run (per-layer drain.eps)") ++
      Seq("queries_per_s", "query_p50_ms", "query_p95_ms", "wall_s").map(_ -> "n/a on this workload")
}

/** The same job draining a fixed seeded backlog with AvailableNow, where
  * per-row parse, aggregate, percentile and state work set the rate. */
object StreamDrain {
  import StreamWindow.DelayMs
  val MaxFilesPerTrigger = 8
  /** Backlog of each drain: four triggers of 40,000 events. */
  val SmallFiles = 32
  /** Leading triggers of a drain left out of its steady rate. */
  val SkipTriggers = 2
  /** Reference folds by backlog size; every drain of one run reads the
    * same seeded files. */
  private val refs = collection.mutable.Map.empty[Int, StreamCheck.Reference]
  def config(seed: Long): GenConfig = GenConfig(seed, keys = 1000, zipfS = 1.1,
    ratePerSec = 100000, filePeriodMs = 50, timeFactor = 80,
    watermarkDelayMs = DelayMs, maxJitterMs = 4000)

  final case class Drain(run: StreamRun, triggers: Seq[StreamingQueryProgress]) {
    def data: Seq[StreamingQueryProgress] = triggers.filter(_.numInputRows > 0)
    /** Median rows per second of trigger time once the drain has settled:
      * query start and the first triggers (plan, codegen) are left out. */
    def steadyEps: Double = Stats.median(data.drop(SkipTriggers)
      .map(p => p.numInputRows * 1000.0 / p.durationMs.get("triggerExecution").toDouble))
  }

  def drain(ctx: Ctx, spark: SparkSession, src: EventSource, in: Path, files: Int,
      tag: String, withPct: Boolean = true): Drain = {
    SinkBuffer.reset()
    val t0 = System.nanoTime()
    val q = WindowJob.start(spark, in, ctx.work.resolve(s"cp_drain_$tag"), DelayMs,
      Trigger.AvailableNow(), Some(MaxFilesPerTrigger), withPct)
    q.awaitTermination()
    val wallMs = (System.nanoTime() - t0) / 1e6
    val rows = SinkBuffer.drain()
    val ref = refs.getOrElseUpdate(files,
      StreamCheck.reference(() => (0 until files).iterator.flatMap(src.file)))
    val (n, bad, msgs) = StreamCheck.check(rows, ref, DelayMs, withPct)
    Drain(StreamRun(rows, n, bad, msgs, wallMs, files.toLong * src.cfg.eventsPerFile, q),
      q.recentProgress.toSeq)
  }

  def input(ctx: Ctx, src: EventSource, name: String, files: Int): Path = {
    val dir = ctx.dir(name)
    (0 until files).foreach(f => src.write(dir, f, ctx.dir(s"${name}_tmp")))
    dir
  }

  final case class Result(metrics: Map[String, Double], checked: Int, failed: Int,
      problems: Seq[String])

  /** Drain measurements of a traced stream_window run: the rate at volume
    * and its state-store work, the same drain without `Agg.Pct`, and at
    * `local[1]`. Each measured drain follows a warm one. Stops `spark`. */
  def measure(ctx: Ctx, spark: SparkSession): Result = {
    val src = new EventSource(config(ctx.seed))
    val small = input(ctx, src, "drain_small", SmallFiles)
    val warm = input(ctx, src, "drain_warm", MaxFilesPerTrigger)
    drain(ctx, spark, src, small, SmallFiles, "settle")
    val withPct = drain(ctx, spark, src, small, SmallFiles, "pct")
    drain(ctx, spark, src, small, SmallFiles, "nopct_warm", withPct = false)
    val noPct = drain(ctx, spark, src, small, SmallFiles, "nopct", withPct = false)
    spark.stop()
    val one = ctx.session("local[1]")
    drain(ctx, one, src, warm, MaxFilesPerTrigger, "narrow_warm")
    val narrow = drain(ctx, one, src, small, SmallFiles, "narrow")
    one.stop()
    val st = Layers.streaming(withPct.triggers)
    val runs = Seq(withPct, noPct, narrow).map(_.run)
    Result(Map(
      "drain.eps" -> withPct.steadyEps,
      "drain.rows_per_trigger" -> st("streaming.rows_per_trigger"),
      "drain.add_batch_ms" -> st("streaming.add_batch_ms"),
      "drain.state_commit_ms" -> st("state.commit_ms"),
      "drain.state_update_ms" -> st("state.update_ms"),
      "functions.pct_share" -> (1 - withPct.steadyEps / noPct.steadyEps),
      "spark.exec.parallel_speedup" -> withPct.steadyEps / narrow.steadyEps),
      runs.map(_.checked).sum, runs.map(_.failed).sum, runs.flatMap(_.problems))
  }
}
