package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `startMs`/`endMs` are epoch milliseconds with a
  * fractional part, the clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

object Spans {
  /** Self time of every span in the tree under `root`: each instant of
    * the root's interval goes to the deepest span active at that instant
    * (the latest-started one among equally deep siblings), so the self
    * times of a tree always sum to the root's duration. */
  def selfTimes(root: Span, all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    val depth = mutable.Map(root.id -> 0)
    val tree = mutable.ArrayBuffer(root)
    var frontier = Seq(root)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap { p =>
        val cs = kids.getOrElse(p.id, Nil)
        cs.foreach { c => depth(c.id) = depth(p.id) + 1; tree += c }
        cs
      }
    }
    def clip(x: Double) = math.min(math.max(x, root.startMs), root.endMs)
    val cuts: Seq[Double] = tree.toSeq.flatMap(s => Seq(clip(s.startMs), clip(s.endMs))).distinct.sorted
    val self = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val owner = tree.filter(s => s.startMs <= mid && mid < s.endMs)
        .maxBy(s => (depth(s.id), s.startMs))
      self(owner.id) += b - a
    }
    tree.map(s => s.id -> self(s.id)).toMap
  }
}

/** Per-stage task sums. */
final class StageAgg {
  var tasks = 0L; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
  var deserMs = 0.0; var delayMs = 0.0
  var shWriteBytes = 0L; var shWriteMs = 0.0; var shReadBytes = 0L
  var fetchWaitMs = 0.0; var spillBytes = 0L; var bytesRead = 0L; var rowsRead = 0L
  val taskReads = mutable.ArrayBuffer.empty[Long]
}

/** In-memory trace of one run, fed by Spark's public listeners.
  *
  * The benchmark opens a span around each call into the library and sets
  * its id as the local property [[SpanProp]] before the call, so every job
  * the call launches names its parent. Micro-batch jobs carry Spark's own
  * `streaming.sql.batchId` property and join the trigger span of that
  * batch. Nothing is written until [[write]] at the end of the run. */
final class Tracer(sc: SparkContext) {
  val SpanProp = "perfbench.span"
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobStart = mutable.Map.empty[Int, (Double, Long, String)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageStart = mutable.Map.empty[Int, Double]
  val stages = mutable.LinkedHashMap.empty[Long, StageAgg] // stage span id -> sums
  private val stageSpanId = mutable.Map.empty[(Int, Int), Long]
  /** (phase, startMs, endMs) of every executed QueryExecution. */
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  /** Micro-batch progress, in arrival order. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val triggerSpan = mutable.Map.empty[(String, Long), Long]

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Runs `body` as a span under `parent`; jobs it launches join it.
    * `body` receives the new span's id, to parent spans of its own. */
  def span[T](kind: String, name: String, parent: Long = 0L)(body: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = nowMs
    try {
      val r = body(id)
      val s = Span(id, parent, kind, name, t0, nowMs)
      add(s); (r, s)
    } finally sc.setLocalProperty(SpanProp, prev)
  }

  val sparkListener: SparkListener = new SparkListener {
    private val jobIds = mutable.Map.empty[Int, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      val query = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val id = ids.incrementAndGet()
      val link = (batch, query) match {
        case (Some(b), Some(q)) => s"$q/$b"
        case _ => ""
      }
      jobStart(e.jobId) = (e.time.toDouble, if (link.nonEmpty) -1L else parent, link)
      e.stageIds.foreach(s => stageJob(s) = id)
      jobIds(e.jobId) = id
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent, link) =>
        val id = jobIds.remove(e.jobId).get
        add(Span(id, parent, "job", link, t0, e.time.toDouble))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      stageStart(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
      val id = ids.incrementAndGet()
      stageSpanId((si.stageId, si.attemptNumber())) = id
      stages(id) = new StageAgg
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stageSpanId.get((si.stageId, si.attemptNumber())).foreach { id =>
        add(Span(id, stageJob.getOrElse(si.stageId, 0L), "stage", s"stage ${si.stageId}",
          stageStart.getOrElse(si.stageId, 0.0),
          si.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpanId.get((e.stageId, e.stageAttemptId)).foreach { id =>
        val a = stages(id)
        val info = e.taskInfo
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shWriteMs += m.shuffleWriteMetrics.writeTime / 1e6
        val read = m.shuffleReadMetrics.totalBytesRead
        a.shReadBytes += read
        a.taskReads += read
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.rowsRead += m.inputMetrics.recordsRead
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        progress += e
        val p = e.progress
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
        val id = ids.incrementAndGet()
        triggerSpan((p.id.toString, p.batchId)) = id
        add(Span(id, 0L, "trigger", s"${p.id}/${p.batchId}", t0, t0 + d))
      }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** All spans, with micro-batch jobs re-parented onto their trigger. */
  def resolved: Seq[Span] = {
    val trig = progress.synchronized(triggerSpan.toMap)
    all.map {
      case s if s.kind == "job" && s.parent == -1L =>
        val Array(q, b) = s.name.split('/')
        s.copy(parent = trig.getOrElse((q, b.toLong), 0L))
      case s => s
    }
  }

  /** Spans of `kind` under any of `parents`. */
  def children(of: Set[Long], kind: String, spans: Seq[Span] = resolved): Seq[Span] =
    spans.filter(s => s.kind == kind && of(s.parent))

  /** Stage sums of the stages below the given job spans. */
  def stageAggs(jobs: Set[Long], spans: Seq[Span] = resolved): Seq[StageAgg] =
    children(jobs, "stage", spans).flatMap(s => stages.get(s.id))

  def write(path: java.nio.file.Path): Unit = {
    val lines = resolved.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
