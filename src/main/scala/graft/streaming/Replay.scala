package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The file-replay harness behind every [[StreamParity]] query: a batch
  * table replayed through the REAL file-stream source, one micro-batch
  * per staged file. A query states only its input, its streaming body
  * and how it reads the result back; one instance owns one run's temp
  * directories and memory-sink views.
  *
  *  - '''Staging''' ([[stage]], [[stageFrames]], [[link]]): a frame
  *    written as N files in range order, or M frames one file each, with
  *    modification times ascending in replay order — the file source
  *    lists new files by mtime, so maxFilesPerTrigger=1 replays them in
  *    that order.
  *  - '''Sentinel''' ([[sentinel]]): the end-of-stream flush. The
  *    reference emits `MAX_WATERMARK` when a stream ends so every open
  *    window closes
  *    (`rlink/src/runtime/worker/runnable/watermark_assigner_runnable.rs:125-128`);
  *    Spark's append mode has no termination flush, so a one-row file
  *    one hour past the last real event, carrying the newest mtime,
  *    pushes the watermark past every real window and the engine's
  *    no-data batch emits them (`processAllAvailable` blocks until that
  *    quiesces). Callers filter the sentinel's impossible key out.
  *  - '''Run''' ([[memory]], [[foreachBatch]], [[noop]]): shuffle
  *    partitions pinned to [[Replay.statePartitions]] (plus the RocksDB
  *    state store where asked) from start to stop, then
  *    `processAllAvailable`, optional plan capture, `stop`.
  *  - '''Read-back and cleanup''' ([[Replay.apply]]): the body's result
  *    is materialized with `localCheckpoint`, so it outlives the temp
  *    dirs; then every dir is deleted and every memory-sink view dropped
  *    — also when the body throws.
  */
final class Replay private (spark: SparkSession, name: String) {
  private[streaming] val dirs = ArrayBuffer.empty[String]
  private[streaming] val views = ArrayBuffer.empty[String]
  private val t0 = System.currentTimeMillis() - 3600L * 1000 // staged mtimes

  /** A fresh temp directory owned by this run. */
  def dir(tag: String): String = {
    val d = Files.createTempDirectory(s"${name}_$tag").toString
    dirs += d
    d
  }

  /** The raw events table, `ts` in its on-disk type (nanos testdata
    * generations need the legacy conf to read at all). */
  def events(sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet")
  }

  /** `df` as `files` parquet files, range-partitioned and sorted on
    * `orderBy` (round-robin when empty), mtimes ascending in file order. */
  def stage(df: DataFrame, orderBy: String = "",
      files: Int = StreamParity.ReplayFiles): String = {
    val d = dir("in")
    val parts =
      if (orderBy.isEmpty) df.repartition(files)
      else df.repartitionByRange(files, col(orderBy)).sortWithinPartitions(orderBy)
    parts.write.mode("overwrite").parquet(d)
    Replay.dataFiles(d).zipWithIndex.foreach { case (p, i) => touch(p.toString, i) }
    d
  }

  /** Each frame as one file, replayed in the given order. */
  def stageFrames(frames: DataFrame*): String = {
    val d = dir("in")
    frames.zipWithIndex.foreach { case (f, i) =>
      touch(copyIn(f, d, f"f$i%02d.parquet"), i) }
    d
  }

  /** A stream dir holding a symlink to `table`, replayed in place. */
  def link(table: String): String = {
    val d = dir("in")
    val src = Paths.get(table)
    Files.createSymbolicLink(Paths.get(d).resolve(src.getFileName), src)
    d
  }

  /** Append the flush row to `dir`: `raw`'s schema, `ts` one hour past
    * raw's last event in ts's storage type, `overrides` by column name,
    * every other column null — written last, with the newest mtime. */
  def sentinel(dir: String, raw: DataFrame, overrides: (String, Any)*): Unit = {
    val last = Replay.dataFiles(dir).map(p => new java.io.File(p.toString).lastModified).max
    val values = overrides.toMap + ("ts" -> StreamParity.sentinelTsPlus1h(raw))
    val row = Row.fromSeq(raw.schema.fieldNames.toSeq.map(values.getOrElse(_, null)))
    val f = copyIn(spark.createDataFrame(java.util.List.of(row), raw.schema),
      dir, "zz_sentinel.parquet")
    require(new java.io.File(f).setLastModified(last + Replay.MtimeStepMs))
  }

  /** The file stream over a staged dir, `perTrigger` files per batch. */
  def source(dir: String, schema: StructType, perTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger.toLong).parquet(dir)

  /** A [[StampedLedger]] rooted in a dir owned by this run. */
  def ledger(): StampedLedger = new StampedLedger(dir("ledger"))

  /** The ledger's final snapshot; a stream that folded nothing fails. */
  def read(ledger: StampedLedger): DataFrame =
    spark.read.parquet(ledger.previousPath.getOrElse(
      sys.error(s"$name: no ledger written")))

  /** Run `stream` into a memory sink; the returned frame reads the sink
    * and must be consumed inside the run (the view is dropped at exit). */
  def memory(stream: Dataset[_], mode: String = "append",
      rocksDB: Boolean = false): DataFrame = {
    val table = s"${name}_${Replay.runId.incrementAndGet()}"
    views += table
    run(stream, mode, rocksDB, "")(_.format("memory").queryName(table))
    spark.table(table)
  }

  /** Run `stream` through `f` per micro-batch (append mode). */
  def foreachBatch(stream: Dataset[_], plan: String = "")
      (f: (DataFrame, Long) => Unit): Unit =
    run(stream, "append", rocksDB = false, plan)(_.foreachBatch(f))

  /** Run `stream` into the noop sink (for its side channels). */
  def noop(stream: Dataset[_], plan: String = ""): Unit =
    run(stream, "append", rocksDB = false, plan)(_.format("noop"))

  /** Start through stop under the partition pin; `plan` names the
    * captured micro-batch plan (see [[StreamParity.dumpStreamPlan]]). */
  private def run(stream: Dataset[_], mode: String, rocksDB: Boolean,
      plan: String)(sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    Replay.pinned(spark, rocksDB) {
      val query = sink(stream.toDF().writeStream.outputMode(mode)).start()
      try {
        query.processAllAvailable()
        if (plan.nonEmpty) StreamParity.dumpStreamPlan(plan, query)
      } finally query.stop()
    }

  /** `df` as the single file `dir/fileName`; returns its path. */
  private def copyIn(df: DataFrame, dir: String, fileName: String): String = {
    val tmp = this.dir("tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dst = Paths.get(dir).resolve(fileName)
    Replay.dataFiles(tmp).foreach(Files.copy(_, dst))
    dst.toString
  }

  private def touch(path: String, i: Int): Unit =
    require(new java.io.File(path).setLastModified(t0 + i * Replay.MtimeStepMs))

  private[streaming] def cleanup(): Unit = {
    views.foreach(spark.catalog.dropTempView)
    dirs.foreach(StampedLedger.deleteTree)
    views.clear(); dirs.clear()
  }
}

object Replay {
  private val runId = new AtomicInteger(0)
  private val MtimeStepMs = 10000L

  /** Run `body` with a fresh harness; its result is materialized before
    * every dir and view the run created goes — also when `body` throws. */
  def apply(spark: SparkSession, name: String)(body: Replay => DataFrame): DataFrame = {
    val r = new Replay(spark, name)
    try body(r).localCheckpoint(true)
    finally r.cleanup()
  }

  /** A harness whose dirs outlive the run and go at JVM exit — for
    * replay inputs shared across queries. The hook runs before Hadoop
    * closes its cached FileSystems. */
  private[streaming] def untilExit(spark: SparkSession, name: String): Replay = {
    val r = new Replay(spark, name)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => r.cleanup(), org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)
    r
  }

  /** Shuffle partitions for a replayed stream, and for the caches it
    * joins: min(8, session). Stateful queries pay a per-partition
    * state-store commit every micro-batch (a stream-stream join opens
    * four stores per partition per trigger) and foreachBatch bodies pay
    * per-task scheduling on every per-batch exchange, while the
    * state/batch volume here is KB-scale — partitions are sized to state
    * volume, not core count (measured 6.2 -> 4.6 s warm per q82/q83 at
    * sf0.1 going 16 -> 8). Below 8 the session's own count wins, so a
    * lower-core run stays meaningful and a cache laid out at this count
    * matches the stream that probes it. */
  def statePartitions(spark: SparkSession): Int =
    math.min(8, spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Part files of a written dir in name (= partition) order. */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(dir)) // closed: an open listing pins an fd
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  /** `body` with shuffle partitions at [[statePartitions]] and, if
    * `rocksDB`, the RocksDB state store (state off-heap/on-disk per
    * executor — the scale backend); the session's values are restored
    * after. A stream snapshots its session conf at start. */
  private def pinned[T](spark: SparkSession, rocksDB: Boolean)(body: => T): T = {
    val pins = Seq("spark.sql.shuffle.partitions" -> statePartitions(spark).toString) ++
      (if (rocksDB) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil)
    val prev = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
