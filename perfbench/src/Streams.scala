package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.api

/** Receipt side of the stream workloads: every row the sink is handed,
  * stamped with the moment it arrived. Executors share the driver's JVM in
  * local mode, so the rows land in one process-wide buffer. */
object SinkBuffer {
  val rows = new ConcurrentLinkedQueue[WinRow]()
  val writeNanos = new LongAdder
  def reset(): Unit = { rows.clear(); writeNanos.reset() }
  def drain(): Seq[WinRow] = rows.asScala.toSeq
}

final class RecordingWriter extends ForeachWriter[Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(r: Row): Unit = {
    val t0 = System.nanoTime()
    val w = r.getStruct(0)
    SinkBuffer.rows.add(WinRow(w.getTimestamp(0).getTime, r.getInt(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getLong(5),
      if (r.length > 6) r.getDouble(6) else Double.NaN, t0))
    SinkBuffer.writeNanos.add(System.nanoTime() - t0)
  }
  override def close(errorOrNull: Throwable): Unit = ()
}

/** The flagship keyed sliding-window job, built through graft's
  * DataStream API over a CSV file stream. */
object WindowJob {
  def aggs(withPct: Boolean): Seq[api.Agg] =
    Seq(api.Agg.Sum("value"), api.Agg.Max("value"), api.Agg.Min("value"), api.Agg.Count()) ++
      (if (withPct) Seq(api.Agg.Pct("value", WindowFold.scale, WindowFold.PctLevel)) else Nil)

  def start(spark: SparkSession, input: Path, checkpoint: Path, delayMs: Long,
      trigger: Trigger, maxFilesPerTrigger: Option[Int], withPct: Boolean): StreamingQuery = {
    val reader = spark.readStream.schema(EventSource.SchemaDDL)
    val src = maxFilesPerTrigger.fold(reader)(m => reader.option("maxFilesPerTrigger", m.toLong))
      .csv(input.toString)
    api.StreamExecutionEnvironment(spark).fromDataFrame(src)
      .assignTimestampsAndWatermarks("ts", api.Time.milliseconds(delayMs))
      .keyBy("key")
      .window(api.SlidingEventTimeWindows.of(
        api.Time.milliseconds(WindowFold.SizeMs), api.Time.milliseconds(WindowFold.SlideMs)))
      .reduce(aggs(withPct): _*)
      .addSink(s => Right(s.df.writeStream.outputMode("append")
        .foreach(new RecordingWriter)
        .option("checkpointLocation", checkpoint.toString)
        .trigger(trigger).start()))
      .toOption.get
  }

  /** Window end the reference requires to be complete, given the rows the
    * sink received: every window ending at or before the latest emitted
    * end must be present for every key. */
  def emittedEnd(rows: Seq[WinRow]): Long =
    if (rows.isEmpty) Long.MinValue else rows.map(_.startMs).max + WindowFold.SizeMs
}
