package perfbench

import java.nio.file.Files

import org.apache.spark.sql.Row

/** The benchmark's own tests: `python3 perfbench/run.py --test`. No Spark
  * session is started; each check exits non-zero on failure. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    generator()
    windowCheck()
    digest()
    selfTime()
    println(s"== ${if (failures == 0) "all passed" else s"$failures failed"} ==")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def generator(): Unit = {
    val cfg = StreamWindow.config(7)
    def bytes(c: GenConfig) = (0 until 4).map(f => new EventSource(c).bytes(new EventSource(c).file(f)).toSeq)
    check("same seed gives the same bytes")(bytes(cfg) == bytes(cfg))
    check("another seed gives other bytes")(bytes(cfg) != bytes(cfg.copy(seed = 8)))
    val src = new EventSource(cfg)
    val events = (0 until 50).flatMap(src.file)
    check("no event's jitter exceeds the watermark delay")(events.forall { e =>
      val onTime = src.EventBaseMs + e.dueMs * cfg.timeFactor
      e.eventMs <= onTime && onTime - e.eventMs <= cfg.maxJitterMs &&
        cfg.maxJitterMs < cfg.watermarkDelayMs
    })
    check("jitter is present")(events.exists(e => src.EventBaseMs + e.dueMs * cfg.timeFactor != e.eventMs))
    val dir = Files.createTempDirectory("gen")
    val tmp = Files.createTempDirectory("gen_tmp")
    val w = new OpenLoopWriter(src, dir, tmp)
    w.start()
    w.stopAfter(500)
    check("open-loop writer publishes whole files only")(
      w.filesWritten == 5 && Files.list(dir).count() == 5 && Files.list(tmp).count() == 0 &&
        Files.readAllBytes(dir.resolve("part-000002.csv")).toSeq == src.bytes(src.file(2)).toSeq)
  }

  def windowCheck(): Unit = {
    val src = new EventSource(StreamDrain.config(3))
    val events = (0 until 20).flatMap(src.file)
    val ref = WindowFold.fold(events.iterator)
    val rows = ref.toSeq.map { case ((s, k), a) =>
      WinRow(s, k, a.sum.toDouble, a.max.toDouble, a.min.toDouble, a.count, a.pct, 0L)
    }
    val end = rows.map(_.startMs).max + WindowFold.SizeMs
    check("the reference's own rows pass")(WindowFold.compare(rows, ref, end)._2 == 0)
    val corrupt = rows.updated(3, rows(3).copy(sum = rows(3).sum + 1))
    check("a corrupted sum fails")(WindowFold.compare(corrupt, ref, end)._2 == 1)
    val badPct = rows.updated(5, rows(5).copy(pct = rows(5).pct + 1))
    check("a corrupted percentile fails")(WindowFold.compare(badPct, ref, end)._2 == 1)
    check("a missing window fails")(WindowFold.compare(rows.drop(1), ref, end)._2 == 1)
    check("a duplicated window fails")(WindowFold.compare(rows :+ rows.head, ref, end)._2 == 1)
    // hand-checked percentile reading: 100 values in bucket 0, 1 in bucket 9
    val hist = new Array[Long](WindowFold.scale.length)
    hist(0) = 100; hist(9) = 1
    check("pct reads the bucket where the top count crosses")(
      WindowFold.pctOf(hist, 99) == WindowFold.scale(9) && WindowFold.pctOf(hist, 50) == WindowFold.scale(0))
    check("bucket is the smallest boundary at or above the value")(
      WindowFold.bucket(1.0) == 0 && WindowFold.bucket(11.0) == 10 && WindowFold.bucket(1e9) == WindowFold.scale.length - 1)
  }

  def digest(): Unit = {
    val cols = Seq("b", "a")
    val rows = Seq(Row(1.5, 2L), Row(null, 3L))
    val d = Digest.of(cols, rows)
    check("digest ignores row order")(Digest.of(cols, rows.reverse) == d)
    check("digest compares numbers by value")(
      Digest.of(cols, Seq(Row(new java.math.BigDecimal("1.50"), 2), Row(null, 3L))) == d)
    check("a corrupted output changes the digest")(Digest.of(cols, Seq(Row(1.5, 2L), Row(null, 4L))) != d)
    check("digest renders values like the DuckDB side")(
      Digest.value(0.1) == "0.1000000000000000055511151231257827021181583404541015625" &&
        Digest.value(100.0) == "100" && Digest.value(-0.0) == "0" && Digest.value(null) == "∅")
  }

  def selfTime(): Unit = {
    // query 0..100: build 0..30 (job 10..20), run 30..100 (jobs 40..70 and 60..90)
    val spans = Seq(
      Span(1, 0, "query", "q", 0, 100), Span(2, 1, "build", "q", 0, 30),
      Span(3, 2, "job", "", 10, 20), Span(4, 1, "run", "q", 30, 100),
      Span(5, 4, "job", "", 40, 70), Span(6, 4, "job", "", 60, 90),
      Span(7, 5, "stage", "", 45, 65))
    val self = Spans.selfTimes(spans.head, spans)
    check("self times sum to the root's wall time")(math.abs(self.values.sum - 100) < 1e-9)
    check("self times match the hand count")(self == Map(1L -> 0.0, 2L -> 20.0, 3L -> 10.0,
      4L -> 20.0, 5L -> 5.0, 6L -> 25.0, 7L -> 20.0))
    check("driver time is wall minus the union of jobs")(
      100 - Layers.covered(spans.filter(_.kind == "job"), 0, 100) == 40)
    check("nearest-rank percentiles")(
      Stats.pct((1 to 100).map(_.toDouble), 99) == 99 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2)
  }
}
