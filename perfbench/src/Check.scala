package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** One emitted sliding-window row, as the sink received it. */
final case class WinRow(startMs: Long, key: Int, sum: Double, max: Double,
    min: Double, count: Long, pct: Double, atNanos: Long)

/** Exact aggregates of one (window, key). */
final case class WinAgg(sum: Long, max: Long, min: Long, count: Long, pct: Double)

/** Independent in-memory fold of the generated events: the reference the
  * stream workloads' output is compared with. */
object WindowFold {
  val SizeMs = 60000L
  val SlideMs = 20000L
  val PctLevel = 99

  /** Bucket boundaries of the percentile scale; the reference's own bucket
    * and read rules are re-implemented here, the boundaries are shared. */
  val scale: Array[Double] = graft.functions.GraftFunctions.leveldbScale90

  /** Index of the smallest boundary >= v, clamped to the last bucket. */
  def bucket(v: Double): Int = {
    var i = 0
    while (i < scale.length - 1 && scale(i) < v) i += 1
    i
  }

  /** Walk buckets from the top until `trunc(n * (100 - p) / 100)`, clamped
    * to [1, n], values are covered. */
  def pctOf(hist: Array[Long], p: Int): Double = {
    val n = hist.sum
    val pos = math.min(n, math.max(1L, (n * ((100 - p) / 100.0)).toLong))
    var seen = 0L
    var i = hist.length - 1
    while (i >= 0) {
      seen += hist(i)
      if (hist(i) > 0 && seen >= pos) return scale(i)
      i -= 1
    }
    Double.NaN
  }

  def windowStarts(eventMs: Long): Seq[Long] = {
    val last = Math.floorDiv(eventMs, SlideMs) * SlideMs
    (0L until SizeMs / SlideMs).map(last - _ * SlideMs)
  }

  def fold(events: Iterator[Event]): Map[(Long, Int), WinAgg] = {
    final class Acc { var sum = 0L; var max = Long.MinValue; var min = Long.MaxValue
      var n = 0L; val hist = new Array[Long](scale.length) }
    val acc = mutable.HashMap.empty[(Long, Int), Acc]
    events.foreach { e =>
      val b = bucket(e.value.toDouble)
      windowStarts(e.eventMs).foreach { s =>
        val a = acc.getOrElseUpdate((s, e.key), new Acc)
        a.sum += e.value; a.max = math.max(a.max, e.value)
        a.min = math.min(a.min, e.value); a.n += 1; a.hist(b) += 1
      }
    }
    acc.map { case (k, a) => k -> WinAgg(a.sum, a.max, a.min, a.n, pctOf(a.hist, PctLevel)) }.toMap
  }

  def matches(r: WinRow, a: WinAgg): Boolean =
    r.sum == a.sum.toDouble && r.max == a.max.toDouble && r.min == a.min.toDouble &&
      r.count == a.count && java.lang.Double.compare(r.pct, a.pct) == 0

  /** Compares emitted rows with the reference. Every window ending at or
    * before `requiredEndMs` must have been emitted exactly once; later
    * windows may be emitted. Returns (rows checked, failures, messages). */
  def compare(rows: Seq[WinRow], ref: Map[(Long, Int), WinAgg],
      requiredEndMs: Long): (Int, Int, Seq[String]) = {
    val msgs = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[(Long, Int)]
    var failed = 0
    rows.foreach { r =>
      val k = (r.startMs, r.key)
      val ok = seen.add(k) && ref.get(k).exists(matches(r, _))
      if (!ok) {
        failed += 1
        if (msgs.size < 5) msgs += s"window $k: got $r, expected ${ref.get(k)}"
      }
    }
    val missing = ref.keys.filter { case k @ (s, _) => s + SizeMs <= requiredEndMs && !seen(k) }
    missing.take(math.max(0, 5 - msgs.size)).foreach(k => msgs += s"window $k: never emitted")
    (rows.size + missing.size, failed + missing.size, msgs.toSeq)
  }

  /** For each window end, the due time (ms from generator start) of the
    * first event whose event time reaches end + `delayMs`: the moment the
    * window can first close. `events` must be in due order. */
  def closeDue(events: Iterator[Event], delayMs: Long): Map[Long, Long] = {
    val out = mutable.HashMap.empty[Long, Long]
    var maxTs = Long.MinValue
    var nextEnd = Long.MinValue
    events.foreach { e =>
      if (e.eventMs > maxTs) {
        maxTs = e.eventMs
        val closable = Math.floorDiv(maxTs - delayMs, SlideMs) * SlideMs
        if (nextEnd == Long.MinValue) nextEnd = closable
        while (nextEnd <= closable) { out(nextEnd) = e.dueMs; nextEnd += SlideMs }
      }
    }
    out.toMap
  }
}

/** Order-free digest of a result table under scripts/check.py's compare
  * rule: columns sorted by name, rows compared as a multiset, numbers
  * compared by exact value whatever their type (3, 3.0 and 3.00 are one
  * value). perfbench/tools/derive_digests.py renders DuckDB's results with
  * the same rule. */
object Digest {
  def value(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.math.BigDecimal => dec(n)
    case n: scala.math.BigDecimal => dec(n.bigDecimal)
    case n: java.lang.Number => n.toString
    case s: String => s
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else dec(new java.math.BigDecimal(d))

  private def dec(n: java.math.BigDecimal): String =
    if (n.signum == 0) "0" else n.stripTrailingZeros.toPlainString

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    sha256(order.map(columns).mkString(",") + "\n" + lines.mkString("\n"))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
