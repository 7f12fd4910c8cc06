package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Shape of the seeded event stream both stream workloads read.
  *
  * Event `i` is due `i * 1000 / ratePerSec` ms after the generator starts.
  * Its event time runs `timeFactor` times faster than wall time, minus a
  * seeded out-of-order jitter that never exceeds `maxJitterMs`, which is
  * kept below the watermark delay so no event is ever late. Keys follow a
  * Zipf(`zipfS`) law over `keys` keys; values are integers spread over
  * the percentile scale, so sums are exact in any order. */
final case class GenConfig(
    seed: Long,
    keys: Int,
    zipfS: Double,
    ratePerSec: Int,
    filePeriodMs: Int,
    timeFactor: Int,
    watermarkDelayMs: Long,
    maxJitterMs: Long) {
  require(maxJitterMs < watermarkDelayMs, "jitter must stay inside the watermark delay")
  def eventsPerFile: Int = ratePerSec * filePeriodMs / 1000
}

final case class Event(key: Int, value: Long, eventMs: Long, dueMs: Long)

/** Deterministic event source: file `f` holds events
  * `[f * eventsPerFile, (f + 1) * eventsPerFile)` and its bytes depend only
  * on the config (seed included) and `f`. */
final class EventSource(val cfg: GenConfig) {
  /** Event-time origin: a fixed epoch so window boundaries repeat. */
  val EventBaseMs: Long = 1700000000000L

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(cfg.keys)(k => 1.0 / math.pow(k + 1, cfg.zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def zipfKey(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, cfg.keys - 1)
  }

  /** Events of file `f`, each from its own seeded stream. */
  def file(f: Int): Array[Event] = {
    val n = cfg.eventsPerFile
    val rnd = new SplittableRandom(cfg.seed * 1000003L + f)
    Array.tabulate(n) { j =>
      val i = f.toLong * n + j
      val dueMs = i * 1000L / cfg.ratePerSec
      val jitter = rnd.nextLong(cfg.maxJitterMs + 1)
      val key = zipfKey(rnd.nextDouble())
      // log-uniform over [1, 1e6): every percentile bucket sees traffic
      val value = math.floor(math.exp(rnd.nextDouble() * math.log(1e6))).toLong
      Event(key, value, EventBaseMs + dueMs * cfg.timeFactor - jitter, dueMs)
    }
  }

  def bytes(events: Array[Event]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(events.length * 40)
    events.foreach { e =>
      sb.append(e.eventMs).append(',').append(e.key).append(',')
        .append(e.value).append(',').append(e.dueMs).append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Atomic publish: the stream source only ever lists whole files. */
  def write(dir: Path, f: Int, tmp: Path): Unit = {
    val t = tmp.resolve(f"part-$f%06d.csv.tmp")
    Files.write(t, bytes(file(f)))
    Files.move(t, dir.resolve(f"part-$f%06d.csv"), StandardCopyOption.ATOMIC_MOVE)
  }
}

object EventSource {
  /** CSV schema of the generated files. */
  val SchemaDDL = "ts LONG, key INT, value DOUBLE, due LONG"
}

/** One thread, no Spark calls: publishes file `f` at `start + (f + 1) *
  * filePeriodMs` (when its last event falls due) whether or not the
  * consumer keeps up, and records how late each publish ran and how many
  * due events were still unwritten at that moment. */
final class OpenLoopWriter(src: EventSource, dir: Path, tmp: Path) {
  @volatile private var stopAt = Long.MaxValue
  @volatile var startNanos: Long = 0L
  @volatile var filesWritten: Int = 0
  val lagsMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  @volatile var backlogMax: Long = 0L
  def eventsPerFile: Int = src.cfg.eventsPerFile

  private val thread = new Thread(() => run(), "perfbench-gen")
  thread.setDaemon(true)

  def start(): Unit = { startNanos = System.nanoTime(); thread.start() }

  /** Stop after the file due at `afterMs` from start, then wait. */
  def stopAfter(afterMs: Long): Unit = { stopAt = afterMs; thread.join() }

  private def run(): Unit = {
    val period = src.cfg.filePeriodMs
    var f = 0
    while ((f + 1).toLong * period <= stopAt) {
      val dueNanos = startNanos + (f + 1).toLong * period * 1000000L
      var now = System.nanoTime()
      while (now < dueNanos && (f + 1).toLong * period <= stopAt) {
        Thread.sleep(math.max(1L, (dueNanos - now) / 1000000L))
        now = System.nanoTime()
      }
      if ((f + 1).toLong * period <= stopAt) {
        val dueEvents = (now - startNanos) / 1000000L * src.cfg.ratePerSec / 1000
        backlogMax = math.max(backlogMax, dueEvents - f.toLong * src.cfg.eventsPerFile)
        src.write(dir, f, tmp)
        lagsMs.add((System.nanoTime() - dueNanos) / 1e6)
        f += 1
        filesWritten = f
      }
    }
  }
}
