package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run measured. `e2e` holds the end-to-end metrics (untraced
  * runs), `layers` the per-layer ones (traced runs). */
final case class Outcome(
    e2e: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)],
    attempted: Long,
    failed: Long,
    report: Seq[(String, String)],
    problems: Seq[String])

final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean, val work: Path,
    val home: Path) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val data: Path = home.resolve("data")
  /** Where a traced run leaves its spans and counts. */
  lazy val out: Path = Files.createDirectories(home.resolve("out"))

  /** The session `graft.Bench` builds: local[nproc], shuffle partitions =
    * nproc, AQE on, UTC. Scratch space stays inside the work dir. */
  def session(master: String = s"local[$nproc]"): SparkSession = {
    val s = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Jvm {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  /** Used heap after a forced full collection. */
  def retainedMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "stream_window" -> StreamWindow.run,
    "batch_small" -> BatchSmall.run)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("oracle-sql")) return dumpOracle(Paths.get(opt("oracle-sql")))
    val name = opt("workload")
    val run = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val ctx = new Ctx(opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      Paths.get(opt("work")), Paths.get(opt("home")))
    val out = run(ctx)
    SparkSession.getActiveSession.foreach(_.stop())
    val ratio = out.failed.toDouble / out.attempted
    println(s"== $name seed=${ctx.seed} seconds=${ctx.seconds} trace=${ctx.trace} " +
      s"nproc=${ctx.nproc} ==")
    println(f"failed_ratio = $ratio%.6f (${out.failed} of ${out.attempted})")
    out.report.foreach { case (k, v) => println(s"$k = $v") }
    out.problems.foreach(p => println(s"CHECK FAILED: $p"))
    val metrics = (if (ctx.trace) out.layers else out.e2e).map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":$metrics}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def dumpOracle(path: Path): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.writerWithDefaultPrettyPrinter().writeValue(path.toFile,
      new java.util.TreeMap[String, String](graft.SparkEntry.oracleSql.asJava))
  }

  /** Set-ups per run; the first also starts the JVM's warm-up. */
  val SetupReps = 5

  /** Median over `n` repetitions of a session start plus `warm`; the last
    * session is kept and returned. */
  def setup(ctx: Ctx, n: Int)(warm: SparkSession => Unit): (SparkSession, Double, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to n).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = ctx.session()
      warm(spark)
      times += ctx.secs(t0)
    }
    (spark, Stats.median(times.toSeq), times.toSeq)
  }

  def fmt(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ", ", "]")
}
