package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Plan-evidence dump: writes `.explain("formatted")` output for the named
  * SparkEntry queries to `<outDir>/<name>.txt`, using the same session
  * shape as Bench (AQE on, shuffle partitions = cores). Used to produce
  * the committed `plans/rNN/<query>_{before,after}.txt` artifacts so plan
  * claims (Exchange count, join strategy, PushedFilters) are checkable
  * without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> [q name,names|all]
  *
  * With SPARK_GRAFT_STREAM_PLAN_DIR set, the stream queries that record
  * their micro-batch plans (StreamParity.PlannedStreams) must leave one
  * there, or the tool exits non-zero.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names: Seq[String] =
      if (args.length > 2 && args(2) != "all") args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that fails to plan must FAIL the tool (ADVICE r13): the
    // committed plans/ evidence must never silently omit an artifact.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Stream queries record their micro-batch plans themselves (see
    // StreamParity.recordStreamPlan); a missing file is a failure too.
    val streamPlans = sys.env.get("SPARK_GRAFT_STREAM_PLAN_DIR").toSeq.flatMap(d =>
      graft.streaming.StreamParity.PlannedStreams.filter(names.contains)
        .map(n => n -> Paths.get(s"$d/$n.txt")))
    streamPlans.foreach { case (_, p) => Files.deleteIfExists(p) }
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        println(s"[plans] wrote $name (${txt.length} chars)")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
    failed ++= streamPlans.collect { case (n, p) if !Files.exists(p) =>
      System.err.println(s"[plans] $n left no stream plan at $p")
      n
    }
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} queries produced no " +
        s"plan file: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
