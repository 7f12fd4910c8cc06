package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named SparkEntry queries over the sf0.001 tables: driver analysis,
  * planning and job scheduling decide the time, not executor work. */
object BatchSmall {
  /** Every 27th oracle-backed non-stream key in name order, pinned so a
    * key added to SparkEntry does not change the workload. */
  val Sample: Seq[String] = Seq(
    "q01_sliding_window_agg", "q119_transition_matrix", "q150_asof_nearest",
    "q175_exact_quantile", "q19_fingerprint", "q229_audio_probe",
    "q33_rolling_hash", "q68_block_dedup")

  /** Timed passes over the sample at least, however short the run. */
  val MinPasses = 3
  /** Untimed passes after the checked one, before timing: the passes get
    * faster for about this long while the JIT compiles the planner's and
    * the queries' paths. */
  val SettleSec = 24

  def build(spark: SparkSession, ctx: Ctx, key: String): DataFrame =
    graft.SparkEntry.queries(key)(spark, ctx.data.toString)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Query-function call plus noop materialize, in ms. */
  def timed(spark: SparkSession, ctx: Ctx, key: String): Double = {
    val t0 = System.nanoTime()
    noop(build(spark, ctx, key))
    val ms = (System.nanoTime() - t0) / 1e6
    spark.sharedState.cacheManager.clearCache()
    ms
  }

  def expected(ctx: Ctx): Map[String, String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(ctx.home.resolve("expected/batch_digests.json").toFile)
    Sample.map(k => k -> Option(node.get(k)).map(_.asText).getOrElse("")).toMap
  }

  /** Checks each key's collected output against its committed digest. */
  def checkDigests(spark: SparkSession, ctx: Ctx, order: Seq[String]): Seq[String] = {
    val want = expected(ctx)
    order.flatMap { k =>
      val df = build(spark, ctx, k)
      val got = Digest.of(df.columns.toSeq, df.collect().toSeq)
      spark.sharedState.cacheManager.clearCache()
      if (got == want(k)) None else Some(s"$k: output digest $got, expected ${want(k)}")
    }
  }

  /** The quality floors graft.Quality measures for the no-oracle keys. */
  def checkFloors(spark: SparkSession, ctx: Ctx): (Int, Seq[String]) = {
    val ms = graft.Quality.measure(spark, ctx.data.toString)
    val bad = ms.flatMap { case (q, m) =>
      val vals = m.toMap
      val floor = vals.get("floor")
      vals.toSeq.flatMap { case (metric, v) =>
        val ok = graft.Quality.MetricDirection.getOrElse(metric, 0) match {
          case 1 => floor.forall(v >= _)
          case -1 if metric == "monotonic_violations" => v == 0
          case -1 => floor.forall(v <= _)
          case _ => true
        }
        if (ok) None else Some(s"$q: $metric = $v misses floor $floor")
      }
    }
    (ms.size, bad)
  }

  def run(ctx: Ctx): Outcome = {
    val order = new scala.util.Random(ctx.seed).shuffle(Sample)
    val (spark, setupS, setups) = Main.setup(ctx, Main.SetupReps) { s =>
      graft.operators.Bucketing.ensureBucketedTables(s, ctx.data.toString)
      noop(build(s, ctx, "q03_filter_project"))
    }
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= checkDigests(spark, ctx, order)
    var attempted = order.size
    val settle = System.nanoTime()
    while (ctx.secs(settle) < SettleSec) order.foreach(timed(spark, ctx, _))
    // Closed loop: passes over the keys in the seeded order, back to back,
    // for the run's seconds. Every key is timed as often as every other,
    // and each key's median damps a one-off stall; the latency is the mean
    // of those medians, so a change to any one key moves it.
    val times = order.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < MinPasses || ctx.secs(t0) < ctx.seconds) {
      order.foreach(k => times(k) += timed(spark, ctx, k))
      passes += 1
    }
    val service = times.values.flatten.toSeq
    val tailP = 75.0 // a run holds too few queries for a p95 with ten above it
    val latency = Stats.mean(order.map(k => Stats.median(times(k).toSeq)))
    val heap = Jvm.retainedMb
    val report = Seq(
      "setup_s" -> f"$setupS%.3f s (median of ${Main.fmt(setups)})",
      "latency_ms" -> f"$latency%.1f ms (mean over ${order.size} keys of each key's median of $passes)",
      "queries_per_s" -> f"${service.size / (service.sum / 1000)}%.3f 1/s (back to back, n=${service.size})",
      "query_p50_ms" -> f"${Stats.pct(service, 50)}%.1f ms (n=${service.size})",
      "query_p95_ms" -> f"${Stats.pct(service, 95)}%.1f ms (n=${service.size}, fewer than 10 above)",
      "retained_heap_mb" -> f"$heap%.1f MB") ++
      Seq("latency_p50_ms", "latency_p99_ms", "drain_eps", "wall_s").map(_ -> "n/a on this workload")
    val e2e = Seq(("setup_s", setupS, "s"), ("latency_ms", latency, "ms"),
      ("retained_heap_mb", heap, "MB"))

    val layers = if (!ctx.trace) Nil else {
      val t = new Tracer(spark.sparkContext)
      t.attach(spark)
      val base = Layers.jvmBase()
      def tracedPass(): Seq[(String, Span)] = order.map { k =>
        val (_, q) = t.span("query", k) { qid =>
          val (df, _) = t.span("build", k, qid)(_ => build(spark, ctx, k))
          t.span("run", k, qid)(_ => noop(df))
        }
        spark.sharedState.cacheManager.clearCache()
        k -> q
      }
      val passA = tracedPass()
      val wallA = passA.map(_._2.ms).sum
      val jvm = Layers.jvm(base)
      val passB = tracedPass()
      t.detach(spark)
      t.write(ctx.out.resolve("spans_batch_small.jsonl"))
      val spans = t.resolved
      def counts(q: Span): Seq[Double] = {
        val m = Layers.spark(t, Seq(q), q.ms, ctx.nproc)
        Seq("spark.sched.jobs", "spark.sched.stages", "spark.sched.tasks",
          "tables.bytes_read", "tables.rows_read").map(m)
      }
      // each key's counts must repeat exactly across the two passes
      val countsA = passA.map { case (k, q) => k -> counts(q) }.toMap
      val drift = passB.collect { case (k, b) if countsA(k) != counts(b) =>
        s"count drift $k: ${countsA(k).mkString(",")} then ${counts(b).mkString(",")}"
      }
      attempted += order.size
      problems ++= drift
      val builds = spans.filter(_.kind == "build")
      val buildA = builds.filter(b => passA.exists(_._2.id == b.parent))
      val buildJobs = spans.count(s => s.kind == "job" && buildA.exists(_.id == s.parent))
      val (floorsChecked, floorsBad) = checkFloors(spark, ctx)
      attempted += floorsChecked
      problems ++= floorsBad
      Layers.complete(Layers.spark(t, passA.map(_._2), wallA, ctx.nproc) ++ jvm ++
        Layers.latency(service, tailP) ++ Map(
        "operators.build_ms" -> buildA.map(_.ms).sum,
        "operators.build_jobs" -> buildJobs.toDouble,
        "trace.overhead_ratio" -> wallA / (latency * order.size),
        "trace.count_drift_keys" -> drift.size.toDouble))
    }
    Outcome(e2e, layers, attempted, problems.size, report, problems.toSeq)
  }
}
