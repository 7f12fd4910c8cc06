package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The replay harness itself: sentinel shape and placement, replay
  * order, cleanup, and the partition count its caches share. */
class ReplaySpec extends SparkSpec {

  /** A small events-shaped table with `ts` stored as `tsType`, read back
    * from parquet like the real one (every column nullable). */
  private def rawEvents(tsType: String): (DataFrame, String) = {
    val ts = tsType match {
      case "nanos" => (lit(1700000000L) + col("id") * 60) * 1000000000L
      case "ntz"   => timestamp_seconds(lit(1700000000L) + col("id") * 60)
          .cast("timestamp_ntz")
      case "ts"    => timestamp_seconds(lit(1700000000L) + col("id") * 60)
    }
    val dir = java.nio.file.Files.createTempDirectory(s"replayspec_$tsType").toString
    spark.range(0, 60).select(col("id").as("event_id"),
        (col("id") % 7).as("user_id"), ts.as("ts"),
        lit("click").as("event_type"), (col("id") * 1.5).as("value"))
      .write.mode("overwrite").parquet(dir)
    (spark.read.parquet(dir), dir)
  }

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))

  test("sentinel row keeps the raw schema for every ts storage type, with the newest mtime") {
    for (tsType <- Seq("nanos", "ntz", "ts")) {
      val (raw, rawDir) = rawEvents(tsType)
      try Replay(spark, "spec_sentinel") { r =>
        val dir = r.stage(raw, "ts", files = 3)
        r.sentinel(dir, raw, "user_id" -> -1L, "event_type" -> "zzz_sentinel")
        val sentinel = spark.read.parquet(s"$dir/zz_sentinel.parquet")
        assert(sentinel.schema === raw.schema, tsType)
        val row = graft.Tables.normalizeTs(sentinel).head()
        val maxTs = graft.Tables.normalizeTs(raw).agg(max(col("ts"))).head()
          .getTimestamp(0)
        assert(row.getAs[java.sql.Timestamp]("ts").getTime ===
          maxTs.getTime + 3600L * 1000, tsType)
        assert(row.getAs[Long]("user_id") === -1L)
        assert(row.isNullAt(row.fieldIndex("event_id")))
        val (data, sent) = parquetFiles(dir).partition(_.getName != "zz_sentinel.parquet")
        assert(data.size === 3 && sent.size === 1)
        assert(data.map(_.lastModified).max < sent.head.lastModified, tsType)
        spark.emptyDataFrame
      } finally StampedLedger.deleteTree(rawDir)
    }
  }

  test("staged files replay one per trigger in range order, the sentinel last") {
    val (raw, rawDir) = rawEvents("ts")
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    try Replay(spark, "spec_order") { r =>
      // rows arrive shuffled; the staging alone must restore ts order
      val dir = r.stage(raw.orderBy(rand(7)), "ts", files = 4)
      r.sentinel(dir, raw, "user_id" -> -1L)
      r.foreachBatch(r.source(dir, raw.schema)) { (batch, _) =>
        val s = batch.agg(min(unix_seconds(col("ts"))), max(unix_seconds(col("ts"))),
          count(lit(1)), sum(when(col("user_id") === -1L, 1L).otherwise(0L))).head()
        batches += ((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)))
      }
      spark.emptyDataFrame
    } finally StampedLedger.deleteTree(rawDir)
    assert(batches.size === 5, batches)
    val (data, last) = (batches.init, batches.last)
    assert(data.forall(_._4 == 0L) && last._3 === 1L && last._4 === 1L)
    assert(data.map(_._3).sum === 60L)
    data.zip(data.tail).foreach { case (a, b) => assert(a._2 < b._1, batches) }
  }

  test("no dir or view the harness creates survives a run, a failing stream or a throwing body") {
    val ds = spark.range(0, 20).select(col("id"), (col("id") % 3).as("k"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    def assertGone(dirs: Seq[String], views: Seq[String]): Unit = {
      assert(dirs.nonEmpty)
      dirs.foreach(d => assert(!new java.io.File(d).exists, d))
      views.foreach(v => assert(!spark.catalog.tableExists(v), v))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") === provider)
    }

    var seen = (Seq.empty[String], Seq.empty[String])
    val out = Replay(spark, "spec_clean") { r =>
      val counts = r.memory(r.source(r.stage(ds, "id"), ds.schema)
        .groupBy(col("k")).count(), "complete", rocksDB = true)
      r.ledger(); r.dir("extra")
      seen = (r.dirs.toList, r.views.toList)
      counts.orderBy("k")
    }
    assert(out.collect().map(_.getLong(1)).toSeq === Seq(7L, 7L, 6L))
    assertGone(seen._1, seen._2)

    val failed = intercept[Exception] {
      Replay(spark, "spec_fail") { r =>
        val dir = r.stage(ds)
        seen = (r.dirs.toList, Nil)
        r.foreachBatch(r.source(dir, ds.schema)) { (_, _) => sys.error("batch failed") }
        spark.emptyDataFrame
      }
    }
    assert(failed.getMessage.contains("batch failed"))
    assertGone(seen._1, seen._2)

    intercept[IllegalStateException] {
      Replay(spark, "spec_throw") { r =>
        r.stage(ds); r.ledger()
        seen = (r.dirs.toList, Nil)
        throw new IllegalStateException("body failed")
      }
    }
    assertGone(seen._1, seen._2)
  }

  test("q58's corpus caches match its stream's partition count: no per-trigger exchange of the corpus side") {
    // 4 shuffle partitions: the count a 4-core run has, below the pin's
    // cap of 8. Broadcast joins off, as at corpus scale (the corpus
    // sides are far past any broadcast threshold there).
    val pins = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = pins.map { case (k, _) => k -> spark.conf.get(k) }
    StreamParity.lastStreamPlans.remove("q58_stream_admission")
    try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(Replay.statePartitions(spark) === 4)
      assert(StreamParity.q58StreamAdmission(spark, sf).count() > 0)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    val plan = StreamParity.lastStreamPlans.get("q58_stream_admission")
    assert(plan != null, "q58 recorded no per-batch plan")

    // every shuffle in the plan — per trigger and in the cache builds —
    // runs at the stream's partition count
    val widths = """hashpartitioning\(.*, (\d+)\), (ENSURE_REQUIREMENTS|REPARTITION_BY_NUM)""".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(widths.nonEmpty && widths.forall(_ == "4"), widths)

    // The two sort-merge joins against the corpus — the hash set (ch,
    // hit_corpus) and the index's df table (h, df) — read their caches
    // with no Exchange in between. Parents are found by indentation in
    // the top-level tree; the cache-build plans nested under an
    // InMemoryRelation restart their indentation, so scans below one (or
    // below an AQE section, which only those builds have) are skipped.
    val tree = plan.linesIterator.drop(1).takeWhile(_.nonEmpty).toVector
    def depth(l: String): Int = l.length - l.dropWhile(" :|+-".contains(_)).length
    def node(l: String): String = l.dropWhile(" :|+-*".contains(_))
    def ancestors(i: Int): Seq[String] = {
      val d = depth(tree(i))
      (i - 1 to 0 by -1).find(j => depth(tree(j)) < d)
        .map(j => node(tree(j)) +: ancestors(j)).getOrElse(Nil)
    }
    val scans = """\((\d+)\) InMemoryTableScan\nOutput \[\d+\]: \[([^\]]*)\]""".r
      .findAllMatchIn(plan).map(m => m.group(1) -> m.group(2)).toSeq
    Seq[(String, String => Boolean)](
        "hash set" -> (_.contains("hit_corpus#")),
        "df table" -> (_.matches("""h#\d+L, df#\d+L"""))).foreach {
      case (side, isSide) =>
        val ids = scans.collect { case (id, out) if isSide(out) => s"InMemoryTableScan ($id)" }
        val top = tree.indices.filter(i =>
          ids.exists(node(tree(i)).startsWith) && !ancestors(i).exists(n =>
            n.startsWith("InMemoryRelation") || n.startsWith("==") || n.contains("QueryStage")))
        assert(top.nonEmpty, s"no top-level scan of the corpus $side")
        top.foreach { i =>
          val up = ancestors(i)
          val j = up.indexWhere(_.contains("Join"))
          assert(j >= 0 && up(j).startsWith("SortMergeJoin"), s"$side: ${up.take(j + 1)}")
          assert(!up.take(j).exists(_.contains("Exchange")), s"$side exchanged: ${up.take(j + 1)}")
        }
    }
  }
}
