package graft.streaming

import graft.SparkSpec

class EventPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = graft.Tables.load(spark, sf0001, "events")

  test("windowedCounts in batch mode: 5-minute buckets per type") {
    val out = EventPipeline.windowedCounts(events)
    assert(out.columns.toSeq ===
      Seq("w_start", "w_end", "event_type", "n", "total_value"))
    val total = out.agg(org.apache.spark.sql.functions.sum($"n")).head.getLong(0)
    assert(total === events.count())
  }

  test("sessions in batch mode close on the 30-minute gap") {
    val out = EventPipeline.sessions(events)
    assert(out.count() > 0)
    // session bounds are ordered
    assert(out.filter($"s_end" <= $"s_start").count() === 0)
  }

  test("runningTotals keyed state accumulates per user") {
    val ds = events.as[EventPipeline.Event]
    val out = EventPipeline.runningTotals(spark, ds)
    val byUser = out.collect().map(u => u.user_id -> u.n_events).toMap
    val expect = events.groupBy($"user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byUser === expect)
  }

  test("runningLedger emits one row per event with exact cumulative sums") {
    val ds = events.as[EventPipeline.Event]
    val out = EventPipeline.runningLedger(spark, ds).collect()
    assert(out.length === events.count())
    // last entry per user equals the plain per-user aggregate
    val lastByUser = out.groupBy(_.user_id)
      .map { case (u, es) => u -> es.maxBy(_.running_n) }
    val expect = events.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    lastByUser.foreach { case (u, e) =>
      assert(e.running_n === expect(u)._1)
      assert(math.round(e.running_value * 100) === expect(u)._2)
    }
    // running_n within a user is 1..n in event_id order
    val oneUser = out.filter(_.user_id == out.head.user_id).sortBy(_.event_id)
    assert(oneUser.map(_.running_n).toSeq === (1L to oneUser.length).toSeq)
  }

  test("runningLedger streams: memory-sink rows equal the batch ledger") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = suiteTempDir("graft_ledger_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventPipeline.eventsStream(spark, dir.toString)
      .as[EventPipeline.Event]
    val q = EventPipeline.withStreamPartitions(spark, 8) {
      EventPipeline.runningLedger(spark, stream)
        .toDF().writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ledger_spec").start()
    }
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ledger_spec").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventPipeline.runningLedger(spark,
      events.as[EventPipeline.Event]).collect()
      .map(e => (e.event_id, e.running_n, e.running_value)).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup emits exactly the batch-distinct key set") {
    val dir = suiteTempDir("graft_sdedup_spec")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventPipeline.startDedupQuery(spark, dir.toString, "sdedup_spec")
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT DISTINCT user_id, event_type FROM sdedup_spec")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = events.select($"user_id", $"event_type").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch join") {
    val dir = suiteTempDir("graft_enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val dim = graft.Tables.load(spark, sf0001, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val stream = EventPipeline.eventsStream(spark, dir.toString)
    val q = EventPipeline.enriched(stream, dim, "c_custkey")
      .select($"event_id", $"c_mktsegment")
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_spec").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT count(*) AS n, count(c_mktsegment) AS matched FROM enrich_spec").head
      val batch = EventPipeline.enriched(events, dim, "c_custkey")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.count($"c_mktsegment")).head
      assert(streamed.getLong(0) === batch.getLong(0))
      assert(streamed.getLong(1) === batch.getLong(1))
      assert(streamed.getLong(1) > 0) // some users exist in the dim
    } finally q.stop()
  }

  test("regression: enrichment against a dim keyed user_id leaves no duplicate column") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dim = events.select($"user_id", $"event_type".as("seg")).distinct()
    val out = EventPipeline.enriched(events, dim, "user_id")
    // the dim's key column is dropped, so downstream col("user_id")
    // resolves (was AMBIGUOUS_REFERENCE with two bare user_id columns)
    assert(out.columns.count(_ == "user_id") === 1)
    assert(out.select(col("user_id")).agg(count(lit(1))).head.getLong(0) > 0)
  }

  test("stream-stream join emits exactly the batch interval-join pairs") {
    val dir = suiteTempDir("graft_ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventPipeline.startStreamJoinQuery(spark, dir.toString, "ssj_spec")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_spec").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val batch = EventPipeline.purchaseClickJoin(events)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("foreachBatch sink round-trip reproduces the batch hourly counts") {
    import org.apache.spark.sql.functions.{col, count, date_trunc, lit, sum}
    val dir = suiteTempDir("graft_feb")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val out = suiteTempDir("graft_feb_out").toString
    val q = EventPipeline.startForeachBatchQuery(spark, dir.toString, out)
    try q.processAllAvailable() finally q.stop()
    val roundTrip = spark.read.parquet(s"$out/batch_*")
      .groupBy(col("h"), col("event_type")).agg(sum(col("n")).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(roundTrip === batch)
    assert(batch.nonEmpty)
  }

  test("hoppingCounts places every event in exactly two overlapping windows") {
    import org.apache.spark.sql.functions.sum
    val out = EventPipeline.hoppingCounts(events)
    val total = out.agg(sum("n")).head().getLong(0)
    assert(total === events.count() * 2)
    // window starts are 5-minute aligned and overlap: consecutive starts
    // differ by the slide, not the duration
    val starts = out.select("w_start").distinct().collect()
      .map(_.getTimestamp(0).getTime).sorted
    assert(starts.sliding(2).forall {
      case Array(a, b) => (b - a) % 300000L == 0; case _ => true
    })
  }

  test("streaming CDC upsert converges to the one-shot batch merge") {
    import org.apache.spark.sql.functions.{col, when}
    val chunks = EventPipeline.cdcChunksDir(spark, sf0001)
    assert(new java.io.File(chunks).listFiles().count(
      _.getName.endsWith(".parquet")) === 3) // three LSN-ordered batches
    val base = graft.Tables.load(spark, sf0001, "supplier")
      .select(col("s_suppkey").as("id"), col("s_acctbal").cast("double").as("val"))
    val snapRoot = suiteTempDir("graft_cdc_snap").toString
    val q = EventPipeline.startCdcUpsertQuery(spark, chunks, snapRoot, base)
    try q.processAllAvailable() finally q.stop()
    val snaps = Option(new java.io.File(snapRoot).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("snap_"))
      .sortBy(f => f.getName.stripPrefix("snap_").toInt)
    assert(snaps.length === 3) // one versioned snapshot per micro-batch
    val streamed = spark.read.parquet(snaps.last.getAbsolutePath)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val changes = graft.Tables.load(spark, sf0001, "events")
      .select(col("user_id").as("id"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value").as("val"), col("event_id"))
    val batch = graft.operators.Snapshot
      .cdcMerge(base, changes, "id", "op", "event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("CDC upsert stream resumes exactly-once from its checkpoint") {
    import org.apache.spark.sql.functions.{col, when}
    import java.nio.file.Files
    val chunks = new java.io.File(EventPipeline.cdcChunksDir(spark, sf0001))
      .listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val dir = suiteTempDir("graft_restart_src").toFile
    val snapRoot = suiteTempDir("graft_restart_snap").toString
    val ckpt = suiteTempDir("graft_restart_ckpt").toString
    val base = graft.Tables.load(spark, sf0001, "supplier")
      .select(col("s_suppkey").as("id"), col("s_acctbal").cast("double").as("val"))

    // session 1: only the first chunk is visible
    Files.copy(chunks(0).toPath, new java.io.File(dir, chunks(0).getName).toPath)
    val q1 = EventPipeline.startCdcUpsertQuery(
      spark, dir.toString, snapRoot, base, checkpoint = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    val snap0 = new java.io.File(snapRoot, "snap_0")
    assert(snap0.isDirectory)
    val snap0Files = snap0.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet

    // session 2: remaining chunks arrive; SAME checkpoint → the source
    // must resume at batch 1 without replaying chunk 0.
    // Files.copy stamps NOW as mtime on both copies — restore the
    // 2-second stagger or the file source may batch chunk 2 before
    // chunk 1 (it orders by modification time), folding the LSN chunks
    // out of order.
    val t0 = System.currentTimeMillis()
    chunks.drop(1).zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(dir, f.getName)
      Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 2000L)
    }
    val q2 = EventPipeline.startCdcUpsertQuery(
      spark, dir.toString, snapRoot, base, checkpoint = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()

    // chunk 0's snapshot was not rewritten (exactly-once, not at-least-once)
    val after = snap0.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    assert(after === snap0Files)
    // the resumed chain folded the new batches onto the surviving state
    assert(new java.io.File(snapRoot, "snap_2").isDirectory)
    val streamed = spark.read.parquet(s"$snapRoot/snap_2")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val changes = graft.Tables.load(spark, sf0001, "events")
      .select(col("user_id").as("id"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value").as("val"), col("event_id"))
    val batch = graft.operators.Snapshot
      .cdcMerge(base, changes, "id", "op", "event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed === batch)
  }

  test("q84 registered query is re-runnable in one session (bench runs it twice)") {
    // r02's bench hit a read-back failure on a repeated in-JVM invocation;
    // this pins the fixed lifecycle: same session, same Staging dirs, twice.
    val fn = graft.SparkEntry.queries("q84_foreach_batch")
    val first = fn(spark, sf0001).collect().map(_.toSeq).toSeq
    val second = fn(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(first === second)
    assert(first.nonEmpty)
  }

  test("startForeachBatchQuery purges stale batch_* dirs from earlier runs") {
    import org.apache.spark.sql.functions.col
    val dir = suiteTempDir("graft_feb_purge")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val out = suiteTempDir("graft_feb_purge_out")
    // simulate a leftover batch from a prior run that produced more
    // batches than this one will (fresh stream restarts numbering at 0)
    spark.range(3).selectExpr("timestamp'2020-01-01' as h",
      "'stale' as event_type", "id as n")
      .write.parquet(s"$out/batch_97")
    val q = EventPipeline.startForeachBatchQuery(spark, dir.toString, out.toString)
    try q.processAllAvailable() finally q.stop()
    val names = Option(out.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("batch_")).map(_.getName).toSet
    assert(!names.contains("batch_97"), s"stale dir survived: $names")
    assert(names.nonEmpty)
    assert(spark.read.parquet(names.map(n => s"$out/$n").toSeq: _*)
      .filter(col("event_type") === "stale").count() === 0)
  }

  test("end-to-end streaming: parquet source → watermark window → memory sink") {
    val dir = suiteTempDir("graft_stream")
    // stage the events file into a clean source dir (other tables would
    // confuse the parquet stream source)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventPipeline.startWindowedQuery(spark, dir.toString, "ep_test")
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM ep_test")
      // append mode only emits watermark-closed windows; all but the last
      // window of the deterministic dataset are closed
      assert(out.count() > 0)
      assert(out.columns.toSeq ===
        Seq("w_start", "w_end", "event_type", "n", "total_value"))
    } finally q.stop()
  }

  test("rule 30: a filter on session_window.end must sit behind a lineage cut") {
    // Minimal repro of the engine sharp edge the 10M-event stage
    // found: Catalyst pushes a predicate on the session window's END
    // through the aggregation as a per-EVENT `ts + gap <= cut`
    // (PushPredicateThroughNonJoin sees the window struct as a
    // row-local function — sound for tumbling windows, UNSOUND for
    // sessions, whose end depends on OTHER rows via merging). Two
    // events 20 min apart merge into one session ending t0+50min; a
    // cutoff at t0+40min must therefore select NOTHING — but composed,
    // the pushed filter drops the second event, the truncated session
    // ends at t0+30min, and one row comes back.
    import org.apache.spark.sql.functions.{lit, col}
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:20:00")
    val cut = java.sql.Timestamp.valueOf("2024-01-01 00:40:00")
    val two = Seq((1L, t0, 7L, "click", 1.0), (2L, t1, 7L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val mitigated = EventPipeline.sessions(two).localCheckpoint()
      .filter(col("s_end") <= lit(cut)).count()
    assert(mitigated === 0L,
      "the merged session ends at t0+50min and must not pass the cutoff")
    // pin the ENGINE behavior the mitigation exists for: if a Spark
    // upgrade makes this 0, the pushdown got fixed and the
    // localCheckpoint cuts can be revisited (this assertion documents
    // Spark, not our contract)
    val composed = EventPipeline.sessions(two)
      .filter(col("s_end") <= lit(cut)).count()
    assert(composed === 1L,
      "Spark no longer pushes the end-predicate through session_window — " +
        "rule 30's mitigation may be removable")
  }

  test("streamed sessions equal batch sessions under the final watermark") {
    // the q225 contract at spec grain: the streaming session_window
    // state machine, drained over the staged file, must emit exactly
    // the batch sessions whose end clears the final watermark
    val dir = suiteTempDir("graft_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventPipeline.startSessionsQuery(spark, dir.toString, "ep_sess")
    try {
      q.processAllAvailable()
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.select($"user_id", $"s_start", $"s_end", $"n_events",
          $"total_value".cast("double"))
          .collect().map(_.toString).sorted.toSeq
      val streamed = keyed(spark.table("ep_sess"))
      val wm = events.agg(org.apache.spark.sql.functions.max($"ts"))
        .head().getTimestamp(0).toInstant
        .minusSeconds(600) // 10-minute watermark delay
      // localCheckpoint BEFORE the cutoff filter — composed, the filter
      // pushes through the session aggregate as a per-event predicate
      // and truncates straddling sessions (rule 30; the volume stage
      // measured 310,429 vs the true 266,690)
      val batch = keyed(EventPipeline.sessions(events).localCheckpoint()
        .filter($"s_end" <= org.apache.spark.sql.functions.lit(
          java.sql.Timestamp.from(wm))))
      assert(streamed.nonEmpty && streamed === batch,
        s"stream emitted ${streamed.size} vs batch ${batch.size}")
    } finally q.stop()
  }
}
