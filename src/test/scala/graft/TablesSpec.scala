package graft

import java.nio.file.{Files, Paths}

/** Tables.registerAll failure isolation + stream-vs-batch ts parity.
  * Round-7 lesson set in stone: (a) one table's schema drift must not take
  * down the other nine views (31 lineitem-only gate entries vanished when
  * events broke registerAll), and (b) the streaming source must read the
  * same wall-clock time as the batch loader (a hardcoded stream schema
  * silently compressed event times 1000×). */
class TablesSpec extends SparkSpec {

  test("registerAll isolates a poisoned table: other nine still query") {
    val dir = suiteTempDir("graft_poison")
    Tables.all.foreach { n =>
      if (n == "events")
        // a parquet whose ts type normalizeTs rejects (string) — the
        // poisoned-table stand-in for the next contract drift
        spark.range(3).selectExpr("CAST(id AS STRING) AS ts", "id AS event_id")
          .coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve("events.parquet").toString)
      else
        Files.copy(Paths.get(s"$sf0001/$n.parquet"), dir.resolve(s"$n.parquet"))
    }
    val s2 = spark.newSession()
    val failed = Tables.registerAll(s2, dir.toString)
    // the failure is machine-readable, not just a stderr WARN — both in
    // the per-call return and the JVM-wide breadcrumb Verify prints
    assert(failed === Set("events"))
    assert(Tables.registerFailuresSeen.get().contains("events"))
    // the nine healthy tables registered and answer queries
    assert(s2.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
    assert(s2.sql("SELECT count(*) FROM region").head().getLong(0) > 0)
    assert(s2.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
    // the poisoned one fails loudly at use, naming the culprit
    val e = intercept[Exception](s2.sql("SELECT count(*) FROM events").collect())
    assert(e.getMessage.contains("events"))
  }

  test("loading current µs events mutates no session conf (nanosAsLong stays unset)") {
    val s2 = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(!s2.conf.get(key, "false").toBoolean)
    val n = Tables.load(s2, sf0001, "events").count()
    assert(n > 0)
    assert(!s2.conf.get(key, "false").toBoolean,
      "events load set nanosAsLong on µs data — the legacy fallback " +
        "must only engage when schema inference actually fails")
  }

  test("normalizeTs still converts the legacy int64-nanos encoding") {
    // the legacy branch can't be exercised via parquet (Spark cannot
    // write TIMESTAMP(NANOS)), so pin the column-level conversion: raw
    // int64 nanos → µs wall clock, exact
    val df = spark.range(1).selectExpr(
      "CAST(1700000000123456789 AS BIGINT) AS ts", "id AS event_id")
    val out = Tables.normalizeTs(df).head().getTimestamp(0)
    assert(out.getTime === 1700000000123L) // ms part
    assert(out.getNanos === 123456000)     // µs precision, nanos floored
  }

  test("eventsStream starts on an initially-empty dir and reads files that land later") {
    // the classic file-source pattern: stream first, data later — the
    // schema comes from the pinned contract fallback, and must agree
    // with what the real file then delivers
    val dir = suiteTempDir("graft_empty_stream")
    val name = "empty_start_spec"
    val q = graft.streaming.EventPipeline.withStreamPartitions(spark, 2) {
      graft.streaming.EventPipeline.eventsStream(spark, dir.toString)
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("ts"))
        .writeStream.outputMode("append").format("memory").queryName(name).start()
    }
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() === 0)
      Files.copy(Paths.get(s"$sf0001/events.parquet"), dir.resolve("events.parquet"))
      q.processAllAvailable()
      val got = spark.table(name).count()
      val want = Tables.load(spark, sf0001, "events").count()
      assert(got === want, s"empty-start stream read $got rows, batch has $want")
    } finally q.stop()
  }

  test("stream ts min/max equals batch ts min/max (schema-drift tripwire)") {
    val dir = suiteTempDir("graft_ts_parity")
    Files.copy(Paths.get(s"$sf0001/events.parquet"), dir.resolve("events.parquet"))
    val name = "ts_parity_spec"
    val q = graft.streaming.EventPipeline.withStreamPartitions(spark, 2) {
      graft.streaming.EventPipeline.eventsStream(spark, dir.toString)
        .select(org.apache.spark.sql.functions.col("ts"))
        .writeStream.outputMode("append").format("memory").queryName(name).start()
    }
    try q.processAllAvailable() finally q.stop()
    val s = spark.table(name).selectExpr("min(ts)", "max(ts)").head()
    val b = Tables.load(spark, sf0001, "events").selectExpr("min(ts)", "max(ts)").head()
    assert(s.getTimestamp(0) == b.getTimestamp(0),
      s"stream min(ts)=${s.getTimestamp(0)} != batch ${b.getTimestamp(0)} — " +
        "streaming source is misreading the events time encoding")
    assert(s.getTimestamp(1) == b.getTimestamp(1),
      s"stream max(ts)=${s.getTimestamp(1)} != batch ${b.getTimestamp(1)} — " +
        "streaming source is misreading the events time encoding")
  }
}
