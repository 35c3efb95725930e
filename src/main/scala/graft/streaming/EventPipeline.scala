package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming pipelines over the events table. Every transform
  * is defined against a DataFrame so the same code runs in batch (tests,
  * backfills) and as a streaming query (readStream → writeStream) —
  * Spark's unified-API contract.
  *
  * The reference engine has no streaming surface at all (SURVEY.md §2.8);
  * this is north-star extension territory: watermarked windowed
  * aggregation, native session windows, and custom keyed state via
  * mapGroupsWithState.
  */
object EventPipeline {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserRunning(
      user_id: Long, n_events: Long, total_value: Double)

  /** Watermarked tumbling-window counts per event type. On a stream this
    * emits append-mode finalized windows; in batch it is a plain window
    * aggregation. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      // decimal sum: exact and partition-order-independent, so streaming
      // output hash-matches the batch oracle
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Native session windows: activity sessions per user closed by a
    * 30-minute gap. Decimal value sum for the same reason as
    * [[windowedCounts]]: exact and partition-order-independent, so the
    * streamed append-mode output can hash-match a batch oracle. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Custom keyed state: running per-user totals via mapGroupsWithState —
    * the escape hatch for state machines session_window can't express. */
  def runningTotals(spark: SparkSession, events: Dataset[Event]): Dataset[UserRunning] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserRunning(userId, n, v)
          state.update(next)
          next
      }
  }

  final case class LedgerEntry(
      event_id: Long, user_id: Long, running_n: Long, running_value: Double)

  /** Per-event running ledger via flatMapGroupsWithState: every event is
    * emitted with its user's cumulative count and value so far — the
    * one-row-in/N-rows-out custom-state shape mapGroupsWithState can't
    * express. Events are processed in event_id order inside each group
    * (the group iterator has no order guarantee), and value accumulates
    * in integer CENTS in the state, so the running sums are exact and
    * replayable: a double fold would make the output depend on rounding
    * history, and a cumulative-window SQL mirror could sum in a
    * different association order. State per user is two longs. */
  def runningLedger(
      spark: SparkSession, events: Dataset[Event]): Dataset[LedgerEntry] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[(Long, Long)]) =>
          var (n, cents) = state.getOption.getOrElse((0L, 0L))
          val out = batch.toIndexedSeq.sortBy(_.event_id).map { e =>
            n += 1
            cents += math.round(e.value * 100)
            LedgerEntry(e.event_id, userId, n, cents.toDouble / 100.0)
          }
          state.update((n, cents))
          out.iterator
      }
  }

  /** Streaming exact dedup: first arrival per key wins, with state
    * expiring at the watermark — the streaming face of the dedup suite
    * (bounded state, unlike a batch distinct over an infinite stream). */
  def streamingDedupKeys(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** Stream-static enrichment: each event joined with a static dimension
    * (broadcast per micro-batch — the standard lookup-join; no state).
    * The dimension's key column is dropped after the join: if it shares a
    * name with an event column (e.g. user_id), keeping both would leave a
    * duplicate, unaddressable name downstream (AMBIGUOUS_REFERENCE on any
    * later col("user_id") — the condition JoinNaming exists to prevent). */
  def enriched(events: DataFrame, dim: DataFrame, dimKey: String): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Stream-stream inner join: purchases matched to the clicks that
    * preceded them by at most `lookbackMin` minutes, per user. Both sides
    * are watermarked so the state store can evict: a click older than the
    * purchase watermark minus the lookback can never match again and is
    * dropped — the bounded-state contract that makes the join run forever.
    * In append mode the emitted pairs equal the batch interval join, which
    * is the oracle. */
  def purchaseClickJoin(events: DataFrame, lookbackMin: Int = 10): DataFrame = {
    // The watermark delay must cover the lookback: a click watermarked
    // tighter than lookbackMin would have its state evicted while a
    // purchase inside the window could still arrive, silently dropping
    // pairs in multi-batch streams.
    val wm = s"$lookbackMin minutes"
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", wm)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", wm)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackMin MINUTE") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("c_id"))
  }

  /** Start a streaming query with `n` shuffle partitions, restoring the
    * session's setting afterwards. Stateful operators keep one (or two,
    * for a stream-stream join) keyed state stores PER PARTITION, and the
    * per-batch open/commit overhead scales with store count, not data —
    * so streaming state partitioning should track key volume / executor
    * count, not the batch shuffle default (2.2× on the stream-stream
    * join at sf0.1). The count is pinned at first start by the
    * checkpoint, so restoring the conf after start() is safe. */
  def withStreamPartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** One-time staging of the events table as three LSN-ordered chunk
    * files (ascending event_id ranges, ascending mtimes) so the file
    * source under maxFilesPerTrigger=1 delivers them as three ordered
    * micro-batches — the shape of a CDC log arriving over time. Range
    * (not modulo) chunking matters: the cumulative upsert is only
    * equivalent to the global latest-wins merge when later batches
    * carry later LSNs. Staging utility, not an operator path — the one
    * driver-side max() here prices a test fixture, not a query plan. */
  private val cdcChunkDirs = scala.collection.concurrent.TrieMap[String, String]()
  def cdcChunksDir(spark: SparkSession, sfDir: String): String =
    cdcChunkDirs.getOrElseUpdate(sfDir, {
      val dir = graft.queries.Staging.tempDir("graft_cdc_chunks")
      // raw read, NOT Tables.load: the chunks keep ts in whatever
      // physical form the source file carries (int64 on legacy nanos
      // boots, timestamp_ntz µs now) — eventsStream derives its schema
      // from the staged files and normalizes either form, so the
      // round-trip is representation-agnostic by construction.
      val ev = graft.Tables.readEventsRaw(spark, s"$sfDir/events.parquet")
      val mx = ev.agg(max(col("event_id"))).head().getLong(0)
      graft.queries.Staging.stageFrames((0 until 3).map { i =>
        val lo = i * (mx + 1) / 3
        val hi = (i + 1) * (mx + 1) / 3
        ev.filter(col("event_id") >= lo && col("event_id") < hi)
      }, dir.toString)
      dir.toString
    })

  /** Streaming CDC upsert: each micro-batch of the change log folds
    * into a persistent snapshot via Snapshot.cdcMerge — the lakehouse
    * MERGE INTO loop expressed with foreachBatch. Snapshots are
    * batchId-versioned (snap_N built from snap_N-1), so retries of a
    * batch overwrite their own output and stay idempotent. The final
    * snapshot equals the one-shot batch merge over the whole log
    * (q107's oracle IS the batch merge SQL) — the stream/batch parity
    * contract, same as the running-ledger query. */
  def startCdcUpsertQuery(
      spark: SparkSession, chunksDir: String, snapRoot: String,
      base: DataFrame, checkpoint: Option[String] = None) = {
    // purge snapshots from earlier RUNS only on a fresh start: a
    // checkpointed RESTART must find snap_{lastBatch} intact — that is
    // the very state the resumed batch chain folds onto. "Fresh" means
    // no usable checkpoint state EXISTS — not merely that no checkpoint
    // path was passed: a first run against a fresh (empty/nonexistent)
    // checkpoint dir is starting from batch 0 too, and leftover snap_N
    // dirs from an earlier longer run would otherwise survive and win a
    // latest-snapshot read (q107-style snaps.last picks the highest N).
    val freshStart = checkpoint.forall { cp =>
      val f = new java.io.File(cp.stripPrefix("file://").stripPrefix("file:"))
      !f.exists() || Option(f.listFiles()).forall(_.isEmpty)
    }
    if (freshStart) {
      val stale = Option(new java.io.File(snapRoot).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("snap_"))
      stale.foreach(graft.operators.Maintenance.rmTree)
    }
    withStreamPartitions(spark, 8) {
      val writer = eventsStream(spark, chunksDir, maxFilesPerTrigger = Some(1))
        .writeStream
        .outputMode(OutputMode.Append)
      checkpoint.foreach(c => writer.option("checkpointLocation", c))
      writer
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val prev =
            if (batchId == 0) base
            else spark.read.parquet(s"$snapRoot/snap_${batchId - 1}")
          val changes = batch.select(col("user_id").as("id"),
            when(col("event_type") === "error", "D").otherwise("U").as("op"),
            col("value").as("val"), col("event_id"))
          graft.operators.Snapshot
            .cdcMerge(prev, changes, key = "id", op = "op", seq = "event_id")
            .select(col("id"), col("val")) // row_src is per-merge, not cumulative
            .write.mode("overwrite").parquet(s"$snapRoot/snap_$batchId")
          ()
        }
        .start()
    }
  }

  /** Streaming source over an events parquet directory. A file stream
    * must be given an explicit schema — but a HARDCODED one silently
    * reinterprets the physical bytes when the data contract drifts
    * (round 7: the driver regenerated events.ts as TIMESTAMP(MICROS)
    * and the pinned LongType schema read the int64 micros as nanos,
    * compressing all event times 1000× — four wrong gate answers with
    * zero errors). So: derive the schema from a batch read of the same
    * files (one footer read), then apply the SAME ts normalization as
    * the batch path (Tables.normalizeTs), which branches on the actual
    * type and hard-fails on anything it doesn't recognize.
    *
    * An INITIALLY-EMPTY directory (the classic file-source pattern: the
    * stream starts before the first file lands) has nothing to derive
    * from, so it falls back to the pinned contract schema
    * (Tables.eventsContractSchema — canaried against the real files by
    * TestdataContractSpec). The fallback engages ONLY when the
    * directory genuinely holds no parquet yet; a populated directory
    * that fails to read keeps failing loudly. */
  def eventsStream(
      spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val hasParquet = {
      val f = new java.io.File(eventsDir)
      f.isFile && f.getName.endsWith(".parquet") ||
        Option(f.listFiles()).getOrElse(Array.empty)
          .exists(c => c.getName.endsWith(".parquet") || c.isDirectory)
    }
    val schema =
      if (hasParquet) graft.Tables.readEventsRaw(spark, eventsDir).schema
      else graft.Tables.eventsContractSchema
    val reader = spark.readStream.schema(schema)
    val withTrigger = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n)).getOrElse(reader)
    graft.Tables.normalizeTs(withTrigger.parquet(eventsDir))
  }

  private def toMemorySink(df: DataFrame, queryName: String) =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .start()

  def startWindowedQuery(
      spark: SparkSession, eventsDir: String, queryName: String) =
    withStreamPartitions(spark, 8) {
      toMemorySink(windowedCounts(eventsStream(spark, eventsDir)), queryName)
    }

  /** Hopping (sliding) windows: 10-minute windows every 5 minutes, so
    * each event contributes to exactly two overlapping windows — the
    * standard smoothing shape for rate dashboards. Same watermark /
    * append-mode contract as the tumbling query: a window is emitted
    * once its END clears the final watermark. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total_value"))

  def startHoppingQuery(
      spark: SparkSession, eventsDir: String, queryName: String) =
    withStreamPartitions(spark, 8) {
      toMemorySink(hoppingCounts(eventsStream(spark, eventsDir)), queryName)
    }

  /** [[sessions]] as a real stream (q225): the session-window state
    * machine merges a user's events ACROSS micro-batches until the
    * watermark passes the session's end — the statefulness the batch
    * spec can't exercise. Append mode emits a session once its end
    * (last event + gap) clears the final watermark, which is exactly
    * the cutoff the gaps-and-islands oracle replays. */
  def startSessionsQuery(
      spark: SparkSession, eventsDir: String, queryName: String) =
    withStreamPartitions(spark, 8) {
      toMemorySink(sessions(eventsStream(spark, eventsDir)), queryName)
    }

  def startDedupQuery(
      spark: SparkSession, eventsDir: String, queryName: String) =
    withStreamPartitions(spark, 8) {
      toMemorySink(streamingDedupKeys(eventsStream(spark, eventsDir)), queryName)
    }

  def startStreamJoinQuery(
      spark: SparkSession, eventsDir: String, queryName: String) =
    // 2, not the 8 the single-store queries use: a stream-stream join
    // keeps TWO state stores per partition (one per side), so its
    // per-batch floor is twice as steep in partition count, and the gate
    // corpus keys (hundreds of users) nowhere near saturate even 2.
    // Measured steady-state at sf0.1: 8 → ~2.6 s, 4 → ~2.2 s, 2 → ~1.9 s.
    // At real scale this knob tracks key volume/executor count, per the
    // withStreamPartitions contract below.
    withStreamPartitions(spark, 2) {
      toMemorySink(purchaseClickJoin(eventsStream(spark, eventsDir)), queryName)
    }

  /** foreachBatch sink: the escape hatch for sinks Structured Streaming
    * has no connector for (JDBC upserts, multi-table fan-out, …). Each
    * micro-batch arrives as a plain DataFrame; writing it to a
    * batchId-keyed path keeps retries idempotent (same batch → same path,
    * overwrite). Here each batch lands as hourly-aggregated parquet. */
  def startForeachBatchQuery(
      spark: SparkSession, eventsDir: String, outDir: String) = {
    // Each start is a fresh no-checkpoint stream, so batch numbering
    // restarts at 0: stale batch_N dirs from a previous invocation that
    // produced MORE batches would survive the per-batch overwrite and
    // double-count on read-back. Purge them up front.
    val stale = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
    stale.foreach(graft.operators.Maintenance.rmTree)
    withStreamPartitions(spark, 8) {
      startForeachBatchQueryInner(spark, eventsDir, outDir)
    }
  }

  private def startForeachBatchQueryInner(
      spark: SparkSession, eventsDir: String, outDir: String) =
    eventsStream(spark, eventsDir)
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .groupBy(date_trunc("hour", col("ts")).as("h"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        ()
      }
      .start()
}
