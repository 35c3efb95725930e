package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.Maintenance.rmTree
import graft.queries.Staging.stageFrames
import graft.streaming.EventPipeline

/** Streaming/state-store scale probe (round-8 verdict #3): the batch
  * operators have ScaleProbe; this drives the STATEFUL streaming
  * surface — the stream-stream join (q83 shape) and the CDC upsert
  * loop (q107 shape) — over a synthetic event stream ~100× the sf0.1
  * gate volume, recording per-batch latency and state-store rows from
  * the StreamingQueryListener, and asserting the stream/batch parity
  * contract (exactly-once: streamed output ≡ one-shot batch result) at
  * that volume.
  *
  * Event-time design: ts advances 10 ms per event (100 events/s), so
  * the 10-minute join lookback holds ~60k events in the state store —
  * state that SCALES with volume density, unlike the gate corpus where
  * the watermark keeps state near-empty. That is the surface CLAUDE.md
  * rule 10 is about: per-batch cost = state-store open/commit ×
  * partitions + state maintenance; the probe runs the join at two
  * partition counts to show where the rule's crossover sits at volume.
  *
  * Usage: runMain graft.tools.StreamScaleProbe [nEvents] [outDir]
  */
object StreamScaleProbe {

  /** Deterministic synthetic events in the gate contract's columns.
    * user count = n/200 keeps per-user click rates near the gate's, so
    * the join output stays ~linear in n rather than quadratic.
    * `usPerEvent` sets event-time density: the join's state holds the
    * 10-minute lookback window, i.e. 6e8/usPerEvent events of state —
    * the knob that sweeps state-store volume independently of n. */
  def events(spark: SparkSession, n: Long, usPerEvent: Long = 10000L): DataFrame = {
    val users = math.max(1000L, n / 200L)
    // INDEPENDENT seeded hash draws per attribute: user_id and
    // event_type from one shared hash are arithmetically correlated
    // (users is a multiple of 4, so h % users determines h % 4 — every
    // user gets exactly one event type and the join matches nothing)
    spark.range(n).toDF("event_id")
      .select(
        col("event_id"),
        // 100 events/sec of event time, strictly increasing with
        // event_id — chunk boundaries are then clean watermark
        // boundaries and append-mode join output equals the batch join
        timestamp_micros(lit(1700000000000000L) + col("event_id") * usPerEvent).as("ts"),
        pmod(xxhash64(col("event_id"), lit(1)), lit(users)).as("user_id"),
        element_at(array(lit("click"), lit("purchase"), lit("view"), lit("error")),
          (pmod(xxhash64(col("event_id"), lit(2)), lit(4)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("event_id"), lit(3)), lit(10000)).cast("double") / 100.0)
          .as("value"))
  }

  /** Stage `chunks` LSN-ordered parquet files (ascending event_id
    * ranges, ascending mtimes) — the multi-micro-batch arrival shape,
    * same contract as EventPipeline.cdcChunksDir but at probe volume. */
  private def stageChunks(
      spark: SparkSession, ev: DataFrame, n: Long, dir: String, chunks: Int): Unit =
    stageFrames(
      (0 until chunks).map { i =>
        val lo = i * n / chunks
        val hi = (i + 1) * n / chunks
        ev.filter(col("event_id") >= lo && col("event_id") < hi)
      }, dir)

  /** Collects (batchId, inputRows, triggerExecution ms, state rows)
    * per micro-batch — the latency-vs-state table the round-8 verdict
    * asked for. */
  private final class ProgressCollector extends StreamingQueryListener {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        if (p.numInputRows > 0) {
          val state = Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
          val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)
          batches += ((p.batchId, p.numInputRows, ms, state))
        }
      }
    def report(label: String): Unit = synchronized {
      batches.foreach { case (b, in, ms, st) =>
        println(f"[sprobe] $label%-22s batch=$b%2d rows=$in%9d state_rows=$st%8d trigger=$ms%6d ms")
      }
      batches.clear()
    }

    /** Per-batch trigger times (ms), without clearing — for stages that
      * assert latency flatness before report() prints and resets. */
    def triggerMs: Seq[Long] = synchronized(batches.map(_._3).toList)
  }

  private def time[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[sprobe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
    r
  }

  /** xxhash64-sum checksum over the join's output pairs — an
    * order-independent witness strong enough to call two 100×-volume
    * result sets identical without collecting either. */
  private def pairChecksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col("p_id"), col("c_id")).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L) // 100× sf0.1
    val out = args.lift(1).getOrElse("/tmp/graft_stream_probe")
    val usPerEvent = args.lift(2).map(_.toLong).getOrElse(10000L)
    val chunks = 10
    val spark = graft.Sessions.local(graft.Sessions.cores(32), 32)
    println(s"[sprobe] n_events=$n chunks=$chunks (~${n / chunks} events/micro-batch) " +
      s"us_per_event=$usPerEvent (~${600000000L / usPerEvent} events in the 10-min state window)")
    // optional 4th arg: comma-separated stage keys
    // (join,cdc,q153,q154,q158,q161,q223,s67,s68,s70)
    // — the r9 stages (join/cdc) are ~6 min at 10M events; per-stage
    // runs let the new ingest loops be measured without re-paying them
    val stageFilter = args.lift(3).map(_.split(",").map(_.trim).toSet)
    def on(k: String): Boolean = stageFilter.forall(_.contains(k))

    val chunksDir = s"$out/chunks"
    if (on("join") || on("cdc") || on("q161")) time("event gen + chunk staging") {
      stageChunks(spark, events(spark, n, usPerEvent), n, chunksDir, chunks)
    }
    val collector = new ProgressCollector
    spark.streams.addListener(collector)

    if (on("join")) joinStage(spark, collector, chunksDir, out)
    if (on("cdc")) cdcStage(spark, collector, chunksDir, out, n)
    if (on("q161")) q161Stage(spark, collector, chunksDir, out, n)
    if (on("q153")) q153Stage(spark, collector, out, nDocs = math.max(20000L, n / 50L))
    if (on("q154")) q154Stage(spark, collector, out, nImg = math.max(10000L, n / 200L))
    if (on("q158")) q158Stage(spark, collector, out, nDocs = math.max(20000L, n / 50L))
    if (on("q223")) q223Stage(spark, collector, out, nDocs = math.max(200000L, n / 50L))
    if (on("q225")) {
      if (!on("join") && !on("cdc") && !on("q161"))
        time("event gen + chunk staging (q225)") {
          stageChunks(spark, events(spark, n, usPerEvent), n, chunksDir, chunks)
        }
      q225Stage(spark, collector, chunksDir, out, n)
    }
    // s68 runs the delete→compact lifecycle against the store s67 just
    // built, so asking for s68 implies building/ingesting it first;
    // s70 retrains the store s68 left compacted (the lived-in state a
    // real retrain fires on), so it implies both
    if (on("s67") || on("s68") || on("s70"))
      s67Stage(spark, collector, out, nVec = math.max(100000L, n / 20L))
    if (on("s68") || on("s70"))
      s68Stage(spark, out, nVec = math.max(100000L, n / 20L))
    if (on("s70")) s70Stage(spark, out, nVec = math.max(100000L, n / 20L))

    spark.streams.removeListener(collector)
    spark.stop()
  }

  private def joinStage(
      spark: SparkSession, collector: ProgressCollector,
      chunksDir: String, out: String): Unit = {
    // ---- stream-stream join (q83 shape) at two partition counts ----
    // rule 10 says state partitions track state volume, not the batch
    // default; with ~60k state rows the crossover is measurable
    def runJoin(parts: Int): (Long, java.math.BigDecimal, Double) = {
      val sinkDir = s"$out/join_p$parts"
      val t0 = System.nanoTime()
      val q = EventPipeline.withStreamPartitions(spark, parts) {
        EventPipeline
          .purchaseClickJoin(EventPipeline.eventsStream(spark, chunksDir,
            maxFilesPerTrigger = Some(1)))
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.write.mode("overwrite").parquet(s"$sinkDir/batch_$batchId"); ()
          }
          .start()
      }
      try q.processAllAvailable() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      collector.report(s"join p=$parts")
      val (c, h) = pairChecksum(spark.read.parquet(s"$sinkDir/batch_*"))
      (c, h, wall)
    }
    val (c8, h8, w8) = time("q83 stream-stream join, 8 partitions")(runJoin(8))
    val (c64, h64, w64) = time("q83 stream-stream join, 64 partitions")(runJoin(64))
    println(f"[sprobe] join wall: p8=$w8%.1f s  p64=$w64%.1f s  (ratio ${w8 / w64}%.2f)")
    val (cb, hb) = pairChecksum(
      EventPipeline.purchaseClickJoin(spark.read.parquet(s"$chunksDir/chunk_*")))
    println(s"[sprobe] join pairs: stream_p8=$c8 stream_p64=$c64 batch=$cb")
    require(cb > 0, "probe produced no join pairs — event-mix generation broke")
    require(c8 == cb && h8 == hb,
      s"stream/batch parity broke at volume (p8): stream=$c8/$h8 batch=$cb/$hb")
    require(c64 == cb && h64 == hb,
      s"stream/batch parity broke at volume (p64): stream=$c64/$h64 batch=$cb/$hb")
    println(s"[sprobe] exactly-once: stream ≡ batch interval join — OK")
  }

  private def cdcStage(
      spark: SparkSession, collector: ProgressCollector,
      chunksDir: String, out: String, n: Long): Unit = {
    // ---- CDC upsert loop (q107 shape) ----
    val snapRoot = s"$out/snaps"
    val base = spark.range(0).select(col("id"), lit(0.0).as("val"))
    time("q107 cdc upsert, 10 micro-batches") {
      val q = EventPipeline.startCdcUpsertQuery(spark, chunksDir, snapRoot, base)
      try q.processAllAvailable() finally q.stop()
    }
    collector.report("cdc")
    val snaps = Option(new java.io.File(snapRoot).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("snap_")).map(_.getName).sorted
    val finalSnap = spark.read.parquet(s"$snapRoot/${snaps.last}")
    // one-shot batch merge over the whole log — the q107 oracle shape
    val all = spark.read.parquet(s"$chunksDir/chunk_*")
    val batchMerged = graft.operators.Snapshot.cdcMerge(
      base,
      all.select(col("user_id").as("id"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value").as("val"), col("event_id")),
      key = "id", op = "op", seq = "event_id").select(col("id"), col("val"))
    val diff = finalSnap.exceptAll(batchMerged)
      .unionByName(batchMerged.exceptAll(finalSnap)).count()
    val (ns, nb) = (finalSnap.count(), batchMerged.count())
    println(s"[sprobe] cdc snapshot rows: stream=$ns batch=$nb diff=$diff")
    require(diff == 0 && ns == nb,
      s"cdc stream/batch parity broke at volume: $ns vs $nb, diff=$diff")
    println(s"[sprobe] exactly-once: cumulative CDC upsert ≡ one-shot merge at $n events — OK")
  }

  /** q161 at volume (r9 verdict #4): the streaming HLL monitor over the
    * full event staging — per-batch latency, the bounded-partial-state
    * contract (≤ 256·|keys| rows per batch REGARDLESS of batch volume),
    * max-merge ≡ one-shot registers (the exactly-once-by-idempotence
    * claim, including a simulated at-least-once replay), and the final
    * estimate's error band. */
  private def q161Stage(
      spark: SparkSession, collector: ProgressCollector,
      chunksDir: String, out: String, n: Long): Unit = {
    import graft.operators.Frequency
    val regStore = s"$out/regstore"
    time("q161 streaming HLL, all micro-batches") {
      val q = graft.streaming.StreamingCardinality.start(spark, chunksDir, regStore)
      try q.processAllAvailable() finally q.stop()
    }
    collector.report("q161 hll")
    val batchDirs = Option(new java.io.File(regStore).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .sortBy(_.getName)
    // bounded-state contract: each partial ≤ 4 event types × 256 buckets
    batchDirs.foreach { d =>
      val c = spark.read.parquet(d.getAbsolutePath).count()
      println(s"[sprobe] q161 partial ${d.getName}: $c register rows")
      require(c <= 4 * 256,
        s"partial sketch ${d.getName} not bounded by keys·buckets: $c rows")
    }
    val all = spark.read.parquet(s"$chunksDir/chunk_*")
    val merged = spark.read
      .parquet(batchDirs.map(_.getAbsolutePath).toIndexedSeq: _*)
      .groupBy(col("event_type"), col("b")).agg(max(col("pmax")).as("pmax"))
      .localCheckpoint()
    val direct = graft.streaming.StreamingCardinality
      .batchRegisters(all, oracleHash = false)
    val regDiff = merged.exceptAll(direct)
      .unionByName(direct.exceptAll(merged)).count()
    require(regDiff == 0,
      s"max-merged partials diverged from one-shot registers: $regDiff rows")
    // at-least-once replay: re-merging with a DUPLICATE of one partial
    // must change nothing (idempotence measured, not assumed)
    val replay = spark.read
      .parquet((batchDirs.map(_.getAbsolutePath) :+
        batchDirs.head.getAbsolutePath).toIndexedSeq: _*)
      .groupBy(col("event_type"), col("b")).agg(max(col("pmax")).as("pmax"))
    val replayDiff = replay.exceptAll(merged)
      .unionByName(merged.exceptAll(replay)).count()
    require(replayDiff == 0,
      s"duplicate-partial replay changed the merge: $replayDiff rows")
    val exact = all.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val est = graft.streaming.StreamingCardinality
      .estimateFromStore(spark, regStore, exact).collect()
    est.foreach(r => println(f"[sprobe] q161 ${r.getString(0)}%-9s " +
      f"est=${r.getDouble(4)}%10.1f exact=${r.getLong(5)}%8d " +
      f"rel_err=${r.getDouble(6)}%.4f"))
    require(est.nonEmpty && est.forall(_.getDouble(6) < 0.2),
      s"q161 rel_err out of band at volume")
    println(s"[sprobe] exactly-once: streamed HLL ≡ one-shot registers at $n events — OK")
  }

  /** q154 at volume: the IMAGE ingest loop — decode-heavy micro-batches
    * against a persisted dHash store. Batches alternate NOVEL originals
    * (kept + appended) and VARIANT re-encodes; crucially, two variant
    * batches target images that entered the store as PRIOR NOVEL
    * BATCHES, not the seeded corpus — the settled-corpus-GROWS property
    * the 2-batch gate cannot see. Recall contract is m52's banding
    * (≥95%); novel batches must come back fully kept. */
  private def q154Stage(
      spark: SparkSession, collector: ProgressCollector,
      out: String, nImg: Long): Unit = {
    import graft.operators.Multimodal
    val specDir = s"$out/img_specs"
    val storeDir = s"$out/img_store"
    val sinkRoot = s"$out/img_sink"
    val chunk = nImg / 10
    println(s"[sprobe] q154 image store=$nImg seeded, 8 batches × $chunk " +
      "(even=novel originals, odd=variants; batches 3/7 re-encode PRIOR novels)")
    time("q154 image store seed (one-time, decode-heavy)") {
      Multimodal.writeImageSignatureStore(spark,
        spark.range(nImg).toDF("doc_id"), storeDir)
    }
    import spark.implicits._
    def spec(from: Long, n: Long, variant: Boolean) =
      spark.range(from, from + n).toDF("doc_id")
        .select(col("doc_id"), lit(variant).as("variant"))
    val batches = Seq(
      spec(2 * nImg, chunk, variant = false), // b0 novel
      spec(0, chunk, variant = true), // b1 variants of seeded corpus
      spec(2 * nImg + chunk, chunk, variant = false), // b2 novel
      spec(2 * nImg, chunk, variant = true), // b3 variants of b0's novels
      spec(2 * nImg + 2 * chunk, chunk, variant = false), // b4 novel
      spec(chunk, chunk, variant = true), // b5 variants of seeded corpus
      spec(2 * nImg + 3 * chunk, chunk, variant = false), // b6 novel
      spec(2 * nImg + chunk, chunk, variant = true)) // b7 variants of b2
    time("q154 spec chunk staging")(stageFrames(batches, specDir))
    time("q154 streaming image ingest, 8 micro-batches") {
      val q = graft.streaming.IngestImageDedup.start(
        spark, specDir, storeDir, sinkRoot)
      try q.processAllAvailable() finally q.stop()
    }
    collector.report("q154 image ingest")
    var dupFlagged = 0L
    var dupTotal = 0L
    (0 until 8).foreach { b =>
      val dec = spark.read.parquet(s"$sinkRoot/decisions/batch_$b")
        .localCheckpoint()
      val total = dec.count()
      val flagged = dec.filter(col("reason") === "corpus_dup").count()
      val kept = dec.filter(col("keep")).count()
      val isVar = b % 2 == 1
      val tag = if (isVar) { if (b == 3 || b == 7) "var-of-novel" else "var-of-seed" }
      else "novel"
      println(f"[sprobe] q154 batch=$b%2d $tag%-12s imgs=$total%6d " +
        f"corpus_dup=$flagged%6d kept=$kept%6d")
      if (isVar) { dupFlagged += flagged; dupTotal += total }
      else require(kept == total,
        s"novel image batch $b lost images: kept $kept/$total")
    }
    require(dupFlagged >= dupTotal * 95 / 100,
      s"image store-path recall broke across batches: $dupFlagged/$dupTotal")
    println(s"[sprobe] q154 recall $dupFlagged/$dupTotal across 4 variant batches " +
      "(incl. variants of PRIOR-batch novels) — settled corpus grows — OK")
  }

  /** q153 at volume (r9 verdict #4): dedup-at-the-door over many
    * micro-batches against a persisted signature store seeded with
    * `nDocs` settled documents — per-batch latency and store-append
    * growth as batches land (the axis the 2-batch gate can't see).
    * Batches alternate NOVEL (fresh docs that must all survive and be
    * appended) and DUP (near-dups of settled corpus docs that must be
    * flagged corpus_dup at the d53 banding contract ≥99.9%). */
  private def q153Stage(
      spark: SparkSession, collector: ProgressCollector,
      out: String, nDocs: Long): Unit = {
    val docsDir = s"$out/ingest_docs"
    val storeDir = s"$out/ingest_store"
    val sinkRoot = s"$out/ingest_sink"
    val corpus = ScaleProbe.corpus(spark, nDocs).localCheckpoint()
    val base = corpus.filter(col("doc_id") < nDocs)
    val dups = corpus.filter(col("doc_id") >= nDocs) // nDocs/20 planted near-dups
    val dupChunk = nDocs / 100 // 5 dup batches
    val novChunk = nDocs / 20 // 5 novel batches
    println(s"[sprobe] q153 corpus=$nDocs settled, 5 novel batches × $novChunk " +
      s"+ 5 dup batches × $dupChunk")
    time("q153 store seed (one-time)") {
      graft.operators.Dedup.writeSignatureStore(base, storeDir)
    }
    time("q153 doc chunk staging") {
      // interleave novel/dup arrivals: batch 2i = novel, 2i+1 = dups
      stageFrames((0 until 5).flatMap { i =>
        Seq(
          ScaleProbe.corpusAt(spark, 2 * nDocs + i * novChunk, novChunk),
          dups.filter(col("doc_id") >= nDocs + i * dupChunk &&
            col("doc_id") < nDocs + (i + 1) * dupChunk))
      }, docsDir)
    }
    time("q153 streaming ingest dedup, 10 micro-batches") {
      val q = graft.streaming.IngestDedup.start(
        spark, docsDir, storeDir, sinkRoot, threshold = 0.5, maxDf = 200)
      try q.processAllAvailable() finally q.stop()
    }
    collector.report("q153 ingest")
    // per-batch decisions + cumulative store growth (signatures rows)
    val sigBase = spark.read.parquet(s"$storeDir/signatures").count()
    var appended = 0L
    var dupFlagged = 0L
    var dupTotal = 0L
    (0 until 10).foreach { b =>
      val dec = spark.read.parquet(s"$sinkRoot/decisions/batch_$b")
        .localCheckpoint()
      val total = dec.count()
      val isDup = b % 2 == 1
      val flagged = dec.filter(col("reason") === "corpus_dup").count()
      val kept = dec.filter(col("keep")).count()
      val sigTag = new java.io.File(f"$storeDir/signatures/batch_$b%05d")
      val sigRows =
        if (sigTag.isDirectory) spark.read.parquet(sigTag.getAbsolutePath).count()
        else 0L
      appended += sigRows
      println(f"[sprobe] q153 batch=$b%2d ${if (isDup) "dup  " else "novel"} " +
        f"docs=$total%7d corpus_dup=$flagged%7d kept=$kept%7d " +
        f"store_append=$sigRows%7d store_now=${sigBase + appended}%8d")
      if (isDup) { dupFlagged += flagged; dupTotal += total }
      else {
        require(kept == total,
          s"novel batch $b lost docs to false dedup: kept $kept/$total")
        require(sigRows == kept,
          s"store append drifted from survivors in batch $b: $sigRows vs $kept")
      }
    }
    require(dupTotal == 5 * dupChunk, s"dup batches drifted: $dupTotal")
    require(dupFlagged >= dupTotal * 999 / 1000,
      s"store-path recall broke across batches: $dupFlagged/$dupTotal")
    println(s"[sprobe] q153 recall $dupFlagged/$dupTotal across 5 dup batches; " +
      s"store grew $sigBase → ${sigBase + appended} signatures (survivors only) — OK")
  }

  /** s67 at volume: the streaming vector-ingest loop against a growing
    * IVF store. Scale claims measured: (1) FLATNESS — the write path is
    * one projection + one partition-local parquet write per batch, so
    * trigger latency must not grow as the postings accumulate; (2)
    * exactly-once — the final postings count equals base + arrivals
    * exactly (batch-keyed overwrite subdirs); (3) serving — a query
    * whose near-dups arrived spread across every batch must get ALL of
    * them back from the store at top ranks. Run the stage alone (the
    * flatness read uses the shared listener). */
  private def s67Stage(
      spark: SparkSession, collector: ProgressCollector,
      out: String, nVec: Long): Unit = {
    // stage is re-runnable: a stale checkpoint from a prior run would
    // mark the staged files already-processed against a REBUILT base
    // (zero ingested batches, postings assert trips on the wrong thing)
    Seq("s67_ivf", "s67_in", "s67_chk").foreach { d =>
      rmTree(new java.io.File(s"$out/$d"))
    }
    val dims = sequence(lit(1), lit(64))
    def comp(seed: org.apache.spark.sql.Column) =
      (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
        - lit(1.0)).cast("float")
    val base = spark.range(nVec).select(col("id").as("vec_id"),
      transform(dims, i => comp(col("id") * 64 + i)).as("embedding"),
      lit(0).as("label"))
    val index = s"$out/s67_ivf"
    time("s67 base index build")(
      graft.operators.Similarity.writeIvfIndex(base, index))
    val batches = 10
    val bSize = nVec / 25
    println(s"[sprobe] s67 base=$nVec vectors, $batches batches x " +
      s"${bSize + 1} arrivals (1 planted near-dup of vec 0 per batch)")
    val staged = (0 until batches).map { b =>
      val off = nVec + b.toLong * bSize
      spark.range(bSize).select((col("id") + off).as("vec_id"),
          transform(dims, i => comp((col("id") + off) * 64 + i))
            .as("embedding"),
          lit(0).as("label"))
        .unionByName(spark.range(1).select(
          lit(10 * nVec + b).cast("long").as("vec_id"),
          // lit(0L) * 64 + i keeps the seed LONG: xxhash64 is
          // type-sensitive, so an INT seed would hash to an unrelated
          // vector instead of vec 0's (the s43 stage's exact idiom)
          transform(dims, i => (comp(lit(0L) * 64 + i) + lit(0.004f))
            .cast("float")).as("embedding"),
          lit(0).as("label")))
        .localCheckpoint()
    }
    time("s67 batch staging")(stageFrames(staged, s"$out/s67_in"))
    time(s"s67 streaming ingest, $batches micro-batches") {
      val q = graft.streaming.IngestVectors.start(
        spark, s"$out/s67_in", index, s"$out/s67_chk")
      try q.processAllAvailable() finally q.stop()
    }
    val trig = collector.triggerMs
    if (trig.size >= 6) {
      val head3 = trig.take(3).sum.toDouble / 3
      val tail3 = trig.takeRight(3).sum.toDouble / 3
      require(tail3 <= 2 * head3 + 500,
        s"s67 per-batch latency grew with store size: " +
          s"first3=$head3 ms last3=$tail3 ms")
    }
    collector.report("s67 vector ingest")
    val total = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${graft.operators.Similarity.ivfVersionDir(index)}/cells")
      .count()
    require(total == nVec + batches * (bSize + 1),
      s"s67 postings count off (not exactly-once?): $total")
    // nProbe = 16 (all cells): this asserts the arrivals are PRESENT
    // and SERVABLE through the store search path — quantizer recall on
    // RANDOM vectors is meaningless (sign-bucket centroids of isotropic
    // noise are ~zero, so centroid-cosine probe order is arbitrary;
    // measured: the planted copies share the query's cell, but that
    // cell ranks outside any top-2 probe), and recall-vs-nProbe has its
    // own probes (s43/s60) on clustered data where probing works.
    val got = graft.operators.Similarity.searchIvfIndex(spark,
      base.filter(col("vec_id") === 0), index, k = batches, nProbe = 16)
      .collect().map(_.getLong(1)).toSet
    val want = (0 until batches).map(b => 10 * nVec + b).toSet
    println(s"[sprobe] s67 postings=$total " +
      s"planted arrivals served=${got.intersect(want).size}/$batches")
    require(got == want, s"s67 planted arrivals not served: $got")
  }

  /** s66/s67/s68 lifecycle end-to-end at the s67 store (r11 directive
    * #3a): against the just-ingested ~700k-postings index, (1) measure
    * baseline serving latency for a ~100-query batch; (2) tombstone 10%
    * of the base postings and re-measure — the grown tombstone set's
    * broadcast anti-join cost is THE number the LSM design pays between
    * compactions; (3) assert the logical delete serves exactly the
    * pre-delete ranking with deleted ids removed (the "logical ≡
    * never-ingested" spec theorem, re-proven at volume on real
    * rankings); (4) compact — file count must drop, tombstones must
    * clear, postings must equal the live count; (5) re-measure and
    * assert search-before ≡ search-after BIT-FOR-BIT (floats round-trip
    * parquet exactly; compaction may only re-layout). */
  private def s68Stage(spark: SparkSession, out: String, nVec: Long): Unit = {
    val index = s"$out/s67_ivf"
    def vdir() = graft.operators.Similarity.ivfVersionDir(index)
    require(new java.io.File(s"${vdir()}/cells").exists(), "s67 store missing")
    val dims = sequence(lit(1), lit(64))
    def comp(seed: org.apache.spark.sql.Column) =
      (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
        - lit(1.0)).cast("float")
    // ~100 deterministic queries rebuilt with the SAME seed arithmetic
    // as the base build (rule 19: keep the hash input LONG end to end)
    val queries = spark.range(nVec).filter(col("id") % 5081 === 17)
      .select(col("id").as("vec_id"),
        transform(dims, i => comp(col("id") * 64 + i)).as("embedding"))
      .localCheckpoint()
    val nQ = queries.count()
    // min-of-2 with a GC nudge before each sample (the Bench protocol,
    // rule 15): single-sample store searches on this VM swing 3-10x
    // with page-cache/GC state (measured r13: 38.8 s vs 7.6 s for the
    // SAME search on the same store minutes apart), which would make
    // any quoted serving-cost comparison meaningless.
    def timedSearch(tag: String, k: Int): Array[org.apache.spark.sql.Row] = {
      var best = Double.MaxValue
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      (1 to 2).foreach { _ =>
        System.gc()
        val t0 = System.nanoTime()
        rows = graft.operators.Similarity
          .searchIvfIndex(spark, queries, index, k = k, nProbe = 16)
          .collect()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[sprobe] s68 $tag: min-of-2 $best%.2f s " +
        s"($nQ queries, ${rows.length} result rows)")
      rows
    }
    def parquetFiles(): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(s"${vdir()}/cells")) // re-resolve: compaction commits a new version
    }
    // The serving-cost readout compares k=10 against k=10 (VERDICT r12
    // #3: the r12 numbers compared pre-delete k=20 vs post-delete k=10,
    // confounding the tombstone anti-join cost with the k difference).
    // The k=20 scan below is NOT a serving-cost number — it exists to
    // derive the expected post-delete ranking (top-20 minus deleted,
    // cut at 10).
    timedSearch("pre-delete search (k=10, the serving baseline)", 10)
    val before = timedSearch("pre-delete expected-set scan (k=20)", 20)
    // tombstone 10% of the BASE postings
    val dels = spark.range(nVec).filter(col("id") % 10 === 3)
      .select(col("id").as("vec_id"))
    val t0 = System.nanoTime()
    graft.operators.Similarity.deleteFromIvfIndex(dels, index)
    println(f"[sprobe] s68 delete (${nVec / 10} tombstones appended): " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s — no postings rewrite")
    val withTomb = timedSearch("post-delete search (tombstone anti-join)", 10)
    def deleted(id: Long): Boolean = id < nVec && id % 10 == 3
    require(!withTomb.exists(r => deleted(r.getLong(1))),
      "a tombstoned posting was served")
    // logical ≡ never-ingested: post-delete top-10 must be EXACTLY the
    // pre-delete top-20 with deleted ids removed, re-ranked, cut at 10
    val expected = before.groupBy(_.getLong(0)).toSeq.flatMap { case (q, rs) =>
      rs.sortBy(_.getInt(3)).filterNot(r => deleted(r.getLong(1))).take(10)
        .zipWithIndex.map { case (r, i) => (q, r.getLong(1), i + 1L) }
    }.toSet
    val gotTomb = withTomb.map(r => // rank is row_number -> INT
      (r.getLong(0), r.getLong(1), r.getInt(3).toLong)).toSet
    require(gotTomb == expected,
      s"logical delete diverged from filtered ranking: " +
        s"${(gotTomb -- expected).take(3)} vs ${(expected -- gotTomb).take(3)}")
    val filesBefore = parquetFiles()
    val t1 = System.nanoTime()
    graft.operators.Similarity.compactIvfIndex(spark, index)
    val filesAfter = parquetFiles()
    println(f"[sprobe] s68 compaction: ${(System.nanoTime() - t1) / 1e9}%.2f s; " +
      s"files $filesBefore -> $filesAfter; tombstones cleared=" +
      s"${!new java.io.File(s"${vdir()}/tombstones").exists()}")
    require(filesAfter < filesBefore,
      s"compaction did not shrink the file count: $filesBefore -> $filesAfter")
    require(!new java.io.File(s"${vdir()}/tombstones").exists(),
      "the compacted version carries a tombstone set")
    val live = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${vdir()}/cells").count()
    val expectedLive = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${vdir()}/cells").filter(col("vec_id") % 10 === 3 &&
        col("vec_id") < nVec).count() // must be 0, checked via the total below
    val after = timedSearch("post-compact search", 10)
    // search invariance, bit-for-bit (q_id, vec_id, rank, cos)
    val gotAfter = after.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(2))).toSet
    val gotTombFull = withTomb.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(2))).toSet
    require(gotAfter == gotTombFull,
      "compaction changed search results (invariance theorem broke at volume)")
    println(s"[sprobe] s68 live postings=$live (deleted remaining=$expectedLive), " +
      "pre/post-compact rankings identical — OK")
    require(expectedLive == 0, s"compaction kept tombstoned postings: $expectedLive")
  }

  /** s70 at volume (VERDICT r12 directive #2 — retrain was the one
    * lifecycle verb with spec-only evidence): quantizer retrain against
    * the lived-in s67/s68 store (streamed-in arrivals, tombstoned,
    * compacted) UNDER A LIVE QUERY BATCH. Measured claims:
    * (1) retrain ≡ from-scratch — the retrained store must serve
    * BIT-identical rankings to a fresh [[Similarity.writeIvfIndex]]
    * over the same live vectors with the same (nBits, seed), re-proven
    * at the ~650k-posting store, not the 500-row spec corpus;
    * (2) blue/green under the MANIFEST commit (r14: the q224 primitive
    * adopted inside the store — VERDICT r13 directive #2): a reader
    * polling THROUGHOUT the retrain keeps being served, and every
    * successful read is classified against the pre-retrain and
    * post-retrain result sets (old / new / other). The pre-r14
    * four-rename swap had a measured ≤1 transient reader error in its
    * window; with (cells, centroids) committed as one versioned
    * directory + atomic manifest flip, and the superseded version
    * retained until an explicit prune, the stage now requires ZERO
    * transient errors and ZERO mixed (other) reads — at least one
    * "old" read proves readers really overlapped the rebuild;
    * (3) wall cost — the retrain (full re-assignment + centroid
    * rebuild + commit) is timed, the number a maintenance scheduler
    * budgets against;
    * (4) serving latency before vs after at matched k;
    * (5) retention — pruning after the flip drops the superseded
    * version without touching the served one. */
  private def s70Stage(spark: SparkSession, out: String, nVec: Long): Unit = {
    val index = s"$out/s67_ivf"
    def vdir() = graft.operators.Similarity.ivfVersionDir(index)
    require(new java.io.File(s"${vdir()}/cells").exists(), "s67 store missing")
    val dims = sequence(lit(1), lit(64))
    def comp(seed: org.apache.spark.sql.Column) =
      (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
        - lit(1.0)).cast("float")
    val queries = spark.range(nVec).filter(col("id") % 5081 === 17)
      .select(col("id").as("vec_id"),
        transform(dims, i => comp(col("id") * 64 + i)).as("embedding"))
      .localCheckpoint()
    val nQ = queries.count()
    // nProbe = 4 (quantizer-SENSITIVE serving): probing every cell
    // would make the search exhaustive and quantizer-INVARIANT — the
    // first r13 run compared retrained vs from-scratch through an
    // all-cells search that could not tell them apart (before == after
    // bit-for-bit). At nProbe=4 the probe order, and therefore the
    // result, depends on the planes AND the centroids — the equality
    // below actually tests the rebuilt quantizer.
    def resultSet(dir: String): Set[(Long, Long, Int, Double)] =
      graft.operators.Similarity
        .searchIvfIndex(spark, queries, dir, k = 10, nProbe = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(2)))
        .toSet
    def timed(tag: String)(body: => Set[(Long, Long, Int, Double)]) = {
      // min-of-2 + GC nudge, same rationale as s68's timedSearch
      System.gc()
      val t0 = System.nanoTime()
      val s1 = body
      val dt1 = (System.nanoTime() - t0) / 1e9
      System.gc()
      val t1 = System.nanoTime()
      val s = body
      val dt = math.min(dt1, (System.nanoTime() - t1) / 1e9)
      require(s == s1, s"s70 $tag: search not deterministic run-to-run")
      println(f"[sprobe] s70 $tag: min-of-2 $dt%.2f s " +
        s"($nQ queries, ${s.size} result rows)")
      s
    }
    // live content snapshot BEFORE retrain — the from-scratch arm's input
    val preVdir = vdir()
    val live = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$preVdir/cells").drop("cell").localCheckpoint()
    val nLive = live.count()
    val before = timed("pre-retrain search (k=10)")(resultSet(index))
    // live readers: poll the store continuously while the retrain runs
    val reads =
      new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Set[(Long, Long, Int, Double)])]()
    @volatile var retraining = true
    val reader = new Thread(() => {
      while (retraining) {
        try reads.add((true, resultSet(index)))
        catch { case _: Throwable => reads.add((false, Set.empty)) }
      }
    })
    reader.setDaemon(true)
    reader.start()
    val t0 = System.nanoTime()
    graft.operators.Similarity.retrainIvfIndex(
      spark, index, nBits = 5, seed = 11L)
    val retrainSec = (System.nanoTime() - t0) / 1e9
    retraining = false
    reader.join(120000)
    println(f"[sprobe] s70 retrain of $nLive%d live postings " +
      f"(4->5 bit quantizer, re-assign + centroids + manifest commit): " +
      f"$retrainSec%.2f s")
    // the commit flipped to a fresh self-contained version (no
    // tombstones carried) and retained the superseded one for
    // in-flight readers
    val postVdir = vdir()
    require(postVdir != preVdir, "retrain did not commit a new version")
    require(!new java.io.File(s"$postVdir/tombstones").exists(),
      "the retrained version carries a tombstone set")
    require(new java.io.File(s"$preVdir/cells").exists(),
      "commit destroyed the superseded version before any prune")
    val after = timed("post-retrain search (k=10)")(resultSet(index))
    // classify every mid-retrain read — if-else so a read can only
    // land in ONE bucket (the first r13 run double-counted a read that
    // matched both sides of a quantizer-invariant search)
    val rs = reads.toArray(Array.empty[(Boolean, Set[(Long, Long, Int, Double)])])
    var (nOld, nNew, nErr, nOther) = (0, 0, 0, 0)
    rs.foreach { case (ok, s) =>
      if (!ok) nErr += 1
      else if (s == before) nOld += 1
      else if (s == after) nNew += 1
      else nOther += 1
    }
    println(s"[sprobe] s70 live-reader reads during retrain: ${rs.length} " +
      s"(old=$nOld new=$nNew transient-error=$nErr mixed-other=$nOther)")
    require(nOld >= 1,
      "no reader was served the old index during the rebuild phase " +
        "(retrain too fast relative to a read? widen the store)")
    // THE r14 claim: the manifest commit has no window at all — a
    // reader resolves the manifest first and opens a version that is
    // entirely old or entirely new. Zero transient errors, zero mixed
    // reads (the pre-r14 four-rename swap measured ≤1 here).
    require(nErr == 0 && nOther == 0,
      s"manifest commit must leave no reader window: " +
        s"err=$nErr other=$nOther")
    // retention: pruning now drops the superseded version and cannot
    // touch the served one (readers have drained — the thread joined)
    graft.operators.Maintenance.pruneVersions(index, keep = 0)
    require(!new java.io.File(preVdir).exists(),
      "prune left the superseded version")
    require(resultSet(index) == after, "prune changed the served results")
    // retrain ≡ from-scratch at volume, bit-for-bit
    val freshDir = s"$out/s70_fresh"
    rmTree(new java.io.File(freshDir))
    time("s70 from-scratch rebuild (the reference arm)")(
      graft.operators.Similarity.writeIvfIndex(
        live, freshDir, nBits = 5, seed = 11L))
    val fresh = timed("from-scratch search (k=10)")(resultSet(freshDir))
    require(after == fresh,
      s"retrained store diverged from the from-scratch rebuild at volume: " +
        s"${(after -- fresh).take(3)} vs ${(fresh -- after).take(3)}")
    val maxCell = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${vdir()}/cells").agg(max(col("cell"))).head().getLong(0)
    require(maxCell > 15L, s"retrained cells still 4-bit: max=$maxCell")
    println(s"[sprobe] s70 retrain ≡ from-scratch at $nLive postings, " +
      s"max cell=$maxCell (5-bit quantizer live) — OK")
  }

  /** q225 at volume (r14): the native session_window state machine at
    * 10M events / ~50k concurrent user sessions. The gate (q225) and
    * spec pin correctness at fixture scale; this stage measures what
    * only volume shows: (1) stream ≡ batch EXACT — the union of
    * append-mode emissions across 10 micro-batches equals the batch
    * islands computation filtered by the final watermark, checksummed
    * without collecting either side (sessions MERGE across batch
    * boundaries in state, and boundary-spanning sessions are asserted
    * present, so the equality exercises the merge path, not just
    * intra-batch grouping); (2) state growth tracks OPEN sessions
    * (~|users|), not event volume — the session-window analog of the
    * q83 bounded-state contract; (3) per-batch trigger cost as state
    * accumulates. */
  private def q225Stage(
      spark: SparkSession, collector: ProgressCollector,
      chunksDir: String, out: String, n: Long): Unit = {
    import graft.streaming.EventPipeline
    val sinkDir = s"$out/sessions_sink"
    time("q225 streaming sessions, 10 micro-batches") {
      val q = EventPipeline.withStreamPartitions(spark, 8) {
        EventPipeline.sessions(
          EventPipeline.eventsStream(spark, chunksDir,
            maxFilesPerTrigger = Some(1)))
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.write.mode("overwrite").parquet(s"$sinkDir/batch_$id"); ()
          }
          .start()
      }
      try q.processAllAvailable() finally q.stop()
    }
    collector.report("q225 sessions")
    def checksum(df: DataFrame): (Long, java.math.BigDecimal, Long) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("user_id"), col("s_start").cast("long"),
          col("s_end").cast("long"), col("n_events"))
          .cast("decimal(38,0)")),
        sum((col("total_value") * 100).cast("long"))).head()
      (r.getLong(0), r.getDecimal(1), r.getLong(2))
    }
    val streamed = checksum(spark.read.parquet(s"$sinkDir/batch_*"))
    val events = spark.read.parquet(s"$chunksDir/chunk_*").localCheckpoint()
    val wm = events.agg(max(col("ts"))).head().getTimestamp(0).toInstant
      .minusSeconds(600)
    // the lineage cut between the session aggregate and the cutoff
    // filter is LOAD-BEARING (CLAUDE.md rule 30, found BY this stage):
    // composed, Catalyst pushes `s_end <= wm` through the aggregation
    // as a per-EVENT `ts + gap <= wm`, truncating every
    // cutoff-straddling session and then counting its shrunken end as
    // emitted — 310,429 vs the true 266,690 at this volume
    val batchSessions = EventPipeline.sessions(events)
      .localCheckpoint()
      .filter(col("s_end") <= lit(java.sql.Timestamp.from(wm)))
    val batch = checksum(batchSessions)
    println(s"[sprobe] q225 sessions: streamed=${streamed._1} batch=${batch._1}")
    require(streamed == batch,
      s"streamed sessions diverged from batch islands: $streamed vs $batch")
    // the merge path was actually exercised: sessions spanning a
    // micro-batch boundary exist (chunks split at event_id = k·n/10,
    // whose ts is the boundary instant)
    val bounds = (1 until 10).map(k => events
      .filter(col("event_id") === k * n / 10)
      .select(col("ts")).head().getTimestamp(0))
    val spanning = batchSessions.filter(
      bounds.map(b => col("s_start") < lit(b) && col("s_end") > lit(b))
        .reduce(_ || _)).count()
    println(s"[sprobe] q225 boundary-spanning sessions=$spanning " +
      s"(state merged across micro-batches) — OK")
    require(spanning > 0, "no session spanned a batch boundary — " +
      "the stage no longer exercises cross-batch state merge")
  }

  /** q223 at volume (VERDICT r13 directive #6): the streaming HT token
    * accountant over 10 document micro-batches at probe scale, with a
    * FORCED batch replay mid-stream driven through the CHECKPOINT — the
    * query is stopped after ~half the batches, the newest commit marker
    * is deleted, and the restart re-executes that batch from the offset
    * log before draining the rest: the real at-least-once redelivery
    * path, not the spec's hand-rewrite of a partial. Claims measured:
    * (1) stream ≡ batch EXACT at volume, across a stop/replay/resume —
    *     every tally is an integer sum and every write is batchId-keyed
    *     overwrite, so the merged report equals the one-shot batch
    *     accounting bit-for-bit;
    * (2) per-batch cost — the corpus text is read once at the door and
    *     reduced map-side; trigger latency must stay flat as partials
    *     accumulate (state lives in the store, not the stream);
    * (3) state growth = batch count × |sources| rows, independent of
    *     corpus volume;
    * (4) the r13 ANSI watch item at its trigger scale: one planted
    *     book-length document (2.2M tokens > 2^21) rides the clamped
    *     kept-predicate without a throw and lands in its source's
    *     true_tokens exactly (pre-clamp this stage would die with
    *     SparkArithmeticException the moment chunk 5 arrived). */
  private def q223Stage(
      spark: SparkSession, collector: ProgressCollector,
      out: String, nDocs: Long): Unit = {
    import graft.operators.Sampling
    val docsDir = s"$out/acct_docs"
    val store = s"$out/acct_tallies"
    val ckpt = s"$out/acct_ckpt"
    Seq(docsDir, store, ckpt).foreach(d => rmTree(new java.io.File(d)))
    // varied sources and lengths: 5 sources, 20..416 tokens per doc
    // (independent seeded hashes per attribute — rule 19), plus ONE
    // book-length outlier: 2.2M tokens, past the pre-clamp ANSI throw
    // threshold 2^21 and far past certainAt = 2^10 (always sampled,
    // HT contribution exactly w — no estimate variance from one
    // monster doc)
    val srcCol = element_at(
      array(lit("web"), lit("books"), lit("code"), lit("wiki"), lit("forums")),
      (pmod(xxhash64(col("doc_id"), lit(1)), lit(5)) + 1).cast("int"))
    val base = spark.range(nDocs).toDF("doc_id")
      .select(col("doc_id"), srcCol.as("source"),
        (pmod(xxhash64(col("doc_id"), lit(2)), lit(100)) + 5).cast("int")
          .as("reps"))
      // functions.repeat only takes a literal count — the column-count
      // form goes through the SQL function
      .select(col("doc_id"), col("source"),
        expr("repeat('lorem ipsum dolor sit ', reps)").as("text"))
    val giant = spark.range(nDocs, nDocs + 1).toDF("doc_id")
      .select(col("doc_id"), lit("books").as("source"),
        repeat(lit("tok "), 2200000).as("text"))
    val chunk = nDocs / 10
    time("q223 doc chunk staging") {
      stageFrames((0 until 10).map { i =>
        val part = base.filter(
          col("doc_id") >= i * chunk && col("doc_id") < (i + 1) * chunk)
        if (i == 5) part.unionByName(giant) else part
      }, docsDir)
    }
    println(s"[sprobe] q223 corpus=${nDocs + 1} docs over 10 micro-batches " +
      s"(chunk 5 carries the 2.2M-token outlier)")
    def commitIds(): Seq[Long] =
      Option(new java.io.File(s"$ckpt/commits").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .flatMap(f => scala.util.Try(f.getName.toLong).toOption).sorted.toSeq
    def offsetIds(): Seq[Long] =
      Option(new java.io.File(s"$ckpt/offsets").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .flatMap(f => scala.util.Try(f.getName.toLong).toOption).sorted.toSeq
    // leg 1: run until ~half the batches have committed, then stop
    time("q223 accountant leg 1 (stop after ~5 commits)") {
      val q = graft.streaming.StreamingAccounting.start(
        spark, docsDir, store, checkpoint = Some(ckpt))
      try {
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (commitIds().size < 5 && System.nanoTime() < deadline)
          Thread.sleep(200)
        require(commitIds().size >= 5,
          s"leg 1 never reached 5 commits: ${commitIds()}")
      } finally q.stop()
    }
    // force the replay: drop the newest commit marker covered by the
    // offset log — on restart the engine re-executes exactly that batch
    // from its planned offsets (the at-least-once contract), and the
    // batchId-keyed overwrite makes the re-execution invisible
    val replayId = offsetIds().max
    val marker = new java.io.File(s"$ckpt/commits/$replayId")
    if (marker.exists()) require(marker.delete(), s"could not drop $marker")
    // Hadoop's ChecksumFileSystem keeps a hidden .N.crc sibling per
    // commit file; leaving it behind makes the re-commit's rename throw
    // FileAlreadyExistsException (surfaced as a bogus "multiple
    // streaming queries" error) — drop it with the marker
    val crc = new java.io.File(s"$ckpt/commits/.$replayId.crc")
    if (crc.exists()) require(crc.delete(), s"could not drop $crc")
    val partialDir = new java.io.File(s"$store/batch_$replayId")
    val mtimeBefore = if (partialDir.exists()) partialDir.lastModified() else -1L
    println(s"[sprobe] q223 forcing replay of batch $replayId " +
      s"(commit marker dropped; partial ${if (mtimeBefore >= 0) "present" else "absent"})")
    time("q223 accountant leg 2 (replay + drain)") {
      val q = graft.streaming.StreamingAccounting.start(
        spark, docsDir, store, checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    collector.report("q223 accountant")
    require(commitIds().max >= 9 && commitIds().size >= 10,
      s"accountant did not drain all 10 batches: ${commitIds()}")
    require(partialDir.exists() && partialDir.lastModified() > mtimeBefore,
      s"batch $replayId was not re-executed on restart " +
        s"(mtime ${partialDir.lastModified()} vs $mtimeBefore)")
    // state growth: one row per (batch, source present in the batch) —
    // bounded by batches × |sources|, independent of nDocs
    val batchDirs = Option(new java.io.File(store).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
    val partialRows = spark.read
      .parquet(batchDirs.map(_.getAbsolutePath).toIndexedSeq: _*).count()
    println(s"[sprobe] q223 partial store: ${batchDirs.length} batch dirs, " +
      s"$partialRows rows total (bound ${batchDirs.length * 5})")
    require(partialRows <= batchDirs.length * 5L,
      s"partial store grew past batches × sources: $partialRows")
    // stream ≡ batch EXACT at volume, across the stop/replay/resume
    val allDocs = base.unionByName(giant)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val streamed = rows(
      graft.streaming.StreamingAccounting.reportFromStore(spark, store))
    val batch = rows(Sampling.htTokenEstimate(allDocs))
    require(streamed == batch,
      s"stream-merged accounting diverged from batch at volume:\n" +
        s"  stream=$streamed\n  batch =$batch")
    val books = streamed.find(_._1 == "books").get
    require(books._4 > 2200000L,
      s"the book-length doc's tokens are missing from true_tokens: $books")
    streamed.foreach { case (src, nd, ns, tt, ht, pm) =>
      println(f"[sprobe] q223 $src%-7s docs=$nd%7d sampled=$ns%6d " +
        f"true_tokens=$tt%9d ht_tokens=$ht%9d err_permille=$pm%3d")
    }
    println(s"[sprobe] q223 stream ≡ batch across a forced batch-$replayId " +
      "replay; 2.2M-token doc survived the clamped kept-predicate — OK")
  }

  /** q158 at volume (r10 verdict #5 — the last ingest loop without a
    * probe stage): decontam-on-ingest over 10 micro-batches against a
    * once-settled benchmark. The operator's scale claim is FLATNESS —
    * no store fold-back, so per-batch latency must not grow as the
    * flag/clean sinks accumulate — plus exactness: each batch's flag
    * set must EQUAL the batch-mode operator on the same batch (the
    * bloom phase is performance-only), and flags ∪ clean must
    * partition the batch. Every batch carries the same composition
    * (novel docs + near-dup copies of BENCH docs + near-dup copies of
    * non-bench docs), so the latency series is comparable batch to
    * batch. */
  private def q158Stage(
      spark: SparkSession, collector: ProgressCollector,
      out: String, nDocs: Long): Unit = {
    val docsDir = s"$out/decon_docs"
    val sinkRoot = s"$out/decon_sink"
    val corpus = ScaleProbe.corpus(spark, nDocs).localCheckpoint()
    // bench = every 20th doc in the low half; the planted dups of those
    // docs (59/60 words shared -> certain shingle overlap) are the
    // per-batch positives, dups of HIGH-half docs the planted negatives
    val bench = corpus
      .filter(col("doc_id") % 20 === 0 && col("doc_id") < nDocs / 2)
      .localCheckpoint()
    val dups = corpus.filter(col("doc_id") >= nDocs).localCheckpoint()
    val batches = 10
    val dupChunk = nDocs / 20 / batches // all planted dups, spread evenly
    val novChunk = nDocs / 20
    println(s"[sprobe] q158 bench=${bench.count()} docs settled, " +
      s"$batches batches x ($novChunk novel + $dupChunk dups; dup src<n/2 => contaminated)")
    val staged = (0 until batches).map { i =>
      ScaleProbe.corpusAt(spark, 3 * nDocs + i * novChunk, novChunk)
        .unionByName(dups
          .filter(col("doc_id") >= nDocs + i * dupChunk &&
            col("doc_id") < nDocs + (i + 1) * dupChunk)
          .select(col("doc_id"), col("text"), col("source")))
        .localCheckpoint()
    }
    time("q158 batch staging")(stageFrames(staged, docsDir))
    val wall = new Array[Double](batches)
    time("q158 streaming decontam, 10 micro-batches") {
      val q = graft.streaming.IngestDecontam.start(
        spark, docsDir, bench, sinkRoot)
      try {
        // foreachBatch sinks emit no state rows; measure wall per batch
        // by draining one staged file at a time is not possible with
        // processAllAvailable, so read the listener's trigger times
        q.processAllAvailable()
      } finally q.stop()
    }
    // flatness: identical batch composition, growing sinks — the mean
    // of the last 3 triggers must not exceed 2x the first 3 (a growing
    // per-batch cost would mean the stateless claim silently broke)
    val trig = collector.triggerMs
    if (trig.size >= 6) {
      val head3 = trig.take(3).sum.toDouble / 3
      val tail3 = trig.takeRight(3).sum.toDouble / 3
      require(tail3 <= 2 * head3 + 500,
        s"q158 per-batch latency grew with sink size: first3=$head3 ms last3=$tail3 ms")
    }
    collector.report("q158 decontam")
    val benchSh = graft.operators.Dedup.benchmarkShingles(bench)
      .localCheckpoint()
    var flaggedTotal = 0L
    (0 until batches).foreach { b =>
      val t0 = System.nanoTime()
      val flags = spark.read.parquet(s"$sinkRoot/flags/batch_$b")
        .localCheckpoint()
      val clean = spark.read.parquet(s"$sinkRoot/clean/batch_$b")
      val batchDf = staged(b)
      // batch-mode oracle on the same batch: EXACT set equality
      val oracle = graft.operators.Dedup
        .decontaminateAgainst(batchDf, benchSh).localCheckpoint()
      val diff = flags.exceptAll(oracle).unionByName(oracle.exceptAll(flags))
        .count()
      require(diff == 0, s"batch $b flags diverged from batch-mode oracle: $diff rows")
      // flags ∪ clean partitions the batch (ids, disjoint, complete)
      val nb = batchDf.count()
      val nf = flags.count()
      val nc = clean.count()
      require(nf + nc == nb, s"batch $b lost docs: $nf flags + $nc clean != $nb")
      val overlap = flags.select(col("doc_id"))
        .join(clean.select(col("doc_id")), Seq("doc_id")).count()
      require(overlap == 0, s"batch $b flags/clean overlap: $overlap")
      // all planted positives flagged (dup of a bench doc always
      // overlaps); chance flags among novel/negative docs stay rare
      val plantedPos = batchDf
        .filter(col("doc_id") >= nDocs &&
          (col("doc_id") - nDocs) * 20 < nDocs / 2)
        .count()
      val posFlagged = flags
        .filter(col("doc_id") >= nDocs && (col("doc_id") - nDocs) * 20 < nDocs / 2)
        .count()
      require(posFlagged == plantedPos,
        s"batch $b planted contamination missed: $posFlagged/$plantedPos")
      // chance-overlap budget: a novel doc carries ~58 shingles against
      // a ~|bench|·58-shingle set over the ~1e9 3-gram space — ≈1.7%
      // of novel docs share ≥1 shingle by chance (measured 1.6% at the
      // 5k-doc bench); 3% bounds it without masking real over-flagging
      require(nf <= plantedPos + nb * 3 / 100,
        s"batch $b over-flagged: $nf vs $plantedPos planted (+3% chance budget)")
      flaggedTotal += nf
      wall(b) = (System.nanoTime() - t0) / 1e9
      println(f"[sprobe] q158 batch=$b%2d docs=$nb%7d flagged=$nf%6d " +
        f"(planted $plantedPos%6d) clean=$nc%7d verify=${wall(b)}%5.1f s")
    }
    println(s"[sprobe] q158 flags ≡ batch oracle on all $batches batches " +
      s"($flaggedTotal flagged total); sinks grew with zero re-read — OK")
  }
}
