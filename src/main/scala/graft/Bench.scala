package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** Representative subset reported per-query in the summary line.
    * The driver captures only the TAIL of stdout (2000 chars in round 1,
    * which truncated an all-queries dict and made the line unparseable),
    * so the JSON line must stay comfortably under that window — the
    * round-5 set had crept to 1,645 chars, so round 6 re-curated it to
    * one representative per operator family with explicit headroom
    * (BenchHeadlineSpec asserts a worst-case line ≤ 1,700 chars; grow
    * the set only while that gate stays green). The "value" total still
    * covers every registered query.
    *
    * PINNED through r10+ (VERDICT r9 directive #7): while the budget
    * ladder's 1-sample steady state holds, headline stability is the
    * ONLY cross-round per-query signal — do not rotate names out.
    * Additions are allowed (they create a new series without breaking
    * an old one) while the line-length gate stays green.
    */
  private[graft] val headline: Seq[String] = Seq(
    // SQL parity surface
    "q01_projection", "q03_agg_group", "q09_join_inner",
    "q15_scalar_subquery", "q22_flagship",
    // TPC-H shapes
    "q52_tpch_q1", "q53_tpch_q3", "q54_tpch_q5", "q115_tpch_q10",
    "q129_tpch_q21", "q144_tpch_q2",
    // scale joins
    "q50_salted_join", "q81_range_join",
    "q82_bloom_join", "q92_bucketed_join",
    // streaming
    "q68_sessionize", "q74_stream_dedup",
    "q83_stream_stream_join", "q107_stream_cdc_upsert",
    // dedup family
    "d36_dedup_exact", "d38_minhash_lsh", "d44_dup_clusters",
    "d47_incremental_dedup", "d48_semantic_dedup",
    "d52_editdist_join", "d53_store_incremental",
    "d54_bloom_decontam",
    // multimodal real-codec roundtrip
    "m48_audio_decode",
    // similarity / ANN
    "s41_knn_brute", "s43_knn_ivf", "s45_kmeans_step",
    "s47_ann_recall", "s48_pq_ivf_adc", "s52_pq_ivf_adc_rerank",
    // text & curation
    "t38_tfidf", "t41_repetition", "q96_corpus_build",
    // analytics / graph / vocab
    "q103_funnel", "q123_heavy_hitters",
    "q136_graph_triangles", "q148_pagerank",
    // round-9 flagships: store-pattern cluster merge, SNM, sketch,
    // spectra, streaming sketch state, boilerplate pass
    "d56_incremental_clusters", "q160_sorted_neighborhood",
    "t53_hll_distinct", "s55_power_iteration",
    "q161_stream_cardinality", "t54_line_dedup",
    "t56_bm25_topk", "s58_hybrid_rrf", "q166_kcore",
    "q168_join_cardinality",
    // lossless exact join, association mining, episode mining
    "d57_prefix_join", "q171_basket_lift", "q173_episode_support",
    // tokenizer loop + layout audit flagships
    "t59_bpe_train", "t60_bpe_encode", "q193_pruning_audit",
    // round-10 family flagship (ADDITION only — the pre-r10 set above
    // is pinned; one entry is all the 1700-char worst-case line gate
    // leaves room for): winnowing, the heaviest new query
    "d62_winnowing",
    // r12 additions (VERDICT r11 directive #4): the r11 families had no
    // headline representation. Room came from renderLine's per-query
    // display clamp (99.999 s — see renderLine), worth 61 worst-case
    // chars, NOT from raising the 1750 gate: CDC chunking, density
    // clustering, and the persisted-IVF serving path.
    // r13 (VERDICT r12 directives #1b/#3): the benched DBSCAN series
    // moved from the gate-mode exact quadratic arm (d67_dbscan, the
    // suite's most expensive query at 4.1–5.3 s — it stays registered
    // for the oracle gate and rotates through the tail) to the LSH
    // production arm a 100 TB run would execute. The d67 headline
    // series ends at r12; d67b starts a new one.
    "d68_cdc_chunks", "d67b_dbscan", "s51_knn_ivf_store")

  /** Sampling ladder for the wall-clock budget guard. Bench loss is
    * the only failure mode that has cost whole rounds (r7 was killed at
    * rc=124 with no JSON line; the first r8 boot ran ~10 min) — so the
    * suite must ALWAYS print its summary line before any plausible
    * driver timeout. Modes only escalate, never relax:
    *   0 = normal (min-stable, ≤3 samples)   1 = ≤2 samples everywhere
    *   2 = two-tier: headline ≤2, tail 1     3 = 1 sample everywhere
    * Mode 2 is the designed steady state (VERDICT r10 directive #1):
    * 1-sample noise on sub-2 s queries is 1.3–1.7× and produced phantom
    * regressions three rounds running (r9 q92, r10 d57/t53), so the
    * pinned headline set — the only cross-round per-query signal —
    * keeps min-of-2 even when the long tail drops to a single sample.
    *
    * SINCE r13 the ladder governs only SAMPLE COUNTS; which queries run
    * is the greedy clock floor in the main loop. The pre-r13 ladder had
    * two further modes (headline-only, abort) that skipped the WHOLE
    * remaining tail the moment the budget couldn't cover ALL of it —
    * all-or-nothing semantics that left two independent r12 runs with
    * ≤79 of 338 queries timed (VERDICT r12 #1: the suite outgrew the
    * 480 s budget, so "fit everything or skip everything" became "skip
    * everything"). With the r12 rotation pointer, cross-round coverage
    * wants as MANY timed tail queries per round as fit — each round
    * times a maximal prefix of the rotated tail, the next round resumes
    * where the timed tail ended, and the union covers the registry in
    * ⌈tail/timed⌉ rounds. Escalation thresholds are the measured
    * per-mode seconds/query wall costs (r8 clean boot: ~1.94 s/q at the
    * ≤3-sample protocol incl. overhead; ~0.8 s/q at 1 sample; two-tier
    * ≈ 0.95), re-evaluated before every query. */
  private[graft] def escalateMode(current: Int, remainingSec: Double, queriesLeft: Int): Int = {
    val left = math.max(1, queriesLeft).toDouble
    val m =
      if (remainingSec >= 2.2 * left) 0
      else if (remainingSec >= 1.5 * left) 1
      else if (remainingSec >= 0.95 * left) 2
      else 3
    math.max(current, m)
  }

  private[graft] val modeNames =
    Array("none", "2samp", "2tier", "1samp")

  /** Greedy clock floor (r13): a query runs iff the remaining budget
    * covers its worst plausible cost plus the end-of-run work (render +
    * spark.stop + stdout flush). Worst observed single query at sf0.1
    * is ~5.3 s; a 2.3×-slow boot (the worst seen) puts that near 13 s;
    * the line render/stop is ~2-5 s. 25 s covers the sum with margin,
    * so the JSON line always prints — the same guarantee the old
    * abort mode gave, without discarding the tail queries that DID
    * fit. Once remaining < floor it stays below (the clock is
    * monotone), so the skipped set is exactly the rotated-tail
    * suffix, which is what nextRotation's resume arithmetic assumes. */
  private[graft] val safetyFloorSec: Double = 25.0

  /** Staging-helper names whose FIRST invocation does one-time work
    * (bucketed-table writes, signature/image/IVF/drift store builds,
    * the events-stage copy). `stageWarmup` must invoke every one of
    * these so no timed sample pays an index build — r9's 1-sample
    * steady state put q92's bucketed write (0.190→2.248 s) and the
    * d53/s51/t52/m55 store builds inside the only sample, poisoning
    * cross-round deltas. StagingWarmupSpec greps the query sources and
    * fails if a query uses a Staging/Bucketing helper not listed here.
    * (`sinkDir` is exempt: it only mkdirs a temp dir — the batch data
    * a sink query writes into it is the query's own work, not
    * staging.) */
  private[graft] val warmedStagingHelpers: Set[String] = Set(
    "signatureStoreDir", "imageStoreDir", "ivfIndexDir", "ivfInsertDir", "ivfDeleteDir",
    "driftBaselineDir", "eventsDir", "bucketedTable", "bucketedJoin")

  /** Run every one-time lazy staging path once, UNTIMED (VERDICT r9
    * directive #1). All helpers are idempotent per-JVM caches
    * (Staging.scala, Bucketing.scala), so one call each moves the
    * build out of the timed samples and later query invocations hit
    * the cache. Failures are logged, not fatal: the affected query
    * will then pay (and surface) the cost itself. */
  private[graft] def stageWarmup(spark: SparkSession, sfDir: String): Unit = {
    val t0 = System.nanoTime()
    def step(tag: String)(body: => Any): Unit =
      try { body; () } catch {
        case t: Throwable =>
          System.err.println(s"[bench] stage warm-up '$tag' failed: $t")
      }
    // q92's two bucketed layouts (keys/buckets = Bucketing.bucketedJoin
    // defaults used by the query)
    step("bucket_lineitem")(graft.operators.Bucketing
      .bucketedTable(spark, sfDir, "lineitem", "l_orderkey", 8))
    step("bucket_orders")(graft.operators.Bucketing
      .bucketedTable(spark, sfDir, "orders", "o_orderkey", 8))
    step("sigstore")(graft.queries.Staging.signatureStoreDir(spark, sfDir))
    step("imgstore")(graft.queries.Staging.imageStoreDir(spark, sfDir))
    step("ivfindex")(graft.queries.Staging.ivfIndexDir(spark, sfDir))
    step("ivfinsert")(graft.queries.Staging.ivfInsertDir(spark, sfDir))
    step("ivfdelete")(graft.queries.Staging.ivfDeleteDir(spark, sfDir))
    step("driftbase")(graft.queries.Staging.driftBaselineDir(spark, sfDir))
    step("events")(graft.queries.Staging.eventsDir(sfDir))
    System.err.println(
      f"[bench] stage warm-up done in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  // Locale.ROOT: f"" uses the default locale — a comma-decimal locale
  // would print 12,345 and break the driver's JSON parse
  private def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Build the one-line JSON summary. Factored out of main so
    * BenchHeadlineSpec can bound the line length of every degraded
    * shape, not just the happy path (CLAUDE.md rule 1b).
    */
  private[graft] def renderLine(
      results: Seq[(String, Double)], failed: Seq[String], warmed: Boolean,
      degraded: String, skipped: Int, sfDir: String,
      hsMin: Int = 0, rot: Int = 0): String = {
    val byName = results.toMap
    // Per-query DISPLAY clamp at 99.999 s: the 480 s whole-suite budget
    // guard makes a ≥100 s single query impossible in any valid run, so
    // the clamp loses no real signal — it exists to BOUND the line
    // (6 chars/value worst case instead of 7), which is what bought the
    // r12 headline additions room under the 1750-char gate. The `total`
    // field still sums the true (unclamped) values.
    val qs = headline.flatMap(n => byName.get(n)
        .map(v => s"\"$n\":${r3(math.min(v, 99.999))}"))
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum // -1.0 marks a failed query
    val failedField =
      if (failed.isEmpty) ""
      else s""","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val skippedField = if (skipped == 0) "" else s""","skipped":$skipped"""
    // hs_min = MIN sample count across timed headline queries — the
    // one-number proof that the round's headline timings are min-of-≥2
    // (0 = unknown/none timed, omitted)
    val hsField = if (hsMin <= 0) "" else s""","hs_min":$hsMin"""
    // rot = tail-rotation offset used this round (always emitted: the
    // NEXT round's nextRotation reads it back from BENCH_r{N}.json)
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"errors":${failed.size},"warm":$warmed,"degraded":"$degraded"$hsField,"rot":$rot$skippedField$failedField,"queries":$qs,"sf":"$sfDir"}"""
  }

  /** Deterministic bench tail rotation (VERDICT r11 directive #2): when
    * a slow boot makes the budget ladder skip part of the tail, the
    * skipped set must not be the SAME tail suffix two rounds running —
    * r11 left 165 queries with no timing, and a second slow boot would
    * have left the identical 165 unmeasured again. The fix is a
    * round-robin resume pointer: this round's tail walk starts where
    * the previous round's timed tail ended, so consecutive rounds time
    * DISJOINT tail segments (up to the pigeonhole bound — full skip-set
    * disjointness is impossible when both rounds skip more than half)
    * and every tail query is measured at least once every
    * ⌈tail/timed⌉ rounds regardless of boot speed.
    *
    * The pointer is self-carried: the previous offset comes from the
    * `rot` field of the newest `BENCH_r{N}.json` the driver committed,
    * and the timed-tail count is derived as n_queries − |queries map|
    * (the map holds exactly the timed headline entries). A pre-r12
    * file has no `rot` (treated as 0) but still yields the timed count,
    * so the first rotated round resumes exactly where r11 stopped. Any
    * missing/unparseable file → 0 (plain alphabetical walk). */
  private[graft] def nextRotation(tailSize: Int,
      dir: java.io.File = new java.io.File(".")): Int = {
    if (tailSize <= 0) return 0
    val re = """BENCH_r(\d+)\.json""".r
    val latest = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => f.getName match {
        case re(n) => Some((n.toInt, f)); case _ => None
      }).sortBy(-_._1).headOption
    latest.map { case (_, f) =>
      try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(f)
        // the driver wraps the raw line under "parsed"; accept either
        val node = if (root.has("parsed")) root.get("parsed") else root
        val prevRot = node.path("rot").asInt(0)
        val timedTail =
          math.max(0, node.path("n_queries").asInt(0) - node.path("queries").size())
        if (timedTail == 0) prevRot % tailSize // headline-only/abort round: hold position
        else (prevRot + timedTail) % tailSize
      } catch { case _: Throwable => 0 }
    }.getOrElse(0)
  }

  /** The data Bench and tools.Trace read unless told otherwise. */
  private[graft] def defaultSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Shuffle partitions = cpus/2, floor 8: partitions should be sized to
    * the DATA (sf0.1 is tens of MB — 32 shuffle tasks are pure scheduler
    * overhead per stage), and a probe on the r8 boot measured 16
    * partitions ~10% faster than 32 across a 12-query representative set
    * on two repeats. At real scale this knob tracks input size /
    * executor count, not local thread count. */
  private[graft] def partitions(cores: Int): Int = math.max(8, cores / 2)

  /** Bench's session. tools.Trace runs under the same one, so a Trace
    * number is a Bench number. */
  private[graft] def session(cores: Int, partitions: Int): SparkSession =
    Sessions.local(cores, partitions, configure =
      // Whole-stage-codegen compile cache (static conf, default 100
      // entries). 161 registered queries × several codegen stages each
      // evict constantly at 100, so BOTH samples of every query pay
      // Janino recompiles — measured ~0.9 s on d38 (2.89 s in-suite vs
      // 1.96 s isolated-warm) and the round-5 q22/q13/q15/q74
      // "regressions" appeared exactly when the suite grew 108→161.
      // Standard tuning for a many-distinct-query workload, same knob
      // you'd set on a shared cluster.
      _.config("spark.sql.codegen.cache.maxEntries", "4096"))

  /** One timed sample, shared by Bench and tools.Trace: build the frame
    * and `count()` it, timed from the call. Returns the seconds and the
    * row count, or what the sample threw.
    *
    * ADVICE r14 #1: the unpersist afterwards is scoped to RDDs persisted
    * DURING this sample. Anything persisted before the sample started (a
    * lazy-val store, a cached index) survives.
    *
    * Why free the sample's materialized blocks NOW (r14 harness
    * hygiene): localCheckpoint/persist blocks are otherwise reclaimed
    * only after driver GC + ContextCleaner lag, and over a 350-query
    * suite the backlog inflated mid/tail queries 2-4× (q182: 8.65 s
    * in-suite vs 2.3 s isolated-warm — pure storage pressure from PRIOR
    * queries' blocks). Queries never share persisted RDDs across
    * invocations (Staging caches are disk dirs; the catalog MemoryCache
    * keeps lineage, so a later hit just recomputes), so dropping them
    * between samples is safe and makes each sample measure the QUERY,
    * not the suite's history. The unpersist wall-time is excluded from
    * the sample (measured: ~ms), exactly like Bench's GC nudge. */
  private[graft] def timedCount(spark: SparkSession, build: => DataFrame,
      unpersist: Boolean = true): Either[Throwable, (Double, Long)] = {
    val preexisting =
      try spark.sparkContext.getPersistentRDDs.keySet
      catch { case _: Throwable => Set.empty[Int] }
    val t0 = System.nanoTime()
    val counted = try Right(build.count()) catch { case t: Throwable => Left(t) }
    val elapsed = (System.nanoTime() - t0) / 1e9
    if (unpersist)
      try unpersistSince(spark, preexisting) catch { case _: Throwable => }
    counted.map(rows => (elapsed, rows))
  }

  /** Unpersist every RDD persisted after `preexisting` was read. */
  private[graft] def unpersistSince(spark: SparkSession, preexisting: collection.Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => preexisting.contains(id) }
      .values.foreach(_.unpersist(blocking = false))

  def main(args: Array[String]): Unit = {
    // fail fast on a renamed/unregistered headline query — flatMap below
    // would otherwise silently drop it from the driver-parsed line
    val missing = headline.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"headline names not registered: $missing")
    val sfDir = defaultSfDir
    val cpus = Sessions.cores(4)
    // Wall-clock budget (seconds) for the WHOLE run, warm-up included.
    // The driver's bench timeout is not published; r8's valid run took
    // 6m30s and its first boot survived ~10 min, so 8 minutes is inside
    // the proven-safe window with margin for a slow boot.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "480").toDouble
    val benchT0 = System.nanoTime()
    def remaining: Double = budgetSec - (System.nanoTime() - benchT0) / 1e9
    val spark = session(cpus, partitions(cpus))
    // JVM/codegen warmup outside the timed region: without this the
    // (randomly) first query absorbs ~2s of classloading + codegen cost.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
    } catch { case _: Throwable => }
    // Page-cache warm-up (untimed): round-over-round per-query deltas were
    // contaminated by OS page-cache state — a cold first round ran 20%+
    // high with individual queries flapping 2-4x (q90 0.18→0.48 s on
    // untouched code in r6). Reading every table's raw bytes once puts the
    // parquet pages in cache before any timed sample, so min-of-2 measures
    // compute, not disk. The "warm" flag in the JSON records whether this
    // pass actually ran, so cross-round comparisons know the protocol.
    val warmed = try {
      val files = Option(new java.io.File(sfDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val buf = new Array[Byte](1 << 20)
      files.foreach { f =>
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
      files.nonEmpty
    } catch { case _: Throwable => false }
    // One-time lazy staging (bucketed tables, signature/image/IVF/drift
    // stores, events stage) runs here, untimed, so the 1-sample steady
    // state times QUERIES, not index builds. Counts against the wall
    // budget (remaining shrinks), which is correct: the ladder must see
    // the true clock.
    stageWarmup(spark, sfDir)
    // min of timed runs per query: single-shot timings swing ±30%
    // run-to-run from JIT/page-cache/codegen-cache state; the minimum is
    // the standard steady-state estimator and stays honest (every run
    // includes the query's full planning + execution).
    // A query that throws must NOT benchmark as "fast and fine": round 2's
    // q84 failure was swallowed here and only visible as a stack trace in
    // the log. Failures are collected, reported in the JSON, and fail the
    // process.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // A/B switch for the r14 between-sample unpersist (VERDICT r14 #1):
    // SPARK_GRAFT_BENCH_NO_UNPERSIST=1 restores the pre-r14 behavior
    // (no unpersist between samples) so the hygiene change can be
    // A/B'd at local[32] under the driver protocol on identical code.
    // Default (unset) keeps the committed r14 behavior.
    val noUnpersist = sys.env.get("SPARK_GRAFT_BENCH_NO_UNPERSIST").contains("1")
    val resultsBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val sampleCounts = scala.collection.mutable.Map.empty[String, Int]
    var skipped = 0
    var mode = 0
    var sinceGc = 0
    val headlineSet = headline.toSet
    // HEADLINE FIRST, then the tail alphabetically: the headline set is
    // the only cross-round per-query signal and its min-of-2 must not
    // depend on where the budget ladder lands mid-alphabet — a noisy
    // boot escalated a full run to 1samp with hs_min=1 exactly because
    // the headline entries were interleaved with the tail. Running them
    // while the budget is rich makes hs_min>=2 hold on any boot that
    // survives the first ~2 minutes; degradation then only coarsens the
    // tail, which is 1-sample in the steady state anyway.
    val byName = SparkEntry.queries
    val tailSorted =
      byName.toSeq.filterNot(kv => headlineSet.contains(kv._1)).sortBy(_._1)
    // resume the tail walk where the last round's timed tail ended
    // (round-robin coverage under slow boots — see nextRotation)
    val rot = nextRotation(tailSorted.size)
    // resume arithmetic = sweep closure: the walk starts at the first
    // slot the previous round did NOT time, so the union of consecutive
    // rounds covers the registry once their timed-tail counts sum past
    // the tail size — log the handoff so a round's log shows it
    System.err.println(s"[bench] tail rotation offset=$rot of ${tailSorted.size}" +
      s" (this walk covers the previous round's skipped suffix first)")
    val sorted = headline.map(n => n -> byName(n)) ++
      tailSorted.drop(rot) ++ tailSorted.take(rot)
    sorted.zipWithIndex.foreach { case ((name, fn), idx) =>
      val queriesLeft = sorted.size - idx
      val prevMode = mode
      mode = escalateMode(mode, remaining, queriesLeft)
      if (mode != prevMode)
        System.err.println(f"[bench] budget guard: mode ${modeNames(prevMode)}" +
          f" -> ${modeNames(mode)} (remaining=$remaining%.1fs, left=$queriesLeft)")
      val skip = remaining < safetyFloorSec
      if (skip) { skipped += 1 }
      else {
        // localCheckpoint blocks are reclaimed by the ContextCleaner only
        // after the driver-side references are GC'd; over 100+ queries the
        // lag pins enough executor storage to slow later queries. A
        // periodic nudge keeps the suite's tail honest.
        sinceGc += 1
        val tq0 = System.nanoTime()
        def sample(): Option[Double] =
          timedCount(spark, fn(spark, sfDir), unpersist = !noUnpersist) match {
            case Right((elapsed, _)) => Some(elapsed)
            // a throw's elapsed time is not a measurement — reporting it
            // would make a broken query look fast in the queries map / total
            case Left(t) =>
              failed += name
              System.err.println(s"[bench] FAILED $name: $t")
              t.getStackTrace.take(8).foreach(f => System.err.println(s"[bench]   at $f"))
              None
          }
        val first = sample()
        // the periodic nudge runs BETWEEN a query's samples: the second
        // sample (usually the min) then measures with reclaimed storage
        // instead of paying a GC pause mid-run — the between-queries
        // placement left whichever query followed the nudge artificially
        // slow, which is exactly the run-to-run flap the min should remove.
        // Heavy queries (first sample > 1 s — the localCheckpoint-based
        // dedup pipelines) always get the nudge: how much unreclaimed
        // checkpoint storage they start under otherwise depends on where
        // the periodic cadence happens to fall, which made their minute-
        // to-minute timings flap 1.4–1.8× between identical runs.
        if (sinceGc >= 16 || first.exists(_ > 1.0)) { sinceGc = 0; System.gc() }
        // Sample until the MIN is stable: the reported statistic is the
        // minimum, so the stopping rule must be about the minimum — stop
        // when the two smallest samples agree within 10% (the min is then
        // reproducible to ~10% by construction), capped by the budget
        // guard's per-mode sample allowance (3 normal / 2 / 1).
        def minUnstable(ts: Seq[Double]): Boolean = {
          val s = ts.sorted
          s.size >= 2 && s(1) / s(0) > 1.10
        }
        // two-tier: headline queries keep min-of-2 UNCONDITIONALLY (they
        // run first, while the budget is rich; worst observed headline
        // wall is ~5 min on a 2.3x-slow boot, far inside any plausible
        // driver clock) — they are the pinned cross-round series and
        // 1samp noise produced three rounds of phantom regressions. A
        // slow boot must coarsen/skip the TAIL, never the headline
        // series: the 2026-08 local run degraded to hs_min=1 exactly
        // because the ladder was allowed to strip headline samples.
        val maxSamples =
          if (headlineSet.contains(name)) { if (mode == 0) 3 else 2 }
          else mode match {
            case 0 => 3
            case 1 => 2
            case _ => 1
          }
        var times = first.toSeq
        // a FAILED first sample must not enter the retry loop: sample()
        // returns None on a throw, so `times` would never grow and the
        // min-stable condition would spin forever re-running a
        // deterministically broken query — hanging the whole bench past
        // the driver's clock with no JSON line (the rc=124 void class)
        while (first.nonEmpty &&
            (times.size < 2 || minUnstable(times)) && times.size < maxSamples)
          times ++= sample()
        val t1 = System.nanoTime()
        // per-query wall accounting to stderr (never stdout — the JSON must
        // stay the literal last stdout line): lets a timed-out run be
        // diagnosed from its log tail instead of guessed at (BENCH_r07)
        System.err.println(f"[bench] $name samples=${times.size} " +
          f"min=${if (times.isEmpty) -1.0 else times.min}%.3f wall=${(t1 - tq0) / 1e9}%.3f")
        sampleCounts(name) = times.size
        resultsBuf += name -> (if (times.isEmpty) -1.0 else times.min)
      }
    }
    val hsMin = headline.flatMap(sampleCounts.get)
      .reduceOption(math.min).getOrElse(0)
    // degraded = sampling mode; "+cut" marks a clock-floor-trimmed tail
    // (the skipped field carries how much — rotation resumes there next
    // round, so a cut is expected steady state, not a failure)
    val degraded = if (skipped > 0) modeNames(mode) + "+cut" else modeNames(mode)
    val line = renderLine(resultsBuf.toSeq, failed.toSeq, warmed,
      degraded, skipped, sfDir, hsMin, rot)
    // Stop Spark BEFORE printing: the JSON must be the literal last line of
    // stdout (the driver parses only the tail), so no shutdown chatter may
    // follow it.
    try spark.stop() catch { case _: Throwable => }
    println(line)
    Console.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
