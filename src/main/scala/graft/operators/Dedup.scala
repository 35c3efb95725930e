package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge

import graft.functions.TextFunctions
import graft.operators.Materialize.Ops

/** Document deduplication for LLM-data pipelines, all built on
  * shuffle-friendly primitives (groupBy / equi-join on derived keys —
  * never a cross join), so every variant survives a 100 TB corpus:
  *
  *   - exact: hash-groupBy on a content fingerprint;
  *   - byKey: groupBy on chosen columns, keep min id;
  *   - MinHash+LSH: shingle → k minhashes → banded signatures →
  *     bucket equi-join → candidate pairs → signature-estimated Jaccard
  *     (Broder, "On the resemblance and containment of documents", 1997;
  *     banding analysis per Leskovec/Rajaraman/Ullman, MMDS ch. 3);
  *   - SimHash: 64-bit bit-vote fingerprint, banded for pair generation
  *     (Charikar, "Similarity estimation techniques from rounding
  *     algorithms", STOC 2002);
  *   - n-gram Jaccard: exact, via shingle inverted-index join with a
  *     document-frequency cap on hot shingles (the standard skew guard).
  */
object Dedup {

  /** Spread a compact document table across the cluster before a
    * row-amplifying explode. A small parquet arrives as one input split;
    * without this, shingling runs on a single core no matter how many
    * executors exist. (At 100 TB inputs are already parallel, but the
    * guard is cheap relative to the explode it precedes.) */
  private def spread(docs: DataFrame): DataFrame =
    docs.repartition(col("doc_id"))

  /** (doc_id, token array) — the shared pre-shingle stage: spread +
    * tokenize once, explode per shingle width downstream. */
  private[graft] def tokensTable(docs: DataFrame): DataFrame =
    spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))

  /** (doc_id, shingle) exploded table. Tokenizes into a materialized
    * column first — see TextFunctions.shinglesFromTokens for why. */
  private def shingleTable(docs: DataFrame, n: Int): DataFrame =
    tokensTable(docs)
      .select(col("doc_id"),
        explode(TextFunctions.shinglesFromTokens(col("toks"), n)).as("sh"))

  /** (doc_id, 64-bit shingle hash) exploded table — the minhash
    * family's working set. Shingles hash INSIDE the per-doc array
    * BEFORE the explode (Broder's hashed-shingle practice; same move
    * as duplicatedSpanStats' window hashing): every downstream
    * shuffle, checkpoint and join carries 8 bytes per shingle instead
    * of an n-word string, at negligible collision probability. The
    * exact-Jaccard reference (ngramJaccardPairs) deliberately stays
    * string-keyed, so tools.RecallCheck keeps an independent witness
    * that the hashed pipeline loses nothing. */
  private[graft] def shingleHashTable(docs: DataFrame, n: Int): DataFrame =
    shingleHashTableFromToks(tokensTable(docs), n)

  /** [[shingleHashTable]] from an existing (doc_id, toks) frame — lets
    * a pipeline that also word-hashes (SimHash verify) share one
    * spread+tokenize. */
  private[graft] def shingleHashTableFromToks(
      toks: DataFrame, n: Int): DataFrame =
    toks.select(col("doc_id"), explode(
      transform(TextFunctions.shinglesFromTokens(col("toks"), n),
        s => xxhash64(s))).as("sh"))

  /** Exact dedup: one surviving row id per distinct canonical content.
    * `fp` is any fingerprint column (md5, canonical md5, rolling hash). */
  def exactGroups(docs: DataFrame, fp: Column): DataFrame =
    docs.groupBy(fp.as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("fp"))

  /** Dedup by key columns: survivors only (lowest doc_id per key). */
  def byKey(docs: DataFrame, keys: Seq[String]): DataFrame =
    docs.groupBy(keys.map(col): _*)
      .agg(min(col("doc_id")).as("keep_id"))
      .orderBy(keys.map(col) :+ col("keep_id"): _*)

  // ---- MinHash + LSH ----

  /** (doc_id, minhash array of length k) via k seeded xxhash64 draws over
    * distinct word 3-gram shingles. One explode + one groupBy — two
    * shuffles total regardless of corpus size. */
  def minhashSignatures(docs: DataFrame, k: Int = 16, shingleN: Int = 3): DataFrame =
    signaturesFromShingles(shingleHashTable(docs, shingleN), k)
      .select(col("doc_id"), col("sig"))

  /** Signatures from an already-materialized (doc_id, sh) table — lets a
    * candidates→verify pipeline share ONE shingle explode between the
    * signature build and the exact-Jaccard verification. Also emits the
    * per-doc shingle-set size `sz` (shingles are distinct per doc, so
    * count == set size): the verify stage needs exactly that, and
    * riding this groupBy saves it a second full aggregation over the
    * exploded table plus a checkpoint. */
  private[graft] def signaturesFromShingles(sh: DataFrame, k: Int): DataFrame = {
    // `sh` is already the 64-bit shingle hash (shingleHashTable), so
    // the k min-hash draws are k seeded re-hashes of an 8-byte long —
    // the string was hashed exactly once, inside the explode array.
    val mins = (0 until k).map(i => min(xxhash64(col("sh"), lit(i))).as(s"m$i"))
    sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"), mins: _*)
      .select(col("doc_id"), col("sz"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** The LSH band keys of a k-minhash `sig` column: one
    * (band, band_hash) row per band, band_hash the xxhash64 of the
    * band's k/bands-wide signature slice. Every banding path (the
    * estimator pairs, the verified candidates, the persisted store)
    * buckets through this one definition, so the store path and the
    * recompute path put each document in the same buckets. */
  private def bandKeys(k: Int, bands: Int): Column = {
    val rows = k / bands
    posexplode(array((0 until bands).map(b =>
      xxhash64(slice(col("sig"), b * rows + 1, rows))): _*))
      .as(Seq("band", "band_hash"))
  }

  /** Candidate near-dup pairs via banded LSH over the minhash signature,
    * scored by the signature-match fraction (Jaccard estimator).
    * bands×rows must equal k. The band bucket join is an equi-join on
    * (band index, band hash) — no cross product anywhere. */
  def minhashPairs(
      docs: DataFrame, threshold: Double = 0.5,
      k: Int = 16, bands: Int = 4): DataFrame = {
    // materialize once: the signature table feeds both sides of the
    // bucket self-join, and lazy evaluation would recompute the whole
    // shingle+groupBy pipeline per branch (measured 2× cost). On a
    // long-lived cluster job use persist()/checkpoint() instead.
    val sigs = minhashSignatures(docs, k).materializeOnce()
    val banded = sigs.select(col("doc_id"), col("sig"), bandKeys(k, bands))
    val a = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), bool => bool)).cast("double") / k).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-bucket size cap for LSH band joins. A bucket with c members
    * costs c² rows in the candidate self-join, and bucket sizes grow
    * linearly with corpus size — an overfull bucket (boilerplate band,
    * degenerate hash region) turns the join quadratic at scale. Buckets
    * above the cap carry no discriminative signal and are dropped, the
    * same guard as the shingle-df cap in the verify stage. The default
    * never bites at the gate SFs (largest observed bucket: 806 at
    * sf0.1). Oracle contracts differ per family: the SimHash oracles
    * (d39/d43) REPLAY the cap via their bkeep CTE; the MinHash oracle
    * (d38, and d44/d46/q70 built on it) is the uncapped brute-force
    * Jaccard set, valid only while LSH recall is 100% — the cap is one
    * more way recall could drop, so any cap/band change must re-run
    * tools.RecallCheck (verify recipe; LshRecallGateSpec runs it in CI)
    * before trusting those gates. */
  val defaultMaxBucket = 4096

  /** Bucket cap as ONE lazy plan shape: a broadcast anti-join of the
    * (materialized) banded table against its own overfull-key list.
    *
    * The input is materialized once (it feeds the overfull-key count
    * and ultimately both sides of the caller's candidate self-join —
    * rule 5). The overfull-key list is a map-side-combined groupBy
    * count FILTERED to keys over the cap — at most rows/maxBucket keys
    * by construction and in practice the handful of degenerate
    * boilerplate buckets, so the broadcast stays tiny at any corpus
    * size — and it executes INSIDE the consumer's plan as a
    * BroadcastExchange (deduped across the self-join's two references
    * by ReuseExchange). No bucket is ever sorted or buffered inside a
    * task, and no eager probe job runs at DataFrame-construction time:
    * the pre-r15 design paid one extra count job per LSH query (and a
    * second checkpoint when the cap bit) to pick between three
    * execution strategies with identical results; the anti-join is the
    * scale-safe one of the three, so the probe bought nothing.
    *
    * When no bucket exceeds the cap (every gate SF today) the overfull
    * list is empty and the anti-join passes everything through —
    * results are IDENTICAL across capped/uncapped corpora by
    * construction (overfull buckets are dropped entirely: a degenerate
    * bucket is boilerplate, not signal — MMDS §3.4 stop-shingle
    * argument). The returned frame re-derives from the checkpoint in
    * O(rows) per reference; callers must NOT checkpoint it again. */
  private[graft] def capBuckets(
      banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val raw = banded.materializeOnce()
    val keyCols = keys.map(col)
    val over = raw.groupBy(keyCols: _*).agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") > maxBucket).select(keyCols: _*)
    raw.join(broadcast(over), keys, "left_anti")
  }

  /** Candidate pairs from banded signatures — the bucket equi-join only,
    * no estimator filter. */
  private[graft] def candidatesFromSignatures(
      sigs: DataFrame, k: Int, bands: Int,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    // capBuckets materializes ONCE (the cap and both sides of the
    // bucket self-join all read that checkpoint — rule: shared
    // self-join subtrees are checkpointed once), so the signature
    // pipeline runs once end-to-end with no inner checkpoint here.
    val banded = capBuckets(sigs.select(col("doc_id"), bandKeys(k, bands)),
      Seq("band", "band_hash"), maxBucket)
    banded.select(col("band"), col("band_hash"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("band_hash"),
        col("doc_id").as("id_b")), Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard computed ONLY for the given candidate pairs —
    * the verification half of a candidates→verify pipeline. Semantics
    * mirror ngramJaccardPairs (distinct shingles; df-capped intersection;
    * uncapped sizes in the denominator), but the per-pair work is
    * restricted to candidates by equi-joins, so cost is
    * O(|candidates| · shingles/doc), never O(N²). */
  def verifyPairsByJaccard(
      docs: DataFrame, cands: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 100): DataFrame =
    verifyFromShingles(shingleHashTable(docs, n).materializeOnce(), cands,
      threshold, maxDf)

  /** Per-doc shingle-set size above which the array-set verification
    * (one collect_list row per doc, duplicated once per candidate pair)
    * falls back to the exploded join for pairs touching that doc — the
    * scale guard for a pathological multi-MB document (VERDICT r14 #5).
    * 2^16 hashes = 512 KB per array row; both verification shapes are
    * exact, so the branch NEVER changes results (DedupSpec pins
    * equality; tools.ScaleProbe's giant-doc stage proves the fallback
    * at real size). The branch is decided from the max doc size
    * observed on the candidate pairs' checkpoint (verifiedInter), so
    * the common all-small case keeps the array plan with zero extra
    * jobs. */
  private[graft] val maxArrayDocShingles: Long = 1L << 16

  /** The verification shape a verified-pairs frame was built with:
    * "hybrid" when its plan unions the array arm with the exploded arm
    * (the only Union that carries the `inter` column), else "array".
    * Read off the frame's own plan, for specs and probes. */
  private[graft] def verifyShape(verified: DataFrame): String =
    if (verified.queryExecution.analyzed.exists {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        u.output.exists(_.name == "inter")
      case _ => false
    }) "hybrid" else "array"

  private[graft] def verifyFromShingles(
      ex: DataFrame, cands: DataFrame,
      threshold: Double, maxDf: Int,
      precomputedSizes: Option[DataFrame] = None,
      maxArraySz: Long = maxArrayDocShingles): DataFrame = {
    // (doc_id, sz): either ride-along output of the signature groupBy
    // (already materialized — zero extra jobs) or a dedicated aggregate
    val sizes = precomputedSizes.getOrElse(
      ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        .materializeOnce()) // read by the bound filter AND the final select
    val sized = cands
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
    // `keep` is the surviving (df ≤ cap) shingle set — a CORPUS-WIDE
    // count (dedupBatchAgainstStore merges a persisted one instead)
    val keep = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("sh"))
    verifySized(ex, sized, keep, threshold, maxArraySz)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The jaccard verification over candidate pairs that already carry
    * their set sizes: `sized` is (id_a, id_b, sz_a, sz_b) plus any
    * pass-through columns, which ride to the (unordered) output next to
    * `jaccard`. `broadcastIds` ships the candidate-doc id set to the
    * `ex` scan as a broadcast semi-join, so `ex` is filtered map-side
    * and never shuffled — right when the candidate set is batch-sized
    * and `ex` is a whole store index (dedupBatchAgainstStore); a
    * corpus-wide self-dedup leaves the join choice to the planner. */
  private def verifySized(
      ex: DataFrame, sized: DataFrame, keep: DataFrame,
      threshold: Double, maxArraySz: Long,
      broadcastIds: Boolean = false): DataFrame = {
    // Length bound (AllPairs/PPJoin): J = |∩|/|∪| ≤ min(sz)/max(sz), so
    // any pair whose size ratio is below the threshold provably cannot
    // verify — prune it BEFORE paying |cands|·shingles join rows. Pure
    // optimization: the surviving output set is identical (the computed
    // jaccard uses df-capped intersections, which only lowers J further).
    val bounded = sized
      .filter(least(col("sz_a"), col("sz_b")).cast("double") /
        greatest(col("sz_a"), col("sz_b")) >= threshold)
    val extra = sized.columns.toSeq
      .filterNot(Set("id_a", "id_b", "sz_a", "sz_b")).map(col)
    verifiedInter(ex, bounded, Some(keep), maxArraySz, broadcastIds)
      .select(Seq(col("id_a"), col("id_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
        ++ extra: _*)
      .filter(col("jaccard") >= threshold)
  }

  /** The verification core shared by every exact set-similarity
    * verify (verifySized, prefixJaccardJoin): (pair columns…, inter)
    * with inter = |A∩B| ≥ 1 over the shingles of `ex` (distinct per
    * doc) that survive the optional `keep` semi-join, for every pair of
    * `candidates` — (id_a, id_b, sz_a, sz_b) plus pass-through columns.
    *
    * `candidates` is materialized once (it is read by the candidate-doc
    * id set AND the intersection chain — without this the entire
    * candidate stage runs twice), and the max doc size over it rides
    * that job as an observed metric and picks the shape. Each candidate doc's
    * shingle set travels as ONE array row and |A∩B| is computed per
    * pair IN-TASK by array_intersect: the exploded form joined every
    * pair against the (doc, sh) rows, amplifying to Σ_pairs sz rows
    * (21M intermediate rows for 310k prefix-join candidates at sf0.1,
    * and ~4 s of d43's 4.4 s warm verify with the optimizer
    * broadcasting the ~|ex| subtree twice). A doc whose shingles are all
    * capped away has no set row, and the explicit inter ≥ 1 filter
    * reproduces the inner-join behavior (pairs with zero capped overlap
    * never surface) for ANY threshold. Pairs touching a doc above
    * `maxArraySz` (never at gate SF) verify through the exploded join
    * instead: same exact intersection, no multi-MB array row per pair.
    * Both shapes are exact, so the split never changes the result set;
    * when no big doc exists the plan is exactly the pure array shape. */
  private def verifiedInter(
      ex: DataFrame, candidates: DataFrame, keep: Option[DataFrame],
      maxArraySz: Long, broadcastIds: Boolean = false): DataFrame = {
    val (bounded, m) =
      candidates.materializeOnce(max(greatest(col("sz_a"), col("sz_b"))).as("mx"))
    val pairCols = bounded.columns.toSeq.map(col)
    // the candidate docs' (df-capped) (doc_id, sh) rows
    def candShingles(pairs: DataFrame): DataFrame = {
      val ids = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id")))
        .distinct()
      val cand =
        ex.join(if (broadcastIds) broadcast(ids) else ids, Seq("doc_id"), "left_semi")
      keep.fold(cand)(cand.join(_, Seq("sh"), "left_semi"))
    }
    def arrayInter(pairs: DataFrame): DataFrame = {
      val docSets = candShingles(pairs)
        .groupBy(col("doc_id")).agg(collect_list(col("sh")).as("shs"))
      pairs
        .join(docSets.select(col("doc_id").as("id_a"), col("shs").as("shs_a")),
          Seq("id_a"))
        .join(docSets.select(col("doc_id").as("id_b"), col("shs").as("shs_b")),
          Seq("id_b"))
        .select(pairCols :+
          size(array_intersect(col("shs_a"), col("shs_b"))).cast("long").as("inter"): _*)
        .filter(col("inter") >= 1)
    }
    def explodedInter(pairs: DataFrame): DataFrame = {
      val exBig = candShingles(pairs)
      pairs
        .join(exBig.select(col("doc_id").as("id_a"), col("sh")), Seq("id_a"))
        .join(exBig.select(col("doc_id").as("id_b"), col("sh")),
          Seq("id_b", "sh"))
        .groupBy(pairCols: _*)
        .agg(count(lit(1)).as("inter"))
    }
    if (m.long("mx") <= maxArraySz) arrayInter(bounded)
    else {
      val big = col("sz_a") > maxArraySz || col("sz_b") > maxArraySz
      arrayInter(bounded.filter(!big))
        .unionByName(explodedInter(bounded.filter(big)))
    }
  }

  /** The full candidates→verify MinHash-LSH dedup: banded LSH generates
    * candidates, exact n-gram Jaccard confirms them. Output is exact
    * similarity values over the candidate set — deterministic (no
    * estimator), so it can be oracled against the brute-force pair set;
    * equality additionally asserts 100% LSH recall on the corpus. */
  def minhashVerifiedPairs(
      docs: DataFrame, threshold: Double = 0.5, k: Int = 16,
      bands: Int = 4, shingleN: Int = 3, maxDf: Int = 100,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    // ONE shingle explode shared by the signature build and the exact
    // verification (they were two separate explode+checkpoint pipelines;
    // sharing halves the operator's heavy stage). The signature groupBy
    // carries the per-doc set sizes, so the verify stage's sizes table
    // is a free projection of the checkpointed signatures instead of a
    // second aggregation over the exploded table.
    val ex = shingleHashTable(docs, shingleN).materializeOnce()
    val sigs = signaturesFromShingles(ex, k)
      .materializeOnce() // feeds the candidate stage AND four size joins
    val cands = candidatesFromSignatures(
      sigs.select(col("doc_id"), col("sig")), k, bands, maxBucket)
    verifyFromShingles(ex, cands, threshold, maxDf,
      precomputedSizes = Some(sigs.select(col("doc_id"), col("sz"))))
  }

  // ---- MinHash calibration (d59) ----

  /** Draw constants for the REPLAYABLE minhash variant: k affine maps
    * h_i(x) = (x·A_i + B_i) mod M over the M = 2³¹−1 ring. The ring is
    * deliberately SMALL: every product stays below M² < 2^62, so the
    * arithmetic is exact plain int64 on BOTH engines — no wrapping
    * tricks (Spark 4 runs ANSI mode, where Long overflow THROWS, so
    * wraparound hashing is only available inside custom expressions
    * like RollingHash). One Scala definition feeds the Spark
    * expressions AND the generated DuckDB replay (CLAUDE.md rule 12).
    * 31-bit min-draws keep collision noise ~2⁻³¹ per draw — irrelevant
    * for a calibration HISTOGRAM (production minhash stays 64-bit
    * xxhash64 under d38). */
  private[graft] val calM = 2147483647L // 2^31 - 1 (prime)
  private[graft] val calDrawA: IndexedSeq[Long] =
    (0 until 16).map(i => 1000003L * (2 * i + 1) % calM)
  private[graft] val calDrawB: IndexedSeq[Long] =
    (0 until 16).map(i => 777767777L + 104729L * i)
  private[graft] val calFoldC = 1000003L
  private[graft] val calJScale = 1000000L

  /** MinHash ESTIMATOR calibration: for every banded candidate pair,
    * the signature-match estimate m/k next to the exact Jaccard, rolled
    * up per match-count bucket — the approximation contract as a
    * measured table (d38's recall gates assert the banding finds pairs;
    * this measures what the estimator CLAIMS about them, and how biased
    * that claim is per bucket).
    *
    * The whole pipeline is cross-engine replayable: shingles hash with
    * the RollingHash polynomial (HUGEINT-replayable), reduce into the
    * 2³¹−1 ring via pmod (DuckDB: ((signed % M) + M) % M — identical
    * representative), draws are the affine maps above in exact int64,
    * and band keys are a mod-M polynomial fold of each band's mins
    * (join-internal, never output). Exact J floor-scales to 1e-6 units
    * BEFORE summation (rule 17: never sum raw doubles); the bucket
    * mean is one division of exact integers.
    *
    * Scale shape: identical to d38 — one shingle explode shared by the
    * signature build and the verify join (materialized once), a banded
    * equi-join, and an output bounded by k+1 buckets. */
  /** Ring-hashed shingle table: (doc_id, sh) with sh = pmod(RollingHash
    * (shingle), M) — the d59/d61 replayable working set. */
  private[graft] def ringShingles(docs: DataFrame, shingleN: Int): DataFrame =
    spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(
        transform(TextFunctions.shinglesFromTokens(col("toks"), shingleN),
          s => pmod(graft.expressions.RollingHash(s), lit(calM)))).as("sh"))

  /** Ring minhash signatures from [[ringShingles]]: doc_id, sz, m0..m_{k-1}. */
  private[graft] def ringSignatures(ex: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(pmod(col("sh") * lit(calDrawA(i)) + lit(calDrawB(i)), lit(calM)))
        .as(s"m$i"))
    ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"), mins: _*)
  }

  /** Mod-M polynomial fold of mins [from, until) — the band key.
    * Mod each step: ANSI forbids Long wraparound (rule 21a). */
  private[graft] def ringBandKey(from: Int, until: Int): Column =
    (from until until).map(i => col(s"m$i"))
      .foldLeft(lit(0L))((acc, m) =>
        pmod(acc * lit(calFoldC) + m, lit(calM)))

  def minhashCalibration(docs: DataFrame, k: Int = 16, bands: Int = 4,
      shingleN: Int = 3): DataFrame = {
    require(k == calDrawA.length && k % bands == 0)
    val rows = k / bands
    val ex = ringShingles(docs, shingleN)
      .materializeOnce() // feeds signatures AND the exact-Jaccard join
    val sigs = ringSignatures(ex, k)
      .materializeOnce() // both sides of the band self-join
    val banded = sigs.select(col("doc_id"), col("sz"),
      array((0 until k).map(i => col(s"m$i")): _*).as("sig"),
      posexplode(array((0 until bands).map(b =>
        ringBandKey(b * rows, (b + 1) * rows)): _*))
        .as(Seq("band", "bkey")))
    val cand = banded
      .select(col("band"), col("bkey"), col("doc_id").as("id_a"),
        col("sig").as("sig_a"), col("sz").as("sz_a"))
      .join(banded.select(col("band"), col("bkey"),
        col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("sz").as("sz_b")), Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), m => m)).cast("long").as("matches"))
      .distinct()
      .materializeOnce() // feeds the intersection join AND the rollup
    val inter = cand.select(col("id_a"), col("id_b"))
      .join(ex.select(col("doc_id").as("id_a"), col("sh")), Seq("id_a"))
      .join(ex.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    cand.join(inter, Seq("id_a", "id_b"), "left")
      .select(col("matches"),
        floor(coalesce(col("inter"), lit(0L)).cast("double")
          / (col("sz_a") + col("sz_b") - coalesce(col("inter"), lit(0L)))
            .cast("double") * calJScale).cast("long").as("j6"))
      .groupBy(col("matches").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j6")).as("sum_j6"))
      .select(col("bucket"),
        (col("bucket").cast("double") / k).as("est_jaccard"),
        col("n_pairs"),
        (col("sum_j6").cast("double")
          / (col("n_pairs") * calJScale).cast("double")).as("mean_exact_j"))
      .orderBy(col("bucket"))
  }

  /** Band-count S-curve (d61): the third LSH knob table (s60 tunes
    * probe count, d60 shingle width; this tunes bands×rows). For each
    * banding of the SAME k=16 ring signature — (2×8), (4×4), (8×2) —
    * the measured candidate count, how many candidates verify at exact
    * J ≥ 1/2, and precision as one division: the empirical S-curve
    * trade (more bands → more candidates → lower precision) a user
    * reads against 1−(1−jʳ)ᵇ before fixing d38's banding. One shingle
    * explode and one signature build feed ALL configurations. */
  def bandCurve(docs: DataFrame, k: Int = 16,
      bandCounts: Seq[Int] = Seq(2, 4, 8),
      shingleN: Int = 3): DataFrame = {
    require(bandCounts.forall(b => b > 0 && k % b == 0))
    val ex = ringShingles(docs, shingleN)
      .materializeOnce() // feeds signatures AND every config's verify
    val sigs = ringSignatures(ex, k)
      .materializeOnce() // both join sides of every config
    bandCounts.map { bands =>
      val rows = k / bands
      val banded = sigs.select(col("doc_id"), col("sz"),
        posexplode(array((0 until bands).map(b =>
          ringBandKey(b * rows, (b + 1) * rows)): _*))
          .as(Seq("band", "bkey")))
      val cand = banded
        .select(col("band"), col("bkey"), col("doc_id").as("id_a"),
          col("sz").as("sz_a"))
        .join(banded.select(col("band"), col("bkey"),
          col("doc_id").as("id_b"), col("sz").as("sz_b")),
          Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
        .distinct()
        .materializeOnce() // feeds the verify join AND both counts
      val verified = cand
        .join(ex.select(col("doc_id").as("id_a"), col("sh")), Seq("id_a"))
        .join(ex.select(col("doc_id").as("id_b"), col("sh")),
          Seq("id_b", "sh"))
        .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter") / (col("sz_a") + col("sz_b") - col("inter"))
          >= 0.5)
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
        .select(lit(bands.toLong).as("bands"),
          lit(rows.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_verified"),
          when(col("n_candidates") === 0, lit(0.0))
            .otherwise(col("n_verified").cast("double")
              / col("n_candidates").cast("double")).as("precision_at_half"))
    }.reduce(_ unionByName _).orderBy(col("bands"))
  }

  // ---- SimHash ----

  /** Word-hash selector for the SimHash family. Production default is
    * xxhash64 (well-mixed, codegen'd). `oracleHash = true` swaps in the
    * RollingHash polynomial fold — weaker mixing, but DuckDB can replay
    * it exactly in HUGEINT (same replay as the t35 fingerprint oracle),
    * which makes the WHOLE SimHash pipeline — votes, fingerprint,
    * banding, Hamming cut — hash-checkable against SQL. The banding and
    * vote logic is identical either way; only the per-word hash differs. */
  private def wordHash(w: org.apache.spark.sql.Column, oracleHash: Boolean) =
    if (oracleHash) graft.expressions.RollingHash(w) else xxhash64(w)

  /** Packed ±1 vote fold shared by [[simhash]] and [[simhashSet]]:
    * bits g and g+32 of each word hash ride ONE long sum in 32-bit
    * lanes (`shiftrightunsigned(h, g) & 0x1_0000_0001`), so the groupBy
    * aggregates 32 lane-sums + one count instead of 64 conditional
    * sums — half the aggregate buffer and partial-agg shuffle bytes,
    * and the per-row update is one shift+mask+add per lane pair with
    * no branch (guide §2.3 narrower aggregates / §4 codegen-friendly
    * expressions). Decode: bit g's set count is the low lane, bit
    * g+32's the high lane; the classic ±1 vote v_i = 2·set_i − n is
    * positive iff 2·set_i > n, so the fingerprint is BIT-IDENTICAL to
    * the 64-column conditional-sum formulation this replaces (the
    * d39/d42/d43 oracles replay the same sign rule). Lanes cannot
    * carry: each row adds ≤ 1 per lane, so corrupting the low lane
    * needs 2^32 rows in one doc (a 4-billion-token document), and the
    * long total ANSI-throws loudly at 2^31 rows long before that. */
  private def simhashFromVotes(words: DataFrame): DataFrame = {
    val lanes = (0 until 32).map { g =>
      sum(shiftrightunsigned(col("h"), g).bitwiseAND(lit(0x100000001L)))
        .as(s"s$g")
    }
    words.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), lanes: _*)
      .select(col("doc_id"),
        (0 until 32).map { g =>
          val lo = col(s"s$g").bitwiseAND(lit(0xffffffffL))
          val hi = shiftrightunsigned(col(s"s$g"), 32)
          when(lo * 2 > col("n"), lit(1L << g)).otherwise(lit(0L)) +
            when(hi * 2 > col("n"), lit(1L << (g + 32))).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** (doc_id, word, h) exploded word-hash table from a (doc_id, toks)
    * frame — lets SimHash callers share one spread+tokenize with the
    * shingle verification table. */
  private def wordHashTableFromToks(
      toks: DataFrame, oracleHash: Boolean): DataFrame =
    toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .withColumn("h", wordHash(col("w"), oracleHash))

  /** 64-bit SimHash per document: per-word hash, each bit votes ±1,
    * fingerprint bit set where the vote sum is positive. Single
    * explode+groupBy; the 64 bit-sums ride 32 packed lane aggregates
    * ([[simhashFromVotes]]). */
  def simhash(docs: DataFrame, oracleHash: Boolean = false): DataFrame =
    simhashFromVotes(wordHashTableFromToks(tokensTable(docs), oracleHash))

  /** Set-SimHash: each DISTINCT token votes ±1 exactly once, however
    * often it repeats. The occurrence-voting `simhash` above is
    * implicitly tf-weighted (a token's occurrences each vote, so its
    * vote mass IS its tf — which is why an explicit ±tf vote over
    * (doc, token) groups would be the identical function, not a
    * variant). The set form is the genuinely different weighting
    * (Manku/Jain/Das Sarma, WWW 2007, with weight(w)=1): token spam or
    * repeated boilerplate cannot dominate the fingerprint, so two docs
    * with the same vocabulary collide regardless of repetition counts.
    * Same two-shuffle shape, with a distinct before the bit-sums. */
  def simhashSet(docs: DataFrame, oracleHash: Boolean = false): DataFrame =
    simhashFromVotes(
      tokensTable(docs)
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .distinct()
        .withColumn("h", wordHash(col("w"), oracleHash)))

  /** Near-dup pairs by SimHash: 4 bands of 16 bits — any shared band is a
    * candidate (catches all pairs with Hamming distance ≤ 3 for sure, most
    * up to ~8); exact Hamming distance filters candidates. */
  def simhashPairs(
      docs: DataFrame, maxHamming: Int = 8,
      oracleHash: Boolean = false,
      maxBucket: Int = defaultMaxBucket): DataFrame =
    simhashPairsFromFp(simhash(docs, oracleHash), maxHamming, maxBucket)
      .orderBy(col("id_a"), col("id_b"))

  /** [[simhashPairs]] from an already-built (doc_id, simhash)
    * fingerprint frame, WITHOUT the final total order — the internal
    * candidate feed for verification pipelines (d43), whose joins
    * destroy order anyway; d39's declared query keeps the sorted
    * public wrapper. */
  private[graft] def simhashPairsFromFp(
      sh: DataFrame, maxHamming: Int,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    // ONE materialization, done inside capBuckets (rule 5): it feeds
    // the overfull-key list and both sides of the candidate self-join,
    // and the fingerprint build runs exactly once.
    val banded = capBuckets(sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_val"))), Seq("band", "band_val"), maxBucket)
    val a = banded.select(col("band"), col("band_val"),
      col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("band_val"),
      col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // long, not int: no non-int64 integer may reach a final oracled
        // schema (driver compare rule)
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      // hamming BEFORE distinct: the cut is a cheap codegen'd filter and
      // hamming is functional on the pair, so filtering first shrinks the
      // distinct's shuffle by the cut rate (~60% at sf0.1) with an
      // identical result
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Candidates→verify SimHash dedup: banded SimHash collision (within
    * maxHamming) generates candidates, exact n-gram Jaccard confirms.
    * Same determinism/oracle contract as minhashVerifiedPairs. */
  def simhashVerifiedPairs(
      docs: DataFrame, maxHamming: Int = 8, threshold: Double = 0.5,
      shingleN: Int = 3, maxDf: Int = 100,
      oracleHash: Boolean = false): DataFrame =
    // The candidate feed skips simhashPairs' final total order — the
    // verify joins destroy it anyway. (r15 measured-and-rejected:
    // sharing ONE tokensTable checkpoint between the fingerprint vote
    // and the shingle table — flat at bench SF, and at scale it holds
    // the tokenized corpus AND the shingle checkpoint resident at
    // once, where re-tokenizing streams with no storage footprint.)
    verifyPairsByJaccard(docs,
      simhashPairsFromFp(simhash(docs, oracleHash), maxHamming)
        .select(col("id_a"), col("id_b")),
      shingleN, threshold, maxDf)

  // ---- substring-span dedup ----

  /** Per-document duplicated-substring statistics — the substring-level
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022): for every document, how many of
    * its n-token windows (positional, with multiplicity) also occur
    * elsewhere in the corpus (any other position, same or different
    * document)? `dup_frac` near 1 marks boilerplate/templated text that
    * document-level dedup misses because the surrounding page differs.
    *
    * Windows are compared BY 64-BIT HASH, exactly as in the paper's
    * suffix-automaton practice: grouping the window strings themselves
    * would ship n-token strings through the shuffle; the hash group is
    * 8 bytes per window at any corpus size, at the cost of a
    * negligible-probability hash collision marking a window duplicated.
    * One explode + two groupBys + one equi-join — every stage keyed,
    * nothing quadratic. Production hash is xxhash64; oracleHash swaps
    * the DuckDB-replayable polynomial (CLAUDE.md rule 12). */
  def duplicatedSpanStats(
      docs: DataFrame, n: Int = 10, oracleHash: Boolean = false): DataFrame = {
    val wins = spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFunctions.windowsFromTokens(col("toks"), n)).as("win"))
      .select(col("doc_id"), wordHash(col("win"), oracleHash).as("wh"))
      .materializeOnce() // feeds the dup-hash set AND both per-doc counts
    val dup = wins.groupBy(col("wh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("wh"))
    val tot = wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_windows"))
    val dupPerDoc = wins.join(dup, Seq("wh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_windows"))
    tot.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)).cast("double")
          / col("n_windows").cast("double")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** [[winnowingPairs]] constants — one definition for the operator AND
    * the generated d62 oracle (rule 12). k-gram size 3, window 4: the
    * winnowing guarantee then detects any shared run of ≥ w+k−1 = 6
    * tokens while fingerprinting only ~2/(w+1) of positions. */
  val winnowK: Int = 3
  val winnowW: Int = 4
  val winnowMaxDf: Int = 20
  val winnowMinShared: Long = 2L

  /** Winnowing fingerprint near-dup pairs (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS algorithm): hash every k-gram, slide
    * a w-hash window, keep each window's MINIMUM hash as a fingerprint;
    * documents sharing ≥ minShared fingerprints pair up. The guarantee
    * that distinguishes it from plain k-gram sampling: any shared
    * substring of ≥ w+k−1 tokens shares at least one fingerprint, while
    * the fingerprint density stays ~2/(w+1) — sparse, position-robust
    * local dedup between MinHash (whole-doc) and d49's exhaustive
    * window table (every position).
    *
    * Exactness: min-of-window over the same signed hashes is engine-
    * independent; the gate runs oracleHash = true (the HUGEINT-
    * replayable polynomial, as d49); production defaults to xxhash64
    * under spec. Ties inside a window collapse to the same VALUE, so
    * value-distinct fingerprints are identical both sides.
    *
    * Scale shape: per-doc array lambdas (codegen'd, no explode until
    * the fingerprints — already ~2/(w+1) sparse); the pair join is the
    * standard df-capped inverted index (the d58 shape), so boilerplate
    * fingerprints never explode the candidate set. repartition before
    * the row-amplifying explode (rule 6 via spread). */
  /** The (doc_id, fp) winnowing-fingerprint table [[winnowingPairs]]
    * joins on — exposed so callers can persist it as a store (the d53
    * pattern) or audit density. Distinct per doc. */
  def winnowingFingerprints(
      docs: DataFrame, k: Int = winnowK, w: Int = winnowW,
      oracleHash: Boolean = false): DataFrame = {
    val hashes = spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      // k-gram strings, then their hashes — each built as a materialized
      // column BEFORE the next lambda references it (rule 4)
      .withColumn("shs", TextFunctions.windowsFromTokens(col("toks"), k))
      .select(col("doc_id"),
        transform(col("shs"), s => wordHash(s, oracleHash)).as("hs"))
      // HARD lineage cut, not just a separate select: the window stage
      // below references `hs` once per WINDOW (inside the transform
      // lambda), and CollapseProject inlines a same-stage alias into
      // every reference — re-evaluating the whole shingle+hash chain
      // per window, O(windows·shingles·fold) per doc (measured: 233 s
      // at sf0.1 vs ~1 s with the cut). Rule 4's trap, one projection
      // deeper.
      .materializeOnce()
    hashes
      .select(col("doc_id"),
        when(size(col("hs")) < w, array().cast("array<bigint>"))
          .otherwise(array_distinct(transform(
            sequence(lit(1), size(col("hs")) - (w - 1)),
            j => array_min(slice(col("hs"), j, lit(w)))))).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
  }

  def winnowingPairs(
      docs: DataFrame, k: Int = winnowK, w: Int = winnowW,
      maxDf: Int = winnowMaxDf, minShared: Long = winnowMinShared,
      oracleHash: Boolean = false): DataFrame = {
    val fps = winnowingFingerprints(docs, k, w, oracleHash)
      .materializeOnce() // feeds the df cap AND both join sides
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= maxDf).select(col("fp"))
    val fil = fps.join(keep, Seq("fp")).materializeOnce()
    fil.select(col("fp"), col("doc_id").as("id_a"))
      .join(fil.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The removal half of substring-level dedup (Lee et al. ACL 2022):
    * rewrite each document with every corpus-duplicated n-token span cut
    * out. A token survives iff NO duplicated window covers its position;
    * overlapping duplicated windows merge into one removed span for
    * free, because coverage is per-position. Same hashed-window plumbing
    * as duplicatedSpanStats, plus one posexplode to keep positions and a
    * per-document array rebuild at the end — the span arithmetic runs
    * inside array lambdas on the doc's own row (documents are bounded;
    * the corpus-sized work stays in the keyed groupBy/join stages).
    * Within-document repeats count as duplicates, exactly like the
    * stats operator: boilerplate that repeats inside one page is still
    * boilerplate. */
  def removeDuplicatedSpans(
      docs: DataFrame, n: Int = 10, oracleHash: Boolean = false): DataFrame = {
    val toks = spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .materializeOnce() // feeds the window explode AND the final rebuild
    // windowsFromTokens only drops empty windows (empty doc), so for any
    // nonempty doc the posexplode position IS the window's start token
    val wins = toks.select(col("doc_id"),
        posexplode(TextFunctions.windowsFromTokens(col("toks"), n)))
      .select(col("doc_id"), col("pos"),
        wordHash(col("col"), oracleHash).as("wh"))
      .materializeOnce() // feeds the dup-hash set AND the per-doc starts
    val dup = wins.groupBy(col("wh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("wh"))
    val starts = wins.join(dup, Seq("wh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("dup_starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("dup_starts"), array().cast("array<int>")).as("ds"))
      .withColumn("kept", filter(col("toks"), (_, pos) =>
        !exists(col("ds"), s => pos >= s && pos < s + lit(n))))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("bigint").as("n_removed"))
      .orderBy(col("doc_id"))
  }

  // ---- content-defined chunking (CDC) ----

  /** [[cdcChunkTable]] constants — one definition for the operator AND
    * the generated d68 oracle (rule 12). Hash window k = 4 tokens,
    * divisor 8: a cut fires after a window whose hash ≡ 0 (mod 8), so
    * chunks average ~8 + k tokens with no alignment to any fixed grid. */
  val cdcK: Int = 4
  val cdcDiv: Int = 8

  /** Content-defined chunking (the rsync / LBFS / FastCDC family —
    * Muthitacharoen, Chen & Mazières, "A low-bandwidth network file
    * system", SOSP 2001): split each document into variable-length
    * chunks whose boundaries depend only on LOCAL content (a rolling
    * window hash hitting 0 mod `div`), so an insertion near the head of
    * a document shifts every byte offset yet leaves every chunk after
    * the edit region IDENTICAL — the self-synchronization property
    * fixed-grid chunking lacks, and the reason chunk stores (backup
    * dedup, CAS blob stores, diff transfer) use CDC. Emits one row per
    * (doc, chunk): ordinal, 64-bit chunk-content hash, token length.
    *
    * Boundary rule, exactly and engine-replayably: window i (1-based,
    * covering tokens i..i+k−1) cuts AFTER its last token iff
    * pmod(hash(window), div) == 0 and a token follows (i+k ≤ n). Every
    * position is tested independently — no min/max chunk clamps, so no
    * sequential scan; the whole per-doc computation is array lambdas.
    *
    * Scale shape: repartition before the row-amplifying explode (rule
    * 6); two hard lineage cuts (rule 4's corollary — `hs` and `starts`
    * are array-built columns referenced from later per-element
    * expressions); then one explode to chunk grain. Nothing quadratic,
    * nothing windowed. Production hash xxhash64; oracleHash swaps the
    * DuckDB-replayable polynomial (rule 12). */
  def cdcChunkTable(docs: DataFrame, k: Int = cdcK, div: Int = cdcDiv,
      oracleHash: Boolean = false): DataFrame = {
    val hashed = spread(docs)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("shs", TextFunctions.windowsFromTokens(col("toks"), k))
      .select(col("doc_id"), col("toks"),
        transform(col("shs"), s => wordHash(s, oracleHash)).as("hs"))
      .materializeOnce() // hard cut: hs is referenced per boundary test
    val starts = hashed
      .select(col("doc_id"), col("toks"),
        // chunk start positions, 1-based: token 1 always; token i+k for
        // every boundary window i. Strictly increasing (distinct i →
        // distinct i+k ≥ k+1 > 1). sequence guarded per rule 16.
        concat(array(lit(1)),
          when(size(col("hs")) < 1, array().cast("array<int>"))
            .otherwise(transform(
              filter(sequence(lit(1), size(col("hs"))),
                i => pmod(element_at(col("hs"), i), lit(div.toLong)) === 0
                  && (i + lit(k) <= size(col("toks")))),
              i => (i + lit(k)).cast("int")))).as("starts"))
      .materializeOnce() // hard cut: starts feeds per-chunk expressions
    starts
      .select(col("doc_id"), col("toks"), col("starts"),
        posexplode(col("starts")).as(Seq("ci", "st")))
      // chunk end: the token before the next start, or the last token.
      // CaseWhen evaluates lazily, so the out-of-bounds element_at on
      // the last chunk is never touched (ANSI-safe, rule 21a).
      .withColumn("en",
        when(col("ci") + 2 > size(col("starts")), size(col("toks")))
          .otherwise(element_at(col("starts"), (col("ci") + lit(2)).cast("int")) - 1))
      .select(col("doc_id"),
        col("ci").cast("long").as("chunk_idx"),
        wordHash(array_join(
          slice(col("toks"), col("st"), col("en") - col("st") + 1), " "),
          oracleHash).as("ch"),
        (col("en") - col("st") + 1).cast("long").as("clen"))
  }

  /** Per-document chunk-store dedup statistics over [[cdcChunkTable]]:
    * how many of a document's CDC chunks (and what fraction of its
    * tokens) already exist elsewhere in the corpus chunk store — the
    * d49 substring-dedup view at CHUNK grain, i.e. what a
    * content-addressed store would actually deduplicate. Chunks
    * partition the token array, so sum(clen) = token count exactly
    * (pinned by spec). One groupBy to chunk-hash grain + one equi-join
    * back; `dup_token_frac` is a single division of exact int64s. */
  def cdcChunkStats(docs: DataFrame, k: Int = cdcK, div: Int = cdcDiv,
      oracleHash: Boolean = false): DataFrame = {
    val ch = cdcChunkTable(docs, k, div, oracleHash)
      .materializeOnce() // feeds the dup-hash set AND both per-doc aggs
    val dup = ch.groupBy(col("ch")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("ch"))
    val tot = ch.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_chunks"), sum(col("clen")).as("n_tokens"))
    val dupAgg = ch.join(dup, Seq("ch")).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_dup_chunks"), sum(col("clen")).as("dup_tokens"))
    tot.join(dupAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"), col("n_tokens"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens").cast("double")).as("dup_token_frac"))
      .orderBy(col("doc_id"))
  }

  /** Corpus growth curve (the Heaps-law view a collection team reads to
    * decide when a source is mined out): cumulative distinct n-gram
    * shingles against ingest order, at `buckets` ingest deciles — each
    * decile's row says how much content that slice of the crawl added
    * that the corpus had NOT already collected. First-seen attribution
    * is exact (min doc_id per shingle — [[noveltyScores]]' machinery at
    * curve grain); deciles cut by doc-id RANK (exact under id gaps),
    * with ranks from [[Prefix.cumsum]] so no global sort ever happens.
    *
    * Scale shape: one shingle explode + one groupBy to shingle grain
    * for first-seen, one rank pass, then everything runs at decile
    * grain — the cumulative sum is a ≤buckets² triangular self-join,
    * deliberately windowless (rule 23's no-unpartitioned-window
    * discipline applied to its own 10-row output). */
  def growthCurve(
      docs: DataFrame, n: Int = 3, buckets: Int = 10): DataFrame = {
    val ids = docs.select(col("doc_id")).withColumn("one", lit(1L))
    val ranked = Prefix.cumsum(ids, "doc_id", Seq("one" -> "rk"),
      inclusive = true)
    val tot = docs.agg(count(lit(1)).as("n"))
    val dec = ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"), expr(s"((rk - 1) * $buckets) DIV n").as("decile"))
    val firstSeen = shingleTable(docs, n)
      .groupBy(col("sh")).agg(min(col("doc_id")).as("fd"))
    val cnt = firstSeen
      .join(dec.select(col("doc_id").as("fd"), col("decile")), Seq("fd"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_shingles"))
    val grid = docs.sparkSession.range(buckets).toDF("decile")
    val filled = grid.join(cnt, Seq("decile"), "left")
      .select(col("decile"),
        coalesce(col("new_shingles"), lit(0L)).as("new_shingles"))
      .materializeOnce() // both sides of the cumulative self-join
    filled
      .join(filled.select(col("decile").as("d2"), col("new_shingles").as("s2")),
        col("d2") <= col("decile"))
      .groupBy(col("decile"), col("new_shingles"))
      .agg(sum(col("s2")).as("cum_shingles"))
      .select(col("decile"), col("new_shingles"), col("cum_shingles"))
      .orderBy(col("decile"))
  }

  /** Cross-source duplication matrix: for every unordered source pair,
    * how many duplicate clusters span both sources and how many
    * cross-source near-dup doc pairs they contain — the provenance /
    * licensing diagnostic ("which crawl is mirroring which") that d44's
    * per-doc cluster list doesn't surface. Diagonal rows count
    * within-source duplication (C(c,2) per cluster).
    *
    * Exactness under ANSI (rule 21a, the d64 lesson): per-cluster
    * products run in DECIMAL — the sum accumulates DOUBLED pair counts
    * (c·(c−1) same-source, 2·c_a·c_b cross) so no integer halving
    * happens until the final exact /2.
    *
    * Scale shape: membership collapses to (cluster, source) grain
    * FIRST (one groupBy), so the per-cluster "quadratic" is the
    * sources-per-cluster self-join — bounded by |sources|, never by
    * cluster size; the matrix output is |sources|² at most. */
  def crossSourceDups(docs: DataFrame, pairs: DataFrame): DataFrame = {
    def D(c: Column) = c.cast("decimal(38,0)")
    val cc = connectedComponents(pairs)
    val mem = cc.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("cluster_id"), col("source")).agg(count(lit(1)).as("c"))
      .materializeOnce() // both sides of the source-pair self-join
    val b = mem.select(col("cluster_id"), col("source").as("src_b"),
      col("c").as("cb"))
    mem.select(col("cluster_id"), col("source").as("src_a"), col("c").as("ca"))
      .join(b, Seq("cluster_id"))
      .filter(col("src_a") <= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("src_a") === col("src_b"),
            D(col("ca")) * (col("ca") - 1))
          .otherwise(D(col("ca")) * col("cb") * 2)).as("pairs2"))
      .select(col("src_a"), col("src_b"), col("n_clusters"),
        (col("pairs2") / lit(2)).cast("bigint").as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Longest shared token run per near-dup pair — the "how much is
    * actually copied" alignment diagnostic a curator reads AFTER pair
    * detection (a 6-token quote, a repeated template header, or a
    * wholesale copy all pass a Jaccard threshold; this tells them
    * apart). For each pair, positional k-token windows of both sides
    * match on equal window text; a match at offsets (pa, pb) sits on
    * alignment diagonal pa−pb, and the longest CONSECUTIVE run of
    * matches on any one diagonal, plus k−1, is the longest shared
    * token span. With repeated windows inside one document several
    * alignments exist and the BEST is reported — the MOSS-style
    * reading, and the useful one.
    *
    * Scale shape: the positional window explode is per-doc bounded and
    * repartitioned first (rule 6); pairing fans windows out by the
    * (bounded, capped) pair list before the text-keyed equi-join; the
    * island trick (pa − row_number) runs in windows partitioned by
    * (pair, diagonal) — bounded by DOCUMENT length, never corpus-sized.
    * Output: one row per pair, total order. */
  def sharedSpans(
      docs: DataFrame, pairs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = pairs.select(col("id_a"), col("id_b")).materializeOnce()
    // only docs that appear in a pair ever reach the span joins — scope
    // the window explode by a semi-join BEFORE tokenizing (the mmrRerank
    // `scoped` pattern): near-dup pairs touch a small fraction of the
    // corpus, so this turns a corpus-sized explode+materialize into a
    // pair-bounded one
    val ids = p.select(col("id_a").as("doc_id"))
      .union(p.select(col("id_b"))).distinct()
    val wins = spread(docs.join(ids, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TextFunctions.windowsFromTokens(col("toks"), k)))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
      .materializeOnce() // both pair sides read it
    val m = p
      .join(wins.select(col("doc_id").as("id_a"), col("pos").as("pa"),
        col("w")), Seq("id_a"))
      .join(wins.select(col("doc_id").as("id_b"), col("pos").as("pb"),
        col("w")), Seq("id_b", "w"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val wIsl = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    val runs = m.withColumn("isl", col("pa") - row_number().over(wIsl))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run"))
    runs.groupBy(col("id_a"), col("id_b"))
      .agg(max(col("run")).as("max_run"), sum(col("run")).as("n_aligned"))
      .select(col("id_a"), col("id_b"),
        (col("max_run") + lit(k - 1)).cast("bigint").as("shared_tokens"),
        col("n_aligned").cast("bigint").as("n_aligned"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-document novelty: the fraction of a document's distinct n-gram
    * shingles whose FIRST corpus occurrence (lowest doc_id) is this
    * document — the curation-side complement of duplicatedSpanStats. In
    * an id-ordered crawl this is "how much text did this document add
    * that we had not already collected?", the signal dedup-aware corpus
    * growth curves are built from. Same inverted-index shape as the
    * Jaccard family: one explode, one groupBy for first occurrence, one
    * equi-join back. */
  def noveltyScores(docs: DataFrame, n: Int = 3): DataFrame = {
    val ex = shingleHashTable(docs, n).materializeOnce() // first-id AND per-doc
    val first = ex.groupBy(col("sh")).agg(min(col("doc_id")).as("first_id"))
    ex.join(first, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_id") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  // ---- incremental (batch-vs-corpus) dedup ----

  /** Daily-ingest dedup: decide, for every document of an incoming
    * batch, whether it survives against the EXISTING corpus and against
    * the batch itself. A batch doc is dropped with reason 'corpus_dup'
    * if it near-duplicates any corpus doc (the corpus is the settled
    * truth and is never dropped), else 'batch_dup' if it duplicates an
    * earlier (lower-id) batch doc, else kept as 'unique'.
    *
    * Built on the same candidates→verify pair machinery as d38, so the
    * cost is the pair pipeline plus three equi-joins — the corpus side
    * never pairs with itself beyond what LSH proposes, and nothing here
    * is quadratic. This variant re-signatures the WHOLE corpus every
    * run — correct, but at 100 TB the corpus index must persist across
    * daily batches: see writeSignatureStore / dedupBatchAgainstStore
    * for that path (identical output, proven by SignatureStoreSpec). */
  def incrementalDedup(
      docs: DataFrame, isBatch: Column,
      threshold: Double = 0.5, maxDf: Int = 100): DataFrame = {
    val flags = docs.select(col("doc_id"), isBatch.as("is_batch"))
      .materializeOnce() // read by both pair-side joins AND the batch ids
    val pairs = minhashVerifiedPairs(docs, threshold, maxDf = maxDf)
      .select(col("id_a"), col("id_b"))
      .join(flags.select(col("doc_id").as("id_a"), col("is_batch").as("a_batch")),
        Seq("id_a"))
      .join(flags.select(col("doc_id").as("id_b"), col("is_batch").as("b_batch")),
        Seq("id_b"))
    classifyBatchPairs(pairs, flags.filter(col("is_batch")).select(col("doc_id")))
  }

  /** Shared keep/drop classification over verified near-dup pairs
    * (id_a < id_b, each side flagged a_batch / b_batch): corpus_dup >
    * batch_dup > unique, one row per id of `batchIds` (doc ids are
    * unique). Used by both the recompute path (incrementalDedup) and
    * the persisted-store path (dedupBatchAgainstStore) so the two
    * cannot drift. One pass: every pair names at most two batch docs
    * with a reason rank (0 = corpus_dup: paired with a corpus doc;
    * 1 = batch_dup: the later doc of a batch-batch pair), one groupBy
    * keeps each doc's minimum rank, and a left join from `batchIds`
    * decides every batch doc — including one with no shingles (empty
    * or null text), which no pair can name and which is 'unique'. */
  private def classifyBatchPairs(pairs: DataFrame, batchIds: DataFrame): DataFrame = {
    def hit(id: String, rank: Column) =
      struct(col(id).as("doc_id"), rank.as("rank"))
    val ranks = pairs
      .select(explode(array(
        when(col("a_batch") && !col("b_batch"), hit("id_a", lit(0))),
        when(col("b_batch"), hit("id_b", when(col("a_batch"), 1).otherwise(0)))))
        .as("h"))
      .filter(col("h").isNotNull)
      .groupBy(col("h.doc_id").as("doc_id"))
      .agg(min(col("h.rank")).as("rank"))
    batchIds
      .join(ranks, Seq("doc_id"), "left")
      .select(col("doc_id"), col("rank").isNull.as("keep"),
        when(col("rank") === 0, "corpus_dup")
          .when(col("rank") === 1, "batch_dup")
          .otherwise("unique").as("reason"))
      .orderBy(col("doc_id"))
  }

  // ---- persisted-signature incremental dedup ----

  /** Write the persisted dedup index for a settled corpus — the asset a
    * 100 TB pipeline reuses across daily ingests instead of
    * re-signaturing petabytes per batch. Three parquet tables:
    *
    *   - `signatures` (doc_id, sz, sig): MinHash signatures + distinct
    *     shingle-set size, the LSH candidate side;
    *   - `shingles` (doc_id, sh): the 64-bit hashed shingle inverted
    *     index — 8 bytes/shingle, read ONLY for docs that appear in a
    *     candidate pair (semi-join pruned; bucket it by doc_id on a real
    *     cluster so that read is partition-pruned too);
    *   - `df` (sh, df): corpus-wide shingle document frequencies, so the
    *     verify stage's boilerplate cap needs no corpus scan at all.
    *
    * One shingle explode feeds all three (same sharing as
    * minhashVerifiedPairs). k and shingleN are baked into the store —
    * a batch run MUST use the same values (signatures of different k
    * never collide in a band join; fail loudly rather than silently). */
  def writeSignatureStore(
      corpus: DataFrame, path: String, k: Int = 16, shingleN: Int = 3): Unit =
    writeStoreTables(shingleHashTable(corpus, shingleN), k, path,
      sub = "", mode = "overwrite")

  /** Target rows per parquet file for store writes (rule-26 shape:
    * enough rows that scan parallelism never collapses to file count,
    * small enough that one file is one healthy task). */
  private[graft] val storeRowsPerFile: Long = 131072L

  /** Coalesce `df` to a ROW-COUNT-derived file count before a write
    * (guide §6: store writes were inheriting the session's shuffle
    * partitions — 8 under streams — so every micro-batch appended a
    * fixed number of near-empty files regardless of its size; at 100 TB
    * that is file-count explosion plus per-batch open/commit cost).
    * coalesce never RAISES the partition count, so when a batch is
    * genuinely larger than files×rowsPerFile the session's partitioning
    * still governs parallelism — this only collapses the tiny-file
    * direction. */
  private[graft] def sizedForWrite(
      df: DataFrame, rows: Long,
      rowsPerFile: Long = storeRowsPerFile): DataFrame =
    df.coalesce(
      math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile)
        .min(Int.MaxValue.toLong).toInt)

  /** Shared store-table writer: one shingle explode feeds all three
    * tables (the minhashVerifiedPairs sharing), and every write's file
    * count derives from its own row count. The counts ride the
    * materialization as Observation metrics (count + two approx
    * distincts — zero extra jobs; approximate is fine for a FILE-COUNT
    * decision, never for data).
    *
    * The three writes are independent once `ex` is materialized, so they
    * run as concurrent Spark jobs on a pool owned by this call; each
    * carries the caller's local properties (job group, tags). The call
    * returns or throws only after all three have finished, and rethrows
    * the first failure in write order as it was raised. No `_SUCCESS`
    * marker is written: store readers skip `_` files, and each marker
    * costs the local filesystem two forked `chmod`s. */
  private def writeStoreTables(exRaw: DataFrame, k: Int, path: String,
      sub: String, mode: String): Unit = {
    // doc_id as bigint whatever the input's integral type: readers use
    // the fixed schemas below
    val (ex, m) = exRaw.select(col("doc_id").cast("long").as("doc_id"), col("sh"))
      .materializeOnce(
        count(lit(1)).as("n_sh"),
        approx_count_distinct(col("doc_id")).as("n_docs"),
        approx_count_distinct(col("sh")).as("n_distinct"))
    val tables = Seq(
      "shingles" -> sizedForWrite(ex, m.long("n_sh")),
      "signatures" -> sizedForWrite(signaturesFromShingles(ex, k), m.long("n_docs")),
      "df" -> sizedForWrite(ex.groupBy(col("sh")).agg(count(lit(1)).as("df")),
        m.long("n_distinct")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    try {
      val writes = tables.map { case (name, df) =>
        CatalystBridge.async(ex.sparkSession, pool) {
          df.write.mode(mode)
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(s"$path/$name$sub")
        }
      }
      val failures = writes.flatMap { w =>
        try { w.join(); None }
        catch { case e: java.util.concurrent.CompletionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }

  /** The store tables' schemas, fixed by writeStoreTables: readers pass
    * them to the parquet source instead of paying a schema-inference
    * job per table per batch. */
  private[graft] object StoreSchema {
    import org.apache.spark.sql.types._
    val signatures: StructType = StructType(Seq(
      StructField("doc_id", LongType), StructField("sz", LongType),
      StructField("sig", ArrayType(LongType))))
    val shingles: StructType = StructType(Seq(
      StructField("doc_id", LongType), StructField("sh", LongType)))
    val df: StructType = StructType(Seq(
      StructField("sh", LongType), StructField("df", LongType)))
  }

  /** Dedup an incoming batch against a PERSISTED signature store — the
    * actual at-scale incremental pattern: the settled corpus is touched
    * only through its index (signatures for candidates, merged df for
    * the cap, shingles of candidate docs for exact verification); corpus
    * text is never read and corpus signatures are never recomputed.
    *
    * Output and semantics are IDENTICAL to incrementalDedup over
    * (corpus ∪ batch): the candidate band join sees every bucket a batch
    * doc lands in at its full (store ∪ batch) population, so the
    * capBuckets decision and the candidates are the recompute path's;
    * the verify stage's df cap is the same corpus-wide count (persisted
    * df + batch increment), and classification reuses the same helper —
    * SignatureStoreSpec asserts row-for-row equality and the d53 gate
    * replays it against the brute-force oracle (rule-13 recall
    * contract, tools.RecallCheck).
    *
    * Per-batch cost: O(batch shingles), one scan of the store's
    * signatures (band keys and sizes), a band join over the batch's
    * bucket neighbourhood only, a map-side (broadcast) filter of the
    * store's shingle index down to candidate docs — the index itself is
    * never shuffled — and one aggregate over the df table, whose size
    * is the corpus's distinct-shingle count. Corpus text size does not
    * enter. SignatureStoreSpec pins the plan shape and the job count. */
  def dedupBatchAgainstStore(
      batch: DataFrame, storeSigs: DataFrame, storeShingles: DataFrame,
      storeDf: DataFrame, threshold: Double = 0.5, k: Int = 16,
      bands: Int = 4, shingleN: Int = 3, maxDf: Int = 100,
      maxBucket: Int = defaultMaxBucket): DataFrame = {
    // batch side: ONE explode shared by its signatures, df increment and
    // verification shingles (same sharing as minhashVerifiedPairs)
    val bex = shingleHashTable(batch, shingleN).materializeOnce()
    val bsigs = signaturesFromShingles(bex, k)
      .materializeOnce() // banded twice: the neighbourhood keys and its own rows
    val keys = Seq("band", "band_hash")
    def banded(sigs: DataFrame, isBatch: Boolean) =
      sigs.select(col("doc_id"), col("sz"), lit(isBatch).as("is_batch"),
        bandKeys(k, bands))
    val bBanded = banded(bsigs, isBatch = true)
    // the batch's neighbourhood: store rows in a bucket that holds a
    // batch doc. Every such bucket keeps its full store ∪ batch
    // population, so its count — and the cap decision — match the
    // recompute path; buckets without a batch doc yield no candidate
    // touching the batch and are never materialized
    val hood = capBuckets(
      banded(storeSigs, isBatch = false)
        .join(broadcast(bBanded.select(keys.map(col): _*)), keys, "left_semi")
        .unionByName(bBanded),
      keys, maxBucket)
    // candidates TOUCHING THE BATCH only: batch side × neighbourhood. The
    // corpus×corpus quadrant — the one that dominates a self-join and
    // that the store pattern exists to avoid — is never generated. Sizes
    // and batch flags ride the join, oriented with the ids.
    val bSide = hood.filter(col("is_batch"))
      .select(col("band"), col("band_hash"), col("doc_id").as("bid"),
        col("sz").as("bsz"))
    val oSide = hood.select(col("band"), col("band_hash"),
      col("doc_id").as("oid"), col("sz").as("osz"), col("is_batch").as("obatch"))
    val bFirst = col("bid") < col("oid")
    val cands = bSide.join(oSide, keys)
      .filter(col("bid") =!= col("oid"))
      // canonical orientation; batch-batch pairs arrive in both
      // directions and must collapse to one
      .select(least(col("bid"), col("oid")).as("id_a"),
        greatest(col("bid"), col("oid")).as("id_b"),
        when(bFirst, col("bsz")).otherwise(col("osz")).as("sz_a"),
        when(bFirst, col("osz")).otherwise(col("bsz")).as("sz_b"),
        (bFirst || col("obatch")).as("a_batch"),
        (!bFirst || col("obatch")).as("b_batch"))
      .distinct()
    // the df cap merges the persisted corpus counts with the batch
    // increment in ONE aggregate — never a corpus shingle scan. bex holds
    // a shingle once per doc, so each of its rows adds 1 to that
    // shingle's df; pre-aggregating it would add an exchange to the
    // decision's dependency chain for the same sums
    val keep = storeDf.select(col("sh"), col("df"))
      .unionByName(bex.select(col("sh"), lit(1L).as("df")))
      .groupBy(col("sh")).agg(sum(col("df")).as("t"))
      .filter(col("t") <= maxDf).select(col("sh"))
    // the store's shingle index enters lazily and is semi-joined to the
    // broadcast candidate-doc id set in its scan stage
    val ex = storeShingles.select(col("doc_id"), col("sh"))
      .unionByName(bex)
    val pairs = verifySized(ex, cands, keep, threshold, maxArrayDocShingles,
      broadcastIds = true)
    // batch ids from the batch itself: a doc without shingles has no
    // signature, yet it must be decided
    classifyBatchPairs(pairs, batch.select(col("doc_id")))
  }

  /** Read one store table with its fixed schema. recursiveFileLookup:
    * appends may land as batch-keyed SUBDIRECTORIES (the idempotent
    * form — see appendBatchToStore's `tag`), and must be read alongside
    * the flat base files; partition inference is irrelevant (flat
    * schema). */
  private def readStoreTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(path)

  /** Convenience overload reading the three store tables from a
    * writeSignatureStore directory. */
  def dedupBatchAgainstStore(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      storePath: String, threshold: Double, maxDf: Int): DataFrame =
    dedupBatchAgainstStore(batch,
      readStoreTable(spark, s"$storePath/signatures", StoreSchema.signatures),
      readStoreTable(spark, s"$storePath/shingles", StoreSchema.shingles),
      readStoreTable(spark, s"$storePath/df", StoreSchema.df),
      threshold = threshold, maxDf = maxDf)

  /** Fold a deduped batch's SURVIVORS into the signature store — the
    * close of the daily-ingest loop (index → dedup batch → append
    * survivors → next day's index is current). Appends parquet files
    * only; nothing is rewritten. The df table therefore holds PARTIAL
    * counts (one row per (sh, ingest)) — by design: every reader
    * already merges df rows with a groupBy-sum (dedupBatchAgainstStore
    * unions them with the batch increment), so an append is one small
    * write instead of a full-table rewrite, the only append semantics
    * that survive a 100 TB store. Compact the df table offline when the
    * partial-row count grows past reading comfort.
    * `survivors` must be the kept rows only (keep = true) — appending
    * dropped duplicates would make the store disagree with the
    * recompute path (StoreLoopSpec pins the two-day equivalence).
    *
    * `tag` makes the append IDEMPOTENT for at-least-once callers
    * (foreachBatch retries — IngestDedup passes batch_&lt;id&gt;): the
    * three writes land in tag-named SUBDIRECTORIES with overwrite
    * semantics, so a replayed batch overwrites its own files instead of
    * double-counting; store reads use recursiveFileLookup and see base
    * files and tagged appends alike. */
  def appendBatchToStore(
      survivors: DataFrame, path: String, k: Int = 16, shingleN: Int = 3,
      tag: Option[String] = None): Unit = {
    val (sub, mode) = tag match {
      case Some(t) => (s"/$t", "overwrite")
      case None    => ("", "append")
    }
    writeStoreTables(shingleHashTable(survivors, shingleN), k, path, sub, mode)
  }

  // ---- duplicate clustering ----

  /** Connected components over an undirected pair list (id_a < id_b):
    * every document labeled with the smallest id reachable through the
    * near-dup relation — the dedup endgame (pairs → clusters → keep one
    * survivor per cluster). Transitive closure matters: A~B and B~C must
    * collapse A,B,C together even when A~C was never emitted.
    *
    * Distributed min-label propagation: each round every node takes the
    * min of its own label and its neighbors' labels (one equi-join + one
    * groupBy per round); rounds needed = graph diameter, which for
    * near-dup clusters is tiny. The driver loop only ships ONE aggregate
    * (sum of labels, monotonically non-increasing) per round to detect
    * the fixpoint — no row data ever reaches the driver. (The same loop
    * at web scale is GraphX's / the large-star-small-star algorithm's
    * shape — Kiveris et al., "Connected components in MapReduce and
    * beyond", SoCC 2014.)
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // Symmetrize in ONE pass over the pair plan (explode of the two
    // directed copies): a union would read the — possibly expensive,
    // not-yet-materialized — pair pipeline twice before the checkpoint.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .materializeOnce() // feeds every round; don't recompute the pairs
    // Seed = round 1 fused into one groupBy (no join): every node of a
    // symmetric edge list appears as src, so min(self, neighbors) here
    // is exactly the first propagation step.
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label"))
    // (checkpointed just below, with the seed's fixpoint metric riding
    // the same job)
    // One min-label propagation step: each node takes the min of its own
    // label and its neighbors' labels. The own-label arm rides the SAME
    // groupBy as the neighbor arm (union, then one min) instead of a
    // separate left-join-back — 2 shuffles per step, not 3, and when the
    // label side is small AQE turns the dst-join into a broadcast, so
    // the step costs a single shuffle of the edge list.
    def step(l: DataFrame): DataFrame =
      edges.join(l.select(col("id").as("dst"), col("label")), Seq("dst"))
        .select(col("src"), col("label"))
        .union(l.select(col("id").as("src"), col("label")))
        .groupBy(col("src")).agg(min(col("label")).as("label"))
        .select(col("src").as("id"), col("label"))
    // (r15 measured-and-rejected: a pointer-jump `l ⋈ l` path-
    // compression step per round — it did NOT reduce the round count on
    // the deepest gate graph (winnowing pairs: 5 rounds with or without)
    // and added one join per round, ~15-25% slower per round. The
    // 2-step round below stays.)
    // convergence metric: sum of labels, monotonically non-increasing.
    // Summed as DECIMAL(38,0): a LONG sum overflows (ANSI exception) once
    // ids·nodes pass 2^63 — e.g. 2^40-range ids on a ~10M-node graph.
    // The sum RIDES the checkpoint job as an Observation metric — the
    // fixpoint probe costs zero extra actions (it used to be a separate
    // scan of the labels per round). Initialized from the seed so a seed
    // that is already the fixpoint — star clusters, the dedup common
    // case — converges after ONE probe iteration.
    // (the sum reads 0 on an empty frame: zero pairs → done)
    def checkpointWithSum(l: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val (ck, m) =
        l.materializeOnce(sum(col("label").cast("decimal(38,0)")).as("s"))
      (ck, m.decimal("s"))
    }
    val (seed, seedSum) = checkpointWithSum(labels)
    labels = seed
    var prevSum: java.math.BigDecimal = seedSum
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // TWO propagation steps per driver iteration: per-node labels only
      // ever decrease, so "sum unchanged across the iteration" still
      // implies no label moved in either step — and the loop pays half
      // the checkpoints and fixpoint probes (the dominant cost is fixed
      // per-job overhead once clusters are small).
      val (updated, s) = checkpointWithSum(step(step(labels)))
      converged = s == prevSum
      prevSum = s
      labels = updated
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds — " +
          "a component's diameter exceeds the bound; raise maxRounds " +
          "(rounds are cheap once clusters stabilize) rather than " +
          "accepting silently split clusters")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Triangle census of the near-dup pair graph — the cluster-density
    * signal: a high closure rate (triangles per wedge) means clusters
    * are cliques (true duplicate groups); a low one means chains
    * (threshold too loose, dissimilar docs bridged transitively).
    *
    * Distributed shape (Suri & Vassilvitskii, WWW 2011): with edges
    * oriented id_a < id_b, each triangle a<b<c is counted exactly once
    * by the wedge join (a,b)⋈(b,c) closed by a semi-join probe for
    * (a,c) — two equi-joins, no enumeration of neighborhoods. Wedge
    * totals come from the degree aggregate: W = Σ deg·(deg−1)/2.
    * Integer arithmetic end-to-end; one final double division. */
  def triangleCensus(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .materializeOnce() // read by 2 join sides + probe + degree agg
    val wedges = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b2"), col("b").as("c")),
        col("b") === col("b2"))
      .select(col("a"), col("c"))
    val triangles = wedges
      .join(e.select(col("a").as("a3"), col("b").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // deg sums ride DECIMAL(38,0) (DuckDB mirror: HUGEINT): Σd(d−1) can
    // pass 2^63 under hub degrees; both halvings are exact-even integers.
    // d is cast BEFORE the d·(d−1) product so no int64 intermediate
    // exists even for a single hub's term (needs d>~3e9 — theoretical,
    // but the decimal guard should cover the product it claims to).
    val dD = col("d").cast("decimal(38,0)")
    val totals = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(dD) / 2).cast("bigint").as("n_edges"),
      (sum(dD * (dD - 1)) / 2).cast("bigint").as("n_wedges"))
    totals.crossJoin(triangles) // two 1-row frames
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(lit(3) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double")).as("closure_rate"))
  }

  /** Link prediction over the near-dup graph (q222) — ranked
    * candidate pairs the verifier should look at NEXT: two documents
    * that share many duplicate-neighbors but carry no edge themselves
    * are the classic "LSH missed it / threshold straddled it"
    * candidates, so this is the entity-resolution completion step
    * (Liben-Nowell & Kleinberg, CIKM '03) run on the d44 machinery.
    * Scores, all exact integers: common-neighbor count (the strongest
    * cheap predictor), an integerized Adamic–Adar
    * Σ_x 1000 DIV ⌊log₂ deg(x)⌋ (common neighbors discounted by how
    * promiscuous they are; every common neighbor has deg ≥ 2 so the
    * divisor is ≥ 1 — no degenerate branch), and the
    * preferential-attachment product deg(a)·deg(b) as the final
    * tiebreak before ids. ⌊log₂⌋ is length(bin(n))−1, the m63 idiom.
    *
    * Scale shape: wedges come from the symmetric edge list joined on
    * the CENTER vertex — Σ deg(x)² work, the q136 bound, governed
    * upstream by the pair set's maxDf hub cap; existing edges drop out
    * via one anti-join; the global top-k is orderBy+limit
    * (TakeOrdered — per-partition partial top-k, never a full sort). */
  def linkPrediction(pairs: DataFrame, topK: Int = 25): DataFrame = {
    val e = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .materializeOnce() // wedge sides, anti-join probe, degree agg
    val sym = e.select(explode(array(
        struct(col("a").as("v"), col("b").as("x")),
        struct(col("b").as("v"), col("a").as("x")))).as("s"))
      .select(col("s.v").as("v"), col("s.x").as("x"))
      .materializeOnce()
    val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("d"))
      .materializeOnce() // center discount + endpoint products
    // candidate pair (v, w) per shared neighbor x, oriented v < w
    val throughX = sym.select(col("x"), col("v"))
      .join(sym.select(col("x"), col("v").as("w")), Seq("x"))
      .filter(col("v") < col("w"))
      .join(deg, Seq("x")) // deg(x) for the Adamic–Adar discount
      .withColumn("aa_term", expr("1000 DIV (length(bin(d)) - 1)"))
      .groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("aa_term")).as("aa_milli"))
    val nonEdges = throughX
      .join(e.select(col("a").as("v"), col("b").as("w")),
        Seq("v", "w"), "left_anti")
    nonEdges
      .join(deg.select(col("x").as("v"), col("d").as("deg_a")), Seq("v"))
      .join(deg.select(col("x").as("w"), col("d").as("deg_b")), Seq("w"))
      .select(col("v").as("id_a"), col("w").as("id_b"),
        col("common_neighbors"), col("aa_milli").cast("bigint").as("aa_milli"),
        (col("deg_a") * col("deg_b")).as("pref_attach"))
      .orderBy(col("common_neighbors").desc, col("aa_milli").desc,
        col("pref_attach").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

  /** Newman modularity of an ARBITRARY node partition over the
    * near-dup pair graph (Newman & Girvan 2004): Q = Σ_c [e_c/m −
    * (d_c/2m)²] for membership classes c — here typically the SOURCE
    * label, answering "is duplication source-aligned?" at graph level
    * (q176's purity asks it per cluster). Q → 1: duplication lives
    * inside sources (scraper echo); Q ≤ 0: syndication wires sources
    * together at random or worse.
    *
    * Exactness: each class contribution is the single division
    * (4m·e_c − d_c²) / (4m²) of exact integers, and the global Q is
    * computed from the SUMS (4m·Σe_c − Σd_c²) / (4m²) — never by
    * adding per-class doubles. d² terms ride DECIMAL(38,0) (DuckDB
    * HUGEINT, rule 18). Per-class integer columns surface alongside so
    * the hash pins the full computation.
    *
    * Output: one row per class + a trailing '~total' row (tilde sorts
    * after ASCII alphanumerics in both engines' default collation for
    * the plain-string class labels used here). */
  def modularity(pairs: DataFrame, membership: DataFrame): DataFrame = {
    val e = pairs
      .join(membership.select(col("doc_id").as("id_a"), col("community").as("ca")),
        Seq("id_a"))
      .join(membership.select(col("doc_id").as("id_b"), col("community").as("cb")),
        Seq("id_b"))
      .materializeOnce() // total count, intra counts, degree stubs
    val m = e.agg(count(lit(1)).as("m"))
    val intra = e.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
    val degC = e.select(explode(array(col("ca"), col("cb"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("d_c"))
    val mD = col("m").cast("decimal(38,0)")
    val dD = col("d_c").cast("decimal(38,0)")
    val perClass = degC
      .join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m)) // 1-row normalizer
      .select(col("community"), col("e_c"), col("d_c"),
        ((mD * 4 * col("e_c").cast("decimal(38,0)") - dD * dD).cast("double")
          / (mD * mD * 4).cast("double")).as("q_contrib"))
    val total = degC.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_c"))
      .agg(sum(col("e_c")).as("se"),
        sum(col("d_c").cast("decimal(38,0)") * col("d_c").cast("decimal(38,0)"))
          .as("sd2"))
      .crossJoin(broadcast(m))
      .select(lit("~total").as("community"),
        col("se").as("e_c"), (col("m") * 2).as("d_c"),
        ((mD * 4 * col("se").cast("decimal(38,0)") - col("sd2")).cast("double")
          / (mD * mD * 4).cast("double")).as("q_contrib"))
    perClass.unionByName(total).orderBy(col("community"))
  }

  /** Dedup explainability: for every verified near-dup pair, the k
    * RAREST shared shingles (ascending global document frequency,
    * shingle text as tiebreak) — the human-auditable evidence trail a
    * compliance review of an automated dedup decision needs. Rare
    * shared shingles are the distinctive ones; boilerplate (high-DF)
    * evidence ranks last and falls out of the top-k.
    *
    * Pure integer/string pipeline — no floats anywhere, so the replay
    * is trivially exact. Shapes: evidence join is pair-scoped (two
    * doc-keyed joins), the window partitions by pair with k small. */
  def pairEvidence(
      docs: DataFrame, pairs: DataFrame, n: Int = 3, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the pair pipeline (often a full LSH+verify run) feeds the id set
    // AND the evidence join — materialize it once, not twice (rule 5)
    val p = pairs.select(col("id_a"), col("id_b")).materializeOnce()
    val ex = shingleTable(docs, n).materializeOnce() // both pair sides + DF agg
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // evidence is pair-scoped: only shingles of docs that appear in some
    // pair are ever read, so semi-join the exploded table down to those
    // docs BEFORE the (id, sh) joins — the full corpus shingle table is
    // then never shuffled by (id_b, sh) (the operator's largest
    // shuffle). df stays the CORPUS-WIDE aggregate above; restricting
    // the join inputs does not change any df value.
    val ids = p.select(col("id_a").as("doc_id"))
      .union(p.select(col("id_b").as("doc_id"))).distinct()
    val exC = ex.join(ids, Seq("doc_id"), "left_semi")
    val shared = p
      .join(exC.select(col("doc_id").as("id_a"), col("sh")), Seq("id_a"))
      .join(exC.select(col("doc_id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .join(dfreq, Seq("sh"))
    val w = Window.partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("df"), col("sh"))
    shared.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      // row_number is INT32; the gate schema contract is int64-only
      .select(col("id_a"), col("id_b"), col("rnk").cast("bigint").as("rnk"),
        col("df"), col("sh"))
      .orderBy(col("id_a"), col("id_b"), col("rnk"))
  }

  /** Train/test split-leakage audit: cross-tabulate the near-dup pair
    * set against a split assignment. A (train, test) pair is benchmark
    * leakage — the published-eval failure mode exact-match decontam
    * misses (Lee et al., "Deduplicating training data makes language
    * models better", ACL 2022 measures exactly this). Output one row
    * per unordered split combo with its pair count and share of all
    * pairs (one int/int double division, rule 17).
    *
    * Two doc-keyed equi-joins + one bounded groupBy (|splits|² rows);
    * the 1-row total is the only crossJoin. */
  def splitLeakage(pairs: DataFrame, split: DataFrame): DataFrame = {
    val p = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sp_a")),
        Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sp_b")),
        Seq("id_b"))
    val combos = p.groupBy(
        least(col("sp_a"), col("sp_b")).as("split_lo"),
        greatest(col("sp_a"), col("sp_b")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
    val total = combos.agg(sum(col("n_pairs")).as("n_total"))
    combos.crossJoin(broadcast(total)) // 1-row normalizer
      .select(col("split_lo"), col("split_hi"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("n_total").cast("double"))
          .as("share"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** Soft dedup — keep one representative per duplicate cluster but
    * carry the cluster size as a training WEIGHT, so the corpus-level
    * token distribution is preserved while byte-identical repetition is
    * removed (the duplication-as-weights recipe; the hard-dedup
    * alternative silently reweights the corpus toward never-duplicated
    * sources). Unpaired docs pass through at weight 1; cluster docs
    * collapse to min-id with weight = member count. Output covers the
    * FULL corpus: Σweight = |docs|.
    *
    * One cluster-grain groupBy + one anti-join — both at assignment
    * size, never corpus-text size. */
  def dedupWeights(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val cw = clusters.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("weight"))
      .select(col("doc_id"), col("weight"))
    val singles = docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("weight", lit(1L))
    cw.unionByName(singles).orderBy(col("doc_id"))
  }

  /** Per-node local clustering coefficient (Watts–Strogatz 1998) over
    * the near-dup pair graph: lcc(v) = 2·t_v / (d_v·(d_v−1)) — the
    * per-node companion to q136's single global closure rate. High-lcc
    * nodes sit inside template-spam cliques; low-lcc high-degree nodes
    * are hubs stitching unrelated docs (the ER false-positive smell).
    *
    * Exactness: t_v and d_v are exact int64 counts; lcc is ONE double
    * division of two exact int64 products (rule 17; d_v·(d_v−1) stays
    * in int64 to d_v ≈ 3e9 — beyond any dup graph's max degree).
    *
    * Scale shape: triangles enumerate canonically (a<b<c holds for free
    * because both joined edges are stored sorted) via one wedge join +
    * one closing semi-join — the same Σd² bound as triangleCensus —
    * then one explode(3) and a node-grain groupBy. */
  def localClustering(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .materializeOnce() // wedge sides, closing probe, degree agg
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val wedges = e
      .join(e.select(col("a").as("b2"), col("b").as("c")), col("b") === col("b2"))
      .select(col("a"), col("b"), col("c"))
    val tri = wedges.join(
      e.select(col("a").as("a3"), col("b").as("c3")),
      col("a") === col("a3") && col("c") === col("c3"), "left_semi")
    val tv = tri.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t"))
    deg.join(tv, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"))
      .withColumn("lcc",
        when(col("degree") < 2, lit(0.0))
          .otherwise((col("n_triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double")))
      .orderBy(col("doc_id"))
  }

  /** Edge embeddedness of the near-dup pair graph (d74): per EDGE, the
    * common-neighbor count and neighborhood Jaccard — the structural
    * sparsifier run BEFORE connected components at corpus scale. A
    * template-spam clique's edges are deeply embedded (every endpoint
    * pair shares the clique); the spurious bridge edges that chain
    * unrelated clusters into one giant component have embeddedness 0 —
    * dropping them before the CC walk is what keeps cluster diameters
    * (and the iteration count of every label-propagating algorithm)
    * bounded at 100 TB. Complements q175 (per-NODE closure) at edge
    * grain, where the cut decision actually lives.
    *
    * Cost shape: one wedge join (bounded by the upstream hub cap — the
    * same Σdeg² bound every triangle consumer in this file rides) plus
    * a stub-grain degree aggregate. cn, degrees are exact int64; jacc
    * is one int/int double division (rule 17) with the isolated-edge
    * denominator guarded (rule 21a). */
  def edgeEmbeddedness(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .materializeOnce() // directed stubs, wedge sides, degree agg
    val d = e.select(col("a").as("s"), col("b").as("t"))
      .unionByName(e.select(col("b").as("s"), col("a").as("t")))
    val deg = d.groupBy(col("s").as("v")).agg(count(lit(1)).as("degree"))
    // common neighbors of (a, b): c with c ~ a and c ~ b
    val cn = e
      .join(d.select(col("s").as("a2"), col("t").as("c")), col("a") === col("a2"))
      .join(d.select(col("s").as("b2"), col("t").as("c2")),
        col("b") === col("b2") && col("c") === col("c2"), "left_semi")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    e.join(cn, Seq("a", "b"), "left")
      .join(deg.select(col("v").as("a"), col("degree").as("deg_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("degree").as("deg_b")), Seq("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        col("deg_a"), col("deg_b"),
        coalesce(col("cn"), lit(0L)).as("cn"))
      // union of N(a)\{b} and N(b)\{a}: deg_a + deg_b - cn - 2
      .withColumn("jacc",
        when(col("deg_a") + col("deg_b") - col("cn") === 2, lit(0.0))
          .otherwise(col("cn").cast("double")
            / (col("deg_a") + col("deg_b") - col("cn") - 2).cast("double")))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Duplicate-cluster label purity: for each dup cluster, member
    * count, distinct label values, and the majority label's share — the
    * curation diagnostic separating intra-source duplication (scraper
    * echo, purity 1) from cross-source syndication (low purity), which
    * decide different remediations (fix the crawler vs canonicalize).
    *
    * One doc-keyed join + two bounded groupBys; purity is one int/int
    * double division (rule 17). */
  def clusterPurity(
      clusters: DataFrame, docs: DataFrame, label: String): DataFrame = {
    val sc = clusters.join(docs.select(col("doc_id"), col(label)), Seq("doc_id"))
      .groupBy(col("cluster_id"), col(label)).agg(count(lit(1)).as("c"))
    sc.groupBy(col("cluster_id"))
      .agg(sum(col("c")).as("n_members"),
        count(lit(1)).as("n_labels"),
        max(col("c")).as("top_label_n"))
      .select(col("cluster_id"), col("n_members"), col("n_labels"),
        col("top_label_n"),
        (col("top_label_n").cast("double") / col("n_members").cast("double"))
          .as("purity"))
      .orderBy(col("cluster_id"))
  }

  /** Degree assortativity of the near-dup pair graph (Newman,
    * "Assortative mixing in networks", PRL 2002): the Pearson
    * correlation of endpoint degrees over the 2m directed edge stubs.
    * r → 1 means high-degree nodes attach to high-degree nodes — the
    * clique signature of template spam; r < 0 means hub-and-spoke —
    * one canonical page with many light variants. Complements q136's
    * closure rate (local density) with a global mixing statistic.
    *
    * Exactness: the three power sums Σx, Σxy, Σx² (x = src degree,
    * y = dst degree; Σy ≡ Σx, Σy² ≡ Σx² by stub symmetry) are exact
    * integers on DECIMAL(38,0) (DuckDB mirrors with HUGEINT, rule 18);
    * numerator M·Σxy − (Σx)² and denominator M·Σx² − (Σx)² are exact
    * decimal products, and r is computed as exactly two double casts +
    * one division — each correctly rounded, so both engines agree
    * bit-for-bit (the q121 moment-statistics idiom).
    *
    * Scale shape: one degree groupBy at node grain, two equi-joins of
    * the stub table against the degree table (node-keyed shuffles —
    * the degree table is O(nodes), never broadcast), one global agg.
    * Decimal headroom: M·Σx² < 10^38 holds to ~1e12 stubs at 1e7 max
    * degree — beyond any near-dup graph this engine would build. */
  def assortativity(pairs: DataFrame): DataFrame = {
    val e = pairs
      .select(col("id_a").as("s"), col("id_b").as("d"))
      .unionByName(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
      .materializeOnce() // degree agg + both endpoint joins
    val deg = e.groupBy(col("s").as("v")).agg(count(lit(1)).as("dg"))
    val stubs = e
      .join(deg.select(col("v"), col("dg").as("x")), col("s") === col("v"))
      .drop("v")
      .join(deg.select(col("v"), col("dg").as("y")), col("d") === col("v"))
    val xD = col("x").cast("decimal(38,0)")
    val yD = col("y").cast("decimal(38,0)")
    val agg = stubs.agg(
      count(lit(1)).as("m2"),
      sum(xD).as("sx"), sum(xD * yD).as("sxy"), sum(xD * xD).as("sxx"))
    val m2D = col("m2").cast("decimal(38,0)")
    val num = m2D * col("sxy") - col("sx") * col("sx")
    val den = m2D * col("sxx") - col("sx") * col("sx")
    agg.select(
      (col("m2") / 2).cast("bigint").as("n_edges"),
      col("sx").cast("bigint").as("sum_deg"),
      col("sxy").cast("bigint").as("sum_xy"),
      col("sxx").cast("bigint").as("sum_xx"),
      when(den === 0, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .as("assortativity"))
  }

  /** Fixed-point integer PageRank over the (undirected) near-dup pair
    * graph — authority scoring of duplicate clusters: within a cluster,
    * the highest-PR node is the most-connected copy (the natural
    * canonical survivor), and cluster PR mass ranks clusters by how
    * aggressively they were duplicated (Page/Brin/Motwani/Winograd,
    * "The PageRank citation ranking", 1999).
    *
    * Determinism (the property that makes it oracle-able, same design
    * as the IVF centroids): rank lives as a SCALED INTEGER (init
    * `scale`, teleport 0.15·scale), per-edge contributions are integer
    * divisions (Spark DIV ≡ DuckDB // on non-negatives), and each
    * update sums integers — order-independent under any shuffle
    * schedule, so Spark and the replayed oracle agree bit-for-bit.
    *
    * Scale shape: each of the `iters` updates is one equi-join (ranks ⋈
    * edges on src) plus one groupBy(dst) sum — the standard distributed
    * PageRank step, all partitioned by node key, nothing driver-side.
    * Contribution sums ride DECIMAL(38,0) (rule-18 guard: a hub's
    * in-sum can pass 2^63 at ~1e10 nodes; DuckDB mirrors with HUGEINT);
    * the final rank fits int64 while N·scale < 2^63 — shrink `scale`
    * when the corpus passes ~1e9 nodes. */
  /** Rank unit for pageRank — shared with the generated oracle SQL
    * (rule 12: one definition, two engines). */
  val pageRankScale: Long = 1000000000L
  def pageRankTeleport(scale: Long): Long = 15L * scale / 100L

  def pageRank(
      pairs: DataFrame, iters: Int = 3,
      scale: Long = pageRankScale): DataFrame = {
    val teleport = pageRankTeleport(scale)
    rankFixpoint(pairs, iters,
      init = _ => lit(scale), teleportFor = _ => lit(teleport))
  }

  /** [[trustRank]] seed class — shared with the oracle generator. */
  val trustSeedMod: Long = 10L

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    * PageRank with the teleport mass restricted to a TRUSTED SEED SET —
    * here the hash class doc_id ≡ 0 (mod seedMod), standing in for a
    * whitelisted-domain list. Trust flows outward from seeds along
    * near-dup edges and decays with distance; unreachable spam farms
    * score 0 no matter how densely they interlink — the propagation
    * complement of q202's hop distance (BFS says "how far", TrustRank
    * says "how much reaches you"). Same integer fixed point as
    * [[pageRank]] (per-term floor, decimal sums), so the rounds replay
    * bit-for-bit: pr₀ = scale·[seed];
    * prₖ(v) = teleport·[seed v] + ⌊85·Σ ⌊prₖ₋₁(u)/deg(u)⌋⌋/100. */
  def trustRank(
      pairs: DataFrame, seedMod: Long = trustSeedMod, iters: Int = 3,
      scale: Long = pageRankScale): DataFrame = {
    val teleport = pageRankTeleport(scale)
    def seed(v: Column) = pmod(v, lit(seedMod)) === 0
    rankFixpoint(pairs, iters,
      init = v => when(seed(v), lit(scale)).otherwise(lit(0L)),
      teleportFor = v => when(seed(v), lit(teleport)).otherwise(lit(0L)))
  }

  /** [[hits]] constants — shared with the oracle generator. */
  val hitsScale: Long = 1000000L
  val hitsRounds: Int = 3

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over the
    * duplicate→first-seen DAG: every near-dup pair is directed
    * copy→original (higher id → lower id — ids are ingest order; a
    * copy "cites" its original, the citation-graph convention), so
    * AUTHORITIES are the most-copied originals and HUBS are copies
    * that aggregate authoritative originals (hub mass = Σ auth of
    * cited originals — citing one strong original outranks citing many
    * obscure ones, Kleinberg's mutual reinforcement). Integer determinization: both vectors start at `scale`;
    * each round computes raw sums a(v) = Σ h(u→v), h(u) = Σ a(u→v),
    * then renormalizes x ← x·scale DIV max(x) — max is a 1-row
    * aggregate (broadcast, never collected), division is DIV, so every
    * round replays bit-for-bit in SQL. Fixed rounds (convergence-free
    * determinism, like [[labelPropagation]]).
    *
    * Scale shape: per round two equi-joins + two node-grain aggregates
    * + two 1-row max frames; state is one row per node, materialized
    * (rule 5). Output: (doc_id, hub, auth), total order. */
  def hits(
      pairs: DataFrame, rounds: Int = hitsRounds,
      scale: Long = hitsScale): DataFrame = {
    def D(c: Column) = c.cast("decimal(38,0)")
    // copy→original orientation; pairs arrive with id_a < id_b
    val e = pairs.select(greatest(col("id_a"), col("id_b")).as("src"),
      least(col("id_a"), col("id_b")).as("dst"))
      .distinct()
      .materializeOnce() // two joins per round read it
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst"))).distinct().materializeOnce()
    var hv = nodes.select(col("v"), lit(scale).as("h"))
    var av = nodes.select(col("v"), lit(scale).as("a"))
    // One raw-sum frame per half-round, with its max riding the SAME
    // checkpoint job as an Observation metric (the connectedComponents
    // fixpoint-probe pattern) and the rescale left as a lazy projection
    // over the checkpoint — 2 jobs per round instead of the previous 6
    // (raw checkpoint + separate max aggregate + rescaled checkpoint,
    // twice). The rescale is a cheap map over an already-materialized
    // frame, so its two consumers (the next half-round's join and the
    // final select) re-project instead of paying a third checkpoint.
    def rawWithMax(raw: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val (ck, m) = raw.materializeOnce(max(col("x")).as("mx"))
      (ck, m.decimal("mx"))
    }
    def rescaled(raw: DataFrame, mx: java.math.BigDecimal, out: String): DataFrame =
      raw.select(col("v"),
        (if (mx.signum > 0)
          expr(s"CAST($scale AS DECIMAL(38,0)) * x DIV CAST('${mx.toPlainString}' AS DECIMAL(38,0))")
        else lit(0L).cast("decimal(38,0)")).cast("long").as(out))
    for (_ <- 1 to rounds) {
      // raw authority = Σ hub over in-edges; raw hub = Σ auth over
      // out-edges — the classic update order: auth first, then hubs
      // from the just-updated auth vector (Kleinberg JACM '99)
      val (rawA, maxA) = rawWithMax(nodes.join(
          e.join(hv, col("v") === col("src"))
            .groupBy(col("dst")).agg(sum(D(col("h"))).as("s")),
          col("v") === col("dst"), "left")
        .select(col("v"),
          coalesce(col("s"), lit(0L).cast("decimal(38,0)")).as("x")))
      av = rescaled(rawA, maxA, "a")
      val (rawH, maxH) = rawWithMax(nodes.join(
          e.join(av, col("v") === col("dst"))
            .groupBy(col("src")).agg(sum(D(col("a"))).as("s")),
          col("v") === col("src"), "left")
        .select(col("v"),
          coalesce(col("s"), lit(0L).cast("decimal(38,0)")).as("x")))
      hv = rescaled(rawH, maxH, "h")
    }
    nodes.join(hv, Seq("v")).join(av, Seq("v"))
      .select(col("v").as("doc_id"), col("h").as("hub"), col("a").as("auth"))
      .orderBy(col("doc_id"))
  }

  /** The shared integer rank fixed point of [[pageRank]]/[[trustRank]]:
    * undirected edges, per-term floor shares, DECIMAL(38,0) sums, a
    * node-dependent teleport term. One join + one groupBy per round
    * (rule 5 materialization on the static frames). */
  private def rankFixpoint(
      pairs: DataFrame, iters: Int,
      init: Column => Column, teleportFor: Column => Column): DataFrame = {
    // undirected graph: every pair contributes both directions; the
    // edge table feeds one join per iteration plus the degree aggregate
    // (rule 5 — materialize once)
    val e = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .materializeOnce()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // carry the out-degree on each edge so an iteration is a single
    // join against the (small) rank table
    val edges = e.join(deg, Seq("src")).materializeOnce()
    val nodes = deg.select(col("src").as("v")).materializeOnce()
    var ranks = nodes.select(col("v"), init(col("v")).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, col("v") === col("src"))
        // integer share of the source's rank; decimal BEFORE the sum
        .select(col("dst"), expr("pr DIV d").cast("decimal(38,0)").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      // every node of this undirected graph has in-edges, but the left
      // join + coalesce keeps the operator correct on directed inputs
      ranks = nodes.join(sums, col("v") === col("dst"), "left")
        .select(col("v"),
          (teleportFor(col("v")) + expr(
            "CAST(85 AS DECIMAL(38,0)) * coalesce(s, CAST(0 AS DECIMAL(38,0))) DIV 100"))
            .cast("long").as("pr"))
    }
    ranks.select(col("v").as("doc_id"), col("pr"))
      .orderBy(col("pr").desc, col("doc_id"))
  }

  /** Synchronous rounds for [[labelPropagation]] — shared with the
    * generated oracle CTE chain (rule 12). Fixed rounds (not
    * convergence) because sync LPA can oscillate on bipartite-ish
    * structure; a fixed budget is the standard determinization and
    * makes the replay exact. */
  val lpaRounds: Int = 4

  /** Label-propagation community detection (Raghavan, Albert & Kumara,
    * Phys. Rev. E 2007), determinized: every node starts as its own
    * label; each synchronous round re-labels every node with the MODE
    * of its neighbors' labels, ties broken by the smallest label — an
    * exact integer argmax, so every round (and the final assignment)
    * replays bit-for-bit in SQL. Distinct from [[connectedComponents]]:
    * CC's min-label fixpoint finds REACHABILITY classes; LPA's mode
    * update finds densely-connected COMMUNITIES inside them (a chain of
    * weakly-joined cliques is one component but several communities).
    *
    * Scale shape: per round, ONE equi-join (labels ⋈ edges on src) and
    * one (node, label)-grain count, then a per-node argmax window —
    * partitioned by node, bounded by that node's distinct neighbor
    * labels (≤ degree), never corpus-wide. State between rounds is one
    * row per node, materialized (rule 5). No driver-side data. */
  def labelPropagation(pairs: DataFrame, rounds: Int = lpaRounds): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .materializeOnce() // one join per round reads it
    var labels = e.select(col("dst").as("v")).distinct()
      .select(col("v"), col("v").as("lab"))
    val w = Window.partitionBy(col("dst")).orderBy(col("c").desc, col("lab"))
    for (_ <- 1 to rounds) {
      labels = e.join(labels, col("v") === col("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("dst").as("v"), col("lab"))
        .materializeOnce()
    }
    labels.select(col("v").as("doc_id"), col("lab").as("community"))
      .orderBy(col("doc_id"))
  }

  /** Multi-source BFS hop distance, `rounds` levels deep: every node
    * whose id ≡ 0 (mod `seedMod`) is a 0-hop seed; each round relaxes
    * dist(v) = min(dist(v), min over in-neighbors + 1). All-integer
    * min-relaxation — associative, order-independent, exactly
    * replayable as chained SQL CTEs. The crawl-frontier diagnostic:
    * how much of the dup graph sits within k hops of a seed set
    * (e.g. a trusted-domain whitelist).
    *
    * Scale shape: per round one equi-join (frontier ⋈ edges) + one
    * min-groupBy at node grain — the [[pageRank]] shape with min
    * instead of sum; reached-set state materialized between rounds
    * (rule 5). Rounds are a fixed budget: hop-limited neighborhoods
    * are the useful query at web scale (full BFS diameter is not). */
  /** [[bfsHops]] constants, shared with the oracle generator. seedMod
    * 10 puts ~10% of graph nodes in the seed set — dense enough that
    * the gate corpus' sparse dup graph still exercises multi-round
    * expansion (mod 50 reached 2 rows at sf0.01: all seeds isolated). */
  val bfsSeedMod: Long = 10L
  val bfsRounds: Int = 4

  def bfsHops(
      pairs: DataFrame, seedMod: Long = bfsSeedMod,
      rounds: Int = bfsRounds): DataFrame = {
    val e = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .materializeOnce()
    var dist = e.select(col("dst").as("v")).distinct()
      .filter(pmod(col("v"), lit(seedMod)) === 0)
      .select(col("v"), lit(0L).as("h"))
      .materializeOnce()
    for (_ <- 1 to rounds) {
      dist = dist.unionByName(
          e.join(dist, col("v") === col("src"))
            .select(col("dst").as("v"), (col("h") + 1L).as("h")))
        .groupBy(col("v")).agg(min(col("h")).as("h"))
        .materializeOnce()
    }
    dist.select(col("v").as("doc_id"), col("h").as("hops"))
      .orderBy(col("doc_id"))
  }

  /** k-truss of the near-dup graph (Cohen, NSA tech report 2008; the
    * triangle-reinforced sibling of [[kCore]]): iteratively delete
    * every edge supported by fewer than k−2 triangles until none
    * remains. Where the k-core keeps any sufficiently-degreed node, the
    * truss demands COHESION — an edge survives only if its endpoints
    * share k−2 common neighbors — so on a dup graph it isolates the
    * template-spam near-cliques and sheds the threshold-artifact
    * chains and stars that even the 2-core keeps.
    *
    * Runs EXACTLY `rounds` synchronous peel rounds (the unrolled-round
    * contract generated into the oracle, rule 12) and then THROWS if
    * the result is not a fixpoint — a cap-truncated replay can never
    * silently diverge (the q166 convention). Shape per round: triangle
    * support = two self-joins of the shrinking edge list (join on the
    * shared endpoint, then a left-semi probe for the closing edge —
    * the q136 wedge→triangle shape at edge grain) + one map-side
    * combined count; each round re-materializes (rule 5: the next
    * round self-joins it three ways). Rounds are peel-depth-bounded;
    * edge support only shrinks, so the sync peel is confluent. */
  def kTruss(pairs: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 3, "k-truss is defined for k >= 3")
    def support(edges: DataFrame): DataFrame =
      edges.select(col("src").as("u"), col("dst").as("v"))
        .join(edges.select(col("src").as("u"), col("dst").as("w")),
          Seq("u"))
        .filter(col("w") =!= col("v"))
        .join(edges.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"), "left_semi")
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
        .select(col("u").as("src"), col("v").as("dst"), col("sup"))
    var edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .materializeOnce()
    for (_ <- 0 until rounds)
      edges = edges
        .join(support(edges), Seq("src", "dst"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= lit((k - 2).toLong))
        .select(col("src"), col("dst"))
        .materializeOnce() // self-joined three ways next round (rule 5)
    val fin = edges
      .join(support(edges), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("sup"), lit(0L)).as("support"))
      .materializeOnce() // feeds the fixpoint check AND the output
    val notSettled = fin.filter(col("support") < (k - 2).toLong).count()
    if (notSettled > 0)
      throw new IllegalStateException(
        s"kTruss did not reach a fixpoint in $rounds rounds " +
          s"($notSettled under-supported edges remain) — raise rounds " +
          "(the oracle's unrolled replay must match)")
    fin.filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("support"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** k-core decomposition of the near-dup graph (Seidman 1983; the
    * Batagelj–Zaveršnik peel, distributed): iteratively delete every
    * node with fewer than k neighbors until none remains, returning the
    * maximal subgraph of minimum degree k. On a dup graph the 2-core
    * separates CLIQUE-LIKE duplicate clusters (template spam — every
    * member survives) from transitive CHAINS (threshold artifacts —
    * peeled away end-first), a structural signal triangleCensus gives
    * only in aggregate.
    *
    * Shape per round: the static symmetrized edge list is semi-joined
    * to the shrinking alive set on BOTH endpoints, then one map-side
    * combined degree count — two semi-joins + one groupBy, and AQE turns
    * both semi-joins into broadcasts as soon as the alive set is small.
    * The fixpoint probe (alive count, strictly non-increasing — and the
    * alive set only shrinks, so equal counts mean equal sets) rides the
    * round's checkpoint job as an Observation metric, exactly the
    * [[connectedComponents]] pattern. Rounds are data-bounded by the
    * peel depth (degeneracy ordering), not the graph diameter. */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int = 60): DataFrame = {
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .materializeOnce() // feeds every round; don't recompute the pairs
    def checkpointWithCount(df: DataFrame): (DataFrame, Long) = {
      val (ck, m) = df.materializeOnce(count(lit(1)).as("c"))
      (ck, m.long("c"))
    }
    def survivors(alive: DataFrame): DataFrame =
      edges
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("id"))
    var (alive, n) =
      checkpointWithCount(edges.select(col("src").as("id")).distinct())
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (ck, m) = checkpointWithCount(survivors(alive))
      converged = m == n
      n = m
      alive = ck
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxRounds rounds — peel depth " +
          "exceeds the bound; raise maxRounds (the oracle replay cap " +
          "must match)")
    // degrees within the settled core (min k by construction)
    edges
      .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("doc_id"), col("core_deg"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark-contamination check — the decontamination step every
    * training-corpus build runs: how much of each document's shingle set
    * appears in a benchmark/eval set's shingles? The benchmark side is a
    * distinct shingle set (tiny — broadcast by Catalyst); the corpus side
    * is the same inverted-index shape as the dedup family, so cost stays
    * one explode + one equi-join at any corpus size. */
  def contaminationCheck(
      docs: DataFrame, benchIds: Seq[Long], n: Int = 3): DataFrame = {
    val ex = shingleTable(docs, n).materializeOnce()
    val isBench = col("doc_id").isInCollection(benchIds)
    val bench = ex.filter(isBench).select(col("sh")).distinct()
    val corpus = ex.filter(!isBench)
    val sizes = corpus.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val overlap = corpus.join(bench, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    sizes.join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double")
          / col("n_shingles").cast("double")).as("rate"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination with a broadcast Bloom prefilter — the shape the
    * exact check above takes at 100 TB. `contaminationCheck` joins the
    * FULL corpus shingle table against the benchmark set; that join
    * shuffles every corpus shingle even though ~none of them hit. Here
    * the benchmark's shingle hashes build one Bloom sketch
    * (`DataFrame.stat.bloomFilter`, built distributed, merged on the
    * driver — its size depends on the BENCHMARK, never the corpus) and
    * the corpus side probes it with the native codegen'd
    * `BloomFilterMightContain` expression, so non-candidate shingles die
    * inside the scan stage without shuffling at all. Survivors — a
    * `fpp`-sized trickle plus the true hits — are verified by the exact
    * string equi-join.
    *
    * The Bloom phase is performance-only: a Bloom filter has no false
    * negatives, so candidates ⊇ true hits, and the verify join then
    * removes every false positive (both the Bloom's own and any
    * xxhash64 probe-key collision, because verification rejoins on the
    * shingle STRING). The output is therefore bit-identical to the
    * exact join — which is exactly what the d54 oracle replays, no
    * hash replay needed (same reasoning as q82's bloom join).
    *
    * Returns only the CONTAMINATED documents (inner join): at scale the
    * interesting output is the removal list, not a rate per clean doc.
    *
    * When to use which (ScaleProbe-measured, ARCHITECTURE §scale):
    * with a benchmark small enough to BROADCAST, d45's exact join is
    * already shuffle-free on the corpus side and the bloom pass is
    * pure overhead — reach for this operator once the benchmark's
    * shingle set passes broadcastability (real eval suites do), where
    * the exact join would shuffle both sides at corpus grain and this
    * path stays one scan + a ~MB sketch probe (measured 73.6 s vs
    * 114.3 s at 2.1M docs × 2.9M bench shingles, sub- vs
    * super-linear growth). */
  def bloomDecontaminate(
      docs: DataFrame, benchIds: Seq[Long], n: Int = 3,
      expectedBenchShingles: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val isBench = col("doc_id").isInCollection(benchIds)
    val bench = benchmarkShingles(docs.filter(isBench), n)
      .materializeOnce() // probed twice: bloom build + exact verify
    decontaminateAgainst(docs.filter(!isBench), bench,
      n, expectedBenchShingles, fpp)
  }

  /** Distinct shingle set of a benchmark corpus — the settled side of
    * the decontamination check, computed once and reused across batches
    * (callers should `materializeOnce()` it: it feeds both the bloom
    * build and the exact verify). */
  def benchmarkShingles(bench: DataFrame, n: Int = 3): DataFrame =
    shingleTable(bench, n).select(col("sh")).distinct()

  /** The corpus half of bloomDecontaminate against an ALREADY-COMPUTED
    * benchmark shingle set — the daily/streaming form, where the
    * benchmark is static and only the incoming batch is new. Same
    * two-phase bloom-prefilter → exact-verify semantics and the same
    * contaminated-docs-only output. */
  def decontaminateAgainst(
      corpusDocs: DataFrame, benchShingles: DataFrame, n: Int = 3,
      expectedBenchShingles: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    val corpus = shingleTable(corpusDocs, n).materializeOnce()
    val bench = benchShingles
    val candidates = RuntimeFilter.bloomPrefilter(
      corpus.withColumn("shh", xxhash64(col("sh"))),
      bench.select(xxhash64(col("sh")).as("shh")),
      "shh", "shh", expectedKeys = expectedBenchShingles, fpp = fpp)
    val overlap = candidates.join(bench, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      .materializeOnce() // contamination-sized; feeds sizes AND output
    // n_shingles only for the CONTAMINATED docs: the semi-join against
    // the (tiny) overlap set broadcasts, so the corpus never shuffles
    // for sizes — the whole operator is corpus-shuffle-free, which is
    // the entire point of the prefilter at 100 TB (d45 pays a
    // corpus-grain groupBy here because it reports every doc's rate).
    // explicit broadcast: overlap sits behind a checkpoint (LogicalRDD,
    // no stats), so Catalyst would SMJ these bounded-size joins
    val sizes = corpus
      .join(broadcast(overlap.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    sizes.join(broadcast(overlap), Seq("doc_id")) // inner: contaminated docs only
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double")
          / col("n_shingles").cast("double")).as("rate"))
      .orderBy(col("doc_id"))
  }

  /** Pairwise corpus overlap between SOURCES — the mixture-design
    * diagnostic (DoReMi/DSIR practice): before weighting sources in a
    * training mix, measure how much distinct content they share, as
    * Jaccard over each source's distinct shingle set. The inverted
    * index is keyed by shingle with at most K = #sources entries per
    * key, so the self-join fans out ≤ K(K−1)/2 pairs per shingle and the
    * aggregation lands on K² group keys — map-side partial aggregation
    * absorbs even a shingle shared by every source, and the output is
    * K²-sized at any corpus size. No DF cap needed, unlike the per-DOC
    * Jaccard family, precisely because K is bounded. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    val ex = spread(docs)
      .select(col("source"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("source"),
        explode(TextFunctions.shinglesFromTokens(col("toks"), n)).as("sh"))
      .distinct() // (source, shingle) inverted index
      .materializeOnce() // feeds sizes AND both join sides
    val sizes = ex.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = ex.select(col("sh"), col("source").as("src_a"))
      .join(ex.select(col("sh"), col("source").as("src_b")), Seq("sh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sz_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("sz_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("sz_a"), col("sz_b"),
        col("inter"),
        (col("inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---- exact n-gram Jaccard ----

  /** Exact Jaccard similarity pairs over distinct word n-gram shingles,
    * via an inverted-index equi-join. `maxDf` drops shingles appearing in
    * more than that many documents — the skew guard that keeps the join
    * from exploding on boilerplate shingles at scale. */
  /** Rare-shingle co-occurrence graph: an edge joins two documents that
    * share at least `minShared` distinct shingles whose document
    * frequency lies in [minDf, maxDf] — the graph that rare shared
    * BOILERPLATE induces (every df=m shingle contributes an m-clique),
    * which is why it is the natural substrate for [[kTruss]]'s
    * template-farm detection: unlike the Jaccard dup graph, a
    * co-rare-shingle edge survives heavy paraphrase as long as the
    * shared rare strings remain.
    *
    * Scale shape: the d40 inverted-index economics — one DF groupBy,
    * a self-join bounded by Σ df² with df ≤ maxDf (the cap IS the cost
    * model), one map-side-combined pair count. */
  def coRareShinglePairs(
      docs: DataFrame, n: Int = 3, minDf: Int = 2, maxDf: Int = 8,
      minShared: Int = 2): DataFrame = {
    val ex = shingleTable(docs, n).materializeOnce() // DF + both sides
    val fil = ex.join(
      ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf && col("df") <= maxDf).select(col("sh")),
      Seq("sh"))
    fil.select(col("sh"), col("doc_id").as("id_a"))
      .join(fil.select(col("sh"), col("doc_id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("id_a"), col("id_b"))
  }

  def ngramJaccardPairs(
      docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 100): DataFrame =
    ngramJaccardPairsFromToks(tokensTable(docs), n, threshold, maxDf)

  /** [[ngramJaccardPairs]] over an already-tokenized (doc_id, toks)
    * frame — lets a multi-knob sweep (d60's n ∈ {2,3,5} curve) share
    * ONE corpus scan + tokenize across shingle widths instead of
    * re-reading and re-splitting the text per knob value. */
  private[graft] def ngramJaccardPairsFromToks(
      toks: DataFrame, n: Int, threshold: Double,
      maxDf: Int): DataFrame = {
    // materialize the exploded shingle table once — it feeds four
    // branches (doc sizes, shingle DF, and both join sides); recomputing
    // the explode per branch dominated the whole operator (measured 4×).
    val ex = toks.select(col("doc_id"),
      explode(TextFunctions.shinglesFromTokens(col("toks"), n)).as("sh"))
      .materializeOnce()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val filtered = ex.join(
      ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("sh")),
      Seq("sh"))
    val a = filtered.select(col("sh"), col("doc_id").as("id_a"))
    val b = filtered.select(col("sh"), col("doc_id").as("id_b"))
    val inter = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Prefix-filtered EXACT set-similarity self-join (the PPJoin family:
    * Chaudhuri/Ganti/Kaushik ICDE 2006; Xiao/Wang/Lin/Yu WWW 2008) —
    * the lossless alternative to both MinHash-LSH (probabilistic recall)
    * and the DF-capped inverted index (capped-intersection
    * approximation). Shingles get a global rarity order (ascending
    * document frequency, shingle text as tiebreak); a document of sz
    * distinct shingles indexes only its first
    * sz − ⌈t·sz⌉ + 1 rarest shingles. Any pair with Jaccard ≥ t has
    * intersection ≥ ⌈t·max(sz_a, sz_b)⌉, and two sets whose overlap is
    * that large MUST collide inside those prefixes under a shared total
    * order (the prefix-filtering theorem) — so the candidate set is a
    * superset of the answer and the verify step makes the output
    * IDENTICAL to brute force. The gate oracle is therefore the plain
    * uncapped brute-force join: a hash match proves losslessness, not
    * just recall-on-this-corpus.
    *
    * Exactness: the threshold is the rational num/den applied as the
    * integer inequality (den+num)·inter ≥ num·(sz_a+sz_b) (from
    * den·inter ≥ num·(sz_a+sz_b−inter)); the reported jaccard is one
    * int/int double division, bit-equal cross-engine (rule 17).
    *
    * Scale shape: the candidate join runs on PREFIX rows only — for
    * t = 1/2 that's ~half the shingle table, and rare-first ordering
    * means boilerplate (high-DF) shingles fall OUT of short prefixes,
    * so Σdf² over indexed shingles collapses without any lossy cap.
    * Candidates carry both set sizes out of the prefix join, so the
    * AllPairs length bound prunes before the distinct. Verification is
    * candidate-scoped and row-bounded: each candidate doc's full
    * shingle set travels as ONE array row (two equi-joins keyed on
    * doc id) and |A∩B| is computed in-task by array_intersect — no
    * pair×shingle row amplification (the exploded form was measured at
    * 21M intermediate rows for 310k candidates at sf0.1). The rank
    * window partitions by doc_id — per-document state, no global
    * sort. */
  def prefixJaccardJoin(
      docs: DataFrame, n: Int = 3,
      thresholdNum: Long = 1, thresholdDen: Long = 2,
      maxArraySz: Long = maxArrayDocShingles): DataFrame = {
    require(thresholdNum >= 1 && thresholdDen >= thresholdNum,
      "threshold num/den must satisfy 0 < num/den <= 1")
    import org.apache.spark.sql.expressions.Window
    val ex = shingleTable(docs, n).materializeOnce() // feeds DF agg, prefix, verify
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val rankW = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    // prefix length p = sz − ⌈num·sz/den⌉ + 1; ceil via (a+den−1) div den.
    // floor() over double is exact here (num·sz + den ≪ 2^53), and p only
    // gates the Spark-side candidate step — the output never sees it.
    val plen = col("sz") - floor((col("sz") * thresholdNum + (thresholdDen - 1))
      / lit(thresholdDen.toDouble)) + 1
    // prefix rows CARRY the doc's set size, and the size itself RIDES
    // the rank window's exchange as a second window expression over the
    // same doc_id partitioning (count over the unordered partition ==
    // the old groupBy(doc_id) aggregate, exactly) — one full aggregate
    // pass over ex plus its join back are gone (guide §2.4: two
    // operations keyed the same way share one exchange). The candidate
    // join below can then apply the AllPairs length bound
    // (J ≤ min(sz)/max(sz) < num/den ⟹ the pair provably cannot
    // verify — exact integers, and the final threshold re-checks)
    // BEFORE the distinct, instead of a separate post-distinct
    // size-attach pass.
    val szW = Window.partitionBy(col("doc_id"))
    val prefix = ex.join(dfreq, Seq("sh"))
      .withColumn("rn", row_number().over(rankW))
      .withColumn("sz", count(lit(1)).over(szW))
      .filter(col("rn") <= plen)
      .select(col("sh"), col("doc_id"), col("sz"))
    // Candidate pairs with sizes, length-bound pruned, deduped, then
    // verified by the shared core (no df cap: the prefix join is exact)
    val candidates = prefix
      .select(col("sh"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("sh"), col("doc_id").as("id_b"),
        col("sz").as("sz_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")) * lit(thresholdDen)
          >= lit(thresholdNum) * greatest(col("sz_a"), col("sz_b")))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .distinct()
    verifiedInter(ex, candidates, None, maxArraySz)
      .filter(lit(thresholdDen + thresholdNum) * col("inter")
        >= lit(thresholdNum) * (col("sz_a") + col("sz_b")))
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact n-gram CONTAINMENT join — the asymmetric sibling of Jaccard:
    * C(A→B) = |A∩B| / |A| ≥ t flags document A as (near-)contained in
    * B, the doc-in-doc signal Jaccard misses entirely (a paragraph
    * quoted inside a long page has high containment and near-zero
    * Jaccard — Broder 1997's "containment" estimator, computed here
    * exactly). Emits one row per ordered (contained, container) pair, so
    * a symmetric near-dup yields both directions.
    *
    * Same inverted-index + DF-cap shape as ngramJaccardPairs (the cap is
    * the Σdf² skew guard; the oracle replays it identically), threshold
    * applied as the exact integer inequality den·inter ≥ num·sz, and the
    * reported containment is one int/int double division (rule 17). */
  def containmentPairs(
      docs: DataFrame, n: Int = 3,
      thresholdNum: Long = 1, thresholdDen: Long = 2,
      maxDf: Int = 100): DataFrame = {
    require(thresholdNum >= 1 && thresholdDen >= thresholdNum,
      "threshold num/den must satisfy 0 < num/den <= 1")
    val ex = shingleTable(docs, n).materializeOnce()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val filtered = ex.join(
      ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("sh")),
      Seq("sh"))
    val undirected = filtered.select(col("sh"), col("doc_id").as("id_a"))
      .join(filtered.select(col("sh"), col("doc_id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    // both directions of each undirected intersection, then the
    // asymmetric threshold on the CONTAINED side's size only
    val directed = undirected
      .select(col("id_a").as("doc_id"), col("id_b").as("container_id"), col("inter"))
      .unionByName(undirected
        .select(col("id_b").as("doc_id"), col("id_a").as("container_id"), col("inter")))
    directed
      .join(sizes, Seq("doc_id"))
      .filter(lit(thresholdDen) * col("inter") >= lit(thresholdNum) * col("sz"))
      .select(col("doc_id"), col("container_id"), col("inter"), col("sz"),
        (col("inter") / col("sz")).as("containment"))
      .orderBy(col("doc_id"), col("container_id"))
  }

  /** Incremental duplicate clusters — the dup graph's
    * index-not-recompute pattern (the d53 signature store's graph
    * sibling): a prior run's (doc_id, cluster_id) assignment is
    * star-compressed into doc→label edges, TODAY'S new pairs are
    * unioned in, and only that graph is re-labeled. Because every old
    * label is itself a member id of its component,
    * CC(star(CC(A)) ∪ B) = CC(A ∪ B) with identical min-id labels —
    * union-find path compression as a theorem, so the d56 gate
    * hash-matches the full-recompute oracle verbatim.
    *
    * Scale shape: the star edge list is one row per previously-paired
    * doc (already the size of the assignment table — no corpus text,
    * no re-shingling, no pair re-verification), and the CC fixpoint
    * runs on a graph whose old components are DIAMETER 1, so label
    * propagation over them converges in one round regardless of how
    * tangled the original pair graph was. Singleton prior rows
    * (doc_id = cluster_id) carry no edge; untouched ones survive
    * unchanged via the anti-join. */
  def mergeIncrementalClusters(
      prior: DataFrame, newPairs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val star = prior.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
    val cc = connectedComponents(
      star.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      maxRounds)
    val untouched = prior.filter(col("doc_id") === col("cluster_id"))
      .join(cc.select(col("doc_id")), Seq("doc_id"), "left_anti")
    cc.unionByName(untouched)
  }

  /** Multi-pass sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD
    * 1995 — the classic record-linkage blocking alternative to LSH): a
    * cheap sort key (n_chars) places near-duplicates close together;
    * each record is compared only with its `window−1` successors in key
    * order, verified by exact 3-gram shingle Jaccard.
    *
    * Distributed shape — deliberately NOT a global row_number window (a
    * single-partition sort is the classic SNM scale-killer): the key
    * axis is cut into buckets of `width` and the sliding window runs
    * PER BUCKET (partitioned window, all `window−1` leads in one pass).
    * Cross-boundary neighbors are recovered the way the original paper
    * recovers key weaknesses — a second pass with buckets shifted by
    * width/2 (any two records within width/2 of each other share a
    * bucket in at least one pass); the union is dedup'd. At 100 TB each
    * pass is one hash-partitioned window over bounded key ranges — no
    * global sort, no O(n²).
    *
    * The Jaccard threshold is applied as the INTEGER comparison
    * 2·inter ≥ union (exact; no float threshold), and the reported
    * jaccard is a single int-to-double division — so the whole operator
    * hash-matches a DuckDB window replay. */
  def sortedNeighborhoodPairs(
      docs: DataFrame, window: Int = 4, width: Long = 32L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spread(docs)
      .select(col("doc_id"), col("n_chars"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("n_chars"),
        TextFunctions.shinglesFromTokens(col("toks"), 3).as("sh"))
      .materializeOnce() // feeds both passes
    def pass(shift: Long): DataFrame = {
      val bucketed = base.withColumn("bucket",
        graft.operators.Layout.quantizeByWidth(
          col("n_chars") + lit(shift), width))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("n_chars"), col("doc_id"))
      val withLeads = bucketed.select(
        col("doc_id") +: col("sh") +:
          (1 until window).flatMap(o => Seq(
            lead(col("doc_id"), o).over(w).as(s"id_$o"),
            lead(col("sh"), o).over(w).as(s"sh_$o"))): _*)
      (1 until window).map { o =>
        withLeads.filter(col(s"id_$o").isNotNull)
          .select(col("doc_id").as("id_x"), col(s"id_$o").as("id_y"),
            size(array_intersect(col("sh"), col(s"sh_$o"))).as("inter"),
            (size(col("sh")) + size(col(s"sh_$o"))).as("tot"))
      }.reduce(_ unionAll _)
    }
    pass(0L).unionAll(pass(width / 2))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        col("inter"), (col("tot") - col("inter")).as("union_sz"))
      .filter(col("union_sz") > 0 &&
        col("inter") * 2 >= col("union_sz")) // jaccard >= 0.5, exact
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("union_sz").cast("double"))
          .as("jaccard"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Transitivity audit of a near-duplicate pair set: counts open
    * wedges (a–b and a–c verified, b–c not) vs closed triangles. A
    * threshold-verified similarity relation is NOT transitive, and the
    * closure rate is the standard QA readout for where the threshold
    * sits: ≈1 means the pair set behaves like true duplicate classes
    * (connected-components clustering over it is safe); low closure
    * means chains of borderline pairs are gluing distinct documents
    * into one cluster — exactly the d44 failure mode this audits.
    *
    * Counting: wedges at the CENTER vertex — Σ_v C(deg v, 2), computed
    * from degrees (never enumerated per pair at the sum level); closed
    * wedges = 3·triangles, via the q136 oriented a<b<c triangle join.
    * Degree sums run DOUBLED in DECIMAL(38,0) (deg² passes 2^63 on a
    * hub-heavy graph at scale, rule 18 — the q135/q136 lesson) and the
    * closure rate is one final double division, guarded for the
    * zero-wedge degenerate (rule 21a).
    *
    * Scale shape: one degree groupBy + the oriented edge-edge-semi
    * triangle join (the q136 shape: both joins on edge keys, AQE
    * handles hub skew). Output is one row. */
  /** Per-cluster cohesion report over the verified-pair graph (d71):
    * for each connected component, its size, internal edge count, and
    * density 2E / (s·(s−1)) — the companion readout to the global d70
    * closure rate. Density ≈ 1 marks a true duplicate class (clique);
    * a large sparse component is the chain-gluing failure d44's CC
    * clustering is vulnerable to, localized to the cluster that needs
    * a higher threshold or a split pass.
    *
    * Exactness: counts exact; s·(s−1) in DECIMAL(38,0) (a pathological
    * giant component could pass 2^63, rule 18); the density is one
    * fixed double division. Every CC-of-pairs cluster has ≥ 2 members,
    * so the denominator is never 0.
    *
    * Scale shape: the CC itself (d44's machinery), one size groupBy,
    * one edge→cluster equi-join at pair grain. Output at cluster
    * grain. */
  def clusterCohesion(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b")).materializeOnce()
    val asg = connectedComponents(p).materializeOnce() // sizes + edge join
    val sz = asg.groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
    val eg = p.join(asg.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
    sz.join(eg, Seq("cluster_id"))
      .select(col("cluster_id"), col("size"), col("n_edges"),
        ((col("n_edges") * 2).cast("double") /
          (col("size").cast("decimal(38,0)") * (col("size") - 1))
            .cast("double")).as("density"))
      .orderBy(col("cluster_id"))
  }

  def transitivityAudit(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .filter(col("id_a") < col("id_b")).distinct()
      .materializeOnce() // feeds degrees AND the triangle join
    val deg = edges.select(col("id_a").as("v"))
      .unionAll(edges.select(col("id_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum((col("d").cast("decimal(38,0)")) * (col("d") - 1)),
        lit(0).cast("decimal(38,0)")).as("w2")) // empty graph ⇒ 0, not NULL
    // oriented triangles a<b<c (q136): wedge (a,b),(a,c) closed by (b,c)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.id_a") === col("e2.id_a") &&
        col("e1.id_b") < col("e2.id_b"))
      .join(edges.as("e3"), col("e3.id_a") === col("e1.id_b") &&
        col("e3.id_b") === col("e2.id_b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = edges.agg(count(lit(1)).as("n_pairs"))
    val w = col("w2").cast("double") / lit(2.0)
    nEdges.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
      .select(col("n_pairs"), col("n_nodes"),
        (col("w2").cast("decimal(38,0)") / lit(2)).cast("bigint")
          .as("n_wedges"),
        col("n_triangles"),
        when(col("w2") === 0, lit(null).cast("double"))
          .otherwise(col("n_triangles").cast("double") * 3.0 / w)
          .as("closure_rate"))
      .orderBy(col("n_pairs"))
  }
}
