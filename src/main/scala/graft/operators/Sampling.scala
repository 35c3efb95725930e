package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-construction operators a training-data pipeline runs after
  * filtering/dedup: sampling, splitting, and sequence packing. All three
  * are DETERMINISTIC BY CONSTRUCTION — they derive decisions from a
  * multiplicative hash of the row id, not from rand() — which is what
  * makes a 100 TB corpus build reproducible run-to-run (and lets every
  * one of them sit under the DuckDB differential oracle).
  *
  * The hash is `(id * 104729) mod buckets` (a prime multiplier; products
  * stay < 2^57 for id < 2^40, so the arithmetic is exact in both 64-bit
  * engines — no wraparound semantics to replicate). It is uniform enough
  * for percentage bucketing; it is NOT a cryptographic or adversarial
  * hash.
  */
object Sampling {

  val HashPrime = 104729L

  /** Deterministic bucket in [0, buckets) from a long id column. */
  def hashBucket(id: Column, buckets: Int): Column =
    pmod(id * lit(HashPrime), lit(buckets.toLong))

  /** Modular-permutation ORDER hash (q208/q209 and their oracles —
    * one definition, two engines): injective while ids < OrderPrime
    * (swap a larger prime ring past 1e9 ids). Rule 21a-safe: reducing
    * the id AND the multiplier into the ring first keeps every product
    * under (OrderPrime−1)·OrderMul ≈ 6.5e17, so the plan-level Long
    * arithmetic can never hit the ANSI overflow throw at ANY id —
    * unlike the raw id·2654435761 form, which throws past id ≈ 3.47e9.
    * Values are IDENTICAL to the raw form for ids < OrderPrime
    * (x·c ≡ x·(c mod M) mod M). */
  val OrderPrime = 1000000007L
  val OrderMul = 2654435761L % OrderPrime // 654435747

  def orderHash(id: Column): Column =
    pmod(pmod(id, lit(OrderPrime)) * lit(OrderMul), lit(OrderPrime))

  /** The DuckDB rendering of [[orderHash]] (rule 12). */
  def orderHashSql(id: String): String =
    s"(($id % $OrderPrime) * $OrderMul) % $OrderPrime"

  /** Stratified sample: keep a per-stratum percentage of rows, decided by
    * the id hash (e.g. 50% of 'en' docs, 10% of everything else). The
    * map is applied via a CASE expression — no shuffle at all; the sample
    * is a pure filter that composes with pushdown. */
  def stratifiedSample(
      df: DataFrame, id: String, stratum: String,
      pctByStratum: Map[String, Int], defaultPct: Int): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) {
      case (acc, (value, p)) => when(col(stratum) === value, p).otherwise(acc)
    }
    df.filter(hashBucket(col(id), 100) < pct)
  }

  /** Deterministic train/val/test split labels: buckets [0,train) →
    * train, [train, train+valPct) → val, rest → test. A row's split never
    * changes when the corpus grows — the property batch re-runs need. */
  def hashSplit(
      df: DataFrame, id: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val b = hashBucket(col(id), 100)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Weighted Bernoulli sample: keep a row iff u < baseRate · weight,
    * where u ∈ [0,1) is a deterministic uniform derived from a salted
    * 64-bit hash of the row id — per-row weighted coin flips with no
    * rand(), no shuffle, and exact run-to-run reproducibility. This is
    * the corpus-mixing primitive for quality-weighted sampling
    * (keep-probability proportional to a quality score, capped at 1):
    * a pure filter, so it composes with scan pushdown like
    * stratifiedSample. Weights above 1/baseRate saturate (always kept) —
    * true upsampling needs row replication, which is a different
    * operator on purpose (an explode changes row counts; a sampler must
    * not). Production hash is xxhash64 mapped over the full 64-bit
    * range; `oracleHash` swaps a DuckDB-replayable derivation — md5 of
    * the salted key (the q89 corpus-shuffle pattern), first 13 hex
    * digits as a 52-bit integer, divided by 2^52 — which is exact in a
    * double on both engines. The RollingHash polynomial is NOT usable
    * here: it is nearly linear in the id, so consecutive ids land on
    * adjacent u values and a constant threshold keeps or drops whole
    * id ranges together (a sampler needs avalanche, which md5 has). */
  def weightedBernoulli(
      df: DataFrame, id: Column, weight: Column, baseRate: Double,
      salt: String, oracleHash: Boolean = false): DataFrame = {
    val key = concat(lit(salt + ":"), id.cast("string"))
    val u =
      if (oracleHash)
        conv(substring(md5(key), 1, 13), 16, 10).cast("long")
          .cast("double") / lit(4503599627370496.0) // 2^52
      else
        (xxhash64(key).cast("double") - lit(Long.MinValue.toDouble)) /
          lit(Long.MaxValue.toDouble - Long.MinValue.toDouble)
    df.withColumn("sample_u", u)
      .filter(col("sample_u") < lit(baseRate) * weight)
  }

  /** Sequence packing: assign documents to fixed-capacity token bins,
    * in id order within each group — bin = floor(running_tokens_before /
    * capacity). This is the shuffle-friendly approximation of greedy
    * first-fit packing (exact first-fit is inherently sequential): one
    * window over (group, id), no driver loop. Bins can overflow by at
    * most one document — the standard streaming-packing tradeoff. */
  def packBins(
      df: DataFrame, id: String, group: String, tokenCol: String,
      capacity: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(group)).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    df.withColumn("bin",
      floor(coalesce(sum(col(tokenCol)).over(w), lit(0L)) / capacity))
  }

  /** Exact stratified train/val/test split: within every stratum, rows
    * order by the modular-permutation hash h = id·2654435761 mod
    * 1000000007 (replayable in any engine; injective while ids < the
    * prime) and the first ⌊n_s·trainPct/100⌋ become train, up to
    * ⌊n_s·(trainPct+valPct)/100⌋ val, the rest test — EXACT per-stratum
    * quotas, where the [[splitLabel]] hash split is only proportional
    * in expectation (a 30-doc stratum can easily land 0 test docs).
    * The per-stratum ranks come from the GROUPED [[Prefix.cumsum]], so
    * no stratum ever sorts on a single partition regardless of its
    * size. All quota arithmetic is integer DIV (≡ DuckDB //, rule 21).
    */
  def stratifiedSplit(
      df: DataFrame, id: String, stratum: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    val base = df.select(col(id).as("doc_id"), col(stratum).as("stratum"))
      .withColumn("h", orderHash(col("doc_id")))
      .withColumn("one", lit(1L))
    val ranked = Prefix.cumsum(base, "h", Seq("one" -> "rk"),
      inclusive = true, groupCols = Seq("stratum"))
    val sizes = base.groupBy(col("stratum")).agg(count(lit(1)).as("ns"))
    ranked.join(broadcast(sizes), Seq("stratum")) // stratum-grain: tiny
      .withColumn("split",
        when(col("rk") <= expr(s"ns * $trainPct DIV 100"), "train")
          .when(col("rk") <= expr(s"ns * ${trainPct + valPct} DIV 100"), "val")
          .otherwise("test"))
      .select(col("doc_id"), col("stratum"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic systematic sampling by cumulative integer weight
    * (the classic survey-sampling scheme, PPS-systematic form: one
    * pick per stride of total weight, in id order) — the data-mixing
    * primitive for weighted corpus resampling: a doc with twice the
    * weight is twice as likely to straddle a stride boundary, and the
    * whole selection is a pure function of (weights, id order), exactly
    * replayable — no RNG, no float thresholds (contrast
    * [[weightedBernoulli]]: independent coin flips, variable sample
    * size; systematic: fixed ~target size, zero variance in spacing).
    * A doc is picked iff its cumulative-weight interval (cum−w, cum]
    * contains a multiple of the stride S = 1 + totalW DIV target; all
    * arithmetic is int64 DIV (identical to DuckDB `//`, rule 21).
    * Docs heavier than S can contain several multiples but are emitted
    * once (standard PPS-systematic certainty selection).
    *
    * Scale shape — the distributed prefix sum: a GLOBAL ordered cumsum
    * window would move the corpus to one partition (the r9 t63 defect
    * class), so the cumsum is two-pass: (1) bucket by id range (id ×
    * buckets DIV (max+1) — order-preserving), per-bucket totals, and a
    * running offset over the BUCKETS frame (≤ `buckets` rows — the
    * output-sized-window idiom); (2) a per-bucket window ordered by id,
    * plus the broadcast offset. The corpus shuffles once (by bucket)
    * and no partition ever holds more than ~1/buckets of it. */
  /** Weight-proportional THRESHOLD sampling with the exact
    * Horvitz–Thompson accounting readout (q221) — the sample-based
    * bookkeeping a 100 TB pipeline runs instead of full scans
    * (threshold/priority sampling: Duffield, Lund & Thorup, JACM '07).
    * A doc with weight w (its token count) is kept iff
    * u52 < w·2^`rShift`, where u52 is a deterministic 52-bit uniform
    * from a salted hash of the id — inclusion probability
    * π = min(1, w/2^(52−rShift)) with NO floats anywhere: the decision
    * is one int64 compare. The HT estimator of each source's total
    * token mass is Σ_kept w/π, which collapses to
    *   w                    for certain rows   (w ≥ 2^(52−rShift))
    *   2^(52−rShift)        for sampled rows   (w/π = 2^(52−rShift))
    * — exact integers because the rate is a power of two. Output per
    * source: true mass vs HT estimate and the signed per-mille error,
    * all int64 (err via DIV, truncating identically in both engines,
    * rule 21).
    *
    * Hash contract (rule 12): gate runs `oracleHash` (md5 52-bit, the
    * q97 derivation — replayable in DuckDB); production default is
    * xxhash64 masked to 52 bits, equivalence-of-shape under
    * SamplingSpec. The polynomial RollingHash is unusable here for the
    * q97 reason (near-linear in the id — no avalanche).
    *
    * Scale shape: a pure per-row filter + one source-grain groupBy
    * (map-side combined); the sample fraction is rate-controlled, so
    * the kept set — the thing downstream audits touch — is ~W/2^(52−r)
    * rows no matter the corpus size. */
  /** q221's rate exponent — π = min(1, w/2^(52−HtShift)); shared with
    * the generated oracle (rule 12). */
  val HtShift = 42

  def htTokenEstimate(
      docs: DataFrame, rShift: Int = HtShift, salt: String = "ht",
      oracleHash: Boolean = false): DataFrame =
    htFinish(htTallies(docs, rShift, salt, oracleHash))

  /** Per-source PARTIAL tallies of the q221 accounting — the
    * sum-mergeable state the streaming accountant (q223) persists per
    * micro-batch: every column is an exact int64 SUM (or count), so
    * partials over ANY partition of the corpus merge to the corpus
    * answer by plain addition — the mergeable-summary contract with
    * no approximation to reason about. */
  def htTallies(
      docs: DataFrame, rShift: Int = HtShift, salt: String = "ht",
      oracleHash: Boolean = false): DataFrame = {
    require(rShift > 0 && rShift < 52, s"rShift out of range: $rShift")
    val certainAt = 1L << (52 - rShift) // w >= this -> always kept
    val key = concat(lit(salt + ":"), col("doc_id").cast("string"))
    val u52 =
      if (oracleHash)
        conv(substring(md5(key), 1, 13), 16, 10).cast("long")
      else
        pmod(xxhash64(key), lit(1L << 52))
    docs.select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("w"))
      // Clamp w at certainAt BEFORE the multiply: for w >= certainAt the
      // decision is already certain (product >= 2^52 > any u52), and the
      // clamped product maxes at exactly 2^52 — without it the int64
      // product w·2^rShift overflows under ANSI (rule 21a) once one
      // document reaches 2^(63−rShift) tokens (~2.1M at the default
      // shift; a book-length doc), while the DuckDB oracle rides HUGEINT
      // and never sees the throw. Identical kept-set by construction.
      .withColumn("kept",
        u52 < least(col("w"), lit(certainAt)) * lit(1L << rShift))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"),
        sum(col("w")).as("true_tokens"),
        sum(when(!col("kept"), 0L)
          .when(col("w") >= certainAt, col("w"))
          .otherwise(lit(certainAt))).as("ht_tokens"))
  }

  /** Merge partial tallies (sum per source) and attach the signed
    * per-mille error — the serve-time half of the q221/q223 pair.
    * Re-aggregating an already-final tally is the identity, so the
    * batch path composes through the same function. */
  def htFinish(tallies: DataFrame): DataFrame =
    tallies.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_sampled")).as("n_sampled"),
        sum(col("true_tokens")).as("true_tokens"),
        sum(col("ht_tokens")).as("ht_tokens"))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        col("true_tokens"), col("ht_tokens"),
        expr("(ht_tokens - true_tokens) * 1000 DIV true_tokens")
          .as("err_permille"))
      .orderBy(col("source"))

  def systematicSample(
      df: DataFrame, id: String, weightCol: String, target: Long,
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(target >= 1, "target must be >= 1")
    val base = df.select(col(id).as("id"), col(weightCol).cast("long").as("w"))
    val mx = base.agg(max(col("id")).as("mx"),
      sum(col("w")).as("totw")) // 1-row normalizer
    val bucketed = base.crossJoin(broadcast(mx))
      .withColumn("bkt", expr(s"id * $buckets DIV (mx + 1)"))
    val offsets = bucketed.groupBy(col("bkt"))
      .agg(sum(col("w")).as("bw"))
      // ≤ `buckets` rows: the unpartitioned window is output-sized by
      // construction (the q149 histogram-window argument)
      .withColumn("off", coalesce(sum(col("bw")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val wB = Window.partitionBy(col("bkt")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cum", col("off") + sum(col("w")).over(wB))
      .withColumn("stride", expr(s"1 + totw DIV $target"))
      .filter(expr("cum DIV stride > (cum - w) DIV stride"))
      .select(col("id").as("doc_id"), col("w"), col("cum"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-τ source mixing with Hamilton (largest-remainder)
    * apportionment — the budget-CONSERVING completion of q133's
    * truncating allocator: q133's ⌊B·w_s/ΣW⌋ leaves up to |sources|−1
    * budget units unassigned, which a real corpus build cannot ship
    * (the mixture must sum to the token budget exactly). Hamilton's
    * method (the classic seats-to-states apportionment) hands the
    * leftover units to the largest remainders, so Σ alloc = B exactly
    * — the same conservation trick linearAttribution uses per
    * conversion, promoted to the corpus mixture. τ is fixed at 0.5
    * (sampling ∝ √count flattens the source distribution; Lample &
    * Conneau, NeurIPS 2019 §3.1): one correctly-rounded IEEE sqrt,
    * floor-scaled to int64 BEFORE any summation (rule 17, the q133
    * pattern) — everything after the floor is exact integer
    * arithmetic, bit-replayable in DuckDB.
    *
    * Exactness (rule 18): B·w_s and the remainder comparisons run in
    * DECIMAL(38,0) (HUGEINT on the oracle side) — at 100 TB counts,
    * B·w can pass 2^63 — with only per-source outputs cast back.
    *
    * Scale shape: one count per source (map-side combined), then all
    * windows run at SOURCE grain — bounded by the catalog of sources,
    * not the corpus (the q96 pack-window argument, but bounded by
    * construction rather than by a cap). */
  def hamiltonAlloc(df: DataFrame, sourceCol: String,
      budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs")) * lit(1e6)).cast("long"))
    val tot = counts.agg(sum(col("w").cast("decimal(38,0)")).as("totw"))
    val scored = counts.crossJoin(broadcast(tot))
      .withColumn("prod", col("w").cast("decimal(38,0)") * lit(budget))
      // decimal `/` rounds at scale 6, which can flip a floor at the
      // boundary — take the EXACT remainder first, then divide the
      // exactly-divisible difference (an integer quotient survives the
      // scale-6 rounding unchanged)
      .withColumn("rem", col("prod") % col("totw"))
      .withColumn("base",
        ((col("prod") - col("rem")) / col("totw")).cast("bigint"))
    // source-grain windows (bounded by the source catalog)
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    val leftover = scored.agg((lit(budget) -
      sum(col("base"))).cast("bigint").as("left"))
    scored.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wRem).cast("bigint"))
      .select(col("source"), col("n_docs"), col("w"),
        col("base"),
        when(col("rk") <= col("left"), lit(1L)).otherwise(lit(0L)).as("extra"),
        (col("base") + when(col("rk") <= col("left"), lit(1L))
          .otherwise(lit(0L))).as("alloc"))
      .orderBy(col("source"))
  }

  /** Curriculum interleave: order the corpus easiest-first WITHIN each
    * source, then round-robin across sources — the deterministic
    * "difficulty-ordered, source-balanced" training order (curriculum
    * learning per Bengio et al., ICML 2009, with the interleave keeping
    * any window of the stream source-diverse). Position arithmetic is
    * pure integers: global_pos = rank_in_source · |sources| + source_idx
    * — an injective map, no global window over the corpus (rule 23:
    * the only unpartitioned window runs at SOURCE grain).
    *
    * Scale shape: one per-source window (partitioned), one broadcast of
    * the source index; the emitted order is a COLUMN, so the corpus
    * never funnels through a single task to get its curriculum. */
  def curriculumInterleave(df: DataFrame, sourceCol: String,
      difficulty: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = df.select(col("doc_id"), col(sourceCol).as("source"),
      difficulty.cast("long").as("difficulty"))
    val srcIdx = scored.select(col("source")).distinct()
      // source-grain window (bounded by the source catalog)
      .withColumn("src_idx",
        (row_number().over(Window.orderBy(col("source"))) - 1).cast("bigint"))
    val nSrc = srcIdx.count()
    val wIn = Window.partitionBy(col("source"))
      .orderBy(col("difficulty"), col("doc_id"))
    scored.join(broadcast(srcIdx), Seq("source"))
      .withColumn("rank_in_source",
        (row_number().over(wIn) - 1).cast("bigint"))
      .select(col("doc_id"), col("source"), col("difficulty"),
        col("rank_in_source"),
        (col("rank_in_source") * lit(nSrc) + col("src_idx"))
          .as("global_pos"))
      .orderBy(col("global_pos"))
  }

  // ---- q226: Poisson-bootstrap confidence intervals ----

  /** Poisson(1) inverse-CDF thresholds on the 52-bit hash ring:
    * `T(j) = ⌊P(X ≤ j)·2^52⌋` for j = 0..6. A replicate's multiplicity
    * is `k(u52) = #{j : u52 ≥ T(j)} ∈ [0, 7]` (the residual tail
    * P(X > 7) ≈ 1e-5 folds into k = 7). The doubles live only HERE, at
    * class-init time — both engines receive the same INTEGER literals,
    * so rule 14's decimal-literal drift cannot arise and the replay is
    * bit-exact by construction. */
  val PoissonCdf52: Seq[Long] = {
    var p = math.exp(-1.0)
    var c = 0.0
    (0 to 6).map { j =>
      if (j > 0) p /= j
      c += p
      math.floor(c * 4503599627370496.0).toLong // · 2^52
    }
  }

  /** The k(u52) threshold-count chain, generated for the DuckDB oracle
    * from the SAME constants (rule 12: one definition, two engines). */
  def poissonKSql(u52: String): String =
    PoissonCdf52.map(t => s"(CASE WHEN $u52 >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** q226: per-source mean tokens/doc with a Poisson-bootstrap
    * confidence interval — the error bar every corpus datasheet number
    * should carry, computed WITHOUT resampling passes: each (doc,
    * replicate b) pair draws a Poisson(1) weight from a seeded hash
    * (Kleiner et al.'s streaming bootstrap shape), so all `reps`
    * replicates ride ONE scan. The explode-by-replicate feeds straight
    * into a map-side-combining hash aggregate: the shuffle carries
    * |sources|·reps partial rows, never the corpus — at 100 TB the
    * amplification exists only inside the scan stage's pipeline.
    * Replicate means are ranked per source (a reps-bounded window) and
    * the CI is the (loRank, hiRank) order statistics — every value is
    * either an exact integer sum or a single int/int double division,
    * bit-equal cross-engine (q121 idiom). Deterministic by
    * construction: same corpus, same CI, any cluster size. */
  def poissonBootstrapCI(
      docs: DataFrame, reps: Int = 40, loRank: Int = 2, hiRank: Int = 39,
      salt: String = "bs", oracleHash: Boolean = false): DataFrame = {
    require(reps >= 4 && loRank >= 1 && hiRank <= reps && loRank < hiRank,
      s"bad bootstrap ranks: reps=$reps lo=$loRank hi=$hiRank")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("w"))
    val point = toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("tw"))
    val key = concat(lit(salt + ":"), col("doc_id").cast("string"),
      lit(":"), col("b").cast("string"))
    val u52 =
      if (oracleHash) conv(substring(md5(key), 1, 13), 16, 10).cast("long")
      else pmod(xxhash64(key), lit(1L << 52))
    val k = PoissonCdf52.map(t => when(u52 >= lit(t), 1L).otherwise(0L))
      .reduce(_ + _)
    val means = toks
      .withColumn("b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("k", k)
      .groupBy(col("source"), col("b"))
      .agg(sum(col("k") * col("w")).as("kw"), sum(col("k")).as("kn"))
      // kn = 0 needs the explicit NaN guard (rule 21a: ANSI throws on
      // DOUBLE x/0) — reachable only for a source whose every doc drew
      // k = 0 in one replicate, i.e. tiny strata
      .select(col("source"), col("b"),
        when(col("kn") === 0, lit(Double.NaN))
          .otherwise(col("kw").cast("double") / col("kn").cast("double"))
          .as("m"))
    val byMean = Window.partitionBy(col("source"))
      .orderBy(col("m"), col("b")) // b tiebreak: deterministic ranks
    val ci = means.withColumn("rn", row_number().over(byMean))
      .groupBy(col("source"))
      .agg(max(when(col("rn") === loRank, col("m"))).as("ci_lo"),
        max(when(col("rn") === hiRank, col("m"))).as("ci_hi"))
    point.join(ci, Seq("source"))
      .select(col("source"), col("n_docs"),
        (col("tw").cast("double") / col("n_docs").cast("double"))
          .as("point_mean"),
        col("ci_lo"), col("ci_hi"))
      .orderBy(col("source"))
  }

  // ---- q228: sequence packing with document splitting ----

  /** q228: GPT-style sequence packing WITH document splitting — the
    * packer that actually feeds a trainer: documents are laid
    * head-to-tail in doc_id order and cut into fixed-length training
    * sequences at exact token offsets, so every sequence except the
    * global tail is EXACTLY `seqLen` tokens (q87/packBins packs WHOLE
    * documents into capacity bins and pads; this is the
    * no-padding-waste packer). Output: one row per (sequence, document
    * slice) — `seq_id`, `doc_id`, the in-document token offset
    * `slice_start`, and `slice_len`; a document long enough to cross
    * boundaries contributes one row per covered sequence.
    *
    * Scale shape: one scan + the rule-23 bucketed prefix sum
    * (`Prefix.cumsum` — no global window anywhere) for the exclusive
    * token offset, then a per-row explode bounded by w/seqLen + 1
    * slices. The explode lower/upper bounds satisfy s1 ≥ s0 because
    * w ≥ 1 is enforced — rule 16's descending-sequence trap cannot
    * arise. Offsets are cast to int64 right after the prefix sum:
    * 2^63 tokens is ~4000× the largest corpus ever tokenized. */
  def packTokenSpans(docs: DataFrame, seqLen: Int = 512): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("w"))
      .filter(col("w") > 0)
    val off = Prefix.cumsum(toks, "doc_id", Seq("w" -> "off_end_d"),
        inclusive = true)
      .withColumn("off_end", col("off_end_d").cast("long"))
      .withColumn("off_start", col("off_end") - col("w"))
    val l = lit(seqLen.toLong)
    off
      .withColumn("seq_id", explode(sequence(
        expr(s"off_start DIV $seqLen"), expr(s"(off_end - 1) DIV $seqLen"))))
      .select(col("seq_id"), col("doc_id"),
        greatest(lit(0L), col("seq_id") * l - col("off_start"))
          .as("slice_start"),
        (least(col("off_end"), (col("seq_id") + 1) * l) -
          greatest(col("off_start"), col("seq_id") * l)).as("slice_len"))
      .orderBy(col("seq_id"), col("doc_id"))
  }

  // ---- q227: budgeted mixture allocation by water-filling ----

  /** q227: allocate a token budget across sources proportionally to
    * priority weights, capped by per-source availability — the discrete
    * water-filling step a mixture plan runs between "weights chosen"
    * (DoReMi-style, out of scope) and "rows drawn" (q90/q215): sources
    * whose availability floods below the water level are taken WHOLE
    * (saturated), the rest split the remaining budget by weight with
    * Hamilton largest-remainder rounding (the q215 idiom), so the
    * budget is conserved EXACTLY and every step is integer/decimal
    * arithmetic both engines replay bit-for-bit.
    *
    * Algorithm (all per-source frames are bounded by the source
    * catalog, so the global-order windows carry ≤ |sources| rows —
    * curriculumInterleave's source-grain exception to rule 23):
    *   1. rank sources by availability-per-weight (a·2^20 div w, ties
    *      by name) — saturation order;
    *   2. a rank-k source saturates iff taking ranks ≤ k whole leaves
    *      the suffix at least its own ratio: a_k·W_{>k} ≤ (T−A_k)·w_k,
    *      prefix-closed via a cumulative min;
    *   3. unsaturated sources split B = T − A_K by weight: floor shares
    *      via the exact-remainder decimal division (rule 25), the
    *      leftover L = Σrem/W_rem (exactly divisible) goes +1 to the L
    *      largest remainders.
    * Every cross product rides DECIMAL(38,0)/HUGEINT (rule 18) — at
    * 100 TB, availability·weight products pass 2^63 long before the
    * allocation itself does. The truncated ranking key can, on
    * adversarial near-tie ratios, mark a source unsaturated whose exact
    * ratio is marginally below the water level; shares are therefore
    * clamped at availability (`least`), which on such inputs trades ≤
    * |sources| units of budget for the cap invariant. Σalloc = T
    * exactly otherwise (spec-asserted on the gate corpus).
    *
    * `perSource`: one row per source with `source`, `avail`, `weight`
    * (weight > 0). Returns (source, avail, weight, saturated, alloc). */
  def waterfillAlloc(
      perSource: DataFrame, budgetPermille: Int = 600): DataFrame = {
    require(budgetPermille > 0 && budgetPermille < 1000,
      s"budgetPermille out of (0, 1000): $budgetPermille")
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Materialize.Ops
    val dec = "decimal(38,0)"
    def floorDiv(p: Column, q: Column): Column = (p - pmod(p, q)) / q
    // the per-source frame feeds every downstream consumer (totals,
    // ranking, the cut, shares, the leftover level) — without a hard
    // lineage cut each one re-derives it from the CALLER'S plan, i.e.
    // re-scans the corpus: the first plan audit showed 8 full
    // table scans for a |sources|-row computation (rule 5)
    val base = perSource.select(col("source"),
      col("avail").cast(dec).as("a"), col("weight").cast(dec).as("w"))
      .materializeOnce()
    val tot = base.agg(sum(col("a")).as("ta"), sum(col("w")).as("tw"))
      .select(col("ta"), col("tw"),
        floorDiv(col("ta") * lit(budgetPermille), lit(1000).cast(dec))
          .cast(dec).as("t0"))
    val wOrd = Window.orderBy(col("r"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = base.crossJoin(broadcast(tot))
      .withColumn("bt", least(col("t0"), col("ta")))
      .withColumn("r", floorDiv(col("a") * lit(1048576L), col("w")).cast(dec))
      .withColumn("pa", sum(col("a")).over(wOrd))
      .withColumn("pw", sum(col("w")).over(wOrd))
      .withColumn("c",
        when(col("a") * (col("tw") - col("pw")) <=
          (col("bt") - col("pa")) * col("w"), 1L).otherwise(0L))
      .withColumn("sat", min(col("c")).over(wOrd) === 1)
    val cut = ranked.agg(
      coalesce(max(when(col("sat"), col("pa"))), lit(0).cast(dec)).as("ak"),
      coalesce(max(when(col("sat"), col("pw"))), lit(0).cast(dec)).as("wk"))
    val shared = ranked.crossJoin(broadcast(cut))
      .withColumn("bb", col("bt") - col("ak"))
      .withColumn("wrem", col("tw") - col("wk"))
      .withColumn("shr",
        when(col("sat"), lit(null).cast(dec))
          .otherwise(floorDiv(col("bb") * col("w"), col("wrem")).cast(dec)))
      .withColumn("rem",
        when(col("sat"), lit(-1).cast(dec))
          .otherwise(pmod(col("bb") * col("w"), col("wrem")).cast(dec)))
    val lv = shared.agg(
      max(col("wrem")).as("wr2"),
      sum(when(!col("sat"), col("rem")).otherwise(lit(0).cast(dec))).as("sr"))
      .select(when(col("wr2") === 0, lit(0).cast(dec))
        .otherwise(floorDiv(col("sr"), col("wr2")).cast(dec)).as("lvl"))
    shared.crossJoin(broadcast(lv))
      .withColumn("brk",
        row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("a").cast("long").as("avail"),
        col("w").cast("long").as("weight"), col("sat").as("saturated"),
        when(col("sat"), col("a"))
          .otherwise(least(col("a"),
            col("shr") + when(col("brk").cast(dec) <= col("lvl"), 1L)
              .otherwise(0L)))
          .cast("long").as("alloc"))
      .orderBy(col("source"))
  }
}
