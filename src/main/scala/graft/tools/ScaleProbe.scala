package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale probe (round-7 directive 8): the closest a local[32]
  * sandbox gets to evidence for the 100× design claims.
  *
  * Generates an N-doc corpus (default 500k = 100× the sf0.1 documents
  * table) with planted near-dup pairs, entirely distributed (range →
  * per-doc seed → vocab-indexed word array; no driver-side data), writes
  * it to parquet, then runs the heaviest chain in the repo — minhash
  * LSH candidates→verify (d38 shape) → connected components (d44) —
  * and the PageRank shape (q148) on a synthetic edge set, printing
  * wall-clock per stage. Planted-pair recall is asserted, so the probe
  * is a correctness witness at scale, not just a stopwatch.
  *
  * The corpus deliberately reuses the gate operators UNCHANGED — the
  * point is to observe the same plans at 100–1000× the gate volume
  * (shuffle sizes, explode amplification, fixpoint job counts), not to
  * build a special-cased benchmark.
  *
  * Usage: runMain graft.tools.ScaleProbe [nDocs] [outDir]
  */
object ScaleProbe {

  /** ~1000-word vocabulary; Zipf-ish reuse comes from pmod over xxhash64
    * draws. Deterministic — no Math.random, no wall clock. */
  private def vocabLit = {
    val words = (0 until 1000).map(i => s"w$i")
    array(words.map(lit): _*)
  }

  /** The boilerplate-heavy variant for the d57b stage: every doc is 40
    * seeded words followed by the SAME 20-word boilerplate tail, so
    * ~19 shingles have df = |corpus| (the navbar/footer shape of real
    * crawls). A naive uncapped inverted-index join would enumerate
    * Σdf² ≈ 19·n² candidate rows (5·10^12 at 525k docs — infeasible);
    * a df-capped join silently drops the tail (lossy); rare-first
    * prefix filtering skips it for free and stays exact. Dups perturb
    * word 40 (the last seeded word): 3 of ~58 shingles differ,
    * J ≈ 55/61 ≈ 0.90 ≥ the 0.5 threshold. */
  def corpusBoiler(spark: SparkSession, n: Long): DataFrame = {
    val boiler = (0 until 20).map(i => s"bp$i")
    val base = spark.range(n).toDF("doc_id")
      .withColumn("seed", xxhash64(col("doc_id")))
      .withColumn("is_dup", lit(false))
    val dups = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") / 20 + lit(n)).cast("long").as("doc_id"),
        col("seed"), lit(true).as("is_dup"))
    base.unionByName(dups)
      .withColumn("vocab", vocabLit)
      .withColumn("words",
        concat(
          transform(sequence(lit(1), lit(40)), i =>
            element_at(col("vocab"),
              (pmod(xxhash64(col("seed") + i +
                when(col("is_dup") && i > lit(39), lit(7777777L))
                  .otherwise(lit(0L))), lit(1000)) + 1).cast("int"))),
          array(boiler.map(lit): _*)))
      .select(col("doc_id"),
        concat_ws(" ", col("words")).as("text"),
        lit("probe").as("source"))
  }

  /** Base-shape probe docs over an arbitrary id range `[from, from +
    * count)` with NO planted dups — the same seed→words construction as
    * [[corpus]]'s base half (corpusAt(0, n) ≡ corpus(n)'s originals), so
    * other probes (StreamScaleProbe's ingest loop) can mint genuinely
    * novel documents that near-dup nothing already generated. */
  def corpusAt(spark: SparkSession, from: Long, count: Long): DataFrame =
    spark.range(from, from + count).toDF("doc_id")
      .withColumn("seed", xxhash64(col("doc_id")))
      .withColumn("vocab", vocabLit)
      .withColumn("words",
        transform(sequence(lit(1), lit(60)), i =>
          element_at(col("vocab"),
            (pmod(xxhash64(col("seed") + i), lit(1000)) + 1).cast("int"))))
      .select(col("doc_id"),
        concat_ws(" ", col("words")).as("text"),
        lit("probe").as("source"))

  /** N base docs of 60 words each, plus one near-dup for every 20th
    * base doc: same word sequence with ONLY the last word perturbed →
    * 57 of 59 distinct 3-shingles shared, Jaccard ≈ 0.966. At that
    * similarity the 16-hash/4-band LSH miss probability is
    * (1 − 0.966⁴)⁴ ≈ 3·10⁻⁴ per pair — so the probe asserts ≥99.9%
    * recall, the honest probabilistic contract at this scale (a
    * 3-word perturbation would sit at J ≈ 0.84 where banding ALONE is
    * expected to miss ~6%, and the probe would fail by design, not by
    * bug). Rule 4: the per-doc seed and vocab are materialized as
    * columns BEFORE the transform lambda references them. */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).toDF("doc_id")
      .withColumn("seed", xxhash64(col("doc_id")))
      .withColumn("is_dup", lit(false))
    // a dup's word stream replays its source doc's seed
    val dups = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") / 20 + lit(n)).cast("long").as("doc_id"),
        col("seed"), lit(true).as("is_dup"))
    base.unionByName(dups)
      // rule 4: the vocab array literal is materialized as a column so
      // the lambda references a BoundReference, not a re-evaluated
      // 1000-element expression per word
      .withColumn("vocab", vocabLit)
      .withColumn("words",
        transform(sequence(lit(1), lit(60)), i =>
          element_at(col("vocab"),
            (pmod(xxhash64(col("seed") + i +
              // …except the last position when it IS the dup copy
              when(col("is_dup") && i > lit(59), lit(7777777L))
                .otherwise(lit(0L))), lit(1000)) + 1).cast("int"))))
      .select(col("doc_id"),
        concat_ws(" ", col("words")).as("text"),
        lit("probe").as("source"))
  }

  private def time[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val out = args.lift(1).getOrElse("/tmp/graft_scale_probe")
    val cores = graft.Sessions.cores(32)
    // partitions sized to DATA, not thread count — the repo's own
    // 100 TB rule applied to its own probe: the shingle explode is
    // ~58 rows/doc, and a fixed 32 partitions lets per-task hash
    // aggregation state outgrow the execution-memory share above
    // ~1M docs (observed UNABLE_TO_ACQUIRE_MEMORY at n=2M under an
    // 8g heap). ~15k docs/partition keeps each task's working set
    // flat no matter how far n scales. The heap comes from the forked
    // JVM (build.sbt -Xmx via SPARK_DRIVER_MEM); spark.driver.memory is
    // a no-op in-process.
    val spark = graft.Sessions.local(cores, math.max(cores, (n / 15000L).toInt),
      configure = _.config("spark.sql.codegen.cache.maxEntries", "4096"))
    println(s"[probe] n_base=$n n_planted_dups=${n / 20}")
    // optional 3rd arg: comma-separated stage keys (d38,d44,d53,d54,d56,d57,d57b,d59,d62,d63,d65,d68,s65,q183,s43,s55,t54,t59,
    // codec,m52,m55,curation,q155,q148,q201,q203,q204,q206,prefix,r11ops,t56,q166,q212,d67,d69,q213,q214,q226,d74) — a full run at large n is
    // codec-bound (~17 min at 2.1M), so per-stage runs let a 4x point
    // be re-measured for one family without paying for the rest.
    // d44 implies d38 (it consumes the verified pairs).
    val stageFilter = args.lift(2).map(_.split(",").map(_.trim).toSet)
    def on(k: String): Boolean = stageFilter.forall(_.contains(k))

    time("corpus gen + parquet write") {
      corpus(spark, n).write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    val docs = spark.read.parquet(s"$out/documents.parquet")

    val pairs = if (on("d38") || on("d44") || on("d56")) time("d38: LSH candidates→verify") {
      val p = graft.operators.Dedup.minhashVerifiedPairs(
        docs, threshold = 0.5, maxDf = 200)
      val c = p.count(); println(s"[probe]   verified pairs: $c"); p
    } else null
    if (on("d38")) time("planted-pair recall check") {
      // every planted dup (id >= n) should pair with its source doc;
      // ≥99.9% is the honest banded-LSH contract at J≈0.966 (see corpus)
      val planted = pairs
        .filter(col("id_b") >= n && col("id_a") === (col("id_b") - n) * 20)
        .count()
      val expected = n / 20
      println(s"[probe]   planted recalled: $planted/$expected")
      require(planted >= expected * 999 / 1000,
        s"planted-pair recall broke at scale: $planted/$expected")
    }
    if (on("d44")) time("d44: connected components") {
      val cc = graft.operators.Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
      println(s"[probe]   clusters: ${cc.select("cluster_id").distinct().count()}")
    }
    if (on("d56")) time("d56: incremental cluster merge ≡ recompute") {
      // half of the verified pairs are "yesterday's" graph, half arrive
      // today: merging today's pairs into the star-compressed prior
      // assignment must reproduce the full recompute EXACTLY (the
      // CC(star(CC(A))∪B) = CC(A∪B) theorem, asserted at probe volume
      // by symmetric set difference). d56 implies d38 (needs pairs).
      val oldPairs = pairs.filter(col("id_b") % 2 === 0)
      val newPairs = pairs.filter(col("id_b") % 2 === 1)
      val prior = graft.operators.Dedup.connectedComponents(oldPairs)
        .localCheckpoint() // the prior run's stored assignment
      val t0 = System.nanoTime()
      val merged = graft.operators.Dedup
        .mergeIncrementalClusters(prior, newPairs).localCheckpoint()
      println(f"[probe]   incremental merge: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(${merged.count()} rows)")
      val t1 = System.nanoTime()
      val full = graft.operators.Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b"))).localCheckpoint()
      println(f"[probe]   full recompute:    ${(System.nanoTime() - t1) / 1e9}%.1f s " +
        s"(${full.count()} rows)")
      require(merged.except(full).count() == 0 &&
        full.except(merged).count() == 0,
        "incremental cluster merge diverged from the full recompute")
    }
    if (on("d57")) time("d57: prefix-filtered exact join") {
      // the lossless alternative at volume: rare-first prefixes bound
      // the candidate join with NO df cap and NO probabilistic recall.
      // On this corpus shingles are near-unique (random trigrams over a
      // 1000-word vocab), the adversarial shape for LSH but the easy one
      // for prefix filtering — so the assertion is EQUALITY (100% of
      // planted pairs), the theorem's contract, not a recall target.
      val p = graft.operators.Dedup.prefixJaccardJoin(docs)
      val total = p.count()
      val planted = p
        .filter(col("id_b") >= n && col("id_a") === (col("id_b") - n) * 20)
        .count()
      println(s"[probe]   exact pairs: $total; planted: $planted/${n / 20}")
      require(planted == n / 20,
        s"prefix join lost planted pairs (not lossless?): $planted/${n / 20}")
    }
    if (on("d57b")) time("d57b: prefix join, boilerplate corpus") {
      // the adversarial shape for every OTHER exact path: ~19 shingles
      // at df = |corpus| (Σdf² ≈ 19n² — a naive index join enumerates
      // 5·10^12 candidates at 525k docs; a df cap goes lossy). Rare-
      // first prefixes never index the hot tail, so the SAME operator
      // must stay in the clean-corpus cost family AND stay lossless.
      corpusBoiler(spark, n).write.mode("overwrite")
        .parquet(s"$out/documents_boiler.parquet")
      val bdocs = spark.read.parquet(s"$out/documents_boiler.parquet")
      val t0 = System.nanoTime()
      val p = graft.operators.Dedup.prefixJaccardJoin(bdocs)
      val total = p.count()
      val planted = p
        .filter(col("id_b") >= n && col("id_a") === (col("id_b") - n) * 20)
        .count()
      println(f"[probe]   join: ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
        s"exact pairs: $total; planted: $planted/${n / 20}")
      require(planted == n / 20,
        s"prefix join lost planted pairs on boilerplate: $planted/${n / 20}")
    }
    if (on("giant")) time("giant: doc-set array scale guard") {
      // VERDICT r14 #5: the array-set verification collects a doc's full
      // (capped) shingle set into ONE row — a pathological multi-MB
      // document would make a multi-MB row duplicated per candidate
      // pair. This stage plants TWO ~70k-token near-dup giants (termSz
      // ≈ 70k shingles > maxArrayDocShingles = 65,536) in a 50k-doc
      // corpus and proves (a) the hybrid fallback actually fires, (b)
      // the giant pair verifies with the EXACT jaccard of a direct
      // per-pair recount, and (c) no row/OOM cliff. Seeded like the
      // base corpus; the two giants differ in their last word only.
      val nb = math.min(n, 50000L)
      val base = corpusAt(spark, 0L, nb)
      val giants = spark.range(2).toDF("g")
        .withColumn("vocab", vocabLit)
        .withColumn("words",
          transform(sequence(lit(1), lit(70000)), i =>
            element_at(col("vocab"),
              (pmod(xxhash64(lit(424242L) + i +
                when(col("g") === 1 && i > lit(69999), lit(7777777L))
                  .otherwise(lit(0L))), lit(1000)) + 1).cast("int"))))
        .select((col("g") + lit(nb)).cast("long").as("doc_id"),
          concat_ws(" ", col("words")).as("text"),
          lit("probe").as("source"))
      val gdocs = base.unionByName(giants)
      gdocs.write.mode("overwrite").parquet(s"$out/documents_giant.parquet")
      val gread = spark.read.parquet(s"$out/documents_giant.parquet")
      // maxDf high enough that giant-doc shingles survive the cap
      val t0 = System.nanoTime()
      val p = graft.operators.Dedup.minhashVerifiedPairs(
        gread, threshold = 0.5, maxDf = 200)
      val giantPair = p.filter(col("id_a") === nb && col("id_b") === nb + 1)
        .collect()
      println(f"[probe]   verify: ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
        s"branch=${graft.operators.Dedup.VerifySplitProbe.lastBranch.get} " +
        s"maxSz=${graft.operators.Dedup.VerifySplitProbe.lastMaxSz.get}")
      require(graft.operators.Dedup.VerifySplitProbe.lastBranch.get == "hybrid",
        "giant docs did not trigger the exploded fallback")
      require(giantPair.length == 1, "giant near-dup pair not found")
      // independent exact recount of the giant pair's jaccard
      val gsh = graft.operators.Dedup.shingleHashTable(
        gread.filter(col("doc_id") >= nb), 3).localCheckpoint()
      val szs = gsh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inter = gsh.filter(col("doc_id") === nb).select(col("sh"))
        .intersect(gsh.filter(col("doc_id") === nb + 1).select(col("sh")))
        .count()
      val expected =
        inter.toDouble / (szs(nb) + szs(nb + 1) - inter).toDouble
      val got = giantPair.head.getDouble(2)
      println(s"[probe]   giant pair jaccard: got=$got expected=$expected")
      require(got == expected,
        s"giant-pair jaccard mismatch: $got vs $expected")
    }
    if (on("q183")) time("q183: interval overlap join at volume") {
      // n·20 usage intervals (hash-spread over a year, len < 1 day) ×
      // 1000 one-day billing windows. Correctness witness at volume:
      // per-window counts from the bin join must EQUAL a direct
      // predicate recount (no join) on sampled windows.
      val nIv = n * 20
      val year = 365L * 86400
      val step = year / 1000
      val iv = spark.range(nIv).toDF("id")
        .withColumn("s", pmod(xxhash64(col("id"), lit(1)), lit(year)))
        .withColumn("e", col("s") + pmod(xxhash64(col("id"), lit(2)), lit(86400L)))
      val win = spark.range(1000).toDF("wid")
        .withColumn("s", col("wid") * step)
        .withColumn("e", col("wid") * step + 86400L)
      val t0 = System.nanoTime()
      val counts = graft.operators.RangeJoin
        .overlapJoin(win, iv, "s", "e", binSize = 86400L)
        .groupBy(col("l_wid")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      println(f"[probe]   join+count: ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
        s"windows hit: ${counts.size}; total pairs: $total")
      Seq(0L, 499L, 999L).foreach { w =>
        val ws = w * step; val we = ws + 86400L
        val direct = iv.filter(col("s") <= we && col("e") >= ws).count()
        require(counts.getOrElse(w, 0L) == direct,
          s"window $w: join says ${counts.getOrElse(w, 0L)}, direct recount $direct")
      }
      println(s"[probe]   sampled-window recounts match exactly (3/3)")
    }
    if (on("d53")) time("d53: persisted-store incremental dedup") {
      // the r9 daily-ingest pattern at probe volume: corpus = the base
      // docs, batch = the planted near-dups (ids >= n, ~5%). The store
      // is written ONCE (the prior run's artifact); the batch dedups
      // against it without touching corpus text. Every batch doc
      // near-dups its source at J≈0.966, so ≥99.9% must come back
      // corpus_dup — recall asserted through the store path end-to-end.
      val storeDir = s"$out/sigstore"
      val corpus = docs.filter(col("doc_id") < n)
      val batch = docs.filter(col("doc_id") >= n)
      val tW = System.nanoTime()
      graft.operators.Dedup.writeSignatureStore(corpus, storeDir)
      println(f"[probe]   store write (one-time): ${(System.nanoTime() - tW) / 1e9}%.1f s")
      val tB = System.nanoTime()
      val res = graft.operators.Dedup.dedupBatchAgainstStore(
        spark, batch, storeDir, threshold = 0.5, maxDf = 200)
      val flagged = res.filter(col("reason") === "corpus_dup").count()
      val total = res.count()
      println(f"[probe]   batch-vs-store dedup: ${(System.nanoTime() - tB) / 1e9}%.1f s; " +
        s"corpus_dup $flagged/$total")
      require(total == n / 20, s"batch size drifted: $total != ${n / 20}")
      require(flagged >= total * 999 / 1000,
        s"store-path recall broke at scale: $flagged/$total flagged corpus_dup")
    }
    if (on("d54")) time("d54: bloom vs exact decontam") {
      // benchmark = the first 50k docs (~2.9M distinct shingles) — a
      // REAL eval-suite size, deliberately past the broadcast
      // threshold: with a 50-doc benchmark both paths broadcast the
      // bench side and bloom's extra probe pass is pure overhead
      // (measured: 101.6 s bloom vs 82.5 s exact at 2.1M docs). Past
      // broadcastability the exact join must shuffle BOTH sides at
      // corpus grain, while the bloom path probes a driver-built
      // ~4 MB sketch inside the scan and only candidates join — the
      // regime d54 exists for. Planted dups of bench docs (ids ≥ n
      // with source < 50k) are guaranteed contaminated; both paths
      // must return EXACTLY the same set.
      val benchIds = (0L until 50000L).toSeq
      val tE = System.nanoTime()
      val exact = graft.operators.Dedup.contaminationCheck(docs, benchIds)
        .filter(col("n_overlap") > 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val exactSec = (System.nanoTime() - tE) / 1e9
      val tB = System.nanoTime()
      val viaBloom = graft.operators.Dedup.bloomDecontaminate(docs, benchIds,
        expectedBenchShingles = 4000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val bloomSec = (System.nanoTime() - tB) / 1e9
      println(f"[probe]   exact d45 path: $exactSec%.1f s, bloom d54 path: " +
        f"$bloomSec%.1f s (${exact.size} contaminated docs)")
      require(viaBloom == exact,
        s"bloom path diverged from exact: ${viaBloom.size} vs ${exact.size}")
      // every planted dup of a bench doc must be flagged (exact join —
      // no recall caveat): ids ≥ n whose source (id−n)·20 < 50k
      require(exact.size >= 2500, s"planted contamination missing: ${exact.size}")
    }
    if (on("s43")) time("s43: IVF search, n synthetic vectors") {
      // n 64-dim vectors in [-1,1), deterministic per (id, dim); one
      // planted near-dup of vec 0 (id = n) — the probe asserts the IVF
      // path surfaces it at rank 1 for query 0, i.e. the coarse
      // quantizer still routes neighbors to the same cell at this
      // volume. Generation is a per-row map; the only broadcasts inside
      // ivfSearch are the 16 centroids and the probe cells (its scale
      // contract — independent of n).
      val dims = sequence(lit(1), lit(64))
      def comp(seed: org.apache.spark.sql.Column) =
        (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
          - lit(1.0)).cast("float")
      val base = spark.range(n).toDF("vec_id")
        .withColumn("embedding", transform(dims, i => comp(col("vec_id") * 64 + i)))
      val dup = spark.range(1).select(lit(n).cast("long").as("vec_id"),
        transform(dims, i =>
          (comp(lit(0L) * 64 + i) + lit(0.005f)).cast("float")).as("embedding"))
      val vecs = base.unionByName(dup)
      val top = graft.operators.Similarity
        .ivfSearch(vecs, vecs.filter(col("vec_id") === 0), k = 10, nProbe = 2)
      val rows = top.collect()
      println(s"[probe]   top-1 for q0: ${rows.head.getLong(1)} (planted dup id=$n)")
      require(rows.head.getLong(1) == n,
        s"IVF failed to surface the planted near-dup at scale: ${rows.take(3).toSeq}")
    }
    if (on("codec")) time("m47/m48/m49: codec roundtrip throughput") {
      // The stage a real media lake spends most cycles in: CPU-bound,
      // embarrassingly parallel mapPartitions decode — encode the
      // deterministic pattern to genuine PNG/WAV/GIF bytes and decode
      // them back with the JDK codec, per item. The roundtrip operators
      // THROW on any decode failure, so count() completing IS the
      // correctness witness at volume (the checksum CONTENT contract is
      // the m47/m48/m49 oracles' job at gate scale). Throughput per
      // codec is the number a 1000-executor capacity plan needs: the
      // stage has no shuffle, so items/s scales with cores.
      val ids = spark.range(n).toDF("doc_id")
      for ((label, fn) <- Seq(
        ("png image", (d: DataFrame) =>
          graft.operators.Multimodal.imageDecodeRoundtrip(spark, d)),
        ("wav audio", (d: DataFrame) =>
          graft.operators.Multimodal.audioDecodeRoundtrip(spark, d)),
        ("gif video", (d: DataFrame) =>
          graft.operators.Multimodal.videoDecodeRoundtrip(spark, d)))) {
        val t0 = System.nanoTime()
        val c = fn(ids).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[probe]   $label roundtrip: $c items in $dt%.1f s " +
          f"(${c / dt}%.0f items/s)")
        require(c == n, s"$label roundtrip lost rows: $c != $n")
      }
    }
    if (on("m52")) time("m52/m54: perceptual image dedup + verify") {
      // The image-dedup chain end-to-end at ~2n real images (originals
      // + perturbed variants, every one a genuine PNG encode→decode):
      // dHash → 4×16-bit banded join (capBuckets guard) → Hamming ≤ 12
      // candidates → 256-bit wide-hash verification. Banding alone
      // measured ~132k spurious ≤12-bit survivors at 1.05M images (the
      // quadratic candidate tail of a 64-bit fingerprint — see
      // ARCHITECTURE); the verify stage must collapse that tail while
      // keeping the planted variants, exactly like exact-Jaccard after
      // MinHash banding on the text side.
      val ids = docs.select(col("doc_id"))
      val pairs = graft.operators.Multimodal.imageNearDupVerified(spark, ids)
      val off = graft.operators.Multimodal.VariantOffset
      val byKind = pairs.agg(
        sum(when(col("id_b") === col("id_a") + off, 1L).otherwise(0L)).as("planted"),
        count(lit(1)).as("total")).head()
      val (planted, total) = (byKind.getLong(0), byKind.getLong(1))
      val nImages = n + n / 20
      println(s"[probe]   verified pairs: $total total, $planted planted " +
        s"of $nImages variant couples (${total - planted} spurious)")
      require(planted >= nImages * 95 / 100,
        s"perceptual-dedup recall broke at scale: $planted/$nImages")
      require(total - planted <= planted / 100,
        s"wide-hash verification failed to collapse the candidate tail: " +
          s"${total - planted} spurious vs $planted planted")
    }
    if (on("m55")) time("m55: image store write + batch dedup") {
      // The image daily-ingest pattern at probe volume: the corpus's
      // n base images are fingerprinted ONCE into the store (the
      // decode-heavy step a media lake must never repeat), then a
      // batch of n/20 perturbed re-encodes of corpus images + n/20
      // genuinely novel images dedups against it — per-batch cost is
      // the batch's decodes plus the band join against the index.
      val storeDir = s"$out/imgstore"
      val base = docs.filter(col("doc_id") < n).select(col("doc_id"))
      val tW = System.nanoTime()
      graft.operators.Multimodal.writeImageSignatureStore(
        spark, base, storeDir)
      println(f"[probe]   image store write (one-time): ${(System.nanoTime() - tW) / 1e9}%.1f s")
      val spec = base.filter(col("doc_id") % 20 === 1)
        .select(col("doc_id"), lit(true).as("variant"))
        .unionByName(spark.range(2 * n, 2 * n + n / 20).toDF("doc_id")
          .select(col("doc_id"), lit(false).as("variant")))
      val tB = System.nanoTime()
      val res = graft.operators.Multimodal
        .dedupImageBatchAgainstStore(spark, spec, storeDir)
        .localCheckpoint()
      val off = graft.operators.Multimodal.VariantOffset
      val dupRecalled = res
        .filter(col("media_id") >= off && col("reason") === "corpus_dup").count()
      val novelKept = res
        .filter(col("media_id") < off && col("keep")).count()
      println(f"[probe]   batch-vs-store: ${(System.nanoTime() - tB) / 1e9}%.1f s; " +
        s"dups flagged $dupRecalled/${n / 20}, novel kept $novelKept/${n / 20}")
      require(dupRecalled >= (n / 20) * 95 / 100,
        s"image store recall broke at scale: $dupRecalled/${n / 20}")
      require(novelKept == n / 20,
        s"novel images wrongly flagged: kept $novelKept/${n / 20}")
    }
    if (on("curation")) time("curation: gate→tokenize→pack") {
      // The ingest-side linear chain (t40/q87 shapes, operators
      // verbatim): Gopher gate → token counts → fixed-capacity bin
      // packing across 64 hash-derived domains. minStopFrac=0 because
      // the probe vocabulary ("w0".."w999") contains no English
      // stopwords — every other rule binds as in the gate. Asserted:
      // packing is CONSERVATIVE (every survivor lands in exactly one
      // bin, token totals preserved) and every bin respects the
      // overflow-by-at-most-one-doc contract — the two invariants that
      // must hold no matter how far the corpus scales.
      val gate = graft.operators.Curation.gopherFilters(docs, minStopFrac = 0.0)
      val survivors = gate.filter(col("keep")).select("doc_id")
      val kept = survivors.count()
      println(s"[probe]   gate survivors: $kept/${n + n / 20}")
      require(kept > 0, "quality gate rejected the whole probe corpus")
      val scored = docs.join(survivors, "doc_id").select(col("doc_id"),
        pmod(xxhash64(col("doc_id")), lit(64)).as("domain"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      val packed = graft.operators.Sampling
        .packBins(scored, "doc_id", "domain", "n_tokens", capacity = 4096)
      val stats = packed.agg(
        count(lit(1)).as("n"), sum("n_tokens").as("tok"),
        countDistinct(col("domain"), col("bin")).as("bins")).head()
      val tokTotal = scored.agg(sum("n_tokens")).head().getLong(0)
      println(s"[probe]   packed ${stats.getLong(0)} docs / $tokTotal tokens " +
        s"into ${stats.getLong(2)} bins")
      require(stats.getLong(0) == kept && stats.getLong(1) == tokTotal,
        "packing lost or duplicated documents/tokens")
      val maxLoad = packed.groupBy(col("domain"), col("bin"))
        .agg(sum("n_tokens").as("load"), max("n_tokens").as("maxDoc"))
        .agg(max(col("load") - col("maxDoc"))).head().getLong(0)
      require(maxLoad < 4096,
        s"a bin exceeded capacity by more than one document: $maxLoad")
    }
    if (on("q155")) time("q155: skyline at probe volume") {
      // Exact at-scale correctness witness for the two-phase prune:
      // interior points have x, y ≤ 989; ten planted points
      // (100i, 1000+100i) are mutually non-dominated (min-x/max-y:
      // larger x carries larger y) and each interior point is
      // dominated by the planted point at x = 100·⌊x₀/100⌋ ≤ x₀ with
      // y ≥ 1000 > y₀. The skyline must return exactly the planted
      // ids — a wrong prune at any partition surfaces as a changed
      // set, not a slow query.
      val interior = docs.select(col("doc_id").as("id"))
        .withColumn("xy", pmod(xxhash64(col("id"), lit(1)), lit(990)))
        .withColumn("x",
          pmod(xxhash64(col("id"), lit(2)), col("xy") + 1).cast("double"))
        .select(col("id"), col("x"),
          (col("xy").cast("double") - col("x")).as("y"))
      val planted = spark.range(10).select(
        (col("id") + 10000000L).as("id"),
        (col("id") * 100).cast("double").as("x"),
        (lit(1000) + col("id") * 100).cast("double").as("y"))
      val pts = interior.unionByName(planted)
      val frontier = graft.operators.Skyline
        .skyline(spark, pts, "id", minimize = Seq("x"), maximize = Seq("y"))
        .select(col("id")).collect().map(_.getLong(0)).sorted
      println(s"[probe]   frontier: ${frontier.length} points")
      require(frontier.toSeq == (0 until 10).map(_ + 10000000L),
        s"skyline broke at scale: ${frontier.take(12).toSeq}")
    }
    if (on("t54")) time("t54/q160: line dedup + SNM at n docs") {
      // line dedup: each planted dup shares lines 1-5 of its source's 6
      // ten-token lines (only line 6 differs, in the last word), and a
      // 10-word line collision between UNRELATED docs is ~1000⁻¹⁰ — so
      // the cross-doc boilerplate drop must hit exactly the paired docs
      val ld = graft.operators.Curation.lineDedup(
        graft.operators.Curation.tokenChunkLines(docs))
      val hit = ld.filter(col("n_dropped") >= 5).count()
      val expectLd = 2 * (n / 20)
      println(s"[probe]   line-dedup docs losing ≥5 lines: $hit (expect $expectLd)")
      require(hit == expectLd,
        s"line dedup missed planted boilerplate at scale: $hit/$expectLd")
      // SNM with a REAL blocking key (hash of the first 3 words):
      // source and dup share the prefix → same key → same bucket and
      // adjacent in order; window=4 absorbs the ~birthday-rate key
      // collisions at 1e9 key space. The probe asserts ≥99% planted
      // recall — SNM's honest contract GIVEN a good key (its blind
      // spot, keys that don't cluster dups, is spec-pinned).
      val keyed = docs.select(col("doc_id"),
        pmod(xxhash64(substring_index(col("text"), " ", 3)),
          lit(1000000000L)).as("n_chars"),
        col("text"))
      val pairs = graft.operators.Dedup.sortedNeighborhoodPairs(keyed)
      val planted = pairs
        .filter(col("id_b") >= n && col("id_a") === (col("id_b") - n) * 20)
        .count()
      val expectSnm = n / 20
      println(s"[probe]   SNM planted recalled: $planted/$expectSnm")
      require(planted >= expectSnm * 99 / 100,
        s"SNM recall broke at scale: $planted/$expectSnm")
    }
    if (on("d59")) time("d59: minhash calibration at n docs") {
      // With enough candidate pairs the calibration table must be
      // MONOTONE: a higher signature-match bucket carries a higher
      // mean exact Jaccard (the estimator is correlated with what it
      // estimates). Gate-scale tables are too sparse to assert this;
      // at probe scale it becomes a checkable property of the
      // estimator, restricted to well-populated buckets.
      val cal = graft.operators.Dedup.minhashCalibration(docs).collect()
      cal.foreach(r => println(f"[probe]   bucket=${r.getLong(0)}%2d " +
        f"est=${r.getDouble(1)}%5.3f n=${r.getLong(2)}%8d " +
        f"meanJ=${r.getDouble(3)}%6.4f"))
      val dense = cal.filter(_.getLong(2) >= 50)
        .map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
      require(dense.zip(dense.tail).forall { case ((_, a), (_, b)) => a <= b },
        s"calibration non-monotone on dense buckets: ${dense.toSeq}")
    }
    if (on("t59")) time("t59: BPE train at n docs") {
      // The BPE-training scale claim: after the one corpus-sized
      // wordCounts shuffle, every merge round runs over the DISTINCT-
      // word table (vocab-bounded — here ≤1000 seeded words + 20
      // boilerplate-free variants), so the round loop's cost must NOT
      // move with n. Measure the corpus-bound floor (wordCounts) and
      // the full 6-round train; loop ≈ total − floor stays flat across
      // probe scales (see ARCHITECTURE §scale-evidence for the 4×
      // numbers from two runs).
      val tF = System.nanoTime()
      val vocabSize = graft.operators.Vocab.wordCounts(docs).count()
      val floorSec = (System.nanoTime() - tF) / 1e9
      val tT = System.nanoTime()
      val merges = graft.operators.Vocab.bpeTrain(spark, docs, rounds = 6)
        .collect()
      val totalSec = (System.nanoTime() - tT) / 1e9
      println(f"[probe]   vocab=$vocabSize floor=$floorSec%.1f s " +
        f"train=$totalSec%.1f s loop≈${totalSec - floorSec}%.1f s")
      require(merges.length == 6, s"expected 6 merges, got ${merges.length}")
      val supports = merges.map(_.getLong(3))
      require(supports.zip(supports.tail).forall { case (a, b) => a >= b },
        s"merge supports must be non-increasing: ${supports.toSeq}")
    }
    if (on("s55")) time("s55/s54/t53: spectra + coreset + HLL at n vectors") {
      // n 64-dim vectors, uniform per dim EXCEPT dim 0 biased by +0.5 —
      // the second-moment matrix is then dominated by e0 (var + 0.25 vs
      // var), so the power iteration has a known answer at any n.
      val dims = sequence(lit(1), lit(64))
      def comp(seed: org.apache.spark.sql.Column) =
        (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
          - lit(1.0)).cast("float")
      val vecs = spark.range(n).toDF("vec_id")
        .withColumn("embedding", transform(dims, i =>
          when(i === 1, comp(col("vec_id") * 64 + i) + lit(0.5f))
            .otherwise(comp(col("vec_id") * 64 + i))))
      // dominant direction: ONE corpus pass (per-partition outer
      // products), then 64-row iterations — wall-clock must not move
      // with iteration count
      val v = graft.operators.Similarity.dominantDirection(vecs).collect()
      val vAbs = v.map(r => math.abs(r.getLong(1)))
      println(s"[probe]   dominant dim: ${vAbs.indexOf(vAbs.max)} (planted 0)")
      require(vAbs.indexOf(vAbs.max) == 0,
        s"power iteration missed the planted +0.5 bias on dim 0")
      // k-center: k corpus scans, no shuffle; radii must be
      // non-increasing (the greedy max-min contract)
      val picks = graft.operators.Similarity.kCenterCoreset(vecs, k = 8)
        .collect()
      val radii = picks.drop(1).map(_.getLong(2))
      println(s"[probe]   k-center radii: ${radii.mkString(",")}")
      require(radii.zip(radii.tail).forall { case (a, b) => a >= b },
        s"greedy k-center radii not monotone: ${radii.toSeq}")
      // HLL at volume: n items over n/2 distinct keys — the mergeable
      // registers cross however many partitions the corpus has
      val items = spark.range(n)
        .select((col("id") % lit(math.max(n / 2, 1L))).cast("string").as("w"))
      val h = graft.operators.Frequency.hllDistinct(spark, items).head()
      println(f"[probe]   HLL est=${h.getDouble(3)}%.1f " +
        f"exact=${h.getLong(4)} rel_err=${h.getDouble(5)}%.4f")
      require(h.getDouble(5) < 0.2,
        s"HLL rel_err out of the 3-sigma band at scale: ${h.getDouble(5)}")
    }
    if (on("d62")) time("d62: winnowing fingerprints + pairs at n docs") {
      // the winnowing guarantee at volume: every planted dup shares its
      // source's first 57 tokens (only the last of 60 words differs),
      // far past the w+k−1 = 6 shared-run bound — so EVERY planted pair
      // must appear (a guarantee, not a recall target), while the
      // fingerprint table stays ~2/(w+1) sparse vs the k-gram count.
      val nFp = graft.operators.Dedup.winnowingFingerprints(docs).count()
      val kgrams = docs
        .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
        .agg(sum(greatest(size(col("t")) - 2, lit(0)))).head().getLong(0)
      println(f"[probe]   fingerprints: $nFp%,d of $kgrams%,d k-grams " +
        f"(density ${nFp.toDouble / kgrams}%.3f; 2/(w+1) = ${2.0 / 5}%.3f)")
      require(nFp * 2 < kgrams, "winnowing density bound broke at scale")
      val t0 = System.nanoTime()
      val p = graft.operators.Dedup.winnowingPairs(docs, minShared = 1L)
        .localCheckpoint()
      val total = p.count()
      val planted = p
        .filter(col("id_b") >= n && col("id_a") === (col("id_b") - n) * 20)
        .count()
      println(f"[probe]   pairs: ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
        s"$total total, planted $planted/${n / 20}")
      require(planted == n / 20,
        s"winnowing guarantee broke at scale: $planted/${n / 20}")
    }
    if (on("d68")) time("d68: CDC chunking self-sync at n docs") {
      // the CDC edit-locality guarantee at volume: every planted dup
      // differs from its source in ONLY the last of 60 tokens, and no
      // k=4 window containing token 60 can cut (i+k ≤ n fails), so the
      // boundary SETS are provably identical — the chunk sequences must
      // match everywhere except the final chunk. A stronger claim than
      // a recall rate: per pair, mismatches == 1 AND at the last
      // ordinal (== 0 only when the differing word collides, ~1/1000).
      val ct = graft.operators.Dedup.cdcChunkTable(docs).localCheckpoint()
      val nChunks = ct.count()
      val toks = docs.select(
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
        .agg(sum(size(col("t")))).head().getLong(0)
      println(f"[probe]   chunks: $nChunks%,d over $toks%,d tokens " +
        // expected chunks/doc = windows/div + 1 ≈ 8.1 → mean len ≈ 7.4
        f"(mean len ${toks.toDouble / nChunks}%.2f; expected ≈ 7.4)")
      val src = ct.filter(col("doc_id") < n && col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("chunk_idx"), col("ch").as("ch_a"))
      val dup = ct.filter(col("doc_id") >= n)
        .select(((col("doc_id") - n) * 20).as("doc_id"),
          col("chunk_idx"), col("ch").as("ch_b"))
      val j = src.join(dup, Seq("doc_id", "chunk_idx"), "full")
        .localCheckpoint() // feeds mismatch agg AND the tail check
      val per = j.groupBy(col("doc_id")).agg(
        sum(when(col("ch_a").isNull || col("ch_b").isNull
          || col("ch_a") =!= col("ch_b"), 1L).otherwise(0L)).as("mm"),
        max(col("chunk_idx")).as("mxi"))
      val bad = per.filter(col("mm") > 1).count()
      val one = per.filter(col("mm") === 1).count()
      val pairs = per.count()
      // ...and the single mismatch sits at the LAST ordinal
      val offEnd = j.filter(col("ch_a") =!= col("ch_b"))
        .join(per.select(col("doc_id"), col("mxi")), Seq("doc_id"))
        .filter(col("chunk_idx") =!= col("mxi")).count()
      println(s"[probe]   planted pairs: $pairs; exactly-1-mismatch: " +
        s"$one; >1: $bad; mismatches off the last ordinal: $offEnd")
      require(bad == 0 && offEnd == 0 && pairs == n / 20,
        s"CDC self-sync broke at scale: bad=$bad offEnd=$offEnd")
      require(one >= pairs * 95 / 100,
        s"suspiciously few differing pairs: $one/$pairs")
    }
    if (on("s65")) time("s65: bitext margin mining, 10 probes vs n-vector pool") {
      // the batched-mining economics at volume: 10 probe vectors against
      // an n-vector opposite pool (the dense per-batch path IS the scale
      // path — the probe side broadcasts, the pool is scanned once).
      // Planted couples at cos ≈ 0.9997 over a random background; all
      // 10 must come back as mutual-margin partners.
      val dims = sequence(lit(1), lit(64))
      def comp(seed: org.apache.spark.sql.Column) =
        (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
          - lit(1.0)).cast("float")
      val pool = spark.range(n).select(
        (col("id") * 2 + 1).as("vec_id"),
        transform(dims, i => comp(col("id") * 64 + i)).as("embedding"))
      val probes = spark.range(10).select(
        (col("id") * 2).as("vec_id"),
        transform(dims, i =>
          (comp(col("id") * 64 + i) + lit(0.005f)).cast("float"))
          .as("embedding"))
      val mined = graft.operators.Similarity
        .bitextMine(pool.unionByName(probes)).collect()
      val ok = mined.count(r => r.getLong(1) == r.getLong(0) + 1
        && r.getDouble(3) > 0.0)
      println(s"[probe]   mined ${mined.length} pairs, planted couples " +
        s"recovered $ok/10; sample=${mined.take(2).toSeq}")
      require(ok == 10, s"margin mining lost planted couples: $ok/10")
    }
    if (on("q201")) time("q201/q205: LPA + TrustRank on planted communities") {
      // two planted 8-cliques bridged by ONE edge, dropped into a sparse
      // random background (avg degree ~1): LPA must put the two cliques
      // in DIFFERENT communities (the bridge's single vote never beats a
      // clique's 7) at any n; TrustRank over the same graph must score
      // exactly 0 on a node set unreachable from the seed class.
      val e1 = spark.range(n).select(col("id").as("id_a"),
        pmod(xxhash64(col("id") * 11 + 5), lit(n)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      import spark.implicits._
      val cliqueAt = (base: Long) =>
        (for (a <- 0L to 7L; b <- (a + 1) to 7L) yield (base + a, base + b))
      val bridge = Seq((n + 7, n + 10))
      val planted = (cliqueAt(n) ++ cliqueAt(n + 10) ++ bridge)
        .toDF("id_a", "id_b")
      val edges = e1.unionByName(planted)
      val t0 = System.nanoTime()
      val lpa = graft.operators.Dedup.labelPropagation(edges)
        .localCheckpoint()
      println(f"[probe]   LPA: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(${lpa.count()} labeled nodes)")
      val lab = lpa.filter(col("doc_id").between(n, n + 17))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val a = (0L to 7L).map(i => lab(n + i)).toSet
      val b = (10L to 17L).map(i => lab(n + 10 + i - 10)).toSet
      require(a.size == 1 && b.size == 1 && a != b,
        s"planted cliques not separated at scale: a=$a b=$b")
      val t1 = System.nanoTime()
      val tr = graft.operators.Dedup.trustRank(edges).localCheckpoint()
      // the planted clique ids sit at n..n+17 — seeds are ≡0 mod 10, so
      // whether they hold trust depends on reachability; the PROBE
      // assertion is global: every zero-trust node is genuinely not
      // reachable within the propagation (spot-check: trust mass > 0
      // and bounded node count)
      val pos = tr.filter(col("pr") > 0).count()
      val all = tr.count()
      println(f"[probe]   TrustRank: ${(System.nanoTime() - t1) / 1e9}%.1f s " +
        s"($pos/$all nodes carry trust)")
      require(pos > 0 && pos < all,
        "trust did not both propagate and exclude at scale")
    }
    if (on("q203")) time("q203: systematic resample, bucket-invariant at n docs") {
      // the distributed-prefix-sum correctness claim at volume: the
      // bucketed two-pass selection must EQUAL the 1-bucket sequential
      // computation row-for-row, and hit ~target picks
      val weighted = docs.select(col("doc_id"),
        (length(col("text")) % 997 + 1).cast("long").as("w"))
      val target = 100000L
      def sel(b: Int) = graft.operators.Sampling
        .systematicSample(weighted, "doc_id", "w", target, buckets = b)
      val many = sel(256).localCheckpoint()
      val one = sel(1).localCheckpoint()
      val diff = many.exceptAll(one).unionByName(one.exceptAll(many)).count()
      val picks = many.count()
      println(s"[probe]   picks: $picks (target $target); " +
        s"bucketed-vs-sequential diff rows: $diff")
      require(diff == 0, "distributed prefix sum diverged from sequential")
      require(picks <= target && picks >= target * 9 / 10,
        s"pick count drifted: $picks vs target $target")
    }
    if (on("q226")) time("q226: Poisson bootstrap, one-scan replicates at n docs") {
      // the cost claim at volume: 40 replicates must not cost 40
      // scans — the explode-by-replicate feeds a map-side-combining
      // aggregate, so the shuffle carries |sources|·reps rows and the
      // wall grows far sublinearly in reps. Same corpus, same plan
      // shape, reps 4 vs 40 (10×).
      // vary the lengths (60..156 tokens, seeded) — the base corpus is
      // uniform 60-word docs, which makes every replicate mean exactly
      // 60 and the CI degenerately tight
      val srcd = docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(8)).cast("string")))
        .withColumn("text", concat(col("text"),
          expr("repeat(' pad', CAST(pmod(xxhash64(doc_id, 9L), 97) AS INT))")))
        .localCheckpoint()
      def run(reps: Int, lo: Int, hi: Int) = {
        def once = {
          System.gc()
          val t0 = System.nanoTime()
          val r = graft.operators.Sampling
            .poissonBootstrapCI(srcd, reps, lo, hi).collect()
          ((System.nanoTime() - t0) / 1e9, r)
        }
        once // warm
        val (wa, ra) = once
        val (wb, _) = once
        (math.min(wa, wb), ra)
      }
      val (w4, _) = run(4, 1, 4)
      val (w40, r40) = run(40, 2, 39)
      println(f"[probe]   reps=4: $w4%.2f s   reps=40: $w40%.2f s   " +
        f"ratio ${w40 / w4}%.2f for 10x the replicates")
      r40.foreach(r => println(f"[probe]   ${r.getString(0)}%-3s " +
        f"n=${r.getLong(1)}%8d mean=${r.getDouble(2)}%8.3f " +
        f"ci=[${r.getDouble(3)}%8.3f, ${r.getDouble(4)}%8.3f]"))
      require(r40.forall(r =>
        r.getDouble(3) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(4)),
        "a source's bootstrap CI does not straddle its point mean at volume")
      require(w40 < w4 * 4,
        f"replicate scaling is not sublinear: $w4%.2f -> $w40%.2f")
    }
    if (on("d74")) time("d74: edge embeddedness, planted cliques + bridge chain") {
      // synthetic graph at volume — the exact sparsifier shape: n/8
      // disjoint 5-cliques (every internal edge deeply embedded)
      // chained into ONE giant component by bridge edges between
      // consecutive clique anchors (cn = 0 by construction). The
      // operator must give every clique edge cn = 3 and every bridge
      // jacc = 0 — cutting the jacc-0 edges is precisely what restores
      // the clique components before a CC walk.
      val k = math.max(1000L, n / 8)
      val pairIdx = array((for {
        i <- 0 to 4; j <- (i + 1) to 4
      } yield struct(lit(i).as("i"), lit(j).as("j"))): _*)
      val cliques = spark.range(k)
        .withColumn("p", explode(pairIdx))
        .select((col("id") * 5 + col("p.i")).as("id_a"),
          (col("id") * 5 + col("p.j")).as("id_b"))
      val bridges = spark.range(k - 1)
        .select((col("id") * 5).as("id_a"), ((col("id") + 1) * 5).as("id_b"))
      val edges = cliques.unionByName(bridges).localCheckpoint()
      val t0 = System.nanoTime()
      val emb = graft.operators.Dedup.edgeEmbeddedness(edges)
        .localCheckpoint()
      val wall = (System.nanoTime() - t0) / 1e9
      val nE = emb.count()
      val bridgeRows = emb.filter(col("id_b") - col("id_a") === 5)
      val cliqueRows = emb.filter(col("id_b") - col("id_a") < 5)
      val badBridge = bridgeRows
        .filter(col("cn") =!= 0 || col("jacc") =!= 0.0).count()
      val badClique = cliqueRows.filter(col("cn") =!= 3).count()
      println(f"[probe]   edges=$nE%d (cliques=${10 * k}%d bridges=${k - 1}%d) " +
        f"wall=$wall%.2f s; bad bridges=$badBridge bad clique edges=$badClique")
      require(nE == 10 * k + (k - 1), s"edge rows drifted: $nE")
      require(badBridge == 0, "a bridge edge scored nonzero embeddedness")
      require(badClique == 0, "a clique edge lost common neighbors")
      // the cut itself: dropping jacc-0 edges leaves exactly the
      // 10·k clique edges — the giant chained component dissolves
      require(emb.filter(col("jacc") > 0).count() == 10 * k,
        "the jacc-0 cut does not isolate the cliques")
    }
    if (on("prefix")) time("Prefix.cumsum: bucket/group invariance at corpus-scale support") {
      // the r11 directive-#2 cure, measured where it matters: a
      // HIGH-CARDINALITY support (one distinct xxhash value per doc —
      // the shape that used to become a single-partition sort). The
      // 256-bucket decomposition must equal the 1-bucket sequential
      // computation row-for-row, grouped and ungrouped.
      val base = docs
        .select(xxhash64(col("doc_id")).as("x"),
          pmod(col("doc_id"), lit(7)).as("g"))
        .groupBy(col("x"), col("g")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val support = base.count()
      def run(buckets: Int, grouped: Boolean) = graft.operators.Prefix
        .cumsum(base, "x", Seq("c" -> "cum"), inclusive = true,
          buckets = buckets,
          groupCols = if (grouped) Seq("g") else Nil)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val many = run(256, grouped = false)
      val tMany = (System.nanoTime() - t0) / 1e9
      val one = run(1, grouped = false)
      val diff = many.exceptAll(one).unionByName(one.exceptAll(many)).count()
      require(diff == 0, s"ungrouped decomposition diverged: $diff rows")
      val gMany = run(256, grouped = true)
      val gOne = run(1, grouped = true)
      val gDiff = gMany.exceptAll(gOne).unionByName(gOne.exceptAll(gMany)).count()
      require(gDiff == 0, s"grouped decomposition diverged: $gDiff rows")
      println(f"[probe]   support=$support distinct values; 256-bucket pass " +
        f"$tMany%.1f s; bucketed==sequential diff rows: $diff (ungrouped), " +
        s"$gDiff (7 groups) — exact")
      // r12: the prefix-MAX sibling under the same standard of evidence
      // (q220's running high-water mark) — 256-bucket decomposition ≡
      // 1-bucket sequential, at the same high-cardinality support
      val mBase = base.withColumn("v", pmod(xxhash64(col("x"), lit(5)),
        lit(1000000L)))
      def runMax(buckets: Int) = graft.operators.Prefix
        .cummax(mBase, "x", "v", "m", buckets = buckets)
        .select(col("x"), col("m")).localCheckpoint()
      val t1 = System.nanoTime()
      val mMany = runMax(256)
      val tMax = (System.nanoTime() - t1) / 1e9
      val mOne = runMax(1)
      val mDiff = mMany.exceptAll(mOne).unionByName(mOne.exceptAll(mMany))
        .count()
      require(mDiff == 0, s"cummax decomposition diverged: $mDiff rows")
      println(f"[probe]   cummax 256-bucket pass $tMax%.1f s; " +
        s"bucketed==sequential diff rows: $mDiff — exact")
    }
    if (on("d65")) time("d65: shared-span alignment on the planted pairs") {
      // every planted dup replays its source's 60 words except the
      // LAST: word 60 sits only in the window starting at 58, so the
      // two 58-window lists agree on a 57-window prefix run ->
      // shared_tokens = 57 + 2 = 59 for EVERY pair — except the ~1/1000
      // where the perturbed hash redraws the SAME vocab word (then the
      // docs are identical: 60). A structural assertion at corpus
      // volume, plus the positional-window machinery's wall clock.
      val pairs = graft.operators.Dedup.minhashVerifiedPairs(
        docs, threshold = 0.5, maxDf = 200)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val planted = pairs
        .filter(col("id_b") >= n && col("id_a") === (col("id_b") - n) * 20)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val spans = graft.operators.Dedup.sharedSpans(docs, planted, k = 3)
        .localCheckpoint()
      val total = spans.count()
      val at59 = spans.filter(col("shared_tokens") === 59).count()
      val at60 = spans.filter(col("shared_tokens") === 60).count()
      println(f"[probe]   spans: ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
        s"$at59/$total pairs at shared_tokens=59, $at60 full-collision (=60)")
      require(total == planted.count() && at59 + at60 == total &&
        at60 <= total / 200,
        s"shared-span guarantee broke at scale: 59s=$at59 60s=$at60 of $total")
    }
    if (on("r11ops")) time("r11 stats ops at corpus scale (q208/q210/s63)") {
      // q210 vs q149 cross-operator equality: with unit weights the
      // weighted quantile (cum*den >= qn*totW) and the type-1 quantile
      // (cum >= ceil(q*n)) are the SAME integer condition, computed by
      // DIFFERENT decompositions (grouped Prefix.cumsum vs per-group
      // histogram windows) — assert they agree exactly at volume.
      val weighted = docs.select(col("doc_id"),
        pmod(col("doc_id"), lit(7)).cast("string").as("g"),
        (length(col("text")) % 997).cast("long").as("v"))
        .withColumn("one", lit(1L)).localCheckpoint()
      val t0 = System.nanoTime()
      val wq = graft.operators.Profiling.weightedQuantiles(
        weighted, "g", "v", "one", qs = Seq(25, 50, 75, 90))
        .select(col("g"), (col("q_num").cast("double") / 100).as("q"),
          col("q_value")).localCheckpoint()
      val eq = graft.operators.Profiling.exactQuantiles(
        weighted, "g", "v", qs = Seq(0.25, 0.5, 0.75, 0.9))
        .select(col("g"), col("q"), col("q_value").cast("bigint").as("q_value"))
      val qDiff = wq.exceptAll(eq).unionByName(eq.exceptAll(wq)).count()
      println(f"[probe]   q210 vs q149 (unit weights): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s, diff rows: $qDiff")
      require(qDiff == 0, s"weighted/type-1 quantiles diverged: $qDiff")
      // q208: an id-residue key is well shuffled under the AVALANCHE
      // order (ratio ~1 — under the earlier LINEAR modular order this
      // same key measured 3.61, which is WHY the operator switched);
      // a key derived from the order hash's own high bits is maximally
      // clumped and must read as such
      val t1 = System.nanoTime()
      val good = graft.operators.Curation.shuffleAudit(
        weighted, col("doc_id"), col("g")).head()
      val mixCol = graft.expressions.RollingHash(
        reverse(graft.expressions.RollingHash(col("doc_id").cast("string"))
          .cast("string")))
      val clumped = graft.operators.Curation.shuffleAudit(
        weighted.withColumn("ck", shiftright(mixCol, 58)),
        col("doc_id"), col("ck")).head()
      println(f"[probe]   q208: ${(System.nanoTime() - t1) / 1e9}%.1f s; " +
        f"id-residue ratio=${good.getDouble(4)}%.4f (want ~1), " +
        f"order-highbits ratio=${clumped.getDouble(4)}%.3f (want >>1)")
      require(good.getDouble(4) > 0.9 && good.getDouble(4) < 1.1,
        s"well-mixed key read as clumped: ${good.getDouble(4)}")
      require(clumped.getDouble(4) > 5,
        s"planted clumping not detected: ${clumped.getDouble(4)}")
      // s63: ids 2k and 2k+1 share a vector (seed = id DIV 2), so the
      // parity groups hold the SAME vector multiset — their exact
      // fixed-point centroid sums are EQUAL and the cosine sits within
      // 1 ulp of 1 (sqrt(x)*sqrt(x) vs x). A drifted decomposition or a
      // nondeterministic double sum would miss by far more than 1e-9.
      val dims = sequence(lit(1), lit(64))
      def comp(seed: org.apache.spark.sql.Column) =
        (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
          - lit(1.0)).cast("float")
      val vecs = spark.range(n).toDF("vec_id")
        .withColumn("embedding",
          transform(dims, i => comp(expr("vec_id DIV 2") * 64 + i)))
      val t2 = System.nanoTime()
      val r0 = graft.operators.Similarity.centroidDrift(
        vecs, pmod(col("vec_id"), lit(2)).cast("long"), "embedding",
        ga = 0L, gb = 1L).head()
      println(f"[probe]   s63: ${(System.nanoTime() - t2) / 1e9}%.1f s; " +
        f"paired-population cos=${r0.getDouble(2)}%.15f " +
        s"(na=${r0.getLong(0)}, nb=${r0.getLong(1)})")
      require(math.abs(r0.getDouble(2) - 1.0) < 1e-9,
        s"identical populations drifted: ${r0.getDouble(2)}")
    }
    if (on("q204")) time("q204: ring binary search at 1000 shards x 16 vnodes") {
      // the watch-item scale: 16,000 ring entries used to mean 16k
      // comparisons + a filtered-array allocation PER ROW; the r11
      // unrolled lower_bound does 14 literal-array probes. Verdicts:
      // runs at corpus volume, and growing 1000 -> 1001 shards moves
      // ~1/1001 of rows (the property the scheme exists for).
      val t0 = System.nanoTime()
      val audit = graft.operators.Layout
        .consistentShardAudit(docs, col("doc_id"), 1000, 1001)
        .localCheckpoint()
      val agg = audit.agg(sum(col("n_docs")), sum(col("n_moved"))).head()
      val (nd, nm) = (agg.getLong(0), agg.getLong(1))
      val frac = nm.toDouble / nd
      println(f"[probe]   assigned $nd rows in ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
        f"moved $nm (${frac * 100}%.3f%% vs theory ${100.0 / 1001}%.3f%%)")
      require(frac > 0.0003 && frac < 0.003,
        s"rebalance fraction off theory at scale: $frac")
    }
    if (on("q206")) time("q206: HITS on planted copy farms") {
      // background: sparse random copy->original pairs (avg degree ~1).
      // Planted (ids >= n so they can't collide with background):
      //   - a STAR original O with 200 high-id copies -> O must be the
      //     unique max-authority node (auth == scale exactly after the
      //     renormalize: x*scale DIV max sends the argmax to scale);
      //   - a SUPER HUB H citing the star original PLUS 10 mid
      //     originals (50 copies each): raw hub(H) = auth(O) + sigma
      //     auth(mid) STRICTLY exceeds every single-citation copy of O
      //     (whose raw hub is exactly auth(O)), so H must be the
      //     unique max-hub node — structurally, not by margin luck.
      // Also the int64-bounds contract: every hub/auth in [0, scale].
      import spark.implicits._
      val bg = spark.range(n).select(col("id").as("id_a"),
        pmod(xxhash64(col("id") * 13 + 3), lit(n)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val O = n + 1L
      val starCopies = (1L to 200L).map(i => (O, n + 1000L + i))
      val H = n + 500L
      val midOrig = (0L until 10L).map(j => n + 10L + j)
      val midCopies = for (o <- midOrig; i <- 1L to 50L)
        yield (o, n + 10000L + (o - n - 10L) * 50L + i)
      val hubEdges = (O, H) +: midOrig.map(o => (o, H))
      val planted = (starCopies ++ midCopies ++ hubEdges)
        .toDF("id_a", "id_b") // (original=lower, copy=higher) everywhere
      val t0 = System.nanoTime()
      val hits = graft.operators.Dedup.hits(bg.unionByName(planted))
        .localCheckpoint()
      val nodes = hits.count()
      println(f"[probe]   HITS: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"($nodes nodes)")
      val scale = graft.operators.Dedup.hitsScale
      val bounds = hits.agg(min(col("hub")), max(col("hub")),
        min(col("auth")), max(col("auth"))).head()
      require(bounds.getLong(0) >= 0 && bounds.getLong(1) == scale &&
        bounds.getLong(2) >= 0 && bounds.getLong(3) == scale,
        s"renormalization bounds broke at scale: $bounds")
      val topAuth = hits.filter(col("auth") === scale)
        .select("doc_id").as[Long].collect().toSet
      require(topAuth == Set(O),
        s"star original is not the unique max authority: $topAuth")
      val topHub = hits.filter(col("hub") === scale)
        .select("doc_id").as[Long].collect().toSet
      require(topHub == Set(H),
        s"super hub is not the unique max hub: $topHub")
      println(s"[probe]   max-auth=$topAuth (star original) " +
        s"max-hub=$topHub (super hub); all values in [0,$scale] — OK")
    }
    if (on("d63")) time("d63/d64: F-S linkage under a skewed block distribution") {
      // one GIANT block (20% of all records on a single key — the
      // skew that would go quadratic) among uniform ~40-record blocks:
      // the maxBlock cap must skip the giant block ENTIRELY, the
      // histogram must equal sigma C(m,2) over the KEPT blocks (pair
      // counts derived from block sizes — never enumerated), and the
      // blockingAudit candidate count must cover ALL blocks (audit
      // semantics: report the scheme as designed, cap-free).
      import graft.operators.Linkage
      val recs = spark.range(n).select(col("id").as("rid"),
        when(pmod(col("id"), lit(5)) === 0, lit(0L))
          .otherwise(expr("id DIV 50 + 1")).as("bk"),
        pmod(col("id"), lit(97)).as("f1"),
        pmod(col("id"), lit(11)).as("f2"))
        .localCheckpoint()
      val maxBlock = 1000L
      val t0 = System.nanoTime()
      val hist = Linkage.fellegiSunterHistogram(recs, col("rid"), col("bk"),
        Seq(Linkage.FieldWeight(col("f1"), 8L, -2L),
          Linkage.FieldWeight(col("f2"), 3L, -1L)), maxBlock)
        .localCheckpoint()
      val histPairs = hist.agg(coalesce(sum(col("n_pairs")), lit(0L)))
        .head().getLong(0)
      println(f"[probe]   histogram: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(${hist.count()} score rows, $histPairs pairs)")
      // expected pairs from block sizes alone (kept blocks only)
      val expected = recs.groupBy(col("bk")).agg(count(lit(1)).as("m"))
        .filter(col("m") <= maxBlock)
        .agg(coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L)))
        .head().getLong(0)
      val giant = recs.filter(col("bk") === 0).count()
      require(giant > maxBlock, s"probe setup: giant block only $giant rows")
      require(histPairs == expected,
        s"skew cap drifted: histogram $histPairs pairs vs size-derived $expected")
      val audit = graft.operators.Linkage.blockingAudit(
        // truth = consecutive-id pairs: most share a DIV-50 block
        // (found), the rest straddle a boundary or the giant block
        // (missed) -> pairs_completeness strictly inside (0, 1)
        spark.range(n - 1).select(col("id").as("id_a"),
          (col("id") + 1L).as("id_b")),
        recs.select(col("rid").as("doc_id"), col("bk"))).head()
      val nCand = audit.getDouble(2)
      // audit is cap-free: giant block's C(giant,2) dominates
      val giantPairs = giant.toDouble * (giant - 1).toDouble / 2.0
      require(nCand >= giantPairs,
        s"audit lost the giant block: n_cand=$nCand < $giantPairs")
      println(f"[probe]   audit: n_cand=$nCand%.3e (giant block " +
        f"C($giant,2)=$giantPairs%.3e included), " +
        f"pc=${audit.getDouble(4)}%.4f rr=${audit.getDouble(5)}%.6f — OK")
    }
    if (on("q148")) time("q148: PageRank (3 iters, synthetic edges)") {
      // 8 out-edges per doc over a hash-derived topology
      val edges = docs.select(col("doc_id").as("id_a"),
        explode(sequence(lit(1), lit(8))).as("k"))
        .select(col("id_a"),
          pmod(xxhash64(col("id_a") * lit(31) + col("k")), lit(n)).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val pr = graft.operators.Dedup.pageRank(edges)
      println(s"[probe]   ranked nodes: ${pr.count()}")
    }
    if (on("t56")) time("t56: BM25 retrieval over the probe corpus") {
      import graft.operators.Retrieval
      // queries derived from the organic corpus, then a WITNESS doc is
      // planted containing each of query 0's terms ×20 — tf saturation
      // and the extra matched terms must put it at rank 1 against any
      // organic doc (whose per-term tf is Poisson(0.06·60)-ish). The
      // timed path is the full pipeline: explode → broadcast prune →
      // postings aggregation → windowed top-k.
      val queries = Retrieval
        .frequencyDerivedQueries(Retrieval.postings(docs))
        .localCheckpoint()
      val q0terms = queries.filter(col("query_id") === 0)
        .collect().map(_.getString(1))
      val witnessId = 10L * n
      val witness = spark.range(1).select(
        lit(witnessId).as("doc_id"),
        lit(q0terms.flatMap(t => Seq.fill(20)(t)).mkString(" ")).as("text"),
        lit("probe").as("source"))
      val t0 = System.nanoTime()
      val top = Retrieval.bm25TopK(docs.unionByName(witness), queries, 10)
        .collect()
      println(f"[probe]   bm25 top-k: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        s"(${top.length} rows over ${queries.count()} query terms)")
      val q0top = top.filter(_.getLong(0) == 0L).minBy(_.getLong(1))
      println(s"[probe]   q0 rank-1: doc ${q0top.getLong(2)} " +
        s"(witness=$witnessId, score=${q0top.getLong(3)})")
      require(q0top.getLong(2) == witnessId,
        s"planted witness not at rank 1: $q0top")
    }
    if (on("q166")) time("q166: k-core peel (sparse synthetic graph)") {
      // sparse topology (avg degree ≈ 2.2: one out-edge per node plus a
      // second for 10%) so the peel has real work — plus two witnesses:
      // a 6-clique (ids n..n+5) that MUST survive the 2-core with
      // degree 5, and an isolated 30-node path (ids n+10..n+39) that
      // must dissolve COMPLETELY, costing ~15 peel rounds — the
      // worst-case round count a chain can force at this length.
      val e1 = spark.range(n).select(col("id").as("id_a"),
        pmod(xxhash64(col("id") * 7 + 1), lit(n)).as("id_b"))
      val e2 = spark.range(n)
        .filter(pmod(xxhash64(col("id") * 13 + 2), lit(10)) === 0)
        .select(col("id").as("id_a"),
          pmod(xxhash64(col("id") * 17 + 3), lit(n)).as("id_b"))
      import spark.implicits._
      val clique = (for (a <- 0L to 5L; b <- (a + 1) to 5L)
        yield (n + a, n + b)).toSeq.toDF("id_a", "id_b")
      val chain = (0L until 29L).map(i => (n + 10 + i, n + 11 + i))
        .toSeq.toDF("id_a", "id_b")
      val edges = e1.unionByName(e2)
        .filter(col("id_a") =!= col("id_b"))
        .unionByName(clique).unionByName(chain)
      val core = graft.operators.Dedup.kCore(edges, k = 2)
        .localCheckpoint()
      val coreN = core.count()
      val cliqueRows = core.filter(
        col("doc_id").between(n, n + 5) && col("core_deg") === 5).count()
      val chainRows = core.filter(col("doc_id") >= n + 10).count()
      println(s"[probe]   2-core nodes: $coreN " +
        s"(rounds=${graft.operators.Dedup.kCoreRoundsLastRun})")
      require(cliqueRows == 6, s"planted clique damaged: $cliqueRows/6")
      require(chainRows == 0, s"chain survived the peel: $chainRows rows")
    }
    if (on("d67")) time("d67: LSH-proposed DBSCAN (planted clusters)") {
      import spark.implicits._
      // the documented 100 TB swap, measured: dbscanFromPairs fed by
      // embeddingNearDupes' multi-table LSH instead of the exact
      // all-pairs join. Corpus: 5k planted 10-member clusters (shared
      // ±1 base, per-member magnitude jitter → within-group cos
      // ≈ 0.9997) + an equal mass of random ±1 singletons (inter-group
      // cos > 0.9 needs 61/64 sign agreement — ~2⁻⁴⁰ per pair, absent
      // at this volume). Expected output is fully derivable: grouped
      // ids are core in cluster ⌊id/10⌋·10, singletons are noise.
      def mix(a: Long, b: Long): Long = {
        var z = a * 0x9E3779B97F4A7C15L + b
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val nv = math.min(n, 100000L) // vector corpus is O(n·dim) wide
      val vecs = spark.range(nv).as[Long].mapPartitions { it =>
        it.map { id =>
          val grouped = id < nv / 2
          val seed = if (grouped) id / 10 else 1000000000L + id
          val emb = Array.tabulate(64) { d =>
            val s = if ((mix(seed, d.toLong) & 1L) == 0L) 1f else -1f
            val j =
              if (grouped)
                1f + 0.01f * math.floorMod(mix(id, 4096L + d), 5L)
              else 1f
            s * j
          }
          (id, emb)
        }
      }.toDF("vec_id", "embedding").localCheckpoint()
      val pairs = graft.operators.Similarity.embeddingNearDupes(
        vecs, threshold = 0.9, nBits = 16, tables = 4)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val planted = pairs.filter(
        col("id_b") < nv / 2 &&
          expr("id_a DIV 10") === expr("id_b DIV 10")).count()
      val expectedPairs = (nv / 20) * 45
      println(s"[probe]   planted pair recall: $planted/$expectedPairs")
      require(planted >= expectedPairs * 999 / 1000,
        s"LSH pair recall broke: $planted/$expectedPairs")
      val got = graft.operators.Similarity
        .dbscanFromPairs(vecs, pairs, minPts = 4)
        .select(col("vec_id"), col("role"), col("cluster_id"))
        .localCheckpoint()
      val expect = spark.range(nv).select(col("id").as("vec_id"),
        when(col("id") < nv / 2, lit("core")).otherwise(lit("noise"))
          .as("role"),
        when(col("id") < nv / 2, col("id") - col("id") % 10)
          .otherwise(lit(-1L)).as("cluster_id"))
      val extra = got.except(expect).count()
      val missing = expect.except(got).count()
      println(s"[probe]   clustering vs planted: extra=$extra missing=$missing")
      require(extra == 0 && missing == 0,
        s"LSH-proposed DBSCAN diverged from the planted clustering")
    }
    if (on("q212")) time("q212: k-truss peel (planted template farms)") {
      // random sparse background (avg degree ≈ 4: two independent
      // out-edges per node — separate seeds per endpoint, rule 19) is
      // triangle-free almost surely at this density, so the 4-truss
      // must be EXACTLY the planted farms: one 6-clique per 1000 nodes
      // (every edge in 4 triangles). The assertion is two-sided —
      // every farm edge survives with support ≥ 4 AND nothing else
      // survives — and the fixpoint-throw contract rides the same run
      // (rounds=6 not a fixpoint ⇒ kTruss itself aborts the probe).
      val r1 = spark.range(n).select(col("id").as("id_a"),
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("id_b"))
      val r2 = spark.range(n).select(col("id").as("id_a"),
        pmod(xxhash64(col("id"), lit(2)), lit(n)).as("id_b"))
      val farms = spark.range(n / 1000)
        .select(explode(expr(
          """transform(flatten(transform(sequence(0, 4), a ->
            |  transform(sequence(a + 1, 5), b -> struct(a, b)))),
            |  p -> struct(id * 1000 + p.a AS id_a,
            |              id * 1000 + p.b AS id_b))""".stripMargin)).as("e"))
        .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"))
      val edges = r1.unionByName(r2)
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .unionByName(farms).distinct()
      val truss = graft.operators.Dedup.kTruss(edges, k = 4, rounds = 6)
        .localCheckpoint()
      val total = truss.count()
      val farmEdges = truss.filter(
        col("id_a") % 1000 <= 5 && col("id_b") % 1000 <= 5 &&
          // rule 17: `/` on longs is DOUBLE division in both engines —
          // integer farm identity needs DIV
          expr("id_a DIV 1000") === expr("id_b DIV 1000") &&
          col("support") >= 4).count()
      val expected = (n / 1000) * 15
      println(s"[probe]   4-truss edges: $total " +
        s"(farm edges intact: $farmEdges/$expected)")
      require(farmEdges == expected,
        s"planted farms damaged: $farmEdges/$expected")
      require(total == expected,
        s"background edges leaked into the truss: ${total - expected}")
    }
    if (on("d69")) time("d69: semantic decontam, |bench|-bounded broadcast") {
      // r11 directive #3b: measure the economics the operator documents
      // — a 512-item benchmark (100× the gate's 5) BROADCASTS, the
      // corpus is scanned once with a |bench|-bounded per-doc argmax,
      // and nothing shuffles the pool. Planted: every 500th corpus
      // vector is a +0.004 perturbation of a bench vector (the
      // "paraphrase" the operator exists to catch — near-1 cosine, must
      // flag at 0.8); organic isotropic 64-dim vectors concentrate near
      // cos 0 (max over 512 benchs ≈ 0.45) and must never flag.
      val benchN = 512L
      val dims = sequence(lit(1), lit(64))
      def comp(seed: org.apache.spark.sql.Column) =
        (pmod(xxhash64(seed), lit(2000001L)).cast("double") / lit(1000000.0)
          - lit(1.0)).cast("float")
      val bench = spark.range(benchN).select(col("id").as("vec_id"),
        transform(dims, i => comp(col("id") * 64 + i)).as("embedding"))
      val organic = spark.range(n).filter(col("id") % 500 =!= 0)
        .select((col("id") + benchN).as("vec_id"),
          transform(dims, i => comp((col("id") + benchN) * 64 + i))
            .as("embedding"))
      val planted = spark.range(n).filter(col("id") % 500 === 0)
        .select((col("id") + benchN).as("vec_id"),
          // seed arithmetic stays LONG end to end (rule 19); the source
          // bench vector is (id DIV 500) mod benchN
          transform(dims, i =>
            (comp(pmod(expr("id DIV 500"), lit(benchN)) * 64 + i)
              + lit(0.004f)).cast("float")).as("embedding"))
      val emb = bench.unionByName(organic).unionByName(planted)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val res = graft.operators.Similarity
        .semanticDecontam(emb, benchMaxId = benchN, threshold = 0.8)
      val rows = res.collect()
      val dt = (System.nanoTime() - t0) / 1e9
      // broadcast economics, asserted on the SAME QueryExecution
      // (rule 8): the bench side must be a broadcast join, and no
      // SortMergeJoin may appear anywhere in the final plan
      val names = graft.tools.PlanInspect
        .nodes(res.queryExecution.executedPlan)
        .map(_.getClass.getSimpleName)
      require(names.exists(_.contains("BroadcastNestedLoopJoin")) ||
        names.exists(_.contains("BroadcastHashJoin")),
        s"bench side did not broadcast: ${names.distinct}")
      require(!names.exists(_.contains("SortMergeJoin")),
        s"corpus got shuffled into a sort-merge join: ${names.distinct}")
      val plantedRows = rows.filter(r => (r.getLong(0) - benchN) % 500 == 0)
      val organicFlagged = rows.count(r =>
        (r.getLong(0) - benchN) % 500 != 0 && r.getBoolean(3))
      println(f"[probe]   $dt%.1f s for ${rows.length} docs vs $benchN bench; " +
        s"planted flagged=${plantedRows.count(_.getBoolean(3))}/${plantedRows.length}, " +
        s"organic flagged=$organicFlagged")
      require(rows.length == n, s"per-doc argmax lost docs: ${rows.length}")
      require(plantedRows.forall(_.getBoolean(3)),
        "a planted paraphrase escaped the semantic flag")
      require(plantedRows.forall(r =>
        r.getLong(1) == pmodLong(((r.getLong(0) - benchN) / 500), benchN)),
        "a planted paraphrase matched the wrong bench item")
      require(organicFlagged == 0,
        s"organic vectors false-flagged: $organicFlagged")
      // d73: the LSH-shortlist path on the SAME corpus — measure the
      // speedup the shortlist buys and the recall it costs (planted
      // paraphrases sit at cos ≈ 1, where a probe-bit collision is
      // near-certain; organic vectors must stay unflagged)
      val t1 = System.nanoTime()
      val annRows = graft.operators.Similarity
        .semanticDecontamAnn(emb, benchMaxId = benchN, threshold = 0.8)
        .collect()
      val annDt = (System.nanoTime() - t1) / 1e9
      val annPlanted = annRows.filter(r => (r.getLong(0) - benchN) % 500 == 0)
      val annOrganic = annRows.count(r =>
        (r.getLong(0) - benchN) % 500 != 0 && r.getBoolean(3))
      println(f"[probe]   d73 ANN shortlist: $annDt%.1f s (dense was $dt%.1f s, " +
        f"${dt / annDt}%.1fx); planted flagged=" +
        s"${annPlanted.count(_.getBoolean(3))}/${annPlanted.length}, " +
        s"organic flagged=$annOrganic")
      require(annRows.length == n, s"ANN lost corpus rows: ${annRows.length}")
      require(annPlanted.forall(_.getBoolean(3)),
        "ANN shortlist missed a planted paraphrase (probe-bit recall broke)")
      require(annOrganic == 0, s"ANN false-flagged organics: $annOrganic")
    }
    if (on("q213")) time("q213: Kaplan–Meier life table ≡ driver enumeration") {
      // r11 directive #3c: the calendar-bounded-fold contract as a
      // measured number. nU users with constructed ages (u % 365 days,
      // first day u % 97) — the distributed life table AND the one-row
      // sequential S(t) product must equal a driver-side enumeration of
      // the same design BIT-FOR-BIT (the fold is ascending-age ordered,
      // so the double products are reproducible, not just close).
      val nU = math.max(35405L, n) // ensures the CRT user with gmax exists
      val users = spark.range(nU).select(col("id").as("user_id"),
        (col("id") % 97).as("f"),
        ((col("id") % 97) + (col("id") % 365)).as("l"))
      val ev = users.select(col("user_id"),
          timestamp_seconds(col("f") * 86400L).as("ts"))
        .unionByName(users.select(col("user_id"),
          timestamp_seconds(col("l") * 86400L).as("ts")))
        .localCheckpoint()
      val t0 = System.nanoTime()
      val km = graft.operators.EventAnalytics.kaplanMeier(ev)
        .collect()
      val dt = (System.nanoTime() - t0) / 1e9
      // driver enumeration: age = u % 365; censored iff last == gmax
      // (= 460: u ≡ 96 mod 97 AND u ≡ 364 mod 365, present since
      // nU ≥ 35405 by CRT)
      val deaths = new Array[Long](365); val cens = new Array[Long](365)
      var u = 0L
      while (u < nU) {
        val age = (u % 365).toInt
        if (u % 97 == 96 && age == 364) cens(age) += 1 else deaths(age) += 1
        u += 1
      }
      val atRisk = new Array[Long](365)
      atRisk(364) = deaths(364) + cens(364)
      for (k <- 363 to 0 by -1)
        atRisk(k) = atRisk(k + 1) + deaths(k) + cens(k)
      var acc = 1.0
      val expS = (0 until 365).map { k =>
        acc *= 1.0 - deaths(k).toDouble / atRisk(k).toDouble; acc
      }
      println(f"[probe]   $dt%.1f s, ${km.length} ages (calendar-bounded), " +
        f"S(364)=${km.last.getDouble(4)}%.6f")
      require(km.length == 365, s"age support not calendar-bounded: ${km.length}")
      km.foreach { r =>
        val k = r.getLong(0).toInt
        require(r.getLong(1) == atRisk(k) && r.getLong(2) == deaths(k) &&
          r.getLong(3) == cens(k),
          s"life table row diverged at age $k: $r vs " +
            s"(${atRisk(k)}, ${deaths(k)}, ${cens(k)})")
        require(r.getDouble(4) == expS(k), // bit-equal: same ordered fold
          s"S($k) fold diverged: ${r.getDouble(4)} vs ${expS(k)}")
      }
    }
    if (on("q214")) time("q214: ARI exact integer sums at volume") {
      // r11 directive #3c: the contingency-grain claim as numbers. Two
      // constructed partitions of n items — A = blocks of 4; B = A with
      // every id ≡ 0 (mod 97) split off as a singleton — have exactly
      // enumerable pair sums (97 > 4, so a block never loses two
      // members). The operator's DECIMAL(38,0) doubled sums and its
      // fixed double DAG must reproduce them exactly.
      val items = n - n % 4
      val a = spark.range(items).select(col("id").as("doc_id"),
        expr("id DIV 4").as("cluster_id"))
      val b = spark.range(items).select(col("id").as("doc_id"),
        when(col("id") % 97 === 0, col("id") + items)
          .otherwise(expr("id DIV 4")).as("cluster_id"))
      val t0 = System.nanoTime()
      val r = graft.operators.Curation.adjustedRandIndex(a, b).head()
      val dt = (System.nanoTime() - t0) / 1e9
      val nBlocks = items / 4
      val mult = (items - 1) / 97 + 1 // multiples of 97 in [0, items)
      val sij2 = (nBlocks - mult) * 12.0 + mult * 6.0
      val sa2 = nBlocks * 12.0
      val sb2 = sij2 // same composition: intact 4-blocks + 3-blocks
      val e = sa2 * sb2 / (items.toDouble * (items - 1))
      val denom = (sa2 + sb2) / 2.0 - e
      val ari = (sij2 - e) / denom
      println(f"[probe]   $dt%.1f s over $items items " +
        f"(${nBlocks + mult} B-clusters); ari=${r.getDouble(4)}%.12f " +
        f"expected=$ari%.12f")
      require(r.getLong(0) == items && r.getDouble(1) == sa2 &&
        r.getDouble(2) == sb2 && r.getDouble(3) == sij2,
        s"pair sums diverged: $r vs ($items, $sa2, $sb2, $sij2)")
      require(r.getDouble(4) == ari, // same double DAG, bit-equal
        s"ARI diverged: ${r.getDouble(4)} vs $ari")
    }
    spark.stop()
  }

  /** Floor-mod for the probe assertions (Scala % is sign-preserving). */
  private def pmodLong(x: Long, m: Long): Long = ((x % m) + m) % m
}
