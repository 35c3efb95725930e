package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.operators.Materialize.Ops

/** Deduplication operators over the documents table. The synthetic corpus
  * plants ~5% near-duplicate pairs (word-level perturbations), so the
  * fuzzy variants return real matches; exact variants demonstrate the
  * mechanism (the corpus has no byte-identical texts).
  */
object DedupQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "documents")

  val all: Seq[Q] = Seq(

    // exact dedup on the canonical (sorted-token) fingerprint
    Q("d36_dedup_exact", Some(
      """SELECT md5(array_to_string(list_sort(string_split_regex(trim(text), '\s+')), ' ')) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),
      (s, d) => Dedup.exactGroups(docs(s, d),
        TextFunctions.canonicalFingerprint(col("text")))),

    // dedup by key columns (keep lowest doc_id per (lang, source))
    Q("d37_dedup_bykey", Some(
      """SELECT lang, source, min(doc_id) AS keep_id FROM documents
        |GROUP BY lang, source ORDER BY lang, source, keep_id""".stripMargin),
      (s, d) => Dedup.byKey(docs(s, d), Seq("lang", "source"))),

    // MinHash + banded LSH in the canonical candidates→verify shape:
    // the bucket join proposes pairs, exact n-gram Jaccard confirms them.
    // Verification makes the output deterministic (no estimator), so it
    // takes the same brute-force oracle as d40 — and the hash match
    // additionally ASSERTS 100% LSH recall on the gate corpus (verified
    // at sf0.01 and sf0.1, 25/25 and 256/256 pairs; tools.RecallCheck).
    Q("d38_minhash_lsh", Some(ngramJaccardOracle),
      (s, d) => Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5,
        maxDf = 20)),

    // transitivity audit of the verified near-dup relation (d70): open
    // wedges vs closed triangles over the d38 pair set — the threshold-
    // QA readout for whether CC clustering (d44) is safe. Pairs from
    // the MinHash gate ⇒ brute-force pair oracle (rule 13).
    Q("d70_transitivity", Some(transitivityOracle),
      (s, d) => Dedup.transitivityAudit(
        Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20))),

    // per-source dedup-rate report (q219): the pipeline-dashboard
    // number — how much of each source the near-dup pass removes
    // (min-id survives its cluster; everything else in a cluster is
    // removed). Composes d44's CC with the source label; rule-13
    // oracle family (recursive-CC replay).
    Q("q219_dedup_rate_by_source", Some(
      s"""WITH RECURSIVE $dupClusterCtes
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN asg.cluster_id IS NOT NULL
         |    AND d.doc_id <> asg.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  CAST(sum(CASE WHEN asg.cluster_id IS NOT NULL
         |    AND d.doc_id <> asg.cluster_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS removal_rate
         |FROM documents d LEFT JOIN asg ON asg.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),
      (s, d) => {
        val dd = docs(s, d)
        val cc = Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(dd, threshold = 0.5, maxDf = 20))
        val removed = when(col("cluster_id").isNotNull &&
          col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L)
        dd.join(cc, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(removed).as("n_removed"))
          .select(col("source"), col("n_docs"), col("n_removed"),
            (col("n_removed").cast("double") / col("n_docs").cast("double"))
              .as("removal_rate"))
          .orderBy(col("source"))
      }),

    // per-cluster cohesion (d71): d70's closure rate localized — size,
    // internal edges, density per connected component. Same rule-13
    // oracle family (recursive-CC replay over the brute-force pairs).
    Q("d71_cluster_cohesion", Some(
      s"""WITH RECURSIVE $dupClusterCtes,
         |sz AS (SELECT cluster_id, count(*) AS size FROM asg GROUP BY 1),
         |eg AS (SELECT a.cluster_id, count(*) AS n_edges
         |       FROM pairs p JOIN asg a ON a.doc_id = p.id_a GROUP BY 1)
         |SELECT s.cluster_id, s.size, e.n_edges,
         |  CAST(2 * e.n_edges AS DOUBLE)
         |    / CAST(CAST(s.size AS HUGEINT) * (s.size - 1) AS DOUBLE)
         |    AS density
         |FROM sz s JOIN eg e USING (cluster_id)
         |ORDER BY s.cluster_id""".stripMargin),
      (s, d) => Dedup.clusterCohesion(
        Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20))),

    // SimHash near-dup pairs (bit-vote fingerprint, banded). Hamming ≤ 3:
    // unweighted simhash over a shared small vocabulary sits near the
    // false-positive cliff by ~6 bits, so the cut stays tight.
    // Gate queries run oracleHash mode: the per-word rolling-hash
    // polynomial replays in DuckDB HUGEINT (same replay as t35), so the
    // full pipeline — votes, fingerprint, banding, Hamming cut — is
    // hash-checked; the xxhash64 production default stays spec-tested.
    Q("d39_simhash", Some(simhashPairsOracle),
      (s, d) => Dedup.simhashPairs(docs(s, d), maxHamming = 3,
        oracleHash = true)),

    // set-SimHash fingerprints: distinct tokens vote once — repetition-
    // robust, unlike the tf-implicit occurrence voting of d39
    Q("d42_simhash_set", Some(simhashSetOracle),
      (s, d) => Dedup.simhashSet(docs(s, d), oracleHash = true)
        .orderBy(col("doc_id"))),

    // SimHash candidates→exact-verify. The oracle replays the ACTUAL
    // semantics — banded candidate generation (hamming ≤ 8) then exact
    // n-gram Jaccard ≥ 0.5 over the candidates — not the brute pair set
    // (4×16 banding provably misses high-Hamming near-dups, so brute
    // equality would be wrong to assert).
    Q("d43_simhash_verified", Some(simhashVerifiedOracle),
      (s, d) => Dedup.simhashVerifiedPairs(docs(s, d), maxHamming = 8,
        maxDf = 20, oracleHash = true)),

    // exact n-gram Jaccard pairs — fully SQL-expressible, oracled
    Q("d40_ngram_jaccard", Some(ngramJaccardOracle),
      // maxDf=20: the inverted-index join costs Σ df² per shingle, so the
      // DF cap is the whole ballgame at scale — 20 here ≈ 0.4% of the
      // sf0.1 corpus, the usual boilerplate-shingle cutoff.
      (s, d) => Dedup.ngramJaccardPairs(docs(s, d), n = 3, threshold = 0.5,
        maxDf = 20)),

    // prefix-filtered EXACT similarity join (PPJoin family): rare-first
    // global shingle order, each doc indexes only its sz−⌈t·sz⌉+1 rarest
    // shingles, candidates verified on full sets. LOSSLESS by the
    // prefix-filtering theorem, so the oracle is the plain UNCAPPED
    // brute force — the hash match proves output identity, not recall.
    // Threshold rides the integer inequality 3·inter ≥ sz_a+sz_b
    // (t = 1/2); jaccard is one int/int double division (rule 17).
    Q("d57_prefix_join", Some(prefixJoinOracle),
      (s, d) => Dedup.prefixJaccardJoin(docs(s, d), n = 3,
        thresholdNum = 1, thresholdDen = 2)),

    // exact n-gram CONTAINMENT (Broder 1997's asymmetric measure): one
    // row per ordered (contained, container) pair with
    // den·inter ≥ num·sz on the CONTAINED side only — the doc-in-doc
    // signal Jaccard misses. Same df≤20 cap as d40, replayed by the
    // shared CTEs; containment is one int/int double division.
    Q("d58_containment", Some(containmentOracle),
      (s, d) => Dedup.containmentPairs(docs(s, d), n = 3,
        thresholdNum = 1, thresholdDen = 2, maxDf = 20)),

    // dedup-effect datasheet (q200): the q199 corpus summary BEFORE and
    // AFTER cluster dedup (keep the min-id doc per d44 component,
    // singletons kept) — the before/after row a dedup run reports.
    // Survivorship falls out of the CC labels (cluster_id IS the min
    // member id, so survivor ⟺ doc_id = cluster_id); pair set under
    // the brute-force oracle (rule 13).
    Q("q200_dedup_datasheet", Some(dedupDatasheetOracle),
      (s, d) => {
        val dd = docs(s, d)
        val cc = Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(dd, threshold = 0.5, maxDf = 20))
        val kept = dd.join(cc, Seq("doc_id"), "left")
          .filter(col("cluster_id").isNull ||
            col("cluster_id") === col("doc_id"))
          .select(dd.columns.map(col): _*)
        def sheet(stage: String, t: org.apache.spark.sql.DataFrame) = {
          val tk = t.select(explode(
            graft.functions.TextFunctions.tokens(col("text"))).as("w"))
            .filter(col("w") =!= "")
          t.agg(count(lit(1)).as("n_docs"))
            .crossJoin(broadcast(tk.agg(count(lit(1)).as("n_tokens"),
              countDistinct(col("w")).as("n_types"))))
            .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"),
              col("n_types"),
              (col("n_tokens").cast("double") / col("n_docs").cast("double"))
                .as("mean_doc_tokens"))
        }
        sheet("1_raw", dd).unionByName(sheet("2_deduped", kept))
          .orderBy(col("stage"))
      }),

    // band-count S-curve (d61): the third LSH knob table — candidates,
    // verified (exact J ≥ 1/2) and precision for (2×8), (4×4), (8×2)
    // bandings of the SAME 16-draw ring signature. One shingle explode
    // and one signature build feed every configuration; precision is
    // one exact division.
    Q("d61_band_curve", Some(bandCurveOracle),
      (s, d) => Dedup.bandCurve(docs(s, d))),

    // winnowing fingerprint pairs (d62): the MOSS algorithm (Schleimer
    // et al. SIGMOD'03) — min-hash-per-window fingerprints at ~2/(w+1)
    // density with the ≥ w+k−1 shared-run guarantee, pairs via the
    // df-capped inverted index. Gate runs the HUGEINT-replayable
    // polynomial hash (rule 12); xxhash64 production default under
    // DedupSpec (the sampling is hash-dependent, the shared-run
    // guarantee is not). The oracle replays window minima positionally.
    Q("d62_winnowing", Some(winnowingOracle),
      (s, d) => Dedup.winnowingPairs(docs(s, d), oracleHash = true)),

    // Fellegi–Sunter record-linkage score histogram (d63): integer
    // agreement weights per field over nation-blocked customer pairs —
    // the table a practitioner reads to place the match/non-match
    // thresholds. Fields and weights interpolate from ONE Scala list
    // into both engines (rule 12); blocks over maxBlock are skipped on
    // both sides (the capBuckets contract).
    Q("d63_record_linkage", Some(recordLinkageOracle),
      (s, d) => graft.operators.Linkage.fellegiSunterHistogram(
        graft.Tables.load(s, d, "customer"),
        id = col("c_custkey"), block = col("c_nationkey"),
        fields = fsFields.map { case (e, _, wa, wd) =>
          graft.operators.Linkage.FieldWeight(expr(e), wa, wd) },
        maxBlock = fsMaxBlock)),

    // blocking-quality audit (d64): pair completeness + reduction ratio
    // (Christen's metrics) of q160's n_chars-bucket blocking key,
    // against the LOSSLESS exact-Jaccard truth (d57's prefix join —
    // no cap, no LSH recall caveat). Candidate counts come from block
    // SIZES, never pair enumeration; both ratios are single divisions
    // of exact integers.
    Q("d64_blocking_audit", Some(blockingAuditOracle),
      (s, d) => graft.operators.Linkage.blockingAudit(
        Dedup.prefixJaccardJoin(docs(s, d)).select(col("id_a"), col("id_b")),
        docs(s, d).select(col("doc_id"),
          expr(s"n_chars DIV $snmWidth").as("bk")))),

    // shingle-size sensitivity curve (d60): the s60-style tuning table
    // for dedup — exact-Jaccard pairs found at shingle n ∈ {2,3,5}
    // (same 0.5 threshold, same df≤20 cap), with the mean similarity
    // floor-scaled before summation (rule 17). One row per knob value:
    // the table a user reads before picking d38's shingle width.
    Q("d60_shingle_curve", Some(shingleCurveOracle),
      (s, d) => {
        // one corpus scan + tokenize shared by all three shingle widths
        // (r14: the three knob arms re-read and re-split the text —
        // the only part of the sweep that doesn't depend on n)
        val toks = Dedup.tokensTable(docs(s, d)).materializeOnce()
        Seq(2, 3, 5).map { n =>
          graft.operators.Dedup.ngramJaccardPairsFromToks(toks, n = n,
            threshold = 0.5, maxDf = 20)
            .agg(count(lit(1)).as("n_pairs"),
              sum(floor(col("jaccard") * 1000000L).cast("long")).as("s6"))
            .select(lit(n.toLong).as("n_shingle"), col("n_pairs"),
              coalesce(col("s6"), lit(0L)).as("sum_j6"),
              when(col("n_pairs") === 0, lit(0.0))
                .otherwise(coalesce(col("s6"), lit(0L)).cast("double")
                  / (col("n_pairs") * lit(1000000L)).cast("double"))
                .as("mean_j"))
        }.reduce(_ unionByName _).orderBy(col("n_shingle"))
      }),

    // cluster-level train/val split (q198): the FIX for what q134's
    // leakage audit measures — whole dup-clusters (singletons = their
    // own cluster) hash to one side, so cross-split near-dup pairs are
    // structurally zero, and the query COMPUTES that zero through the
    // pair×assignment join rather than assuming it. Pair set under the
    // brute-force oracle (rule 13, same validity as d44).
    Q("q198_cluster_split", Some(clusterSplitOracle),
      (s, d) => {
        val dd = docs(s, d)
        val pairs = Dedup.minhashVerifiedPairs(dd, threshold = 0.5,
          maxDf = 20).select(col("id_a"), col("id_b"))
          .materializeOnce() // feeds CC AND the leak check
        val cc = Dedup.connectedComponents(pairs)
        val asg = dd.select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cl"))
          .withColumn("split",
            when(pmod(col("cl"), lit(10L)) < 8, "train").otherwise("val"))
          .materializeOnce() // feeds the rollup AND both leak joins
        val leaked = pairs
          .join(asg.select(col("doc_id").as("id_a"), col("split").as("sa")),
            Seq("id_a"))
          .join(asg.select(col("doc_id").as("id_b"), col("split").as("sb")),
            Seq("id_b"))
          .filter(col("sa") =!= col("sb"))
          .agg(count(lit(1)).as("leaked_pairs"))
        asg.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cl")).as("n_clusters"))
          .crossJoin(broadcast(leaked))
          .orderBy(col("split"))
      }),

    // MinHash ESTIMATOR calibration (d59): per banded candidate pair,
    // the signature estimate m/k next to exact Jaccard, per-bucket —
    // the approximation contract as a measured table. The ENTIRE
    // pipeline (polynomial shingle hash, affine draws in the wrapping
    // 64-bit ring, signed-order mins, band-fold keys) replays in DuckDB
    // HUGEINT from the same Scala constants (rule 12); exact J
    // floor-scales to 1e-6 units before summation (rule 17).
    Q("d59_minhash_calibration", Some(minhashCalOracle),
      (s, d) => Dedup.minhashCalibration(docs(s, d))),

    // duplicate CLUSTERS: connected components over the verified pair
    // set (transitive closure — A~B~C collapses even without an A~C
    // pair). Spark runs distributed min-label propagation; the oracle
    // replays reachability with a recursive CTE.
    Q("d44_dup_clusters", Some(dupClustersOracle),
      (s, d) => Dedup.connectedComponents(
        Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20))
        .orderBy(col("doc_id"))),

    // corpus growth curve (d66): cumulative distinct shingles vs
    // ingest order at ten rank deciles — the Heaps-law saturation
    // signal ("is this source mined out"). First-seen exact; ranks via
    // Prefix.cumsum; the 10-row cumulative is a triangular self-join,
    // not a window (rule 23 applied to the operator's own output).
    Q("d66_growth_curve", Some(
      s"""WITH $ngramShingleCte,
         |fs AS MATERIALIZED (SELECT sh, min(doc_id) AS fd FROM ex GROUP BY sh),
         |r AS MATERIALIZED (
         |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rk
         |  FROM documents),
         |nn AS (SELECT count(*) AS n FROM documents),
         |dec AS (SELECT doc_id, ((rk - 1) * 10) // n AS decile FROM r, nn),
         |cnt AS (SELECT d.decile, count(*) AS new_shingles
         |        FROM fs JOIN dec d ON d.doc_id = fs.fd GROUP BY 1),
         |filled AS MATERIALIZED (
         |  SELECT g.d AS decile,
         |         CAST(coalesce(cnt.new_shingles, 0) AS BIGINT) AS new_shingles
         |  FROM (SELECT unnest(range(0, 10)) AS d) g
         |  LEFT JOIN cnt ON cnt.decile = g.d)
         |SELECT a.decile, a.new_shingles,
         |  CAST(sum(b.new_shingles) AS BIGINT) AS cum_shingles
         |FROM filled a JOIN filled b ON b.decile <= a.decile
         |GROUP BY a.decile, a.new_shingles
         |ORDER BY a.decile""".stripMargin),
      (s, d) => Dedup.growthCurve(docs(s, d), n = 3)),

    // content-defined chunking dedup (d68): the chunk-store view — each
    // doc split at rolling-hash boundaries (rsync/LBFS CDC, so chunks
    // self-synchronize across insertions), per-doc count/token-fraction
    // of chunks already present elsewhere in the corpus store. Gate
    // runs the HUGEINT-replayable polynomial (rule 12); production
    // defaults to xxhash64 under CdcSpec, where the self-sync
    // invariant (edit locality) is pinned hash-agnostically.
    Q("d68_cdc_chunks", Some(cdcChunkOracle),
      (s, d) => Dedup.cdcChunkStats(docs(s, d), oracleHash = true)),

    // dedup-definition agreement (q214): Adjusted Rand Index between
    // the MinHash-Jaccard clustering (d44's partition) and the
    // winnowing-fingerprint clustering (d62's pairs through the same
    // CC), singletons completed as their own clusters — the QA table
    // for "do my two duplicate definitions agree". MinHash pairs under
    // the rule-13 brute-force oracle; winnowing replayed positionally;
    // doubled DECIMAL pair sums (rule 18); the degenerate all-singleton
    // denominator pins to ARI = 1 behind a lazy CaseWhen (rule 21a).
    Q("q214_cluster_agreement", Some(clusterAgreementOracle),
      (s, d) => {
        val dd = docs(s, d)
        def complete(cc: org.apache.spark.sql.DataFrame) =
          dd.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        val mh = Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(dd, threshold = 0.5, maxDf = 20)
            .select(col("id_a"), col("id_b")))
        val wn = Dedup.connectedComponents(
          Dedup.winnowingPairs(dd, oracleHash = true)
            .select(col("id_a"), col("id_b")))
        graft.operators.Curation.adjustedRandIndex(complete(mh), complete(wn))
      }),

    // cross-source duplication matrix (q211): which source is
    // mirroring which — per unordered source pair, clusters spanning
    // both and the cross-source near-dup pair count (diagonal =
    // within-source duplication). Membership collapses to
    // (cluster, source) grain first, so no per-cluster quadratic;
    // doubled decimal pair counts, one exact final /2 (rule 21a).
    // Rule 13 pair set; oracle extends the d44 recursive-CC replay.
    Q("q211_cross_source_dups", Some(
      s"""WITH RECURSIVE $dupClusterCtes,
         |mem AS MATERIALIZED (
         |        SELECT a.cluster_id, d.source, count(*) AS c
         |        FROM asg a JOIN documents d USING (doc_id) GROUP BY 1, 2)
         |SELECT m1.source AS src_a, m2.source AS src_b,
         |  count(*) AS n_clusters,
         |  CAST(sum(CASE WHEN m1.source = m2.source
         |         THEN CAST(m1.c AS HUGEINT) * (m1.c - 1)
         |         ELSE CAST(m1.c AS HUGEINT) * m2.c * 2 END) // 2 AS BIGINT)
         |    AS n_pairs
         |FROM mem m1 JOIN mem m2
         |  ON m1.cluster_id = m2.cluster_id AND m1.source <= m2.source
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin),
      (s, d) => Dedup.crossSourceDups(docs(s, d),
        Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20))),

    // incremental clusters (d56): the dup GRAPH's index-not-recompute
    // edition — a prior run's (doc_id, cluster_id) assignment is
    // star-compressed into doc→label edges and only TODAY'S new pairs
    // are added before re-labeling. CC(star(CC(A)) ∪ B) = CC(A ∪ B)
    // (union-find path compression as a theorem), so the gate
    // hash-matches the FULL-RECOMPUTE oracle verbatim — the strongest
    // form of store ≡ recompute. Rule 13 applies (minhash pair set
    // under the brute-force oracle).
    Q("d56_incremental_clusters", Some(dupClustersOracle),
      (s, d) => {
        val pairs = Dedup
          .minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20)
          .materializeOnce() // split into old/new below (rule 5)
        val isOld = col("id_a") % 10 =!= 9 && col("id_b") % 10 =!= 9
        val prior = Dedup.connectedComponents(pairs.filter(isOld))
        Dedup.mergeIncrementalClusters(prior, pairs.filter(!isOld))
          .orderBy(col("doc_id"))
      }),

    // split-leakage audit: near-duplicate pairs that straddle the
    // train/val/test assignment — the contamination mode that silently
    // inflates eval scores. Composes the verified MinHash pair set with
    // the deterministic hash split (both existing operators); the pair
    // endpoints' splits are normalized least/greatest so each leak
    // counts once. Oracle: exact-Jaccard pair CTEs (valid while LSH
    // recall is 100% — rule 13, same contract as d44).
    Q("q134_split_leakage", Some(
      s"""WITH $ngramPairCtes,
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |sp AS (
         |  SELECT CASE WHEN (id_a * 104729) % 100 < 80 THEN 'train'
         |              WHEN (id_a * 104729) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS sa,
         |         CASE WHEN (id_b * 104729) % 100 < 80 THEN 'train'
         |              WHEN (id_b * 104729) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS sb
         |  FROM pairs)
         |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
         |       count(*) AS n_leaks
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, d) => {
        import graft.operators.Sampling
        def splitOf(c: org.apache.spark.sql.Column) =
          when(Sampling.hashBucket(c, 100) < 80, "train")
            .when(Sampling.hashBucket(c, 100) < 90, "val")
            .otherwise("test")
        Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20)
          .select(splitOf(col("id_a")).as("sa"), splitOf(col("id_b")).as("sb"))
          .select(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_leaks"))
          .orderBy(col("split_a"), col("split_b"))
      }),

    // split decontamination — the FIX for what q134 audits: drop every
    // val/test document near-dup with ANY train document (train keeps
    // its copy; eval must not see it). One anti-join of the eval side
    // against the train-contaminated endpoint set; per-split summary.
    Q("q139_decontaminate_splits", Some(
      s"""WITH $ngramPairCtes,
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |sp AS (SELECT doc_id,
         |         CASE WHEN (doc_id * 104729) % 100 < 80 THEN 'train'
         |              WHEN (doc_id * 104729) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM documents),
         |sym AS (SELECT id_a AS v, id_b AS o FROM pairs
         |        UNION ALL SELECT id_b, id_a FROM pairs),
         |bad AS (
         |  SELECT DISTINCT s.v AS doc_id
         |  FROM sym s
         |  JOIN sp pv ON pv.doc_id = s.v
         |  JOIN sp po ON po.doc_id = s.o
         |  WHERE po.split = 'train' AND pv.split <> 'train')
         |SELECT split, count(*) AS n_total,
         |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM bad))
         |    AS BIGINT) AS n_dropped,
         |  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM bad))
         |    AS BIGINT) AS n_kept
         |FROM sp WHERE split <> 'train'
         |GROUP BY split ORDER BY split""".stripMargin),
      (s, d) => {
        import graft.operators.Sampling
        def splitOf(c: org.apache.spark.sql.Column) =
          when(Sampling.hashBucket(c, 100) < 80, "train")
            .when(Sampling.hashBucket(c, 100) < 90, "val")
            .otherwise("test")
        val pairs = Dedup
          .minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20)
          .select(col("id_a"), col("id_b"))
        val sym = pairs.select(explode(array(
            struct(col("id_a").as("v"), col("id_b").as("o")),
            struct(col("id_b").as("v"), col("id_a").as("o")))).as("e"))
          .select(col("e.v").as("v"), col("e.o").as("o"))
        val bad = sym
          .filter(splitOf(col("o")) === "train" && splitOf(col("v")) =!= "train")
          .select(col("v").as("doc_id")).distinct()
        docs(s, d).select(col("doc_id"), splitOf(col("doc_id")).as("split"))
          .filter(col("split") =!= "train")
          .join(bad.withColumn("bad", lit(true)), Seq("doc_id"), "left")
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_total"),
            count(col("bad")).cast("bigint").as("n_dropped"),
            count(when(col("bad").isNull, 1)).cast("bigint").as("n_kept"))
          .orderBy(col("split"))
      }),

    // survivor selection: per duplicate cluster keep the highest-QUALITY
    // member (not the lowest id) — the policy real corpus builds use.
    // Composes connectedComponents with the quality score; one window
    // over (cluster_id) picks the survivor.
    Q("d46_cluster_survivors",
      Some("WITH RECURSIVE " + ngramPairCtes + ",\n" +
        """|pairs AS (
           |  SELECT id_a, id_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
           |edges AS (
           |  SELECT id_a AS s, id_b AS d FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |walk(id, lbl) AS (
           |  SELECT s, s FROM edges
           |  UNION
           |  SELECT e.s, w.lbl FROM edges e JOIN walk w ON w.id = e.d),
           |cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id
           |       FROM walk GROUP BY id),
           |scored AS (
           |  SELECT doc_id,
           |    round(
           |      least(length(text) / 500.0, 1.0) * 0.4
           |      + least(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
           |            x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
           |          / len(string_split_regex(trim(text), '\s+')) * 5.0, 1.0) * 0.4
           |      + (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
           |          / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE), 1.0)) * 0.2,
           |      6) AS quality
           |  FROM documents),
           |ranked AS (
           |  SELECT cc.cluster_id, cc.doc_id, s.quality,
           |         row_number() OVER (PARTITION BY cc.cluster_id
           |                            ORDER BY s.quality DESC, cc.doc_id) AS rn,
           |         count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
           |  FROM cc JOIN scored s ON s.doc_id = cc.doc_id)
           |SELECT cluster_id, doc_id AS keep_id, quality, n_members
           |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cc = Dedup.connectedComponents(
          Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20))
        val scored = docs(s, d).select(col("doc_id"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id"))
        val wc = Window.partitionBy(col("cluster_id"))
        cc.join(scored, Seq("doc_id"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members", count(lit(1)).over(wc))
          .filter(col("rn") === 1)
          .select(col("cluster_id"), col("doc_id").as("keep_id"),
            col("quality"), col("n_members"))
          .orderBy(col("cluster_id"))
      }),

    // incremental (daily-ingest) dedup: docs with id % 10 == 9 play the
    // incoming batch, the rest the settled corpus; each batch doc is
    // kept or dropped with a reason (corpus_dup > batch_dup > unique).
    // Same LSH-pairs-with-brute-oracle contract as d38 (100% recall,
    // tools.RecallCheck).
    Q("d47_incremental_dedup", Some(incrementalOracle),
      (s, d) => Dedup.incrementalDedup(docs(s, d),
        col("doc_id") % 10 === 9, threshold = 0.5, maxDf = 20)),

    // the PERSISTED-INDEX form of d47 — the actual 100 TB daily-ingest
    // pattern: the settled corpus is indexed ONCE (Staging writes the
    // MinHash signature/shingle/df store per JVM, standing in for a
    // prior run's output) and each batch dedups against the store —
    // corpus text never re-read, corpus signatures never recomputed.
    // Output is identical to d47 by construction (SignatureStoreSpec
    // asserts equality), so it shares d47's oracle verbatim: same
    // brute-force contract, same rule-13 recall dependency.
    Q("d53_store_incremental", Some(incrementalOracle),
      (s, d) => Dedup.dedupBatchAgainstStore(s,
        docs(s, d).filter(col("doc_id") % 10 === 9),
        Staging.signatureStoreDir(s, d), threshold = 0.5, maxDf = 20)),

    // streaming dedup-on-ingest (q153): the FULL store loop as a
    // stream — two document batches arrive as files, each micro-batch
    // dedups against the persisted store inside foreachBatch and folds
    // its survivors back in, so batch 1 sees batch 0's keepers as
    // settled corpus. Every stage rebuilt fresh per invocation (the
    // stream MUTATES the store, so nothing can be cached), over a
    // bounded doc_id < 1000 subset so the cost stays flat as SF grows.
    // The oracle replays both days' decisions from the brute-force pair
    // set: day-2 corpus membership = day-0 docs + day-1 KEEPERS only
    // (a pair with a day-1 dropped duplicate counts for nothing —
    // exactly the store's behavior, since dropped docs are never
    // appended). Same rule-13 recall dependency as d38/d53.
    Q("q153_stream_ingest_dedup", Some(ingestLoopOracle),
      (s, d) => {
        val all = docs(s, d).filter(col("doc_id") < ingestMaxDocId)
        val root = Staging.tempDir("graft_q153")
        val store = s"$root/store"
        Dedup.writeSignatureStore(
          all.filter(col("doc_id") % 10 =!= 8 && col("doc_id") % 10 =!= 9), store)
        val in = s"$root/in"
        Staging.stageFrames(Seq(8, 9).map(m => all.filter(col("doc_id") % 10 === m)), in)
        val sink = s"$root/sink"
        val q = graft.streaming.IngestDedup.start(s, in, store, sink,
          threshold = 0.5, maxDf = 20)
        try q.processAllAvailable() finally q.stop()
        Seq(0, 1).map(i =>
            s.read.parquet(s"$sink/decisions/batch_$i")
              .withColumn("batch_id", lit(i.toLong)))
          .reduce(_.unionByName(_))
          .select(col("batch_id"), col("doc_id"), col("keep"), col("reason"))
          .orderBy(col("batch_id"), col("doc_id"))
      }),

    // streaming decontam-on-ingest (q158): d54's bloom → exact-verify
    // check run at the door — two document batches arrive as files,
    // each micro-batch is checked against the ONCE-settled benchmark
    // shingle set (docs 0-4) inside foreachBatch, contaminated docs
    // land in batchId-keyed flag sinks. Stateless across batches
    // (unlike q153 no store fold-back), bounded doc_id subset so cost
    // stays flat as SF grows. The oracle replays both batches' flags
    // from the exact join — valid because the bloom phase is
    // performance-only (d54's contract).
    Q("q158_stream_decontam", Some(
      s"""WITH ${ngramShingleCteFor(s"(SELECT * FROM documents WHERE doc_id < $ingestMaxDocId)")},
         |bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id IN ($benchIdsSql)),
         |b AS (SELECT doc_id, doc_id % 10 - 8 AS batch_id, sh FROM ex
         |      WHERE doc_id % 10 IN (8, 9)),
         |sizes AS (SELECT batch_id, doc_id, count(*) AS n_shingles
         |          FROM b GROUP BY 1, 2),
         |ov AS (SELECT b.batch_id, b.doc_id, count(*) AS n_overlap
         |       FROM b JOIN bench USING (sh) GROUP BY 1, 2)
         |SELECT s.batch_id, s.doc_id, s.n_shingles, ov.n_overlap,
         |       CAST(ov.n_overlap AS DOUBLE)
         |         / CAST(s.n_shingles AS DOUBLE) AS rate
         |FROM sizes s
         |JOIN ov ON s.batch_id = ov.batch_id AND s.doc_id = ov.doc_id
         |ORDER BY s.batch_id, s.doc_id""".stripMargin),
      (s, d) => {
        val all = docs(s, d).filter(col("doc_id") < ingestMaxDocId)
        val root = Staging.tempDir("graft_q158")
        val in = s"$root/in"
        Staging.stageFrames(Seq(8, 9).map(m => all.filter(col("doc_id") % 10 === m)), in)
        val sink = s"$root/sink"
        val q = graft.streaming.IngestDecontam.start(
          s, in, all.filter(col("doc_id").isInCollection(benchIds)), sink)
        try q.processAllAvailable() finally q.stop()
        Seq(0, 1).map(i =>
            s.read.parquet(s"$sink/flags/batch_$i")
              .withColumn("batch_id", lit(i.toLong)))
          .reduce(_.unionByName(_))
          .select(col("batch_id"), col("doc_id"), col("n_shingles"),
            col("n_overlap"), col("rate"))
          .orderBy(col("batch_id"), col("doc_id"))
      }),

    // substring-level dedup (Lee et al. ACL 2022): per-document counts of
    // 10-token windows that occur anywhere else in the corpus. Windows
    // compare by 64-bit hash (8 bytes/window through the shuffle at any
    // scale); the gate runs the DuckDB-replayable polynomial hash, with
    // xxhash64 the production default under spec.
    Q("d49_substring_spans", Some(substringSpanOracle),
      (s, d) => Dedup.duplicatedSpanStats(docs(s, d), n = 10,
        oracleHash = true)),

    // per-document novelty: fraction of a doc's distinct 3-gram shingles
    // first seen (lowest doc_id) in that doc — the corpus-growth signal
    Q("d50_novelty", Some(noveltyOracle),
      (s, d) => Dedup.noveltyScores(docs(s, d), n = 3)),

    // longest shared token run per verified near-dup pair (d65): the
    // "how much is copied" alignment diagnostic — a quote, a template
    // header, and a wholesale copy all pass a Jaccard threshold; the
    // longest consecutive diagonal run of matching positional k-token
    // windows (+k−1) tells them apart. Pairs from the MinHash gate
    // (rule 13: brute-force oracle, valid at 100% recall).
    Q("d65_shared_spans", Some(sharedSpansOracle),
      (s, d) => Dedup.sharedSpans(docs(s, d),
        Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.5, maxDf = 20),
        k = 3)),

    // the removal half of substring dedup: documents rewritten with every
    // corpus-duplicated 10-token span cut out (token survives iff no
    // duplicated window covers its position)
    Q("d51_span_removal", Some(spanRemovalOracle),
      (s, d) => Dedup.removeDuplicatedSpans(docs(s, d), n = 10,
        oracleHash = true)),

    // benchmark-contamination check (decontamination): per-document
    // overlap of 3-gram shingles against the shingle set of docs 0-4
    // (standing in for an eval set)
    Q("d45_contamination", Some(
      s"""WITH $ngramShingleCte,
         |bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id IN ($benchIdsSql)),
         |corpus AS (SELECT * FROM ex WHERE doc_id NOT IN ($benchIdsSql)),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
         |ov AS (SELECT c.doc_id, count(*) AS n_overlap
         |       FROM corpus c JOIN bench b ON c.sh = b.sh GROUP BY c.doc_id)
         |SELECT s.doc_id, s.n_shingles,
         |       coalesce(ov.n_overlap, 0) AS n_overlap,
         |       CAST(coalesce(ov.n_overlap, 0) AS DOUBLE)
         |         / CAST(s.n_shingles AS DOUBLE) AS rate
         |FROM sizes s LEFT JOIN ov ON s.doc_id = ov.doc_id
         |ORDER BY s.doc_id""".stripMargin),
      (s, d) => Dedup.contaminationCheck(docs(s, d), benchIds)),

    // decontamination via broadcast-bloom prefilter → exact verify
    // (d54): the 100 TB shape of d45. The bloom phase is performance-
    // only (no false negatives; string-join verify kills every false
    // positive), so the oracle is the EXACT join — no sketch replay
    // needed, same reasoning as q82's bloom join. Output = contaminated
    // docs only (the removal list).
    Q("d54_bloom_decontam", Some(
      s"""WITH $ngramShingleCte,
         |bench AS (SELECT DISTINCT sh FROM ex WHERE doc_id IN ($benchIdsSql)),
         |corpus AS (SELECT * FROM ex WHERE doc_id NOT IN ($benchIdsSql)),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
         |ov AS (SELECT c.doc_id, count(*) AS n_overlap
         |       FROM corpus c JOIN bench b ON c.sh = b.sh GROUP BY c.doc_id)
         |SELECT s.doc_id, s.n_shingles, ov.n_overlap,
         |       CAST(ov.n_overlap AS DOUBLE)
         |         / CAST(s.n_shingles AS DOUBLE) AS rate
         |FROM sizes s JOIN ov ON s.doc_id = ov.doc_id
         |ORDER BY s.doc_id""".stripMargin),
      (s, d) => Dedup.bloomDecontaminate(docs(s, d), benchIds)),

    // pairwise source-overlap matrix (d55): distinct-shingle Jaccard
    // between every pair of sources — the mixture-design diagnostic.
    // The shingle CTE mirrors ngramShingleCteFor verbatim but keyed by
    // source, with an outer DISTINCT because many docs share a source.
    Q("d55_source_overlap", Some(
      """WITH exs AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, unnest(list_distinct(sh_list)) AS sh FROM (
        |      SELECT source,
        |        list_transform(range(1, greatest(len(w) - 3, 0) + 2),
        |                       i -> array_to_string(w[i:i+2], ' ')) AS sh_list
        |      FROM (SELECT source, string_split_regex(trim(text), '\s+') AS w
        |            FROM documents)))
        |  WHERE sh <> ''),
        |sizes AS (SELECT source, count(*) AS sz FROM exs GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM exs a JOIN exs b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, sa.sz AS sz_a, sb.sz AS sz_b, i.inter,
        |       CAST(i.inter AS DOUBLE)
        |         / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.source = i.src_a
        |JOIN sizes sb ON sb.source = i.src_b
        |ORDER BY i.src_a, i.src_b""".stripMargin),
      (s, d) => Dedup.sourceOverlap(docs(s, d))),

    // approximate string join: rare-q-gram candidates (df-capped
    // inverted index, length filter) verified by exact Levenshtein.
    // The oracle replays the ACTUAL capped semantics, like d43 — no
    // recall assumption. Supplier names differ in digit positions, so
    // near pairs concentrate exactly where the rare grams are.
    Q("d52_editdist_join", Some(
      s"""WITH $editDistCtes
        |SELECT id_a, id_b, CAST(levenshtein(sa, sb) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(sa, sb) <= 2
        |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => graft.operators.StringSim.editDistanceJoin(
        graft.Tables.load(s, d, "supplier"), "s_suppkey", "s_name",
        maxDist = 2, q = 3, maxDf = 20)),

    // entity-resolution golden record (q164): d52's typo-tolerant
    // candidate pairs → connected components → one canonical record
    // per multi-member cluster (min key, its name, member count) —
    // the record-linkage merge worklist. The oracle composes the d52
    // CTEs with the d44-style recursive reachability walk verbatim.
    Q("q164_entity_resolution", Some(
      s"""WITH RECURSIVE $editDistCtes,
        |pairs AS (
        |  SELECT id_a, id_b FROM cand WHERE levenshtein(sa, sb) <= 2),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |walk(id, lbl) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT e.s, w.lbl FROM edges e JOIN walk w ON w.id = e.d),
        |cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
        |gold AS (SELECT cluster_id, min(id) AS canonical_id,
        |           count(*) AS n_members
        |         FROM cc GROUP BY cluster_id)
        |SELECT g.cluster_id, g.canonical_id, s.s_name AS canonical_name,
        |  g.n_members
        |FROM gold g JOIN supplier s ON s.s_suppkey = g.canonical_id
        |ORDER BY g.cluster_id""".stripMargin),
      (s, d) => {
        val sup = graft.Tables.load(s, d, "supplier")
        val pairs = graft.operators.StringSim.editDistanceJoin(
          sup, "s_suppkey", "s_name", maxDist = 2, q = 3, maxDf = 20)
          .select(col("id_a"), col("id_b"))
        graft.operators.Dedup.connectedComponents(pairs)
          .groupBy(col("cluster_id"))
          .agg(min(col("doc_id")).as("canonical_id"),
            count(lit(1)).as("n_members"))
          .join(sup.select(col("s_suppkey").as("canonical_id"),
            col("s_name").as("canonical_name")), Seq("canonical_id"))
          .select(col("cluster_id"), col("canonical_id"),
            col("canonical_name"), col("n_members"))
          .orderBy(col("cluster_id"))
      }),

    // multi-pass sorted-neighborhood dedup (q160): the Hernández-Stolfo
    // blocking classic — sort-key (n_chars) buckets, per-bucket sliding
    // window of leads, exact shingle-Jaccard verify with the INTEGER
    // threshold 2·inter ≥ union. Two passes with half-width-shifted
    // buckets recover cross-boundary neighbors; no global sort anywhere.
    // The oracle replays both passes' partitioned windows verbatim.
    Q("q160_sorted_neighborhood", Some(snmOracle),
      (s, d) => graft.operators.Dedup.sortedNeighborhoodPairs(
        docs(s, d), window = snmWindow, width = snmWidth))
  )

  /** q160's window/bucket constants — one definition, two engines. */
  private lazy val snmWindow: Int = 4
  private lazy val snmWidth: Long = 32L

  /** d44/d56 shared oracle: brute-force exact-Jaccard pairs (valid
    * while MinHash recall is 100% — rule 13) + the recursive
    * reachability walk. d56 shares it VERBATIM because incremental
    * merge over star-compressed prior labels provably equals the full
    * recompute. */
  /** Brute-force pairs → recursive reachability → min-label assignment,
    * ending in `asg(doc_id, cluster_id)`. Callers prepend WITH RECURSIVE.
    * private[queries]: q176's purity oracle composes the same chain. */
  private[queries] lazy val dupClusterCtes: String =
    s"""$ngramPairCtes,
       |pairs AS MATERIALIZED (
       |  SELECT id_a, id_b
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.s, w.lbl FROM edges e JOIN walk w ON w.id = e.d),
       |asg AS (
       |  SELECT id AS doc_id, min(lbl) AS cluster_id
       |  FROM walk GROUP BY id)""".stripMargin

  private lazy val dupClustersOracle: String =
    s"""WITH RECURSIVE $dupClusterCtes
       |SELECT doc_id, cluster_id FROM asg ORDER BY doc_id""".stripMargin

  /** d60: the d40 exact-Jaccard chain generated per shingle width with
    * suffixed CTE names; each arm floor-scales J before summation and
    * takes the bucket mean as one division. */
  private lazy val shingleCurveOracle: String = {
    def arm(n: Int): String =
      s"""ex$n AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, unnest(list_distinct(
         |      list_transform(range(1, greatest(len(w) - $n, 0) + 2),
         |                     i -> array_to_string(w[i:i+${n - 1}], ' ')))) AS sh
         |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |          FROM documents))
         |  WHERE sh <> ''),
         |sz$n AS (SELECT doc_id, count(*) AS sz FROM ex$n GROUP BY 1),
         |keep$n AS (SELECT sh FROM ex$n GROUP BY sh HAVING count(*) <= 20),
         |fil$n AS (SELECT ex$n.doc_id, ex$n.sh FROM ex$n JOIN keep$n USING (sh)),
         |it$n AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM fil$n a JOIN fil$n b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jj$n AS (
         |  SELECT inter / (sa.sz + sb.sz - inter) AS j
         |  FROM it$n JOIN sz$n sa ON sa.doc_id = id_a
         |  JOIN sz$n sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |row$n AS (
         |  SELECT CAST($n AS BIGINT) AS n_shingle, count(*) AS n_pairs,
         |         CAST(COALESCE(sum(CAST(floor(j * 1000000) AS BIGINT)), 0)
         |           AS BIGINT) AS sum_j6,
         |         CASE WHEN count(*) = 0 THEN 0.0e0
         |              ELSE CAST(COALESCE(sum(CAST(floor(j * 1000000) AS BIGINT)), 0)
         |                     AS DOUBLE)
         |                   / CAST(count(*) * 1000000 AS DOUBLE) END AS mean_j
         |  FROM jj$n)""".stripMargin
    s"""WITH ${Seq(2, 3, 5).map(arm).mkString(",\n")}
       |SELECT * FROM row2 UNION ALL SELECT * FROM row3
       |UNION ALL SELECT * FROM row5
       |ORDER BY n_shingle""".stripMargin
  }

  /** q200: the d44 cluster chain, survivor filter (cluster_id is the
    * min member id), and the two datasheet arms. */
  private lazy val dedupDatasheetOracle: String = {
    def sheetSql(stage: String, base: String): String =
      s"""SELECT '$stage' AS stage,
         |       (SELECT count(*) FROM $base) AS n_docs,
         |       count(*) AS n_tokens, count(DISTINCT w) AS n_types,
         |       CAST(count(*) AS DOUBLE)
         |         / CAST((SELECT count(*) FROM $base) AS DOUBLE)
         |         AS mean_doc_tokens
         |FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
         |      FROM $base) WHERE w <> ''""".stripMargin
    s"""WITH RECURSIVE $dupClusterCtes,
       |kept AS (
       |  SELECT d.* FROM documents d LEFT JOIN asg a ON a.doc_id = d.doc_id
       |  WHERE a.cluster_id IS NULL OR a.cluster_id = d.doc_id)
       |${sheetSql("1_raw", "documents")}
       |UNION ALL
       |${sheetSql("2_deduped", "kept")}
       |ORDER BY stage""".stripMargin
  }

  /** d61: per banding of the shared ring signature — candidates from
    * the banded self-join, verified at exact J ≥ 1/2 through the ring
    * shingle join, precision as one division. */
  private lazy val bandCurveOracle: String = {
    val k = graft.operators.Dedup.calDrawA.length
    def arm(bands: Int): String = {
      val rows = k / bands
      val bandedArms = (0 until bands).map(b =>
        s"SELECT doc_id, $b AS band, ${ringFoldSql(b * rows, (b + 1) * rows)} AS bkey FROM sig")
        .mkString("\nUNION ALL ")
      s"""bd$bands AS (
         |$bandedArms),
         |cd$bands AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bd$bands x JOIN bd$bands y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |vf$bands AS (
         |  SELECT count(*) AS nv FROM (
         |    SELECT c.id_a, c.id_b, za.sz AS sza, zb.sz AS szb,
         |           count(*) AS inter
         |    FROM cd$bands c JOIN ex ea ON ea.doc_id = c.id_a
         |      JOIN ex eb ON eb.doc_id = c.id_b AND eb.hs = ea.hs
         |      JOIN zs za ON za.doc_id = c.id_a
         |      JOIN zs zb ON zb.doc_id = c.id_b
         |    GROUP BY 1, 2, 3, 4)
         |  WHERE inter / (sza + szb - inter) >= 0.5),
         |rw$bands AS (
         |  SELECT CAST($bands AS BIGINT) AS bands,
         |         CAST($rows AS BIGINT) AS rows_per_band,
         |         (SELECT count(*) FROM cd$bands) AS n_candidates,
         |         (SELECT nv FROM vf$bands) AS n_verified)""".stripMargin
    }
    s"""WITH $ringCtes,
       |${Seq(2, 4, 8).map(arm).mkString(",\n")}
       |SELECT bands, rows_per_band, n_candidates, n_verified,
       |       CASE WHEN n_candidates = 0 THEN 0.0e0
       |            ELSE CAST(n_verified AS DOUBLE)
       |                 / CAST(n_candidates AS DOUBLE) END
       |         AS precision_at_half
       |FROM (SELECT * FROM rw2 UNION ALL SELECT * FROM rw4
       |      UNION ALL SELECT * FROM rw8)
       |ORDER BY bands""".stripMargin
  }

  /** q198: the d44 cluster chain, singleton docs as their own cluster,
    * a cl%10 hash split, and the leak count COMPUTED over the pair set. */
  private lazy val clusterSplitOracle: String =
    s"""WITH RECURSIVE $dupClusterCtes,
       |spl AS (
       |  SELECT d.doc_id, COALESCE(a.cluster_id, d.doc_id) AS cl,
       |         CASE WHEN COALESCE(a.cluster_id, d.doc_id) % 10 < 8
       |              THEN 'train' ELSE 'val' END AS split
       |  FROM documents d LEFT JOIN asg a ON a.doc_id = d.doc_id),
       |leak AS (
       |  SELECT count(*) AS leaked_pairs FROM pairs p
       |  JOIN spl a ON a.doc_id = p.id_a
       |  JOIN spl b ON b.doc_id = p.id_b
       |  WHERE a.split <> b.split)
       |SELECT split, count(*) AS n_docs, count(DISTINCT cl) AS n_clusters,
       |       (SELECT leaked_pairs FROM leak) AS leaked_pairs
       |FROM spl GROUP BY split ORDER BY split""".stripMargin

  /** d52/q164 shared CTE chain (q-gram index, DF cap, length-banded
    * candidates) ending in `cand(id_a, id_b, sa, sb)` — one definition
    * for the pair query AND the entity-resolution composition. */
  private lazy val editDistCtes: String =
    """g AS (
      |  SELECT s_suppkey AS gid, s_name AS s,
      |         unnest(list_transform(range(1, length(s_name) - 1),
      |                i -> substr(s_name, CAST(i AS INT), 3))) AS gram
      |  FROM supplier),
      |gd AS (SELECT DISTINCT gid, s, gram FROM g),
      |rare AS (SELECT gram FROM (
      |           SELECT gram, count(*) AS df FROM gd GROUP BY gram)
      |         WHERE df <= 20),
      |cand AS (
      |  SELECT DISTINCT a.gid AS id_a, b.gid AS id_b, a.s AS sa, b.s AS sb
      |  FROM gd a JOIN rare r ON a.gram = r.gram
      |  JOIN gd b ON b.gram = r.gram AND a.gid < b.gid
      |  WHERE abs(length(a.s) - length(b.s)) <= 2)""".stripMargin

  /** q160: both SNM passes replayed — the per-doc distinct shingle LIST
    * (slice semantics matching shinglesFromTokens), half-shifted bucket
    * quantization, all window-1 leads per partitioned window, integer
    * Jaccard gate, one final division. */
  private lazy val snmOracle: String = {
    val offsets = 1 until snmWindow
    def passSelects(tag: String): Seq[String] = {
      val leads = offsets.flatMap(o => Seq(
        s"lead(doc_id, $o) OVER win AS id_$o",
        s"lead(sh, $o) OVER win AS sh_$o")).mkString(",\n         ")
      Seq(s"""l$tag AS (
         |  SELECT doc_id, sh,
         |         $leads
         |  FROM b$tag
         |  WINDOW win AS (PARTITION BY bucket ORDER BY n_chars, doc_id))""".stripMargin)
    }
    val pairSelects = Seq("0", "1").flatMap(tag => offsets.map(o =>
      s"""SELECT doc_id AS id_x, id_$o AS id_y,
         |  len(list_filter(sh, x -> list_contains(sh_$o, x))) AS inter,
         |  len(sh) + len(sh_$o) AS tot
         |FROM l$tag WHERE id_$o IS NOT NULL""".stripMargin))
    s"""WITH base AS (
       |  SELECT doc_id, n_chars,
       |    list_filter(list_distinct(
       |      list_transform(range(1, greatest(len(w) - 3, 0) + 2),
       |                     i -> array_to_string(w[i:i+2], ' '))),
       |      s -> s <> '') AS sh
       |  FROM (SELECT doc_id, n_chars,
       |          string_split_regex(trim(text), '\\s+') AS w
       |        FROM documents)),
       |b0 AS (SELECT doc_id, n_chars, sh, n_chars // $snmWidth AS bucket
       |       FROM base),
       |b1 AS (SELECT doc_id, n_chars, sh,
       |         (n_chars + ${snmWidth / 2}) // $snmWidth AS bucket
       |       FROM base),
       |${(passSelects("0") ++ passSelects("1")).mkString(",\n")},
       |cand AS (${pairSelects.mkString("\nUNION ALL\n")}),
       |normed AS (
       |  SELECT least(id_x, id_y) AS id_a, greatest(id_x, id_y) AS id_b,
       |         inter, tot - inter AS union_sz
       |  FROM cand)
       |SELECT DISTINCT id_a, id_b,
       |  CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE) AS jaccard
       |FROM normed
       |WHERE union_sz > 0 AND inter * 2 >= union_sz
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Benchmark docs for the contamination check: ids 0–4 stand in for an
    * eval set. Interpolated into the d45 oracle — one definition drives
    * both engines. */
  // lazy like every val `all` forces during its own init (object
  // init order: `all` runs first, and a forward-referenced plain val
  // would still be null — the q-object NPE class of bug)
  private lazy val benchIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)
  private lazy val benchIdsSql: String = benchIds.mkString(",")

  /** (doc_id, distinct 3-gram shingle) — the DuckDB mirror of
    * Dedup.shingleTable. The shingle is built by list-SLICING
    * (`w[i:i+2]`, truncating like Spark's `slice`), not positional
    * indexing: a sub-3-token document must yield its one partial shingle
    * on both engines, where `w[i+2]` would turn the whole string NULL
    * and silently drop the document from DuckDB's side. The trailing
    * `sh <> ''` mirrors Spark's length>0 shingle filter — an empty/
    * whitespace-only document tokenizes to [''] and must vanish from
    * BOTH engines, not just Spark. private[queries]: q70's prep
    * pipeline interpolates the same CTEs (one definition, two oracles). */
  private[queries] def ngramShingleCteFor(base: String): String =
    s"""ex AS MATERIALIZED (
      |  SELECT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_distinct(sh_list)) AS sh FROM (
      |      SELECT doc_id,
      |        list_transform(range(1, greatest(len(w) - 3, 0) + 2),
      |                       i -> array_to_string(w[i:i+2], ' ')) AS sh_list
      |      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM $base)))
      |  WHERE sh <> '')""".stripMargin

  private[queries] lazy val ngramShingleCte: String =
    ngramShingleCteFor("documents")

  /** The shared CTE chain computing exact 3-gram Jaccard intersections
    * with the df≤20 skew cap (ends with `inter`; `sizes` also exposed).
    * `base` parameterizes the document set (q153 runs the loop over a
    * bounded-size subset so its per-invocation cost stays flat as SF
    * grows). */
  private[queries] def ngramPairCtesFor(base: String): String =
    s"""${ngramShingleCteFor(base)},
      |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      |keep AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 20),
      |fil AS MATERIALIZED (SELECT ex.doc_id, ex.sh FROM ex JOIN keep USING (sh)),
      |inter AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM fil a JOIN fil b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private[queries] lazy val ngramPairCtes: String =
    ngramPairCtesFor("documents")

  /** d65: brute-force J≥0.5 pairs (rule 13), then the positional-window
    * alignment replay — filtered window list with 0-based positions
    * (mirroring posexplode-after-filter exactly), the text-keyed match
    * join, and the pa − row_number island trick per (pair, diagonal). */
  private lazy val sharedSpansOracle: String = {
    val k = 3
    s"""WITH $ngramPairCtes,
       |tp AS MATERIALIZED (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |       FROM documents),
       |pw AS MATERIALIZED (
       |  SELECT doc_id, x.p AS pos, x.w AS w FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |             i -> {'p': i - 1, 'w': ws[i]})) AS x
       |    FROM (SELECT doc_id, list_filter(
       |            list_transform(range(1, greatest(len(t) - $k, 0) + 2),
       |              i -> array_to_string(t[i:i+${k - 1}], ' ')),
       |            s -> len(s) > 0) AS ws
       |          FROM tk))),
       |m AS (
       |  SELECT tp.id_a, tp.id_b, a.pos AS pa, b.pos AS pb,
       |         a.pos - b.pos AS diag
       |  FROM tp JOIN pw a ON a.doc_id = tp.id_a
       |  JOIN pw b ON b.doc_id = tp.id_b AND b.w = a.w),
       |runs AS (
       |  SELECT id_a, id_b, diag, pa,
       |         pa - row_number() OVER (PARTITION BY id_a, id_b, diag
       |                                 ORDER BY pa) AS isl
       |  FROM m),
       |rc AS (SELECT id_a, id_b, diag, isl, count(*) AS run
       |       FROM runs GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b,
       |  CAST(max(run) + ${k - 1} AS BIGINT) AS shared_tokens,
       |  CAST(sum(run) AS BIGINT) AS n_aligned
       |FROM rc GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin
  }

  /** Incremental-dedup oracle shared by d47 (recompute path) and d53
    * (persisted-store path): batch = doc_id % 10 == 9, brute-force
    * exact-Jaccard pairs, corpus_dup > batch_dup > unique. One SQL
    * string for both gates — the two Spark paths are asserted equal by
    * SignatureStoreSpec, so a drift would fail CI before the oracle. */
  private lazy val incrementalOracle: String =
    s"""WITH $ngramPairCtes,
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |bflag AS (SELECT doc_id, doc_id % 10 = 9 AS is_batch FROM documents),
       |pf AS (SELECT p.id_a, p.id_b, fa.is_batch AS a_batch, fb.is_batch AS b_batch
       |       FROM pairs p JOIN bflag fa ON fa.doc_id = p.id_a
       |                    JOIN bflag fb ON fb.doc_id = p.id_b),
       |cd AS (SELECT DISTINCT doc_id FROM (
       |         SELECT id_a AS doc_id FROM pf WHERE a_batch AND NOT b_batch
       |         UNION ALL
       |         SELECT id_b AS doc_id FROM pf WHERE b_batch AND NOT a_batch)),
       |bd AS (SELECT DISTINCT id_b AS doc_id FROM pf WHERE a_batch AND b_batch)
       |SELECT f.doc_id,
       |       cd.doc_id IS NULL AND bd.doc_id IS NULL AS keep,
       |       CASE WHEN cd.doc_id IS NOT NULL THEN 'corpus_dup'
       |            WHEN bd.doc_id IS NOT NULL THEN 'batch_dup'
       |            ELSE 'unique' END AS reason
       |FROM bflag f
       |LEFT JOIN cd ON cd.doc_id = f.doc_id
       |LEFT JOIN bd ON bd.doc_id = f.doc_id
       |WHERE f.is_batch
       |ORDER BY f.doc_id""".stripMargin

  /** q153's document bound: the streaming loop re-stages its store per
    * invocation (it mutates it), so the working set must not grow with
    * SF. One constant drives the Spark filter and the oracle's base
    * subquery. */
  private lazy val ingestMaxDocId = 500L

  /** q153: both days of the streaming ingest-dedup loop replayed from
    * the brute-force pair set (see the Q comment for the corpus-
    * membership subtlety on day 2). */
  private lazy val ingestLoopOracle: String = {
    val base = s"(SELECT * FROM documents WHERE doc_id < $ingestMaxDocId)"
    s"""WITH ${ngramPairCtesFor(base)},
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |flag AS (SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 8 THEN 1
       |         WHEN doc_id % 10 = 9 THEN 2 ELSE 0 END AS day
       |  FROM documents WHERE doc_id < $ingestMaxDocId),
       |pf AS (SELECT p.id_a, p.id_b, fa.day AS da, fb.day AS db
       |       FROM pairs p JOIN flag fa ON fa.doc_id = p.id_a
       |                    JOIN flag fb ON fb.doc_id = p.id_b),
       |cd1 AS (SELECT DISTINCT doc_id FROM (
       |  SELECT id_a AS doc_id FROM pf WHERE da = 1 AND db = 0
       |  UNION ALL SELECT id_b FROM pf WHERE db = 1 AND da = 0)),
       |bd1 AS (SELECT DISTINCT id_b AS doc_id FROM pf WHERE da = 1 AND db = 1),
       |d1 AS (SELECT f.doc_id,
       |         cd1.doc_id IS NULL AND bd1.doc_id IS NULL AS keep,
       |         CASE WHEN cd1.doc_id IS NOT NULL THEN 'corpus_dup'
       |              WHEN bd1.doc_id IS NOT NULL THEN 'batch_dup'
       |              ELSE 'unique' END AS reason
       |       FROM flag f LEFT JOIN cd1 ON cd1.doc_id = f.doc_id
       |                   LEFT JOIN bd1 ON bd1.doc_id = f.doc_id
       |       WHERE f.day = 1),
       |corp2 AS (SELECT doc_id FROM flag WHERE day = 0
       |          UNION ALL SELECT doc_id FROM d1 WHERE keep),
       |cd2 AS (SELECT DISTINCT doc_id FROM (
       |  SELECT p.id_a AS doc_id FROM pf p JOIN corp2 c ON c.doc_id = p.id_b
       |  WHERE p.da = 2
       |  UNION ALL
       |  SELECT p.id_b FROM pf p JOIN corp2 c ON c.doc_id = p.id_a
       |  WHERE p.db = 2)),
       |bd2 AS (SELECT DISTINCT id_b AS doc_id FROM pf WHERE da = 2 AND db = 2),
       |d2 AS (SELECT f.doc_id,
       |         cd2.doc_id IS NULL AND bd2.doc_id IS NULL AS keep,
       |         CASE WHEN cd2.doc_id IS NOT NULL THEN 'corpus_dup'
       |              WHEN bd2.doc_id IS NOT NULL THEN 'batch_dup'
       |              ELSE 'unique' END AS reason
       |       FROM flag f LEFT JOIN cd2 ON cd2.doc_id = f.doc_id
       |                   LEFT JOIN bd2 ON bd2.doc_id = f.doc_id
       |       WHERE f.day = 2)
       |SELECT CAST(0 AS BIGINT) AS batch_id, doc_id, keep, reason FROM d1
       |UNION ALL
       |SELECT CAST(1 AS BIGINT), doc_id, keep, reason FROM d2
       |ORDER BY batch_id, doc_id""".stripMargin
  }

  /** Brute-force 3-gram Jaccard pair set at threshold 0.5 — the shared
    * oracle for d40 (same algorithm) and d38 (candidates→verify LSH,
    * where equality also asserts recall).
    * `lazy` because `all` above initializes first (object init order). */
  private lazy val ngramJaccardOracle: String =
    s"""WITH $ngramPairCtes
       |SELECT id_a, id_b,
       |       inter / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** d70: degree/wedge/triangle audit over the d38 brute-force pair set
    * (rule 13), mirroring Dedup.transitivityAudit op-for-op — doubled
    * degree sums in HUGEINT, the oriented a<b<c triangle semi-join, and
    * the same double DAG for the closure rate (3·tri / (w2/2)). */
  private lazy val transitivityOracle: String =
    s"""WITH $ngramPairCtes,
       |vp AS MATERIALIZED (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |deg AS (SELECT v, count(*) AS d FROM (
       |    SELECT id_a AS v FROM vp UNION ALL SELECT id_b FROM vp)
       |  GROUP BY v),
       |wed AS (SELECT count(*) AS n_nodes,
       |          coalesce(sum(CAST(d AS HUGEINT) * (d - 1)),
       |            CAST(0 AS HUGEINT)) AS w2
       |        FROM deg),
       |tri AS (SELECT count(*) AS n_triangles
       |        FROM vp e1 JOIN vp e2
       |          ON e1.id_a = e2.id_a AND e1.id_b < e2.id_b
       |        WHERE EXISTS (SELECT 1 FROM vp e3
       |          WHERE e3.id_a = e1.id_b AND e3.id_b = e2.id_b)),
       |ne AS (SELECT count(*) AS n_pairs FROM vp)
       |SELECT n_pairs, n_nodes,
       |  CAST(w2 // 2 AS BIGINT) AS n_wedges, n_triangles,
       |  CASE WHEN w2 = 0 THEN NULL
       |    ELSE CAST(n_triangles AS DOUBLE) * 3.0e0
       |      / (CAST(w2 AS DOUBLE) / 2.0e0)
       |  END AS closure_rate
       |FROM ne, wed, tri ORDER BY n_pairs""".stripMargin

  /** d57: the UNCAPPED brute-force pair join — deliberately no keep/fil
    * CTE, because prefix filtering is lossless and must reproduce the
    * full answer, boilerplate shingles included. count(*) stays BIGINT
    * (no HUGEINT anywhere); jaccard is DuckDB's int/int double division,
    * mirroring Spark's. */
  private lazy val prefixJoinOracle: String =
    s"""WITH $ngramShingleCte,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       |       inter / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |           JOIN sizes sb ON sb.doc_id = id_b
       |WHERE 3 * inter >= sa.sz + sb.sz
       |ORDER BY id_a, id_b""".stripMargin

  /** d58: both directions of the capped intersection, asymmetric
    * threshold 2·inter ≥ sz on the contained side. */
  private lazy val containmentOracle: String =
    s"""WITH $ngramPairCtes,
       |dir AS (
       |  SELECT id_a AS doc_id, id_b AS container_id, inter FROM inter
       |  UNION ALL
       |  SELECT id_b, id_a, inter FROM inter)
       |SELECT d.doc_id, d.container_id, d.inter, s.sz,
       |       d.inter / s.sz AS containment
       |FROM dir d JOIN sizes s ON s.doc_id = d.doc_id
       |WHERE 2 * d.inter >= s.sz
       |ORDER BY d.doc_id, d.container_id""".stripMargin

  /** d63's field list — (expr valid in BOTH engines, field tag, agree
    * weight, disagree weight). floor(double/1000.0) is one correctly-
    * rounded division + floor, identical cross-engine; equality is
    * compared engine-internally, never emitted. */
  private lazy val fsFields: Seq[(String, String, Long, Long)] = Seq(
    ("c_mktsegment", "segment", 8L, -2L),
    ("floor(c_acctbal / 1000.0)", "balance_band", 11L, -1L),
    ("c_acctbal < 0", "balance_sign", 5L, -5L))
  private lazy val fsMaxBlock: Long = 1000L

  private lazy val recordLinkageOracle: String = {
    // fields projected once with stable names, compared per pair side
    val proj = fsFields.zipWithIndex
      .map { case ((e, _, _, _), i) => s"$e AS f$i" }.mkString(", ")
    val caseSql = fsFields.zipWithIndex.map { case ((_, _, wa, wd), i) =>
      s"(CASE WHEN a.f$i = b.f$i THEN $wa ELSE $wd END)"
    }.mkString(" + ")
    s"""WITH p AS (
       |  SELECT c_custkey AS rid, c_nationkey AS bk, $proj FROM customer),
       |ok AS (SELECT bk FROM p GROUP BY bk HAVING count(*) <= $fsMaxBlock),
       |f AS MATERIALIZED (SELECT p.* FROM p JOIN ok USING (bk))
       |SELECT score, count(*) AS n_pairs FROM (
       |  SELECT $caseSql AS score
       |  FROM f a JOIN f b ON a.bk = b.bk AND a.rid < b.rid)
       |GROUP BY score ORDER BY score""".stripMargin
  }

  private lazy val blockingAuditOracle: String =
    s"""WITH $ngramShingleCte,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |tp AS MATERIALIZED (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |kd AS MATERIALIZED (
       |  SELECT doc_id, n_chars // $snmWidth AS bk FROM documents),
       |nr AS (SELECT count(*) AS n_records FROM kd),
       |cd AS (SELECT coalesce(sum(CAST(m AS HUGEINT) * (m - 1)), 0)
       |         AS cand2
       |       FROM (SELECT count(*) AS m FROM kd GROUP BY bk)),
       |nt AS (SELECT count(*) AS n_true FROM tp),
       |fd AS (SELECT count(*) AS n_found FROM tp
       |       JOIN kd a ON a.doc_id = tp.id_a
       |       JOIN kd b ON b.doc_id = tp.id_b
       |       WHERE a.bk = b.bk)
       |SELECT n_records, n_true,
       |  CAST(cand2 AS DOUBLE) / 2 AS n_cand, n_found,
       |  CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE)
       |    AS pairs_completeness,
       |  CAST(1 AS DOUBLE) - CAST(cand2 AS DOUBLE)
       |    / CAST(CAST(n_records AS HUGEINT) * (n_records - 1) AS DOUBLE)
       |    AS reduction_ratio
       |FROM nr, cd, nt, fd""".stripMargin

  /** d62: positional replay of Dedup.winnowingPairs — the same
    * truncating k-gram slice as ngramShingleCte (WITHOUT distinct:
    * position order matters), the polynomial hash per k-gram, window
    * minima via a per-doc positional range join, then the df-capped
    * fingerprint inverted index. Every constant interpolates from the
    * operator's own vals. */
  /** The d62 chain as prefixable CTEs ending in `<p>wpairs` (id_a,
    * id_b, n_shared) — prefixed so q214 can compose it beside the
    * `ngramPairCtes` chain without CTE-name collisions (both use
    * keep/fil bare). */
  private def winnowingPairCtesFor(p: String): String = {
    import graft.operators.Dedup.{winnowK, winnowMaxDf, winnowMinShared, winnowW}
    s"""${p}tk AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |${p}shl AS (
       |  SELECT doc_id, list_filter(
       |    list_transform(range(0, greatest(len(t) - $winnowK, 0) + 1),
       |                   i -> array_to_string(t[i+1:i+$winnowK], ' ')),
       |    s -> len(s) > 0) AS shs
       |  FROM ${p}tk),
       |${p}pos AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(shs) + 1),
       |           i -> {'i': i, 'sh': shs[i]})) AS p
       |  FROM ${p}shl),
       |${p}uh AS MATERIALIZED ${distinctHashSql(
             s"(SELECT p.sh AS sh FROM ${p}pos)", "sh", "h")},
       |${p}hrow AS MATERIALIZED (
       |  SELECT q.doc_id, q.i, u.h FROM (
       |    SELECT doc_id, p.i AS i, p.sh AS sh FROM ${p}pos) q
       |  JOIN ${p}uh u USING (sh)),
       |${p}cnt AS (SELECT doc_id, count(*) AS n FROM ${p}hrow GROUP BY doc_id),
       |${p}wj AS (SELECT doc_id, unnest(range(1, n - $winnowW + 2)) AS j
       |       FROM ${p}cnt WHERE n >= $winnowW),
       |${p}wmins AS (
       |  SELECT wj.doc_id AS doc_id, wj.j AS j, min(h.h) AS fp
       |  FROM ${p}wj wj JOIN ${p}hrow h ON h.doc_id = wj.doc_id
       |    AND h.i >= wj.j AND h.i < wj.j + $winnowW
       |  GROUP BY 1, 2),
       |${p}fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM ${p}wmins),
       |${p}keep AS (SELECT fp FROM ${p}fps GROUP BY fp
       |            HAVING count(*) <= $winnowMaxDf),
       |${p}fil AS MATERIALIZED (
       |  SELECT f.doc_id, f.fp FROM ${p}fps f JOIN ${p}keep USING (fp)),
       |${p}wpairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |  FROM ${p}fil a JOIN ${p}fil b
       |    ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $winnowMinShared)""".stripMargin
  }

  private lazy val winnowingOracle: String =
    s"""WITH ${winnowingPairCtesFor("")}
       |SELECT id_a, id_b, n_shared FROM wpairs
       |ORDER BY id_a, id_b""".stripMargin

  /** q214: d44's recursive-CC replay (asg) beside the w-prefixed d62
    * chain pushed through its own recursive CC (wasg), singleton
    * completion, the contingency table, and the ARI double DAG —
    * mirrored op-for-op with the Spark side including the /2 and the
    * n·(n−1) product order. */
  private lazy val clusterAgreementOracle: String = {
    val e = """CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE)
              |           / (CAST(n AS DOUBLE) * (n - 1))""".stripMargin
    s"""WITH RECURSIVE $dupClusterCtes,
       |${winnowingPairCtesFor("w")},
       |wedges AS MATERIALIZED (
       |  SELECT id_a AS s, id_b AS d FROM wwpairs
       |  UNION ALL SELECT id_b, id_a FROM wwpairs),
       |wwalk(id, lbl) AS (
       |  SELECT s, s FROM wedges
       |  UNION
       |  SELECT e.s, w.lbl FROM wedges e JOIN wwalk w ON w.id = e.d),
       |wasg AS (SELECT id AS doc_id, min(lbl) AS cluster_id
       |         FROM wwalk GROUP BY id),
       |pa AS MATERIALIZED (
       |  SELECT d.doc_id, coalesce(asg.cluster_id, d.doc_id) AS x
       |  FROM documents d LEFT JOIN asg USING (doc_id)),
       |pb AS MATERIALIZED (
       |  SELECT d.doc_id, coalesce(wasg.cluster_id, d.doc_id) AS y
       |  FROM documents d LEFT JOIN wasg USING (doc_id)),
       |cont AS MATERIALIZED (
       |  SELECT x, y, count(*) AS nij
       |  FROM pa JOIN pb USING (doc_id) GROUP BY 1, 2),
       |s1 AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
       |         sum(CAST(nij AS HUGEINT) * (nij - 1)) AS sij2 FROM cont),
       |s2 AS (SELECT sum(CAST(ai AS HUGEINT) * (ai - 1)) AS sa2
       |       FROM (SELECT sum(nij) AS ai FROM cont GROUP BY x)),
       |s3 AS (SELECT sum(CAST(bj AS HUGEINT) * (bj - 1)) AS sb2
       |       FROM (SELECT sum(nij) AS bj FROM cont GROUP BY y))
       |SELECT n AS n_items,
       |  CAST(sa2 AS DOUBLE) AS sa2, CAST(sb2 AS DOUBLE) AS sb2,
       |  CAST(sij2 AS DOUBLE) AS sij2,
       |  CASE WHEN n <= 1 THEN 1.0e0
       |    WHEN (CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)) / 2.0e0
       |         - $e = 0 THEN 1.0e0
       |    ELSE (CAST(sij2 AS DOUBLE) - $e)
       |      / ((CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)) / 2.0e0
       |         - $e)
       |  END AS ari
       |FROM s1, s2, s3
       |ORDER BY n_items""".stripMargin
  }

  /** d68: positional replay of Dedup.cdcChunkStats — the d62 window
    * machinery (truncating k-gram slice, polynomial hash) feeding the
    * boundary rule pmod(h, div) = 0 ∧ i+k ≤ n, chunk frames rebuilt
    * with a per-doc lead() over the start positions (the oracle may
    * window freely — rule 23 binds the Spark plan only), then the same
    * dup-hash set and per-doc aggregates. Constants interpolate from
    * the operator's own vals. */
  private lazy val cdcChunkOracle: String = {
    import graft.operators.Dedup.{cdcDiv, cdcK}
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |shl AS (
       |  SELECT doc_id, list_filter(
       |    list_transform(range(0, greatest(len(t) - $cdcK, 0) + 1),
       |                   i -> array_to_string(t[i+1:i+$cdcK], ' ')),
       |    s -> len(s) > 0) AS shs
       |  FROM tk),
       |pos AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(shs) + 1),
       |           i -> {'i': i, 'sh': shs[i]})) AS p
       |  FROM shl),
       |huq AS MATERIALIZED ${distinctHashSql(
             "(SELECT p.sh AS sh FROM pos)", "sh", "h")},
       |hrow AS (
       |  SELECT q.doc_id, q.i, u.h FROM (
       |    SELECT doc_id, p.i AS i, p.sh AS sh FROM pos) q
       |  JOIN huq u USING (sh)),
       |bnd AS (
       |  SELECT hrow.doc_id, hrow.i + $cdcK AS st
       |  FROM hrow JOIN tk ON tk.doc_id = hrow.doc_id
       |  WHERE ((h % $cdcDiv) + $cdcDiv) % $cdcDiv = 0
       |    AND hrow.i + $cdcK <= len(tk.t)),
       |sts AS (
       |  SELECT doc_id, 1 AS st FROM tk
       |  UNION ALL SELECT doc_id, st FROM bnd),
       |ord AS (
       |  SELECT doc_id, st,
       |    lead(st) OVER (PARTITION BY doc_id ORDER BY st) AS nxt
       |  FROM sts),
       |chunks AS (
       |  SELECT o.doc_id,
       |    array_to_string(t[o.st:coalesce(o.nxt - 1, len(t))], ' ') AS cs,
       |    coalesce(o.nxt - 1, len(t)) - o.st + 1 AS clen
       |  FROM ord o JOIN tk ON tk.doc_id = o.doc_id),
       |uch AS MATERIALIZED ${distinctHashSql("chunks", "cs", "ch")},
       |ch AS MATERIALIZED (
       |  SELECT c.doc_id, u.ch AS ch, c.clen
       |  FROM chunks c JOIN uch u USING (cs)),
       |dup AS (SELECT ch FROM ch GROUP BY ch HAVING count(*) > 1),
       |tot AS (SELECT doc_id, count(*) AS n_chunks,
       |          CAST(sum(clen) AS BIGINT) AS n_tokens
       |        FROM ch GROUP BY doc_id),
       |dpd AS (SELECT c.doc_id, count(*) AS n_dup_chunks,
       |          CAST(sum(c.clen) AS BIGINT) AS dup_tokens
       |        FROM ch c JOIN dup USING (ch) GROUP BY c.doc_id)
       |SELECT t.doc_id, t.n_chunks, t.n_tokens,
       |  coalesce(d.n_dup_chunks, 0) AS n_dup_chunks,
       |  coalesce(d.dup_tokens, 0) AS dup_tokens,
       |  CAST(coalesce(d.dup_tokens, 0) AS DOUBLE)
       |    / CAST(t.n_tokens AS DOUBLE) AS dup_token_frac
       |FROM tot t LEFT JOIN dpd d USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  /** d49: the positional-window mirror of Dedup.duplicatedSpanStats —
    * same truncating slice as ngramShingleCte but parametrized to 10
    * tokens and WITHOUT list_distinct (multiplicity matters), windows
    * hashed with the replayable polynomial. */
  private lazy val substringSpanOracle: String = {
    val n = 10
    s"""WITH wins AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - $n, 0) + 2),
       |                   i -> array_to_string(w[i:i+${n - 1}], ' '))) AS sh
       |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents))
       |  WHERE sh <> ''),
       |uh AS MATERIALIZED ${distinctHashSql("wins", "sh", "wh")},
       |hashed AS MATERIALIZED (
       |  SELECT w.doc_id, u.wh FROM wins w JOIN uh u USING (sh)),
       |dup AS (SELECT wh FROM hashed GROUP BY wh HAVING count(*) > 1),
       |tot AS (SELECT doc_id, count(*) AS n_windows FROM hashed GROUP BY doc_id),
       |dpd AS (SELECT h.doc_id, count(*) AS n_dup_windows
       |        FROM hashed h JOIN dup USING (wh) GROUP BY h.doc_id)
       |SELECT t.doc_id, t.n_windows,
       |       coalesce(d.n_dup_windows, 0) AS n_dup_windows,
       |       CAST(coalesce(d.n_dup_windows, 0) AS DOUBLE)
       |         / CAST(t.n_windows AS DOUBLE) AS dup_frac
       |FROM tot t LEFT JOIN dpd d USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  /** d51: span removal replayed — positional windows (1-based i becomes
    * the 0-based Spark pos), polynomial window hash, dup set, per-doc
    * sorted start list, then the same coverage test inside DuckDB's
    * indexed list_filter (p is 1-based, hence p-1). */
  private lazy val spanRemovalOracle: String = {
    val n = 10
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |wins AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+${n - 1}], ' ') AS win
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, greatest(len(w) - $n, 0) + 2)) AS i FROM toks)),
       |uh AS MATERIALIZED ${distinctHashSql(
             "(SELECT win FROM wins WHERE win <> '')", "win", "wh")},
       |hashed AS MATERIALIZED (
       |  SELECT w.doc_id, w.pos, u.wh FROM wins w JOIN uh u USING (win)),
       |dup AS (SELECT wh FROM hashed GROUP BY wh HAVING count(*) > 1),
       |starts AS (SELECT h.doc_id, list_sort(list(h.pos)) AS ds
       |           FROM hashed h JOIN dup USING (wh) GROUP BY h.doc_id),
       |clean AS (
       |  SELECT t.doc_id, t.w,
       |         list_filter(t.w, (x, p) -> len(list_filter(
       |           coalesce(s.ds, CAST([] AS BIGINT[])),
       |           st -> p - 1 >= st AND p - 1 < st + $n)) = 0) AS kept
       |  FROM toks t LEFT JOIN starts s USING (doc_id))
       |SELECT doc_id,
       |       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       |       CAST(len(w) AS BIGINT) AS n_tokens,
       |       CAST(len(w) - len(kept) AS BIGINT) AS n_removed
       |FROM clean ORDER BY doc_id""".stripMargin
  }

  /** d50: first-occurrence novelty over the shared distinct-shingle CTE. */
  private lazy val noveltyOracle: String =
    s"""WITH $ngramShingleCte,
       |first AS (SELECT sh, min(doc_id) AS first_id FROM ex GROUP BY sh)
       |SELECT e.doc_id, count(*) AS n_shingles,
       |       count(*) FILTER (f.first_id = e.doc_id) AS n_novel,
       |       CAST(count(*) FILTER (f.first_id = e.doc_id) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS novelty
       |FROM ex e JOIN first f USING (sh)
       |GROUP BY e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  // ---- SimHash oracle replay (generated SQL) ----
  //
  // DuckDB has no xxhash64, so oracle-mode SimHash hashes each word with
  // the same polynomial fold the t35 rolling-hash oracle replays:
  // h ← h·1000003 + byte (mod 2^64), carried as HUGEINT. The 64 bit-votes
  // and the fingerprint re-assembly are generated term-by-term below —
  // one Scala definition emits both engines' bit arithmetic, so the two
  // sides cannot drift.

  private[queries] lazy val hugeMod = "CAST('18446744073709551616' AS HUGEINT)" // 2^64
  private lazy val hugeSign = "CAST('9223372036854775808' AS HUGEINT)" // 2^63
  private def pow2(i: Int): String = s"CAST('${BigInt(1) << i}' AS HUGEINT)"

  /** RollingHash polynomial replay over the string column `c` as HUGEINT
    * in [0, 2^64). ord(char) == UTF-8 byte only for ASCII — true for
    * every column it is applied to (asserted at both gate SFs for t35).
    * Shared by the SimHash oracles here and the KMV oracle (q59). */
  private[queries] def polyHashSql(c: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(0 AS HUGEINT),
       |        list_transform(range(1, length($c)+1),
       |                       i -> CAST(ord($c[i]) AS HUGEINT))),
       |      (acc, x) -> (acc * 1000003 + x) % $hugeMod)""".stripMargin

  /** Subquery hashing column `c` of `src` ONCE PER DISTINCT VALUE and
    * sign-wrapping the result as `alias` (point-grain factoring, the
    * r11-directive treatment that took the image replays 24.2 → 7.5 s,
    * applied r12 to the polynomial-hash family — it was 14.7 s of the
    * 55 s gate). Two structural savings over the old inline
    * `signWrap(polyHashSql(c))`: the sign-wrap CASE no longer pastes
    * (and re-evaluates) the whole character fold into all THREE of its
    * references, and repeated strings — string duplication being the
    * entire point of a dedup corpus — hash once instead of once per
    * occurrence. Values are bit-identical; consumers equi-join back on
    * `c`. Measured: d49's replay 4.3 → 0.4 s at sf0.01. */
  private def distinctHashSql(src: String, c: String, alias: String): String =
    s"""(SELECT $c, ${signWrap("hh")} AS $alias FROM (
       |    SELECT $c, ${polyHashSql(c)} AS hh
       |    FROM (SELECT DISTINCT $c FROM $src)))""".stripMargin

  /** d59 oracle: full replay of Dedup.minhashCalibration, generated
    * from the SAME ring/draw/fold constants. The 64-bit polynomial
    * shingle hash reduces into the 2³¹−1 ring exactly as Spark's pmod
    * (signed remainder, then +M, then %M), after which EVERY value and
    * product fits plain BIGINT — no HUGEINT past the hash itself. */
  /** Shared d59/d61 ring CTE chain: polynomial shingle hash reduced
    * into the 2³¹−1 ring, the k affine min-draws, per-doc set sizes
    * and the ordered signature list (toks…sig). */
  private lazy val ringCtes: String = {
    import graft.operators.Dedup.{calDrawA, calDrawB, calM}
    val drawRows = calDrawA.indices.map(i =>
      s"($i, ${calDrawA(i)}, ${calDrawB(i)})").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |shs AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |           list_transform(range(0, greatest(len(t) - 3, 0) + 1),
       |             i -> array_to_string(t[i+1:i+3], ' ')),
       |           s -> len(s) > 0))) AS s
       |  FROM toks),
       |ush AS MATERIALIZED (
       |  SELECT s,
       |         ((CASE WHEN h >= $hugeSign THEN CAST(h - $hugeMod AS BIGINT)
       |                ELSE CAST(h AS BIGINT) END % $calM) + $calM) % $calM
       |           AS hs
       |  FROM (SELECT s, ${polyHashSql("s")} AS h
       |        FROM (SELECT DISTINCT s FROM shs))),
       |ex AS (SELECT doc_id, hs FROM shs JOIN ush USING (s)),
       |drw(i, a, b) AS (VALUES $drawRows),
       |dmin AS (
       |  SELECT doc_id, i,
       |         min((e.hs * w.a + w.b) % $calM) AS m
       |  FROM ex e CROSS JOIN drw w
       |  GROUP BY 1, 2),
       |zs AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
       |sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM dmin GROUP BY 1)""".stripMargin
  }

  /** Mod-M fold of sig[from+1 .. until] (1-indexed), the band key. */
  private def ringFoldSql(from: Int, until: Int): String = {
    import graft.operators.Dedup.{calFoldC, calM}
    (from until until).foldLeft("CAST(0 AS BIGINT)") {
      (acc, j) => s"(($acc * $calFoldC + sig[${j + 1}]) % $calM)"
    }
  }

  private lazy val minhashCalOracle: String = {
    import graft.operators.Dedup.{calDrawA, calJScale}
    val k = calDrawA.length
    val rows = k / 4
    val bandedArms = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, ${ringFoldSql(b * rows, (b + 1) * rows)} AS bkey FROM sig")
      .mkString("\nUNION ALL ")
    s"""WITH $ringCtes,
       |banded AS (
       |$bandedArms),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |mm AS (
       |  SELECT c.id_a, c.id_b,
       |         len(list_filter(range(1, ${k + 1}),
       |               i -> sa.sig[i] = sb.sig[i])) AS matches,
       |         za.sz AS sz_a, zb.sz AS sz_b
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
       |    JOIN sig sb ON sb.doc_id = c.id_b
       |    JOIN zs za ON za.doc_id = c.id_a
       |    JOIN zs zb ON zb.doc_id = c.id_b),
       |itr AS (
       |  SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
       |    JOIN ex eb ON eb.doc_id = c.id_b AND eb.hs = ea.hs
       |  GROUP BY 1, 2),
       |jj AS (
       |  SELECT mm.matches,
       |         CAST(floor(CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |           / CAST(mm.sz_a + mm.sz_b - COALESCE(i.inter, 0) AS DOUBLE)
       |           * $calJScale) AS BIGINT) AS j6
       |  FROM mm LEFT JOIN itr i USING (id_a, id_b))
       |SELECT CAST(matches AS BIGINT) AS bucket,
       |       CAST(matches AS DOUBLE) / $k AS est_jaccard,
       |       count(*) AS n_pairs,
       |       CAST(sum(j6) AS DOUBLE)
       |         / CAST(count(*) * $calJScale AS DOUBLE) AS mean_exact_j
       |FROM jj GROUP BY matches ORDER BY bucket""".stripMargin
  }

  /** CTE chain ending in `fp(doc_id, hu)`: the unsigned 64-bit SimHash
    * fingerprint. `distinctWords` selects set-SimHash (each distinct
    * token votes once) vs occurrence voting.
    *
    * Replay factored to point grain (r12): the old chain hashed every
    * word OCCURRENCE and ran 64 HUGEINT divmod CASEs per occurrence row
    * inside the vote aggregate — the dominant cost of the d39/d42/d43
    * replays. Now the polynomial hash AND the 64 ±1 bit extractions run
    * once per DISTINCT word (`vbits`, vocabulary grain), and the per-doc
    * votes are the exact integer sum Σ c·s_i over (doc, word, count)
    * grain — occurrence voting with c = count(*), set voting with c = 1
    * over distinct (doc, word). Same integers, same fingerprints. */
  private def simhashFpCtes(distinctWords: Boolean): String = {
    val bitCols = (0 until 64).map(i =>
      s"CASE WHEN (hh // ${pow2(i)}) % 2 = 1 THEN 1 ELSE -1 END AS s$i")
      .mkString(",\n         ")
    val voteCols = (0 until 64).map(i => s"sum(c * s$i) AS v$i")
      .mkString(",\n         ")
    val fpTerms = (0 until 64).map(i =>
      s"CASE WHEN v$i > 0 THEN ${pow2(i)} ELSE CAST(0 AS HUGEINT) END")
      .mkString("\n       + ")
    val cnt =
      if (distinctWords)
        "SELECT doc_id, w, 1 AS c FROM (SELECT DISTINCT doc_id, w FROM words)"
      else "SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w"
    s"""words AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents),
       |wcnt AS MATERIALIZED ($cnt),
       |vbits AS MATERIALIZED (
       |  SELECT w,
       |         $bitCols
       |  FROM (SELECT w, ${polyHashSql("w")} AS hh
       |        FROM (SELECT DISTINCT w FROM wcnt))),
       |votes AS (SELECT doc_id,
       |         $voteCols
       |       FROM wcnt JOIN vbits USING (w) GROUP BY doc_id),
       |fp AS (SELECT doc_id, ($fpTerms) AS hu FROM votes)""".stripMargin
  }

  /** Sign-wrap a HUGEINT fingerprint into the BIGINT Spark emits. */
  private[queries] def signWrap(hu: String): String =
    s"CAST(CASE WHEN $hu >= $hugeSign THEN $hu - $hugeMod ELSE $hu END AS BIGINT)"

  /** CTE chain `bandex`→`bfil`: the exploded (doc_id, sh, band,
    * band_val) table with the overfull-bucket cap applied, mirroring
    * Dedup.capBuckets (bands extracted in the unsigned HUGEINT domain —
    * BIGINT >> would arithmetic-shift the sign bit into bands). */
  private def simhashBandCtes: String = {
    val arms = (0 until 4).map(b =>
      s"SELECT doc_id, ${signWrap("hu")} AS sh, $b AS b, " +
        s"(hu // ${pow2(16 * b)}) % 65536 AS bv FROM fp")
      .mkString("\n  UNION ALL ")
    s"""bandex AS (
       |  $arms),
       |bkeep AS (SELECT b, bv FROM bandex GROUP BY b, bv
       |          HAVING count(*) <= ${graft.operators.Dedup.defaultMaxBucket}),
       |bfil AS (SELECT bandex.* FROM bandex JOIN bkeep USING (b, bv))""".stripMargin
  }

  /** d39: banded candidate pairs with exact Hamming ≤ 3 (occurrence
    * voting). DISTINCT: a pair sharing several bands must appear once. */
  private lazy val simhashPairsOracle: String =
    s"""WITH ${simhashFpCtes(distinctWords = false)},
       |$simhashBandCtes
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM bfil a JOIN bfil b
       |  ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** d42: per-document set-SimHash fingerprints. */
  private lazy val simhashSetOracle: String =
    s"""WITH ${simhashFpCtes(distinctWords = true)}
       |SELECT doc_id, ${signWrap("hu")} AS simhash
       |FROM fp ORDER BY doc_id""".stripMargin

  /** d43: banded SimHash candidates (Hamming ≤ 8) verified by exact
    * 3-gram Jaccard ≥ 0.5 under the df ≤ 20 cap — the candidates→verify
    * semantics replayed end to end. */
  private lazy val simhashVerifiedOracle: String =
    s"""WITH ${simhashFpCtes(distinctWords = false)},
       |$simhashBandCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bfil a JOIN bfil b
       |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 8),
       |$ngramPairCtes
       |SELECT i.id_a, i.id_b,
       |       inter / (sa.sz + sb.sz - inter) AS jaccard
       |FROM inter i
       |JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
       |JOIN sizes sa ON sa.doc_id = i.id_a
       |JOIN sizes sb ON sb.doc_id = i.id_b
       |WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
       |ORDER BY i.id_a, i.id_b""".stripMargin
}
