package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Similarity
import graft.operators.Materialize.Ops

/** Similarity-search operators over the embeddings table (64-dim float
  * vectors). The brute-force query is the exactness baseline and is
  * oracled bitwise (sequential-fold cosine on both sides); the LSH / IVF
  * variants are the approximate scale paths (rows-only checks; recall is
  * spec-tested on planted duplicates).
  */
object SimilarityQueries {

  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "embeddings")

  /** The DuckDB mirror of Similarity.cosine's sequential fold. */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |  * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  val all: Seq[Q] = Seq(

    // exact cosine top-10 for 5 fixed query vectors — bitwise-oracled
    Q("s41_knn_brute", Some(knnBruteOracle),
      (s, d) => Similarity.bruteForceKnn(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)),

    // exact MRR of the IVF path (s61): where does the TRUE nearest
    // neighbor land in s43's top-10? Reciprocal ranks scale by
    // 2520 = lcm(1..10), so Σ 1/rank is exact integer arithmetic and
    // MRR is one division (rule 17) — the standard IR readout with no
    // float summation. A miss contributes 0.
    Q("s61_ivf_mrr", Some(ivfMrrOracle),
      (s, d) => {
        val e = emb(s, d)
        val truth = Similarity.bruteForceKnn(
          e, e.filter(col("vec_id") < 5), k = 1)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity.ivfSearch(
          e, e.filter(col("vec_id") < 5), k = 10, nProbe = 2)
          .select(col("q_id"), col("vec_id"), col("rank"))
        truth.join(approx, Seq("q_id", "vec_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce(expr("2520 DIV rank"), lit(0L)))
              .as("sum_rr_scaled"))
          .select(col("n_queries"),
            col("sum_rr_scaled").cast("bigint").as("sum_rr_scaled"),
            (col("sum_rr_scaled").cast("double")
              / (col("n_queries") * lit(2520L)).cast("double")).as("mrr"))
      }),

    // nDCG@10 of the exact cosine run against same-label relevance
    // (s64): the graded-ranking readout beside s61's MRR and s60's
    // recall — position-discounted, so it sees WHERE the relevant hits
    // land, not just whether they land. DCG weights 1/log2(i+1) are
    // INTEGER-scaled Scala constants (⌊1e12/log2(i+1)⌉, one definition
    // feeding both engines — rule 12), so per-query DCG is an exact
    // integer sum with no float summation (rule 3); nDCG is one
    // division. The ideal list draws from the whole corpus:
    // r_avail = min(k, same-label corpus count − 1).
    Q("s64_ndcg", Some(ndcgOracle),
      (s, d) => {
        val e = emb(s, d)
        val run = Similarity.bruteForceKnn(
          e, e.filter(col("vec_id") < 5), k = 10)
          .select(col("q_id"), col("vec_id"), col("rank"))
        val lbl = e.select(col("vec_id"), col("label"))
        val q = lbl.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"))
        val wArr = array(ndcgW.map(lit): _*)
        val iArr = array(ndcgIdcg.map(lit): _*) // idcg at r_avail = 1..10
        val dcg = run.join(lbl, Seq("vec_id"))
          .join(broadcast(q), Seq("q_id"))
          .groupBy(col("q_id"), col("q_label"))
          .agg(sum(when(col("label") === col("q_label"),
            element_at(wArr, col("rank"))).otherwise(0L)).as("dcg_scaled"))
        val lc = e.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
        dcg.join(broadcast(lc), col("q_label") === col("label"))
          .withColumn("r_avail", least(lit(10L), col("cnt") - 1))
          .select(col("q_id"), col("r_avail"),
            col("dcg_scaled").cast("bigint").as("dcg_scaled"),
            when(col("r_avail") < 1, lit(0L))
              .otherwise(element_at(iArr, col("r_avail").cast("int")))
              .as("idcg_scaled"))
          .withColumn("ndcg",
            when(col("idcg_scaled") > 0,
              col("dcg_scaled").cast("double") /
                col("idcg_scaled").cast("double")).otherwise(lit(0.0)))
          .orderBy(col("q_id"))
      }),

    // semantic benchmark decontamination (d69): d45's check in
    // embedding space — per corpus vector the max cosine against the
    // benchmark set (vec_id < 5) and a flag at 0.8, nearest item with
    // id tiebreak. Catches the paraphrase/translation leakage that
    // shares no n-grams. Threshold literal through dlit (rule 14).
    Q("d69_semantic_decontam", Some(semanticDecontamOracle),
      (s, d) => Similarity.semanticDecontam(emb(s, d))),

    // d69's documented scale path (d73): exact cosines only against the
    // Hamming-≤1 LSH shortlist of the (broadcast) benchmark buckets —
    // the |corpus|·|bench| dense scan becomes per-collision work. The
    // oracle replays the SHORTLIST itself (plane-literal signatures +
    // the xor-mask membership), so the gate pins the mechanics exactly;
    // recall economics are probed at 525k and DecontamParitySpec pins
    // ANN ≡ dense flag sets.
    Q("d73_decontam_ann", Some(decontamAnnOracle),
      (s, d) => Similarity.semanticDecontamAnn(emb(s, d))),

    // margin-based bitext mining (s65): the CCMatrix/LASER criterion —
    // cos minus each side's mean k-NN cosine (hubness-cancelling
    // "distance" margin), mutual argmax across the two parity sides.
    // Neighborhood means sum floor-scaled int64 cosines (rule 17);
    // the margin double DAG mirrors textually. Probe batch broadcast,
    // per-side windows partitioned (rule 23); the 100 TB path swaps the
    // dense scored frame for an LSH/IVF shortlist into the same scorer.
    Q("s65_bitext_mining", Some(bitextOracle),
      (s, d) => Similarity.bitextMine(emb(s, d))),

    // IVF recall-vs-nprobe curve (s60): the tuning table a user reads
    // before picking the probe count — recall@10 of s43's search at
    // nProbe 1/2/4 against the exact top-10, one row per knob value.
    // Exact top-10 materializes ONCE and feeds all three arms; each
    // recall is one exact division.
    Q("s60_ivf_nprobe_curve", Some(ivfNprobeCurveOracle),
      (s, d) => {
        val e = emb(s, d)
        val exact = Similarity.bruteForceKnn(
          e, e.filter(col("vec_id") < 5), k = 10)
          .select(col("q_id"), col("vec_id"))
          .materializeOnce() // feeds the hit join + total in all 3 arms
        // one cell map + ONE centroid aggregate shared by all three
        // knob arms (r14 — each arm used to rebuild the whole index)
        val (cells, cents) = Similarity.ivfPrepared(e)
        Seq(1, 2, 4).map { np =>
          val approx = Similarity.ivfSearchFrom(
            cells, cents, e.filter(col("vec_id") < 5), k = 10, nProbe = np)
            .select(col("q_id"), col("vec_id"))
          exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
            .agg(count(lit(1)).as("n_hit"))
            .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
            .select(lit(np.toLong).as("nprobe"), col("n_exact"),
              col("n_hit"),
              (col("n_hit").cast("double") / col("n_exact").cast("double"))
                .as("recall"))
        }.reduce(_ unionByName _).orderBy(col("nprobe"))
      }),

    // multi-probe LSH approximate top-k. Deterministic end to end (the
    // planes are fixed-seed literals), so the ORACLE REPLAYS THE ACTUAL
    // APPROXIMATE SEMANTICS — signatures, Hamming-1 probe set, candidate
    // ranking — with the plane doubles interpolated from the SAME Scala
    // array the Spark side uses (one definition, two engines, no drift).
    Q("s42_knn_lsh", Some(knnLshOracle),
      (s, d) => Similarity.annLsh(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)),

    // embedding near-dup pairs: LSH bucket join + exact cosine threshold.
    // Oracled against the brute-force O(N²) DuckDB equivalent: candidates
    // found by LSH are a subset, so this also *asserts recall* — any pair
    // the buckets miss fails the hash match. (On this corpus the pair set
    // at 0.95 is empty, making subset == exact set; the mechanism's
    // recall on actual dups is spec-tested with planted vectors.)
    Q("d41_embed_neardup", Some(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${cosSql("a.embedding", "b.embedding")} AS cos
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.95
         |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => Similarity.embeddingNearDupes(emb(s, d), threshold = 0.95)),

    // semantic dedup (SemDeDup-shaped — Abbas et al. 2023, on the LSH
    // rather than k-means coarse partitioner): multi-table LSH proposes
    // candidate pairs, exact cosine >= 0.45 confirms edges, connected
    // components collapse transitive groups, one survivor (+ size) per
    // cluster. The oracle replays the ACTUAL approximate semantics —
    // all four signature tables, the cosine cut, and reachability via a
    // recursive CTE — so the hash match checks the real pipeline, not a
    // recall assumption.
    Q("d48_semantic_dedup", Some(semanticDedupOracle),
      (s, d) => {
        val pairs = Similarity.embeddingNearDupes(emb(s, d),
          threshold = 0.45, nBits = 4, tables = 4)
        graft.operators.Dedup.connectedComponents(
          pairs.select(col("id_a"), col("id_b")))
          .groupBy(col("cluster_id"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_members"))
          .orderBy(col("cluster_id"))
      }),

    // determinized DBSCAN over the embedding space (d67): density-based
    // clustering with cosine ≥ 0.40 as the ε-neighborhood and
    // minPts = 3 — finds dense regions WITHOUT a cluster count and
    // names the noise (the "mine the residue" curation readout beside
    // d48's threshold-dedup). The ε-join is the exact all-pairs cosine,
    // so the oracle is brute-force DBSCAN verbatim: counts, core set,
    // recursive reachability over core–core edges, min-label border
    // attachment — no recall assumption anywhere.
    Q("d67_dbscan", Some(dbscanOracle),
      (s, d) => Similarity.dbscan(emb(s, d), threshold = 0.40, minPts = 3)),

    // the PRODUCTION arm of d67 (VERDICT r12 directive #3): the ε-pair
    // proposer swaps from the exact quadratic join to the multi-table
    // LSH shortlist (d41/d48 machinery — what a 100 TB run executes),
    // with the SAME corpus-linear DBSCAN downstream. The oracle
    // replays the actual LSH proposal (shared plane constants), so the
    // hash match covers the real pipeline with no recall assumption;
    // the benched d67-series now times this arm, keeping the exact arm
    // for the gate/oracle contract.
    Q("d67b_dbscan", Some(dbscanLshOracle),
      (s, d) => Similarity.dbscanFromPairs(emb(s, d),
        Similarity.embeddingNearDupes(emb(s, d),
          threshold = 0.40, nBits = 4, tables = 4),
        minPts = 3)),

    // IVF-style coarse-quantized search (centroid probe → cell-local
    // scan). The fixed-point centroid sum (Similarity.ivfSearch) makes
    // the whole pipeline order-independent, so the oracle replays it
    // exactly: cells, integer centroid sums, probe ranking, cell-local
    // cosine top-k.
    Q("s43_knn_ivf", Some(knnIvfOracle),
      (s, d) => Similarity.ivfSearch(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10, nProbe = 2)),

    // IVF search against a PERSISTED index (s51): cells + fixed-point
    // centroids written once per JVM (Staging.ivfIndexDir — a prior
    // run's artifact), queries served from the index without
    // re-assigning the corpus. Output identical to s43 by construction
    // (floats and centroids round-trip parquet bit-exactly, shared
    // search core; IvfIndexSpec asserts store ≡ recompute), so it
    // shares s43's oracle verbatim — the d53 pattern for vectors.
    Q("s51_knn_ivf_store", Some(knnIvfOracle),
      (s, d) => Similarity.searchIvfIndex(
        s, emb(s, d).filter(col("vec_id") < 5),
        Staging.ivfIndexDir(s, d), k = 10, nProbe = 2)),

    // LIVE-store cell-balance audit (s71): s59's histogram computed
    // the way a maintenance scheduler actually runs it — over the
    // persisted postings THROUGH the tombstone anti-join, so the
    // audit describes what searches scan between compactions (s59
    // recomputes from the raw corpus and cannot see deletes). Runs
    // against the s68 store (tombstoned, uncompacted); the oracle is
    // the never-ingested arm's histogram over the shared plane
    // literals. Ratios are integer DIV + the hot-cell factor
    // (max·cells/total per-mille), the number that schedules a
    // retrain (s70).
    Q("s71_store_balance", Some(storeBalanceOracle),
      (s, d) => Similarity.ivfCellBalance(s, Staging.ivfDeleteDir(s, d))),

    // incremental IVF insert without retraining (s66): the delta batch
    // is cell-assigned by the SAME frozen planes and appended to the
    // postings; the centroid artifact never changes. The oracle is the
    // frozen-quantizer recompute arm (centroids from the base slice,
    // postings over the union) — store ≡ recompute scoped exactly to
    // what no-retrain insert promises; IvfIndexSpec additionally pins
    // that the append left the centroid files byte-identical.
    Q("s66_ivf_insert", Some(ivfInsertOracle),
      (s, d) => Similarity.searchIvfIndex(
        s, emb(s, d).filter(col("vec_id") < 5),
        Staging.ivfInsertDir(s, d), k = 10, nProbe = 2)),

    // tombstone delete from the IVF store (s68): the third lifecycle
    // verb — deleted ids append to a tombstone set the search
    // anti-joins at read time (no postings rewrite on the delete
    // path); compaction applies them physically. The oracle is the
    // s66 arm with the tombstoned slice simply absent — logical
    // delete must be observationally identical to never-ingested.
    Q("s68_ivf_delete", Some(ivfDeleteOracle),
      (s, d) => Similarity.searchIvfIndex(
        s, emb(s, d).filter(col("vec_id") < 5),
        Staging.ivfDeleteDir(s, d), k = 10, nProbe = 2)),

    // streaming vector ingest into the IVF store (s67): the s66 insert
    // run as an online loop — the delta arrives as two file batches,
    // each cell-assigned by the frozen quantizer and idempotently
    // landed in a batch-keyed postings subdir inside foreachBatch.
    // Stream ≡ batch by construction (assignment is stateless, postings
    // are a set), so the query shares s66's frozen-quantizer oracle,
    // which never saw a stream — the q153 proof shape for vectors.
    Q("s67_stream_ivf_ingest", Some(ivfInsertOracle),
      (s, d) => {
        val e = emb(s, d)
        val root = Staging.tempDir("graft_s67")
        val index = s"$root/index"
        Similarity.writeIvfIndex(
          e.filter(col("vec_id") < 5 || col("vec_id") >= 100), index)
        val in = s"$root/in"
        Staging.stageFrames((0 until 2).map(i =>
          e.filter(col("vec_id") >= 5 && col("vec_id") < 100
            && pmod(col("vec_id"), lit(2)) === i)), in)
        graft.streaming.EventPipeline.withStreamPartitions(s, 8) {
          val q = graft.streaming.IngestVectors.start(
            s, in, index, s"$root/chk")
          try q.processAllAvailable() finally q.stop()
        }
        Similarity.searchIvfIndex(
          s, e.filter(col("vec_id") < 5), index, k = 10, nProbe = 2)
      }),

    // random-projection first-pass ANN: corpus and queries reduced to 16
    // dims by fixed-seed JL planes, exact top-k in the reduced space.
    // Every reduced component is the proven sequential fold, so the
    // oracle replays the actual reduced-space ranking bitwise.
    Q("s44_knn_rp", Some(knnRpOracle),
      (s, d) => Similarity.knnRandomProjection(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)),

    // product quantization + asymmetric distance: per-subspace codebooks
    // (fixed-point centroids of 4-bit LSH cells), L2 argmin encoding,
    // query-to-centroid dot tables summed over the code in fixed
    // expression order. The oracle replays codebook build, encoding and
    // ADC scoring exactly — 16× index compression whose approximation is
    // itself hash-checked.
    Q("s46_pq_adc", Some(pqAdcOracle),
      (s, d) => Similarity.pqAdc(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)),

    // recall@10 of the LSH ANN (s42) against the exact ranking (s41):
    // the approximation contract as a GATED NUMBER instead of spec
    // prose. Both inputs are deterministic and individually oracled, so
    // the joined recall is too — the oracle replays both pipelines and
    // the same left-join/count. A user reads per-query recall here
    // before trusting s42 at scale.
    Q("s47_ann_recall", Some(annRecallOracle),
      (s, d) => {
        // 50 rows — checkpoint so the brute-force scoring join is not
        // re-run for the second aggregate that reads it (rule 5)
        val exact = Similarity.bruteForceKnn(
          emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)
          .select(col("q_id"), col("vec_id")).materializeOnce()
        val approx = Similarity.annLsh(
          emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)
          .select(col("q_id"), col("vec_id"))
        val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), col("n_exact"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            // double / int64: one correctly-rounded IEEE divide,
            // identical in both engines (rule 17's safe shape)
            (coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_exact")).as("recall_at_k"))
          .orderBy(col("q_id"))
      }),

    // IVFADC: coarse quantizer + product quantization of the residual
    // (s43 and s46 composed — the full Jégou '11 pipeline). Fixed-point
    // centroids at both levels keep every stage order-independent, so
    // the oracle replays cells, residuals, codebooks, codes, probe
    // choice and the fixed-order ADC sum end to end.
    Q("s48_pq_ivf_adc", Some(pqIvfAdcOracle),
      (s, d) => Similarity.pqIvfAdc(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)),

    // recall@10 of the quantized ANN paths — IVF (s43) and IVFADC
    // (s48) — against the exact ranking: one gated recall table for the
    // whole compressed-index family, s47's contract extended to the
    // quantizers. The oracle nests the three already-proven pipeline
    // replays as derived tables and re-joins them, so a quantization
    // change that moves recall fails THIS gate even though s43/s48
    // (which gate the approximate outputs themselves) still pass.
    Q("s49_quantizer_recall", Some(quantizerRecallOracle),
      (s, d) => {
        val qs = emb(s, d).filter(col("vec_id") < 5)
        // 50 rows — checkpoint: the exact ranking feeds the denominator
        // aggregate and both methods' hit joins (rule 5)
        val exact = Similarity.bruteForceKnn(emb(s, d), qs, k = 10)
          .select(col("q_id"), col("vec_id")).materializeOnce()
        val denom = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
        def recallOf(method: String, approx: org.apache.spark.sql.DataFrame) = {
          val hits = exact
            .join(approx.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_semi")
            .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
          denom.join(hits, Seq("q_id"), "left")
            .select(lit(method).as("method"), col("q_id"), col("n_exact"),
              coalesce(col("n_hit"), lit(0L)).as("n_hit"),
              (coalesce(col("n_hit"), lit(0L)).cast("double") /
                col("n_exact")).as("recall_at_k"))
        }
        recallOf("ivf", Similarity.ivfSearch(emb(s, d), qs, k = 10, nProbe = 2))
          .union(recallOf("ivfadc", Similarity.pqIvfAdc(emb(s, d), qs, k = 10)))
          .orderBy(col("method"), col("q_id"))
      }),

    // one deterministic Lloyd iteration: IVF-cell centroids → cosine
    // reassignment → fixed-point centroid recompute. The oracle replays
    // cells, integer sums, the argmax (with its cand-id tiebreak), and
    // the per-cell move counts; c0/c1 are the first two recomputed
    // centroid components (scalars — a full list column would hit
    // pandas' array-vs-list stringification gap in the driver compare).
    Q("s45_kmeans_step", Some(kmeansStepOracle),
      (s, d) => Similarity.kmeansStep(emb(s, d))
        .select(col("cell"), col("n"), col("n_moved"),
          col("centroid").getItem(0).as("c0"),
          col("centroid").getItem(1).as("c1"))
        .orderBy(col("cell"))),

    // nearest-class-centroid confusion matrix over the labeled
    // embeddings — the pipeline sanity check that a new embedding
    // batch carries its labeling signal. Fixed-point per-label
    // centroids + sequential-fold cosine assignment, so the oracle
    // replays the whole evaluation exactly (ivfSearch's determinism
    // contract with label as the cell key).
    Q("s50_label_centroid", Some(labelCentroidOracle),
      (s, d) => Similarity.labelCentroidConfusion(emb(s, d))),

    // IVFADC+R (s52): the s48 shortlist (top-40 by quantized score)
    // re-scored with EXACT cosine on the original vectors, final top-10
    // from the exact scores — the refinement step of Jégou's billion-
    // scale pipeline. The oracle nests the s48 replay at the shortlist
    // cut and re-ranks it with the s41 cosine fold, so the hash match
    // covers shortlist choice AND refinement arithmetic end to end.
    Q("s52_pq_ivf_adc_rerank", Some(pqIvfAdcRerankOracle),
      (s, d) => Similarity.pqIvfAdcRerank(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10)),

    // hard-negative mining (s53): per query, top-10 most-similar
    // vectors BELOW the near-dup ceiling — the dense-retrieval
    // training-data recipe (informative negatives, dups excluded as
    // false negatives). Exact scoring oracled like s41; the ceiling
    // literal goes through dlit (rule 14).
    Q("s53_hard_negatives", Some(hardNegativesOracle),
      (s, d) => Similarity.hardNegatives(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10,
        dupCeiling = hardNegCeiling)),

    // greedy k-center coreset (s54): González farthest-point traversal
    // over fixed-point integer distances — the diversity-sampling /
    // coreset-selection primitive. Every pick's argmax is integer-exact
    // with a vec_id tiebreak, so the oracle replays the whole traversal
    // as an unrolled CTE chain (one d_t/p_t pair per pick) and the hash
    // match covers pick order AND the coverage-radius curve.
    Q("s54_kcenter_coreset", Some(kCenterOracle),
      (s, d) => Similarity.kCenterCoreset(emb(s, d), k = kCenterK)),

    // dominant principal direction (s55): integer power iteration on
    // the normalized second-moment matrix — the all-but-the-top
    // embedding post-processing primitive. One corpus pass builds Ĝ;
    // every iteration is 64-row × 4096-row arithmetic, all int64 with
    // floorDiv renormalization, so the oracle replays all 8 iterations
    // bit-for-bit (unrolled w/m/v CTE triplets).
    Q("s55_power_iteration", Some(powerIterOracle),
      (s, d) => Similarity.dominantDirection(
        emb(s, d), dim = 64, iters = powerIters)),

    // all-but-the-top alignment diagnostic (s56): top-20 vectors whose
    // energy the dominant direction owns — (e·u)²/(e·e·u·u) from exact
    // integer dot products, three IEEE ops in fixed order. The oracle
    // nests the full s55 replay to rebuild u, so the hash match covers
    // the direction AND the per-vector ranking end to end.
    Q("s56_abtt_alignment", Some(abttAlignOracle),
      (s, d) => Similarity.topAligned(
        emb(s, d), k = 20, dim = 64, iters = powerIters)),

    // Matryoshka prefix-dim recall (s57): exact top-10 over the first
    // 16 dims vs the full 64 — per-query overlap as a hash-gated
    // number, the go/no-go for serving a 4× cheaper prefix index as
    // first-stage retrieval. Both rankings replay the s41 fold; a
    // zero-overlap query still appears (recall 0 IS the finding).
    Q("s57_matryoshka_recall", Some(matryoshkaOracle),
      (s, d) => Similarity.prefixDimRecall(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 10,
        prefixDim = 16)),

    // hybrid retrieval (s58): BM25 (t56, sparse arm) ⊕ brute-force
    // cosine (s41 shape, dense arm) fused by reciprocal-rank fusion —
    // the production two-tower + lexical search combiner. doc_id and
    // vec_id share the id space, query_id 0/1 pairs the derived BM25
    // term sets with query vectors 0/1. Fused contributions are exact
    // integers (10^9 div (60+rank)), so the output is hash-oracled even
    // though the dense arm's ranks come from float cosines — the oracle
    // replays BOTH arms' CTE chains (t56's verbatim via bm25Ctes) and
    // the same integer fusion.
    Q("s58_hybrid_rrf", Some(hybridRrfOracle),
      (s, d) => {
        import graft.operators.Retrieval
        val docs = Tables.load(s, d, "documents")
        val sparse = Retrieval.bm25TopKDerived(docs, k = 50)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val dense = Similarity.bruteForceKnn(
          emb(s, d), emb(s, d).filter(col("vec_id") < 2), k = 50)
          .select(col("q_id").as("query_id"),
            col("vec_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
      }),

    // IVF posting-list balance audit (s59): per-cell corpus share and
    // balance = n·n_cells/total — the index-health number that bounds
    // probe latency. Exact counts; two single-division doubles; the
    // cell assignment replays the SAME plane literals as s43/s51.
    Q("s59_ivf_balance", Some(ivfBalanceOracle),
      (s, d) => Similarity.ivfBalance(emb(s, d))),

    // MMR diversified re-rank (s62): greedy λ·relevance −
    // (1−λ)·redundancy selection over the exact top-20 shortlist —
    // the diversification pass between retrieval and a RAG prompt.
    // Integer λ-weights, fold cosines, vec_id tiebreaks: the greedy
    // trajectory is unique, and the oracle replays every round as a
    // generated CTE chain (rules 12/13/22).
    Q("s62_mmr_rerank", Some(mmrOracle),
      (s, d) => Similarity.mmrRerank(
        emb(s, d), emb(s, d).filter(col("vec_id") < 5), k = 5, m = 20)),

    // centroid drift between two labeled embedding populations (s63):
    // cosine of the group centroids — the embedding-space drift
    // monitor beside the value-space family (t66/t68/t64). Fixed-point
    // per-dim sums (exact in double: float mantissa · 2^20; ties away
    // from zero in both engines), decimal products, one sqrt/divide
    // DAG; cosine is scale-invariant so sums stand in for means.
    Q("s63_centroid_drift", Some(
      """WITH base AS (
        |  SELECT g, x.d AS d,
        |    CAST(round(CAST(x.v AS DOUBLE) * 1048576) AS BIGINT) AS q
        |  FROM (SELECT CAST(label AS BIGINT) AS g,
        |          unnest(list_transform(range(1, len(embedding) + 1),
        |            i -> {'d': i - 1, 'v': embedding[i]})) AS x
        |        FROM embeddings WHERE label IN (0, 1))),
        |sums AS MATERIALIZED (
        |         SELECT g, d, sum(q) AS s, count(*) AS n
        |         FROM base GROUP BY 1, 2),
        |j AS (SELECT a.d, a.s AS sa, b.s AS sb, a.n AS na, b.n AS nb
        |      FROM sums a JOIN sums b ON a.d = b.d AND a.g = 0 AND b.g = 1)
        |SELECT CAST(max(na) AS BIGINT) AS na, CAST(max(nb) AS BIGINT) AS nb,
        |  CAST(sum(sa * sb) AS DOUBLE)
        |    / (sqrt(CAST(sum(sa * sa) AS DOUBLE))
        |       * sqrt(CAST(sum(sb * sb) AS DOUBLE))) AS centroid_cos
        |FROM j""".stripMargin),
      (s, d) => Similarity.centroidDrift(
        emb(s, d), col("label"), "embedding", ga = 0L, gb = 1L))
  )

  /** s62: the shortlist + pairwise-sim tables MATERIALIZED once, then
    * each greedy round as cand/pen/score/pick CTEs chained off the
    * previous selection — one definition of λ and the round count for
    * both engines (Similarity.mmrLambda*, k, m interpolated). */
  private lazy val mmrOracle: String = {
    val k = 5
    val m = 20
    val lNum = Similarity.mmrLambdaNum
    val lInv = Similarity.mmrLambdaDen - Similarity.mmrLambdaNum
    val lDen = Similarity.mmrLambdaDen
    val rounds = (2 to k).map { r =>
      s"""cand$r AS (SELECT sl.q_id, sl.vec_id, sl.cos FROM sl
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
         |    WHERE s.q_id = sl.q_id AND s.vec_id = sl.vec_id)),
         |pen$r AS (SELECT ps.q_id, ps.id_a AS vec_id, max(ps.sim) AS mx
         |  FROM ps JOIN sel${r - 1} s
         |    ON s.q_id = ps.q_id AND s.vec_id = ps.id_b
         |  GROUP BY 1, 2),
         |sc$r AS (SELECT c.q_id, c.vec_id,
         |    ($lNum * c.cos - $lInv * p.mx) / $lDen AS score
         |  FROM cand$r c JOIN pen$r p USING (q_id, vec_id)),
         |pick$r AS (SELECT q_id, vec_id, score, $r AS mmr_rank FROM (
         |    SELECT sc$r.*, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, vec_id) AS rn FROM sc$r) WHERE rn = 1),
         |sel$r AS MATERIALIZED (
         |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |           FROM embeddings WHERE vec_id < 5),
       |sl AS MATERIALIZED (
       |  SELECT q_id, vec_id, cos, rank FROM (
       |    SELECT q_id, vec_id, cos, row_number() OVER (
       |      PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM (SELECT q.q_id, e.vec_id,
       |            ${cosSql("q.q_emb", "e.embedding")} AS cos
       |          FROM embeddings e JOIN q ON e.vec_id <> q.q_id))
       |  WHERE rank <= $m),
       |ps AS MATERIALIZED (
       |  SELECT a.q_id, a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosSql("ea.embedding", "eb.embedding")} AS sim
       |  FROM sl a JOIN sl b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT q_id, vec_id, ($lNum * cos) / $lDen AS score, 1 AS mmr_rank
       |  FROM sl WHERE rank = 1),
       |$rounds
       |SELECT q_id, vec_id, score, CAST(mmr_rank AS BIGINT) AS mmr_rank
       |FROM sel$k ORDER BY q_id, mmr_rank""".stripMargin
  }

  /** s58 oracle: t56's CTE chain (shared definition) + the s41 dense
    * scoring + integer RRF. */
  private lazy val hybridRrfOracle: String =
    s"""WITH ${TextQueries.bm25Ctes},
       |sp AS (SELECT query_id, doc_id, 1000000000 // (60 + rank) AS contrib
       |       FROM rk WHERE rank <= 50),
       |dq AS (SELECT vec_id AS q_id, embedding AS q_emb
       |       FROM embeddings WHERE vec_id < 2),
       |dscored AS (
       |  SELECT dq.q_id, e.vec_id, ${cosSql("dq.q_emb", "e.embedding")} AS cos
       |  FROM embeddings e JOIN dq ON e.vec_id <> dq.q_id),
       |dranked AS (
       |  SELECT q_id, vec_id, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM dscored),
       |dn AS (SELECT q_id AS query_id, vec_id AS doc_id,
       |              1000000000 // (60 + rank) AS contrib
       |       FROM dranked WHERE rank <= 50),
       |u AS (SELECT * FROM sp UNION ALL SELECT * FROM dn),
       |f AS (SELECT query_id, doc_id, sum(contrib) AS rrf, count(*) AS n_arms
       |      FROM u GROUP BY 1, 2),
       |fr AS (SELECT *, row_number() OVER (
       |         PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
       |       FROM f)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |       CAST(rrf AS BIGINT) AS rrf_score, CAST(n_arms AS BIGINT) AS n_arms
       |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** s55's iteration count — one constant drives the Spark loop AND
    * the unrolled oracle CTEs. */
  private lazy val powerIters: Int = 8

  /** s54's pick count — one Scala constant drives the Spark loop AND
    * the unrolled oracle CTE chain. */
  private lazy val kCenterK: Int = 8

  /** s53's near-dup exclusion ceiling — one Scala constant drives both
    * engines (the oracle interpolates it via dlit). */
  private lazy val hardNegCeiling: Double = 0.9

  // ---- generated-oracle SQL for the LSH / IVF paths ----
  //
  // The hyperplanes are deterministic fixed-seed doubles; interpolating
  // them as literals into DuckDB SQL (Double.toString round-trips the
  // exact bit pattern through DuckDB's parser) replays the signature
  // arithmetic bit-for-bit. All lazy: `all` above initializes first
  // (object init order — CLAUDE.md rule 11).

  /** A double literal DuckDB parses NATIVELY as DOUBLE. A bare decimal
    * literal (even with ::DOUBLE appended) first becomes DECIMAL(w,s),
    * whose 16+-digit mantissa no longer fits a 53-bit significand — a
    * 1-ulp drift that s42's sign-only use masked but s44's value-level
    * hash match exposed. An exponent suffix switches DuckDB's parser to
    * the correctly-rounded double path, bit-identical to the Scala
    * side. Double.toString already emits E-notation for extreme
    * magnitudes — only suffix when it didn't. */
  private[queries] def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  /** DuckDB mirror of Similarity.signature's per-plane dot product:
    * sequential list fold in doubles against the literal plane. */
  private def planeDotSql(emb: String, plane: Array[Double]): String =
    s"""list_sum(list_transform(list_zip($emb, [${plane.map(dlit).mkString(", ")}]),
       |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))""".stripMargin

  /** DuckDB mirror of Similarity.signature: bit i set where dot_i >= 0. */
  private def sigSql(emb: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (pl, i) =>
      s"(CASE WHEN ${planeDotSql(emb, pl)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n + ", ")")

  private lazy val lshPlanes = Similarity.hyperplanes(8, 64, seed = 42L)
  private lazy val ivfPlanes = Similarity.hyperplanes(4, 64, seed = 7L)

  /** s41: exact cosine top-10 — also nested (as a derived table) by the
    * s49 recall gate, which is why it lives in a val. */
  private lazy val knnBruteOracle: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, ${cosSql("q.q_emb", "e.embedding")} AS cos
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** d69: the same cosine fold, max/argmax via a rank window with the
    * id tiebreak, flag compared against the dlit'd threshold. */
  private lazy val semanticDecontamOracle: String =
    s"""WITH bench AS (
       |  SELECT vec_id AS b_id, embedding AS b_emb FROM embeddings
       |  WHERE vec_id < 5),
       |scored AS (
       |  SELECT e.vec_id, b.b_id,
       |         ${cosSql("b.b_emb", "e.embedding")} AS cos
       |  FROM embeddings e JOIN bench b ON e.vec_id <> b.b_id
       |  WHERE e.vec_id >= 5),
       |ranked AS (
       |  SELECT vec_id, b_id, cos, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, b_id) AS r
       |  FROM scored)
       |SELECT vec_id, b_id AS nearest_bench, cos AS max_cos,
       |       cos >= ${dlit(0.8)} AS flagged
       |FROM ranked WHERE r = 1
       |ORDER BY vec_id""".stripMargin

  /** d73: shortlist replay of Similarity.semanticDecontamAnn — the
    * plane-literal signatures (the s42 machinery, same planes), the
    * Hamming-≤1 membership as an xor-IN-masks predicate (one pair has
    * one xor value ⟺ Spark's single-mask equi-join), the same argmax
    * window and the keep-all left join for "nothing near" rows. */
  private lazy val decontamAnnOracle: String = {
    val maskList = (0L +: (0 until 8).map(i => 1L << i)).mkString(", ")
    s"""WITH sigs AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |         ${sigSql("embedding", lshPlanes)} AS sig
       |  FROM embeddings),
       |bench AS (SELECT vec_id AS b_id, embedding AS b_emb, sig AS b_sig
       |          FROM sigs WHERE vec_id < 5),
       |corpus AS (SELECT vec_id, embedding, sig FROM sigs WHERE vec_id >= 5),
       |cand AS (
       |  SELECT c.vec_id, b.b_id, ${cosSql("b.b_emb", "c.embedding")} AS cos
       |  FROM corpus c JOIN bench b
       |    ON c.vec_id <> b.b_id AND xor(c.sig, b.b_sig) IN ($maskList)),
       |best AS (
       |  SELECT vec_id, b_id, cos FROM (
       |    SELECT vec_id, b_id, cos, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos DESC, b_id) AS r
       |    FROM cand)
       |  WHERE r = 1)
       |SELECT c.vec_id, best.b_id AS nearest_bench, best.cos AS max_cos,
       |       coalesce(best.cos >= ${dlit(0.8)}, false) AS flagged
       |FROM corpus c LEFT JOIN best ON best.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  /** s65: textual mirror of Similarity.bitextMine — the same cosine
    * fold, floor-scaled k-NN neighborhood sums (exact ints), the same
    * double DAG for the margin, mutual argmax with id tiebreaks. The
    * probe bound (vec_id < 20, even) and k = 4 mirror the operator's
    * defaults; scored/marg are shared frames (rule 22). */
  private lazy val bitextOracle: String =
    s"""WITH x AS (SELECT vec_id AS x_id, embedding AS x_emb FROM embeddings
       |           WHERE vec_id < 20 AND vec_id % 2 = 0),
       |yy AS (SELECT vec_id AS y_id, embedding AS y_emb FROM embeddings
       |       WHERE vec_id % 2 = 1),
       |scored AS MATERIALIZED (
       |  SELECT x_id, y_id, cos,
       |         CAST(floor(cos * 1e12) AS BIGINT) AS c12
       |  FROM (SELECT x_id, y_id, ${cosSql("x_emb", "y_emb")} AS cos
       |        FROM yy JOIN x ON y_id <> x_id)),
       |kx AS (SELECT x_id, CAST(sum(c12) AS BIGINT) AS sx, count(*) AS nx
       |       FROM (SELECT x_id, c12, row_number() OVER (
       |               PARTITION BY x_id ORDER BY cos DESC, y_id) AS r
       |             FROM scored)
       |       WHERE r <= 4 GROUP BY x_id),
       |ky AS (SELECT y_id, CAST(sum(c12) AS BIGINT) AS sy, count(*) AS ny
       |       FROM (SELECT y_id, c12, row_number() OVER (
       |               PARTITION BY y_id ORDER BY cos DESC, x_id) AS r
       |             FROM scored)
       |       WHERE r <= 4 GROUP BY y_id),
       |marg AS MATERIALIZED (
       |  SELECT s.x_id, s.y_id, s.cos,
       |         s.cos - 0.5e0 *
       |           (CAST(sx AS DOUBLE) / (CAST(nx AS DOUBLE) * 1e12)
       |            + CAST(sy AS DOUBLE) / (CAST(ny AS DOUBLE) * 1e12))
       |           AS margin
       |  FROM scored s JOIN kx USING (x_id) JOIN ky USING (y_id)),
       |bx AS (SELECT x_id, y_id, cos, margin
       |       FROM (SELECT *, row_number() OVER (
       |               PARTITION BY x_id ORDER BY margin DESC, y_id) AS rb
       |             FROM marg)
       |       WHERE rb = 1),
       |byy AS (SELECT x_id, y_id
       |        FROM (SELECT x_id, y_id, row_number() OVER (
       |                PARTITION BY y_id ORDER BY margin DESC, x_id) AS rb
       |              FROM marg)
       |        WHERE rb = 1)
       |SELECT bx.x_id, bx.y_id, bx.cos, bx.margin
       |FROM bx JOIN byy USING (x_id, y_id)
       |ORDER BY bx.x_id""".stripMargin

  /** The prefix zero-norm guard mirrored from Similarity
    * .prefixDimRecall's `cut` — the fold's squared norm. */
  private def sqNormSql(e: String): String =
    s"list_sum(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** s57: both rankings (full 64-dim and 16-dim prefix slices)
    * replayed with the s41 fold, overlap counted, recall = n/10. */
  private lazy val matryoshkaOracle: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |           FROM embeddings WHERE vec_id < 5),
       |rf AS (SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rank
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
       |  WHERE rank <= 10),
       |rp AS (SELECT q_id, vec_id FROM (
       |  SELECT q.q_id, e.vec_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${cosSql("q.q_emb[1:16]", "e.embedding[1:16]")} DESC,
       |        e.vec_id) AS rank
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
       |  WHERE ${sqNormSql("e.embedding[1:16]")} > 0
       |    AND ${sqNormSql("q.q_emb[1:16]")} > 0)
       |  WHERE rank <= 10),
       |ov AS (SELECT rf.q_id, count(*) AS n_overlap
       |       FROM rf JOIN rp ON rf.q_id = rp.q_id AND rf.vec_id = rp.vec_id
       |       GROUP BY rf.q_id)
       |SELECT q.q_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
       |    AS recall
       |FROM q LEFT JOIN ov ON q.q_id = ov.q_id
       |ORDER BY q.q_id""".stripMargin

  /** s53: the s41 brute replay with the near-dup ceiling applied
    * BEFORE ranking — ranks re-number over the surviving negatives. */
  private lazy val hardNegativesOracle: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, ${cosSql("q.q_emb", "e.embedding")} AS cos
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |neg AS (SELECT * FROM scored WHERE cos < ${dlit(hardNegCeiling)}),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM neg)
       |SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** s49: the three proven pipeline replays (exact s41, IVF s43,
    * IVFADC s48), each nested verbatim as a derived table, re-joined
    * into per-method recall@10 — one oracle, zero re-derivation. */
  private lazy val quantizerRecallOracle: String = {
    def recallSql(method: String, approxSql: String): String =
      s"""SELECT '$method' AS method, ex.q_id,
         |       count(*) AS n_exact,
         |       CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |       CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / count(*) AS recall_at_k
         |FROM (SELECT q_id, vec_id FROM ($knnBruteOracle) t) ex
         |LEFT JOIN (SELECT q_id, vec_id FROM ($approxSql) t) ap
         |  ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
         |GROUP BY ex.q_id""".stripMargin
    s"""SELECT * FROM (
       |${recallSql("ivf", knnIvfOracle)}
       |UNION ALL
       |${recallSql("ivfadc", pqIvfAdcOracle)}) u
       |ORDER BY method, q_id""".stripMargin
  }

  /** d48: the full semantic-dedup pipeline replayed — per-table
    * signatures (seeds 42..45, matching embeddingNearDupes' seed + t),
    * candidate union, exact-cosine edge cut, recursive-CTE reachability,
    * survivor per cluster. */
  private lazy val semanticDedupOracle: String = {
    val tables = (0 until 4).map(t => Similarity.hyperplanes(4, 64, seed = 42L + t))
    val sigCols = tables.zipWithIndex.map { case (p, t) =>
      s"${sigSql("embedding", p)} AS sig$t"
    }.mkString(",\n  ")
    val unions = (0 until 4).map(t =>
      s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM sigs a " +
        s"JOIN sigs b ON a.sig$t = b.sig$t AND a.vec_id < b.vec_id")
      .mkString("\n  UNION\n  ")
    s"""WITH RECURSIVE sigs AS (
       |  SELECT vec_id, embedding,
       |  $sigCols
       |  FROM embeddings),
       |cand AS (
       |  $unions),
       |pairs AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.id_a
       |  JOIN embeddings b ON b.vec_id = c.id_b
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.45),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT e.s, w.lbl FROM edges e JOIN walk w ON w.id = e.d),
       |cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id)
       |SELECT cluster_id, min(id) AS keep_id, count(*) AS n_members
       |FROM cc GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
  }

  /** s42: multi-probe LSH replayed exactly — own bucket + the 8
    * Hamming-1 buckets, candidates ranked by exact cosine. */
  private lazy val knnLshOracle: String = {
    val masks = (0L +: (0 until 8).map(i => 1L << i).toSeq).mkString(", ")
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding, ${sigSql("embedding", lshPlanes)} AS sig
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |         ${sigSql("embedding", lshPlanes)} AS q_sig
       |  FROM embeddings WHERE vec_id < 5),
       |probes AS (
       |  SELECT q_id, q_emb, xor(q_sig, m.m) AS probe_sig
       |  FROM q CROSS JOIN (SELECT unnest([$masks]) AS m) m),
       |cand AS (
       |  SELECT DISTINCT p.q_id, c.vec_id,
       |         ${cosSql("p.q_emb", "c.embedding")} AS cos
       |  FROM corpus c JOIN probes p
       |    ON c.sig = p.probe_sig AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin
  }

  /** s47: recall@10 of the LSH path against the exact ranking — both
    * pipelines replayed (the same CTE bodies as the s41/s42 oracles,
    * from the same Scala plane array), then the left-join/count. */
  private lazy val annRecallOracle: String = {
    val masks = (0L +: (0 until 8).map(i => 1L << i).toSeq).mkString(", ")
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding, ${sigSql("embedding", lshPlanes)} AS sig
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |         ${sigSql("embedding", lshPlanes)} AS q_sig
       |  FROM embeddings WHERE vec_id < 5),
       |probes AS (
       |  SELECT q_id, q_emb, xor(q_sig, m.m) AS probe_sig
       |  FROM q CROSS JOIN (SELECT unnest([$masks]) AS m) m),
       |lsh_cand AS (
       |  SELECT DISTINCT p.q_id, c.vec_id,
       |         ${cosSql("p.q_emb", "c.embedding")} AS cos
       |  FROM corpus c JOIN probes p
       |    ON c.sig = p.probe_sig AND c.vec_id <> p.q_id),
       |lsh AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM lsh_cand) WHERE rank <= 10),
       |ex_scored AS (
       |  SELECT q.q_id, c.vec_id, ${cosSql("q.q_emb", "c.embedding")} AS cos
       |  FROM corpus c JOIN q ON c.vec_id <> q.q_id),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM ex_scored) WHERE rank <= 10),
       |base AS (
       |  SELECT e.q_id, (l.vec_id IS NOT NULL) AS hit
       |  FROM ex e LEFT JOIN lsh l ON e.q_id = l.q_id AND e.vec_id = l.vec_id)
       |SELECT q_id, count(*) AS n_exact,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall_at_k
       |FROM base GROUP BY q_id ORDER BY q_id""".stripMargin
  }

  /** DuckDB mirror of Similarity.fixedPointCentroids' per-component
    * aggregate: Σ floor(x·1e6) as BIGINT — order-independent, bit-equal
    * to Spark's. Shared by the s43 and s45 oracles. */
  private def fpSumColsSql(dim: Int): String =
    (0 until dim).map(i =>
      s"CAST(sum(CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS s$i")
      .mkString(",\n         ")

  /** The divide back to a double centroid list: s_i / n / 1e6. */
  private def fpCentroidSql(dim: Int): String =
    (0 until dim).map(i =>
      s"CAST(s$i AS DOUBLE) / CAST(n AS DOUBLE) / 1e6").mkString("[", ", ", "]")

  /** s50: nearest-class-centroid evaluation replayed exactly — one
    * fixed-point centroid per label, max-cosine assignment (tiebreak:
    * smaller label), confusion counts. */
  private lazy val labelCentroidOracle: String = {
    val dim = 64
    s"""WITH cells AS (
       |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS cell
       |  FROM embeddings),
       |csum AS (
       |  SELECT cell, count(*) AS n,
       |         ${fpSumColsSql(dim)}
       |  FROM cells GROUP BY cell),
       |centroids AS (SELECT cell, ${fpCentroidSql(dim)} AS centroid FROM csum),
       |scored AS (
       |  SELECT v.vec_id, v.cell AS label, c.cell,
       |         ${cosSql("v.embedding", "c.centroid")} AS cos
       |  FROM cells v CROSS JOIN centroids c),
       |best AS (
       |  SELECT vec_id, label, cell FROM (
       |    SELECT vec_id, label, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS r
       |    FROM scored)
       |  WHERE r = 1)
       |SELECT label, cell AS pred, count(*) AS n
       |FROM best GROUP BY label, cell
       |ORDER BY label, pred""".stripMargin
  }

  /** s60: the IVF tuning table — for nProbe ∈ {1,2,4}, recall@10 of
    * the probed search against the exact top-10, each arm replaying
    * the FULL approximate semantics (same cells/centroids chain as
    * s43, probe cut at r ≤ np, cell-local exact ranking) and the same
    * left-semi hit counting as s47. recall is one exact division. */
  private lazy val ivfNprobeCurveOracle: String = {
    val dim = 64
    val arms = Seq(1, 2, 4).map { np =>
      s"""pc$np AS (
         |  SELECT q_id, q_emb, cell FROM (
         |    SELECT q_id, q_emb, cell,
         |           row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cell) AS r
         |    FROM probed)
         |  WHERE r <= $np),
         |ap$np AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, c.vec_id,
         |           row_number() OVER (PARTITION BY p.q_id
         |             ORDER BY ${cosSql("p.q_emb", "c.embedding")} DESC, c.vec_id) AS rank
         |    FROM cells c JOIN pc$np p ON c.cell = p.cell AND c.vec_id <> p.q_id)
         |  WHERE rank <= 10),
         |row$np AS (
         |  SELECT CAST($np AS BIGINT) AS nprobe,
         |         (SELECT count(*) FROM ex) AS n_exact,
         |         (SELECT count(*) FROM ex e JOIN ap$np a
         |          ON a.q_id = e.q_id AND a.vec_id = e.vec_id) AS n_hit)""".stripMargin
    }.mkString(",\n")
    s"""WITH cells AS (
       |  SELECT vec_id, embedding, ${sigSql("embedding", ivfPlanes)} AS cell
       |  FROM embeddings),
       |csum AS (
       |  SELECT cell, count(*) AS n,
       |         ${fpSumColsSql(dim)}
       |  FROM cells GROUP BY cell),
       |centroids AS (SELECT cell, ${fpCentroidSql(dim)} AS centroid FROM csum),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 5),
       |probed AS (
       |  SELECT q_id, q_emb, cell, ${cosSql("q_emb", "centroid")} AS ccos
       |  FROM q CROSS JOIN centroids),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rank
       |    FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
       |  WHERE rank <= 10),
       |$arms
       |SELECT nprobe, n_exact, n_hit,
       |       CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
       |FROM (SELECT * FROM row1 UNION ALL SELECT * FROM row2
       |      UNION ALL SELECT * FROM row4)
       |ORDER BY nprobe""".stripMargin
  }

  /** s61: exact top-1 truth, the s43 top-10 chain (nProbe=2), and the
    * lcm-scaled reciprocal-rank sum — one division at the end. */
  /** d67's brute-force DBSCAN replay: the exact ε-pair set (same
    * sequential-fold cosine), neighbor counts, the core cut, min-label
    * reachability over core–core edges (d44's recursive-CTE idiom),
    * isolated cores as singleton clusters, border = min core-neighbor
    * label, noise −1. Shared frames MATERIALIZED (rule 22). */
  /** DBSCAN oracle with the ε-pair PROPOSER parameterized — one
    * downstream definition (counts, core set, recursive core-CC,
    * border min-join), two instantiations (rule 12): d67 passes the
    * brute-force all-pairs body (exact contract, no recall
    * assumption), d67b the multi-table LSH replay (the d48 contract:
    * the oracle replays the ACTUAL approximate proposal, so the hash
    * match checks the real production pipeline, not a recall claim).
    * `proposerCtes` must end by defining `pairs(id_a, id_b)`. */
  private def dbscanOracleFrom(proposerCtes: String): String =
    s"""WITH RECURSIVE $proposerCtes,
       |sym AS MATERIALIZED (
       |  SELECT id_a AS id, id_b AS nb FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |ncnt AS MATERIALIZED (
       |  SELECT e.vec_id, coalesce(c.n, 0) AS n_neighbors
       |  FROM embeddings e LEFT JOIN (
       |    SELECT id, count(*) AS n FROM sym GROUP BY id) c
       |    ON c.id = e.vec_id),
       |core AS MATERIALIZED (
       |  SELECT vec_id FROM ncnt WHERE n_neighbors + 1 >= 3),
       |ce AS MATERIALIZED (
       |  SELECT s.id AS s, s.nb AS d FROM sym s
       |  JOIN core c1 ON c1.vec_id = s.id
       |  JOIN core c2 ON c2.vec_id = s.nb),
       |walk(id, lbl) AS (
       |  SELECT s, s FROM ce
       |  UNION
       |  SELECT ce.s, w.lbl FROM ce JOIN walk w ON w.id = ce.d),
       |asg AS (SELECT id, min(lbl) AS cl FROM walk GROUP BY id),
       |corelbl AS MATERIALIZED (
       |  SELECT c.vec_id, coalesce(a.cl, c.vec_id) AS cl
       |  FROM core c LEFT JOIN asg a ON a.id = c.vec_id),
       |border AS MATERIALIZED (
       |  SELECT s.id AS vec_id, min(cl.cl) AS cl
       |  FROM sym s JOIN corelbl cl ON cl.vec_id = s.nb
       |  WHERE s.id NOT IN (SELECT vec_id FROM core)
       |  GROUP BY s.id)
       |SELECT n.vec_id, CAST(n.n_neighbors AS BIGINT) AS n_neighbors,
       |  CASE WHEN c.cl IS NOT NULL THEN 'core'
       |       WHEN b.cl IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  CAST(coalesce(c.cl, b.cl, -1) AS BIGINT) AS cluster_id
       |FROM ncnt n
       |LEFT JOIN corelbl c ON c.vec_id = n.vec_id
       |LEFT JOIN border b ON b.vec_id = n.vec_id
       |ORDER BY n.vec_id""".stripMargin

  /** d67's gate arm: exact all-pairs ε-join (brute-force DBSCAN
    * verbatim — the oracle-mode convention of rules 12/13). */
  private lazy val dbscanOracle: String = dbscanOracleFrom(
    s"""pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.40)""".stripMargin)

  /** d67b's production arm: the ε-pairs proposed by the SAME
    * multi-table LSH the 100 TB run would use (d48's 4×4-bit replay,
    * planes from the shared Scala constants), exact cosine ≥ 0.40 on
    * candidates only. */
  private lazy val dbscanLshOracle: String = {
    val tables = (0 until 4).map(t => Similarity.hyperplanes(4, 64, seed = 42L + t))
    val sigCols = tables.zipWithIndex.map { case (p, t) =>
      s"${sigSql("embedding", p)} AS sig$t"
    }.mkString(",\n  ")
    val unions = (0 until 4).map(t =>
      s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM sigs a " +
        s"JOIN sigs b ON a.sig$t = b.sig$t AND a.vec_id < b.vec_id")
      .mkString("\n  UNION\n  ")
    // DISTINCT is load-bearing: under WITH RECURSIVE, DuckDB (1.0.0)
    // does NOT cross-branch-dedupe a UNION inside a NON-self-referential
    // CTE (measured: cand carried 30,479 rows vs 28,939 distinct at
    // sf0.01; minimal repro returns 6 rows where plain WITH returns 3).
    // d48 survives because connected components are insensitive to
    // duplicate edges; DBSCAN's n_neighbors COUNT is not.
    dbscanOracleFrom(
      s"""sigs AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |  $sigCols
         |  FROM embeddings),
         |cand AS (
         |  $unions),
         |pairs AS MATERIALIZED (
         |  SELECT DISTINCT c.id_a, c.id_b
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.id_a
         |  JOIN embeddings b ON b.vec_id = c.id_b
         |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.40)""".stripMargin)
  }

  /** Integer-scaled DCG weights ⌊1e12 / log2(i+1)⌉ for ranks 1..10 —
    * ONE Scala definition feeds both the Spark literals and the
    * generated oracle VALUES (rule 12), so the two engines cannot
    * drift and no libm log is ever evaluated inside a query. */
  private lazy val ndcgW: Seq[Long] =
    (1 to 10).map(i =>
      Math.round(1e12 / (Math.log(i + 1.0) / Math.log(2.0))))

  /** Ideal-DCG prefix sums: idcg(r) = Σ_{i≤r} w(i), r = 1..10. */
  private lazy val ndcgIdcg: Seq[Long] = ndcgW.scanLeft(0L)(_ + _).tail

  private lazy val ndcgOracle: String = {
    val wVals = ndcgW.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")
    val iVals = (0L +: ndcgIdcg).zipWithIndex
      .map { case (v, r) => s"($r, $v)" }.mkString(", ")
    s"""WITH q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
       |  FROM embeddings WHERE vec_id < 5),
       |ranked AS (
       |  SELECT q_id, q_label, label,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY cos DESC, vec_id) AS rank
       |  FROM (
       |    SELECT q.q_id, q.q_label, e.vec_id, e.label,
       |           ${cosSql("q.q_emb", "e.embedding")} AS cos
       |    FROM embeddings e JOIN q ON e.vec_id <> q.q_id)),
       |w(rank, w) AS (VALUES $wVals),
       |iv(r_avail, idcg) AS (VALUES $iVals),
       |dcg AS (
       |  SELECT q_id, q_label,
       |         sum(CASE WHEN label = q_label THEN w ELSE 0 END) AS dcg
       |  FROM ranked JOIN w USING (rank) GROUP BY q_id, q_label),
       |lc AS (SELECT label, count(*) AS cnt FROM embeddings GROUP BY label)
       |SELECT d.q_id, least(10, lc.cnt - 1) AS r_avail,
       |       CAST(d.dcg AS BIGINT) AS dcg_scaled,
       |       CAST(iv.idcg AS BIGINT) AS idcg_scaled,
       |       CASE WHEN iv.idcg > 0
       |         THEN CAST(d.dcg AS DOUBLE) / CAST(iv.idcg AS DOUBLE)
       |         ELSE 0.0 END AS ndcg
       |FROM dcg d JOIN lc ON lc.label = d.q_label
       |JOIN iv ON iv.r_avail = least(10, lc.cnt - 1)
       |ORDER BY q_id""".stripMargin
  }

  private lazy val ivfMrrOracle: String = {
    val dim = 64
    s"""WITH cells AS (
       |  SELECT vec_id, embedding, ${sigSql("embedding", ivfPlanes)} AS cell
       |  FROM embeddings),
       |csum AS (
       |  SELECT cell, count(*) AS n,
       |         ${fpSumColsSql(dim)}
       |  FROM cells GROUP BY cell),
       |centroids AS (SELECT cell, ${fpCentroidSql(dim)} AS centroid FROM csum),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 5),
       |probed AS (
       |  SELECT q_id, q_emb, cell, ${cosSql("q_emb", "centroid")} AS ccos
       |  FROM q CROSS JOIN centroids),
       |pc AS (
       |  SELECT q_id, q_emb, cell FROM (
       |    SELECT q_id, q_emb, cell,
       |           row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cell) AS r
       |    FROM probed)
       |  WHERE r <= 2),
       |ap AS (
       |  SELECT q_id, vec_id, rank FROM (
       |    SELECT p.q_id, c.vec_id,
       |           row_number() OVER (PARTITION BY p.q_id
       |             ORDER BY ${cosSql("p.q_emb", "c.embedding")} DESC, c.vec_id) AS rank
       |    FROM cells c JOIN pc p ON c.cell = p.cell AND c.vec_id <> p.q_id)
       |  WHERE rank <= 10),
       |ex AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rank
       |    FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
       |  WHERE rank <= 1)
       |SELECT count(*) AS n_queries,
       |       CAST(sum(COALESCE(2520 // a.rank, 0)) AS BIGINT) AS sum_rr_scaled,
       |       CAST(sum(COALESCE(2520 // a.rank, 0)) AS DOUBLE)
       |         / CAST(count(*) * 2520 AS DOUBLE) AS mrr
       |FROM ex LEFT JOIN ap a USING (q_id, vec_id)""".stripMargin
  }

  /** s43: IVF replayed exactly — 16 cells from the coarse planes,
    * fixed-point integer centroid sums (order-independent, bit-equal to
    * Spark's), nProbe=2 probe ranking, cell-local exact cosine top-k. */
  private lazy val knnIvfOracle: String = knnIvfOracleFor("")

  /** s71: the live view of the s68 store is "the tombstoned slice
    * never existed" (the s68 contract), so the oracle recomputes the
    * histogram from the shared plane literals over exactly that
    * slice, then the integer-DIV ratios. */
  private lazy val storeBalanceOracle: String =
    s"""WITH cells AS MATERIALIZED (
       |  SELECT ${sigSql("embedding", ivfPlanes)} AS cell FROM embeddings
       |  WHERE NOT (vec_id >= ${Staging.ivfDeleteLo}
       |         AND vec_id < ${Staging.ivfDeleteHi})),
       |per AS MATERIALIZED (
       |  SELECT cell, count(*) AS n_postings FROM cells GROUP BY cell),
       |tot AS (SELECT CAST(sum(n_postings) AS BIGINT) AS t,
       |               max(n_postings) AS mx, count(*) AS nc FROM per)
       |SELECT cell, n_postings,
       |  CAST(n_postings * 1000 // t AS BIGINT) AS share_permille,
       |  CAST(mx * nc * 1000 // t AS BIGINT) AS hotcell_factor_permille
       |FROM per, tot ORDER BY cell""".stripMargin

  /** s66: identical chain, but the quantizer (csum → centroids) trains
    * on the BASE slice only — the frozen-quantizer recompute arm the
    * no-retrain insert must equal. Cell assignment itself is stateless
    * (fixed planes), so `cells` stays the full corpus. */
  private lazy val ivfInsertOracle: String =
    knnIvfOracleFor("WHERE vec_id < 5 OR vec_id >= 100")

  /** s68: the s66 store with the tombstoned slice gone — the recompute
    * arm for delete-then-serve is simply "those rows never existed"
    * (centroids unaffected: the deleted ids are delta, never trained
    * on). Bounds interpolate from Staging's constants. */
  private lazy val ivfDeleteOracle: String =
    knnIvfOracleFor("WHERE vec_id < 5 OR vec_id >= 100",
      s"WHERE NOT (vec_id >= ${Staging.ivfDeleteLo} " +
        s"AND vec_id < ${Staging.ivfDeleteHi})")

  private def knnIvfOracleFor(centroidWhere: String,
      cellsWhere: String = ""): String = {
    val dim = 64
    val sumCols = fpSumColsSql(dim)
    val centroid = fpCentroidSql(dim)
    s"""WITH cells AS (
       |  SELECT vec_id, embedding, ${sigSql("embedding", ivfPlanes)} AS cell
       |  FROM embeddings $cellsWhere),
       |csum AS (
       |  SELECT cell, count(*) AS n,
       |         $sumCols
       |  FROM cells $centroidWhere GROUP BY cell),
       |centroids AS (SELECT cell, $centroid AS centroid FROM csum),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 5),
       |probed AS (
       |  SELECT q_id, q_emb, cell, ${cosSql("q_emb", "centroid")} AS ccos
       |  FROM q CROSS JOIN centroids),
       |pc AS (
       |  SELECT q_id, q_emb, cell FROM (
       |    SELECT q_id, q_emb, cell,
       |           row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cell) AS r
       |    FROM probed)
       |  WHERE r <= 2),
       |cand AS (
       |  SELECT p.q_id, c.vec_id, ${cosSql("p.q_emb", "c.embedding")} AS cos
       |  FROM cells c JOIN pc p ON c.cell = p.cell AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand)
       |SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin
  }

  /** s59: cell counts over the s43 assignment chain; INT32 cell sums
    * cast to BIGINT at the boundary (rule 1). */
  private lazy val ivfBalanceOracle: String =
    s"""WITH cells AS (
       |  SELECT vec_id, ${sigSql("embedding", ivfPlanes)} AS cell
       |  FROM embeddings),
       |c AS (SELECT cell, count(*) AS n FROM cells GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
       |             count(*) AS n_cells FROM c)
       |SELECT CAST(c.cell AS BIGINT) AS cell, c.n,
       |       CAST(c.n AS DOUBLE)
       |         / (SELECT CAST(total AS DOUBLE) FROM t) AS share,
       |       CAST(c.n * (SELECT n_cells FROM t) AS DOUBLE)
       |         / (SELECT CAST(total AS DOUBLE) FROM t) AS balance
       |FROM c ORDER BY cell""".stripMargin

  private lazy val rpPlanes = Similarity.hyperplanes(16, 64, seed = 99L)

  /** s44: the reduced vector as a DuckDB list literal expression — one
    * sequential plane-dot fold per component, from the SAME Scala plane
    * array the Spark side uses. */
  private def reducedSql(emb: String): String =
    rpPlanes.map(p => planeDotSql(emb, p)).mkString("[", ",\n    ", "]")

  /** s44: random-projection KNN replayed exactly — reduce, then the
    * standard brute-force cosine ranking over the reduced lists. */
  private lazy val knnRpOracle: String =
    s"""WITH red AS (
       |  SELECT vec_id, ${reducedSql("embedding")} AS r
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, r AS q_r FROM red WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.q_id, red.vec_id, ${cosSql("q.q_r", "red.r")} AS cos
       |  FROM red JOIN q ON red.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** The dot-product half of cosSql — shared by the PQ oracle. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  /** s46: product quantization replayed end to end. Per subspace j:
    * the 16-dim slice, its 4-bit LSH cells (seed 1000+j — the same
    * Scala plane arrays as Similarity.pqAdc), fixed-point centroids,
    * the L2 argmin encode (|c|² − 2·x·c, cand-id tiebreak), and the
    * query-to-centroid dot table; then the four single-element CASE
    * sums added in fixed order. */
  private lazy val pqAdcOracle: String = {
    val m = 4; val subDim = 16
    val perSub = (0 until m).map { j =>
      val planes = Similarity.hyperplanes(4, subDim, seed = 1000L + j)
      val lo = j * subDim + 1; val hi = j * subDim + subDim
      s"""sub$j AS (
         |  SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings),
         |cells$j AS (
         |  SELECT vec_id, embedding, ${sigSql("embedding", planes)} AS cell
         |  FROM sub$j),
         |csum$j AS (
         |  SELECT cell, count(*) AS n, ${fpSumColsSql(subDim)}
         |  FROM cells$j GROUP BY cell),
         |cent$j AS (SELECT cell, ${fpCentroidSql(subDim)} AS centroid FROM csum$j),
         |keyed$j AS (
         |  SELECT c.vec_id, ct.cell AS cand,
         |         (${dotSql("ct.centroid", "ct.centroid")}
         |          - 2 * ${dotSql("c.embedding", "ct.centroid")}) AS dkey
         |  FROM cells$j c CROSS JOIN cent$j ct),
         |enc$j AS (
         |  SELECT vec_id, $j AS sub, cand AS code FROM (
         |    SELECT vec_id, cand,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dkey ASC, cand) AS r
         |    FROM keyed$j) WHERE r = 1),
         |qd$j AS (
         |  SELECT q.vec_id AS q_id, $j AS sub, ct.cell,
         |         ${dotSql("q.embedding", "ct.centroid")} AS qdot
         |  FROM (SELECT vec_id, embedding FROM sub$j WHERE vec_id < 5) q
         |  CROSS JOIN cent$j ct)""".stripMargin
    }.mkString(",\n")
    val codeUnion = (0 until m).map(j => s"SELECT * FROM enc$j").mkString("\n  UNION ALL ")
    val qdUnion = (0 until m).map(j => s"SELECT * FROM qd$j").mkString("\n  UNION ALL ")
    val caseSums = (0 until m).map(j =>
      s"sum(CASE WHEN c.sub = $j THEN q.qdot END) AS s$j").mkString(",\n         ")
    val approx = (0 until m).map(j => s"s$j").mkString(" + ")
    s"""WITH $perSub,
       |codes AS (
       |  $codeUnion),
       |qdall AS (
       |  $qdUnion),
       |scored AS (
       |  SELECT q.q_id, c.vec_id,
       |         $caseSums
       |  FROM codes c JOIN qdall q
       |    ON c.sub = q.sub AND c.code = q.cell AND c.vec_id <> q.q_id
       |  GROUP BY q.q_id, c.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, ($approx) AS approx_dot,
       |         row_number() OVER (PARTITION BY q_id ORDER BY ($approx) DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, approx_dot, rank FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin
  }

  /** s48: IVFADC replayed end to end — coarse cells + fixed-point
    * centroids (the s43 CTEs), per-row residuals, per-subspace residual
    * codebooks/encodes (the s46 machinery on the residual, seeds
    * 2000+j), the nProbe=2 coarse probe carrying dot(q, c), and the
    * fixed-order ADC sum with the coarse term first. */
  private lazy val pqIvfAdcOracle: String = pqIvfAdcOracleFor(10)

  /** Parameterized on the final cut so s52 can nest the SAME replay as
    * its shortlist stage (one definition — the s48 gate and the s52
    * shortlist can never drift apart). */
  private def pqIvfAdcOracleFor(finalK: Int): String = {
    val m = 4; val subDim = 16; val dim = 64
    val perSub = (0 until m).map { j =>
      val planes = Similarity.hyperplanes(4, subDim, seed = 2000L + j)
      val lo = j * subDim + 1; val hi = j * subDim + subDim
      s"""rsub$j AS (
         |  SELECT vec_id, resid[$lo:$hi] AS embedding FROM resid),
         |rcells$j AS (
         |  SELECT vec_id, embedding, ${sigSql("embedding", planes)} AS cell
         |  FROM rsub$j),
         |rcsum$j AS (
         |  SELECT cell, count(*) AS n, ${fpSumColsSql(subDim)}
         |  FROM rcells$j GROUP BY cell),
         |rcent$j AS (SELECT cell, ${fpCentroidSql(subDim)} AS centroid FROM rcsum$j),
         |keyed$j AS (
         |  SELECT c.vec_id, ct.cell AS cand,
         |         (${dotSql("ct.centroid", "ct.centroid")}
         |          - 2 * ${dotSql("c.embedding", "ct.centroid")}) AS dkey
         |  FROM rcells$j c CROSS JOIN rcent$j ct),
         |enc$j AS (
         |  SELECT vec_id, $j AS sub, cand AS code FROM (
         |    SELECT vec_id, cand,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dkey ASC, cand) AS r
         |    FROM keyed$j) WHERE r = 1),
         |qd$j AS (
         |  SELECT q.vec_id AS q_id, $j AS sub, ct.cell,
         |         ${dotSql("q.embedding", "ct.centroid")} AS qdot
         |  FROM (SELECT vec_id, embedding[$lo:$hi] AS embedding
         |        FROM embeddings WHERE vec_id < 5) q
         |  CROSS JOIN rcent$j ct)""".stripMargin
    }.mkString(",\n")
    val codeUnion = (0 until m).map(j => s"SELECT * FROM enc$j").mkString("\n  UNION ALL ")
    val qdUnion = (0 until m).map(j => s"SELECT * FROM qd$j").mkString("\n  UNION ALL ")
    val caseSums = (0 until m).map(j =>
      s"sum(CASE WHEN c.sub = $j THEN q.qdot END) AS s$j").mkString(",\n         ")
    val approx = "qc + " + (0 until m).map(j => s"s$j").mkString(" + ")
    s"""WITH cells AS (
       |  SELECT vec_id, embedding, ${sigSql("embedding", ivfPlanes)} AS cell
       |  FROM embeddings),
       |csum AS (
       |  SELECT cell, count(*) AS n, ${fpSumColsSql(dim)}
       |  FROM cells GROUP BY cell),
       |cent AS (SELECT cell, ${fpCentroidSql(dim)} AS centroid FROM csum),
       |resid AS (
       |  SELECT c.vec_id,
       |         list_transform(list_zip(c.embedding, ct.centroid),
       |           p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS resid
       |  FROM cells c JOIN cent ct ON c.cell = ct.cell),
       |$perSub,
       |codes AS (
       |  $codeUnion),
       |qdall AS (
       |  $qdUnion),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 5),
       |probed AS (
       |  SELECT q_id, cell, ${cosSql("q_emb", "centroid")} AS ccos,
       |         ${dotSql("q_emb", "centroid")} AS qc
       |  FROM q CROSS JOIN cent),
       |pc AS (
       |  SELECT q_id, cell, qc FROM (
       |    SELECT q_id, cell, qc,
       |           row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cell) AS r
       |    FROM probed)
       |  WHERE r <= 2),
       |cand AS (
       |  SELECT p.q_id, c.vec_id, p.qc
       |  FROM cells c JOIN pc p ON c.cell = p.cell AND c.vec_id <> p.q_id),
       |scored AS (
       |  SELECT cd.q_id, cd.vec_id, cd.qc,
       |         $caseSums
       |  FROM cand cd
       |  JOIN codes c ON c.vec_id = cd.vec_id
       |  JOIN qdall q ON q.q_id = cd.q_id AND q.sub = c.sub AND q.cell = c.code
       |  GROUP BY cd.q_id, cd.vec_id, cd.qc),
       |ranked AS (
       |  SELECT q_id, vec_id, ($approx) AS approx_dot,
       |         row_number() OVER (PARTITION BY q_id ORDER BY ($approx) DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, vec_id, approx_dot, rank FROM ranked WHERE rank <= $finalK
       |ORDER BY q_id, rank""".stripMargin
  }

  /** s52: IVFADC+R — the s48 replay (shortlist cut = 40) nested
    * verbatim as a derived table, then the exact-cosine re-rank on the
    * shortlist rows only. Same sequential-fold cosine as s41. */
  private lazy val pqIvfAdcRerankOracle: String =
    s"""WITH short AS (
       |  SELECT q_id, vec_id FROM (
       |${pqIvfAdcOracleFor(40)}
       |  ) s),
       |rescored AS (
       |  SELECT sh.q_id, sh.vec_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM short sh
       |  JOIN embeddings c ON c.vec_id = sh.vec_id
       |  JOIN embeddings q ON q.vec_id = sh.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM rescored)
       |SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** s45: the Lloyd step replayed — cells, fixed-point centroids,
    * cosine argmax with the cand-id tiebreak, per-new-cell recompute
    * (same integer sums) plus the move count. */
  private lazy val kmeansStepOracle: String = {
    val dim = 64
    s"""WITH cells AS (
       |  SELECT vec_id, embedding, ${sigSql("embedding", ivfPlanes)} AS cell
       |  FROM embeddings),
       |csum AS (
       |  SELECT cell, count(*) AS n,
       |         ${fpSumColsSql(dim)}
       |  FROM cells GROUP BY cell),
       |centroids AS (SELECT cell, ${fpCentroidSql(dim)} AS centroid FROM csum),
       |scored AS (
       |  SELECT c.vec_id, c.embedding, c.cell AS old_cell, ct.cell AS cand,
       |         ${cosSql("c.embedding", "ct.centroid")} AS ccos
       |  FROM cells c CROSS JOIN centroids ct),
       |assigned AS (
       |  SELECT vec_id, embedding, old_cell, cand AS cell FROM (
       |    SELECT vec_id, embedding, old_cell, cand, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cand) AS r
       |    FROM scored)
       |  WHERE r = 1),
       |nsum AS (
       |  SELECT cell, count(*) AS n,
       |         CAST(sum(CASE WHEN old_cell <> cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       |         ${fpSumColsSql(dim)}
       |  FROM assigned GROUP BY cell)
       |SELECT cell, n, n_moved,
       |       CAST(s0 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS c0,
       |       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS c1
       |FROM nsum
       |ORDER BY cell""".stripMargin
  }

  /** s54: the farthest-point traversal replayed as an unrolled CTE
    * chain — fixed-point quantization, seed = min vec_id, then per pick
    * t: running min-distance update (least) + argmax with the vec_id
    * tiebreak. list_sum over BIGINTs yields HUGEINT, so the radius is
    * CAST back to BIGINT at the output (rule 18). */
  private lazy val kCenterOracle: String = {
    def sqd(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    val head = Seq(
      s"""fp AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1.0e6) AS BIGINT)) AS e
         |  FROM embeddings)""".stripMargin,
      "c0 AS (SELECT vec_id, e FROM fp ORDER BY vec_id LIMIT 1)",
      s"""d1 AS (SELECT f.vec_id, f.e, ${sqd("f.e", "c.e")} AS md
         |  FROM fp f, c0 c)""".stripMargin,
      "p1 AS (SELECT vec_id, e, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1)")
    val steps = (2 until kCenterK).flatMap(t => Seq(
      s"""d$t AS (SELECT d.vec_id, d.e, least(d.md, ${sqd("d.e", "p.e")}) AS md
         |  FROM d${t - 1} d, p${t - 1} p)""".stripMargin,
      s"p$t AS (SELECT vec_id, e, md FROM d$t ORDER BY md DESC, vec_id LIMIT 1)"))
    val picks = s"SELECT 0 AS o, vec_id, 0 AS md FROM c0" +:
      (1 until kCenterK).map(t => s"SELECT $t AS o, vec_id, md FROM p$t")
    s"""WITH ${(head ++ steps).mkString(",\n")}
       |SELECT CAST(o AS BIGINT) AS pick_order, vec_id,
       |  CAST(md AS BIGINT) AS radius
       |FROM (${picks.mkString(" UNION ALL ")})
       |ORDER BY pick_order""".stripMargin
  }

  /** s55: the integer power iteration replayed — fixed-point corpus,
    * HUGEINT Gram sums divided by n (`//` truncates toward zero exactly
    * like Spark's DIV — measured), then one w/m/v CTE triplet per
    * iteration with the 256-scale truncating renormalization. */
  private lazy val powerIterCtes: String = {
    val head = Seq(
      s"""fp AS (SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1.0e6) AS BIGINT)) AS e
         |  FROM embeddings)""".stripMargin,
      "idx AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS i)",
      s"""gr AS (SELECT ii.i AS i, jj.i AS j,
         |    sum(CAST(e[ii.i + 1] AS HUGEINT) * CAST(e[jj.i + 1] AS HUGEINT)) AS gsum,
         |    count(*) AS n
         |  FROM fp, idx ii, idx jj GROUP BY 1, 2)""".stripMargin,
      "g AS MATERIALIZED (SELECT i, j, CAST(gsum // n AS BIGINT) AS g FROM gr)",
      "v0 AS (SELECT i, CAST(256 AS BIGINT) AS v FROM idx)")
    val steps = (1 to powerIters).flatMap(t => Seq(
      s"""w$t AS MATERIALIZED (SELECT g.j AS i, sum(g.g * v.v) AS w
         |  FROM g JOIN v${t - 1} v ON g.i = v.i GROUP BY g.j)""".stripMargin,
      s"m$t AS (SELECT max(abs(w)) AS m FROM w$t)",
      s"""v$t AS MATERIALIZED (SELECT i, CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((w * 256) // m AS BIGINT) END AS v
         |  FROM w$t, m$t)""".stripMargin))
    (head ++ steps).mkString(",\n")
  }

  private lazy val powerIterOracle: String =
    s"""WITH $powerIterCtes
       |SELECT CAST(i AS BIGINT) AS i, v FROM v$powerIters
       |ORDER BY i""".stripMargin

  /** s56: s55's full replay rebuilds u, then per-vector alignment
    * (e·u)²/(e·e·u·u) from exact integer dots, three double ops in the
    * Spark expression order. */
  private lazy val abttAlignOracle: String =
    s"""WITH $powerIterCtes,
       |uvec AS MATERIALIZED (SELECT list(v ORDER BY i) AS u, sum(v * v) AS uu
       |         FROM v$powerIters),
       |fpv AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1.0e6) AS BIGINT)) AS e
       |  FROM embeddings),
       |scored AS (SELECT vec_id,
       |    list_sum(list_transform(list_zip(e, (SELECT u FROM uvec)),
       |                            p -> p[1] * p[2])) AS du,
       |    list_sum(list_transform(e, x -> x * x)) AS ee
       |  FROM fpv)
       |SELECT vec_id,
       |  CAST(du AS DOUBLE) * CAST(du AS DOUBLE)
       |    / (CAST(ee AS DOUBLE) * CAST((SELECT uu FROM uvec) AS DOUBLE))
       |    AS align
       |FROM scored WHERE ee > 0
       |ORDER BY align DESC, vec_id LIMIT 20""".stripMargin
}
