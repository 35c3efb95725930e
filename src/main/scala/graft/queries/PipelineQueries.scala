package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Profiling, Sampling}
import graft.operators.Materialize.Ops

/** Composed pipelines and set operations. q69 is the "training-data prep"
  * composition: quality-score → filter → canonical dedup (keep lowest
  * doc_id) → per-survivor stats — the chain a real corpus build runs,
  * expressed by composing the library operators, and fully oracled.
  */
object PipelineQueries {

  val all: Seq[Q] = Seq(

    // end-to-end corpus-prep pipeline (oracle mirrors each stage)
    Q("q69_prep_pipeline", Some(
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    round(
        |      least(length(text) / 500.0, 1.0) * 0.4
        |      + least(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |            x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |          / len(string_split_regex(trim(text), '\s+')) * 5.0, 1.0) * 0.4
        |      + (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |          / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE), 1.0)) * 0.2,
        |      6) AS quality,
        |    md5(array_to_string(list_sort(string_split_regex(trim(text), '\s+')), ' ')) AS canon_fp
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE quality >= 0.5),
        |survivors AS (
        |  SELECT canon_fp, min(doc_id) AS doc_id FROM kept GROUP BY canon_fp)
        |SELECT k.doc_id, k.lang, k.n_tokens, k.quality
        |FROM kept k JOIN survivors s ON k.doc_id = s.doc_id
        |ORDER BY k.doc_id""".stripMargin),
      (s, d) => {
        val scored = Tables.load(s, d, "documents").select(
          col("doc_id"), col("lang"),
          tokenCount(col("text")).as("n_tokens"),
          qualityScore(col("text")).as("quality"),
          canonicalFingerprint(col("text")).as("canon_fp"))
        val kept = scored.filter(col("quality") >= 0.5)
        val survivors = kept.groupBy(col("canon_fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        kept.join(survivors, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
          .orderBy(col("doc_id"))
      }),

    // fuzzy variant: additionally drop the higher-id member of every
    // near-dup pair. Uses the candidates→verify MinHash (exact Jaccard on
    // LSH candidates), whose pair set equals the brute-force set on the
    // gate corpora (tools.RecallCheck) — so the oracle expresses the dup
    // set as the exact-Jaccard pair SQL.
    Q("q70_prep_fuzzy", Some(
      // concatenation, not s-interpolation: the raw string below needs
      // its \s regex escapes left unprocessed
      "WITH " + DedupQueries.ngramPairCtes + ",\n" +
      """|dups AS (
        |  SELECT DISTINCT id_b AS doc_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
        |scored AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    round(
        |      least(length(text) / 500.0, 1.0) * 0.4
        |      + least(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |            x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |          / len(string_split_regex(trim(text), '\s+')) * 5.0, 1.0) * 0.4
        |      + (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |          / CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE), 1.0)) * 0.2,
        |      6) AS quality
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens, quality FROM scored
        |WHERE quality >= 0.5 AND doc_id NOT IN (SELECT doc_id FROM dups)
        |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val dupIds = Dedup.minhashVerifiedPairs(docs, threshold = 0.5,
          maxDf = 20)
          .select(col("id_b").as("doc_id"))
        val scored = docs.select(
          col("doc_id"), col("lang"),
          tokenCount(col("text")).as("n_tokens"),
          qualityScore(col("text")).as("quality"))
        scored.filter(col("quality") >= 0.5)
          .join(dupIds, Seq("doc_id"), "left_anti")
          .orderBy(col("doc_id"))
      }),

    // stratified deterministic sampling: 50% of en docs, 10% otherwise,
    // decided by (doc_id*104729)%100 — a pure filter (no shuffle, no
    // rand()), reproducible run-to-run, exactly mirrored in SQL
    Q("q85_sample_stratified", Some(
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 104729) % 100 <
        |      CASE WHEN lang = 'en' THEN 50 ELSE 10 END
        |ORDER BY doc_id""".stripMargin),
      (s, d) => Sampling.stratifiedSample(
        Tables.load(s, d, "documents"), id = "doc_id", stratum = "lang",
        pctByStratum = Map("en" -> 50), defaultPct = 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // deterministic train/val/test split: 80/10/10 by id hash; a row's
    // split never changes when the corpus grows
    Q("q86_split", Some(
      """SELECT split, lang, count(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN (doc_id * 104729) % 100 < 80 THEN 'train'
        |         WHEN (doc_id * 104729) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin),
      (s, d) => Sampling.hashSplit(
        Tables.load(s, d, "documents"), id = "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang"))),

    // sequence packing into 2048-token bins per language (running-sum
    // window — the parallel approximation of greedy first-fit)
    Q("q87_pack_bins", Some(
      """SELECT doc_id, lang, n_tokens,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (
        |    PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
        |    AS BIGINT) AS bin
        |FROM (SELECT doc_id, lang,
        |        len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),
      (s, d) => Sampling.packBins(
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            tokenCount(col("text")).cast("bigint").as("n_tokens")),
        id = "doc_id", group = "lang", tokenCol = "n_tokens",
        capacity = 2048)
        .orderBy(col("doc_id"))),

    // quality-weighted Bernoulli sample: keep-probability 0.5·quality
    // per doc, decided by a salted deterministic hash → uniform — the
    // corpus-mixing primitive for quality-proportional sampling, a pure
    // filter. Gate runs the replayable polynomial hash (rule 12);
    // xxhash64 production default under spec (SamplingSpec).
    Q("q97_weighted_sample", Some(weightedSampleOracle),
      (s, d) => Sampling.weightedBernoulli(
        Tables.load(s, d, "documents")
          .select(col("doc_id"), qualityScore(col("text")).as("quality")),
        id = col("doc_id"), weight = col("quality"), baseRate = 0.5,
        salt = "ws", oracleHash = true)
        .select(col("doc_id"), col("quality"), col("sample_u"))
        .orderBy(col("doc_id"))),

    // deterministic systematic resampling (q203): one pick per stride
    // of cumulative n_chars weight, in doc_id order — the data-mixing
    // primitive (weighted upsampling with fixed sample size and zero
    // spacing variance; contrast q97's independent coin flips). All
    // int64 DIV arithmetic; the oracle replays with a plain global
    // cumsum window while the operator runs the two-pass distributed
    // prefix sum (bucket offsets + per-bucket windows) — same numbers,
    // scale-safe plan, equality IS the gate.
    Q("q203_systematic_resample", Some(
      s"""WITH base AS (
         |  SELECT doc_id AS id, n_chars AS w FROM documents),
         |tot AS (SELECT sum(w) AS totw FROM base),
         |cums AS (
         |  SELECT id, w, sum(w) OVER (ORDER BY id) AS cum FROM base)
         |SELECT id AS doc_id, CAST(w AS BIGINT) AS w,
         |       CAST(cum AS BIGINT) AS cum
         |FROM cums, tot
         |WHERE cum // (1 + totw // $resampleTarget)
         |    > (cum - w) // (1 + totw // $resampleTarget)
         |ORDER BY doc_id""".stripMargin),
      (s, d) => Sampling.systematicSample(
        Tables.load(s, d, "documents"), id = "doc_id",
        weightCol = "n_chars", target = resampleTarget)),

    // exact stratified split (q209): per-stratum quotas hit EXACTLY
    // (⌊n_s·80/100⌋ train, next decile val, rest test in the
    // modular-permutation hash order) where q86's hash split is only
    // proportional in expectation — a 30-doc stratum can land zero
    // test docs there. Ranks via the GROUPED Prefix.cumsum: no stratum
    // ever sorts on one partition, whatever its size. Full membership
    // oracled, not just the quota counts.
    Q("q209_stratified_split", Some(
      s"""WITH base AS MATERIALIZED (
        |  SELECT doc_id, source AS stratum,
        |         ${graft.operators.Sampling.orderHashSql("doc_id")} AS h
        |  FROM documents),
        |r AS (SELECT doc_id, stratum,
        |        row_number() OVER (PARTITION BY stratum ORDER BY h) AS rk
        |      FROM base),
        |s AS (SELECT stratum, count(*) AS ns FROM base GROUP BY stratum)
        |SELECT r.doc_id, r.stratum,
        |  CASE WHEN r.rk <= (s.ns * 80) // 100 THEN 'train'
        |       WHEN r.rk <= (s.ns * 90) // 100 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r JOIN s USING (stratum) ORDER BY doc_id""".stripMargin),
      (s, d) => Sampling.stratifiedSplit(
        Tables.load(s, d, "documents"), id = "doc_id", stratum = "source")),

    // consistent-hash ring rebalance audit (q204): per-shard counts and
    // moved fraction when the ring grows 8 → 9 shards — the placement
    // property the scheme exists for (≈1/9 of rows move; hash-mod
    // placement would move ≈8/9). Ring and rows hash with the SAME
    // rolling-hash fold on both engines (driver-built vnode ring is a
    // bounded artifact; DuckDB rebuilds it in SQL from the same label
    // scheme); assignment is a per-row sorted-struct array scan —
    // no join, no shuffle before the rollup.
    Q("q204_consistent_sharding", Some(consistentShardingOracle),
      (s, d) => graft.operators.Layout.consistentShardAudit(
        Tables.load(s, d, "documents"), col("doc_id"),
        nBefore = shardsBefore, nAfter = shardsAfter)),

    // one-scan table profile (null rates, exact cardinalities, ranges)
    // over every documents column; oracle SQL generated from the same
    // column list
    Q("q98_profile", Some(Profiling.columnProfileOracleSql("documents",
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
      (s, d) => Profiling.columnProfile(Tables.load(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // declarative data-quality expectations over orders: three row-level
    // predicates in ONE wide aggregate scan, plus key-uniqueness and
    // referential-integrity checks. Both engines' predicates come from
    // the same check list below (one definition, two renderings).
    Q("q122_expectations", Some(expectationsOracle),
      (s, d) => {
        val orders = Tables.load(s, d, "orders")
        val customer = Tables.load(s, d, "customer")
        Profiling.rowExpectations(orders,
            expectationChecks.map { case (n, c, _) => (n, c) })
          .unionByName(Profiling.uniqueExpectation(orders,
            "orderkey_unique", Seq("o_orderkey")))
          .unionByName(Profiling.referentialExpectation(orders, "o_custkey",
            customer, "c_custkey", "custkey_in_customer"))
          .orderBy(col("check_name"))
      }),

    // dedup evidence trail (q182): per verified near-dup pair, the 3
    // RAREST shared shingles — the human-auditable justification of an
    // automated dedup decision. Pure integer/string pipeline, no
    // floats; window order (df, sh) is total. Rule 13 on the pair set.
    Q("q182_pair_evidence", Some(
      s"""WITH ${DedupQueries.ngramPairCtes},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |dfq AS (SELECT sh, count(*) AS df FROM ex GROUP BY 1),
         |sh2 AS (SELECT p.id_a, p.id_b, ea.sh, dfq.df
         |        FROM pairs p
         |        JOIN ex ea ON ea.doc_id = p.id_a
         |        JOIN ex eb ON eb.doc_id = p.id_b AND eb.sh = ea.sh
         |        JOIN dfq ON dfq.sh = ea.sh),
         |r AS (SELECT id_a, id_b, sh, df,
         |             row_number() OVER (
         |               PARTITION BY id_a, id_b ORDER BY df, sh) AS rnk
         |      FROM sh2)
         |SELECT id_a, id_b, CAST(rnk AS BIGINT) AS rnk, df, sh
         |FROM r WHERE rnk <= 3
         |ORDER BY id_a, id_b, rnk""".stripMargin),
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        graft.operators.Dedup.pairEvidence(docs,
          graft.operators.Dedup.minhashVerifiedPairs(
            docs, threshold = 0.5, maxDf = 20))
      }),

    // source-partition modularity of the dup graph (q185): Newman's Q
    // for the SOURCE membership — "is duplication source-aligned?" at
    // graph level (q176 asks it per cluster). Each contribution and the
    // global Q are ONE division of exact integers ((4m·e_c − d_c²)/4m²;
    // decimal d² sums, rule 18); the global row sums INTEGERS, never
    // doubles. Rule 13 on the pair set.
    Q("q185_modularity", Some(
      s"""WITH ${DedupQueries.ngramPairCtes},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |e AS (SELECT da.source AS ca, db.source AS cb
         |      FROM pairs p JOIN documents da ON da.doc_id = p.id_a
         |                   JOIN documents db ON db.doc_id = p.id_b),
         |m AS (SELECT count(*) AS m FROM e),
         |intra AS (SELECT ca AS community, count(*) AS e_c
         |          FROM e WHERE ca = cb GROUP BY 1),
         |degc AS (SELECT community, count(*) AS d_c FROM (
         |           SELECT ca AS community FROM e
         |           UNION ALL SELECT cb FROM e) GROUP BY 1),
         |pc AS (SELECT dg.community, COALESCE(i.e_c, 0) AS e_c, dg.d_c
         |       FROM degc dg LEFT JOIN intra i ON i.community = dg.community)
         |SELECT community, e_c, d_c,
         |       CAST(4*(SELECT m FROM m)*e_c - d_c*d_c AS DOUBLE)
         |         / CAST(4*(SELECT m FROM m)*(SELECT m FROM m) AS DOUBLE)
         |         AS q_contrib
         |FROM pc
         |UNION ALL
         |SELECT '~total', CAST(sum(e_c) AS BIGINT),
         |       2*(SELECT m FROM m),
         |       CAST(4*(SELECT m FROM m)*sum(e_c) - sum(d_c*d_c) AS DOUBLE)
         |         / CAST(4*(SELECT m FROM m)*(SELECT m FROM m) AS DOUBLE)
         |FROM pc
         |ORDER BY community""".stripMargin),
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        graft.operators.Dedup.modularity(
          graft.operators.Dedup.minhashVerifiedPairs(
            docs, threshold = 0.5, maxDf = 20),
          docs.select(col("doc_id"), col("source").as("community")))
      }),

    // Simpson lang-diversity per source (q180): exact pair-collision
    // concentration + effective language count — the entropy-free (and
    // therefore hash-matchable) mixture-balance readout. Pair sums on
    // DECIMAL(38,0)/HUGEINT (rule 18), two single-division doubles.
    Q("q180_simpson_diversity", Some(
      """WITH c AS (
        |  SELECT source, lang, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_rows,
        |             count(*) AS n_labels, sum(c*(c-1)) AS num
        |      FROM c GROUP BY 1)
        |SELECT source, n_rows, n_labels,
        |  CASE WHEN n_rows < 2 THEN 0.0e0
        |       ELSE CAST(num AS DOUBLE)
        |          / CAST(n_rows*(n_rows-1) AS DOUBLE) END AS simpson,
        |  CASE WHEN num = 0 THEN 0.0e0
        |       ELSE CAST(n_rows*(n_rows-1) AS DOUBLE)
        |          / CAST(num AS DOUBLE) END AS effective_labels
        |FROM a ORDER BY source""".stripMargin),
      (s, d) => Profiling.simpsonDiversity(
        Tables.load(s, d, "documents"), group = "source", label = "lang")),

    // trimmed mean of doc length per language (q181): values outside
    // the exact [p10, p90] count-of-counts quantiles dropped, then one
    // int/int division. ceil() comparisons ride doubles identically on
    // both engines (same IEEE product, exact integer threshold).
    Q("q181_trimmed_mean", Some(
      """WITH h AS (
        |  SELECT lang, n_chars AS v, count(*) AS m
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, v,
        |             sum(m) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |             sum(m) OVER (PARTITION BY lang) AS n
        |      FROM h),
        |qs AS (SELECT lang,
        |         min(CASE WHEN cum >= ceil(0.1e0*n) THEN v END) AS lo_v,
        |         min(CASE WHEN cum >= ceil(0.9e0*n) THEN v END) AS hi_v
        |       FROM c GROUP BY 1)
        |SELECT d.lang, count(*) AS n_kept,
        |       CAST(sum(d.n_chars) AS BIGINT) AS kept_total,
        |       CAST(sum(d.n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS trimmed_mean
        |FROM documents d JOIN qs ON d.lang = qs.lang
        |WHERE d.n_chars >= qs.lo_v AND d.n_chars <= qs.hi_v
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
      (s, d) => Profiling.trimmedMean(
        Tables.load(s, d, "documents"), group = "lang", value = "n_chars",
        lo = 0.1, hi = 0.9)),

    // functional-dependency conformance audit (q174): check three
    // candidate FDs — one that holds (the key FD p_partkey→p_brand)
    // and two that don't — reporting violating
    // group counts and the worst group's distinct-RHS. Oracle arms are
    // GENERATED from the same fdChecks list (one definition, two
    // engines); DuckDB's HUGEINT sum is cast to BIGINT (rule 18).
    Q("q174_fd_audit", Some(fdAuditOracle),
      (s, d) => fdChecks.map { case (name, tbl, lhs, rhs) =>
          Profiling.fdViolations(Tables.load(s, d, tbl), name, Seq(lhs), rhs)
        }.reduce(_ unionByName _)
        .orderBy(col("fd"))),

    // robust outlier detection: per-group median + MAD over the integral
    // quantity column, outliers = |x − med| > 1.5·MAD. Every value lives
    // on the half-integer grid (binary-exact), interpolated medians
    // included, so both engines compute identical doubles with no
    // decimal plumbing. Two grain-level aggregates + broadcast-size
    // joins back — no window over the fact table.
    Q("q137_mad_outliers", Some(
      """WITH med AS (
        |  SELECT l_returnflag, median(l_quantity) AS med_qty
        |  FROM lineitem GROUP BY l_returnflag),
        |dev AS (
        |  SELECT l.l_returnflag, abs(l.l_quantity - m.med_qty) AS ad,
        |         m.med_qty
        |  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag),
        |mad AS (
        |  SELECT l_returnflag, median(ad) AS mad_qty FROM dev GROUP BY l_returnflag)
        |SELECT d.l_returnflag,
        |       CAST(d.med_qty AS DOUBLE) AS med_qty,
        |       CAST(a.mad_qty AS DOUBLE) AS mad_qty,
        |       CAST(count(*) FILTER (WHERE d.ad > 1.5 * a.mad_qty) AS BIGINT)
        |         AS n_outliers,
        |       count(*) AS n
        |FROM dev d JOIN mad a ON d.l_returnflag = a.l_returnflag
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
      (s, d) => {
        val li = Tables.load(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_quantity"))
        val med = li.groupBy(col("l_returnflag"))
          .agg(median(col("l_quantity")).as("med_qty"))
        val dev = li.join(broadcast(med), Seq("l_returnflag"))
          .select(col("l_returnflag"), col("med_qty"),
            abs(col("l_quantity") - col("med_qty")).as("ad"))
        val mad = dev.groupBy(col("l_returnflag"))
          .agg(median(col("ad")).as("mad_qty"))
        dev.join(broadcast(mad), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"), col("med_qty").cast("double").as("med_qty"),
            col("mad_qty").cast("double").as("mad_qty"))
          .agg(count(when(col("ad") > lit(1.5) * col("mad_qty"), 1))
            .cast("bigint").as("n_outliers"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      }),

    // key-skew diagnostics over the events user key: exact Gini + max
    // share from the COUNT-OF-COUNTS table (O(√rows) entries, so the
    // rank window over it is safe at any scale); integer arithmetic
    // until the two final divisions (see Profiling.keySkew).
    Q("q135_key_skew", Some(
      """WITH tf AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        |cc AS (SELECT c, count(*) AS m FROM tf GROUP BY c),
        |rk AS (SELECT c, m,
        |         COALESCE(sum(m) OVER (ORDER BY c
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r
        |       FROM cc),
        |agg AS (SELECT CAST(sum(m) AS BIGINT) AS k,
        |               CAST(sum(c * m) AS BIGINT) AS t,
        |               max(c) AS top_count,
        |               sum(c * (m * r + (m * (m + 1)) // 2)) AS s
        |        FROM rk)
        |SELECT k AS n_keys, t AS n_rows, top_count,
        |  CAST(top_count AS DOUBLE) / CAST(t AS DOUBLE) AS max_share,
        |  2 * CAST(s AS DOUBLE) / (CAST(k AS DOUBLE) * CAST(t AS DOUBLE))
        |    - CAST(k + 1 AS DOUBLE) / CAST(k AS DOUBLE) AS gini
        |FROM agg""".stripMargin),
      (s, d) => Profiling.keySkew(
        Tables.load(s, d, "events"), key = "user_id")),

    // triangle census of the near-dup graph: cluster-density audit
    // (closure≈1 → clusters are cliques, i.e. true duplicate groups).
    // Wedge join + semi-join probe, each triangle counted once under
    // the a<b<c orientation; oracle replays the exact-Jaccard pair set
    // (rule 13) with the same three-way join.
    Q("q136_graph_triangles", Some(
      s"""WITH ${DedupQueries.ngramPairCtes},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  WHERE EXISTS (SELECT 1 FROM e e3
         |                WHERE e3.a = e1.a AND e3.b = e2.b)),
         |deg AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM e UNION ALL SELECT b FROM e)
         |  GROUP BY v),
         |tot AS (
         |  SELECT count(*) AS n_nodes,
         |         CAST(sum(d) // 2 AS BIGINT) AS n_edges,
         |         CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
         |  FROM deg)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges = 0 THEN 0.0e0
         |       ELSE 3 * CAST(n_triangles AS DOUBLE)
         |            / CAST(n_wedges AS DOUBLE) END AS closure_rate
         |FROM tot, tri""".stripMargin),
      (s, d) => graft.operators.Dedup.triangleCensus(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // fixed-point integer PageRank (3 iterations) over the near-dup
    // pair graph: authority scoring of duplicate clusters. Rank lives
    // as a scaled int64, contributions are integer divisions, sums ride
    // DECIMAL(38,0) — order-independent, so the oracle replays the
    // exact-Jaccard pair set (rule 13) and the three unrolled updates
    // bit-for-bit. Iteration CTEs are GENERATED from the same Scala
    // constants the operator uses (rule 12: one definition, two
    // engines).
    Q("q148_pagerank", Some(pageRankOracle),
      (s, d) => graft.operators.Dedup.pageRank(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20),
        iters = 3)),

    // label-propagation communities (q201): the mode-update fixpoint
    // over the near-dup graph — finds densely-connected communities
    // INSIDE connected components (a chain of weakly-joined cliques is
    // one CC but several communities). Determinized: fixed rounds,
    // ties to the smallest label, so the oracle replays every round as
    // generated CTEs from the shared constants (rule 12); pair set is
    // the brute-force exact-Jaccard oracle (rule 13).
    Q("q201_label_propagation", Some(labelPropagationOracle),
      (s, d) => graft.operators.Dedup.labelPropagation(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // TrustRank (q205): PageRank with teleport mass restricted to the
    // trusted seed class (doc_id ≡ 0 mod 10) — trust propagates outward
    // over dup edges and decays; unreachable farms score 0. Same integer
    // fixed point as q148, rounds replayed from shared constants
    // (rules 12/13).
    Q("q205_trustrank", Some(trustRankOracle),
      (s, d) => graft.operators.Dedup.trustRank(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // HITS hubs/authorities (q206): Kleinberg's mutual reinforcement on
    // the copy→original DAG (a copy "cites" its original) — authorities
    // = most-copied originals, hubs = copies aggregating authoritative
    // originals. Integer rounds with
    // max-renormalization (x·scale DIV max), replayed as generated CTEs
    // from the shared constants (rules 12/13).
    Q("q206_hits", Some(hitsOracle),
      (s, d) => graft.operators.Dedup.hits(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // multi-source BFS hop distance (q202): how much of the dup graph
    // sits within k hops of the seed set (doc_id ≡ 0 mod
    // Dedup.bfsSeedMod) — the
    // crawl-frontier / trust-propagation diagnostic. All-integer
    // min-relaxation, rounds replayed as generated CTEs (rules 12/13).
    Q("q202_bfs_hops", Some(bfsHopsOracle),
      (s, d) => graft.operators.Dedup.bfsHops(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // degree assortativity of the near-dup graph (q172): global mixing
    // statistic complementing q136's closure rate — cliques (template
    // spam) push r toward 1, hub-and-spoke duplication pushes it
    // negative. Power sums ride DECIMAL(38,0)/HUGEINT (rule 18); r is
    // two double casts + one division, bit-equal cross-engine (q121
    // idiom). Pair set replayed under the brute-force exact-Jaccard
    // oracle (rule 13). Single-row output, no ORDER BY needed.
    Q("q172_assortativity", Some(
      s"""WITH ${DedupQueries.ngramPairCtes},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |e AS (SELECT id_a AS s, id_b AS d FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT s AS v, count(*) AS dg FROM e GROUP BY 1),
         |ed AS (SELECT da.dg AS x, db.dg AS y FROM e
         |       JOIN deg da ON e.s = da.v JOIN deg db ON e.d = db.v),
         |agg AS (SELECT count(*) AS m2, sum(x) AS sx,
         |               sum(x * y) AS sxy, sum(x * x) AS sxx FROM ed)
         |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
         |       CAST(sx AS BIGINT) AS sum_deg,
         |       CAST(sxy AS BIGINT) AS sum_xy,
         |       CAST(sxx AS BIGINT) AS sum_xx,
         |       CASE WHEN m2 * sxx - sx * sx = 0 THEN 0.0e0
         |            ELSE CAST(m2 * sxy - sx * sx AS DOUBLE)
         |               / CAST(m2 * sxx - sx * sx AS DOUBLE) END
         |         AS assortativity
         |FROM agg""".stripMargin),
      (s, d) => graft.operators.Dedup.assortativity(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // per-node local clustering coefficient (q175): q136's closure rate
    // resolved to node grain — clique members score 1, hub centers 0.
    // t_v and d_v are exact int64; lcc is one double division of exact
    // products. Pair set under the brute-force oracle (rule 13).
    Q("q175_local_clustering", Some(
      s"""WITH ${DedupQueries.ngramPairCtes},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |deg AS (SELECT v, count(*) AS degree FROM (
         |          SELECT id_a AS v FROM pairs
         |          UNION ALL SELECT id_b FROM pairs) GROUP BY 1),
         |tri AS (
         |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
         |  FROM pairs e1 JOIN pairs e2 ON e1.id_b = e2.id_a
         |  WHERE EXISTS (SELECT 1 FROM pairs e3
         |                WHERE e3.id_a = e1.id_a AND e3.id_b = e2.id_b)),
         |tv AS (SELECT v, count(*) AS t FROM (
         |         SELECT a AS v FROM tri
         |         UNION ALL SELECT b FROM tri
         |         UNION ALL SELECT c FROM tri) GROUP BY 1)
         |SELECT deg.v AS doc_id, deg.degree,
         |       COALESCE(tv.t, 0) AS n_triangles,
         |       CASE WHEN deg.degree < 2 THEN 0.0e0
         |            ELSE CAST(2 * COALESCE(tv.t, 0) AS DOUBLE)
         |               / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
         |       END AS lcc
         |FROM deg LEFT JOIN tv ON tv.v = deg.v
         |ORDER BY doc_id""".stripMargin),
      (s, d) => graft.operators.Dedup.localClustering(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // edge embeddedness (d74): q175's closure statistic moved to EDGE
    // grain — the sparsifier cut decision. Common neighbors per edge via
    // the wedge join, neighborhood Jaccard as one guarded int/int double
    // division; bridge edges (cn = 0) are the ones a 100 TB CC run drops
    // first. Pair set under the brute-force exact-Jaccard oracle
    // (rule 13); (id_a, id_b) is a unique total order.
    Q("d74_edge_embeddedness", Some(
      s"""WITH ${DedupQueries.ngramPairCtes},
         |pairs AS MATERIALIZED (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |d AS MATERIALIZED (
         |      SELECT id_a AS s, id_b AS t FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT s AS v, count(*) AS degree FROM d GROUP BY 1),
         |cn AS (
         |  SELECT p.id_a, p.id_b, count(*) AS cn
         |  FROM pairs p
         |  JOIN d na ON na.s = p.id_a
         |  WHERE EXISTS (SELECT 1 FROM d nb
         |                WHERE nb.s = p.id_b AND nb.t = na.t)
         |  GROUP BY p.id_a, p.id_b)
         |SELECT p.id_a, p.id_b, da.degree AS deg_a, db.degree AS deg_b,
         |       COALESCE(cn.cn, 0) AS cn,
         |       CASE WHEN da.degree + db.degree - COALESCE(cn.cn, 0) = 2
         |            THEN 0.0e0
         |            ELSE CAST(COALESCE(cn.cn, 0) AS DOUBLE)
         |               / CAST(da.degree + db.degree
         |                      - COALESCE(cn.cn, 0) - 2 AS DOUBLE)
         |       END AS jacc
         |FROM pairs p
         |LEFT JOIN cn ON cn.id_a = p.id_a AND cn.id_b = p.id_b
         |JOIN deg da ON da.v = p.id_a
         |JOIN deg db ON db.v = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin),
      (s, d) => graft.operators.Dedup.edgeEmbeddedness(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20))),

    // duplicate-cluster source purity (q176): is duplication intra-
    // source (scraper echo, purity 1) or cross-source syndication?
    // Composes the d44 recursive-CC oracle chain with a label join;
    // HUGEINT member sums cast to BIGINT (rule 18); purity is one
    // int/int double division.
    Q("q176_cluster_purity", Some(
      s"""WITH RECURSIVE ${DedupQueries.dupClusterCtes},
         |m AS (SELECT a.cluster_id, d.source
         |      FROM asg a JOIN documents d ON d.doc_id = a.doc_id),
         |sc AS (SELECT cluster_id, source, count(*) AS c
         |       FROM m GROUP BY 1, 2)
         |SELECT cluster_id,
         |       CAST(sum(c) AS BIGINT) AS n_members,
         |       count(*) AS n_labels,
         |       max(c) AS top_label_n,
         |       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS purity
         |FROM sc GROUP BY cluster_id
         |ORDER BY cluster_id""".stripMargin),
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        graft.operators.Dedup.clusterPurity(
          graft.operators.Dedup.connectedComponents(
            graft.operators.Dedup.minhashVerifiedPairs(
              docs, threshold = 0.5, maxDf = 20)),
          docs, label = "source")
      }),

    // train/test split-leakage audit (q178): cross-tabulate near-dup
    // pairs against an 80/20 doc_id split — (test, train) rows are
    // benchmark leakage. The split rule (doc_id % 10 <= 7) is the
    // deterministic, both-engine-replayable idiom of d47's batch flag.
    // Pair set under the brute-force oracle (rule 13).
    Q("q178_split_leakage", Some(
      s"""WITH ${DedupQueries.ngramPairCtes},
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |f AS (SELECT doc_id,
         |             CASE WHEN doc_id % 10 <= 7 THEN 'train'
         |                  ELSE 'test' END AS sp
         |      FROM documents),
         |p AS (SELECT least(fa.sp, fb.sp) AS split_lo,
         |             greatest(fa.sp, fb.sp) AS split_hi
         |      FROM pairs JOIN f fa ON fa.doc_id = id_a
         |                 JOIN f fb ON fb.doc_id = id_b),
         |c AS (SELECT split_lo, split_hi, count(*) AS n_pairs
         |      FROM p GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n_total FROM c)
         |SELECT split_lo, split_hi, n_pairs,
         |       CAST(n_pairs AS DOUBLE)
         |         / (SELECT CAST(n_total AS DOUBLE) FROM t) AS share
         |FROM c ORDER BY split_lo, split_hi""".stripMargin),
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        graft.operators.Dedup.splitLeakage(
          graft.operators.Dedup.minhashVerifiedPairs(
            docs, threshold = 0.5, maxDf = 20),
          docs.select(col("doc_id"),
            when(col("doc_id") % 10 <= 7, "train").otherwise("test")
              .as("split")))
      }),

    // soft dedup as weights (q179): one representative per dup cluster
    // carrying weight = cluster size, singletons at weight 1 — the
    // duplication-as-weights recipe that preserves the corpus token
    // distribution. Composes the d44 recursive-CC oracle; Σweight is
    // pinned to |docs| by construction.
    Q("q179_dedup_weights", Some(
      s"""WITH RECURSIVE ${DedupQueries.dupClusterCtes},
         |cw AS (SELECT min(doc_id) AS doc_id, count(*) AS weight
         |       FROM asg GROUP BY cluster_id)
         |SELECT doc_id, weight FROM cw
         |UNION ALL
         |SELECT d.doc_id, CAST(1 AS BIGINT) AS weight FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM asg)
         |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        graft.operators.Dedup.dedupWeights(
          graft.operators.Dedup.connectedComponents(
            graft.operators.Dedup.minhashVerifiedPairs(
              docs, threshold = 0.5, maxDf = 20)),
          docs)
      }),

    // k-core decomposition (2-core) of the near-dup graph: the
    // structural cluster-quality signal — clique-like template-spam
    // clusters survive the peel intact, transitive chains (threshold
    // artifacts) dissolve end-first. Exact integer peeling; the oracle
    // replays the SAME round-synchronous peel as a recursive CTE whose
    // per-round working table mirrors the operator's alive set (cap 60
    // = the operator's maxRounds; the operator THROWS past it, so a
    // cap-truncated oracle can never silently diverge). Pair set under
    // the brute-force exact-Jaccard oracle (rule 13).
    Q("q166_kcore", Some(
      s"""WITH RECURSIVE ${DedupQueries.ngramPairCtes},
         |pairs AS MATERIALIZED (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
         |e AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |alive(id, rnd) AS (
         |  SELECT DISTINCT s, 0 FROM e
         |  UNION
         |  SELECT a.id, a.rnd + 1 FROM alive a
         |  WHERE a.rnd < 60
         |    AND (SELECT count(*) FROM e JOIN alive x ON x.id = e.d
         |         WHERE e.s = a.id) >= 2),
         |core AS (SELECT id FROM alive WHERE rnd = 60),
         |deg AS (
         |  SELECT e.s AS doc_id, count(*) AS core_deg
         |  FROM e JOIN core ca ON ca.id = e.s JOIN core cb ON cb.id = e.d
         |  GROUP BY e.s)
         |SELECT doc_id, CAST(core_deg AS BIGINT) AS core_deg
         |FROM deg ORDER BY doc_id""".stripMargin),
      (s, d) => graft.operators.Dedup.kCore(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20),
        k = 2)),

    // k-truss template-farm detection (q212): the triangle-reinforced
    // sibling of q166's k-core, on the RARE-SHINGLE co-occurrence
    // graph (docs sharing ≥2 shingles of df ∈ [2,8] — rare boilerplate
    // induces per-shingle cliques, so cohesive trusses ARE template
    // farms while chance co-occurrence chains dissolve). Exactly 6
    // synchronous peel rounds, unrolled into generated MATERIALIZED
    // CTEs (rule 12/22); the operator THROWS if 6 rounds is not a
    // fixpoint, so the cap-truncated replay can never silently diverge
    // (measured fixpoint: 2 rounds at both SFs).
    Q("q212_ktruss", Some(kTrussOracle),
      (s, d) => graft.operators.Dedup.kTruss(
        graft.operators.Dedup.coRareShinglePairs(
          Tables.load(s, d, "documents")), k = 4, rounds = 6)),

    // relative (within-domain) quality filter: keep the top half of
    // each source by quality score — CCNet/RefinedWeb-style curation
    // where thresholds are per-domain, not global. percent_rank has a
    // doc_id tiebreak (unique ranks), so the (rank-1)/(n-1) division is
    // one identical IEEE op in both engines.
    Q("q147_domain_quality_filter", Some(
      """WITH scored AS (
        |  SELECT doc_id, source,
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
        |  SELECT doc_id, source, quality,
        |         percent_rank() OVER (
        |           PARTITION BY source ORDER BY quality DESC, doc_id) AS pct_rank
        |  FROM scored)
        |SELECT doc_id, source, quality, pct_rank
        |FROM ranked WHERE pct_rank <= 0.5e0
        |ORDER BY source, pct_rank, doc_id""".stripMargin),
      (s, d) => graft.operators.Curation.domainPercentileFilter(
        Tables.load(s, d, "documents"), keep = 0.5)),

    // exact per-language length quantiles via the count-of-counts
    // histogram (O(distinct values) entries — no sort of the data, no
    // sketch, exact at any scale; quantile_disc / type-1 semantics:
    // smallest value with cumulative count >= ceil(q*n)).
    Q("q149_exact_quantiles", Some(quantilesOracle),
      (s, d) => Profiling.exactQuantiles(
        Tables.load(s, d, "documents"), group = "lang", value = "n_chars",
        qs = quantileProbes)),

    // exact TOKEN-WEIGHTED length quantiles per source (q210): the
    // percentile of the TRAINING BUDGET, not of documents — a
    // doc-count percentile underweights the long docs that dominate
    // tokens. Integer cross-multiplied selection (cum·den ≥ qn·totW,
    // decimal products, zero divisions); cumulative weights via the
    // grouped Prefix.cumsum, so no group or support size ever lands
    // on one partition.
    Q("q210_weighted_quantiles", Some(
      """WITH hist AS MATERIALIZED (
        |              SELECT source, n_chars AS v, sum(n_chars) AS cw
        |              FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v, cw,
        |          sum(cw) OVER (PARTITION BY source ORDER BY v) AS cum
        |        FROM hist),
        |tot AS (SELECT source, sum(cw) AS tw FROM hist GROUP BY source),
        |f AS (SELECT c.source, c.v, q.qn
        |      FROM cum c JOIN tot t USING (source)
        |      CROSS JOIN (SELECT unnest([25, 50, 75, 90]) AS qn) q
        |      WHERE c.cum * 100 >= q.qn * t.tw)
        |SELECT source, CAST(qn AS BIGINT) AS q_num,
        |  CAST(100 AS BIGINT) AS q_den, CAST(min(v) AS BIGINT) AS q_value
        |FROM f GROUP BY source, qn ORDER BY source, q_num""".stripMargin),
      (s, d) => Profiling.weightedQuantiles(
        Tables.load(s, d, "documents"), group = "source", value = "n_chars",
        weight = "n_chars", qs = Seq(25, 50, 75, 90))),

    // one BPE-training merge step: adjacent character pairs ranked by
    // corpus frequency, counted over the DISTINCT-word frequency table
    // (sublinear in corpus size), weighted by word count. Both engines
    // enumerate pairs as substr(word, i, 2) over i ∈ [1, len-1].
    Q("q132_bpe_step", Some(
      """WITH wc AS (
        |  SELECT w AS word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY w),
        |pairs AS (
        |  SELECT substr(word, CAST(i AS BIGINT), 2) AS pair, cnt
        |  FROM wc, unnest(range(1, CAST(len(word) AS BIGINT))) AS t(i)
        |  WHERE len(word) >= 2)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_cnt
        |FROM pairs GROUP BY pair
        |ORDER BY pair_cnt DESC, pair LIMIT 20""".stripMargin),
      (s, d) => graft.operators.Vocab.bpeTopMerges(
        Tables.load(s, d, "documents"), k = 20)),

    // temperature-based domain reweighting (p ∝ √n): per-source share
    // and integer token-budget allocation. √n is floor-scaled to int64
    // immediately, so the normalizer and the split are exact integer
    // math — no double is ever summed (see Curation.temperatureMix).
    Q("q133_temperature_mix", Some(
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS w
        |      FROM c),
        |t AS (SELECT sum(w) AS sw FROM w)
        |SELECT source, n,
        |       CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) AS share,
        |       CAST((1000000 * w) // sw AS BIGINT) AS alloc_tokens
        |FROM w, t ORDER BY source""".stripMargin),
      (s, d) => graft.operators.Curation.temperatureMix(
        Tables.load(s, d, "documents"), budget = 1000000L)),

    // q133's budget-CONSERVING completion (q215): Hamilton largest-
    // remainder apportionment of the same √n-tempered weights — the
    // floor allocation plus leftover units to the largest remainders,
    // so Σ alloc = budget EXACTLY (the property a shipped mixture
    // needs). All-integer after the one floor-scaled sqrt; products in
    // DECIMAL(38,0)/HUGEINT (rule 18).
    // budgeted mixture water-filling (q227): allocate 60% of the corpus
    // token budget across sources by doc-count weight, capped by what
    // each source actually has — saturated sources taken whole, the
    // rest splitting the remainder by weight with Hamilton rounding.
    // Saturation order, the prefix-closed cut, the exact-remainder
    // floor shares (rule 25), and the remainder ranks all replay as the
    // same integer/HUGEINT arithmetic (rule 18); conservation
    // Σalloc = budget is spec-asserted.
    Q("q227_mixture_waterfill", Some(
      """WITH src AS MATERIALIZED (
        |  SELECT source,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS HUGEINT) AS a,
        |    CAST(count(*) AS HUGEINT) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(a) AS ta, sum(w) AS tw,
        |               (sum(a) * 600) // 1000 AS t0 FROM src),
        |rk AS (SELECT s.source, s.a, s.w, t.ta, t.tw,
        |         least(t.t0, t.ta) AS bt,
        |         (s.a * 1048576) // s.w AS r
        |       FROM src s, tot t),
        |pre AS (SELECT *,
        |          sum(a) OVER wnd AS pa, sum(w) OVER wnd AS pw
        |        FROM rk
        |        WINDOW wnd AS (ORDER BY r, source ROWS UNBOUNDED PRECEDING)),
        |sat AS (SELECT *,
        |          min(CASE WHEN a * (tw - pw) <= (bt - pa) * w
        |                   THEN 1 ELSE 0 END)
        |            OVER (ORDER BY r, source ROWS UNBOUNDED PRECEDING) AS sall
        |        FROM pre),
        |kk AS (SELECT coalesce(max(CASE WHEN sall = 1 THEN pa END),
        |                       CAST(0 AS HUGEINT)) AS ak,
        |              coalesce(max(CASE WHEN sall = 1 THEN pw END),
        |                       CAST(0 AS HUGEINT)) AS wk
        |       FROM sat),
        |ph AS (SELECT s.*, s.bt - k.ak AS bb, s.tw - k.wk AS wrem
        |       FROM sat s, kk k),
        |shares AS (SELECT *,
        |    CASE WHEN sall = 1 THEN NULL ELSE (bb * w) // wrem END AS shr,
        |    CASE WHEN sall = 1 THEN CAST(-1 AS HUGEINT)
        |         ELSE (bb * w) % wrem END AS rem
        |  FROM ph),
        |lv AS (SELECT CASE WHEN max(wrem) = 0 THEN CAST(0 AS HUGEINT)
        |                   ELSE sum(CASE WHEN sall <> 1 THEN rem
        |                                 ELSE CAST(0 AS HUGEINT) END)
        |                        // max(wrem) END AS lvl
        |       FROM shares),
        |rkk AS (SELECT *,
        |          row_number() OVER (ORDER BY rem DESC, source) AS brk
        |        FROM shares)
        |SELECT k.source, CAST(k.a AS BIGINT) AS avail,
        |  CAST(k.w AS BIGINT) AS weight, k.sall = 1 AS saturated,
        |  CAST(CASE WHEN k.sall = 1 THEN k.a
        |       ELSE least(k.a, k.shr + CASE WHEN k.brk <= l.lvl
        |                                    THEN 1 ELSE 0 END) END
        |       AS BIGINT) AS alloc
        |FROM rkk k, lv l ORDER BY k.source""".stripMargin),
      (s, d) => Sampling.waterfillAlloc(
        Tables.load(s, d, "documents").groupBy(col("source"))
          .agg(sum(tokenCount(col("text")).cast("long")).as("avail"),
            count(lit(1)).as("weight")))),

    Q("q215_hamilton_alloc", Some(
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs,
        |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS w
        |      FROM c),
        |t AS (SELECT sum(CAST(w AS HUGEINT)) AS totw FROM w),
        |s AS (SELECT source, n_docs, w,
        |        CAST(w AS HUGEINT) * 1000000 AS prod, totw
        |      FROM w, t),
        |s2 AS (SELECT *, prod % totw AS rem,
        |         (prod - (prod % totw)) // totw AS base FROM s),
        |lo AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS lft FROM s2),
        |rk AS (SELECT *, row_number()
        |         OVER (ORDER BY rem DESC, source) AS rk FROM s2)
        |SELECT source, n_docs, w, CAST(base AS BIGINT) AS base,
        |  CAST(CASE WHEN rk <= lft THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  CAST(base AS BIGINT)
        |    + CAST(CASE WHEN rk <= lft THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk, lo ORDER BY source""".stripMargin),
      (s, d) => graft.operators.Sampling.hamiltonAlloc(
        Tables.load(s, d, "documents"), "source", budget = 1000000L)),

    // deterministic curriculum order (q217): easiest-first within each
    // source (difficulty = n_chars), round-robin across sources via the
    // injective position map rank·|sources| + src_idx — no global
    // window over the corpus (rule 23), the order is a COLUMN.
    Q("q217_curriculum", Some(
      """WITH scored AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS difficulty
        |  FROM documents),
        |si AS (SELECT source,
        |         CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
        |           AS src_idx
        |       FROM (SELECT DISTINCT source FROM scored)),
        |ns AS (SELECT count(*) AS n FROM si)
        |SELECT s.doc_id, s.source, s.difficulty,
        |  CAST(row_number() OVER (PARTITION BY s.source
        |    ORDER BY s.difficulty, s.doc_id) - 1 AS BIGINT) AS rank_in_source,
        |  CAST(row_number() OVER (PARTITION BY s.source
        |    ORDER BY s.difficulty, s.doc_id) - 1 AS BIGINT)
        |    * (SELECT n FROM ns) + si.src_idx AS global_pos
        |FROM scored s JOIN si USING (source)
        |ORDER BY global_pos""".stripMargin),
      (s, d) => graft.operators.Sampling.curriculumInterleave(
        Tables.load(s, d, "documents"), "source",
        difficulty = col("n_chars"))),

    // exact distributed heavy hitters over the token stream: per-partition
    // Misra–Gries summaries propose candidates, an exact recount + the
    // integer support filter keeps precisely the true heavy hitters — so
    // the plain exact HAVING query is a valid oracle (see Frequency).
    Q("q123_heavy_hitters", Some(
      """SELECT item, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS item
        |      FROM documents)
        |GROUP BY item
        |HAVING count(*) * 1000 > (SELECT count(*) FROM (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS item
        |  FROM documents))
        |ORDER BY cnt DESC, item""".stripMargin),
      (s, d) => graft.operators.Frequency.heavyHitters(s,
        Tables.load(s, d, "documents")
          .repartition(32) // row-amplifying explode: spread first (rule 6)
          .select(explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("item")),
        k = 999)),

    // deterministic global corpus shuffle: ORDER BY md5(seed:doc_id) —
    // reproducible pseudorandom order with no rand(), one range sort
    // curriculum ordering (q159): quality bins from exact type-1 decile
    // thresholds (q149's count-of-counts shape over the rounded score),
    // best-bin-first with a deterministic md5 shuffle inside each bin —
    // reproducible curriculum schedules, no rand(). Deciles interpolate
    // e-suffixed (rule 14: ceil(q*n) sits on integer boundaries).
    Q("q159_curriculum_order", Some(
      s"""WITH m AS (
         |  SELECT doc_id,
         |    round(
         |      least(length(text) / 500.0, 1.0) * 0.4
         |      + least(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |            x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
         |          / len(string_split_regex(trim(text), '\\s+')) * 5.0, 1.0) * 0.4
         |      + (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |          / CAST(greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS DOUBLE), 1.0)) * 0.2,
         |      6) AS quality
         |  FROM documents),
         |hist AS (SELECT quality, count(*) AS cnt FROM m GROUP BY quality),
         |cum AS (SELECT quality,
         |          sum(cnt) OVER (ORDER BY quality) AS cum,
         |          sum(cnt) OVER () AS n
         |        FROM hist),
         |fan AS (SELECT quality, cum, n,
         |          unnest([${(1 until 10).map(i => s"${i.toDouble / 10}e0").mkString(", ")}]) AS q
         |        FROM cum),
         |th AS (SELECT q, min(quality) AS q_value FROM fan
         |       WHERE cum >= CAST(ceil(q * n) AS BIGINT) GROUP BY q),
         |dec AS (SELECT s.doc_id, s.quality,
         |          CAST(1 + count(t.q_value) AS BIGINT) AS bin
         |        FROM m s LEFT JOIN th t ON s.quality >= t.q_value
         |        GROUP BY s.doc_id, s.quality)
         |SELECT doc_id, quality, bin,
         |       md5('s0:' || CAST(doc_id AS VARCHAR)) AS skey
         |FROM dec ORDER BY bin DESC, skey, doc_id""".stripMargin),
      (s, d) => graft.operators.Curation.curriculumOrder(
        Tables.load(s, d, "documents"))),

    Q("q89_corpus_shuffle", Some(
      """SELECT doc_id, md5('s0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin),
      (s, d) => graft.operators.Curation.corpusShuffle(
        Tables.load(s, d, "documents"))),

    // domain mixing: down-sample each source to a target cap, survivors
    // chosen in deterministic hash order (reproducible resampling)
    Q("q90_domain_mix", Some(
      """WITH h AS (
        |  SELECT doc_id, source, md5('mix:' || CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
        |      FROM h)
        |SELECT doc_id, source FROM r
        |WHERE rn <= CASE WHEN source = 'src0' THEN 5
        |                 WHEN source = 'src1' THEN 10 ELSE 15 END
        |ORDER BY source, doc_id""".stripMargin),
      (s, d) => graft.operators.Curation.domainMix(
        Tables.load(s, d, "documents"),
        caps = Map("src0" -> 5, "src1" -> 10), defaultCap = 15)),

    // custom keyed state with multi-row emission: flatMapGroupsWithState
    // running ledger — every event with its user's cumulative count and
    // value (cents-exact). The oracle replays it as a cumulative window,
    // closing the one operator class (arbitrary stateful processing)
    // that previously had no oracled query.
    Q("q91_running_ledger", Some(
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS running_n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0
        |    AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
      (s, d) => {
        import s.implicits._
        graft.streaming.EventPipeline.runningLedger(s,
          Tables.load(s, d, "events").as[graft.streaming.EventPipeline.Event])
          .toDF().orderBy(col("event_id"))
      }),

    // format round-trips: write documents through the ORC and CSV
    // sink/source pair, then aggregate the read-back — puts the
    // non-parquet format surface under the oracle gate instead of
    // spec-only coverage. The oracle aggregates the original table: a
    // lossless round-trip is exactly what makes them equal.
    Q("q93_orc_roundtrip", Some(formatRoundtripOracle),
      (s, d) => {
        val p = Staging.sinkDir("orc_" + d.replaceAll("[^A-Za-z0-9]", "_")) +
          "/docs_orc"
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").orc(p)
        formatRoundtripAgg(s.read.orc(p))
      }),

    // small-file compaction: fragment documents into 64 tiny parquet
    // files (a streaming sink's debris), compact to a handful with NO
    // shuffle (coalesce), and aggregate the read-back. Equality with
    // the original-table oracle is the losslessness property; the spec
    // asserts the file-count collapse.
    Q("q138_compaction", Some(formatRoundtripOracle),
      (s, d) => {
        import graft.operators.Maintenance
        val tag = d.replaceAll("[^A-Za-z0-9]", "_")
        val frag = Staging.sinkDir("frag_" + tag) + "/docs_frag"
        val compacted = Staging.sinkDir("frag_" + tag) + "/docs_compact"
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .repartition(64)
          .write.mode("overwrite").parquet(frag)
        Maintenance.compactParquet(s, frag, compacted,
          targetFileBytes = 4L * 1024 * 1024)
        formatRoundtripAgg(s.read.parquet(compacted))
      }),

    // atomic versioned publish (q224): two publishes under a manifest
    // commit, the reader resolving the manifest, a CRASHED third
    // publish planted (v_3 fully written, manifest never flipped) —
    // the reader must still serve v2. The oracle aggregates the
    // original table: v2 holds the full corpus projection, and the
    // crashed version being INVISIBLE is exactly what makes them
    // equal — the atomicity property IS the hash match.
    Q("q224_versioned_publish", Some(formatRoundtripOracle),
      (s, d) => {
        import graft.operators.Maintenance
        val root = Staging.sinkDir(
          "pub_" + d.replaceAll("[^A-Za-z0-9]", "_")) + "/docs_pub"
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        Maintenance.publishVersion(docs.filter(col("doc_id") % 2 === 0), root)
        Maintenance.publishVersion(docs, root)
        // a publisher that died after writing its data but BEFORE the
        // manifest flip: served state must be untouched. The debris
        // version is derived FROM the manifest (current + 1), not a
        // literal — the staged root persists across bench samples in
        // the same JVM, so a hardcoded v_3 would land at or below the
        // committed version on re-invocation and silently stop
        // exercising the crash-invisibility property.
        val crashedV = Maintenance.currentVersion(root)
          .getOrElse(sys.error("q224: no manifest after two publishes")) + 1
        docs.filter(col("doc_id") < 10).write.mode("overwrite")
          .parquet(s"$root/v_$crashedV")
        Maintenance.pruneVersions(root, keep = 0) // older versions go
        formatRoundtripAgg(Maintenance.readPublished(s, root))
      }),

    Q("q94_csv_roundtrip", Some(formatRoundtripOracle),
      (s, d) => {
        val p = Staging.sinkDir("csv_" + d.replaceAll("[^A-Za-z0-9]", "_")) +
          "/docs_csv"
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").option("header", "true").csv(p)
        // CSV is schemaless — the read must re-assert types, which is
        // itself the contract worth gating (a drifting schema breaks it)
        formatRoundtripAgg(s.read
          .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
          .option("header", "true").csv(p))
      }),

    // the capstone composite: the WHOLE corpus-build pipeline as one
    // query — Gopher quality gate → exact dedup (canonical fingerprint)
    // → domain mixing (≤10 per source, hash order) → deterministic
    // shuffle → 2048-token sequence packing. Every stage reuses the
    // registered operator's exact semantics, and the oracle replays the
    // chain as CTEs — proof the operators compose into the pipeline a
    // corpus build actually runs. The final packing window is GLOBAL
    // (one totally-ordered output stream — inherently one partition);
    // at 100 TB you pack per shard/group instead, which is exactly q87.
    Q("q96_corpus_build", Some(
      """WITH w AS (
        |  SELECT doc_id, source, text,
        |         string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  round((length(text) - (len(w) - 1)) * 1.0 / len(w), 6) AS mean_word_len,
        |  round(len(list_filter(w, x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
        |        / len(w), 6) AS stop_frac,
        |  round(1.0 - len(list_distinct(w)) * 1.0 / len(w), 6) AS dup_word_frac
        |  FROM w),
        |q AS (SELECT doc_id FROM m
        |      WHERE n_words >= 25 AND n_words <= 200
        |        AND mean_word_len >= 3.0 AND mean_word_len <= 12.0
        |        AND stop_frac >= 0.02 AND dup_word_frac <= 0.55),
        |fp AS (SELECT w.doc_id, w.source, len(w.w) AS n_tokens,
        |              md5(array_to_string(list_sort(w.w), ' ')) AS fp
        |       FROM w JOIN q ON q.doc_id = w.doc_id),
        |ded AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
        |mix AS (SELECT f.doc_id, f.source, f.n_tokens,
        |          row_number() OVER (PARTITION BY f.source
        |            ORDER BY md5('mix:' || CAST(f.doc_id AS VARCHAR)), f.doc_id) AS rn
        |        FROM fp f JOIN ded ON ded.doc_id = f.doc_id),
        |sel AS (SELECT doc_id, n_tokens,
        |          md5('s0:' || CAST(doc_id AS VARCHAR)) AS skey
        |        FROM mix WHERE rn <= 10)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor(coalesce(sum(n_tokens) OVER (
        |    ORDER BY skey, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
        |    AS BIGINT) AS bin
        |FROM sel ORDER BY doc_id""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, d, "documents")
        val quality = graft.operators.Curation.gopherFilters(docs)
          .filter(col("keep")).select(col("doc_id"))
        val scoped = docs.join(quality, Seq("doc_id"))
          .select(col("doc_id"), col("source"),
            tokenCount(col("text")).cast("long").as("n_tokens"),
            graft.functions.TextFunctions.canonicalFingerprint(col("text")).as("fp"))
          .materializeOnce() // read by the dedup groupBy AND the join back
        val survivors = scoped.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        // CONTRACT: the pack window inside packMixedGlobal is GLOBAL
        // (unpartitioned → single task). Its input must stay bounded by
        // the mix cap applied here — mixCap docs per source, a few
        // hundred rows total — and the helper ENFORCES that with a loud
        // per-run assert (r11 directive #7). Any edit that removes/
        // raises this cap materially must switch the packing to the
        // partitioned Sampling.packBins (q87) instead of sending an
        // unbounded corpus through one task.
        val mixCap = 10
        val mixed = scoped.join(survivors, Seq("doc_id"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("source")).orderBy(
              md5(concat_ws(":", lit("mix"), col("doc_id"))), col("doc_id"))))
          .filter(col("rn") <= mixCap)
          .select(col("doc_id"), col("n_tokens"),
            md5(concat_ws(":", lit("s0"), col("doc_id"))).as("skey"))
        packMixedGlobal(mixed, maxRows = mixCap * 64L)
      }),

    Q("q95_json_roundtrip", Some(formatRoundtripOracle),
      (s, d) => {
        val p = Staging.sinkDir("json_" + d.replaceAll("[^A-Za-z0-9]", "_")) +
          "/docs_json"
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").json(p)
        formatRoundtripAgg(s.read
          .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
          .json(p))
      }),

    // set operations beyond UNION ALL
    Q("q71_intersect", Some(
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin),
      (s, d) => Tables.load(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(Tables.load(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy(col("nk"))),

    // int8 embedding quantization (4x storage cut; double arithmetic
    // with explicit casts makes it bitwise-oracled)
    Q("q73_quantize_i8", Some(
      """SELECT vec_id,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
        |  CAST(CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0.0 THEN 0
        |       ELSE round(CAST(embedding[1] AS DOUBLE)
        |            / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) * 127) END AS TINYINT) AS q1
        |FROM embeddings ORDER BY vec_id""".stripMargin),
      (s, d) => {
        import graft.functions.VectorFunctions
        Tables.load(s, d, "embeddings").select(
          col("vec_id"),
          VectorFunctions.quantScale(col("embedding")).as("scale"),
          element_at(VectorFunctions.quantizeI8(col("embedding")), 1).as("q1"))
          .orderBy(col("vec_id"))
      }),

    // streaming dedup: dropDuplicatesWithinWatermark over the event
    // stream; the emitted KEY SET is deterministic (first-arrival rows
    // are not, so only keys are projected) and equals batch DISTINCT
    Q("q74_stream_dedup", Some(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),
      (s, d) => {
        val name = "graft_stream_dedup"
        val q = graft.streaming.EventPipeline.startDedupQuery(
          s, graft.queries.Staging.eventsDir(d), name)
        try q.processAllAvailable() finally q.stop()
        s.table(name).distinct() // memory sink may replay on retries
          .orderBy(col("user_id"), col("event_type"))
      }),

    // stream-static enrichment under the gate: the event stream left-
    // joined against broadcast customer segments; the emitted (event_id,
    // segment) set equals the batch left join, which is the oracle
    Q("q80_stream_enrich", Some(
      """SELECT e.event_id, c.c_mktsegment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin),
      (s, d) => {
        val name = "graft_stream_enrich"
        val dim = Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val stream = graft.streaming.EventPipeline.eventsStream(
          s, graft.queries.Staging.eventsDir(d))
        val q = graft.streaming.EventPipeline.enriched(stream, dim, "c_custkey")
          .select(col("event_id"), col("c_mktsegment"))
          .writeStream.outputMode("append").format("memory")
          .queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        s.table(name).distinct() // memory sink may replay on retries
          .orderBy(col("event_id"))
      }),

    // stream-stream inner join under the gate: watermarked purchases ⋈
    // watermarked clicks within a 10-minute lookback per user; the
    // append-mode pair set equals the batch interval join (the oracle)
    // CAST(ts AS TIMESTAMP): compare at µs like Spark (CLAUDE.md rule 2)
    Q("q83_stream_stream_join", Some(
      """SELECT p.event_id AS p_id, p.user_id AS user_id, c.event_id AS c_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 10 MINUTE
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY p_id, c_id""".stripMargin),
      (s, d) => {
        val name = "graft_stream_join"
        // state partitioning handled by EventPipeline.withStreamPartitions
        val q = graft.streaming.EventPipeline.startStreamJoinQuery(
          s, graft.queries.Staging.eventsDir(d), name)
        try q.processAllAvailable() finally q.stop()
        s.table(name).distinct() // memory sink may replay on retries
          .orderBy(col("p_id"), col("c_id"))
      }),

    // streaming cardinality monitor (q161): the t53 HLL sketch as
    // foreachBatch state — each event micro-batch reduces to its
    // per-event-type registers (≤256·keys rows) in a batchId-keyed
    // partial-sketch store; the estimate max-merges the partials at
    // read time. Register merge is associative + idempotent, so the
    // stream result equals the batch sketch over all events by
    // construction — which is exactly what the oracle replays (per-key
    // t53 arithmetic over raw events, rolling-hash mode per rule 12).
    Q("q161_stream_cardinality", Some(streamCardinalityOracle),
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val root = Staging.tempDir("graft_q161")
        val in = s"$root/in"
        Staging.stageFrames(
          Seq(0, 1).map(i => ev.filter(pmod(col("event_id"), lit(2L)) === i)), in)
        val store = s"$root/regs"
        val q = graft.streaming.StreamingCardinality.start(
          s, in, store, oracleHash = true)
        try q.processAllAvailable() finally q.stop()
        graft.streaming.StreamingCardinality.estimateFromStore(s, store,
          ev.groupBy(col("event_type"))
            .agg(countDistinct(col("user_id")).as("n_exact")))
      }),

    // foreachBatch sink: micro-batches land as batchId-keyed parquet
    // (idempotent overwrite); reading the written files back and
    // re-aggregating must reproduce the batch hourly counts — a sink
    // ROUND-TRIP under the oracle, not just a query
    Q("q84_foreach_batch", Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin),
      (s, d) => {
        val out = graft.queries.Staging.sinkDir(
          "feb_" + d.replaceAll("[^A-Za-z0-9]", "_"))
        val q = graft.streaming.EventPipeline.startForeachBatchQuery(
          s, graft.queries.Staging.eventsDir(d), out)
        try q.processAllAvailable() finally q.stop()
        // List concrete batch dirs rather than globbing: a glob over an
        // unexpectedly-empty dir throws an opaque PATH_NOT_FOUND (seen once
        // in the r02 bench); an explicit empty check is diagnosable.
        val batches = Option(new java.io.File(out).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
          .map(_.getAbsolutePath).sorted
        require(batches.nonEmpty,
          s"q84: foreachBatch stream produced no batch_* dirs under $out")
        s.read.parquet(batches.toIndexedSeq: _*)
          .groupBy(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
            col("event_type"))
          .agg(sum(col("n")).as("n"))
          .orderBy(col("h"), col("event_type"))
      }),

    Q("q72_except", Some(
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin),
      (s, d) => Tables.load(s, d, "customer").select(col("c_custkey"))
        .except(Tables.load(s, d, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey"))),

    // Horvitz–Thompson token accounting over weight-proportional
    // threshold sampling (q221): the sample-based bookkeeping a 100 TB
    // pipeline runs instead of full scans — inclusion is one int64
    // compare, the HT estimate collapses to exact integers because the
    // sampling rate is a power of two (Sampling.htTokenEstimate). Gate
    // runs the md5-52-bit oracle hash (rule 12); xxhash64 production
    // default under SamplingSpec.
    Q("q221_ht_estimate", Some(htEstimateOracle),
      (s, d) => Sampling.htTokenEstimate(
        Tables.load(s, d, "documents"), oracleHash = true)),

    // GPT-style sequence packing with document SPLITTING (q228): docs
    // laid head-to-tail in doc_id order and cut into exact 512-token
    // sequences — one row per (sequence, document slice). The global
    // token offset rides Prefix.cumsum (rule 23 — the oracle keeps the
    // plain window, the decomposition is exact); slice bounds are pure
    // int64 min/max arithmetic; the per-doc explode is rule-16-safe
    // because w ≥ 1 is enforced. (seq_id, doc_id) is a unique total
    // order.
    Q("q228_token_pack_spans", Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS w
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, w,
        |    sum(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS off_end
        |  FROM toks WHERE w > 0),
        |spans AS (
        |  SELECT doc_id, w, off_end,
        |    unnest(range(CAST((off_end - w) // 512 AS BIGINT),
        |                 CAST((off_end - 1) // 512 + 1 AS BIGINT)))
        |      AS seq_id
        |  FROM off)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |  CAST(greatest(0, seq_id * 512 - (off_end - w)) AS BIGINT)
        |    AS slice_start,
        |  CAST(least(off_end, (seq_id + 1) * 512)
        |       - greatest(off_end - w, seq_id * 512) AS BIGINT) AS slice_len
        |FROM spans ORDER BY seq_id, doc_id""".stripMargin),
      (s, d) => Sampling.packTokenSpans(
        Tables.load(s, d, "documents"), seqLen = 512)),

    // Poisson-bootstrap confidence intervals (q226): the error bar for
    // every per-source corpus statistic, with all replicates riding one
    // scan — each (doc, replicate) draws a Poisson(1) weight from a
    // seeded hash through the shared inverse-CDF thresholds
    // (Sampling.PoissonCdf52 — integer literals in BOTH engines, rules
    // 12/14), replicate means are a single int/int double division
    // (q121 idiom), and the CI is order statistics over the
    // reps-bounded per-source rank window. Deterministic: same corpus,
    // same CI, any cluster size.
    Q("q226_bootstrap_ci", Some(bootstrapCiOracle),
      (s, d) => Sampling.poissonBootstrapCI(
        Tables.load(s, d, "documents"), oracleHash = true)),

    // the HT accountant as a STREAM (q223): document batches arrive as
    // files, each reduces to per-source integer tallies in a
    // batchId-keyed partial store, the report sums the partials.
    // Stream ≡ batch EXACTLY (integer sums over any batch partition of
    // the corpus equal the corpus sums), so the gate reuses q221's
    // batch oracle verbatim — the q153/q161 proof shape with the
    // sketch replaced by exact arithmetic.
    Q("q223_stream_ht_accounting", Some(htEstimateOracle),
      (s, d) => {
        val root = Staging.tempDir("graft_q223")
        val in = s"$root/in"
        val all = Tables.load(s, d, "documents")
        // three file batches (doc_id mod 3)
        Staging.stageFrames((0 to 2).map(m => all.filter(col("doc_id") % 3 === m)), in)
        val q = graft.streaming.StreamingAccounting.start(
          s, in, s"$root/tallies", oracleHash = true)
        try q.processAllAvailable() finally q.stop()
        graft.streaming.StreamingAccounting.reportFromStore(s, s"$root/tallies")
      }),

    // link prediction on the near-dup graph (q222): common-neighbor /
    // integer Adamic–Adar / preferential-attachment ranking of
    // NON-edges — the "which pair should the verifier look at next"
    // entity-resolution completion step. Exact integers end-to-end;
    // pair set is the brute-force exact-Jaccard oracle (rule 13).
    Q("q222_link_prediction", Some(linkPredictionOracle),
      (s, d) => graft.operators.Dedup.linkPrediction(
        graft.operators.Dedup.minhashVerifiedPairs(
          Tables.load(s, d, "documents"), threshold = 0.5, maxDf = 20)))
  )

  /** q221's oracle: the md5-52-bit uniform (the q97 derivation), the
    * threshold compare, and the power-of-two HT arithmetic — every
    * constant interpolated from the SAME Scala values the operator
    * uses (rule 12). */
  /** q226's oracle: the Poisson(1) draw replayed through the SAME
    * integer thresholds the operator uses (`Sampling.PoissonCdf52`,
    * rule 12), on the md5 52-bit ring (q221's proven hex-fold idiom);
    * replicate means and the point mean are single int/int double
    * divisions; CI = rank-2 / rank-39 order statistics of the 40
    * replicate means per source. */
  private lazy val bootstrapCiOracle: String = {
    val reps = 40
    val kSql = Sampling.poissonKSql("u52")
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w
       |  FROM documents),
       |point AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS tw
       |  FROM toks GROUP BY source),
       |draws AS (
       |  SELECT source, b, w, $kSql AS k FROM (
       |    SELECT t.source, r.b, t.w,
       |      list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range(1, 14),
       |            i -> CAST(strpos('0123456789abcdef',
       |                   md5('bs:' || CAST(t.doc_id AS VARCHAR) || ':' ||
       |                       CAST(r.b AS VARCHAR))[i]) - 1 AS BIGINT))),
       |        (acc, x) -> acc * 16 + x) AS u52
       |    FROM toks t, range(0, $reps) r(b)) u),
       |means AS (
       |  SELECT source, b,
       |    CASE WHEN kn = 0 THEN CAST('nan' AS DOUBLE)
       |         ELSE CAST(CAST(kw AS BIGINT) AS DOUBLE)
       |              / CAST(CAST(kn AS BIGINT) AS DOUBLE) END AS m
       |  FROM (
       |    SELECT source, b, sum(k * w) AS kw, sum(k) AS kn
       |    FROM draws GROUP BY source, b) g),
       |ranked AS (
       |  SELECT source, b, m,
       |    row_number() OVER (PARTITION BY source ORDER BY m, b) AS rn
       |  FROM means),
       |ci AS (
       |  SELECT source,
       |    max(CASE WHEN rn = 2 THEN m END) AS ci_lo,
       |    max(CASE WHEN rn = 39 THEN m END) AS ci_hi
       |  FROM ranked GROUP BY source)
       |SELECT p.source, p.n_docs,
       |  CAST(p.tw AS DOUBLE) / CAST(p.n_docs AS DOUBLE) AS point_mean,
       |  c.ci_lo, c.ci_hi
       |FROM point p JOIN ci c ON p.source = c.source
       |ORDER BY p.source""".stripMargin
  }

  private lazy val htEstimateOracle: String = {
    val rShift = Sampling.HtShift
    val rate = 1L << rShift // w * rate vs u52
    val certainAt = 1L << (52 - rShift)
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w,
       |    'ht:' || CAST(doc_id AS VARCHAR) AS k
       |  FROM documents),
       |u AS (
       |  SELECT source, w,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, 14),
       |          i -> CAST(strpos('0123456789abcdef', md5(k)[i]) - 1 AS BIGINT))),
       |      (acc, x) -> acc * 16 + x) AS u52
       |  FROM scored),
       |agg AS (
       |  SELECT source, count(*) AS n_docs,
       |    sum(CASE WHEN u52 < least(w, $certainAt) * $rate THEN 1 ELSE 0 END)
       |      AS n_sampled,
       |    sum(w) AS t,
       |    sum(CASE WHEN u52 >= least(w, $certainAt) * $rate THEN 0
       |             WHEN w >= $certainAt THEN w
       |             ELSE $certainAt END) AS h
       |  FROM u GROUP BY source)
       |SELECT source, n_docs,
       |  CAST(n_sampled AS BIGINT) AS n_sampled,
       |  CAST(t AS BIGINT) AS true_tokens,
       |  CAST(h AS BIGINT) AS ht_tokens,
       |  CAST((h - t) * 1000 // t AS BIGINT) AS err_permille
       |FROM agg ORDER BY source""".stripMargin
  }

  /** q222's oracle: the exact-Jaccard pair set (rule 13), the wedge
    * join on the shared neighbor, the NOT EXISTS non-edge filter, and
    * the same integer scores. */
  private lazy val linkPredictionOracle: String =
    s"""WITH ${DedupQueries.ngramPairCtes},
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs),
       |sym AS MATERIALIZED (
       |  SELECT a AS v, b AS x FROM e UNION ALL SELECT b, a FROM e),
       |deg AS MATERIALIZED (SELECT x, count(*) AS d FROM sym GROUP BY x),
       |cand AS (
       |  SELECT s1.v AS v, s2.v AS w, count(*) AS common_neighbors,
       |         CAST(sum(1000 // (length(bin(dg.d)) - 1)) AS BIGINT)
       |           AS aa_milli
       |  FROM sym s1 JOIN sym s2 ON s1.x = s2.x AND s1.v < s2.v
       |  JOIN deg dg ON dg.x = s1.x
       |  GROUP BY s1.v, s2.v),
       |ne AS (
       |  SELECT c.* FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.v AND e.b = c.w))
       |SELECT ne.v AS id_a, ne.w AS id_b, common_neighbors, aa_milli,
       |  da.d * db.d AS pref_attach
       |FROM ne JOIN deg da ON da.x = ne.v JOIN deg db ON db.x = ne.w
       |ORDER BY common_neighbors DESC, aa_milli DESC, pref_attach DESC,
       |  id_a, id_b
       |LIMIT 25""".stripMargin

  /** Shared aggregation for the format round-trip queries (q93/q94):
    * per-lang row count and char sum over the read-back frame.
    * `lazy`/`private` per the object-init rule (11). */
  private def formatRoundtripAgg(
      readBack: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    readBack.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  /** q122's row-level checks: (name, Spark predicate, DuckDB predicate).
    * One list renders both engines' arms — names and predicates cannot
    * drift. NULL predicate = violation on both sides (CASE ELSE branch /
    * `when().otherwise()`). */
  private lazy val expectationChecks
      : Seq[(String, org.apache.spark.sql.Column, String)] = Seq(
    ("date_not_null", col("o_orderdate").isNotNull,
      "o_orderdate IS NOT NULL"),
    ("status_known", col("o_orderstatus").isin("O", "F", "P"),
      "o_orderstatus IN ('O','F','P')"),
    ("total_positive", col("o_totalprice") > 0, "o_totalprice > 0"))

  /** q174's candidate FDs: (name, table, lhs, rhs). One list drives the
    * Spark union AND the generated oracle arms — no drift possible. */
  private lazy val fdChecks: Seq[(String, String, String, String)] = Seq(
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("part.p_partkey->p_brand", "part", "p_partkey", "p_brand"))

  private lazy val fdAuditOracle: String =
    fdChecks.map { case (name, tbl, lhs, rhs) =>
      s"""SELECT '$name' AS fd, count(*) AS n_groups,
         |  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  max(ndv) AS max_distinct_rhs,
         |  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
         |    AS holds
         |FROM (SELECT $lhs, count(DISTINCT $rhs) AS ndv
         |      FROM $tbl GROUP BY 1)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY fd")

  /** q122 oracle, generated from [[expectationChecks]]: each row arm is a
    * one-row aggregate; uniqueness is count−count(DISTINCT); referential
    * integrity is NOT EXISTS (same NULL semantics as Spark's left-anti —
    * never NOT IN, which drops to UNKNOWN on NULL keys). HUGEINT sums
    * cast to BIGINT (rule 1). */
  private lazy val expectationsOracle: String = {
    val rowArms = expectationChecks.map { case (name, _, sql) =>
      s"""SELECT '$name' AS check_name, count(*) AS n_checked,
         |  CAST(sum(CASE WHEN $sql THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_violations
         |FROM orders""".stripMargin
    }
    val uniqueArm =
      """SELECT 'orderkey_unique', count(*),
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |FROM orders""".stripMargin
    val refArm =
      """SELECT 'custkey_in_customer', count(*),
        |  CAST((SELECT count(*) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                          WHERE c.c_custkey = o.o_custkey))
        |    AS BIGINT)
        |FROM orders""".stripMargin
    (rowArms :+ uniqueArm :+ refArm).mkString(
      "WITH checks AS (\n", "\nUNION ALL\n", ")\n") +
      """SELECT check_name, n_checked, n_violations,
        |  (n_violations = 0) AS passed
        |FROM checks ORDER BY check_name""".stripMargin
  }

  /** The oracle aggregates the ORIGINAL parquet table — round-trip
    * losslessness is the property under test. */
  private lazy val formatRoundtripOracle: String =
    """SELECT lang, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q97: DuckDB replay of the weighted Bernoulli sampler. The quality
    * CTE is the shared formula (t33/q69); u is the first 13 hex digits
    * of md5(salted key) — a 52-bit integer, exact in a double — divided
    * by 2^52, so both engines compute the identical IEEE value. The hex
    * digits fold through strpos on the hex alphabet (DuckDB has no
    * hex-string-to-int cast). */
  /** q203's sample-size target — one constant, two engines. */
  private lazy val resampleTarget: Long = 50L

  /** q204's ring sizes — one definition, two engines. */
  private lazy val shardsBefore: Int = 8
  private lazy val shardsAfter: Int = 9

  private lazy val consistentShardingOracle: String = {
    val v = graft.operators.Layout.shardVnodes
    // double fold (the operator's mix): fold → signed decimal string →
    // fold again; both engines print the intermediate BIGINT identically
    def ringCte(name: String, n: Int): String =
      s"""$name AS MATERIALIZED (
         |  SELECT s, ${DedupQueries.signWrap(DedupQueries.polyHashSql("h1s"))} AS p
         |  FROM (SELECT s, reverse(CAST(h1 AS VARCHAR)) AS h1s FROM (
         |    SELECT CAST(i // $v AS BIGINT) AS s,
         |           ${DedupQueries.signWrap(DedupQueries.polyHashSql("lbl"))} AS h1
         |    FROM (SELECT i, 's' || CAST(i // $v AS VARCHAR) || '#' ||
         |                 CAST(i % $v AS VARCHAR) AS lbl
         |          FROM (SELECT unnest(range(0, ${n * v})) AS i)))))""".stripMargin
    def assignCte(name: String, ring: String, out: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT d.doc_id,
         |         coalesce(m.s, (SELECT s FROM $ring ORDER BY p, s LIMIT 1))
         |           AS $out
         |  FROM dh d LEFT JOIN (
         |    SELECT doc_id, s FROM (
         |      SELECT d2.doc_id, r.s, row_number() OVER (
         |        PARTITION BY d2.doc_id ORDER BY r.p, r.s) AS rk
         |      FROM dh d2 JOIN $ring r ON r.p >= d2.h)
         |    WHERE rk = 1) m USING (doc_id))""".stripMargin
    s"""WITH ${ringCte("r8", shardsBefore)},
       |${ringCte("r9", shardsAfter)},
       |dh AS MATERIALIZED (
       |  SELECT doc_id, ${DedupQueries.signWrap(DedupQueries.polyHashSql("h1s"))} AS h
       |  FROM (SELECT doc_id, reverse(CAST(h1 AS VARCHAR)) AS h1s FROM (
       |    SELECT doc_id, ${DedupQueries.signWrap(DedupQueries.polyHashSql("ds"))} AS h1
       |    FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds FROM documents)))),
       |${assignCte("a8", "r8", "s8")},
       |${assignCte("a9", "r9", "s9")}
       |SELECT a8.s8 AS shard, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN a9.s9 <> a8.s8 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_moved,
       |       CAST(sum(CASE WHEN a9.s9 <> a8.s8 THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS moved_frac
       |FROM a8 JOIN a9 USING (doc_id)
       |GROUP BY a8.s8 ORDER BY shard""".stripMargin
  }

  private lazy val weightedSampleOracle: String = {
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    round(
       |      least(length(text) / 500.0, 1.0) * 0.4
       |      + least(CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |            x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
       |          / len(string_split_regex(trim(text), '\\s+')) * 5.0, 1.0) * 0.4
       |      + (1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
       |          / CAST(greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS DOUBLE), 1.0)) * 0.2,
       |      6) AS quality,
       |    'ws:' || CAST(doc_id AS VARCHAR) AS w
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, quality,
       |         CAST(list_reduce(
       |           list_prepend(CAST(0 AS BIGINT),
       |             list_transform(range(1, 14),
       |               i -> CAST(strpos('0123456789abcdef', md5(w)[i]) - 1 AS BIGINT))),
       |           (acc, x) -> acc * 16 + x) AS DOUBLE) / 4503599627370496.0 AS sample_u
       |  FROM scored)
       |SELECT doc_id, quality, sample_u FROM u
       |WHERE sample_u < CAST(0.5 AS DOUBLE) * quality
       |ORDER BY doc_id""".stripMargin
  }

  /** q148: the PageRank replay — exact-Jaccard pairs (rule 13), the
    * doubled edge list, and the three unrolled integer updates. The
    * scale/teleport constants and iteration count come from the SAME
    * Scala values the operator uses, so the two engines cannot drift. */
  private lazy val pageRankOracle: String = {
    val scale = graft.operators.Dedup.pageRankScale
    val teleport = graft.operators.Dedup.pageRankTeleport(scale)
    val iters = (1 to 3).map { i =>
      s"""it$i AS (
         |  SELECT e.dst AS v,
         |         CAST($teleport + (85 * sum(r.pr // dg.d)) // 100 AS BIGINT) AS pr
         |  FROM e JOIN deg dg ON dg.src = e.src
         |  JOIN it${i - 1} r ON r.v = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${DedupQueries.ngramPairCtes},
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |it0 AS (SELECT src AS v, CAST($scale AS BIGINT) AS pr FROM deg),
       |$iters
       |SELECT v AS doc_id, pr FROM it3
       |ORDER BY pr DESC, doc_id""".stripMargin
  }

  /** Shared prelude for the q201/q202 graph replays: brute-force pairs
    * at the 0.5 threshold (rule 13) and the doubled edge list, both
    * MATERIALIZED — `e` is consumed once per generated round (rule 22). */
  private lazy val graphEdgeCtes: String =
    s"""${DedupQueries.ngramPairCtes},
       |gpairs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter / (sa.sz + sb.sz - inter) >= 0.5),
       |e AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM gpairs
       |  UNION ALL SELECT id_b, id_a FROM gpairs)""".stripMargin

  /** q201: the lpaRounds mode-update rounds, generated from the SAME
    * constants the operator uses. Each round: neighbor-label counts,
    * then the (count desc, label asc) argmax window per node. */
  private lazy val labelPropagationOracle: String = {
    val rounds = graft.operators.Dedup.lpaRounds
    val iters = (1 to rounds).map { r =>
      s"""c$r AS (SELECT e.dst AS v, l.lab, count(*) AS c
         |  FROM e JOIN lp${r - 1} l ON l.v = e.src GROUP BY 1, 2),
         |lp$r AS MATERIALIZED (SELECT v, lab FROM (
         |  SELECT v, lab, row_number() OVER (
         |    PARTITION BY v ORDER BY c DESC, lab) AS rk FROM c$r)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgeCtes,
       |lp0 AS MATERIALIZED (SELECT DISTINCT dst AS v, dst AS lab FROM e),
       |$iters
       |SELECT v AS doc_id, lab AS community FROM lp$rounds
       |ORDER BY doc_id""".stripMargin
  }

  /** q205: the q148 iteration chain with the seed-restricted teleport,
    * generated from the SAME scale/teleport/seedMod constants. */
  private lazy val trustRankOracle: String = {
    val scale = graft.operators.Dedup.pageRankScale
    val teleport = graft.operators.Dedup.pageRankTeleport(scale)
    val m = graft.operators.Dedup.trustSeedMod
    val iters = (1 to 3).map { i =>
      s"""it$i AS (
         |  SELECT e.dst AS v,
         |         CAST(CASE WHEN e.dst % $m = 0 THEN $teleport ELSE 0 END
         |              + (85 * sum(r.pr // dg.d)) // 100 AS BIGINT) AS pr
         |  FROM e JOIN deg dg ON dg.src = e.src
         |  JOIN it${i - 1} r ON r.v = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgeCtes,
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |it0 AS (SELECT DISTINCT dst AS v,
       |          CAST(CASE WHEN dst % $m = 0 THEN $scale ELSE 0 END AS BIGINT)
       |            AS pr
       |        FROM e),
       |$iters
       |SELECT v AS doc_id, pr FROM it3
       |ORDER BY pr DESC, doc_id""".stripMargin
  }

  /** q206: the hitsRounds auth/hub updates with max-renormalization,
    * generated from the operator's own constants. Every per-round frame
    * is MATERIALIZED (ra/rh feed their own max AND the rescale —
    * rule 22). */
  private lazy val hitsOracle: String = {
    val scale = graft.operators.Dedup.hitsScale
    val rounds = graft.operators.Dedup.hitsRounds
    val iters = (1 to rounds).map { r =>
      s"""ra$r AS MATERIALIZED (
         |  SELECT n.v, coalesce(s.s, 0) AS x FROM hnodes n LEFT JOIN (
         |    SELECT ed.dst AS v, sum(h.h) AS s FROM ed
         |    JOIN hv${r - 1} h ON h.v = ed.src GROUP BY ed.dst) s
         |  ON s.v = n.v),
         |ma$r AS (SELECT max(x) AS mx FROM ra$r),
         |av$r AS MATERIALIZED (
         |  SELECT v, CAST(CASE WHEN mx > 0 THEN ($scale * x) // mx
         |                      ELSE 0 END AS BIGINT) AS a
         |  FROM ra$r, ma$r),
         |rh$r AS MATERIALIZED (
         |  SELECT n.v, coalesce(s.s, 0) AS x FROM hnodes n LEFT JOIN (
         |    SELECT ed.src AS v, sum(a.a) AS s FROM ed
         |    JOIN av$r a ON a.v = ed.dst GROUP BY ed.src) s
         |  ON s.v = n.v),
         |mh$r AS (SELECT max(x) AS mx FROM rh$r),
         |hv$r AS MATERIALIZED (
         |  SELECT v, CAST(CASE WHEN mx > 0 THEN ($scale * x) // mx
         |                      ELSE 0 END AS BIGINT) AS h
         |  FROM rh$r, mh$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgeCtes,
       |ed AS MATERIALIZED (SELECT id_b AS src, id_a AS dst FROM gpairs),
       |hnodes AS MATERIALIZED (
       |  SELECT DISTINCT v FROM (
       |    SELECT src AS v FROM ed UNION SELECT dst FROM ed)),
       |hv0 AS (SELECT v, CAST($scale AS BIGINT) AS h FROM hnodes),
       |$iters
       |SELECT n.v AS doc_id, h.h AS hub, a.a AS auth
       |FROM hnodes n JOIN hv$rounds h ON h.v = n.v
       |JOIN av$rounds a ON a.v = n.v
       |ORDER BY doc_id""".stripMargin
  }

  /** q202: the bfsRounds min-relaxations; each round's frame is
    * consumed twice (carry + relax), so every d_r is MATERIALIZED
    * (rule 22 — an inlined chain re-runs the whole prefix per
    * consumer, exponentially). */
  private lazy val bfsHopsOracle: String = {
    val rounds = graft.operators.Dedup.bfsRounds
    val seedMod = graft.operators.Dedup.bfsSeedMod
    val iters = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT v, min(h) AS h FROM (
         |  SELECT v, h FROM d${r - 1}
         |  UNION ALL
         |  SELECT e.dst AS v, d.h + 1 AS h
         |  FROM e JOIN d${r - 1} d ON d.v = e.src) GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgeCtes,
       |d0 AS MATERIALIZED (
       |  SELECT DISTINCT dst AS v, 0 AS h FROM e WHERE dst % $seedMod = 0),
       |$iters
       |SELECT v AS doc_id, CAST(h AS BIGINT) AS hops FROM d$rounds
       |ORDER BY doc_id""".stripMargin
  }

  /** q149's probe points; the oracle interpolates them e-suffixed (rule
    * 14) so both engines parse the identical double. */
  private lazy val quantileProbes: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  private lazy val quantilesOracle: String = {
    val qsSql = quantileProbes.map(q => s"${q}e0").mkString(", ")
    s"""WITH hist AS (
       |  SELECT lang, n_chars, count(*) AS m
       |  FROM documents GROUP BY lang, n_chars),
       |cum AS (
       |  SELECT lang, n_chars,
       |         sum(m) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
       |         sum(m) OVER (PARTITION BY lang) AS n
       |  FROM hist),
       |fan AS (
       |  SELECT lang, n_chars, cum, n, unnest([$qsSql]) AS q FROM cum)
       |SELECT lang, q, min(n_chars) AS q_value
       |FROM fan
       |WHERE cum >= CAST(ceil(q * n) AS BIGINT)
       |GROUP BY lang, q
       |ORDER BY lang, q""".stripMargin
  }

  /** q161: the per-key t53 HLL arithmetic over raw events — valid as
    * the STREAM's oracle because register max-merge over any batch
    * partition of the events equals the registers of the whole. */
  /** q212's unrolled k-truss replay: 6 synchronous peel rounds, each a
    * (support, surviving-edges) CTE pair generated from the SAME
    * (k, rounds) constants the operator runs (rule 12), all
    * MATERIALIZED (rule 22 — every round is consumed twice). */
  private lazy val kTrussOracle: String = {
    val k = 4
    val rounds = 6
    def supSql(r: Any, in: String) =
      s"""sup$r AS MATERIALIZED (
         |  SELECT e1.s AS u, e1.d AS v, count(*) AS sup
         |  FROM $in e1 JOIN $in e2 ON e2.s = e1.s AND e2.d <> e1.d
         |  JOIN $in e3 ON e3.s = e1.d AND e3.d = e2.d
         |  GROUP BY 1, 2)""".stripMargin
    val roundCtes = (0 until rounds).map { r =>
      s"""${supSql(r, s"e$r")},
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.s, e.d FROM e$r e
         |  LEFT JOIN sup$r t ON t.u = e.s AND t.v = e.d
         |  WHERE coalesce(t.sup, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH ${DedupQueries.ngramShingleCte},
       |keep AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) BETWEEN 2 AND 8),
       |fil AS MATERIALIZED (SELECT ex.doc_id, ex.sh FROM ex JOIN keep USING (sh)),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM fil a JOIN fil b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |e0 AS MATERIALIZED (
       |  SELECT id_a AS s, id_b AS d FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |$roundCtes,
       |${supSql("F", s"e$rounds")}
       |SELECT e.s AS id_a, e.d AS id_b,
       |  CAST(coalesce(t.sup, 0) AS BIGINT) AS support
       |FROM e$rounds e LEFT JOIN supF t ON t.u = e.s AND t.v = e.d
       |WHERE e.s < e.d ORDER BY id_a, id_b""".stripMargin
  }

  private lazy val streamCardinalityOracle: String = {
    import graft.operators.Frequency.{HllAlphaScaled, HllBuckets, HllCap}
    val alpha = SimilarityQueries.dlit(HllAlphaScaled)
    val uh = DedupQueries.polyHashSql("CAST(user_id AS VARCHAR)")
    s"""WITH hashed AS (SELECT event_type, ($uh) AS hu FROM events),
       |bw AS (SELECT event_type, CAST(hu % $HllBuckets AS BIGINT) AS b,
       |              CAST(hu // $HllBuckets AS BIGINT) AS sw FROM hashed),
       |pr AS (SELECT event_type, b, CASE WHEN sw = 0 THEN $HllCap
       |                 ELSE least($HllCap, sw & (-sw)) END AS p FROM bw),
       |regs AS (SELECT event_type, b, max(p) AS pmax FROM pr GROUP BY 1, 2),
       |keys AS (SELECT DISTINCT event_type FROM events),
       |allb AS (SELECT event_type, unnest(range(0, $HllBuckets)) AS b
       |         FROM keys),
       |terms AS (SELECT a.event_type, r.pmax IS NULL AS isz,
       |    CASE WHEN r.pmax IS NULL THEN ${1L << 48}
       |         ELSE $HllCap // r.pmax END AS term
       |  FROM allb a LEFT JOIN regs r
       |    ON a.event_type = r.event_type AND a.b = r.b),
       |s AS (SELECT event_type, CAST(sum(term) AS BIGINT) AS s_num,
       |        CAST(sum(CASE WHEN isz THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
       |      FROM terms GROUP BY 1),
       |exd AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |        FROM events GROUP BY 1)
       |SELECT s.event_type, CAST($HllBuckets AS BIGINT) AS m, s.n_zero,
       |  s.s_num, $alpha / CAST(s.s_num AS DOUBLE) AS est, exd.n_exact,
       |  abs($alpha / CAST(s.s_num AS DOUBLE) - CAST(exd.n_exact AS DOUBLE))
       |    / CAST(exd.n_exact AS DOUBLE) AS rel_err
       |FROM s JOIN exd ON s.event_type = exd.event_type
       |ORDER BY s.event_type""".stripMargin
  }

  /** q96's pack step: sequential first-fit-by-shuffled-key binning at
    * 2048 tokens per bin over a GLOBAL (single-task) running sum —
    * legal ONLY because the input is mix-capped to a few hundred rows.
    * The cap is a domain contract, so it is ENFORCED here (r11
    * directive #7), not assumed: a full-frame count rides the window's
    * own partitioning (no extra shuffle, no extra job) and assert_true
    * fails the query loudly — naming the partitioned swap-in — the
    * moment anyone feeds an uncapped corpus through it. The guard is
    * woven into the output column so column pruning cannot drop it;
    * assert_true returns NULL on success, so `when(... .isNull, bin)`
    * is exactly `bin` on every legal input. */
  private[graft] def packMixedGlobal(
      mixed: org.apache.spark.sql.DataFrame, maxRows: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packWin = Window.orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val full = Window.orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bin = floor(coalesce(sum(col("n_tokens")).over(packWin), lit(0L)) / 2048)
      .cast("bigint")
    mixed
      .select(col("doc_id"), col("n_tokens"),
        when(assert_true(count(lit(1)).over(full) <= maxRows,
          lit(s"packMixedGlobal contract: the global pack window is " +
            s"bounded by the mix cap (≤ $maxRows rows); an uncapped " +
            "corpus must use the partitioned Sampling.packBins instead"))
          .isNull, bin).as("bin"))
      .orderBy(col("doc_id"))
  }
}
