package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Materialize.Ops

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - brute-force cosine top-k: exact, O(|Q|·N) — the baseline, fine when
  *     the query set is small (a broadcast join against the corpus);
  *   - LSH (random hyperplane signatures, Charikar STOC 2002; multi-probe
  *     per Lv et al., VLDB 2007) and IVF-style coarse quantization
  *     (Jégou/Douze/Schmid, "Product quantization for nearest neighbor
  *     search", TPAMI 2011 — the coarse-quantizer half): the scale paths —
  *     signatures/cells bucket the corpus so a query touches only its
  *     probe buckets; at 100 TB this is a shuffle on (bucket) instead of a
  *     cross join.
  *
  * Cosine is computed as a *sequential left fold* (functions.aggregate) in
  * doubles — bitwise identical to the DuckDB oracle's list_sum over
  * list_transform, which is what makes the brute-force query
  * hash-matchable.
  */
object Similarity {

  /** Sequential left-fold dot product of two float-array columns —
    * the native codegen expression (see expressions.DotFold), which is
    * arithmetically identical to the HOF `aggregate(zip_with(…))` tree
    * it replaced but runs as a primitive loop inside whole-stage
    * codegen instead of interpreted CodegenFallback closures. */
  def dotFold(x: Column, y: Column): Column =
    graft.expressions.DotFold(x, y)

  /** Sequential-fold L2 norm of a float-array column: the same fold on
    * one array — sqrt(Σ (double)x(i)·(double)x(i)), element order and
    * widening unchanged from the HOF formulation. */
  def norm(x: Column): Column = sqrt(dotFold(x, x))

  /** Sequential-fold cosine similarity between two float-array columns. */
  def cosine(a: Column, b: Column): Column =
    dotFold(a, b) / (norm(a) * norm(b))

  /** Cosine from a precomputed-norm pair: dot(a,b) / (normA * normB).
    * Same expression tree as `cosine` — identical doubles, so oracles are
    * unaffected — but the norms are computed once per ROW instead of once
    * per PAIR. In a |Q|·N scoring join that deletes 2 of the 3 per-pair
    * array folds (the corpus row's norm was being re-folded per query). */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotFold(a, b) / (normA * normB)

  /** Exact top-k neighbours for a small query set, ranked per query.
    * The query side is broadcast — the corpus is never shuffled. */
  def bruteForceKnn(
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"))
    val scored = corpus
      .withColumn("c_norm", norm(col("embedding")))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_norm"), col("c_norm")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Centroid drift between two embedding populations (s63): the
    * cosine between the two groups' centroid vectors — the
    * embedding-space drift monitor ("did the new crawl / new encoder
    * version shift the representation mass"), complementing the
    * value-space drift family (t66/t68/t64).
    *
    * Determinism without double sums (rule 3): each dimension
    * quantizes to fixed point — round(v·2^scaleBits), EXACT in double
    * because a float's ≤24-bit mantissa shifted by 2^20 stays exact,
    * and ties round away from zero identically in both engines. The
    * quantization is part of the operator CONTRACT (~1e-6 relative),
    * not an error term. Per-(group, dim) sums are exact DECIMAL, and
    * cosine is scale-invariant, so the SUM vectors stand in for the
    * centroids with no division; the final dot/norms are decimal
    * products cast to double for the one sqrt/divide DAG (the q133
    * exact-inputs-then-IEEE contract).
    *
    * Scale shape: one dim-bounded explode, one groupBy to
    * (group, dim) grain — ≤ 2·dims output rows — then a dims-sized
    * join and a 1-row reduction. Corpus passes once. */
  def centroidDrift(
      df: DataFrame, group: Column, vecCol: String, ga: Long, gb: Long,
      scaleBits: Int = 20): DataFrame = {
    def D(c: Column) = c.cast("decimal(38,0)")
    val scale = math.pow(2.0, scaleBits)
    val base = df.select(group.cast("long").as("g"), col(vecCol).as("e"))
      .filter(col("g").isin(ga, gb))
      .select(col("g"), posexplode(col("e")))
      .select(col("g"), col("pos").as("d"),
        round(col("col").cast("double") * lit(scale)).cast("long").as("q"))
    val sums = base.groupBy(col("g"), col("d"))
      .agg(sum(D(col("q"))).as("s"), count(lit(1)).as("n"))
    val a = sums.filter(col("g") === ga)
      .select(col("d"), col("s").as("sa"), col("n").as("na"))
    val b = sums.filter(col("g") === gb)
      .select(col("d"), col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("d"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum(D(col("sa")) * col("sb")).as("dot"),
        sum(D(col("sa")) * col("sa")).as("qa"),
        sum(D(col("sb")) * col("sb")).as("qb"))
      .select(col("na"), col("nb"),
        (col("dot").cast("double") /
          (sqrt(col("qa").cast("double")) * sqrt(col("qb").cast("double"))))
          .as("centroid_cos"))
  }

  /** [[mmrRerank]] constants — shared with the oracle generator.
    * λ = mmrLambdaNum/mmrLambdaDen: integer weights, so the score DAG
    * is literal-drift-free (rule 14 without needing dlit). */
  val mmrLambdaNum = 7L
  val mmrLambdaDen = 10L

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998): from each query's exact top-`m` shortlist, greedily select
    * `k` results maximizing λ·sim(q,d) − (1−λ)·max_{s∈sel} sim(d,s) —
    * the standard diversification pass between retrieval and a RAG
    * prompt (near-duplicate hits burn context; MMR trades a little
    * relevance for coverage). First pick = pure top-1 (empty selected
    * set ⇒ zero penalty).
    *
    * Determinism: every similarity is the rule-3 sequential fold,
    * λ-weights are integers, and every argmax tiebreaks by vec_id —
    * the greedy trajectory is unique and the oracle replays it round
    * for round (chained generated CTEs, rules 12/13/22).
    *
    * Scale shape: the only corpus-sized work is the shortlist pass
    * (s41's broadcast-query scan here; swap in the IVF/PQ shortlist at
    * volume — the MMR stage is shortlist-agnostic). Everything after
    * runs on per-query frames bounded by m: the pairwise-sim table is
    * ≤ m(m−1) rows/query built over a SEMI-JOIN-scoped embedding set
    * (never a corpus materialization), each of the k−1 rounds is one
    * bounded join + an m-bounded per-query argmax window, and round
    * state is materialized (rule 5). */
  def mmrRerank(
      corpus: DataFrame, queries: DataFrame, k: Int = 5,
      m: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && m >= k, "need m >= k >= 1")
    val lNum = lit(mmrLambdaNum)
    val lInv = lit(mmrLambdaDen - mmrLambdaNum)
    val lDen = lit(mmrLambdaDen)
    val short = bruteForceKnn(corpus, queries, m)
      .materializeOnce() // read by the pair table and every round
    // pairwise sims within each query's shortlist, over embeddings
    // scoped by a semi-join to the shortlist ids (bounded, broadcast)
    val scoped = corpus
      .join(broadcast(short.select(col("vec_id")).distinct()),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .materializeOnce() // ≤ |queries|·m rows
    val pairs = short.select(col("q_id"), col("vec_id").as("id_a"))
      .join(short.select(col("q_id"), col("vec_id").as("id_b")), Seq("q_id"))
      .filter(col("id_a") =!= col("id_b"))
      .join(broadcast(scoped.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("nrm").as("na"))), Seq("id_a"))
      .join(broadcast(scoped.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("nrm").as("nb"))), Seq("id_b"))
      .select(col("q_id"), col("id_a"), col("id_b"),
        cosinePre(col("ea"), col("eb"), col("na"), col("nb")).as("sim"))
      .materializeOnce() // read by every round's penalty join
    var sel = short.filter(col("rank") === 1)
      .select(col("q_id"), col("vec_id"),
        (lNum * col("cos") / lDen).as("score"), lit(1L).as("mmr_rank"))
      .materializeOnce()
    for (r <- 2 to k) {
      val cand = short.select(col("q_id"), col("vec_id"), col("cos"))
        .join(sel.select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_anti")
      val pen = pairs
        .join(sel.select(col("q_id"), col("vec_id").as("id_b")),
          Seq("q_id", "id_b"))
        .groupBy(col("q_id"), col("id_a")).agg(max(col("sim")).as("mx"))
        .select(col("q_id"), col("id_a").as("vec_id"), col("mx"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      val pick = cand.join(pen, Seq("q_id", "vec_id"))
        .select(col("q_id"), col("vec_id"),
          ((lNum * col("cos") - lInv * col("mx")) / lDen).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("score"),
          lit(r.toLong).as("mmr_rank"))
      sel = sel.unionByName(pick).materializeOnce() // next round's state
    }
    sel.orderBy(col("q_id"), col("mmr_rank"))
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the top-k most similar corpus vectors whose cosine sits
    * BELOW `dupCeiling` — similar enough to be informative negatives,
    * but excluded from the near-duplicate band where they would be
    * false negatives (the standard "hard negatives minus dups" recipe
    * of dense-retrieval training data prep). Exact scoring; at corpus
    * scale compose the same ceiling filter with pqIvfAdcRerank's
    * shortlist instead (take shortlist ≫ k, filter, re-rank), which
    * keeps the per-query cost index-bound. */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, k: Int,
      dupCeiling: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"))
    val scored = corpus
      .withColumn("c_norm", norm(col("embedding")))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_norm"), col("c_norm")).as("cos"))
      .filter(col("cos") < dupCeiling)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Deterministic random hyperplanes: nBits × dim in [-1,1), from a
    * fixed-seed generator. Driver-side literals — tiny. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** Sign-bit LSH signature of an embedding under the given planes.
    * The plane dimension MUST match the embedding dimension: the dot
    * fold turns null on a length mismatch and every vector would
    * silently land in bucket 0 — size(emb) is asserted below. */
  def signature(emb: Column, planes: Array[Array[Double]]): Column = {
    val dimOk = size(emb) === planes.head.length
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      val dot = dotFold(emb, planeCol)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    when(!dimOk, raise_error(concat(
      lit(s"LSH plane dim ${planes.head.length} != embedding dim "),
      size(emb).cast("string"))))
      .otherwise(bits.reduce(_ + _))
  }

  /** Approximate top-k via multi-probe LSH: each query probes its own
    * bucket plus all buckets at Hamming distance 1 (nBits+1 probes),
    * then ranks candidates by exact cosine. Misses are possible — that is
    * the approximation contract; recall rises with probes/tables. */
  def annLsh(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 8, seed: Long = 42L, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = hyperplanes(nBits, dim, seed = seed)
    val sigCorpus = corpus
      .select(col("vec_id"), col("embedding"),
        signature(col("embedding"), planes).as("sig"),
        norm(col("embedding")).as("c_norm"))
    val probes = (0L +: (0 until nBits).map(i => 1L << i)).map(lit(_))
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        signature(col("embedding"), planes).as("q_sig"),
        norm(col("embedding")).as("q_norm"))
      .withColumn("mask", explode(array(probes: _*)))
      .withColumn("probe_sig", expr("q_sig ^ mask"))
    val candidates = sigCorpus
      .join(broadcast(q), col("sig") === col("probe_sig") &&
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_norm"), col("c_norm")).as("cos"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Embedding near-duplicate pairs: LSH-bucket join (exact-signature
    * collision in any of `tables` independent hash tables) then exact
    * cosine ≥ threshold. At scale the bucket join replaces the O(N²)
    * cross join; recall is tuned by the two standard LSH knobs — fewer
    * bits per table (bigger buckets) and more tables (more independent
    * chances to collide), compute rising with both. The signature table
    * is checkpointed once: it feeds both sides of every per-table
    * self-join plus the final pair-scoring joins (rule 5). */
  def embeddingNearDupes(
      corpus: DataFrame, threshold: Double,
      nBits: Int = 8, seed: Long = 42L, dim: Int = 64,
      tables: Int = 1): DataFrame = {
    val sigCols = (0 until tables).map(t =>
      signature(col("embedding"), hyperplanes(nBits, dim, seed + t))
        .as(s"sig$t"))
    val sig = corpus.select(
      Seq(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        ++ sigCols: _*)
      .materializeOnce()
    val cands = (0 until tables).map { t =>
      sig.select(col(s"sig$t").as("s"), col("vec_id").as("id_a"))
        .join(sig.select(col(s"sig$t").as("s"), col("vec_id").as("id_b")),
          Seq("s"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    }.reduce(_ union _).distinct()
    cands
      .join(sig.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a")), Seq("id_a"))
      .join(sig.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosinePre(col("emb_a"), col("emb_b"),
          col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Determinized DBSCAN (Ester et al., KDD '96) over the embedding
    * space with cosine ≥ `threshold` as the ε-neighborhood: core
    * points have ≥ `minPts` neighbors INCLUDING self, clusters are
    * connected components of the core–core ε-graph, border points
    * attach to the SMALLEST cluster id among their core neighbors
    * (classic DBSCAN leaves the choice arbitrary — taking min is the
    * determinization, same move as d44's min-label components), noise
    * gets cluster −1. The density-based companion of d48's SemDeDup:
    * finds dense regions without a cluster count and NAMES the noise,
    * which is exactly the "mine the residue" curation readout.
    *
    * Exactness/oracle: the ε-join here is the EXACT all-pairs cosine
    * (sequential-fold, rule 3 — bitwise equal to DuckDB's replay), so
    * the oracle is the brute-force DBSCAN verbatim; no recall
    * assumption anywhere. Scale shape: the all-pairs join is the
    * embeddings-corpus quadratic — right for the gate corpus and for
    * per-cell refinement; at 100 TB the pair PROPOSER swaps to
    * [[embeddingNearDupes]]'s multi-table LSH (d41/d48 machinery)
    * with this same downstream, trading the exact-oracle contract for
    * the d48 replay contract. Everything downstream of the pair set is
    * corpus-linear: one symmetric explode, one count groupBy, the d44
    * min-label CC (bounded rounds), one border min-join. */
  def dbscan(
      corpus: DataFrame, threshold: Double, minPts: Int): DataFrame = {
    val side = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val pairs = side
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a"))
      .join(side.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")),
        col("id_a") < col("id_b"))
      .filter(cosinePre(col("emb_a"), col("emb_b"),
        col("nrm_a"), col("nrm_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    dbscanFromPairs(corpus, pairs, minPts)
  }

  /** DBSCAN downstream over an ALREADY-PROPOSED ε-pair set — the seam
    * the 100 TB path plugs into: [[dbscan]] feeds it the exact
    * all-pairs join (gate contract), the scale path feeds it
    * [[embeddingNearDupes]]'s multi-table LSH candidates (the d41/d48
    * machinery; ScaleProbe's d67 stage measures that swap against a
    * planted clustering at 100k vectors). Everything here is
    * corpus-linear: one symmetric explode, one count groupBy, the d44
    * min-label CC, one border min-join. */
  def dbscanFromPairs(
      corpus: DataFrame, epsPairs: DataFrame, minPts: Int): DataFrame = {
    val pairs = epsPairs.select(col("id_a"), col("id_b"))
      .materializeOnce() // feeds counts, the core graph, border joins
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("id"), col("id_b").as("nb")),
        struct(col("id_b").as("id"), col("id_a").as("nb")))).as("e"))
      .select(col("e.id").as("id"), col("e.nb").as("nb"))
      .materializeOnce()
    val ncnt = corpus.select(col("vec_id"))
      .join(sym.groupBy(col("id")).agg(count(lit(1)).as("n"))
        .select(col("id").as("vec_id"), col("n")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n"), lit(0L)).as("n_neighbors"))
      .materializeOnce()
    val core = ncnt.filter(col("n_neighbors") + 1 >= minPts)
      .select(col("vec_id")).materializeOnce()
    val coreEdges = sym
      .join(core.select(col("vec_id").as("id")), Seq("id"), "left_semi")
      .join(core.select(col("vec_id").as("nb")), Seq("nb"), "left_semi")
      .select(col("id").as("id_a"), col("nb").as("id_b"))
    // components cover only cores WITH a core neighbor; isolated cores
    // are their own singleton cluster
    val coreLbl = core
      .join(graft.operators.Dedup.connectedComponents(coreEdges)
        .select(col("doc_id").as("vec_id"), col("cluster_id")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .materializeOnce() // feeds the core output AND the border join
    val border = sym
      .join(core.select(col("vec_id").as("id")), Seq("id"), "left_anti")
      .join(coreLbl.select(col("vec_id").as("nb"), col("cluster_id")),
        Seq("nb"))
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
      .select(col("id").as("vec_id"), col("cluster_id"))
    ncnt
      .join(coreLbl.select(col("vec_id"), col("cluster_id").as("core_cl")),
        Seq("vec_id"), "left")
      .join(border.select(col("vec_id"), col("cluster_id").as("bord_cl")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("n_neighbors"),
        when(col("core_cl").isNotNull, "core")
          .when(col("bord_cl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("core_cl"), col("bord_cl"), lit(-1L)).as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** IVF-style coarse quantization: centroids from an aggregation over a
    * deterministic coarse key, queries probe the nearest `nProbe`
    * centroids, search restricted to those cells. Demonstrates the
    * partition-pruning pattern (cells = partitions at scale).
    *
    * Centroid components are summed in FIXED POINT (floor(x·1e6) as
    * long) rather than averaged in doubles: an integer sum is
    * order-independent, so the centroids — and therefore the probe
    * choice and the final result — are deterministic under any shuffle
    * schedule AND exactly replayable by the DuckDB oracle. The 1e-6
    * quantization is orders of magnitude below the coarse quantizer's
    * own noise floor (cells are 1-bit-per-plane buckets), so it cannot
    * change which cells are near which queries in any meaningful way. */
  /** Fixed-point cell centroids: per-component sums of floor(x·1e6) as
    * longs (order-independent — see ivfSearch's determinism note), then
    * one divide back to doubles. Input needs (cell, embedding); output
    * is (cell, n, centroid). Shared by ivfSearch and kmeansStep — the
    * arithmetic here is replayed literally by both oracles. */
  private def fixedPointCentroids(
      cells: DataFrame, dim: Int,
      extraAggs: Seq[(Column, String)] = Nil): DataFrame = {
    val sums = (0 until dim).map(i =>
      sum(floor(col("embedding").getItem(i).cast("double") * lit(1e6)))
        .as(s"s$i"))
    cells.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        (sums ++ extraAggs.map { case (c, n) => c.as(n) }): _*)
      .select(col("cell") +: col("n") +: array((0 until dim).map(i =>
        col(s"s$i").cast("double") / col("n").cast("double") / lit(1e6)): _*)
        .as("centroid") +: extraAggs.map(e => col(e._2)): _*)
  }

  /** Nearest-class-centroid evaluation over a labeled embedding table —
    * the standard linear-probe-lite check a data pipeline runs on a new
    * embedding batch (is the labeling signal present at all?): one
    * fixed-point centroid per label, every vector assigned to its
    * max-cosine centroid (tiebreak: smaller label), confusion counts
    * out. Reuses the ivfSearch determinism contract wholesale — integer
    * centroid sums are order-independent, the assignment cosine is the
    * sequential fold — so the whole pipeline hash-matches a DuckDB
    * replay.
    *
    * Scale shape: centroids are the ONLY broadcast (O(#labels));
    * scoring is a map-side broadcast join (#labels rows per vector, no
    * shuffle of the corpus); the argmax window partitions by vec_id
    * (bounded at #labels rows per key); the confusion groupBy emits
    * #labels² rows. Nothing is O(corpus²) and the corpus shuffles at
    * most once (the window). */
  def labelCentroidConfusion(emb: DataFrame, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = emb.select(col("vec_id"), col("embedding"),
      col("label").cast("long").as("cell"))
    val centroids = fixedPointCentroids(cells, dim).drop("n")
    val scored = cells.select(col("vec_id"), col("embedding"),
        col("cell").as("label"))
      .join(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("cell"),
        cosine(col("embedding"), col("centroid")).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cell"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .groupBy(col("label"), col("cell").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))
  }

  def ivfSearch(
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int = 2,
      dim: Int = 64): DataFrame = {
    // cell assignment: coarse LSH signature with 4 bits = 16 cells
    val planes = hyperplanes(4, dim, seed = 7L)
    val cells = corpus.withColumn("cell", signature(col("embedding"), planes))
    val centroids = fixedPointCentroids(cells, dim).drop("n")
    ivfSearchCore(cells, centroids, queries, k, nProbe)
  }

  /** One shared (cells, centroids) build for SEVERAL searches over the
    * same corpus — the s60 nProbe sweep ran [[ivfSearch]] once per knob
    * value and re-paid the corpus cell map AND the centroid aggregate
    * per arm (measured: the centroid groupBy is the arm's dominant
    * stage). Both frames are materialized once; identical cell/centroid
    * values (same planes seed), so every arm's output is unchanged. */
  def ivfPrepared(corpus: DataFrame, dim: Int = 64): (DataFrame, DataFrame) = {
    val planes = hyperplanes(4, dim, seed = 7L)
    val cells = corpus.withColumn("cell", signature(col("embedding"), planes))
      .materializeOnce()
    val centroids = fixedPointCentroids(cells, dim).drop("n").materializeOnce()
    (cells, centroids)
  }

  /** [[ivfSearch]] over a shared [[ivfPrepared]] build. */
  def ivfSearchFrom(
      cells: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame =
    ivfSearchCore(cells, centroids, queries, k, nProbe)

  /** IVF index-health audit (s59): posting-list size distribution of
    * the coarse quantizer. ANN latency under IVF is bounded by the
    * probed cells' sizes, so one hot cell quietly costs every query
    * that probes it — `balance` = n·n_cells/total (1 = perfectly even)
    * is the number an index operator alerts on, the vector-index
    * mirror of q135's key-skew readout.
    *
    * Exact counts; share and balance are each ONE double division of
    * exact int64 products (rule 17). One corpus scan + a 16-row agg;
    * the 1-row total is the only crossJoin. */
  def ivfBalance(corpus: DataFrame, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(4, dim, seed = 7L)
    val c = corpus.withColumn("cell", signature(col("embedding"), planes))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val t = c.agg(sum(col("n")).as("total"), count(lit(1)).as("n_cells"))
    c.crossJoin(broadcast(t)) // 1-row normalizer
      .select(col("cell"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"),
        ((col("n") * col("n_cells")).cast("double")
          / col("total").cast("double")).as("balance"))
      .orderBy(col("cell"))
  }

  /** Persist the IVF index (s51): cell assignments + fixed-point
    * centroids, written once — the vector-index mirror of the d53/m55
    * signature stores. A later query wave reads the index instead of
    * re-assigning the corpus: at 100 TB the assignment pass (a full
    * corpus scan + the centroid aggregate) is the cost an online
    * serving path cannot afford per query batch. Index size = corpus
    * rows (vec_id, embedding, cell) + 16 centroid rows.
    *
    * Store layout (since r14): MANIFEST-versioned — both artifacts land
    * under a fresh `path/v_N/{cells,centroids}` and ONE atomic manifest
    * rename commits them together ([[Maintenance.commitVersion]], the
    * q224 primitive). A reader resolves the manifest first and then
    * opens a version that is entirely one index — the pre-r14
    * four-rename swap's documented mixed-quantizer read window is gone.
    * Old versions stay until [[Maintenance.pruneVersions]] (snapshot
    * isolation by retention: prune with keep ≥ 1, or keep 0 only once
    * in-flight readers of the previous version have drained). */
  def writeIvfIndex(
      corpus: DataFrame, path: String, dim: Int = 64,
      nBits: Int = 4, seed: Long = 7L): Unit = {
    val planes = hyperplanes(nBits, dim, seed)
    Maintenance.commitVersion(path) { dir =>
      writeIndexFiles(corpus.drop("cell"), planes, dim,
        s"$dir/cells", s"$dir/centroids")
    }
    ()
  }

  /** The directory holding the CURRENT committed index artifacts: the
    * manifest-resolved `v_N` for a versioned store, or the root itself
    * for a pre-r14 flat layout (read-only compatibility — the first
    * maintenance verb migrates it). Probes and specs that inspect the
    * physical layout resolve through this. */
  def ivfVersionDir(path: String): String =
    Maintenance.currentVersion(path).map(v => s"$path/v_$v").getOrElse(path)

  /** Writer-side resolution: like [[ivfVersionDir]], but a legacy flat
    * store is MIGRATED — any pre-manifest mid-swap crash state is
    * restored first ([[restoreIfMidSwap]], kept exactly for this), then
    * the existing artifacts move into `v_1` and a manifest commit
    * adopts them. One-time, on the single-writer maintenance path;
    * readers of a store being migrated should be drained first (the
    * legacy layout had no isolation guarantee to lose). */
  private def ensureVersioned(path: String): String =
    Maintenance.currentVersion(path) match {
      case Some(v) => s"$path/v_$v"
      case None =>
        import java.nio.file.{Files, Paths}
        restoreIfMidSwap(path, "cells")
        restoreIfMidSwap(path, "centroids")
        require(new java.io.File(s"$path/cells").exists(),
          s"ensureVersioned: no IVF index at $path")
        val v = Maintenance.commitVersion(path) { dir =>
          Files.createDirectories(Paths.get(dir))
          Seq("cells", "centroids", "tombstones").foreach { d =>
            if (Files.exists(Paths.get(s"$path/$d")))
              Files.move(Paths.get(s"$path/$d"), Paths.get(s"$dir/$d"))
          }
        }
        // legacy rebuild debris that can no longer serve anything
        Seq("retrain_cells", "retrain_centroids", "cells_compacting")
          .foreach(d => Maintenance.rmTree(new java.io.File(s"$path/$d")))
        s"$path/v_$v"
    }

  /** Assign cells under `planes` and write the postings + centroid
    * files — the shared write path of [[writeIvfIndex]] (fresh build)
    * and [[retrainIvfIndex]] (versioned rebuild). */
  private def writeIndexFiles(corpus: DataFrame,
      planes: Array[Array[Double]], dim: Int,
      cellsPath: String, centroidsPath: String): Unit = {
    val cells = corpus.withColumn("cell", signature(col("embedding"), planes))
      .materializeOnce()
    cells.write.mode("overwrite").parquet(cellsPath)
    fixedPointCentroids(cells, dim).drop("n")
      .write.mode("overwrite").parquet(centroidsPath)
  }

  /** Retrain the coarse quantizer — the FOURTH lifecycle verb beside
    * [[appendIvfIndex]] (insert), [[deleteFromIvfIndex]] (delete), and
    * [[compactIvfIndex]] (maintain). The frozen-quantizer contract
    * (s66) deliberately never retrains on the write path; when enough
    * drift/growth accumulates, THIS verb rebuilds the planes with a
    * new (nBits, seed), re-assigns the LIVE postings (tombstones apply
    * physically, as in compaction), and publishes the rebuild as ONE
    * manifest commit over a fresh `v_N/{cells,centroids}` pair
    * ([[Maintenance.commitVersion]]) — a reader resolves either the
    * old version or the new one, never a mix: the pre-r14 four-rename
    * swap's documented mixed-quantizer window is gone (the r13 s70
    * probe measured its predicted ≤1 transient reader error; the r14
    * rerun requires exactly 0). Crash-re-entrant for free: a crash
    * anywhere before the flip leaves the old version served and a
    * half-written `v_N` the retry overwrites. Result ≡ a from-scratch
    * [[writeIvfIndex]] over the live vectors with the same
    * (nBits, seed) — the spec-pinned contract (IvfIndexSpec), the
    * retrain analog of d53's store ≡ recompute. The superseded version
    * stays on disk for in-flight readers until the caller prunes
    * ([[Maintenance.pruneVersions]]). */
  def retrainIvfIndex(spark: SparkSession, path: String, dim: Int = 64,
      nBits: Int = 5, seed: Long = 11L): Unit = {
    val cur = ensureVersioned(path)
    // the rebuild reads the CURRENT version (live view: tombstones
    // applied) while writing the next — never in place
    val live = livePostings(spark, cur).drop("cell")
    Maintenance.commitVersion(path) { dir =>
      writeIndexFiles(live, hyperplanes(nBits, dim, seed), dim,
        s"$dir/cells", s"$dir/centroids")
    }
    ()
  }

  /** Pre-manifest (r13) crash recovery, kept for MIGRATING legacy flat
    * stores: if the live dir is missing and its `_old` sibling exists,
    * a pre-r14 run died between its two swap renames and `_old` is the
    * ONLY copy — move it back before [[ensureVersioned]] adopts the
    * layout. Versioned stores can no longer reach such a state (the
    * manifest flip is one atomic rename). */
  private def restoreIfMidSwap(path: String, dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val live = new java.io.File(s"$path/$dir")
    val old = new java.io.File(s"$path/${dir}_old")
    if (!live.exists() && old.exists()) {
      Files.move(Paths.get(old.getPath), Paths.get(live.getPath))
      ()
    }
  }

  /** Incremental IVF insert WITHOUT retraining the coarse quantizer
    * (s66 — the index-maintenance half of the s51 store pattern, and
    * how production IVF deployments actually absorb arrivals between
    * periodic retrains): new vectors are assigned cells by the SAME
    * fixed hyperplanes and appended to the postings; the centroid
    * artifact is untouched, so probe ordering keeps serving from the
    * frozen quantizer. Cell assignment is a pure function of the
    * embedding (stateless planes), so append-then-search must equal a
    * from-scratch search whose quantizer was trained on the BASE only
    * — the d53 store ≡ recompute contract with "recompute" precisely
    * scoped to the frozen-quantizer arm (a full retrain may legally
    * differ; IvfIndexSpec pins both statements). */
  def appendIvfIndex(delta: DataFrame, path: String, dim: Int = 64,
      subdir: Option[String] = None): Unit = {
    val planes = hyperplanes(4, dim, seed = 7L)
    val assigned = delta.withColumn("cell", signature(col("embedding"), planes))
    // appends land INSIDE the current committed version (they extend its
    // postings set; no new version — the write path stays one parquet
    // write, the q153 flatness property). Maintenance rewrites
    // (compact/retrain) racing an append remain single-writer territory,
    // exactly as before the manifest layout.
    val dir = ensureVersioned(path)
    subdir match {
      // batch-keyed subdir, OVERWRITE: a replayed micro-batch rewrites
      // its own postings instead of duplicating them — at-least-once
      // delivery becomes exactly-once state (the q161 contract for the
      // vector index). searchIvfIndex reads recursively, so nested
      // batch dirs serve like the flat layout.
      case Some(sd) =>
        assigned.write.mode("overwrite").parquet(s"$dir/cells/$sd")
      case None =>
        assigned.write.mode("append").parquet(s"$dir/cells")
    }
  }

  /** Compact the postings of a persisted IVF index — the ASYNC
    * maintenance half of the s67 ingest loop (streaming appends one
    * file per micro-batch; the small-file problem is deferred here
    * instead of paid synchronously on the write path). Postings are
    * rewritten cell-clustered (repartition on `cell`), so a probe
    * after compaction touches contiguous row groups instead of one
    * fragment per historical batch; content is untouched — search
    * before ≡ search after is the spec-pinned contract. The rewrite
    * publishes as a manifest commit ([[Maintenance.commitVersion]]):
    * the compacted postings land in a fresh `v_N/cells` beside a
    * byte-copied `v_N/centroids` (the quantizer is untouched) and one
    * atomic rename flips the manifest — no window with a missing or
    * half-swapped `cells` dir, which the pre-r14 two-rename swap
    * carried. Crash-re-entrant for free: a crash before the flip
    * leaves the old version served and `v_N` as debris the retry
    * overwrites. */
  def compactIvfIndex(spark: SparkSession, path: String,
      files: Int = 0): Unit = {
    val cur = ensureVersioned(path)
    // compaction applies tombstones physically: the rewrite reads the
    // LIVE view of the current version, so deleted postings drop out of
    // the new files and the new version carries no tombstone set at all
    val live = livePostings(spark, cur)
    // Layout sized to the DATA AND the CLUSTER, never a constant (the
    // repo's own 100 TB rule applied to its own maintenance verb): the
    // original fixed 4-file rewrite produced single-row-group files,
    // and a parquet scan cannot split below a row group —
    // post-compaction search ran 3.6x SLOWER than the fragmented store
    // it replaced (measured, r12 s68 probe at 650k live postings). The
    // r12 fix sized files from the row count (~128k postings/file +
    // 8 MB row groups), but the r13 matched-k re-measure showed the
    // residual cost: 5 × ~35 MB files stay BELOW maxPartitionBytes, so
    // they never split and a 32-way scan runs on 5 tasks (21.9 s vs
    // the fragmented store's 8-12 s at identical k/nProbe). A store
    // that every query scans should carry at least one file per core:
    // file count = max(defaultParallelism, rows/128k). At probe scale
    // that is 32 × ~5 MB files (the small-file problem stays solved —
    // compaction's job is collapsing THOUSANDS of micro-batch
    // fragments, not reaching a minimal file count); at 100 TB the
    // rows/128k term dominates and files exceed maxPartitionBytes, so
    // split-driven parallelism returns regardless.
    // sortWithinPartitions(cell) still clusters each file by cell for
    // row-group min/max pruning on probed-cell scans.
    val nFiles =
      if (files > 0) files
      else math.max(spark.sparkContext.defaultParallelism.toLong,
        (live.count() + (1L << 17) - 1) >> 17).toInt
    Maintenance.commitVersion(path) { dir =>
      live
        // RANGE partition on (cell, vec_id), not hash on cell: hash
        // partitioning caps non-empty files at the DISTINCT CELL count
        // (16 under the 4-bit quantizer — the parallelism floor above
        // was silently unreachable, measured 42→13 files), while ranges
        // hit the exact file count AND keep each file a contiguous cell
        // interval, so row-group min/max pruning on probed-cell scans
        // still sees tight cell bounds.
        .repartitionByRange(nFiles, col("cell"), col("vec_id"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.mode("overwrite")
        .option("parquet.block.size", (8L << 20).toString)
        .parquet(s"$dir/cells")
      // the quantizer is untouched: byte-copy the centroid artifact so
      // the committed version is self-contained (a reader resolves ONE
      // version dir for both artifacts)
      copyTree(new java.io.File(s"$cur/centroids"),
        new java.io.File(s"$dir/centroids"))
    }
    ()
  }

  /** Recursive byte-copy (centroid carry-over between versions). */
  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).foreach(_.foreach(c =>
        copyTree(c, new java.io.File(dst, c.getName))))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** IVF search against a PERSISTED index (s51) — identical output to
    * ivfSearch over the same corpus by construction (floats and the
    * fixed-point centroids round-trip parquet bit-exactly, and the
    * search core is shared), which is why s51 reuses s43's oracle and
    * IvfIndexSpec asserts store ≡ recompute equality, the d53
    * contract. */
  def searchIvfIndex(
      spark: SparkSession, queries: DataFrame, path: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    // resolve the manifest FIRST, then open only that version's
    // artifacts — both from ONE version dir, so a concurrent
    // compaction/retrain commit can never serve mixed state
    val dir = ivfVersionDir(path)
    ivfSearchCore(
      livePostings(spark, dir),
      spark.read.parquet(s"$dir/centroids"),
      queries, k, nProbe)
  }

  /** IVF cell-balance audit (s71): postings-per-cell histogram of a
    * persisted index plus the hot-cell factor (max·cells/total,
    * per-mille — 1000 = perfectly balanced) — the serving-skew readout
    * that sizes nProbe budgets and tells the maintenance scheduler
    * when a retrain (s70) is due: a probe's worst-case latency is the
    * hottest cell it touches. Exact integers end-to-end (shares and
    * the factor via DIV, rule 21); tombstones respected, so the audit
    * describes what searches actually scan.
    *
    * Scale shape: one cell-grain groupBy over the postings (map-side
    * combined, ≤ 2^nBits rows out) + a 1-row broadcast of totals —
    * the cheapest possible full-index pass. */
  def ivfCellBalance(spark: SparkSession, path: String): DataFrame = {
    val per = livePostings(spark, ivfVersionDir(path))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_postings"))
    val tot = per.agg(sum(col("n_postings")).as("t"),
      max(col("n_postings")).as("mx"), count(lit(1)).as("nc"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_postings"),
        expr("n_postings * 1000 DIV t").as("share_permille"),
        expr("mx * nc * 1000 DIV t").as("hotcell_factor_permille"))
      .orderBy(col("cell"))
  }

  /** The index's live postings: cells minus tombstones (s68). Takes
    * the already-RESOLVED version dir ([[ivfVersionDir]]) so one
    * resolution covers every artifact a caller touches. The tombstone
    * set is tiny relative to the postings (deletes between
    * compactions), so the anti-join broadcasts; an index with no
    * tombstone dir reads exactly as before. */
  private def livePostings(spark: SparkSession, path: String): DataFrame = {
    val cells = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$path/cells")
    if (!new java.io.File(s"$path/tombstones").exists()) cells
    else cells.join(
      broadcast(spark.read.parquet(s"$path/tombstones")
        .select(col("vec_id")).distinct()),
      Seq("vec_id"), "left_anti")
  }

  /** Logical delete from a persisted IVF index (s68 — the third
    * lifecycle verb beside [[appendIvfIndex]] and [[compactIvfIndex]],
    * the standard LSM-ish tombstone pattern): deleted ids append to a
    * tombstone set that [[searchIvfIndex]] anti-joins at read time; no
    * postings rewrite on the delete path. [[compactIvfIndex]] later
    * applies tombstones physically (the compacted version simply has
    * no tombstone set). Idempotent by construction (the tombstone set
    * is a set — re-deleting an id, or an at-least-once retry, changes
    * nothing a reader can observe). Like appends, deletes extend the
    * CURRENT version's state rather than committing a new version —
    * the delete path stays one tiny parquet append. */
  def deleteFromIvfIndex(ids: DataFrame, path: String): Unit =
    ids.select(col("vec_id")).write.mode("append")
      .parquet(s"${ensureVersioned(path)}/tombstones")

  private def ivfSearchCore(
      cells: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = q.join(broadcast(centroids))
      .select(col("q_id"), col("q_emb"), col("cell"),
        cosine(col("q_emb"), col("centroid")).as("ccos"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val probeCells = probed.withColumn("r", row_number().over(wq))
      .filter(col("r") <= nProbe).select(col("q_id"), col("q_emb"), col("cell"))
    val candidates = cells
      .withColumn("c_norm", norm(col("embedding")))
      .join(broadcast(probeCells.withColumn("q_norm", norm(col("q_emb")))),
        Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosinePre(col("q_emb"), col("embedding"),
          col("q_norm"), col("c_norm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Random projection (Johnson–Lindenstrauss; the dense-Gaussian-row
    * variant of Achlioptas 2001): map a dim-length embedding to
    * planes.length dot products against fixed-seed planes. Each output
    * component is the same sequential fold the cosine path uses, so a
    * reduced vector is exactly replayable as a DuckDB list literal
    * expression. Reduction is a per-row map — no shuffle; at 100 TB it
    * cuts every downstream scoring fold by dim/planes.length. */
  def randomProject(emb: Column, planes: Array[Array[Double]]): Column =
    array(planes.map(p => dotFold(emb, array(p.map(lit): _*))): _*)

  /** Exact top-k in randomly-projected space: project corpus and
    * queries with the same fixed planes, then brute-force cosine over
    * the reduced vectors — the standard cheap-first-pass ANN (scores
    * approximate the full-space ranking within the JL distortion
    * bound). Deterministic end to end, so the oracle replays the actual
    * approximate semantics. */
  def knnRandomProjection(
      corpus: DataFrame, queries: DataFrame, k: Int,
      rDim: Int = 16, seed: Long = 99L, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(rDim, dim, seed)
    def reduce(df: DataFrame): DataFrame = df.select(
      col("vec_id"), randomProject(col("embedding"), planes).as("embedding"))
    bruteForceKnn(reduce(corpus), reduce(queries), k)
  }

  /** Product quantization + asymmetric-distance top-k (Jégou/Douze/
    * Schmid, TPAMI 2011 — the product-quantizer half; s43 demonstrates
    * the coarse half). The embedding is split into `m` subspaces; each
    * subspace gets a data-derived codebook (fixed-point centroids of
    * 4-bit LSH cells — deterministic, so the whole pipeline is
    * DuckDB-replayable); every vector is encoded as its per-subspace
    * nearest centroid by L2 (argmin of |c|² − 2·x·c; |x|² is constant
    * per subvector). Queries score candidates asymmetrically: exact
    * query-to-centroid dots per subspace, summed over the code — the
    * vector itself is never touched at query time.
    *
    * Scale shape: the index is the codes table — m small ints per
    * vector instead of dim floats (16× compression here); codebooks and
    * the per-query dot tables are tiny broadcasts; encoding is a
    * per-row map plus a window bounded at 16 rows per (vector,
    * subspace); scoring shuffles only (q_id, vec_id, code) tuples.
    * The per-subspace contributions are combined as FOUR single-element
    * conditional sums added in fixed expression order — a plain
    * sum(qdot) over 4 doubles would re-associate under shuffle and
    * break determinism. */
  def pqAdc(
      corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // slice once, checkpoint once: every subspace's cell/encode/score
    // path reads from this shared base (rule 5)
    val base = corpus.select(
      col("vec_id") +: (0 until m).map(j =>
        slice(col("embedding"), j * subDim + 1, subDim).as(s"sv$j")): _*)
      .materializeOnce()
    val qBase = queries.select(
      col("vec_id").as("q_id") +: (0 until m).map(j =>
        slice(col("embedding"), j * subDim + 1, subDim).as(s"qv$j")): _*)
    val perSub = (0 until m).map { j =>
      val planes = hyperplanes(4, subDim, seed = 1000L + j)
      val cells = base.select(col("vec_id"), col(s"sv$j").as("embedding"))
        .withColumn("cell", signature(col("embedding"), planes))
      val cents = fixedPointCentroids(cells, subDim).drop("n")
      val keyExpr = dotFold(col("centroid"), col("centroid")) -
        lit(2) * dotFold(col("embedding"), col("centroid"))
      val wv = Window.partitionBy(col("vec_id"))
        .orderBy(col("key").asc, col("cand"))
      val enc = cells
        .join(broadcast(cents.select(col("cell").as("cand"), col("centroid"))))
        .select(col("vec_id"), col("cand"), keyExpr.as("key"))
        .withColumn("r", row_number().over(wv)).filter(col("r") === 1)
        .select(col("vec_id"), lit(j).as("sub"), col("cand").as("code"))
      val qd = qBase.select(col("q_id"), col(s"qv$j").as("qs"))
        .join(broadcast(cents))
        .select(col("q_id"), lit(j).as("qsub"), col("cell"),
          dotFold(col("qs"), col("centroid")).as("qdot"))
      (enc, qd)
    }
    val codes = perSub.map(_._1).reduce(_ union _)
    val qd = perSub.map(_._2).reduce(_ union _)
    val subSums = (0 until m).map(j =>
      sum(when(col("sub") === j, col("qdot"))).as(s"s$j"))
    val scored = codes
      .join(broadcast(qd), col("sub") === col("qsub") &&
        col("code") === col("cell") && col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(subSums.head, subSums.tail: _*)
    val approx = (0 until m).map(j => col(s"s$j")).reduce(_ + _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.select(col("q_id"), col("vec_id"), approx.as("approx_dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVFADC — the full Jégou/Douze/Schmid TPAMI 2011 pipeline: the
    * coarse quantizer (s43's cells + fixed-point centroids) composed
    * with product quantization of the RESIDUAL x − c(x) (s46's
    * machinery applied to the residual), scored asymmetrically inside
    * the probed cells only:
    *
    *   dot(q, c + r̂) = dot(q, c) + Σ_j dot(q_j, cb_j[code_j(x)])
    *
    * so the index stores m codes + a cell id per vector and the raw
    * vector is never touched at query time. Residual encoding is what
    * makes PQ codes sharp: after subtracting the cell centroid the
    * residual distribution is near-centered, so the per-subspace
    * codebooks quantize a much smaller cloud than raw vectors would.
    *
    * Scale shape: centroids and codebooks are tiny broadcasts; the
    * residual map is per-row (no shuffle); candidate generation is the
    * IVF cell restriction (never the whole corpus); scoring shuffles
    * only (q_id, vec_id) groups of m rows. Determinism: fixed-point
    * centroid sums at both levels, L2-argmin encode with a cand-id
    * tiebreak, and the per-subspace contributions combined as
    * single-element conditional sums added in fixed expression order
    * with the coarse term first — exactly replayable by the oracle. */
  def pqIvfAdc(
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int = 2,
      m: Int = 4, subDim: Int = 16, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // coarse cells: same planes/seed as ivfSearch (s43 is the coarse half)
    val coarsePlanes = hyperplanes(4, dim, seed = 7L)
    val cells = corpus
      .withColumn("cell", signature(col("embedding"), coarsePlanes))
      .materializeOnce() // feeds centroid agg + residual join + membership
    val cents = fixedPointCentroids(cells, dim).drop("n")
    // residual x − c(x): per-row map against the broadcast centroids
    val resid = cells.join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("centroid"),
          (x, c) => x.cast("double") - c).as("resid"))
      .materializeOnce() // feeds m codebook builds + m encodes
    val qBase = queries.select(
      col("vec_id").as("q_id") +: col("embedding").as("q_emb") +:
        (0 until m).map(j =>
          slice(col("embedding"), j * subDim + 1, subDim).as(s"qv$j")): _*)
    val perSub = (0 until m).map { j =>
      val planes = hyperplanes(4, subDim, seed = 2000L + j)
      val rcells = resid
        .select(col("vec_id"), slice(col("resid"), j * subDim + 1, subDim).as("embedding"))
        .withColumn("cell", signature(col("embedding"), planes))
      val cb = fixedPointCentroids(rcells, subDim).drop("n")
      val keyExpr = dotFold(col("centroid"), col("centroid")) -
        lit(2) * dotFold(col("embedding"), col("centroid"))
      val wv = Window.partitionBy(col("vec_id"))
        .orderBy(col("key").asc, col("cand"))
      val enc = rcells
        .join(broadcast(cb.select(col("cell").as("cand"), col("centroid"))))
        .select(col("vec_id"), col("cand"), keyExpr.as("key"))
        .withColumn("r", row_number().over(wv)).filter(col("r") === 1)
        .select(col("vec_id"), lit(j).as("sub"), col("cand").as("code"))
      // ADC table: the FULL query's subspace slice against the residual
      // codebook — dot(q, r̂) decomposes subspace-wise
      val qd = qBase.select(col("q_id"), col(s"qv$j").as("qs"))
        .join(broadcast(cb))
        .select(col("q_id").as("qd_id"), lit(j).as("qsub"),
          col("cell").as("qcell"), dotFold(col("qs"), col("centroid")).as("qdot"))
      (enc, qd)
    }
    val codes = perSub.map(_._1).reduce(_ union _)
    val qd = perSub.map(_._2).reduce(_ union _)
    // coarse probe: rank cells by centroid cosine, keep nProbe; carry
    // the coarse dot — it is the first term of every candidate's score
    val probed = qBase.select(col("q_id"), col("q_emb")).join(broadcast(cents))
      .select(col("q_id"), col("cell"),
        cosine(col("q_emb"), col("centroid")).as("ccos"),
        dotFold(col("q_emb"), col("centroid")).as("qc"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val probeCells = probed.withColumn("r", row_number().over(wq))
      .filter(col("r") <= nProbe).select(col("q_id"), col("cell"), col("qc"))
    val cand = cells.select(col("vec_id"), col("cell"))
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("qc"))
    val subSums = (0 until m).map(j =>
      sum(when(col("sub") === j, col("qdot"))).as(s"s$j"))
    val scored = cand
      .join(codes, Seq("vec_id"))
      .join(broadcast(qd), col("sub") === col("qsub") &&
        col("code") === col("qcell") && col("q_id") === col("qd_id"))
      .groupBy(col("q_id"), col("vec_id"), col("qc"))
      .agg(subSums.head, subSums.tail: _*)
    val approx = (0 until m).map(j => col(s"s$j"))
      .foldLeft(col("qc"))(_ + _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.select(col("q_id"), col("vec_id"), approx.as("approx_dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVFADC with exact re-ranking — IVFADC+R (Jégou et al., "Product
    * quantization for nearest neighbor search", TPAMI 2011, §V.D and
    * the +R variant of "Searching in one billion vectors", ICASSP'11):
    * the ADC pass returns a SHORTLIST of `shortlist` ≥ k candidates per
    * query ranked by the quantized score, and only those rows are
    * re-scored with the EXACT cosine against the original corpus
    * vectors; the final top-k comes from the exact scores.
    *
    * Scale shape: the corpus is scanned once, inside pqIvfAdc; the
    * refinement touches |Q|·shortlist rows — output-sized — via one
    * equi-join back on vec_id (at 1B vectors this is the difference
    * between re-reading 1B embeddings and re-reading 40·|Q|). The query
    * side broadcasts; the re-rank window partitions are exactly
    * `shortlist` rows, so nothing can skew. Approximation error then
    * comes ONLY from true neighbors the shortlist missed — re-ranking
    * converts PQ's score distortion into pure recall risk, which is the
    * quantity s47/s49 gate. */
  def pqIvfAdcRerank(
      corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int = 40,
      nProbe: Int = 2, m: Int = 4, subDim: Int = 16, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val short = pqIvfAdc(corpus, queries, k = shortlist, nProbe = nProbe,
      m = m, subDim = subDim, dim = dim)
      .select(col("q_id"), col("vec_id"))
    val scored = short
      .join(corpus.select(col("vec_id"), col("embedding").as("c_emb")),
        Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_emb"), col("c_emb")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  /** One deterministic Lloyd iteration (k-means step) seeded from the
    * IVF coarse cells: current centroids = fixed-point centroids of the
    * signature cells, every vector reassigns to its nearest centroid by
    * cosine (tiebreak: cell id), and centroids are recomputed over the
    * new assignment with the same fixed-point sums. Returns one row per
    * surviving cell: (cell, n, n_moved, centroid).
    *
    * Scale shape: centroids are a k-row broadcast; scoring is a per-row
    * map over k candidates; the argmin is a window keyed by vec_id whose
    * partitions are exactly k rows (bounded by the centroid count, so it
    * cannot skew); the recompute is one map-side-combining aggregate.
    * Iterating = re-calling with the previous assignment as the cell
    * column; order-independent integer sums make every iteration
    * reproducible under any shuffle schedule (and DuckDB-replayable). */
  def kmeansStep(corpus: DataFrame, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = hyperplanes(4, dim, seed = 7L)
    val cells = corpus.withColumn("cell", signature(col("embedding"), planes))
      .materializeOnce() // feeds the centroid agg AND the scoring join
    val centroids = fixedPointCentroids(cells, dim).drop("n")
    val scored = cells.select(col("vec_id"), col("embedding"),
        col("cell").as("old_cell"))
      .join(broadcast(centroids.select(col("cell").as("cand"), col("centroid"))))
      .select(col("vec_id"), col("embedding"), col("old_cell"), col("cand"),
        cosine(col("embedding"), col("centroid")).as("ccos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cand"))
    val assigned = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("embedding"), col("old_cell"),
        col("cand").as("cell"))
    val moved = sum(when(col("old_cell") =!= col("cell"), 1L).otherwise(0L))
    fixedPointCentroids(assigned, dim, extraAggs = Seq(moved -> "n_moved"))
      .select(col("cell"), col("n"), col("n_moved"), col("centroid"))
  }

  /** Greedy k-center coreset selection — González's farthest-point
    * traversal ("Clustering to minimize the maximum intercluster
    * distance", TCS 1985; the 2-approximation), the diversity-sampling
    * primitive Sener & Savarese (ICLR 2018) use for coreset-based data
    * selection: seed with the min-vec_id point, then repeatedly add the
    * point FARTHEST (max min-squared-L2) from the chosen set. Returns
    * one row per pick: (pick_order, vec_id, radius) where radius is the
    * max-min distance at selection time — the running k-center cost, so
    * the output doubles as the coverage-radius curve.
    *
    * Exactness: embeddings quantize to fixed-point longs (floor(x·1e6),
    * the ivfSearch convention), so every distance is an integer, the
    * argmax + vec_id tiebreak is deterministic under any shuffle
    * schedule, and the DuckDB oracle replays the full traversal
    * bit-for-bit (unrolled CTE chain).
    *
    * Scale shape: k scans of the corpus, each a map over ≤k broadcast
    * centers (k·dim longs) followed by a TakeOrdered(1) — the corpus is
    * NEVER shuffled and never collected; the driver receives exactly
    * one row per iteration (the new center), the same bounded-fixpoint
    * contract as connectedComponents' Observation loop. */
  def kCenterCoreset(corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fp = corpus.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6))).as("e"))
      .materializeOnce() // scanned once per pick
    def sqd(center: Seq[Long]): Column =
      aggregate(
        zip_with(col("e"), typedlit(center), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val seed = fp.orderBy(col("vec_id")).limit(1).head()
    var picks = Vector((seed.getLong(0), seed.getSeq[Long](1), 0L))
    while (picks.size < k) {
      val minDist = picks.map(p => sqd(p._2)).reduce(least(_, _))
      val next = fp.select(col("vec_id"), col("e"), minDist.as("md"))
        .orderBy(col("md").desc, col("vec_id")).limit(1).head()
      picks :+= ((next.getLong(0), next.getSeq[Long](1), next.getLong(2)))
    }
    picks.zipWithIndex
      .map { case ((id, _, r), i) => (i.toLong, id, r) }
      .toDF("pick_order", "vec_id", "radius")
  }

  /** Dominant principal direction of the embedding corpus by INTEGER
    * power iteration — the first step of embedding post-processing à la
    * all-but-the-top (Mu & Viswanath, ICLR 2018: remove the dominant
    * direction(s) before similarity search) and the scale-sane way to
    * get it: one pass builds the 64×64 second-moment matrix, then all
    * iterations run on that tiny matrix — the corpus is touched ONCE no
    * matter how many iterations.
    *
    * Exactness (the q148 fixed-point recipe, applied to linear
    * algebra): embeddings quantize to floor(x·1e6) longs; the Gram
    * accumulation Σ xᵢxⱼ sums as DECIMAL(38,0) (order-independent,
    * can't overflow at any corpus size — rule-18 shape) and normalizes
    * to Ĝ = floorDiv(G, n), whose entries are bounded by the embedding
    * scale alone (≈(1.4·10⁶)² worst case), independent of corpus size;
    * each iteration computes w = Ĝ·v in int64 (|v| ≤ 256, so |w| ≤
    * 64·|Ĝ|·256 < 2⁶³) and renormalizes v' = (256·w) intDiv max|w|.
    * Truncating division on both sides — DuckDB's `//` rounds toward
    * zero exactly like Spark's DIV (measured: -7 // 2 = -3). Every
    * step is integer arithmetic, so the DuckDB oracle replays all
    * iterations bit-for-bit.
    *
    * Scale shape: the Gram accumulation is a PER-PARTITION dense
    * outer-product pass (mapPartitions — algorithmically required, the
    * Misra–Gries pattern: the declarative alternative explodes every
    * row 4096×, which dies at 10⁹ vectors, while this ships 4096 longs
    * per partition); partial sums stay exact in int64 for partitions up
    * to ~4M rows at |x| ≤ 1.4 (maxPartitionBytes sizing keeps 100 TB
    * partitions well under that) and merge as DECIMAL(38,0) — integer
    * sums in any grouping are the same integer, so the result is
    * bit-identical to the naive formulation the oracle replays. Every
    * iteration thereafter is a 64-row join against the 4096-row Ĝ —
    * the driver never sees the corpus and the corpus never shuffles
    * (only the per-partition 4096-long partials do). */
  def dominantDirection(
      corpus: DataFrame, dim: Int = 64, iters: Int = 8): DataFrame = {
    import graft.operators.Layout.intDiv
    val spark = corpus.sparkSession
    import spark.implicits._
    val fp = corpus.select(transform(col("embedding"),
      x => floor(x.cast("double") * lit(1e6))).as("e"))
    val partials = fp.as[Seq[Long]].mapPartitions { it =>
      val acc = new Array[Long](dim * dim)
      var n = 0L
      it.foreach { e =>
        n += 1
        var i = 0
        while (i < dim) {
          val xi = e(i); val row = i * dim
          var j = 0
          while (j < dim) { acc(row + j) += xi * e(j); j += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty else Iterator((n, acc.toSeq))
    }.toDF("pn", "acc")
      .materializeOnce() // feeds the 4096-term merge AND the count
    val g = partials
      .select(posexplode(col("acc")).as(Seq("k", "p")))
      .groupBy(col("k")).agg(sum(col("p").cast("decimal(38,0)")).as("gsum"))
      .crossJoin(broadcast( // 1-row normalizer: the corpus count
        partials.agg(sum(col("pn")).cast("decimal(38,0)").as("n"))))
      .select(intDiv(col("k"), lit(dim.toLong)).cast("int").as("i"),
        pmod(col("k"), lit(dim)).cast("int").as("j"),
        intDiv(col("gsum"), col("n")).as("g"))
      .materializeOnce() // every iteration joins it
    val is = corpus.sparkSession.range(dim).select(col("id").cast("int").as("i"))
    var v = is.withColumn("v", lit(256L))
    // per iteration: ONE job — the 64-row w frame checkpoints with its
    // renormalizer max riding the same job as an Observation metric
    // (the CC fixpoint-probe pattern), and the rescale stays a lazy
    // projection over the checkpoint. The previous shape paid 3 jobs
    // per iteration (w checkpoint, separate max aggregate via a
    // broadcast build, rescaled checkpoint) — pure per-job overhead on
    // a 64-row state vector. The max is global, so branching on it
    // driver-side is the identical function.
    for (_ <- 1 to iters) {
      val (w, wm) = g.join(v, Seq("i"))
        .groupBy(col("j")).agg(sum(col("g") * col("v")).as("w"))
        .select(col("j").as("i"), col("w"))
        // linear chain, not an exponential re-plan
        .materializeOnce(max(abs(col("w"))).as("m"))
      val m = wm.long("m")
      v =
        if (m == 0L) w.select(col("i"), lit(0L).as("v"))
        else w.select(col("i"), intDiv(col("w") * lit(256L), lit(m)).as("v"))
    }
    v.select(col("i").cast("long").as("i"), col("v")).orderBy(col("i"))
  }

  /** Top-k vectors most ALIGNED with the dominant direction — the
    * diagnostic that pairs with dominantDirection in the
    * all-but-the-top recipe (vectors whose energy the top component
    * owns are the ones whose similarity scores it distorts).
    * alignment = (e·u)²/(e·e · u·u) ∈ [0,1], computed from exact
    * integer dot products (fixed-point e, 256-scale u) with three IEEE
    * double ops in fixed order — deterministic, so the oracle replays
    * ranking AND values.
    *
    * Scale shape: u is 64 longs collected once (the bounded-driver
    * contract of kCenterCoreset), scoring is one map over the corpus
    * with a TakeOrdered(k) — no shuffle beyond dominantDirection's own
    * partial-sum merge. */
  def topAligned(
      corpus: DataFrame, k: Int = 20, dim: Int = 64,
      iters: Int = 8): DataFrame = {
    val u = dominantDirection(corpus, dim, iters)
      .orderBy(col("i")).collect().map(_.getLong(1)) // 64 bounded rows
    val uu = u.map(x => x * x).sum
    val fp = corpus.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(1e6))).as("e"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val scored = fp.select(col("vec_id"),
      dot(col("e"), typedlit(u.toSeq)).as("du"),
      dot(col("e"), col("e")).as("ee"))
    scored.filter(col("ee") > 0L)
      .select(col("vec_id"),
        (col("du").cast("double") * col("du").cast("double") /
          (col("ee").cast("double") * lit(uu.toDouble))).as("align"))
      .orderBy(col("align").desc, col("vec_id")).limit(k)
  }

  /** Matryoshka prefix-dimension retrieval check (Kusupati et al.,
    * NeurIPS 2022: nested representations where a prefix of the
    * embedding is itself a usable embedding): exact top-k over the
    * first `prefixDim` dims vs exact top-k over the full vector,
    * overlap per query — the number that tells you whether a 4×
    * cheaper prefix index is safe for first-stage retrieval. Both
    * rankings are the proven s41 fold, so the whole comparison is
    * deterministic and oracle-replayable; queries with zero overlap
    * still appear (right join), because recall 0 is the finding.
    * Zero-norm prefixes (all signal past prefixDim) have undefined
    * cosine and are excluded from the prefix ranking — under ANSI mode
    * that's a hard divide-by-zero, not a quiet NaN; the query still
    * reports recall 0. */
  def prefixDimRecall(
      corpus: DataFrame, queries: DataFrame, k: Int = 10,
      prefixDim: Int = 16): DataFrame = {
    def cut(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDim).as("embedding"))
      .filter(dotFold(col("embedding"), col("embedding")) > 0.0)
    val full = bruteForceKnn(corpus, queries, k)
      .select(col("q_id"), col("vec_id"))
    val pre = bruteForceKnn(cut(corpus), cut(queries), k)
      .select(col("q_id"), col("vec_id"))
    full.join(pre, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
      .join(queries.select(col("vec_id").as("q_id")), Seq("q_id"), "right")
      .select(col("q_id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall",
        col("n_overlap").cast("double") / lit(k.toDouble))
      .orderBy(col("q_id"))
  }

  /** Semantic (embedding-space) benchmark decontamination — d45's
    * shingle-overlap check at the level modern eval suites actually
    * leak (paraphrases, translations, reformattings that share no
    * n-grams): per corpus vector, the maximum cosine against the
    * benchmark set and a flag at `threshold` — the "semantic dedup
    * against the test set" pass described for GPT-4/PaLM-class data
    * pipelines (e.g. Chowdhery et al., PaLM, JMLR 2023 §dataset
    * contamination). Nearest benchmark item breaks cosine ties by id
    * (a per-doc window bounded by |bench|, rule 23). The benchmark
    * side broadcasts (the s41 contract); one corpus scan, no shuffle
    * of the pool. */
  def semanticDecontam(emb: DataFrame, benchMaxId: Long = 5L,
      threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bench = emb.filter(col("vec_id") < benchMaxId)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        norm(col("embedding")).as("b_norm"))
    val scored = emb.filter(col("vec_id") >= benchMaxId)
      .withColumn("c_norm", norm(col("embedding")))
      .join(broadcast(bench), col("vec_id") =!= col("b_id"))
      .select(col("vec_id"), col("b_id"),
        cosinePre(col("b_emb"), col("embedding"),
          col("b_norm"), col("c_norm")).as("cos"))
    scored
      .withColumn("r", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("b_id"))))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("b_id").as("nearest_bench"),
        col("cos").as("max_cos"),
        (col("cos") >= threshold).as("flagged"))
      .orderBy(col("vec_id"))
  }

  /** The documented scale path of [[semanticDecontam]] (d73): the
    * dense |corpus|·|bench| cosine scan replaced by a multi-probe LSH
    * shortlist — each corpus vector pays exact cosines ONLY against
    * bench items whose sign-signature sits within Hamming 1 of its own
    * (the s42 multi-probe move with the roles flipped: the BENCH side
    * is the tiny one, so its signed buckets explode the nBits+1 probe
    * masks and broadcast). A vector with no shortlisted bench item is
    * unflagged with NULL nearest/max — the honest "nothing near"
    * readout. Approximate BY DESIGN: near-duplicates at contamination
    * cosines (≥ threshold ≈ 0.8+) collide with probability ≈ 1 under
    * one probe bit, which the 525k probe measures (planted-paraphrase
    * recall + speedup vs the dense pass); the d73 oracle replays the
    * shortlist itself, so the gate checks the mechanics exactly, and
    * DecontamParitySpec pins ANN ≡ dense on flagged sets.
    *
    * Scale shape: one signature map over the corpus (per-row), one
    * broadcast of |bench|·(nBits+1) probe rows, exact cosines only on
    * collisions, per-doc argmax window bounded by the shortlist. */
  def semanticDecontamAnn(emb: DataFrame, benchMaxId: Long = 5L,
      threshold: Double = 0.8, nBits: Int = 8, seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = hyperplanes(nBits, dim, seed)
    val masks = (0L +: (0 until nBits).map(i => 1L << i)).map(lit(_))
    val bench = emb.filter(col("vec_id") < benchMaxId)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        norm(col("embedding")).as("b_norm"),
        signature(col("embedding"), planes).as("b_sig"))
      .withColumn("mask", explode(array(masks: _*)))
      .withColumn("probe_sig", expr("b_sig ^ mask"))
    val corpus = emb.filter(col("vec_id") >= benchMaxId)
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("c_norm"),
        signature(col("embedding"), planes).as("sig"))
      .materializeOnce() // candidate join + the keep-all left join
    // one (corpus, bench) pair has ONE xor value, matched by at most
    // one mask — no duplicate candidates, no distinct needed
    val best = corpus
      .join(broadcast(bench), col("sig") === col("probe_sig") &&
        col("vec_id") =!= col("b_id"))
      .select(col("vec_id"), col("b_id"),
        cosinePre(col("b_emb"), col("embedding"),
          col("b_norm"), col("c_norm")).as("cos"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("b_id"))))
      .filter(col("r") === 1)
    corpus.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("b_id").as("nearest_bench"),
        col("cos").as("max_cos"),
        coalesce(col("cos") >= threshold, lit(false)).as("flagged"))
      .orderBy(col("vec_id"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, "Margin-based
    * parallel corpus mining with multilingual sentence embeddings",
    * ACL 2019 — the CCMatrix/LASER mining criterion): candidate pair
    * (x, y) scores cos(x, y) MINUS the mean cosine of each side's own
    * k-nearest neighborhood (the "distance" margin), which cancels the
    * hubness that makes raw-cosine mining drown in hub sentences; a
    * pair is mined iff each side is the other's best margin partner
    * (mutual argmax). Sides split deterministically by vec_id parity —
    * the stand-in for the two languages — and mining runs for a
    * bounded probe batch against the full opposite pool, exactly how
    * production miners batch (CCMatrix mines in shards).
    *
    * Exactness (rule 17): neighborhood means sum FLOOR-SCALED cosines
    * (floor(cos·1e12), int64) so the k-term sum is order-free integer
    * arithmetic; the margin is then one fixed shape of double ops over
    * exactly-agreed values, mirrored textually by the s65 oracle. Ties
    * break by partner id.
    *
    * Scale shape: the probe side broadcasts (the s41 contract — the
    * pool is never shuffled); per-side argmax/top-k windows partition
    * by a side id (rule 23 satisfied); the scored frame and the margin
    * frame each feed multiple consumers across materialize cuts (rule
    * 5). At 100 TB the dense `scored` frame is replaced by an LSH/IVF
    * shortlist (s42/s43) feeding the SAME margin scorer — the criterion
    * only ever reads (x, y, cos) candidate triples. */
  def bitextMine(emb: DataFrame, nProbe: Int = 10, k: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = emb
      .filter(col("vec_id") < 2L * nProbe && pmod(col("vec_id"), lit(2L)) === 0)
      .select(col("vec_id").as("x_id"), col("embedding").as("x_emb"),
        norm(col("embedding")).as("x_norm"))
    val y = emb.filter(pmod(col("vec_id"), lit(2L)) === 1)
      .select(col("vec_id").as("y_id"), col("embedding").as("y_emb"),
        norm(col("embedding")).as("y_norm"))
    val scored = y.join(broadcast(x), col("y_id") =!= col("x_id"))
      .select(col("x_id"), col("y_id"),
        cosinePre(col("x_emb"), col("y_emb"),
          col("x_norm"), col("y_norm")).as("cos"))
      .withColumn("c12", floor(col("cos") * lit(1e12)).cast("long"))
      .materializeOnce() // feeds both neighborhood aggs AND the pairs
    val kx = scored
      .withColumn("r", row_number().over(
        Window.partitionBy("x_id").orderBy(col("cos").desc, col("y_id"))))
      .filter(col("r") <= k).groupBy("x_id")
      .agg(sum("c12").as("sx"), count(lit(1)).as("nx"))
    val ky = scored
      .withColumn("r", row_number().over(
        Window.partitionBy("y_id").orderBy(col("cos").desc, col("x_id"))))
      .filter(col("r") <= k).groupBy("y_id")
      .agg(sum("c12").as("sy"), count(lit(1)).as("ny"))
    val marg = scored.join(kx, Seq("x_id")).join(ky, Seq("y_id"))
      .select(col("x_id"), col("y_id"), col("cos"),
        (col("cos") - lit(0.5) *
          (col("sx").cast("double") / (col("nx").cast("double") * lit(1e12))
            + col("sy").cast("double") / (col("ny").cast("double") * lit(1e12))))
          .as("margin"))
      .materializeOnce() // feeds both argmax sides
    val bx = marg.withColumn("rb", row_number().over(
        Window.partitionBy("x_id").orderBy(col("margin").desc, col("y_id"))))
      .filter(col("rb") === 1)
      .select(col("x_id"), col("y_id"), col("cos"), col("margin"))
    val by = marg.withColumn("rb", row_number().over(
        Window.partitionBy("y_id").orderBy(col("margin").desc, col("x_id"))))
      .filter(col("rb") === 1)
      .select(col("x_id"), col("y_id"))
    bx.join(by, Seq("x_id", "y_id"))
      .select(col("x_id"), col("y_id"), col("cos"), col("margin"))
      .orderBy(col("x_id"))
  }
}
