package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tools.PlanInspect

/** The skew-path proof (round-7 directive 1).
  *
  * Every gate corpus sits under the LSH bucket cap, so capBuckets'
  * overfull branches had only ever executed in unit isolation — the
  * hybrid design's skew story ("safe at sf0.01 and at 100 TB",
  * ARCHITECTURE §18) was designed but unproven on data. This suite
  * plants a corpus with a genuinely degenerate bucket — a 60-word
  * boilerplate block shared by 400 of 470 docs, the web-scale
  * "same footer on half the crawl" shape — plus 10 planted near-dup
  * pairs made of distinctive text, and proves on data that:
  *
  *   1. the cap executes INSIDE the consumer's plan as a broadcast
  *      anti-join against the overfull-key list (no eager builder-time
  *      probe job — the r15 lazy capBuckets shape);
  *   2. capping genuinely drops the degenerate buckets (candidate set
  *      shrinks by the ~80k boilerplate pairs) yet planted-pair recall
  *      stays 100%: the capped candidates→verify output still equals
  *      the brute-force df-capped exact-Jaccard pair set, the same
  *      RecallCheck contract that validates the d38/d44 oracles.
  *
  * Boilerplate docs are NOT near-dups under the operator's semantics:
  * their shared shingles exceed the df cap (df=400 > maxDf), so both
  * the verify stage and the brute-force witness score them ~0 — the
  * MMDS stop-shingle argument, which is exactly why dropping overfull
  * buckets is recall-safe.
  *
  * Everything is deterministic (fixed corpus, seeded xxhash64 draws),
  * so these are exact assertions, not statistical ones.
  */
class SkewedCorpusSpec extends SparkSpec {

  private val cap = 64
  private val threshold = 0.5
  private val maxDf = 100

  /** 400 boilerplate-dominated docs (58 shared shingles + 3 unique
    * words), 10 planted near-dup pairs (28 of 29 shingles shared,
    * J = 28/30), 50 unique background docs. */
  private lazy val corpus: DataFrame = {
    val boiler = (0 until 60).map(i => s"boil$i").mkString(" ")
    val boilerDocs = (0 until 400).map { i =>
      (1000L + i, s"$boiler tail${i}a tail${i}b tail${i}c")
    }
    val plantedDocs = (0 until 10).flatMap { p =>
      val shared = (0 until 30).map(w => s"pair${p}w$w").mkString(" ")
      Seq((2000L + 2 * p, s"$shared endalpha$p"),
        (2001L + 2 * p, s"$shared endbeta$p"))
    }
    val background = (0 until 50).map { i =>
      (3000L + i, (0 until 30).map(w => s"bg${i}w$w").mkString(" "))
    }
    import spark.implicits._
    (boilerDocs ++ plantedDocs ++ background).toDF("doc_id", "text")
      .repartition(4)
  }

  private lazy val plantedPairs: Set[(Long, Long)] =
    (0 until 10).map(p => (2000L + 2 * p, 2001L + 2 * p)).toSet

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def candidatesDf(maxBucket: Int): DataFrame = {
    val sigs = Dedup.minhashSignatures(corpus).localCheckpoint()
    Dedup.candidatesFromSignatures(sigs, k = 16, bands = 4,
      maxBucket = maxBucket)
  }

  private def candidates(maxBucket: Int): Set[(Long, Long)] =
    pairSet(candidatesDf(maxBucket))

  test("cap runs in-plan as a broadcast anti-join; it drops the degenerate " +
    "buckets; planted pairs survive") {
    // uncapped baseline: the boilerplate band buckets (~300+ docs each)
    // flood the candidate set with ~80k boilerplate pairs
    val uncapped = candidates(maxBucket = Dedup.defaultMaxBucket)
    assert(plantedPairs.subsetOf(uncapped))

    // capped run: collect() on the SAME QueryExecution so it carries
    // the final AQE plan (rule 8), then assert the cap's shape — the
    // overfull-key list enters as a broadcast LeftAnti join inside the
    // query, not as a builder-time probe job
    val cappedDf = candidatesDf(maxBucket = cap)
    val capped = cappedDf.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val plan = cappedDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("LeftAnti"),
      s"capped candidate plan lost the overfull-key anti-join:\n$plan")
    // both sides of the bucket self-join read the cap's anti-join; on the
    // final AQE plan (rule 8) the overfull-key list is built by ONE
    // BroadcastExchange and the other side reuses it
    val builds = PlanInspect.withAncestors(cappedDf.queryExecution.executedPlan)
      .collect { case (x @ (_: BroadcastExchangeExec | _: ReusedExchangeExec), up)
        if up.collectFirst { case j: BroadcastHashJoinExec => j.joinType }
          .contains(LeftAnti) => x }
    assert(builds.size === 2 &&
      builds.count(_.isInstanceOf[BroadcastExchangeExec]) === 1,
      s"overfull-key list not built once and reused: ${builds.map(_.nodeName)}")
    assert(plantedPairs.subsetOf(capped),
      "cap dropped a planted near-dup pair — recall broken")
    assert(capped.size < uncapped.size,
      "cap was a no-op: the degenerate buckets were not dropped")
    // everything the cap dropped is boilerplate-x-boilerplate noise
    val dropped = uncapped -- capped
    assert(dropped.nonEmpty && dropped.forall { case (a, b) =>
      a >= 1000L && a < 2000L && b >= 1000L && b < 2000L },
      "cap dropped a non-boilerplate candidate")
  }

  test("capped candidates→verify still equals brute force (RecallCheck contract)") {
    def asMap(df: DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = asMap(Dedup.minhashVerifiedPairs(corpus,
      threshold = threshold, maxDf = maxDf, maxBucket = cap))
    val exact = asMap(Dedup.ngramJaccardPairs(corpus,
      threshold = threshold, maxDf = maxDf))
    assert(exact.keySet === plantedPairs,
      "fixture ground truth drifted: brute force should find exactly the " +
        s"10 planted pairs, got ${exact.keySet}")
    assert(capped === exact,
      "capped LSH pipeline diverged from the brute-force witness — " +
        "the overfull-bucket drop cost recall or drifted a Jaccard value")

    // and the capped pipeline clusters the planted pairs correctly end
    // to end (the d44 shape over a skewed corpus)
    val comps = Dedup.connectedComponents(
      Dedup.minhashVerifiedPairs(corpus, threshold = threshold,
        maxDf = maxDf, maxBucket = cap).select(col("id_a"), col("id_b")))
    val byComp = comps.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(byComp === plantedPairs.map(p => Set(p._1, p._2)),
      "connected components over the capped pairs are not the 10 planted 2-clusters")
  }
}
