package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.Tables.load(spark, sf0001, "documents")

  /** tiny corpus with one exact dup, one near-dup, and distinct docs */
  private lazy val planted = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3L, "completely different words about spark catalyst optimizer and shuffle plans"),
    (4L, "another unrelated document mentioning parquet files and column pruning only")
  ).toDF("doc_id", "text")

  test("exactGroups collapses byte-identical documents") {
    val fp = graft.functions.TextFunctions.fingerprint(col("text"))
    val groups = Dedup.exactGroups(planted, fp).collect()
    assert(groups.length === 4) // 0 and 1 merge
    val dupGroup = groups.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) === 0L) // keeps min doc_id
  }

  test("minhashPairs finds planted near-dup and skips unrelated docs") {
    val pairs = Dedup.minhashPairs(planted, threshold = 0.4, k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup certainly
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near-dup
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L && p._1 == 3L))
  }

  test("minhash est_jaccard is 1.0 for identical documents") {
    val r = Dedup.minhashPairs(planted, threshold = 0.4).collect()
      .find(x => x.getLong(0) == 0L && x.getLong(1) == 1L).get
    assert(r.getDouble(2) === 1.0)
  }

  test("simhashPairs: identical docs at hamming 0, unrelated far apart") {
    val pairs = Dedup.simhashPairs(planted, maxHamming = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs(( 0L, 1L)) === 0L)
    assert(!pairs.contains((3L, 4L)))
  }

  test("simhashPairs drops overfull band buckets (skew guard)") {
    // cap=1: every bucket that could yield a candidate has >= 2 members,
    // so ALL buckets are dropped and no pairs survive — the quadratic
    // blowup a boilerplate band would cause is bounded by construction
    val pairs = Dedup.simhashPairs(planted, maxHamming = 8, maxBucket = 1)
    assert(pairs.count() === 0)
    // a cap that never bites leaves the pair set unchanged
    val capped = Dedup.simhashPairs(planted, maxHamming = 3, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = Dedup.simhashPairs(planted, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === default)
  }

  test("incrementalDedup drops batch dups of corpus and earlier batch docs") {
    import spark.implicits._
    // 0,1 corpus; 2,3,4 batch: 2 copies corpus 0, 4 copies batch 3
    // (exact copies: jaccard 1.0 ⇒ every LSH band matches, so candidate
    // generation is guaranteed and the test pins only the keep/reason
    // logic, not LSH recall at threshold)
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "unrelated corpus text about something else entirely here now"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(docs, col("doc_id") >= 2,
      threshold = 0.5, maxDf = 100)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(out.keySet === Set(2L, 3L, 4L)) // corpus docs never judged
    assert(out(2L) === ((false, "corpus_dup")))
    assert(out(3L) === ((true, "unique")))
    assert(out(4L) === ((false, "batch_dup")))
  }

  test("ngramJaccardPairs computes exact jaccard on planted docs") {
    val pairs = Dedup.ngramJaccardPairs(planted, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs((0L, 2L)) > 0.6 && pairs((0L, 2L)) < 1.0)
  }

  test("minhash LSH on the real corpus finds the exact-jaccard pair set") {
    val lsh = Dedup.minhashPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(lsh) || lsh == exact,
      s"LSH missed pairs: ${exact -- lsh}")
  }

  test("contaminationCheck: full overlap for a copy, zero for disjoint text") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"), // bench
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy
      (2L, "iota kappa lambda mu nu xi omicron pi rho sigma") // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationCheck(corpus, benchIds = Seq(0L))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._2 === 1.0) // every shingle of the copy is contaminated
    assert(out(2L) === ((0L, 0.0))) // disjoint text: zero overlap
    assert(!out.contains(0L)) // bench docs are excluded from the report
  }

  test("connectedComponents collapses transitive chains to the min id") {
    // chain 0-1-2-3 (no shortcut edges) + separate pair 10-11
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents matches union-find on seeded random graphs") {
    // deterministic pseudo-random graphs of varying density, checked
    // against a driver-side union-find reference — guards the loop's
    // seed fusion / double-step / fixpoint-probe interplay on shapes
    // (long chains, hubs, isolated pairs) the hand-written cases miss
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val density = trial * 25
      val pairs = (for {
        _ <- 0 until density
        a = rng.nextInt(n).toLong
        b = rng.nextInt(n).toLong
        if a != b
      } yield (math.min(a, b), math.max(a, b))).distinct
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"trial=$trial density=$density")
    }
  }

  test("candidates→verify minhash equals the brute-force pair set, with exact values") {
    val verified = Dedup.minhashVerifiedPairs(docs, threshold = 0.5, maxDf = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5, maxDf = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty)
    assert(verified === exact) // same pairs AND same exact jaccard values
  }

  test("duplicatedSpanStats marks copied and self-repeating text, not unique text") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog today"), // exact copy
      (2L, "x y z x y z x y z"), // every 3-window repeats WITHIN the doc
      (3L, "completely different words about catalyst optimizer plans")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanStats(corpus, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(out(0L) === ((8L, 1.0))) // 10 tokens -> 8 windows, all in doc 1 too
    assert(out(1L)._2 === 1.0)
    // multiplicity: doc 2's 7 positional windows are 3 distinct strings,
    // each occurring >1 times -> every OCCURRENCE counts as duplicated
    assert(out(2L) === ((7L, 1.0)))
    assert(out(3L)._2 === 0.0) // unique text: nothing repeats anywhere
  }

  test("removeDuplicatedSpans cuts shared runs, keeps the unique frame") {
    val corpus = Seq(
      (0L, "one two three four five six seven"), // fully unique
      (1L, "alpha beta gamma delta epsilon zeta"), // a run doc 2 embeds
      (2L, "start words alpha beta gamma delta epsilon zeta end words"),
      (3L, "x y z x y z x y z") // self-repeating boilerplate
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(out(0L) === (("one two three four five six seven", 0L)))
    assert(out(1L) === (("", 6L))) // every window recurs in doc 2
    // doc 2: the embedded run's overlapping windows merge into ONE
    // removed span [2,8); the unique frame around it survives
    assert(out(2L) === (("start words end words", 6L)))
    assert(out(3L)._1 === "") // within-doc repeats count as duplicates
  }

  test("noveltyScores credits first occurrence by doc_id order") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"), // adds nothing
      (2L, "alpha beta gamma NEW words here") // partially novel
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(corpus, n = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(0L) === 1.0) // first doc: every shingle is new
    assert(out(1L) === 0.0) // exact copy of an earlier doc: nothing new
    assert(out(2L) > 0.0 && out(2L) < 1.0)
  }

  test("set-simhash ignores repetition where occurrence-simhash is dominated by it") {
    import org.apache.spark.sql.Row
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha alpha alpha alpha alpha alpha alpha beta gamma"), // same SET
      (2L, "alpha beta gamma") // identical to 0
    ).toDF("doc_id", "text")
    def fp(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map { case Row(id: Long, h: Long) => id -> h }.toMap
    val set = fp(Dedup.simhashSet(docs))
    val occ = fp(Dedup.simhash(docs))
    assert(set(0L) === set(2L) && occ(0L) === occ(2L)) // identical docs
    // the discriminating case: same vocabulary, wildly different tf —
    // the set fingerprint is identical, the occurrence one is not
    // (alpha's 7 votes drag every one of its bits positive)
    assert(set(0L) === set(1L))
    assert(occ(0L) !== occ(1L))
  }

  test("simhash verified pairs are a subset of brute force with exact values") {
    val verified = Dedup.simhashVerifiedPairs(docs, maxHamming = 8, maxDf = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.5, maxDf = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified.keySet.subsetOf(exact.keySet))
    verified.foreach { case (k, v) => assert(v === exact(k)) }
  }

  test("triangleCensus: triangle + pendant chain, hand-checked") {
    import spark.implicits._
    // triangle 1-2-3 plus chain edge 3-4:
    // edges=4, wedges: deg(1,2,3,4)=(2,2,3,1) → 1+1+3+0 = 5,
    // triangles=1, closure = 3/5
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val r = Dedup.triangleCensus(pairs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 4L, 5L, 1L)))
    assert(r.getDouble(4) === 0.6)
  }

  test("triangleCensus: triangle-free graph reports zero closure") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.triangleCensus(path).collect().head
    assert(r.getLong(3) === 0L)
    assert(r.getDouble(4) === 0.0)
  }

  test("pageRank: hand-computed integer updates on a star graph") {
    import spark.implicits._
    // star 1-{2,3,4}: deg(1)=3, leaves deg 1; scale 1e9, teleport 15e7.
    // it1: pr(1) = 15e7 + 85·(3·1e9) DIV 100 = 2,700,000,000
    //      pr(leaf) = 15e7 + 85·(1e9 DIV 3) DIV 100 = 433,333,333
    // it2: pr(1) = 15e7 + 85·(3·433,333,333) DIV 100 = 1,254,999,999
    //      pr(leaf) = 15e7 + 85·(2,700,000,000 DIV 3) DIV 100 = 915,000,000
    // it3: pr(1) = 15e7 + 85·(3·915,000,000) DIV 100 = 2,483,250,000
    //      pr(leaf) = 15e7 + 85·(1,254,999,999 DIV 3) DIV 100 = 505,583,333
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val pr = Dedup.pageRank(star, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(1L) === 2483250000L)
    assert(pr(2L) === 505583333L && pr(3L) === 505583333L &&
      pr(4L) === 505583333L)
  }

  test("bloomDecontaminate equals the exact check's contaminated subset") {
    val bench = Seq(0L, 1L, 2L, 3L, 4L)
    val exact = Dedup.contaminationCheck(docs, bench)
      .filter(col("n_overlap") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBloom = Dedup.bloomDecontaminate(docs, bench)
    val got = viaBloom.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exact) // bloom phase is performance-only: no fn, fp verified away
    assert(got.nonEmpty)
    // (the native might_contain probe is plan-asserted in
    // RuntimeFilterSpec; here the candidate stage sits behind the
    // overlap checkpoint, so the final plan no longer shows it)
  }

  test("sourceOverlap: distinct-shingle jaccard per source pair") {
    // A = {"a b c","b c d","a b"} (sz 3: doc 1 is sub-3-token → one
    // partial shingle), B = {"b c d","c d e"} (sz 2), C = {"x y z"}.
    // A∩B = {"b c d"} → jaccard 1/(3+2-1) = 0.25; C overlaps nothing.
    val corpus = Seq(
      (0L, "a b c d", "A"), (1L, "a b", "A"),
      (2L, "b c d e", "B"), (3L, "x y z", "C")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.sourceOverlap(corpus).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toList
    assert(rows === List(("A", "B", 3L, 2L, 1L, 0.25)))
  }

  test("pageRank is deterministic and ranks the hub first") {
    import spark.implicits._
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (5L, 6L))
      .toDF("id_a", "id_b")
    val a = Dedup.pageRank(g).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Dedup.pageRank(g).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq)
    assert(a.head._1 === 1L) // the degree-3 hub carries the most rank
  }

  test("mergeIncrementalClusters: bridges old clusters, keeps untouched singletons") {
    import spark.implicits._
    // prior run: {1,2} labeled 1, {10,11} labeled 10, singleton 50.
    // Today's pair (2,10) must MERGE the two old clusters under the
    // global min label 1; 50 must survive untouched as its own cluster.
    val prior = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L), (50L, 50L))
      .toDF("doc_id", "cluster_id")
    val newPairs = Seq((2L, 10L)).toDF("id_a", "id_b")
    val out = Dedup.mergeIncrementalClusters(prior, newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq === Seq((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L),
      (50L, 50L)))
    // equivalence theorem on the same graph: full recompute over the
    // original pairs + the new pair gives the identical assignment
    val full = Dedup.connectedComponents(
      Seq((1L, 2L), (10L, 11L), (2L, 10L)).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.filter(_._1 != 50L).toSeq === full.toSeq)
  }

  test("entity resolution: typo variants collapse to one canonical record") {
    import spark.implicits._
    // "Acme Corp" + two typo variants chain into one cluster; the
    // unrelated name stays out (it would otherwise be a 4th member)
    val sup = Seq(
      (10L, "Acme Corporation"), (11L, "Acme Corporatian"),
      (12L, "Acme Corporation!"), (50L, "Zenith Industrial")
    ).toDF("s_suppkey", "s_name")
    val pairs = StringSim.editDistanceJoin(
      sup, "s_suppkey", "s_name", maxDist = 2, q = 3, maxDf = 20)
      .select(col("id_a"), col("id_b"))
    val gold = Dedup.connectedComponents(pairs)
      .groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_members")).collect()
    assert(gold.length === 1, gold.toSeq)
    assert(gold.head.getLong(1) === 10L) // canonical = min key
    assert(gold.head.getLong(2) === 3L)  // all three variants, not Zenith
  }

  test("sortedNeighborhoodPairs: window finds neighbors, shifted pass heals boundaries") {
    import spark.implicits._
    // width=32 buckets cut at n_chars 32: docs 31/33 are near-dups that
    // straddle the pass-0 boundary — only the half-shifted pass pairs
    // them. Docs 10/11 share a bucket in pass 0. Doc 500 is an exact
    // near-dup of doc 10 but 470 key-units away — SNM must NOT see it
    // (that's the documented blocking trade-off, LSH's job otherwise).
    def doc(id: Long, nc: Long, text: String) = (id, nc, text)
    val docs = Seq(
      doc(10L, 10L, "alpha beta gamma delta epsilon"),
      doc(11L, 11L, "alpha beta gamma delta zeta"),
      doc(31L, 31L, "one two three four five six"),
      doc(33L, 33L, "one two three four five seven"),
      doc(500L, 480L, "alpha beta gamma delta epsilon"),
      doc(90L, 90L, "totally different content here")
    ).toDF("doc_id", "n_chars", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((10L, 11L)), got)  // in-bucket window pair
    assert(got.contains((31L, 33L)), got)  // found ONLY by the shifted pass
    assert(!got.exists(p => p._1 == 10L && p._2 == 500L), got) // out of reach
    // determinism
    val again = Dedup.sortedNeighborhoodPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === again)
  }

  test("kCore(2): cliques survive the peel, chains dissolve completely") {
    import spark.implicits._
    // clique {1,2,3} ∪ tail 3-4 ∪ disjoint path 10-11-12-13
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("id_a", "id_b")
    val out = Dedup.kCore(pairs, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be exactly the triangle: $out")
    // the peel takes 3 rounds: alive nodes 8 → 5 (ends) → 3 (middles),
    // then stable — so 2 rounds end off fixpoint and 3 reach it
    val e = intercept[IllegalStateException](Dedup.kCore(pairs, k = 2, maxRounds = 2))
    assert(e.getMessage.startsWith("kCore did not converge in 2 rounds"), e.getMessage)
    assert(Dedup.kCore(pairs, k = 2, maxRounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap === out)
  }

  test("kCore(3): a 4-clique survives k=3 with full degrees, k=4 empties it") {
    import spark.implicits._
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val pairs = (k4 :+ ((4L, 5L))).toDF("id_a", "id_b")
    val core3 = Dedup.kCore(pairs, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core3)
    assert(Dedup.kCore(pairs, k = 4).count() === 0L,
      "no 4-core exists in a 4-clique")
  }

  test("kTruss: cliques survive, triangles and bridges peel at k=4; throws off fixpoint") {
    import spark.implicits._
    // 5-clique {0..4} ∪ disjoint triangle {10,11,12} ∪ bridge 4–10
    val clique = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val pairs = (clique ++ Seq((10L, 11L), (11L, 12L), (10L, 12L),
      (4L, 10L))).toDF("id_a", "id_b")
    // k=4 (support >= 2): only the 5-clique survives, every edge in
    // exactly 3 triangles
    val t4 = Dedup.kTruss(pairs, k = 4, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t4.toSeq === clique.map { case (a, b) => (a, b, 3L) },
      s"4-truss must be the 5-clique: ${t4.toSeq}")
    // k=3 (support >= 1): clique AND triangle survive; the bridge (in
    // no triangle) peels
    val t3 = Dedup.kTruss(pairs, k = 3, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3 === (clique.toSet ++ Set((10L, 11L), (10L, 12L), (11L, 12L))))
    // a replay cap short of the fixpoint must throw, never truncate
    val tri = Seq((10L, 11L), (11L, 12L), (10L, 12L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.kTruss(tri, k = 4, rounds = 0).collect()
    }
    // ...and with one round the same graph settles to empty
    assert(Dedup.kTruss(tri, k = 4, rounds = 1).count() === 0L)
  }

  test("winnowingPairs: a shared run of w+k-1 tokens guarantees a shared fingerprint") {
    import spark.implicits._
    // docs 1/2 share a 6-token run (= winnowW + winnowK - 1) embedded in
    // otherwise-disjoint text; doc 3 shares nothing. The winnowing
    // guarantee: ANY shared run of that length yields ≥1 common
    // fingerprint — with minShared = 1 the (1,2) pair MUST appear and no
    // pair with 3 may.
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $shared four five six seven eight nine"),
      (2L, s"red green blue $shared yellow purple orange pink brown teal"),
      (3L, "completely different words with no overlap at all here okay")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs, minShared = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs)
  }

  test("winnowingPairs: the shared-run GUARANTEE holds under either hash") {
    // winnowing's sampling is hash-DEPENDENT (which k-gram wins a
    // window's min depends on the hash), so the incidental pair sets of
    // the two modes legitimately differ — but the guarantee is not
    // hash-shaped: a shared ≥ w+k−1 run yields a common fingerprint
    // under ANY hash, because the run contains a full common window and
    // both docs take the same minimum over it. Assert the planted pair
    // under both modes.
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $shared four five six seven eight nine"),
      (2L, s"red green blue $shared yellow purple orange pink brown teal")
    ).toDF("doc_id", "text")
    Seq(false, true).foreach { oh =>
      val pairs = Dedup.winnowingPairs(docs, minShared = 1L, oracleHash = oh)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"oracleHash=$oh missed the planted pair")
    }
  }

  test("winnowing fingerprints are ~2/(w+1) sparse vs exhaustive windows") {
    // the point of winnowing over d49: it fingerprints a FRACTION of
    // positions. On the gate corpus the distinct-fingerprint count per
    // doc must be well under the window count (density bound with slack
    // for distinct-collapse).
    val docs = graft.Tables.load(spark, sf0001, "documents")
    import org.apache.spark.sql.functions._
    val toks = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .select(sum(greatest(size(col("t")) - 2, lit(0))).as("n_kgrams"))
      .head().getLong(0)
    val nFp = Dedup.winnowingFingerprints(docs).count()
    assert(nFp * 2 < toks, s"fingerprints not sparse: $nFp of $toks k-grams")
  }

  test("labelPropagation: two bridged cliques become two communities (one CC)") {
    import spark.implicits._
    // 4-cliques {1..4} and {11..14} joined by one bridge edge 4-11:
    // reachability sees ONE component, but the mode update converges to
    // label 1 on the left clique and 11 on the right (hand-traced: the
    // bridge's single vote never outweighs a clique's 3)
    val cliqueA = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cliqueB = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val pairs = (cliqueA ++ cliqueB :+ ((4L, 11L))).toDF("id_a", "id_b")
    val lpa = Dedup.labelPropagation(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpa === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L, 14L -> 11L), lpa)
    val cc = Dedup.connectedComponents(pairs)
      .select("cluster_id").distinct().count()
    assert(cc === 1L, "the same graph must be ONE connected component")
  }

  test("labelPropagation is deterministic across runs") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L)).toDF("id_a", "id_b")
    val a = Dedup.labelPropagation(g).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Dedup.labelPropagation(g).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("bfsHops: multi-source min-relaxation on a path, hop budget respected") {
    import spark.implicits._
    // path 0-1-2-3-4-5-6-10 with seeds {0, 10} (ids ≡ 0 mod 10):
    // distances relax from BOTH ends; min wins where fronts meet, and
    // nothing beyond `rounds` hops is reported
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 10L)).toDF("id_a", "id_b")
    val out = Dedup.bfsHops(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(0L -> 0L, 10L -> 0L, 1L -> 1L, 6L -> 1L,
      2L -> 2L, 5L -> 2L, 3L -> 3L, 4L -> 3L), out)
  }

  test("trustRank: trust decays from seeds; unreachable components score 0") {
    import spark.implicits._
    // path 0-1-2 with seed {0} (≡0 mod 10), plus a disjoint seedless
    // pair 5-6: trust must decay along the path and the pair must end
    // at exactly 0 however densely it links
    val g = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.trustRank(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // every seed-reachable node carries trust; among the two degree-1
    // ENDPOINTS the seed beats the 2-hop node (the middle node's degree-2
    // in-flow legitimately exceeds both — rank is not a pure distance)
    assert(out(0L) > 0L && out(1L) > 0L && out(2L) > 0L, out)
    assert(out(0L) > out(2L), out)
    assert(out(5L) === 0L && out(6L) === 0L, out)
    // pageRank on the same graph gives the seedless pair POSITIVE rank —
    // the property trustRank exists to change
    val pr = Dedup.pageRank(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pr(5L) > 0L)
  }

  test("hits: the most-copied original is the top authority; its copies are hubs") {
    import spark.implicits._
    // original 0 copied by 1,2,3; originals 10,11 each copied once by 12
    // (12 duplicates TWO distinct originals). Citation orientation
    // (copy→original): auth(0) must dominate auth(10)/auth(11); hubs
    // reward citing STRONG authorities — 1 (citing the top authority)
    // maxes out, while 12's two weak originals still earn positive hub
    // mass (the mutual-reinforcement shape, hand-checkable).
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 12L), (11L, 12L))
      .toDF("id_a", "id_b")
    val out = Dedup.hits(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L)._2 === Dedup.hitsScale, out) // top authority at max
    assert(out(0L)._2 > out(10L)._2 && out(0L)._2 > out(11L)._2, out)
    assert(out(1L)._1 === Dedup.hitsScale, out) // cites the top authority
    assert(out(12L)._1 > 0L && out(12L)._1 < out(1L)._1, out)
    // originals never point anywhere → hub 0; leaf copies are cited by
    // nobody → auth 0
    assert(out(0L)._1 === 0L && out(1L)._2 === 0L, out)
  }

  test("assortativity: star graph is perfectly disassortative (r = -1)") {
    import spark.implicits._
    // star 1-{2,3,4}: stubs m2=6; hub stubs carry (x,y)=(3,1)×3, leaf
    // stubs (1,3)×3 → Σx=12, Σxy=18, Σx²=30;
    // r = (6·18−144)/(6·30−144) = −36/36 = −1.
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.assortativity(star).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 12L, 18L, 30L)))
    assert(r.getDouble(4) === -1.0)
  }

  test("prefixJaccardJoin: hand-checked pair with exact counts") {
    import spark.implicits._
    // doc1/doc2 share 3 of their 4 shingles (J = 3/5 = 0.6 >= 0.5);
    // doc3 is disjoint.
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val out = Dedup.prefixJaccardJoin(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((1L, 2L, 3L, 4L, 4L)))
    assert(r.getDouble(5) === 0.6)
  }

  test("prefixJaccardJoin: identical docs collide on a 1-shingle prefix") {
    import spark.implicits._
    // J = 1 → prefix length collapses to sz − sz + 1 = 1; the theorem
    // still guarantees the single rarest shingle is shared.
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val out = Dedup.prefixJaccardJoin(docs).collect()
    assert(out.length === 1)
    assert(out.head.getDouble(5) === 1.0)
  }

  test("prefixJaccardJoin is lossless: equals the uncapped brute force") {
    import spark.implicits._
    // deterministic corpus with overlapping vocab + planted near-dups
    val base = (0 until 40).map { i =>
      val toks = (0 until 8).map(j => s"w${(i * 7 + j * j) % 23}")
      (i.toLong, toks.mkString(" "))
    }
    val dups = (0 until 6).map { k =>
      val (_, t) = base(k * 5)
      (100L + k, t.replaceFirst("\\w+$", "zz"))
    }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val fast = Dedup.prefixJaccardJoin(docs)
      .select("id_a", "id_b", "inter", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val brute = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5,
        maxDf = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast.nonEmpty, "corpus must contain near-dup pairs")
    assert(fast.map(t => (t._1, t._2, t._4)) === brute)
  }

  test("prefixJaccardJoin: exploded fallback (maxArraySz) is row-identical " +
      "to the array-set path") {
    import spark.implicits._
    // two length classes so a finite bound genuinely splits the corpus:
    // docs < 20 have 8 tokens (6 shingles), docs >= 20 have 12 (10)
    val base = (0 until 40).map { i =>
      val len = if (i < 20) 8 else 12
      val toks = (0 until len).map(j => s"w${(i * 7 + j * j) % 23}")
      (i.toLong, toks.mkString(" "))
    }
    val dups = (0 until 6).map { k =>
      val (_, t) = base(k * 7) // k*7 spans both length classes
      (100L + k, t.replaceFirst("\\w+$", "zz"))
    }
    val docs = (base ++ dups).toDF("doc_id", "text")
    // (rows, the verification shape read off the returned frame's plan)
    def rows(maxArraySz: Long) = {
      val out = Dedup.prefixJaccardJoin(docs, maxArraySz = maxArraySz)
      (out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSeq, Dedup.verifyShape(out))
    }
    val (arrayPath, arrayShape) = rows(Dedup.maxArrayDocShingles) // every doc small
    assert(arrayShape === "array")
    val (explodedPath, explodedShape) = rows(1L) // every pair falls back
    assert(explodedShape === "hybrid")
    assert(arrayPath.nonEmpty, "corpus must contain near-dup pairs")
    assert(arrayPath === explodedPath)
    // mixed: only the 10-shingle docs exceed the bound — both arms run
    val (mixed, mixedShape) = rows(8L)
    assert(mixedShape === "hybrid")
    assert(mixed === arrayPath)
  }

  test("verifyFromShingles: exploded fallback (maxArraySz) is row-identical " +
      "to the array-set path") {
    val sh = graft.operators.Dedup.shingleHashTable(planted, 3)
      .localCheckpoint()
    import spark.implicits._
    val cands = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    // (rows, the verification shape read off the returned frame's plan)
    def rows(maxArraySz: Long) = {
      val out = Dedup.verifyFromShingles(sh, cands, 0.4, 100, maxArraySz = maxArraySz)
      (out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
        Dedup.verifyShape(out))
    }
    val (arrayPath, arrayShape) = rows(Dedup.maxArrayDocShingles)
    assert(arrayShape === "array")
    val (explodedPath, explodedShape) = rows(1L)
    assert(explodedShape === "hybrid")
    assert(arrayPath.nonEmpty)
    assert(arrayPath === explodedPath)
    // mixed split: docs 0-2 have 12 shingles (big at bound 10), docs
    // 3-4 have 8 (small) — both arms run and union
    assert(rows(10L) === ((arrayPath, "hybrid")))
  }

  test("containmentPairs: asymmetric threshold keeps only the contained side") {
    import spark.implicits._
    // doc1 ⊂ doc2 shingle-wise: inter=3, C(1→2)=3/3=1, C(2→1)=3/5=0.6
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val half = Dedup.containmentPairs(docs, thresholdNum = 1, thresholdDen = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(half.toSet === Set((1L, 2L, 3L, 3L, 1.0), (2L, 1L, 3L, 5L, 0.6)))
    val strict = Dedup.containmentPairs(docs, thresholdNum = 2, thresholdDen = 3)
      .collect()
    assert(strict.length === 1)
    assert((strict.head.getLong(0), strict.head.getLong(1)) === ((1L, 2L)))
  }

  test("localClustering: clique members score 1, pendant scores 0") {
    import spark.implicits._
    // 4-clique {1,2,3,4} plus pendant 5 on node 1: t=(3,3,3,3,0),
    // d=(4,3,3,3,1) → lcc = (0.5, 1, 1, 1, 0)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.localClustering(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out === Map(
      1L -> ((4L, 3L, 0.5)), 2L -> ((3L, 3L, 1.0)), 3L -> ((3L, 3L, 1.0)),
      4L -> ((3L, 3L, 1.0)), 5L -> ((1L, 0L, 0.0))))
  }

  test("edgeEmbeddedness: clique edges embed, bridge edges score zero") {
    import spark.implicits._
    // triangle {1,2,3} with a bridge (3,4): clique edges share one
    // neighbor; the bridge shares none and must be the sparsifier cut
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val out = Dedup.edgeEmbeddedness(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out === Map(
      (1L, 2L) -> ((2L, 2L, 1L, 1.0)),
      (1L, 3L) -> ((2L, 3L, 1L, 1.0 / 2.0)),
      (2L, 3L) -> ((2L, 3L, 1L, 1.0 / 2.0)),
      (3L, 4L) -> ((3L, 1L, 0L, 0.0))))
  }

  test("clusterPurity separates intra-source from cross-source clusters") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "b"),
      (6L, "c")).toDF("doc_id", "source")
    val out = Dedup.clusterPurity(clusters, docs, "source").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out === Map(
      1L -> ((3L, 2L, 2L, 2.0 / 3.0)), 4L -> ((2L, 1L, 2L, 1.0))))
  }

  test("pairEvidence surfaces the rarest shared shingles in rank order") {
    import spark.implicits._
    // docs 1/2 share shingles "a b c","b c d","c d e" (each df=2);
    // their unshared tail shingles have df=1 but are NOT shared
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.pairEvidence(docs, pairs).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq === Seq(
      (1L, 2L, "a b c"), (2L, 2L, "b c d"), (3L, 2L, "c d e")))
  }

  test("modularity: exact per-class contributions and integer-summed total") {
    import spark.implicits._
    // edges (1,2)A-A, (3,4)B-B, (1,3)A-B: m=3, e_A=e_B=1, d_A=d_B=3
    // contrib = (4·3·1 − 9)/36 = 3/36 each; Q = (4·3·2 − 18)/36 = 6/36
    val pairs = Seq((1L, 2L), (3L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val mem = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("doc_id", "community")
    val out = Dedup.modularity(pairs, mem).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      "A" -> ((1L, 3L, 3.0 / 36.0)),
      "B" -> ((1L, 3L, 3.0 / 36.0)),
      "~total" -> ((2L, 6L, 6.0 / 36.0))))
    // '~total' must sort last
    val last = Dedup.modularity(pairs, mem).collect().last
    assert(last.getString(0) === "~total")
  }

  test("splitLeakage cross-tabulates pairs by unordered split combo") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val split = (1L to 12L).map(i => (i, if (i <= 10) "train" else "test"))
      .toDF("doc_id", "split")
    val out = Dedup.splitLeakage(pairs, split).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      ("test", "test") -> ((1L, 1.0 / 3.0)),
      ("test", "train") -> ((1L, 1.0 / 3.0)),
      ("train", "train") -> ((1L, 1.0 / 3.0))))
  }

  test("dedupWeights conserves corpus mass: sum(weight) = |docs|") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val docs = (1L to 7L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val out = Dedup.dedupWeights(clusters, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 4L -> 1L, 5L -> 2L, 7L -> 1L))
    assert(out.values.sum === 7L)
  }

  test("minhashCalibration: identical docs land in bucket k with exact J = 1") {
    import spark.implicits._
    // two byte-identical docs (J=1, all 16 draws match) plus an
    // unrelated doc that shares no shingle with them
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    // the identical pair is the only candidate banding can surface
    assert(out.toSeq === Seq((16L, 1.0, 1L, 1.0)))
  }

  test("minhashCalibration: half-overlapping docs bucket below k with exact J") {
    import spark.implicits._
    // doc2 shares a 6-token prefix with doc1 -> 4 shared 3-shingles of
    // (6, 6) => J = 4/8 = 0.5; whether banding surfaces the pair is
    // draw-dependent, so assert ON the surfaced rows' exactness only.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // identical pair (1,3): bucket 16, J = 1. The (1,2)/(2,3) pairs, if
    // surfaced, carry exact J = 4/6 (doc1: 4 shingles from 6 tokens,
    // doc2: 6 from 8, shared 4), floor-scaled to 666666/1e6.
    assert(out.exists { case (b, _, j) => b == 16L && j == 1.0 })
    out.filter(_._1 < 16L).foreach { case (_, _, j) =>
      assert(j === 666666.0 / 1000000.0) }
  }

  test("bandCurve: candidate counts non-decreasing in bands; identical docs always surface") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val out = Dedup.bandCurve(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq === Seq(2L, 4L, 8L))
    out.foreach { case (b, r, cand, ver) =>
      assert(b * r === 16L)
      assert(cand >= 1L && ver >= 1L, s"identical pair missing at $b bands")
      assert(ver <= cand)
    }
    // more bands can only surface MORE candidates (any r-run match
    // within a wider banding is contained in a narrower band's run)
    val cands = out.map(_._3)
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b })
  }

  test("assortativity: a regular graph has zero denominator -> 0.0") {
    import spark.implicits._
    // triangle: every degree 2 → variance term 0; defined as 0.0
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.assortativity(tri).collect().head
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(4) === 0.0)
  }

  test("sharedSpans: hand-planted 5-token copy reported exactly; separate quotes don't merge") {
    import spark.implicits._
    // A and B share the contiguous run "a b c d e" (5 tokens -> 3
    // consecutive 3-token windows on one diagonal -> 3 + 2 = 5) and,
    // at a DIFFERENT alignment, the 3-token quote "q r s" (1 window).
    val docs = Seq(
      (1L, "x1 x2 a b c d e q r s x3", "src0"),
      (2L, "y1 a b c d e y2 y3 y4 q r s", "src0")
    ).toDF("doc_id", "text", "source")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.sharedSpans(docs, pairs, k = 3).collect()
    assert(r.length === 1)
    assert(r.head.getLong(2) === 5L, r.toSeq) // longest run, not the sum
    assert(r.head.getLong(3) === 4L, r.toSeq) // 3 + 1 aligned windows
  }

  test("crossSourceDups: hand-computed source-pair matrix incl. diagonal") {
    import spark.implicits._
    // cluster A = {1(s0), 2(s0), 3(s1)}, cluster B = {4(s1), 5(s1)}
    val docs = Seq((1L, "s0"), (2L, "s0"), (3L, "s1"), (4L, "s1"),
      (5L, "s1"), (6L, "s9")).toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.crossSourceDups(docs, pairs)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("s0", "s0", 1L, 1L), // C(2,2) inside cluster A
      ("s0", "s1", 1L, 2L), // 2 x 1 cross pairs in cluster A
      ("s1", "s1", 2L, 1L)  // A contributes 0, B contributes C(2,2)
    ), out.toSeq)
  }

  test("growthCurve: hand-computed first-seen attribution and zero-filled deciles") {
    import spark.implicits._
    // 5 docs over 10 buckets -> occupied deciles 0,2,4,6,8 (rank-cut);
    // doc1 repeats doc0's only shingle (0 new), doc3 adds 1 of its 2
    val docs = Seq(
      (0L, "a b c", "s"), (1L, "a b c", "s"), (2L, "x y z w", "s"),
      (3L, "a b c x", "s"), (4L, "k k k", "s")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.growthCurve(docs, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (0L, 1L, 1L), (1L, 0L, 1L), (2L, 0L, 1L), (3L, 0L, 1L),
      (4L, 2L, 3L), (5L, 0L, 3L), (6L, 1L, 4L), (7L, 0L, 4L),
      (8L, 1L, 5L), (9L, 0L, 5L)), out.toSeq)
  }

  test("transitivityAudit counts wedges at centers and closed triangles") {
    // triangle {1,2,3} plus pendant edge (1,4): degrees 3/2/2/1 ->
    // wedges sigma C(d,2) = 3+1+1+0 = 5; triangles = 1; closure = 3/5
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L),
      (2L, 1L) /* reversed duplicate must not double-count */)
      .toDF("id_a", "id_b")
    val r = Dedup.transitivityAudit(pairs).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 4L, 5L, 1L)))
    assert(r.getDouble(4) === 0.6)
    // empty pair set: zero wedges -> NULL rate, zero counts, no throw
    val e = Dedup.transitivityAudit(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).head()
    assert((e.getLong(0), e.getLong(2), e.getLong(3)) === ((0L, 0L, 0L)))
    assert(e.isNullAt(4))
  }

  test("clusterCohesion reports size/edges/density per component") {
    // clique {1,2,3} (density 1), edge {5,6} (density 1),
    // path 7-8-9 (3 nodes, 2 edges -> density 2/3)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L),
      (7L, 8L), (8L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.clusterCohesion(pairs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((3L, 3L, 1.0)))
    assert(out(5L) === ((2L, 1L, 1.0)))
    assert(out(7L) === ((3L, 2L, 4.0 / 6.0)))
  }

  test("linkPrediction ranks non-edges by common neighbors / AA / PA") {
    // 4-cycle 1-2-4-3-1: non-edges (1,4) and (2,3), each with 2 common
    // neighbors; all degrees 2 → per-neighbor AA term 1000 DIV 1 = 1000
    // → aa=2000, pa=4; id tiebreak orders (1,4) before (2,3).
    // Plus a pendant 4-5: candidate (2,5)/(3,5) via x=4 → cn=1,
    // deg(4)=3 → ⌊log2 3⌋=1 → aa=1000, pa = 2*1 and 2*1.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = Dedup.linkPrediction(pairs, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // deg: 1→2, 2→3? no: edges at 2 = (1,2),(2,4) → deg2=2; deg4=3
    // cn(1,4) via x∈{2,3}: aa terms 1000 DIV ⌊log2 2⌋=1000 each
    // cn(2,3) via x∈{1,4}: deg1=2, deg4=3 → 1000+1000 (⌊log2 3⌋=1)
    assert(out.take(2).toSeq === Seq(
      (1L, 4L, 2L, 2000L, 2L * 3L), (2L, 3L, 2L, 2000L, 2L * 2L)))
    // the pendant candidates follow with cn=1 (via x=4, deg 3 → aa 1000)
    val rest = out.drop(2).map(t => (t._1, t._2, t._3, t._4, t._5)).toSet
    assert(rest === Set((2L, 5L, 1L, 1000L, 2L), (3L, 5L, 1L, 1000L, 2L)))
    assert(out.length === 4)
  }
}
