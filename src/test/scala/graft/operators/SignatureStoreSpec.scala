package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted-signature incremental dedup (d53) contract: dedup of a
  * batch against a PRIOR-RUN signature store must produce exactly what
  * the recompute path (incrementalDedup over corpus ∪ batch) produces —
  * the store is an index, not a semantic variant. The d53 gate shares
  * d47's oracle on the strength of this equality.
  */
class SignatureStoreSpec extends SparkSpec {

  /** sf0.001 documents plus two batch docs without shingles (ids ≡ 9
    * mod 10, past the table's ids): an empty text and a null text. No
    * pair can name them, yet both paths must decide them 'unique'. */
  private def docsWithEmpty() = {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    import spark.implicits._
    val extra = Seq((100009L, Some("")), (100019L, Option.empty[String]))
      .toDF("doc_id", "text")
    docs.unionByName(extra, allowMissingColumns = true)
  }

  private def run(threshold: Double, maxDf: Int): Unit = {
    val docs = docsWithEmpty()
    val isBatch = col("doc_id") % 10 === 9
    val dir = java.nio.file.Files.createTempDirectory("sigstore_spec")
    try {
      Dedup.writeSignatureStore(docs.filter(!isBatch), dir.toString)
      val store = Dedup.dedupBatchAgainstStore(spark,
        docs.filter(isBatch), dir.toString, threshold, maxDf)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
      val recompute = Dedup.incrementalDedup(docs, isBatch, threshold, maxDf)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
      assert(store.toSeq === recompute.toSeq,
        s"store path diverged from recompute path (threshold=$threshold, maxDf=$maxDf)")
      // the split must actually exercise all three outcomes or the
      // equality is vacuous on the interesting branches
      val reasons = store.map(_._3).toSet
      assert(reasons.contains("unique"), s"no unique docs at sf0.001: $reasons")
      assert(store.filter(r => r._1 == 100009L || r._1 == 100019L).toSeq ===
        Seq((100009L, true, "unique"), (100019L, true, "unique")),
        "a batch doc without shingles was dropped from the decisions")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("store path equals recompute path at gate parameters (0.5, df<=20)") {
    run(threshold = 0.5, maxDf = 20)
  }

  test("store path equals recompute path at a loose threshold (0.3, df<=100)") {
    // looser threshold surfaces more corpus_dup/batch_dup rows, so the
    // equality covers the drop branches, not just 'unique'
    run(threshold = 0.3, maxDf = 100)
  }

  /** Runs `body` with a job counter and a query-execution recorder on
    * the session: returns its value, the number of Spark jobs it
    * started, and every action's (name, QueryExecution). */
  private def traced[A](body: => A)
      : (A, Int, Seq[(String, org.apache.spark.sql.execution.QueryExecution)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        qes.add((f, qe)); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (a, jobs.get, qes.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** A store of the sf0.001 corpus (doc_id % 10 != 9) and its batch. */
  private def withGateStore(body: (String, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val isBatch = col("doc_id") % 10 === 9
    val dir = java.nio.file.Files.createTempDirectory("sigstore_plan")
    try {
      Dedup.writeSignatureStore(docs.filter(!isBatch), dir.toString)
      body(dir.toString, docs.filter(isBatch))
    } finally rmTree(dir.toFile)
  }

  test("store path plan: the shingle index is filtered map-side; the " +
    "overfull-key list is broadcast once") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.tools.PlanInspect
    withGateStore { (dir, batch) =>
      val res = Dedup.dedupBatchAgainstStore(spark, batch, dir, 0.5, 20)
      res.collect() // the final AQE plan of this QueryExecution (rule 8)
      // 1. every scan of the store's shingle index meets the broadcast
      //    candidate-id semi-join before any exchange: the index is
      //    filtered in its scan stage and never shuffled
      val scans = PlanInspect.withAncestors(res.queryExecution.executedPlan)
        .collect { case (s: FileSourceScanExec, up)
          if s.relation.location.rootPaths.exists(_.toString.endsWith("/shingles")) =>
          (s, up) }
      assert(scans.nonEmpty, "no store-shingle scan in the final plan")
      scans.foreach { case (_, up) =>
        val (below, rest) = up.span(!_.isInstanceOf[BroadcastHashJoinExec])
        assert(!below.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"the store-shingle scan is shuffled: ${below.map(_.nodeName)}")
        assert(rest.headOption.exists(_.asInstanceOf[BroadcastHashJoinExec]
          .joinType == LeftSemi),
          s"the store-shingle scan is not semi-joined by broadcast: ${up.map(_.nodeName)}")
      }
      // 2. the candidate band join reads the neighbourhood through the
      //    cap's anti-join on both sides; its overfull-key list is built
      //    by ONE BroadcastExchange, the other side reuses it. With no
      //    bucket over the cap AQE drops the anti-join against the empty
      //    list from the final plan, so this leg runs on a corpus whose
      //    boilerplate bucket (6 docs) is over a cap of 3 while a planted
      //    near-dup pair still shares small buckets.
      import spark.implicits._
      val boiler = (0 until 30).map(i => s"boil$i").mkString(" ")
      val pair = (0 until 30).map(i => s"pair$i").mkString(" ")
      val corpus = ((0L until 5L).map(i => (i, boiler)) ++ Seq(
        (10L, s"$pair end"), (11L, "a unique corpus document of its own words")))
        .toDF("doc_id", "text")
      val small = (Seq((20L, boiler), (21L, s"$pair tail"),
        (22L, "a unique batch document with other words entirely"))).toDF("doc_id", "text")
      val capDir = java.nio.file.Files.createTempDirectory("sigstore_cap")
      val (decisions, _, qes) =
        try {
          Dedup.writeSignatureStore(corpus, capDir.toString)
          def store(t: String) = spark.read.parquet(s"$capDir/$t")
          traced {
            Dedup.dedupBatchAgainstStore(small, store("signatures"),
              store("shingles"), store("df"), threshold = 0.5, maxDf = 20,
              maxBucket = 3).collect()
          }
        } finally rmTree(capDir.toFile)
      assert(decisions.map(r => (r.getLong(0), r.getString(2))).toSeq ===
        Seq((20L, "unique"), (21L, "corpus_dup"), (22L, "unique")))
      val capPlans = qes.map(qe => PlanInspect.nodes(qe._2.executedPlan))
        .filter(_.exists {
          case j: BroadcastHashJoinExec => j.joinType == LeftAnti
          case _ => false
        })
      assert(capPlans.size === 1,
        s"expected one materialization running the capped band join, got ${capPlans.size}")
      val builds = capPlans.head.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti =>
          PlanInspect.nodes(j.right).collect {
            case b: BroadcastExchangeExec => b
            case r: ReusedExchangeExec => r
          }
      }.flatten
      assert(builds.size === 2 &&
        builds.count(_.isInstanceOf[BroadcastExchangeExec]) === 1,
        s"overfull-key list not built once and reused: ${builds.map(_.nodeName)}")
    }
  }

  test("store path job budget: one dedup + collect at sf0.001 runs 25 jobs") {
    withGateStore { (dir, batch) =>
      val (_, jobs, _) = traced {
        Dedup.dedupBatchAgainstStore(spark, batch, dir, 0.5, 20).collect()
      }
      assert(jobs === 25, s"store-path job count moved: $jobs")
    }
  }

  /** `n` distinct words `<prefix>0 … <prefix>(n-1)`, space-joined. */
  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  /** Decisions of the store path over a store written from `corpus` and
    * then appended `appended` (so its df table holds partial rows),
    * asserted equal to incrementalDedup over corpus ∪ appended ∪ batch.
    * Returns doc_id → reason. */
  private def capDecisions(corpus: Seq[(Long, String)], appended: Seq[(Long, String)],
      batch: Seq[(Long, String)], maxDf: Int): Map[Long, String] = {
    import spark.implicits._
    val dir = suiteTempDir("sigstore_dfcap")
    Dedup.writeSignatureStore(corpus.toDF("doc_id", "text"), dir.toString)
    if (appended.nonEmpty)
      Dedup.appendBatchToStore(appended.toDF("doc_id", "text"), dir.toString)
    def decided(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq
    val store = decided(Dedup.dedupBatchAgainstStore(spark,
      batch.toDF("doc_id", "text"), dir.toString, threshold = 0.5, maxDf = maxDf))
    val all = (corpus ++ appended ++ batch).toDF("doc_id", "text")
    val recompute = decided(Dedup.incrementalDedup(all,
      col("doc_id").isin(batch.map(_._1): _*), threshold = 0.5, maxDf = maxDf))
    assert(store === recompute, s"store path diverged from recompute at maxDf=$maxDf")
    store.map(r => r._1 -> r._3).toMap
  }

  // A pair of identical docs whose 22 shingles are 18 "hot" ones and 4
  // of their own: with the hot shingles kept their Jaccard is 1, with
  // them capped away it is 4/40. Each filler doc carries the hot words
  // and 60 words of its own, so it never pairs with anything.
  private val hot = words("hot", 20)
  private val twin = s"$hot ua ub uc ud"
  private def filler(i: Int) = s"$hot ${words(s"f${i}w", 60)}"

  test("df cap boundary: store partial rows plus batch docs at maxDf keep a " +
    "shingle; at maxDf + 1 they drop it") {
    val corpus = Seq((1L, twin), (2L, filler(2)), (3L, filler(3)))
    val appended = Seq((4L, filler(4)))
    val batch = Seq((10L, twin), (11L, filler(11)))
    // hot df: 3 base rows + 1 appended partial row + 2 batch docs = 6
    val atCap = capDecisions(corpus, appended, batch, maxDf = 6)
    assert(atCap(10L) === "corpus_dup", "a shingle at exactly maxDf was capped")
    val overCap = capDecisions(corpus, appended, batch :+ ((12L, filler(12))), maxDf = 6)
    assert(overCap(10L) === "unique", "a shingle at maxDf + 1 was kept")
  }

  test("df cap boundary: a batch-only shingle counts once per batch doc") {
    val corpus = Seq((1L, words("corpus", 30)))
    // doc 12 holds the hot words twice: per-occurrence counting would
    // put every hot shingle over the cap
    val batch = Seq((10L, twin), (11L, twin), (12L, s"$hot $hot ${words("g", 60)}"),
      (13L, filler(13)))
    val atCap = capDecisions(corpus, Nil, batch, maxDf = 4)
    assert(atCap(11L) === "batch_dup", "a batch-only shingle in maxDf docs was capped")
    val overCap = capDecisions(corpus, Nil, batch :+ ((14L, filler(14))), maxDf = 4)
    assert(overCap(11L) === "unique", "a batch-only shingle in maxDf + 1 docs was kept")
  }

  test("store tables carry the expected schemas") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words in this tiny document here now")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sigstore_schema")
    try {
      Dedup.writeSignatureStore(docs, dir.toString)
      val sigs = spark.read.parquet(s"$dir/signatures")
      assert(sigs.columns.toSet === Set("doc_id", "sz", "sig"))
      assert(sigs.count() === 3)
      val sh = spark.read.parquet(s"$dir/shingles")
      assert(sh.columns.toSet === Set("doc_id", "sh"))
      val df = spark.read.parquet(s"$dir/df")
      assert(df.columns.toSet === Set("sh", "df"))
      // the readers' fixed schemas are what the writer produces
      def types(t: org.apache.spark.sql.types.StructType) =
        t.fields.map(f => f.name -> f.dataType.catalogString).toSeq
      assert(types(sigs.schema) === types(Dedup.StoreSchema.signatures))
      assert(types(sh.schema) === types(Dedup.StoreSchema.shingles))
      assert(types(df.schema) === types(Dedup.StoreSchema.df))
      // identical docs share every shingle: df table must show df=2 rows
      assert(df.filter(col("df") === 2).count() > 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }
}
