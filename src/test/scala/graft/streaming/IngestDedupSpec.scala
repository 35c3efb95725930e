package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, Maintenance}
import graft.queries.Staging

/** Streaming dedup-on-ingest (q153): the stream must make exactly the
  * decisions the batch store-loop makes — batch 1 sees batch 0's
  * survivors as settled corpus through the store appends — and the
  * store appends must be retry-idempotent (foreachBatch is
  * at-least-once).
  */
class IngestDedupSpec extends SparkSpec {

  test("stream loop decisions equal the recompute path per batch") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val day1 = col("doc_id") % 10 === 8
    val day2 = col("doc_id") % 10 === 9
    val root = java.nio.file.Files.createTempDirectory("ingest_spec")
    try {
      val store = s"$root/store"
      Dedup.writeSignatureStore(docs.filter(!day1 && !day2), store)
      val in = s"$root/in"
      Staging.stageFrames(Seq(day1, day2).map(docs.filter), in)
      val sink = s"$root/sink"
      val q = IngestDedup.start(spark, in, store, sink,
        threshold = 0.5, maxDf = 20)
      try q.processAllAvailable() finally q.stop()

      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy(col("doc_id")).collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep"),
            r.getAs[String]("reason"))).toSeq

      // batch 0 ≡ incremental dedup of day1 against the original corpus
      val got0 = rows(spark.read.parquet(s"$sink/decisions/batch_0"))
      val exp0 = rows(Dedup.incrementalDedup(docs.filter(!day2), day1,
        threshold = 0.5, maxDf = 20))
      assert(got0 === exp0, "batch-0 stream decisions diverged")

      // batch 1 ≡ incremental dedup against corpus + day-1 SURVIVORS
      val keep1 = spark.read.parquet(s"$sink/decisions/batch_0")
        .filter(col("keep")).select(col("doc_id"))
      val corpus2 = docs.filter(!day1 && !day2)
        .unionByName(docs.filter(day1).join(keep1, Seq("doc_id"), "left_semi"))
      val got1 = rows(spark.read.parquet(s"$sink/decisions/batch_1"))
      val exp1 = rows(Dedup.incrementalDedup(
        corpus2.unionByName(docs.filter(day2)), day2,
        threshold = 0.5, maxDf = 20))
      assert(got1 === exp1, "batch-1 stream decisions diverged — the store " +
        "append between micro-batches is not being seen (or saw dropped docs)")

      // the clean sink carries exactly the keepers' documents
      val clean = spark.read.parquet(s"$sink/clean/batch_0")
      assert(clean.count() === got0.count(_._2))
      assert(clean.columns.contains("text"))
    } finally Maintenance.rmTree(root.toFile)
  }

  test("tagged store append is retry-idempotent") {
    import spark.implicits._
    val docsDf = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "lambda mu nu xi omicron pi rho sigma tau upsilon")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ingest_retry")
    try {
      Dedup.writeSignatureStore(docsDf, dir.toString)
      val more = Seq((200L, "phi chi psi omega alpha two three four five six"))
        .toDF("doc_id", "text")
      Dedup.appendBatchToStore(more, dir.toString, tag = Some("batch_00001"))
      val once = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/signatures").count()
      // a foreachBatch RETRY replays the same batchId — the overwrite
      // tag must land on its own files, not double-count
      Dedup.appendBatchToStore(more, dir.toString, tag = Some("batch_00001"))
      val twice = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/signatures").count()
      assert(once === 3L && twice === 3L,
        s"tagged append double-counted on retry: $once -> $twice")
    } finally Maintenance.rmTree(dir.toFile)
  }
}
