package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Maintenance, Sampling}
import graft.queries.Staging

/** Streaming HT accountant (q223): the summed partial tallies from N
  * micro-batches must equal the single-pass batch accounting over the
  * union — EXACT equality, not an approximation bound, because every
  * tally column is an integer sum (the mergeable-summary contract that
  * makes the stream's oracle — q221's batch replay — valid). Also pins
  * the idempotence claim behind the exactly-once story: replaying a
  * batch (batchId-keyed overwrite) changes nothing.
  */
class StreamingAccountingSpec extends SparkSpec {

  test("stream-merged tallies equal the batch accounting; replay is idempotent") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val root = java.nio.file.Files.createTempDirectory("streamacct_spec")
    try {
      val in = s"$root/in"
      Staging.stageFrames((0 until 3).map(i =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === i)), in)
      val store = s"$root/tallies"
      val q = StreamingAccounting.start(spark, in, store)
      try q.processAllAvailable() finally q.stop()

      val batchDirs = Option(new java.io.File(store).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      assert(batchDirs.length === 3, "one partial tally dir per micro-batch")

      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      val streamed = rows(StreamingAccounting.reportFromStore(spark, store))
      val batch = rows(Sampling.htTokenEstimate(docs))
      assert(streamed === batch,
        "stream-merged accounting diverged from the batch operator")

      // exactly-once under replay: rewrite batch 0's partial from the
      // same input (what an at-least-once retry does) — report unchanged
      Sampling.htTallies(docs.filter(pmod(col("doc_id"), lit(3L)) === 0))
        .write.mode("overwrite").parquet(s"$store/batch_0")
      val replayed = rows(StreamingAccounting.reportFromStore(spark, store))
      assert(replayed === streamed, "batch replay changed the report")
    } finally Maintenance.rmTree(root.toFile)
  }
}
