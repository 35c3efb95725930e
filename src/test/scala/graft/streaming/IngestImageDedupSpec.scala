package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Maintenance, Multimodal}
import graft.queries.Staging

/** Streaming image dedup-on-ingest (q154): the loop property that the
  * gate oracle also replays — batch 1's near-dups of batch 0's NOVEL
  * images must be flagged corpus_dup even though the initial store
  * never contained them, because batch 0's survivors were appended.
  */
class IngestImageDedupSpec extends SparkSpec {

  test("stream loop flags day-1 dups of day-0 appended keepers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("img_ingest_spec")
    try {
      val store = s"$root/store"
      Multimodal.writeImageSignatureStore(
        spark, (0L until 60L).toDF("doc_id"), store)
      val in = s"$root/in"
      val batches = Seq(
        // day 0: near-dups of stored images + novel images 60..79
        (0L until 20L).map((_, true)) ++ (60L until 80L).map((_, false)),
        // day 1: near-dups of day-0's NOVEL images + novel 80..99
        (60L until 80L).map((_, true)) ++ (80L until 100L).map((_, false)))
      Staging.stageFrames(batches.map(_.toDF("doc_id", "variant")), in)
      val sink = s"$root/sink"
      val q = IngestImageDedup.start(spark, in, store, sink)
      try q.processAllAvailable() finally q.stop()

      def decisions(i: Int) = spark.read.parquet(s"$sink/decisions/batch_$i")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      val d0 = decisions(0)
      assert((0L until 20L).count(id =>
        d0(id + Multimodal.VariantOffset) == "corpus_dup") >= 18,
        s"day-0 variants not flagged: $d0")
      (60L until 80L).foreach(id => assert(d0(id) === "unique"))

      // the loop property: day-1 variants of 60..79 match ONLY via the
      // day-0 append (60..79 were never in the initial store)
      val d1 = decisions(1)
      assert((60L until 80L).count(id =>
        d1(id + Multimodal.VariantOffset) == "corpus_dup") >= 18,
        s"day-1 dups of appended keepers not flagged: $d1")
      (80L until 100L).foreach(id => assert(d1(id) === "unique"))
    } finally Maintenance.rmTree(root.toFile)
  }
}
