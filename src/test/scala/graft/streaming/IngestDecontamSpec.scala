package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, Maintenance}
import graft.queries.Staging

/** Streaming decontam-on-ingest (q158): each micro-batch's flags must
  * equal the batch-mode d54 check of that batch against the same
  * benchmark, and the clean sink must be exactly the unflagged docs —
  * the stream adds delivery, not semantics.
  */
class IngestDecontamSpec extends SparkSpec {

  test("stream flags equal the batch-mode bloom decontam per batch") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") < 500)
    val benchIds = Seq(0L, 1L, 2L, 3L, 4L)
    val bench = docs.filter(col("doc_id").isInCollection(benchIds))
    val b0 = col("doc_id") % 10 === 8
    val b1 = col("doc_id") % 10 === 9
    val root = java.nio.file.Files.createTempDirectory("decontam_spec")
    try {
      val in = s"$root/in"
      Staging.stageFrames(Seq(b0, b1).map(docs.filter), in)
      val sink = s"$root/sink"
      val q = IngestDecontam.start(spark, in, bench, sink)
      try q.processAllAvailable() finally q.stop()

      def flagRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_shingles"), r.getAs[Long]("n_overlap"))).toSet

      val benchSh = Dedup.benchmarkShingles(bench).localCheckpoint()
      Seq(b0, b1).zipWithIndex.foreach { case (cond, i) =>
        val got = flagRows(spark.read.parquet(s"$sink/flags/batch_$i"))
        val expect = flagRows(Dedup.decontaminateAgainst(docs.filter(cond), benchSh))
        assert(got === expect, s"batch-$i stream flags diverged")
        assert(got.nonEmpty, s"batch-$i found no planted contamination")
        // clean sink = the batch minus exactly the flagged ids
        val cleanIds = spark.read.parquet(s"$sink/clean/batch_$i")
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        val batchIds = docs.filter(cond)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        assert(cleanIds === batchIds -- got.map(_._1),
          s"batch-$i clean sink is not batch minus flags")
      }
    } finally Maintenance.rmTree(root.toFile)
  }
}
