package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.operators.Materialize.Ops

/** Streaming decontamination-on-ingest — d54's two-phase bloom →
  * exact-verify check applied at the door, the way a live training-data
  * pipeline actually guards its eval sets: the benchmark's shingle set
  * is settled ONCE at stream start (it never changes mid-run), and each
  * arriving document batch is checked against it inside foreachBatch —
  * contaminated docs land in a per-batch flag sink, survivors in a
  * per-batch clean sink. Unlike IngestDedup there is no store fold-back:
  * decontamination is stateless across batches, so per-batch cost is
  * exactly one batch-sized pass plus the benchmark-sized verify join,
  * and batches can in principle run on disjoint clusters.
  *
  * Exactly-once: both sinks are batchId-keyed overwrites, so an
  * at-least-once foreachBatch retry replays onto its own output. The
  * q158 gate replays both batches' flag decisions against the exact
  * DuckDB join (valid because the bloom phase is performance-only —
  * see Dedup.bloomDecontaminate).
  */
object IngestDecontam {

  /** Start the decontam stream over `docsDir` (one file = one
    * micro-batch) against the `bench` documents, writing per-batch
    * `flags/batch_N` (doc_id, n_shingles, n_overlap, rate — the
    * contaminated docs) and `clean/batch_N` (untainted documents)
    * under `sinkRoot`. */
  def start(
      spark: SparkSession, docsDir: String, bench: DataFrame,
      sinkRoot: String, n: Int = 3, fpp: Double = 0.01,
      checkpoint: Option[String] = None): StreamingQuery =
    EventPipeline.withStreamPartitions(spark, 8) {
      // settled once; feeds every batch's bloom build AND verify join
      val benchSh = Dedup.benchmarkShingles(bench, n).materializeOnce()
      val writer = spark.readStream
        .schema(IngestDedup.docsSchema(spark, docsDir))
        .option("maxFilesPerTrigger", 1)
        .parquet(docsDir)
        .writeStream
      checkpoint.foreach(c => writer.option("checkpointLocation", c))
      writer
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // sink file counts derive from row counts riding the
          // materializations as observed metrics (guide §6 — the
          // writes were inheriting the stream's 8 shuffle partitions)
          // b is read by shingles AND the clean join
          val (b, bM) = batch.materializeOnce(count(lit(1)).as("n"))
          // flags feed the flag sink AND the clean anti-join
          val (flags, fM) = Dedup.decontaminateAgainst(b, benchSh, n, fpp = fpp)
            .materializeOnce(count(lit(1)).as("n"))
          Dedup.sizedForWrite(flags, fM.long("n"))
            .write.mode("overwrite").parquet(s"$sinkRoot/flags/batch_$batchId")
          // clean rows ≤ batch rows; the batch count is the right bound
          Dedup.sizedForWrite(
              b.join(flags.select(col("doc_id")), Seq("doc_id"), "left_anti"),
              bM.long("n"))
            .write.mode("overwrite").parquet(s"$sinkRoot/clean/batch_$batchId")
          ()
        }
        .start()
    }
}
