package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.operators.Materialize.Ops

/** Streaming dedup-on-ingest — the stream-native form of the d53 /
  * appendBatchToStore daily loop: document batches arriving as files
  * are deduped against the PERSISTED signature store inside
  * foreachBatch, decisions and surviving documents land in
  * batch-keyed sinks, and the survivors' signatures fold back into the
  * store — so every micro-batch sees all prior batches' survivors as
  * settled corpus. At 100 TB this is dedup-at-the-door: corpus text is
  * never re-read, per-batch cost is the batch plus candidate index
  * reads, and the store grows only by what was actually kept.
  *
  * Exactly-once: every write is batchId-keyed — decisions/clean output
  * dirs are overwritten per batch, and the store append uses
  * appendBatchToStore's `tag` (overwrite into a batch-named subdir) —
  * so an at-least-once foreachBatch retry replays onto its own output
  * instead of double-counting. The q153 gate replays the whole
  * two-batch loop against a brute-force SQL oracle, and
  * IngestDedupSpec asserts stream ≡ StoreLoopSpec's batch loop.
  */
object IngestDedup {

  /** Schema for the incoming document files, derived from a batch read
    * when files exist (the round-7 lesson: never hardcode a physical
    * contract that can drift) with the documents-contract fallback for
    * a stream-first empty directory. */
  private[streaming] def docsSchema(spark: SparkSession, docsDir: String) = {
    val hasFiles = Option(new java.io.File(docsDir).listFiles())
      .getOrElse(Array.empty)
      .exists(f => f.getName.endsWith(".parquet") || f.isDirectory)
    if (hasFiles) spark.read.parquet(docsDir).schema
    else org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
  }

  /** Start the ingest-dedup stream over `docsDir` (one file = one
    * micro-batch), against the store at `storePath`, writing per-batch
    * `decisions/batch_N` (doc_id, keep, reason) and `clean/batch_N`
    * (surviving documents) under `sinkRoot`. */
  def start(
      spark: SparkSession, docsDir: String, storePath: String,
      sinkRoot: String, threshold: Double = 0.5, maxDf: Int = 100,
      checkpoint: Option[String] = None): StreamingQuery =
    EventPipeline.withStreamPartitions(spark, 8) {
      val writer = spark.readStream
        .schema(docsSchema(spark, docsDir))
        .option("maxFilesPerTrigger", 1)
        .parquet(docsDir)
        .writeStream
      checkpoint.foreach(c => writer.option("checkpointLocation", c))
      writer
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // the batch source is re-read by several join branches inside
          // the dedup; pin it once
          val b = batch.materializeOnce()
          // sink file counts derive from each frame's ROW count (guide
          // §6 / rule 26 in reverse: the writes were inheriting the
          // stream's 8 shuffle partitions, so every micro-batch wrote a
          // fixed number of near-empty files). The counts ride the
          // materializations as observed metrics — zero extra jobs.
          val (res, resM) = Dedup
            .dedupBatchAgainstStore(spark, b, storePath, threshold, maxDf)
            // decisions feed the sink AND the survivor semi-join; and
            // they MUST be fully materialized before the store append
            // below mutates what dedupBatchAgainstStore reads — a cut,
            // so no strategy can recompute them against the new store
            .materializeCut(count(lit(1)).as("n"))
          Dedup.sizedForWrite(res, resM.long("n"))
            .write.mode("overwrite").parquet(s"$sinkRoot/decisions/batch_$batchId")
          val (survivors, survM) = b
            .join(res.filter(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
            .materializeOnce(count(lit(1)).as("n"))
          Dedup.sizedForWrite(survivors, survM.long("n"))
            .write.mode("overwrite").parquet(s"$sinkRoot/clean/batch_$batchId")
          Dedup.appendBatchToStore(survivors, storePath,
            tag = Some(f"batch_$batchId%05d"))
          ()
        }
        .start()
    }
}
