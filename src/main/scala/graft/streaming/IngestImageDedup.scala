package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Materialize.Ops
import graft.operators.Multimodal

/** Streaming IMAGE dedup-on-ingest (q154) — the IngestDedup store loop
  * for the perceptual family: image-batch spec files (doc_id, variant)
  * arrive as a stream, each micro-batch is decoded and fingerprinted
  * ONCE inside foreachBatch, deduped against the persisted image
  * signature store, decisions land in batch-keyed sinks, and the
  * SURVIVORS' fingerprints — the frame already in hand, no second
  * decode — fold back into the store. So every micro-batch sees all
  * prior batches' kept images as settled corpus: a day-2 re-encode of
  * a day-1 novel image is flagged corpus_dup even though the initial
  * corpus never contained it.
  *
  * Exactly-once: decisions/clean writes are batchId-keyed overwrites
  * and the store append uses a batch-named subdir (overwrite), so an
  * at-least-once foreachBatch retry replays onto its own output
  * instead of double-counting — the IngestDedup contract verbatim.
  */
object IngestImageDedup {

  private val specSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("variant",
      org.apache.spark.sql.types.BooleanType)))

  /** Start the image ingest-dedup stream over spec files in `specDir`
    * (one file = one micro-batch) against the image store at
    * `storePath`, writing per-batch `decisions/batch_N`
    * (media_id, keep, reason) under `sinkRoot`. */
  def start(
      spark: SparkSession, specDir: String, storePath: String,
      sinkRoot: String,
      checkpoint: Option[String] = None): StreamingQuery =
    EventPipeline.withStreamPartitions(spark, 8) {
      val writer = spark.readStream
        .schema(specSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(specDir)
        .writeStream
      checkpoint.foreach(c => writer.option("checkpointLocation", c))
      writer
        .foreachBatch { (spec: DataFrame, batchId: Long) =>
          // ONE codec pass: the hash frame feeds decisions AND append
          val hashes = Multimodal.imageHashRows(spark, spec).materializeOnce()
          // decisions must be fully materialized before the append
          // below mutates what the store read sees (a cut, so no
          // strategy can recompute them against the new store); the row
          // count rides the checkpoint so the sink write's file count is
          // row-derived (guide §6) instead of the stream's 8 shuffle
          // partitions
          val (res, resM) = Multimodal
            .dedupImageHashesAgainstStore(spark, hashes, storePath)
            .materializeCut(count(lit(1)).as("n"))
          graft.operators.Dedup.sizedForWrite(res, resM.long("n"))
            .write.mode("overwrite")
            .parquet(s"$sinkRoot/decisions/batch_$batchId")
          val kept = hashes.join(
            res.filter(col("keep")).select(col("media_id")),
            Seq("media_id"), "left_semi")
          Multimodal.appendImageHashesToStore(kept, storePath,
            tag = Some(f"batch_$batchId%05d"))
          ()
        }
        .start()
    }
}
