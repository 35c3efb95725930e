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
          // materializations as Observation metrics (guide §6 — the
          // writes were inheriting the stream's 8 shuffle partitions)
          val bObs = org.apache.spark.sql.Observation()
          val b = batch.observe(bObs, count(lit(1)).as("n"))
            .materializeOnce() // read by shingles AND clean join
          def metric(o: org.apache.spark.sql.Observation): Long =
            Option(o.get("n")).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
          val fObs = org.apache.spark.sql.Observation()
          val flags = Dedup.decontaminateAgainst(b, benchSh, n, fpp = fpp)
            .observe(fObs, count(lit(1)).as("n"))
            .materializeOnce() // feeds the flag sink AND the clean anti-join
          Dedup.sizedForWrite(flags, metric(fObs))
            .write.mode("overwrite").parquet(s"$sinkRoot/flags/batch_$batchId")
          // clean rows ≤ batch rows; the batch count is the right bound
          Dedup.sizedForWrite(
              b.join(flags.select(col("doc_id")), Seq("doc_id"), "left_anti"),
              metric(bObs))
            .write.mode("overwrite").parquet(s"$sinkRoot/clean/batch_$batchId")
          ()
        }
        .start()
    }
}
