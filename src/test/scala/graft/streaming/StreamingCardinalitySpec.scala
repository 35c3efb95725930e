package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Frequency, Maintenance}
import graft.queries.Staging

/** Streaming cardinality monitor (q161): the max-merged partial
  * sketches from N micro-batches must equal the single-pass batch
  * registers over the union — the mergeable-summary contract that
  * makes the stream's oracle (a batch replay) valid. Also pins the
  * idempotence claim behind the exactly-once story: re-merging a
  * batch's partial changes nothing.
  */
class StreamingCardinalitySpec extends SparkSpec {

  test("stream-merged registers equal the batch sketch; replay is idempotent") {
    val ev = graft.Tables.load(spark, sf0001, "events")
    val root = java.nio.file.Files.createTempDirectory("streamcard_spec")
    try {
      val in = s"$root/in"
      // three chunks → three micro-batches
      Staging.stageFrames((0 until 3).map(i =>
        ev.filter(pmod(col("event_id"), lit(3L)) === i)), in)
      val store = s"$root/regs"
      val q = StreamingCardinality.start(spark, in, store)
      try q.processAllAvailable() finally q.stop()

      // three partial sketches landed
      val batches = Option(new java.io.File(store).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("batch_"))
      assert(batches.length === 3, batches.map(_.getName).toSeq)

      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2))
      val merged = spark.read
        .parquet(batches.map(_.getAbsolutePath).toIndexedSeq: _*)
        .groupBy(col("event_type"), col("b")).agg(max(col("pmax")).as("pmax"))
        .collect().map(key).toSet
      val batchRegs = StreamingCardinality
        .batchRegisters(ev, oracleHash = false)
        .collect().map(key).toSet
      assert(merged === batchRegs) // stream ≡ batch, register for register

      // idempotent replay: merging batch 0's partial in again is a no-op
      val replayed = spark.read
        .parquet((batches.map(_.getAbsolutePath).toIndexedSeq :+
          batches.head.getAbsolutePath): _*)
        .groupBy(col("event_type"), col("b")).agg(max(col("pmax")).as("pmax"))
        .collect().map(key).toSet
      assert(replayed === batchRegs)

      // the estimate path runs end to end on the store
      val est = StreamingCardinality.estimateFromStore(spark, store,
        ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact")))
        .collect()
      assert(est.nonEmpty)
      assert(est.forall(_.getLong(1) === Frequency.HllBuckets.toLong))
    } finally Maintenance.rmTree(root.toFile)
  }
}
