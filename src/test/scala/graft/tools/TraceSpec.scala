package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** `tools.Trace` times through Bench's sample and audits the final plan. */
class TraceSpec extends SparkSpec {

  test("Trace times n samples, writes the final plan and keeps prior persists") {
    val kept = spark.sparkContext.parallelize(1 to 10).persist(StorageLevel.MEMORY_ONLY)
    kept.count()
    val dir = Files.createTempDirectory("graft-trace").toString
    try {
      val Seq(r) = Trace.run(spark, Seq("q01_projection"), sf0001, n = 2, Some(dir))
      assert(r.samples.size == 2 && r.samples.forall(_ > 0))
      assert(r.rows > 0)
      val file = Paths.get(dir, "q01_projection.txt")
      assert(Files.exists(file))
      val plan = Files.readString(file)
      assert(plan.contains("isFinalPlan=true"), plan)
      val audit = r.audit.get
      assert(Trace.audit(plan, audit.codegenSpans) == audit)
      assert(audit.scans >= 1 && audit.readSchemaCols.nonEmpty, plan)
      // the scoped unpersist drops only what the samples persisted
      assert(spark.sparkContext.getPersistentRDDs.contains(kept.id))
    } finally kept.unpersist()
  }
}
