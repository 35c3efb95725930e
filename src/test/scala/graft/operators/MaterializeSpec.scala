package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The materialization seam (round-7 directive 3).
  *
  * Every lineage-cutting call site in the operator pipelines routes
  * through `Materialize.once`, so ONE runtime-conf flip moves the whole
  * dedup/similarity/analytics surface from `localCheckpoint` (fast,
  * not fault-tolerant) to reliable `checkpoint` or replicated
  * `persist` — no code edits. This spec proves each strategy both
  * materializes correctly in isolation AND carries a real multi-step
  * operator (the minhash candidates→verify→CC chain, the heaviest
  * Materialize user) to identical results.
  */
class MaterializeSpec extends SparkSpec {

  private def withStrategy[A](s: String)(body: => A): A = {
    spark.conf.set(Materialize.ConfKey, s)
    try body
    finally spark.conf.unset(Materialize.ConfKey)
  }

  private def corpus() = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark and parquet files"),
      (4L, "a completely different document about spark and parquet file"),
      (5L, "nothing like the others at all in any way shape or form here")
    ).toDF("doc_id", "text")
  }

  private def verifiedPairs() =
    Dedup.minhashVerifiedPairs(corpus(), threshold = 0.5, k = 16,
      bands = 8, shingleN = 3)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("default strategy is localCheckpoint and truncates lineage") {
    val out = Materialize.once(corpus())
    assert(out.count() == 5)
    assert(out.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.nodeName.contains("LogicalRDD")))
  }

  test("reliable checkpoint strategy materializes and survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    withStrategy("reliable") {
      val out = Materialize.once(corpus())
      assert(out.count() == 5)
      // reliable checkpoint writes to the checkpoint dir
      assert(new java.io.File(dir).listFiles().nonEmpty)
      assert(verifiedPairs() == Set((1L, 2L), (3L, 4L)))
    }
  }

  test("persist strategy is eager, replicated-disk, and correct") {
    withStrategy("persist") {
      val out = Materialize.once(corpus())
      // eager: the count inside once() already populated the cache
      assert(out.storageLevel.useDisk && out.storageLevel.replication == 2)
      assert(out.count() == 5)
      assert(verifiedPairs() == Set((1L, 2L), (3L, 4L)))
      out.unpersist()
    }
  }

  test("the dedup chain is strategy-invariant (local baseline)") {
    withStrategy("local") {
      assert(verifiedPairs() == Set((1L, 2L), (3L, 4L)))
    }
  }

  test("an unknown strategy fails both once and cut with a named error") {
    withStrategy("reliabel") {
      Seq[org.apache.spark.sql.DataFrame => Any](Materialize.once, Materialize.cut)
        .foreach { materialize =>
          val e = intercept[graft.MaterializeStrategyException](materialize(corpus()))
          assert(e.getMessage.contains("reliabel"))
          assert(Materialize.Strategies.forall(e.getMessage.contains))
        }
    }
  }

  test("operators and streaming cut lineage only through the seam") {
    // a direct localCheckpoint()/checkpoint() silently ignores the
    // configured strategy; comment lines and trailing comments are skipped
    val direct = """\.(localCheckpoint|checkpoint)\s*\(""".r
    val roots = Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming")
    val hits = roots.flatMap { r =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(r))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toList
      } finally walk.close()
    }.filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).toSeq
          .zipWithIndex.collect {
            case (line, i) if {
              val t = line.trim
              !t.startsWith("*") && !t.startsWith("/*") &&
                direct.findFirstIn(t.split("//", 2)(0)).isDefined
            } => s"$p:${i + 1}: ${line.trim}"
          }
      }
    assert(hits.isEmpty, "direct lineage cuts bypass Materialize:\n" + hits.mkString("\n"))
  }
}
