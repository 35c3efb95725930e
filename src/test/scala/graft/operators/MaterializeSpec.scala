package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Materialize.Ops

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
    val dir = suiteTempDir("graft-ckpt").toString
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

  test("observed metrics read the same under every strategy, and 0 when empty") {
    spark.sparkContext.setCheckpointDir(
      suiteTempDir("graft-ckpt").toString)
    val ids = spark.range(1, 101).toDF("id")
    Materialize.Strategies.foreach { s =>
      withStrategy(s) {
        val metrics = Seq(sum(col("id")).as("s"), count(lit(1)).as("n"))
        val (out, m) = ids.materializeOnce(metrics.head, metrics.tail: _*)
        assert((m.long("s"), m.long("n")) === ((5050L, 100L)), s)
        assert(out.count() === 100L, s)
        val (_, cut) = ids.materializeCut(metrics.head, metrics.tail: _*)
        assert((cut.long("s"), cut.long("n")) === ((5050L, 100L)), s)
        // an empty frame: the sum is null and the count 0 — both read 0
        val (_, empty) = ids.filter(col("id") < 0)
          .materializeOnce(metrics.head, metrics.tail: _*)
        assert((empty.long("s"), empty.long("n")) === ((0L, 0L)), s)
        assert(empty.decimal("s") === java.math.BigDecimal.ZERO, s)
      }
    }
  }

  /** Code lines (comment lines and trailing comments skipped) under
    * `roots` matching `pattern`, outside Materialize.scala. */
  private def codeHits(roots: Seq[String], pattern: scala.util.matching.Regex): Seq[String] =
    roots.flatMap { r =>
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
                pattern.findFirstIn(t.split("//", 2)(0)).isDefined
            } => s"$p:${i + 1}: ${line.trim}"
          }
      }

  private val operatorRoots =
    Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming")

  test("operators and streaming cut lineage only through the seam") {
    // a direct localCheckpoint()/checkpoint() silently ignores the
    // configured strategy
    val hits = codeHits(operatorRoots, """\.(localCheckpoint|checkpoint)\s*\(""".r)
    assert(hits.isEmpty, "direct lineage cuts bypass Materialize:\n" + hits.mkString("\n"))
  }

  test("operators and streaming observe metrics only through the seam") {
    // an Observation outside the seam is a second copy of the
    // observed-checkpoint convention (and of its null handling)
    val hits = codeHits(operatorRoots, """\bObservation\s*\(""".r)
    assert(hits.isEmpty, "Observation outside Materialize:\n" + hits.mkString("\n"))
  }

  test("operator objects hold no process-global Atomic state") {
    // a decision recorded in a global races between queries built concurrently;
    // specs read it off the returned frame instead (Dedup.verifyShape)
    val hits = codeHits(Seq("src/main/scala/graft/operators"), """\bAtomic[A-Z]\w*""".r)
    assert(hits.isEmpty, "Atomic state in operators:\n" + hits.mkString("\n"))
  }
}
