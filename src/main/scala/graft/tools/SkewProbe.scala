package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Salted-join vs AQE-skew-join measurement (round-8 verdict #5).
  *
  * `Skew.saltedJoin` (q50) is proven result-identical to the plain
  * join; what a 100 TB user actually needs to know is WHEN to reach for
  * it now that AQE splits skewed sort-merge partitions at runtime. This
  * probe plants a hot key owning ~30% of a fact table and times the
  * same join+aggregate three ways on identical data:
  *
  *   a. plain sort-merge join, AQE skew-split ON (the modern default);
  *   b. plain sort-merge join, AQE skew-split OFF (the pre-AQE
  *      baseline — what salting was invented against);
  *   c. `Skew.saltedJoin`, AQE skew-split OFF.
  *
  * Broadcast is disabled throughout: a broadcastable dim side is the
  * FIRST answer to key skew (no shuffle of the fact side at all) and
  * would short-circuit the comparison this probe exists to make.
  * All three variants must agree on the aggregated result (asserted);
  * wall-clocks and the AQE plan's skew annotation are printed for
  * ARCHITECTURE.md. The skew-split assertion at volume lives here; the
  * small-data plan spec is SkewAqeSpec.
  *
  * Usage: runMain graft.tools.SkewProbe [nFact] [nKeys]
  */
object SkewProbe {

  /** Fact table with key 0 owning ~50% of all rows, rest uniform — the
    * one-task-straggler regime where mitigation pays on a parallel
    * backend. */
  def fact(spark: SparkSession, n: Long, nKeys: Long): DataFrame =
    spark.range(n).toDF("row_id")
      .select(col("row_id"),
        when(pmod(xxhash64(col("row_id")), lit(10)) < 5, lit(0L))
          .otherwise(pmod(xxhash64(col("row_id"), lit(1)), lit(nKeys)))
          .as("k"),
        (pmod(xxhash64(col("row_id"), lit(2)), lit(1000)).cast("double") / 10.0)
          .as("v"))

  def dim(spark: SparkSession, nKeys: Long): DataFrame =
    spark.range(nKeys).toDF("dk")
      .select(col("dk"), concat(lit("attr_"), pmod(col("dk"), lit(97))).as("attr"))

  /** min-of-2 per variant: single-shot wall times carry run-order bias
    * (the first variant absorbs page-cache + codegen warm-up), same
    * protocol argument as Bench. */
  private def time[A](label: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    val s1 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    body
    val s2 = (System.nanoTime() - t1) / 1e9
    val s = math.min(s1, s2)
    println(f"[skew] $label%-46s $s%7.1f s  (samples $s1%.1f/$s2%.1f)")
    (r, s)
  }

  /** The measured shape: fact ⋈ dim on the skewed key, aggregated per
    * dim attribute — checksum + count make result equality exact.
    * Returns the result AND whether the FINAL adaptive plan (read from
    * the same QueryExecution — rule 8) marked the sort-merge join
    * skew-split. The check must ride THIS query, not a slimmed count:
    * a count-only probe prunes `v` away, and a shuffle partition of 6M
    * identical hot-key longs lz4-compresses below the skew threshold —
    * AQE detects skew by shuffle BYTES, so the incompressible payload
    * is part of the phenomenon being measured. */
  private def agg(joined: DataFrame): (Array[(String, Long, Long)], Boolean) = {
    val df = joined.groupBy(col("attr"))
      .agg(count(lit(1)).as("n"),
        sum((col("v") * 10.0).cast("long")).as("sv"))
    val res = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val skewed = PlanInspect.nodes(df.queryExecution.executedPlan).exists {
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s.isSkewJoin
      case _ => false
    }
    (res, skewed)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(40000000L)
    val nKeys = args.lift(1).map(_.toLong).getOrElse(100000L)
    val spark = graft.Sessions.local(graft.Sessions.cores(32), 64, configure = _
      // force the sort-merge path — see the scaladoc
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // local[n] advisory sizes: detect a skewed partition at probe
      // volume (defaults target 256 MB cluster partitions)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m"))
    println(s"[skew] n_fact=$n n_keys=$nKeys hot_key_share≈50%")

    val out = "/tmp/graft_skew_probe"
    val t0 = System.nanoTime()
    fact(spark, n, nKeys).write.mode("overwrite").parquet(s"$out/fact")
    dim(spark, nKeys).write.mode("overwrite").parquet(s"$out/dim")
    println(f"[skew] fact+dim gen + parquet write: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val f = spark.read.parquet(s"$out/fact")
    val d = spark.read.parquet(s"$out/dim")

    def withSkewJoin[A](on: Boolean)(body: => A): A = {
      val key = "spark.sql.adaptive.skewJoin.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, on.toString)
      try body finally spark.conf.set(key, prev)
    }

    // warm-up (page cache + codegen) outside the timed region
    f.join(d, col("k") === col("dk")).count()

    val ((aqeRes, aqeSkewed), tAqe) = time("plain SMJ, AQE skew-split ON") {
      withSkewJoin(on = true)(agg(f.join(d, col("k") === col("dk"))))
    }
    println(s"[skew]   AQE plan skew annotation present: $aqeSkewed")
    require(aqeSkewed,
      "AQE did not mark the join skewed — probe thresholds no longer " +
        "match the data volume; retune before trusting the comparison")
    val ((noaqeRes, _), tNoaqe) = time("plain SMJ, AQE skew-split OFF") {
      withSkewJoin(on = false)(agg(f.join(d, col("k") === col("dk"))))
    }
    val ((saltRes, _), tSalt) = time("Skew.saltedJoin (8 salts), skew-split OFF") {
      withSkewJoin(on = false) {
        agg(graft.operators.Skew.saltedJoin(f, d, "k", "dk",
          saltExpr = xxhash64(col("row_id")), salts = 8))
      }
    }
    require(aqeRes.sameElements(noaqeRes) && aqeRes.sameElements(saltRes),
      "skew variants disagree on the aggregated result")
    println(f"[skew] RESULT identical across variants; wall: aqe=$tAqe%.1f s " +
      f"no-mitigation=$tNoaqe%.1f s salted=$tSalt%.1f s " +
      f"(speedup vs none: aqe=${tNoaqe / tAqe}%.2f× salted=${tNoaqe / tSalt}%.2f×)")
    spark.stop()
  }
}
