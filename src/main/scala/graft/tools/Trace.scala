package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, WholeStageCodegenExec}

import graft.{Bench, Sessions, SparkEntry}

/** Time registered queries the way Bench does, and optionally audit their
  * final plans:
  *
  *   runMain graft.tools.Trace <name[,name...]|all> [--sf DIR] [--n N]
  *     [--cores C] [--parts P] [--plan DIR]
  *
  * Defaults follow Bench: Bench's data dir, cores from `SPARK_GRAFT_CPUS`
  * (else 4), partitions `Bench.partitions(cores)`, Bench's session, and
  * each sample is `Bench.timedCount`. One untimed warm-up runs first.
  * Per query it prints the min, every sample and the row count, and a
  * TOTAL of the minimums when more than one query ran.
  *
  * `--plan DIR` then collects the frame once more (rule 8: an action on
  * the same QueryExecution, so the final adaptive plan is what gets
  * printed), writes its formatted plan to `DIR/<name>.txt` and prints the
  * plan audit: parquet scans, ReadSchema widths, filter pushdown,
  * broadcast and sort-merge joins, shuffles and whole-stage-codegen spans.
  */
object Trace {

  final case class Audit(scans: Int, readSchemaCols: Seq[Int], pushed: Boolean,
      broadcasts: Int, smj: Int, shuffles: Int, codegenSpans: Int)

  final case class Result(name: String, samples: Seq[Double], rows: Long,
      audit: Option[Audit])

  /** The audit fields of a formatted final plan; codegen spans are counted
    * on the executed plan, where they are nodes. */
  def audit(plan: String, codegenSpans: Int): Audit = {
    def count(node: String) = s"\\(\\d+\\) $node".r.findAllIn(plan).length
    Audit(
      scans = count("Scan parquet"),
      readSchemaCols = "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(plan).map(_.group(1).count(_ == ':')).toSeq,
      pushed = "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      broadcasts = count("BroadcastHashJoin") + count("BroadcastNestedLoopJoin"),
      smj = count("SortMergeJoin"),
      shuffles = count("Exchange"),
      codegenSpans = codegenSpans)
  }

  def run(spark: SparkSession, names: Seq[String], sfDir: String, n: Int,
      planDir: Option[String] = None): Seq[Result] = {
    val queries = SparkEntry.queries
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm-up, untimed
    val results = names.map { name =>
      val fn = queries(name)
      val timed = (1 to n).map { _ =>
        Bench.timedCount(spark, fn(spark, sfDir)) match {
          case Right(sample) => System.gc(); sample // outside the sample, as Bench's nudge
          case Left(t) => throw t
        }
      }
      val samples = timed.map(_._1)
      println(f"[trace] $name%-28s min=${samples.min}%.3f " +
        f"all=${samples.map(t => f"$t%.3f").mkString(",")} rows=${timed.last._2}")
      Result(name, samples, timed.last._2, planDir.map(auditPlan(spark, name, fn(spark, sfDir), _)))
    }
    if (results.size > 1)
      println(f"[trace] TOTAL ${results.map(_.samples.min).sum}%.3f " +
        s"queries=${results.size} n=$n " +
        s"cores=${spark.sparkContext.defaultParallelism} " +
        s"parts=${spark.conf.get("spark.sql.shuffle.partitions")}")
    results
  }

  private def auditPlan(spark: SparkSession, name: String,
      build: => DataFrame, dir: String): Audit = {
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val df = build
    df.collect()
    val qe = df.queryExecution
    val plan = qe.explainString(ExplainMode.fromString("formatted"))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, s"$name.txt"), plan + "\n")
    val a = audit(plan, PlanInspect.nodes(qe.executedPlan)
      .count(_.isInstanceOf[WholeStageCodegenExec]))
    Bench.unpersistSince(spark, preexisting)
    println(f"[plan] $name%-28s scans=${a.scans} " +
      f"cols=${a.readSchemaCols.mkString("/")}%-12s pushed=${a.pushed}%-5s " +
      s"bcast=${a.broadcasts} smj=${a.smj} shuffles=${a.shuffles} " +
      s"codegenSpans=${a.codegenSpans} -> $dir/$name.txt")
    a
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Trace <name[,name...]|all> [--sf DIR] [--n N] " +
      "[--cores C] [--parts P] [--plan DIR]"
    require(args.nonEmpty && args.length % 2 == 1, usage)
    val opts = args.tail.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val unknown = opts.keySet -- Set("--sf", "--n", "--cores", "--parts", "--plan")
    require(unknown.isEmpty, s"unknown option(s) ${unknown.mkString(", ")}; $usage")
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not registered: ${missing.mkString(", ")}")
    val cores = opts.get("--cores").fold(Sessions.cores(4))(_.toInt)
    val parts = opts.get("--parts").fold(Bench.partitions(cores))(_.toInt)
    val spark = Bench.session(cores, parts)
    try run(spark, names, opts.getOrElse("--sf", Bench.defaultSfDir),
      opts.get("--n").fold(3)(_.toInt), opts.get("--plan"))
    finally spark.stop()
  }
}
