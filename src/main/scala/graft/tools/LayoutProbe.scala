package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Measured companion to q193's zone-map SIMULATION: write the same
  * table twice — sorted by insert key vs sorted by Morton key, many
  * small files so parquet has real min/max stats to prune with — then
  * run the identical centered box filter on both and read the SCAN
  * node's actual output-row metric (rows surviving parquet row-group
  * pruning, before the residual Filter). The simulation says which
  * layout *should* skip; this stage shows the Spark parquet reader
  * actually skipping.
  *
  * Usage: runMain graft.tools.LayoutProbe [sfDir] [outDir]
  */
object LayoutProbe {

  private def scanRows(df: DataFrame): (Long, Double) = {
    // metrics must come from the SAME QueryExecution that ran
    // (CLAUDE.md rule 8) — build the aggregate ONCE, collect it, then
    // walk ITS executed plan for the file scan's output-row metric
    val agg = df.agg(sum(col("l_extendedprice").cast("decimal(18,2)")))
    val t0 = System.nanoTime()
    agg.collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = PlanInspect.nodes(agg.queryExecution.executedPlan)
      .collectFirst { case s: FileSourceScanExec =>
        s.metrics("numOutputRows").value }
      .getOrElse(-1L)
    (rows, sec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_layout_probe")
    val spark = graft.Sessions.local(32, 32, "ERROR")

    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"))
    val b = li.agg(
      min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
      min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      .collect()(0)
    def band(lo: Long, hi: Long): (Long, Long) =
      (lo + (hi - lo) * 45 / 100, lo + (hi - lo) * 55 / 100)
    val (plo, phi) = band(b.getLong(0), b.getLong(1))
    val (slo, shi) = band(b.getLong(2), b.getLong(3))

    // many small files => many independent min/max stat units
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").option("maxRecordsPerFile", 10000)
      .parquet(s"$out/natural")
    Layout.zorderKey(li, Seq("l_partkey", "l_suppkey"), bits = 16)
      .repartitionByRange(8, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .write.mode("overwrite").option("maxRecordsPerFile", 10000)
      .parquet(s"$out/zorder")

    val totalRows = li.count()
    Seq("natural", "zorder").foreach { layout =>
      val df = spark.read.parquet(s"$out/$layout")
        .filter(col("l_partkey").between(plo, phi) &&
          col("l_suppkey").between(slo, shi))
      // warm the page cache so the second-layout read isn't advantaged
      df.agg(count(lit(1))).collect()
      val (rows, sec) = scanRows(df)
      println(f"[probe] layout=$layout%-8s scan_rows=$rows%9d " +
        f"of $totalRows%9d (${100.0 * rows / totalRows}%5.1f%%) " +
        f"agg_time=$sec%6.2f s")
    }
    spark.stop()
  }
}
