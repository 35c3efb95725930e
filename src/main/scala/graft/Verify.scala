package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — subset mode for
    // fast local iteration (oracle_sql.json is filtered to match, so
    // scripts/check_oracle.py composes). The driver passes 2 args.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val cpus = Sessions.cores(4)
    val spark = Sessions.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // Per-query isolation: one broken query must not void the other ~177
    // dumps. But a swallowed failure becomes an ABSENT gate entry (round
    // 7 lost 31 entries to one loader bug before anyone noticed), so the
    // failures are re-announced in one summary line at the end — grep
    // '\[verify\] SUMMARY' after any run.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // VERDICT r10 directive #3: the cross-engine FUZZ leg runs inside
    // the standard gate — the same fixed (seed, n) differential cases
    // the in-suite ParityFuzzSpec checks facade≡Spark are dumped into
    // this outDir and their DuckDB SQL merged into oracle_sql.json, so
    // check_oracle.py value-compares fz_* cases every round and a
    // dialect regression fails the GATE, not a manually-run memory.
    // Skipped in subset mode (local single-query iteration) — the
    // driver always runs full mode. A fuzz case that throws lands in
    // `failed` like any registered query: loud, absent from the gate.
    val fuzzSql: Seq[(String, String)] =
      if (only.isDefined) Seq.empty
      else {
        val (fuzzFailed, sqls) = graft.tools.FuzzDump.dumpCases(
          spark, sfDir, outDir,
          graft.tools.FuzzDump.GateSeed, graft.tools.FuzzDump.GateN)
        failed ++= fuzzFailed
        sqls
      }
    val total = SparkEntry.queries.count(kv => keep(kv._1)) + fuzzSql.size
    // name any table registerAll had to skip: a skipped table is the
    // usual ROOT CAUSE of the sql-surface failures above, and without
    // this line the SUMMARY can't distinguish "table skipped" from
    // "query broken"
    val regFailed = Tables.registerFailuresSeen.get()
    val regNote =
      if (regFailed.isEmpty) ""
      else s"; tables skipped by registerAll: ${regFailed.toSeq.sorted.mkString(", ")}"
    System.err.println(
      if (failed.isEmpty)
        s"[verify] SUMMARY: $total/$total queries dumped, 0 failed$regNote"
      else s"[verify] SUMMARY: ${total - failed.size}/$total dumped; " +
        s"${failed.size} FAILED (will be ABSENT from the gate): " +
        s"${failed.mkString(", ")}$regNote")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = (SparkEntry.oracleSql.filter(kv => keep(kv._1)).toSeq ++ fuzzSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
