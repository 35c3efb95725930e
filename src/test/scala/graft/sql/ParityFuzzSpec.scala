package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.tools.ParityFuzz

/** In-suite leg of the differential SQL fuzz (VERDICT r9 directive #6):
  * every seeded case runs BOTH through the facade (dfsql dialect →
  * Dialect.lower → Catalyst, via DataSource.query) and as generator-
  * lowered native Spark SQL over independent `fz_` views; values must
  * match cell-for-cell. This covers the dialect-lowering surface
  * (precedence, `^`→POWER, LIKE→anchored regex, pandas CAST names,
  * `||`, subquery plumbing) with random nesting no hand-written parity
  * list reaches. The DuckDB cross-engine leg of the SAME cases runs via
  * `runMain graft.tools.FuzzDump` + `scripts/check_oracle.py` (verify
  * recipe). Seeds are FIXED: any divergence either leg ever finds gets
  * pinned here as a named regression case.
  */
class ParityFuzzSpec extends SparkSpec {

  private lazy val ds = {
    val meta = suiteTempDir("graft_fuzzspec_meta")
    val d = new graft.catalog.DataSource(spark, meta.toString,
      initialCache = new graft.catalog.DoNothingCache)
    ParityFuzz.tableNames.foreach { t =>
      d.addTable(graft.catalog.FileTable(t, s"$sf0001/$t.parquet"))
      // the native leg reads its own views — independent of the facade's
      // per-statement view registration
      spark.read.parquet(s"$sf0001/$t.parquet")
        .createOrReplaceTempView(s"fz_$t")
    }
    d
  }

  /** Gate-style canonical form: columns sorted by name, rows sorted by
    * stringified values (the driver comparator's shape). */
  private def canon(df: DataFrame): (Seq[String], Seq[Seq[String]]) = {
    val cols = df.columns.sorted.toSeq
    // backtick-quote: the r12 collision shape emits LITERAL dotted names
    // (`a.n_name`), which a bare col() would mis-parse as qualified refs
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString))
      .toSeq.sortBy(_.mkString(""))
    (cols, rows)
  }

  test("seeded differential fuzz: facade dialect ≡ native Spark SQL (120 cases)") {
    val cases = ParityFuzz.cases(42L, 120)
    // cover every shape at least once — a generator regression that
    // stopped emitting a shape would silently shrink coverage (14
    // shapes since r13: +FULL JOIN under naming collisions,
    // +IN-subquery fed by a joined derived table; 12 since r12:
    // +self-join output-naming collision, +join→aggregate composite)
    assert(cases.map(_.name.split("_s").last).distinct.size == 14,
      "shape coverage")
    cases.foreach { c =>
      val (fc, fr) = canon(ds.queryDF(c.dfsql))
      val (nc, nr) = canon(spark.sql(c.sparkSql))
      assert(fc == nc,
        s"${c.name} columns diverged\n  dfsql: ${c.dfsql}\n  spark: ${c.sparkSql}")
      assert(fr == nr,
        s"${c.name} rows diverged (${fr.size} vs ${nr.size})\n" +
          s"  dfsql: ${c.dfsql}\n  spark: ${c.sparkSql}\n" +
          s"  first diff: ${fr.zipAll(nr, Nil, Nil).find { case (a, b) => a != b }}")
    }
  }

  test("fuzz generator is deterministic for a fixed seed") {
    assert(ParityFuzz.cases(42L, 30) == ParityFuzz.cases(42L, 30))
    assert(ParityFuzz.cases(7L, 30) != ParityFuzz.cases(8L, 30))
  }
}
