package graft.tools

import scala.util.Random

/** Differential SQL fuzz for the parity dialect (VERDICT r9 directive
  * #6; grammar extended r11 with derived tables / HAVING aliases /
  * IS TRUE / COUNT DISTINCT, r12 with the self-join output-naming
  * collision shape, RIGHT JOIN, and join→aggregate composites, and r13
  * with FULL JOIN under collisions and IN-subqueries fed by joined
  * derived tables, and r14 with the §2.5 dialect rewrites generated in
  * PREDICATE position — `^`-power comparisons, pandas-CAST-then-LIKE,
  * `bool`-cast predicates — plus the int32/int16 cast names): a
  * seeded generator over the SURVEY.md §2 grammar fence —
  * projection / filter / join / group+having / distinct / order+limit /
  * IN- and scalar subqueries / join-naming collisions, with the
  * dialect's quirk surface (`^` as
  * power, LIKE-as-anchored-regex, pandas CAST names, `||` concat) —
  * each case rendered THREE ways from one AST (rule 12's one-definition
  * pattern, applied to test generation):
  *
  *   - `dfsql`:    the reference dialect, executed through the facade
  *                 (`DataSource.query` → Dialect.lower → Catalyst);
  *   - `sparkSql`: plain Spark SQL with the quirks pre-lowered by the
  *                 GENERATOR (independent of Dialect.scala), over
  *                 `fz_`-prefixed views — the in-suite differential leg
  *                 (ParityFuzzSpec: facade ≡ native, values compared);
  *   - `duckSql`:  DuckDB SQL — the cross-engine leg, exercised by
  *                 `tools.FuzzDump` + `scripts/check_oracle.py` exactly
  *                 like the Verify gate (run it whenever the dialect or
  *                 generator changes).
  *
  * Constructs with known benign cross-engine representation gaps follow
  * the gate rules: sums render `CAST(... AS BIGINT)` on the DuckDB side
  * (HUGEINT), no doubles are summed, no LIMIT without a unique total
  * order. Every divergence the fuzz ever finds must be pinned as a
  * named regression case in ParityFuzzSpec.
  */
object ParityFuzz {

  /** One generated case; `name` is stable for a given (seed, index). */
  final case class FuzzCase(
      name: String, dfsql: String, sparkSql: String, duckSql: String)

  /** A fragment rendered for the three engines. */
  private final case class R(df: String, sp: String, dk: String) {
    def +(o: R): R = R(df + o.df, sp + o.sp, dk + o.dk)
  }
  private def same(s: String) = R(s, s, s)

  private final case class Tbl(
      name: String, pk: String, ints: Seq[String], strs: Seq[String]) {
    def ref: R = R(name, "fz_" + name, name)
    def cols: Seq[String] = ints ++ strs
  }
  private val region =
    Tbl("region", "r_regionkey", Seq("r_regionkey"), Seq("r_name"))
  private val nation =
    Tbl("nation", "n_nationkey", Seq("n_nationkey", "n_regionkey"),
      Seq("n_name"))
  private val customer =
    Tbl("customer", "c_custkey", Seq("c_custkey", "c_nationkey"),
      Seq("c_name", "c_mktsegment"))
  private val tables = Seq(region, nation, customer)

  /** The tables the fixtures need registered (facade + views + DuckDB). */
  val tableNames: Seq[String] = tables.map(_.name)

  private def pick[A](rnd: Random, xs: Seq[A]): A = xs(rnd.nextInt(xs.size))

  // ---- expressions ----

  private def intExpr(rnd: Random, t: Tbl, depth: Int = 0): R = {
    val atom = same(pick(rnd, t.ints))
    if (depth >= 2) atom
    else rnd.nextInt(5) match {
      case 0 => atom
      case 1 => // arithmetic with a small literal; all operands ≥ 0
        val k = 2 + rnd.nextInt(6)
        val op = pick(rnd, Seq("+", "-", "*", "%"))
        val a = intExpr(rnd, t, depth + 1)
        if (op == "-") R(s"(${a.df} + $k - $k)", s"(${a.sp} + $k - $k)",
          s"(${a.dk} + $k - $k)") // keep values non-negative for % safety
        else R(s"(${a.df} $op $k)", s"(${a.sp} $op $k)", s"(${a.dk} $op $k)")
      case 2 =>
        val a = intExpr(rnd, t, depth + 1)
        val b = intExpr(rnd, t, depth + 1)
        R(s"(${a.df} + ${b.df})", s"(${a.sp} + ${b.sp})", s"(${a.dk} + ${b.dk})")
      case _ => atom
    }
  }

  private def strExpr(rnd: Random, t: Tbl): R = {
    val c = pick(rnd, t.strs)
    rnd.nextInt(4) match {
      case 0 => same(c)
      case 1 => same(s"UPPER($c)")
      case 2 => same(s"LOWER($c)")
      case _ =>
        val c2 = pick(rnd, t.strs)
        same(s"($c || '_' || $c2)")
    }
  }

  /** The dialect-quirk items: `^` power, pandas/numpy CAST names
    * (r14: the full §2.5 name table — int32/int16 added; both legs
    * cast to the SAME width so the parquet/pandas dtypes agree
    * cross-engine, the symmetric-cast discipline of CLAUDE.md rule 1). */
  private def quirkExpr(rnd: Random, t: Tbl): R = {
    val c = pick(rnd, t.ints)
    rnd.nextInt(5) match {
      case 0 =>
        val k = 2 + rnd.nextInt(2)
        R(s"($c ^ $k)", s"POWER($c, $k)", s"POWER($c, $k)")
      case 1 =>
        R(s"CAST($c AS str)", s"CAST($c AS STRING)", s"CAST($c AS VARCHAR)")
      case 2 =>
        R(s"CAST($c AS int32)", s"CAST($c AS INT)", s"CAST($c AS INTEGER)")
      case 3 => // int16 stays on the bounded keys (regionkey ≤ 4,
        // nationkey ≤ 24) so no SF regen can overflow it under ANSI
        val sc = pick(rnd, Seq("r_regionkey", "n_nationkey", "n_regionkey",
          "c_nationkey").filter(t.ints.contains))
        R(s"CAST($sc AS int16)", s"CAST($sc AS SMALLINT)",
          s"CAST($sc AS SMALLINT)")
      case _ =>
        R(s"CAST($c AS float64)", s"CAST($c AS DOUBLE)", s"CAST($c AS DOUBLE)")
    }
  }

  private def selectItem(rnd: Random, t: Tbl): R =
    rnd.nextInt(4) match {
      case 0 => intExpr(rnd, t)
      case 1 => strExpr(rnd, t)
      case 2 => quirkExpr(rnd, t)
      case _ => same(pick(rnd, t.cols))
    }

  // ---- predicates ----

  private val regexPats = Seq("A.*", "C.*", "[A-M].*", ".*a.*", "I.*N.*")

  private def pred(rnd: Random, t: Tbl, depth: Int = 0): R =
    rnd.nextInt(if (depth >= 2) 5 else 10) match {
      case 7 => // `^`-as-power INSIDE a comparison (r13 directive #5:
        // the Dialect rewrite exercised in predicate position, where a
        // mis-lowered `^` would silently become XOR and flip rows
        // rather than break the schema)
        val c = pick(rnd, t.ints)
        val k = 1 + rnd.nextInt(400)
        val op = pick(rnd, Seq("<", "<=", ">", ">="))
        R(s"($c ^ 2) $op $k", s"POWER($c, 2) $op $k", s"POWER($c, 2) $op $k")
      case 8 => // pandas CAST name composed with anchored-regex LIKE:
        // the int column goes through `str` and the match runs on its
        // decimal rendering — two §2.5 rewrites on one path
        val c = pick(rnd, t.ints)
        val p = pick(rnd, Seq("1.*", "2.*", "[0-9]", ".*0"))
        R(s"CAST($c AS str) LIKE '$p'",
          s"CAST($c AS STRING) RLIKE '^(?:$p)'",
          s"regexp_matches(CAST($c AS VARCHAR), '^(?:$p)')")
      case 9 => // `bool` cast name as the predicate itself (nonzero →
        // true in both engines; the operand is a % so it is 0/1-valued
        // and no SF regen changes the truth set shape)
        val c = pick(rnd, t.ints)
        val m = 2 + rnd.nextInt(3)
        R(s"CAST($c % $m AS bool)", s"CAST($c % $m AS BOOLEAN)",
          s"CAST($c % $m <> 0 AS BOOLEAN)")
      case 0 =>
        val a = intExpr(rnd, t)
        val op = pick(rnd, Seq("=", "!=", "<", "<=", ">", ">="))
        val k = rnd.nextInt(30)
        R(s"${a.df} $op $k", s"${a.sp} $op $k", s"${a.dk} $op $k")
      case 1 => // dialect LIKE = anchored regex (re.match semantics)
        val c = pick(rnd, t.strs)
        val p = pick(rnd, regexPats)
        R(s"$c LIKE '$p'", s"$c RLIKE '^(?:$p)'",
          s"regexp_matches($c, '^(?:$p)')")
      case 2 => same(s"${pick(rnd, t.cols)} IS NOT NULL")
      case 3 =>
        val c = pick(rnd, t.ints)
        val ks = Seq.fill(3)(rnd.nextInt(25)).distinct.mkString(", ")
        same(s"$c IN ($ks)")
      case 4 =>
        val c = pick(rnd, t.strs)
        // alternate with the §2 IS TRUE/FALSE quirk on a comparison
        if (rnd.nextBoolean()) same(s"$c IS NULL")
        else {
          val ic = pick(rnd, t.ints)
          val k = rnd.nextInt(20)
          val form = pick(rnd, Seq("TRUE", "FALSE"))
          same(s"($ic >= $k) IS $form")
        }
      case 5 =>
        val a = pred(rnd, t, depth + 1)
        val b = pred(rnd, t, depth + 1)
        val op = pick(rnd, Seq("AND", "OR"))
        R(s"(${a.df} $op ${b.df})", s"(${a.sp} $op ${b.sp})",
          s"(${a.dk} $op ${b.dk})")
      case _ =>
        val a = pred(rnd, t, depth + 1)
        R(s"(NOT ${a.df})", s"(NOT ${a.sp})", s"(NOT ${a.dk})")
    }

  // ---- aggregates ----

  private def aggItem(rnd: Random, t: Tbl, alias: String): R =
    rnd.nextInt(5) match {
      case 4 =>
        val c = pick(rnd, t.cols)
        same(s"COUNT(DISTINCT $c) AS $alias")
      case 0 => same(s"COUNT(*) AS $alias")
      case 1 =>
        val e = intExpr(rnd, t)
        R(s"SUM(${e.df}) AS $alias", s"SUM(${e.sp}) AS $alias",
          s"CAST(SUM(${e.dk}) AS BIGINT) AS $alias")
      case 2 =>
        val c = pick(rnd, t.ints)
        val f = pick(rnd, Seq("MIN", "MAX"))
        same(s"$f($c) AS $alias")
      case _ =>
        val c = pick(rnd, t.strs)
        val f = pick(rnd, Seq("MIN", "MAX"))
        same(s"$f($c) AS $alias")
    }

  // ---- query shapes ----

  private def aliased(items: Seq[R]): Seq[R] =
    items.zipWithIndex.map { case (r, i) =>
      R(s"${r.df} AS e$i", s"${r.sp} AS e$i", s"${r.dk} AS e$i")
    }

  private def joinList(rs: Seq[R], sep: String = ", "): R =
    R(rs.map(_.df).mkString(sep), rs.map(_.sp).mkString(sep),
      rs.map(_.dk).mkString(sep))

  private def genCase(rnd: Random, idx: Int): FuzzCase = {
    val t = pick(rnd, tables)
    val shape = rnd.nextInt(14)
    val q: R = shape match {
      case 12 => // FULL JOIN under output-naming collisions (r12
        // directive #6): a self FULL JOIN on two DIFFERENT int columns,
        // so BOTH sides carry unmatched rows (null-extended on the
        // other side) AND every output name collides — the two §2
        // behaviors (JoinNaming + full-outer null extension) composed.
        val st = pick(rnd, tables)
        val k1 = st.pk
        val k2 = pick(rnd, st.ints)
        val c = pick(rnd, st.strs)
        R(
          s"SELECT a.$k1, b.$k1, a.$c, b.$c FROM ${st.name} AS a " +
            s"FULL JOIN ${st.name} AS b ON a.$k1 = b.$k2",
          s"SELECT a.$k1 AS `a.$k1`, b.$k1 AS `b.$k1`, " +
            s"a.$c AS `a.$c`, b.$c AS `b.$c` FROM fz_${st.name} AS a " +
            s"FULL JOIN fz_${st.name} AS b ON a.$k1 = b.$k2",
          s"""SELECT a.$k1 AS "a.$k1", b.$k1 AS "b.$k1", """ +
            s"""a.$c AS "a.$c", b.$c AS "b.$c" FROM ${st.name} AS a """ +
            s"FULL JOIN ${st.name} AS b ON a.$k1 = b.$k2")
      case 13 => // IN (subquery) whose subquery is itself a JOIN fed
        // through a derived table (r12 directive #6): the s5 semi-join
        // composed with the s8 derived-table shape — alias scoping
        // inside the IN subquery is the fiddly part.
        val p = pred(rnd, region)
        val items = joinList(aliased(Seq(selectItem(rnd, customer))))
        same(s"SELECT ${customer.pk} AS pk, ") + items +
          same(" FROM ") + customer.ref +
          same(" WHERE c_nationkey IN (SELECT nk FROM " +
            "(SELECT n_nationkey AS nk, r_name FROM ") + nation.ref +
          same(" JOIN ") + region.ref +
          same(" ON n_regionkey = r_regionkey WHERE ") + p +
          same(") t)")
      case 10 => // self-join output-naming collision (r11 directive #6):
        // both sides expose the SAME column names, so the facade must
        // emit `alias.col` for every collided output (JoinNaming;
        // reference base_data_source.py:493-506). The pre-lowered legs
        // pin the EXPECTED names explicitly (backticks / double quotes),
        // so the contract is checked by schema AND values, cross-engine.
        val st = pick(rnd, tables)
        val key = pick(rnd, st.ints)
        val c = pick(rnd, st.strs)
        val kmax = 2 + rnd.nextInt(8)
        R(
          s"SELECT a.${st.pk}, b.${st.pk}, a.$c, b.$c FROM ${st.name} AS a " +
            s"INNER JOIN ${st.name} AS b ON a.$key = b.$key " +
            s"WHERE a.${st.pk} < $kmax",
          s"SELECT a.${st.pk} AS `a.${st.pk}`, b.${st.pk} AS `b.${st.pk}`, " +
            s"a.$c AS `a.$c`, b.$c AS `b.$c` FROM fz_${st.name} AS a " +
            s"INNER JOIN fz_${st.name} AS b ON a.$key = b.$key " +
            s"WHERE a.${st.pk} < $kmax",
          s"""SELECT a.${st.pk} AS "a.${st.pk}", b.${st.pk} AS "b.${st.pk}", """ +
            s"""a.$c AS "a.$c", b.$c AS "b.$c" FROM ${st.name} AS a """ +
            s"INNER JOIN ${st.name} AS b ON a.$key = b.$key " +
            s"WHERE a.${st.pk} < $kmax")
      case 11 => // join feeding an aggregate (the q03-over-q09 composite
        // the grammar never composed before): grouping key from the
        // RIGHT side, summed expression from the LEFT
        val (l, r2, lk, rk, g) = pick(rnd, Seq(
          (customer, nation, "c_nationkey", "n_nationkey", "n_regionkey"),
          (nation, region, "n_regionkey", "r_regionkey", "r_regionkey")))
        val su = pick(rnd, l.ints)
        val hv =
          if (rnd.nextBoolean()) s" HAVING COUNT(*) >= ${1 + rnd.nextInt(3)}"
          else ""
        R(
          s"SELECT $g AS g, COUNT(*) AS a1, SUM($su) AS a2 FROM ${l.name} " +
            s"JOIN ${r2.name} ON $lk = $rk GROUP BY $g$hv",
          s"SELECT $g AS g, COUNT(*) AS a1, SUM($su) AS a2 FROM fz_${l.name} " +
            s"JOIN fz_${r2.name} ON $lk = $rk GROUP BY $g$hv",
          s"SELECT $g AS g, COUNT(*) AS a1, CAST(SUM($su) AS BIGINT) AS a2 " +
            s"FROM ${l.name} JOIN ${r2.name} ON $lk = $rk GROUP BY $g$hv")
      case 8 => // FROM (subquery) derived table (q13 shape)
        val g = pick(rnd, t.ints)
        val h = 1 + rnd.nextInt(3)
        same(s"SELECT g, a1 FROM (SELECT $g AS g, COUNT(*) AS a1 FROM ") +
          t.ref + same(s" GROUP BY $g) t WHERE a1 >= $h")
      case 9 => // GROUP BY expression + HAVING on the AGG ALIAS: the
        // dialect makes SELECT aliases visible in HAVING, so the df leg
        // references a1 while the pre-lowered legs repeat the aggregate
        val c = pick(rnd, t.ints)
        val m = 2 + rnd.nextInt(4)
        val h = 1 + rnd.nextInt(2)
        R(s"SELECT ($c % $m) AS g, COUNT(*) AS a1 FROM ${t.name} " +
            s"GROUP BY $c % $m HAVING a1 >= $h",
          s"SELECT ($c % $m) AS g, COUNT(*) AS a1 FROM fz_${t.name} " +
            s"GROUP BY $c % $m HAVING COUNT(*) >= $h",
          s"SELECT ($c % $m) AS g, COUNT(*) AS a1 FROM ${t.name} " +
            s"GROUP BY ($c % $m) HAVING COUNT(*) >= $h")
      case 0 => // projection [+ filter]
        val items = joinList(aliased(Seq.fill(1 + rnd.nextInt(3))(selectItem(rnd, t))))
        val w = if (rnd.nextBoolean()) {
          val p = pred(rnd, t)
          R(s" WHERE ${p.df}", s" WHERE ${p.sp}", s" WHERE ${p.dk}")
        } else same("")
        same("SELECT ") + items + same(" FROM ") + t.ref + w
      case 1 => // DISTINCT
        val items = joinList(aliased(Seq.fill(1 + rnd.nextInt(2))(selectItem(rnd, t))))
        same("SELECT DISTINCT ") + items + same(" FROM ") + t.ref
      case 2 => // inner/left join
        val (l, r2, cond) = pick(rnd, Seq(
          (nation, region, "n_regionkey = r_regionkey"),
          (customer, nation, "c_nationkey = n_nationkey")))
        val jt = pick(rnd, Seq("JOIN", "LEFT JOIN", "RIGHT JOIN"))
        val items = joinList(aliased(
          Seq(selectItem(rnd, l), selectItem(rnd, r2))))
        val w = if (rnd.nextBoolean()) {
          val p = pred(rnd, l)
          R(s" WHERE ${p.df}", s" WHERE ${p.sp}", s" WHERE ${p.dk}")
        } else same("")
        same("SELECT ") + items + same(" FROM ") + l.ref +
          same(s" $jt ") + r2.ref + same(s" ON $cond") + w
      case 3 => // group by [+ having]
        val g = pick(rnd, t.ints)
        val aggs = joinList((1 to (1 + rnd.nextInt(2)))
          .map(i => aggItem(rnd, t, s"a$i")))
        val hv =
          if (rnd.nextBoolean()) same(s" HAVING COUNT(*) >= ${1 + rnd.nextInt(2)}")
          else same("")
        same(s"SELECT $g AS g, ") + aggs + same(" FROM ") + t.ref +
          same(s" GROUP BY $g") + hv
      case 4 => // total order + limit/offset over the pk (unique)
        val extra = aliased(Seq(selectItem(rnd, t))).head
        val lim = 3 + rnd.nextInt(7)
        val off = if (rnd.nextBoolean()) s" OFFSET ${rnd.nextInt(4)}" else ""
        same(s"SELECT ${t.pk} AS pk, ") + extra + same(" FROM ") + t.ref +
          same(s" ORDER BY ${t.pk} LIMIT $lim$off")
      case 5 => // IN (subquery)
        val (outer, inner, oKey, iKey) = pick(rnd, Seq(
          (nation, region, "n_regionkey", "r_regionkey"),
          (customer, nation, "c_nationkey", "n_nationkey")))
        val p = pred(rnd, inner)
        val items = joinList(aliased(Seq(selectItem(rnd, outer))))
        same("SELECT ") + items + same(" FROM ") + outer.ref +
          same(s" WHERE $oKey IN (SELECT $iKey FROM ") + inner.ref +
          same(" WHERE ") + p + same(")")
      case 6 => // scalar subquery
        val items = joinList(aliased(Seq(selectItem(rnd, nation))))
        val f = pick(rnd, Seq("MIN", "MAX"))
        same("SELECT ") + items + same(" FROM ") + nation.ref +
          same(s" WHERE n_nationkey >= (SELECT $f(r_regionkey) FROM ") +
          region.ref + same(")")
      case _ => // quirk showcase: every dialect rewrite in one statement
        val c = pick(rnd, t.ints)
        val s = pick(rnd, t.strs)
        val p = pick(rnd, regexPats)
        R(s"SELECT ($c ^ 2) AS e0, CAST($c AS str) AS e1, " +
            s"($s || '!') AS e2 FROM ${t.name} WHERE $s LIKE '$p'",
          s"SELECT POWER($c, 2) AS e0, CAST($c AS STRING) AS e1, " +
            s"($s || '!') AS e2 FROM fz_${t.name} WHERE $s RLIKE '^(?:$p)'",
          s"SELECT POWER($c, 2) AS e0, CAST($c AS VARCHAR) AS e1, " +
            s"($s || '!') AS e2 FROM ${t.name} " +
            s"WHERE regexp_matches($s, '^(?:$p)')")
    }
    FuzzCase(f"fz$idx%03d_s$shape", q.df, q.sp, q.dk)
  }

  /** Deterministic case list for (seed, n). */
  def cases(seed: Long, n: Int): Seq[FuzzCase] = {
    val rnd = new Random(seed)
    (0 until n).map(i => genCase(rnd, i))
  }
}

/** Dump the fuzz cases through the FACADE in the Verify layout, so
  * `scripts/check_oracle.py <sfDir> <outDir>` replays the duckSql side
  * in DuckDB and value-compares — the cross-engine leg of the fuzz.
  *
  * Usage: runMain graft.tools.FuzzDump [sfDir] [outDir] [seed] [n]
  */
object FuzzDump {

  /** The gate's fixed fuzz corpus (VERDICT r10 directive #3): Verify
    * embeds exactly these so every round's CORRECTNESS gate replays the
    * same seeded cases — change them only with a new spec run. */
  val GateSeed = 42L
  val GateN = 200

  /** Dump the (seed, n) case results through the FACADE into `outDir`
    * in the Verify layout. Returns (failedNames, name -> duckSql).
    * Shared by the standalone main and `graft.Verify`'s in-gate leg, so
    * the cross-engine fuzz can never drift from what the gate checks. */
  def dumpCases(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      outDir: String, seed: Long, n: Int): (Seq[String], Seq[(String, String)]) = {
    val meta = graft.queries.Staging.tempDir("graft_fuzz_meta") // removed at exit
    val ds = new graft.catalog.DataSource(spark, meta.toString,
      initialCache = new graft.catalog.DoNothingCache)
    ParityFuzz.tableNames.foreach(t =>
      ds.addTable(graft.catalog.FileTable(t, s"$sfDir/$t.parquet")))
    new java.io.File(outDir).mkdirs()
    val cases = ParityFuzz.cases(seed, n)
    // generator stats (r11 directive #6's Done criterion): the shape
    // histogram proves the join/naming/IN nodes are measurably present
    val hist = cases.groupBy(_.name.split("_s").last).toSeq
      .sortBy(_._1.toInt).map { case (s, cs) => s"s$s=${cs.size}" }
    System.err.println(s"[fuzz] shape histogram: ${hist.mkString(" ")}")
    // dialect-rewrite feature counts (r13 directive #5's Done
    // criterion): how many cases exercise each §2.5 lowering path —
    // counted on the dfsql leg, i.e. BEFORE Dialect.lower runs
    val feat = Seq(
      "power^" -> cases.count(_.dfsql.contains(" ^ ")),
      "castName" -> cases.count(c => Seq("AS str", "AS float64", "AS int32",
        "AS int16", "AS bool").exists(c.dfsql.contains)),
      "likeRegex" -> cases.count(_.dfsql.contains(" LIKE ")),
      "concat||" -> cases.count(_.dfsql.contains("||")))
    System.err.println("[fuzz] dialect features: " +
      feat.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    cases.foreach { c =>
      try ds.queryDF(c.dfsql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${c.name}")
      catch { case e: Throwable =>
        failed += c.name
        System.err.println(s"[fuzz] ${c.name} FAILED: ${e.getMessage}\n  ${c.dfsql}")
      }
    }
    (failed.toSeq, cases.map(c => c.name -> c.duckSql))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_fuzz")
    val seed = args.lift(2).map(_.toLong).getOrElse(GateSeed)
    val n = args.lift(3).map(_.toInt).getOrElse(GateN)
    val spark = graft.Sessions.local(graft.Sessions.cores(4), 4)
    val (failedNames, sqls) = dumpCases(spark, sfDir, outDir, seed, n)
    val failed = failedNames.size
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    }
    val json = sqls.map { case (name, sql) => s""""$name": "${esc(sql)}"""" }
      .mkString("{", ", ", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      json.getBytes("UTF-8"))
    System.err.println(s"[fuzz] SUMMARY: ${sqls.size - failed}/${sqls.size} dumped, $failed failed (seed=$seed)")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
