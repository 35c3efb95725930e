package graft.api

import org.apache.spark.sql.{DataFrame, Row}

import graft.{DfsqlException, SparkSpec}
import graft.api.DfSql.SqlOps
import graft.catalog.StatementLru

class DfSqlSpec extends SparkSpec {

  private lazy val li = graft.Tables.load(spark, sf0001, "lineitem")
  private lazy val cust = graft.Tables.load(spark, sf0001, "customer")

  test("sqlQuery joins two passed DataFrames") {
    val out = DfSql.sqlQuery(
      "SELECT count(*) AS n FROM li JOIN cust ON li.l_orderkey % 150 = cust.c_custkey",
      "li" -> li, "cust" -> cust)
    assert(out.head.getLong(0) > 0)
  }

  test("sqlQuery rejects bindings missing from the SQL text") {
    assertThrows[DfsqlException] {
      DfSql.sqlQuery("SELECT 1", "unused_table" -> li)
    }
  }

  test("sqlQuery rejects an empty binding set") {
    assertThrows[DfsqlException](DfSql.sqlQuery("SELECT 1"))
  }

  test("unbound table raises DfsqlException, and a retry succeeds (test_error_wrong_table_name)") {
    // reference: sql_query(sql, wrong_table=df) fails twice over — the
    // binding isn't referenced AND the referenced table isn't bound;
    // binding correctly afterwards must work (no stale session state)
    assertThrows[DfsqlException] {
      DfSql.sqlQuery("SELECT l_orderkey FROM whatever_table", "wrong_table" -> li)
    }
    val ok = DfSql.sqlQuery(
      "SELECT l_orderkey FROM whatever_table", "whatever_table" -> li)
    assert(ok.columns.toSeq === Seq("l_orderkey"))
    assert(ok.count() === li.count())
  }

  test("extra unreferenced bindings are rejected (test_error_extra_tables)") {
    assertThrows[DfsqlException] {
      DfSql.sqlQuery("SELECT l_orderkey FROM whatever_table",
        "whatever_table" -> li, "extra_table" -> cust)
    }
  }

  test("backticked caps columns and function-shaped aliases (test_caps_column_names_dataframe)") {
    import spark.implicits._
    val df = Seq((2, "2021-02-27", 3626L), (2, "2021-02-28", 5012L))
      .toDF("ROUTE", "DATE", "RIDES")
    val out = DfSql.sqlQuery(
      """SELECT `DATE` AS __timestamp, AVG(`RIDES`) AS `AVG(RIDES)`
        |FROM tab GROUP BY `DATE` ORDER BY __timestamp""".stripMargin,
      "tab" -> df)
    assert(out.columns.toSeq === Seq("__timestamp", "AVG(RIDES)"))
    assert(out.collect().map(_.getDouble(1)).toSeq === Seq(3626.0, 5012.0))
  }

  test("df.sql with implicit FROM") {
    val n = li.sql("SELECT count(*) AS n").head.getLong(0)
    assert(n === li.count())
  }

  test("df.sql with WHERE and aggregation") {
    val out = li.sql(
      "SELECT l_returnflag, count(*) AS n WHERE l_quantity > 10 GROUP BY l_returnflag ORDER BY l_returnflag")
    assert(out.columns.toSeq === Seq("l_returnflag", "n"))
    assert(out.count() === 3)
  }

  test("df.sql nested IN subquery gets both FROMs injected") {
    val out = li.sql(
      "SELECT l_orderkey WHERE l_orderkey IN (SELECT l_orderkey WHERE l_quantity > 49)")
    assert(out.count() > 0)
  }

  test("df.sql addresses literal dotted columns from a join result") {
    val joined = graft.api.DfSql.sqlQuery(
      "SELECT * FROM a JOIN b ON a.c_custkey = b.c_custkey",
      "a" -> cust, "b" -> cust)
    val renamed = graft.sql.JoinNaming.disambiguate(joined)
    assert(renamed.columns.contains("a.c_name"))
    val out = renamed.sql("SELECT a.c_name WHERE a.c_custkey < 5 ORDER BY a.c_name")
    assert(out.columns.toSeq === Seq("a.c_name"))
    assert(out.count() === 5)
  }

  test("temp view is cleaned up after sqlQuery") {
    DfSql.sqlQuery("SELECT count(*) AS n FROM cleanup_check",
      "cleanup_check" -> li)
    assert(!spark.catalog.tableExists("cleanup_check"))
  }

  test("regression: duplicate output aliases error on the sqlQuery path too") {
    assertThrows[graft.QueryExecutionException] {
      DfSql.sqlQuery("SELECT l_orderkey AS x, l_partkey AS x FROM li", "li" -> li)
    }
  }

  test("regression: a pre-existing temp view sharing a binding name survives") {
    cust.limit(3).createOrReplaceTempView("shared_name")
    DfSql.sqlQuery("SELECT count(*) AS n FROM shared_name", "shared_name" -> li)
    // the user's original view is still there with its original contents
    assert(spark.catalog.tableExists("shared_name"))
    assert(spark.table("shared_name").count() === 3)
    spark.catalog.dropTempView("shared_name")
  }

  test("an unbound table's message is the reference's exact string") {
    val e = intercept[DfsqlException] {
      DfSql.sqlQuery(
        "SELECT count(*) AS n FROM li JOIN whatever_table ON li.l_orderkey = whatever_table.k",
        "li" -> li)
    }
    assert(e.getMessage === "Unknown table whatever_table")
  }

  // ---- reuse: a repeated call gets the executed DataFrame of the earlier one

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Two fresh persisted frames: orders (o_id, c_id, amt) and cust (c_id, name). */
  private def persisted(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val orders = Seq((1, 1, 10L), (2, 1, 5L), (3, 2, 7L), (4, 3, 1L))
      .toDF("o_id", "c_id", "amt").persist()
    val cust = Seq((1, "ann"), (2, "bob"), (3, "cy")).toDF("c_id", "name").persist()
    (orders, cust)
  }

  private val joinAgg = """SELECT c.name, sum(o.amt) AS total, count(*) AS n
    |FROM orders o JOIN cust c ON o.c_id = c.c_id
    |GROUP BY c.name ORDER BY c.name""".stripMargin
  private val joinAggRows = Seq(Row("ann", 15L, 2L), Row("bob", 7L, 1L), Row("cy", 1L, 1L))

  test("reuse: a repeated sqlQuery over persisted frames reruns only its " +
    "result stage and compiles nothing") {
    val (orders, cust) = persisted()
    def call() = DfSql.sqlQuery(joinAgg, "orders" -> orders, "cust" -> cust)
    val (first, _, _) = jobsAndCompiles(rows(call()))
    val (second, jobs2, compiles2) = jobsAndCompiles(rows(call()))
    assert(first === joinAggRows)
    assert(second === first)
    assert(jobs2 === 1, s"the hit ran $jobs2 jobs")
    assert(compiles2 === 0L, s"the hit compiled $compiles2 codegen classes")
    assert(call() eq call())
  }

  test("reuse: a repeated df.sql over a persisted frame reruns only its " +
    "result stage and compiles nothing") {
    val (orders, _) = persisted()
    def call() = orders.sql(
      "SELECT c_id, sum(amt) AS total WHERE amt > 1 GROUP BY c_id ORDER BY c_id")
    val (first, _, _) = jobsAndCompiles(rows(call()))
    val (second, jobs2, compiles2) = jobsAndCompiles(rows(call()))
    assert(first === Seq(Row(1, 15L), Row(2, 7L)))
    assert(second === first)
    assert(jobs2 === 1, s"the hit ran $jobs2 jobs")
    assert(compiles2 === 0L, s"the hit compiled $compiles2 codegen classes")
    assert(call() eq call())
  }

  test("reuse: another frame object with an equal plan misses") {
    val (orders, cust) = persisted()
    val first = DfSql.sqlQuery(joinAgg, "orders" -> orders, "cust" -> cust)
    val twin = orders.toDF() // a new Dataset over the same plan and cache entry
    assert(twin ne orders)
    val other = DfSql.sqlQuery(joinAgg, "orders" -> twin, "cust" -> cust)
    assert(other ne first)
    assert(rows(other) === joinAggRows)
  }

  test("reuse: an unpersisted or never-persisted frame never reuses") {
    val (orders, cust) = persisted()
    val sql = "SELECT count(*) AS n FROM orders"
    val first = DfSql.sqlQuery(sql, "orders" -> orders)
    assert(DfSql.sqlQuery(sql, "orders" -> orders) eq first)
    orders.unpersist(blocking = true)
    val after = DfSql.sqlQuery(sql, "orders" -> orders)
    assert(after ne first)
    assert(DfSql.sqlQuery(sql, "orders" -> orders) ne after)
    assert(rows(after) === Seq(Row(4L)))
    // persisted anew: a new cache entry, so the old frame is not served
    orders.persist()
    val again = DfSql.sqlQuery(sql, "orders" -> orders)
    assert(again ne first)
    assert(DfSql.sqlQuery(sql, "orders" -> orders) eq again)
    val plain = cust.unpersist(blocking = true).select("*")
    assert(DfSql.sqlQuery("SELECT name FROM cust", "cust" -> plain) ne
      DfSql.sqlQuery("SELECT name FROM cust", "cust" -> plain))
  }

  test("reuse: rand(), current_timestamp() and session variables are never reused") {
    val (orders, _) = persisted()
    Seq(
      "SELECT o_id, rand() AS r FROM orders",
      "SELECT o_id, current_timestamp() AS ts FROM orders",
      "SELECT o_id FROM orders WHERE o_id IN (SELECT o_id FROM orders WHERE rand() < 2.0)"
    ).foreach { sql =>
      assert(DfSql.sqlQuery(sql, "orders" -> orders) ne
        DfSql.sqlQuery(sql, "orders" -> orders), sql)
    }
    spark.sql("DECLARE VARIABLE dfsql_reuse_v INT DEFAULT 1")
    try {
      val sql = "SELECT sum(amt + dfsql_reuse_v) AS s FROM orders"
      assert(rows(DfSql.sqlQuery(sql, "orders" -> orders)) === Seq(Row(27L)))
      spark.sql("SET VAR dfsql_reuse_v = 2")
      assert(rows(DfSql.sqlQuery(sql, "orders" -> orders)) === Seq(Row(31L)))
    } finally spark.sql("DROP TEMPORARY VARIABLE dfsql_reuse_v")
  }

  test("reuse: a changed session conf misses") {
    val (orders, _) = persisted()
    val sql = "SELECT o_id FROM orders ORDER BY o_id"
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getAll.get(key)
    val first = DfSql.sqlQuery(sql, "orders" -> orders)
    try {
      spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
      val flipped = DfSql.sqlQuery(sql, "orders" -> orders)
      assert(flipped ne first)
      assert(DfSql.sqlQuery(sql, "orders" -> orders) eq flipped)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(DfSql.sqlQuery(sql, "orders" -> orders) eq first)
  }

  test("reuse: a statement that reads a session view or re-registered " +
    "function outside its bindings misses") {
    import spark.implicits._
    val (orders, _) = persisted()
    val sql = "SELECT count(*) AS n FROM orders WHERE o_id IN (SELECT k FROM outside_view)"
    Seq(1, 2).toDF("k").createOrReplaceTempView("outside_view")
    try {
      assert(rows(DfSql.sqlQuery(sql, "orders" -> orders)) === Seq(Row(2L)))
      Seq(1, 2, 3).toDF("k").createOrReplaceTempView("outside_view")
      assert(rows(DfSql.sqlQuery(sql, "orders" -> orders)) === Seq(Row(3L)))
    } finally spark.catalog.dropTempView("outside_view")
    val udf = "SELECT dfsql_reuse_f(amt) AS v FROM orders ORDER BY v"
    try {
      spark.udf.register("dfsql_reuse_f", (a: Long) => a + 1)
      val first = DfSql.sqlQuery(udf, "orders" -> orders)
      assert(DfSql.sqlQuery(udf, "orders" -> orders) eq first)
      spark.udf.register("dfsql_reuse_f", (a: Long) => a * 10)
      val after = DfSql.sqlQuery(udf, "orders" -> orders)
      assert(after ne first)
      assert(rows(after) === Seq(Row(10L), Row(50L), Row(70L), Row(100L)))
    } finally spark.sql("DROP TEMPORARY FUNCTION IF EXISTS dfsql_reuse_f")
  }

  test("reuse: the bound evicts the least-recently-used statement") {
    val (orders, _) = persisted()
    def stmt(k: Int) = DfSql.sqlQuery(s"SELECT amt + $k AS v FROM orders", "orders" -> orders)
    val first = (0 until StatementLru.Bound).map(stmt)
    assert(stmt(0) eq first(0)) // all held; s0 now most recently used
    stmt(StatementLru.Bound)
    assert(stmt(0) eq first(0))
    assert(stmt(2) eq first(2))
    assert(stmt(1) ne first(1)) // the least recently used went
  }
}
