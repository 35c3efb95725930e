package graft.catalog

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions.udf

import graft.SparkSpec
import graft.api.DfSql
import graft.api.DfSql.SqlOps

/** Catalogs on one session bind their own tables and functions into each
  * statement's plan: no statement reads another catalog's table, and no
  * statement or function registration changes the session's catalog or
  * function registry. */
class CatalogIsolationSpec extends SparkSpec {

  private def csv(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(s"$name.csv")
    Files.writeString(p, body)
    p.toString
  }

  private def tables = spark.catalog.listTables().collect().map(_.name).toSet
  private def functions = spark.catalog.listFunctions().collect().map(_.name).toSet

  /** A catalog over one table `t` (a = 1, 1, 2, 3). */
  private def catalog(cache: TableCache = new MemoryCache): DataSource = {
    val dir = suiteTempDir("graft_iso_fn")
    val ds = new DataSource(spark, dir.toString, initialCache = cache)
    ds.addTableFromFile(csv(dir, "t", "a,b\n1,x\n1,y\n2,z\n3,w\n"))
    ds
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] = df.collect().toSeq

  test("two catalogs sharing a table name, one case-insensitive, give no " +
    "wrong rows from 4 threads (MemoryCache)")(isolated(() => new MemoryCache))

  test("two catalogs sharing a table name, one case-insensitive, give no " +
    "wrong rows from 4 threads (DoNothingCache)")(isolated(() => new DoNothingCache))

  /** 4 threads × 40 statements over two catalogs that both name a table
    * `titanic` (9 rows and 2 rows). */
  private def isolated(newCache: () => TableCache): Unit = {
    val (dirA, dirB) =
      (suiteTempDir("graft_iso_a"), suiteTempDir("graft_iso_b"))
    val nine = csv(dirA, "titanic", "passenger_id\n" + (1 to 9).mkString("\n") + "\n")
    val two = csv(dirB, "titanic", "passenger_id\n100\n101\n")
    val exact = new DataSource(spark, dirA.toString, initialCache = newCache())
    exact.addTableFromFile(nine)
    val any =
      new DataSource(spark, dirB.toString, caseSensitive = false, initialCache = newCache())
    any.addTableFromFile(two)
    val wrong = new AtomicInteger
    val failed = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      (0 until 4).foreach { th =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 40).foreach { i =>
            // half the statements repeat, half are new; names plain and backticked
            val k = if (i % 2 == 0) i % 3 else th * 40 + i
            val (ds, name, want) =
              if ((th + i) % 2 == 0) (exact, if (i % 3 == 0) "`titanic`" else "titanic", 9L)
              else (any, if (i % 3 == 0) "`TiTanic`" else "TITANIC", 2L)
            try {
              val got = ds.queryDF(
                s"SELECT count(*) AS n FROM $name WHERE passenger_id > -$k").head.getLong(0)
              if (got != want) wrong.incrementAndGet()
            } catch { case _: Exception => failed.incrementAndGet() }
          }
        })
      }
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(5, TimeUnit.MINUTES))
      exact.setCache(new DoNothingCache)
      any.setCache(new DoNothingCache)
    }
    assert((wrong.get, failed.get) === ((0, 0)))
  }

  test("join names keep the qualifiers a temp view gave; a case-sensitive " +
    "catalog reads a mixed-case table by its exact name") {
    val dir = suiteTempDir("graft_iso_qual")
    val upper = csv(dir, "Titanic", "id,v\n1,2\n")
    val other = csv(dir, "other", "id,w\n1,3\n")
    val any = new DataSource(spark, dir.toString, caseSensitive = false)
    Seq(upper, other).foreach(any.addTableFromFile)
    Seq(
      "SELECT * FROM TITANIC JOIN OTHER ON TITANIC.id = OTHER.id",
      "SELECT * FROM Titanic JOIN other ON Titanic.id = other.id",
      "SELECT * FROM `TiTanic` JOIN other ON `TiTanic`.id = other.id"
    ).foreach { sql =>
      assert(any.queryDF(sql).columns.toSeq === Seq("titanic.id", "v", "other.id", "w"), sql)
    }
    val exact = new DataSource(spark, suiteTempDir("graft_iso_exact").toString)
    Seq(upper, other).foreach(exact.addTableFromFile)
    val df = exact.queryDF("SELECT * FROM Titanic JOIN other ON Titanic.id = other.id")
    assert(df.columns.toSeq === Seq("Titanic.id", "v", "other.id", "w"))
    assert(rows(df) === Seq(Row(1, 2, 1, 3)))
  }

  test("statements and function registrations leave the session's tables " +
    "and functions unchanged") {
    val memory = catalog()
    val nothing = catalog(new DoNothingCache)
    val frame = memory.table("t")
    val (tables0, functions0) = (tables, functions)
    memory.registerFunction[Int, Int]("iso_f1", _ + 1)
    nothing.registerFunction2[Int, Int, Int]("iso_f2", _ + _)
    memory.registerAggregate("iso_agg", new CacheSpec.SumAgg)
    val plus = udf((a: Int) => a + 100)
    (1 to 2).foreach { _ =>
      assert(rows(memory.queryDF("SELECT iso_f1(a) AS v FROM t ORDER BY v")).head === Row(2))
      assert(rows(nothing.queryDF("SELECT iso_f2(a, a) AS v FROM t ORDER BY v")).head === Row(2))
      assert(rows(memory.queryDF("SELECT iso_agg(a) AS s FROM t")) === Seq(Row(7L)))
      assert(memory.query("SELECT count(*) AS n FROM t", reduceOutput = true) ===
        QueryResult.Scalar(4L))
      assert(rows(DfSql.sqlQuery("SELECT count(*) AS n FROM x", "x" -> frame)) === Seq(Row(4L)))
      assert(rows(frame.sql("SELECT max(a) AS m")) === Seq(Row(3)))
      assert(rows(DfSql.sqlQueryWith("SELECT max(iso_g(a)) AS m FROM x",
        Map("iso_g" -> plus), "x" -> frame)) === Seq(Row(103)))
    }
    // (added, removed)
    assert((tables -- tables0, tables0 -- tables) === ((Set.empty, Set.empty)))
    assert((functions -- functions0, functions0 -- functions) === ((Set.empty, Set.empty)))
    assert(memory.customFunctionNames === Seq("iso_f1", "iso_agg"))
    memory.setCache(new DoNothingCache)
  }

  test("two catalogs that register one function name each call their own; " +
    "a catalog function named like a built-in shadows it in that catalog only") {
    val (one, two) = (catalog(), catalog())
    one.registerFunction[Int, Int]("iso_f", _ + 1)
    two.registerFunction[Int, Int]("iso_f", _ * 10)
    val sql = "SELECT iso_f(a) AS v FROM t ORDER BY v"
    assert(rows(one.queryDF(sql)) === Seq(Row(2), Row(2), Row(3), Row(4)))
    assert(rows(two.queryDF(sql)) === Seq(Row(10), Row(10), Row(20), Row(30)))
    one.registerFunction[String, String]("upper", s => s"<$s>")
    val up = "SELECT UPPER(b) AS u FROM t ORDER BY u"
    assert(rows(one.queryDF(up)) === Seq("<w>", "<x>", "<y>", "<z>").map(Row(_)))
    assert(rows(two.queryDF(up)) === Seq("W", "X", "Y", "Z").map(Row(_)))
    assert(spark.sql("SELECT upper('q') AS u").head.getString(0) === "Q")
    Seq(one, two).foreach(_.setCache(new DoNothingCache))
  }

  test("a catalog aggregate keeps its DISTINCT and FILTER meaning") {
    val ds = catalog()
    ds.registerAggregate("iso_sumsq", graft.queries.FacadeQueries.SumSq)
    def one(sql: String) = ds.queryDF(sql).head.getLong(0)
    // a = 1, 1, 2, 3
    assert(one("SELECT iso_sumsq(CAST(a AS BIGINT)) AS s FROM t") === 15L)
    assert(one("SELECT iso_sumsq(DISTINCT CAST(a AS BIGINT)) AS s FROM t") === 14L)
    assert(one("SELECT iso_sumsq(CAST(a AS BIGINT)) FILTER (WHERE a > 1) AS s FROM t") === 13L)
    assert(rows(ds.queryDF(
      "SELECT b, iso_sumsq(DISTINCT CAST(a AS BIGINT)) AS s FROM t GROUP BY b ORDER BY b")) ===
      Seq(Row("w", 9L), Row("x", 1L), Row("y", 1L), Row("z", 4L)))
    ds.setCache(new DoNothingCache)
  }

  test("sqlQueryWith's functions are scoped to the call") {
    val frame = spark.range(3).toDF("id")
    val sql = "SELECT iso_h(id) AS v FROM x ORDER BY v"
    val twice = udf((a: Long) => a * 2)
    assert(rows(DfSql.sqlQueryWith(sql, Map("iso_h" -> twice), "x" -> frame)) ===
      Seq(Row(0L), Row(2L), Row(4L)))
    val thrice = udf((a: Long) => a * 3)
    assert(rows(DfSql.sqlQueryWith(sql, Map("ISO_H" -> thrice), "x" -> frame)) ===
      Seq(Row(0L), Row(3L), Row(6L)))
    val e = intercept[AnalysisException](DfSql.sqlQuery(sql, "x" -> frame))
    assert(e.getCondition === "UNRESOLVED_ROUTINE", e.getMessage)
  }
}
