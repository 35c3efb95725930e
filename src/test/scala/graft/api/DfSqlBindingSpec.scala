package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.{DfsqlException, SparkSpec}
import graft.api.DfSql.SqlOps

/** How sqlQuery/df.sql resolve a name now that bindings go straight into
  * the parsed plan instead of through temp views. */
class DfSqlBindingSpec extends SparkSpec {

  /** ids 0..9 */
  private lazy val ten: DataFrame = spark.range(10).toDF("id")

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  test("a CTE shadows a binding of the same name, in its scope only") {
    assert(ids(DfSql.sqlQuery(
      "WITH t AS (SELECT CAST(42 AS BIGINT) AS id) SELECT id FROM t", "t" -> ten)) === Seq(42L))
    // inside its own definition the name is still the binding
    assert(ids(DfSql.sqlQuery(
      "WITH t AS (SELECT id FROM t WHERE id < 3) SELECT id FROM t", "t" -> ten)) ===
      Seq(0L, 1L, 2L))
    // a CTE inside a subquery shadows there, not in the outer query
    assert(ids(DfSql.sqlQuery(
      "SELECT id FROM t WHERE id IN (WITH t AS (SELECT CAST(4 AS BIGINT) AS id) SELECT id FROM t)",
      "t" -> ten)) === Seq(4L))
  }

  test("table aliases, a self-join and column qualifiers") {
    val out = DfSql.sqlQuery(
      "SELECT x.id FROM t AS x JOIN t y ON x.id = y.id + 1 WHERE y.id < 3", "t" -> ten)
    assert(ids(out) === Seq(1L, 2L, 3L))
    // collided join columns are named after the alias that qualifies them
    val joined = DfSql.sqlQuery("SELECT * FROM a JOIN b ON a.id = b.id", "a" -> ten, "b" -> ten)
    assert(joined.columns.toSeq === Seq("a.id", "b.id"))
  }

  test("a backticked binding name and one in another case resolve") {
    assert(ids(DfSql.sqlQuery("SELECT id FROM `t` WHERE id > 7", "t" -> ten)) === Seq(8L, 9L))
    assert(ids(DfSql.sqlQuery(
      "SELECT id FROM T WHERE id IN (SELECT id FROM t WHERE id < 2)", "t" -> ten)) ===
      Seq(0L, 1L))
  }

  test("df.sql addresses literal dotted columns of a join result") {
    import spark.implicits._
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
    val b = Seq((1, "p"), (2, "q")).toDF("k", "v")
    val joined = DfSql.sqlQuery("SELECT * FROM a JOIN b ON a.k = b.k", "a" -> a, "b" -> b)
    assert(joined.columns.toSeq === Seq("a.k", "a.v", "b.k", "b.v"))
    val out = joined.sql("SELECT a.v, b.v WHERE a.k > 1")
    assert(out.columns.toSeq === Seq("a.v", "b.v"))
    assert(out.collect().toSeq === Seq(Row("y", "q")))
  }

  test("IN (SELECT …) over the binding, in sqlQuery and in df.sql") {
    assert(ids(DfSql.sqlQuery(
      "SELECT id FROM t WHERE id IN (SELECT id + 5 FROM t WHERE id < 2)", "t" -> ten)) ===
      Seq(5L, 6L))
    assert(ids(ten.sql("SELECT id WHERE id IN (SELECT id WHERE id > 7)")) === Seq(8L, 9L))
  }

  test("an unbound name raises Unknown table, and a retry succeeds") {
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val e = intercept[DfsqlException] {
      DfSql.sqlQuery("SELECT id FROM t JOIN nowhere ON t.id = nowhere.id", "t" -> ten)
    }
    assert(e.getMessage === "Unknown table nowhere")
    val dotted = intercept[DfsqlException] {
      DfSql.sqlQuery("SELECT id FROM t WHERE id IN (SELECT id FROM db1.nowhere)", "t" -> ten)
    }
    assert(dotted.getMessage === "Unknown table db1.nowhere")
    assert(ids(DfSql.sqlQuery(
      "SELECT t.id FROM t JOIN nowhere ON t.id = nowhere.id WHERE t.id < 2",
      "t" -> ten, "nowhere" -> ten)) === Seq(0L, 1L))
    assert(spark.catalog.listTables().collect().map(_.name).toSet === before)
  }

  test("a persisted binding is read from its cache entry") {
    val cached = spark.range(20).toDF("id").persist()
    try {
      val out = DfSql.sqlQuery("SELECT count(*) AS n FROM c WHERE id % 2 = 0", "c" -> cached)
      assert(out.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r
      }.nonEmpty)
      assert(out.collect().toSeq === Seq(Row(10L)))
    } finally cached.unpersist()
  }
}
