package graft

import java.nio.file.{Files, Path}

import graft.catalog.{DataSource, QueryResult}

/** Port of the reference e2e corpus (tests/test_data_sources/
  * test_file_data_source.py) over the 9-row titanic fixture — literal
  * expected values, through the full facade path (commands + dialect +
  * Catalyst).
  */
class ReferenceParitySpec extends SparkSpec {

  private def fixture(): (DataSource, Path) = {
    val dir = suiteTempDir("graft_parity")
    val csv = dir.resolve("titanic.csv")
    Files.writeString(csv,
      """passenger_id,survived,p_class,name,sex,age,sib_sp,parch,fare,cabin,embarked
        |1,0,3,"Braund, Mr. Owen Harris",male,22,1,0,7.25,,S
        |2,1,1,"Cumings, Mrs. John Bradley",female,38,1,0,71.2833,C85,C
        |3,1,3,"Heikkinen, Miss. Laina",female,26,0,0,7.925,,S
        |4,1,1,"Futrelle, Mrs. Jacques Heath",female,35,1,0,53.1,C123,S
        |5,0,3,"Allen, Mr. William Henry",male,35,0,0,8.05,,S
        |6,0,3,"Moran, Mr. James",male,,0,0,8.4583,,Q
        |7,0,1,"McCarthy, Mr. Timothy J",male,54,0,0,51.8625,E46,S
        |8,0,3,"Palsson, Master. Gosta Leonard",male,2,3,1,21.075,,S
        |9,1,3,"Johnson, Mrs. Oscar W",female,27,0,2,11.1333,,S
        |""".stripMargin)
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(csv.toString)
    (ds, dir)
  }

  test("select single column (test_select_column)") {
    val (ds, _) = fixture()
    val out = ds.queryDF("SELECT passenger_id FROM titanic")
      .collect().map(_.getInt(0))
    assert(out.toSeq === (1 to 9))
  }

  test("select star keeps all columns in order") {
    val (ds, _) = fixture()
    val out = ds.queryDF("SELECT * FROM titanic")
    assert(out.columns.take(4).toSeq ===
      Seq("passenger_id", "survived", "p_class", "name"))
    assert(out.count() === 9)
  }

  test("where with AND/OR precedence (test_select_where_and_or)") {
    val (ds, _) = fixture()
    // AND binds tighter than OR in both dialects
    val out = ds.queryDF(
      "SELECT passenger_id FROM titanic WHERE p_class = 1 AND survived = 1 OR sex = 'female' ORDER BY passenger_id")
      .collect().map(_.getInt(0))
    assert(out.toSeq === Seq(2, 3, 4, 9))
  }

  test("group by with count and avg (test_groupby)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT sex, count(passenger_id) AS n, avg(fare) AS af FROM titanic GROUP BY sex ORDER BY sex")
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("female", "male"))
    assert(out.map(_.getLong(1)).toSeq === Seq(4L, 5L))
  }

  test("unaliased aggregate keeps its expression name (test_group_by_agg_name)") {
    val (ds, _) = fixture()
    val out = ds.queryDF("SELECT sex, count(passenger_id) FROM titanic GROUP BY sex")
    assert(out.columns.toSeq === Seq("sex", "count(passenger_id)"))
  }

  test("having filters on aggregates (test_groupby_having)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT p_class, count(*) AS n FROM titanic GROUP BY p_class HAVING count(*) > 3 ORDER BY p_class")
      .collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq === Seq((3, 6L)))
  }

  test("HAVING can reference SELECT aliases (reference: HAVING on post-projection)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT p_class, avg(fare) AS af FROM titanic GROUP BY p_class HAVING af > 20 ORDER BY p_class")
      .collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(1))
  }

  test("IN value list (test_select_in)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT passenger_id FROM titanic WHERE embarked IN ('C', 'Q') ORDER BY passenger_id")
      .collect().map(_.getInt(0))
    assert(out.toSeq === Seq(2, 6))
  }

  test("inner join renames collided columns to alias.col (test_inner_join)") {
    val (ds, dir) = fixture()
    Files.copy(dir.resolve("titanic.csv"), dir.resolve("titanic2.csv"))
    ds.addTableFromFile(dir.resolve("titanic2.csv").toString)
    val out = ds.queryDF(
      "SELECT * FROM titanic AS t1 INNER JOIN titanic2 AS t2 ON t1.p_class = t2.p_class")
    // SURVEY §2.3 contract: collided names become <alias>.<col>
    assert(out.columns.contains("t1.sex") && out.columns.contains("t2.sex"))
    assert(out.columns.contains("t1.p_class") && out.columns.contains("t2.p_class"))
    // and stay addressable with backticks
    assert(out.select("`t1.sex`").count() === out.count())
    // 1st class: 3 rows, 3rd class: 6 rows → 9 + 36 join rows
    assert(out.count() === 3 * 3 + 6 * 6)
  }

  test("left join keeps unmatched left rows") {
    val (ds, dir) = fixture()
    Files.writeString(dir.resolve("cabins.csv"),
      "cabin,deck\nC85,C\nC123,C\nE46,E\n")
    ds.addTableFromFile(dir.resolve("cabins.csv").toString)
    val out = ds.queryDF(
      "SELECT passenger_id, deck FROM titanic LEFT JOIN cabins ON titanic.cabin = cabins.cabin")
    assert(out.count() === 9)
    assert(out.filter("deck IS NULL").count() === 6)
  }

  test("IN subquery (test_select_in_subquery)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT name FROM titanic WHERE passenger_id IN (SELECT passenger_id FROM titanic WHERE fare > 50) ORDER BY passenger_id")
    assert(out.count() === 3)
  }

  test("scalar subquery broadcasts as constant (test_select_subquery_as_column)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT passenger_id, (SELECT max(fare) FROM titanic) AS mf FROM titanic")
      .collect()
    assert(out.forall(_.getDouble(1) === 71.2833))
  }

  test("CAST with pandas type names (test_cast)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT CAST(fare AS int) AS fi, CAST(passenger_id AS str) AS ps FROM titanic WHERE passenger_id = 2")
      .head
    assert(out.getLong(0) === 71L)
    assert(out.getString(1) === "2")
  }

  test("count distinct (test_count_distinct)") {
    val (ds, _) = fixture()
    ds.query("SELECT count(DISTINCT p_class) AS n FROM titanic", reduceOutput = true) match {
      case QueryResult.Scalar(v) => assert(v === 2L)
      case other => fail(s"expected scalar, got $other")
    }
  }

  test("single-column result reduces to a named Col (test_df_sql_reduce_output)") {
    val (ds, _) = fixture()
    // reference: shape (n, 1) → pandas Series keeping the column name;
    // shape (1, 1) → bare scalar; reduce_output=False → plain frame
    ds.query("SELECT passenger_id FROM titanic", reduceOutput = true) match {
      case c: QueryResult.Col =>
        assert(c.name === "passenger_id")
        assert(c.values.length === ds.queryDF("SELECT passenger_id FROM titanic").count())
      case other => fail(s"expected Col, got $other")
    }
    ds.query("SELECT passenger_id FROM titanic LIMIT 1", reduceOutput = true) match {
      case QueryResult.Scalar(v) => assert(v !== null)
      case other => fail(s"expected scalar, got $other")
    }
    ds.query("SELECT passenger_id FROM titanic") match {
      case QueryResult.Frame(_) => ()
      case other => fail(s"expected frame, got $other")
    }
  }

  test("order by multiple keys asc/desc (test_order_by)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT passenger_id FROM titanic ORDER BY p_class ASC, fare DESC, passenger_id")
      .collect().map(_.getInt(0))
    assert(out.take(3).toSeq === Seq(2, 4, 7)) // 1st class by fare desc
  }

  test("LIKE is an anchored regex (test_string_functions)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT name FROM titanic WHERE name LIKE '.*Owen.*'")
    assert(out.count() === 1)
    // anchored: pattern without leading .* must match from the start
    assert(ds.queryDF("SELECT name FROM titanic WHERE name LIKE 'Owen'").count() === 0)
    assert(ds.queryDF("SELECT name FROM titanic WHERE name LIKE 'Braund.*'").count() === 1)
  }

  test("IS NULL / IS NOT NULL (test_is_null)") {
    val (ds, _) = fixture()
    assert(ds.queryDF("SELECT name FROM titanic WHERE age IS NULL").count() === 1)
    assert(ds.queryDF("SELECT name FROM titanic WHERE age IS NOT NULL").count() === 8)
  }

  test("IS TRUE over a boolean expression (test_is_true)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT passenger_id FROM titanic WHERE (survived = 1) IS TRUE ORDER BY passenger_id")
      .collect().map(_.getInt(0))
    assert(out.toSeq === Seq(2, 3, 4, 9))
  }

  test("backtick identifiers for multiword columns (test_backticks)") {
    val (ds, dir) = fixture()
    Files.writeString(dir.resolve("apps.csv"),
      "App,Content Rating\nChess,Everyone\nPoker,Teen\n")
    ds.addTableFromFile(dir.resolve("apps.csv").toString)
    val out = ds.queryDF("SELECT `Content Rating` FROM apps ORDER BY App")
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq("Everyone", "Teen"))
  }

  test("limit and offset (test_select_limit_offset)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT passenger_id FROM titanic ORDER BY passenger_id LIMIT 3 OFFSET 2")
      .collect().map(_.getInt(0))
    assert(out.toSeq === Seq(3, 4, 5))
  }

  test("unknown table raises QueryExecutionException with reference message") {
    val (ds, _) = fixture()
    val e = intercept[QueryExecutionException](ds.queryDF("SELECT * FROM nope"))
    assert(e.getMessage.contains("Unknown table"))
  }

  test("duplicate output aliases raise (test duplicate-name contract)") {
    val (ds, _) = fixture()
    val e = intercept[QueryExecutionException](
      ds.queryDF("SELECT fare AS x, age AS x FROM titanic"))
    assert(e.getMessage.contains("Duplicate column name"))
  }

  test("arithmetic with ^ as power (test_operations)") {
    val (ds, _) = fixture()
    val out = ds.queryDF(
      "SELECT passenger_id, sib_sp ^ 2 + parch AS v FROM titanic WHERE passenger_id = 8")
      .head
    assert(out.getDouble(1) === 10.0) // 3^2 + 1
  }
}
