package graft.catalog

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.api.DfSql
import graft.api.DfSql.SqlOps

/** The statement cache keeps small results: the first hit after a
  * statement's DataFrame ran collects it once and swaps in a DataFrame
  * over its rows, so later hits run no Spark job. */
class KeptResultSpec extends SparkSpec {

  private lazy val dir: Path = suiteTempDir("graft_kept")

  /** A MemoryCache catalog over parquet tables with null cells, decimals
    * and timestamps, the shapes of the facade's statements. */
  private lazy val ds: DataSource = {
    import spark.implicits._
    def save(name: String, df: DataFrame): String = {
      val p = dir.resolve(s"$name.parquet").toString
      df.write.parquet(p)
      p
    }
    val ts = Timestamp.valueOf("2024-03-01 12:30:45.123456")
    val cust = Seq[(Int, String, Int, BigDecimal, Timestamp)](
      (1, "Customer#01", 0, BigDecimal("120.50"), ts),
      (2, "Customer#02", 1, BigDecimal("-3.25"), null),
      (3, null, 1, BigDecimal("9999.99"), new Timestamp(ts.getTime + 86400000L)),
      (4, "Other#04", 2, null, ts),
      (5, "Customer#05", 3, BigDecimal("0.00"), null))
      .toDF("c_id", "c_name", "c_nation", "c_bal", "c_seen")
      .selectExpr("c_id", "c_name", "c_nation", "CAST(c_bal AS DECIMAL(12,2)) AS c_bal", "c_seen")
    val nat = Seq((0, "ALGERIA", 0), (1, "BRAZIL", 1), (2, "CANADA", 1), (3, "EGYPT", 2), (4, "FRANCE", 3))
      .toDF("n_id", "n_name", "n_region")
    val ord = Seq[(Int, Option[Int], Double, String)](
      (10, Some(1), 10.5, "1-URGENT"), (11, Some(1), 5.0, "2-HIGH"), (12, Some(2), 7.25, "1-URGENT"),
      (13, Some(3), 1.0, "3-MEDIUM"), (14, None, 2.5, "2-HIGH"), (15, Some(9), 3.0, "1-URGENT"))
      .toDF("o_id", "o_cust", "o_amt", "o_prio")
      .selectExpr("o_id", "o_cust", "CAST(o_amt AS DECIMAL(10,2)) AS o_amt", "o_prio")
    val big = spark.range(StatementLru.KeptRows + 1).toDF("id")
    // 20 rows of 100 000 characters: over the byte bound, under the row bound
    val wide = spark.range(20).selectExpr("id", "repeat('x', 100000) AS s")
    val ds = new DataSource(spark, dir.resolve("meta").toString)
    Seq("cust" -> cust, "nat" -> nat, "ord" -> ord, "big" -> big, "wide" -> wide)
      .foreach { case (n, df) => ds.addTableFromFile(save(n, df)) }
    ds
  }

  /** Every statement shape of the facade benchmark, plus an empty result
    * and collided join columns. */
  private val statements = Seq(
    "like_prefix" -> "SELECT c_id, c_name FROM cust WHERE c_name LIKE 'Customer#0.*'",
    "like_regex" -> "SELECT c_id, c_name FROM cust WHERE c_name LIKE '(Other|Customer)#0[45].*'",
    "power" -> "SELECT c_id, c_nation ^ 2 AS sq FROM cust WHERE c_nation ^ 2 > 0",
    "cast_str" -> "SELECT CAST(o_id AS str) AS k, o_prio FROM ord WHERE o_id < 14",
    "join_inner" -> ("SELECT o_prio, count(*) AS n, sum(o_amt) AS amt FROM ord " +
      "INNER JOIN cust ON o_cust = c_id GROUP BY o_prio"),
    "join_left" -> "SELECT c_id, c_name, n_name FROM cust LEFT JOIN nat ON c_nation = n_id AND n_region < 2",
    "join_right" -> "SELECT c_id, n_name FROM cust RIGHT JOIN nat ON c_nation = n_id AND c_bal > 0",
    "join_full" -> ("SELECT o_id, c_id, c_seen FROM ord FULL JOIN cust ON o_cust = c_id " +
      "WHERE c_id IS NULL OR c_id < 4"),
    "group_having" -> "SELECT o_prio, count(*) AS n, max(o_amt) AS top FROM ord GROUP BY o_prio HAVING count(*) > 1",
    "distinct" -> "SELECT DISTINCT c_nation, c_seen FROM cust",
    "order_limit" -> "SELECT o_id, o_amt FROM ord ORDER BY o_amt DESC, o_id LIMIT 3 OFFSET 1",
    "sub_in" -> ("SELECT c_id, c_bal FROM cust WHERE c_nation IN " +
      "(SELECT n_id FROM nat WHERE n_region = 1)"),
    "sub_scalar" -> "SELECT o_id, o_amt FROM ord WHERE o_amt > (SELECT avg(o_amt) FROM ord)",
    "sub_from" -> ("SELECT prio, n FROM (SELECT o_prio AS prio, count(*) AS n FROM ord " +
      "GROUP BY o_prio) t WHERE n > 1"),
    "empty" -> "SELECT c_id, c_bal, c_seen FROM cust WHERE c_id > 100",
    "collided" -> "SELECT * FROM nat a JOIN nat b ON a.n_region = b.n_region AND a.n_id < b.n_id")

  private def calls: Seq[(String, () => DataFrame)] =
    statements.map { case (id, sql) => id -> (() => ds.queryDF(sql)) } ++ Seq(
      "sqlquery" -> (() => DfSql.sqlQuery(
        "SELECT n_name, count(*) AS n FROM c JOIN n ON c_nation = n_id GROUP BY n_name",
        "c" -> ds.table("cust"), "n" -> ds.table("nat"))),
      "implicit_from" -> (() => ds.table("ord").sql(
        "SELECT o_prio, sum(o_amt) AS amt, count(*) AS n WHERE o_amt > 2 GROUP BY o_prio")))

  test("a kept result has the executed frame's rows, order, schema and " +
    "columns, and the third call runs no job and compiles nothing") {
    calls.foreach { case (id, call) =>
      val executed = call()
      val want = executed.collect().toSeq
      val kept = call() // the first hit after the frame ran: checked and kept
      assert(kept ne executed, id)
      assert(kept.collect().toSeq === want, id)
      assert(kept.schema === executed.schema, id) // names, types, nullability, metadata
      assert(kept.columns.toSeq === executed.columns.toSeq, id)
      val (third, jobs, compiles) = jobsAndCompiles {
        val df = call()
        (df, df.collect().toSeq)
      }
      assert(third._1 eq kept, id)
      assert(third._2 === want, id)
      assert((jobs, compiles) === ((0, 0L)), s"$id: the third call ran $jobs jobs, $compiles compiles")
    }
  }

  test("the kept shapes carry what they should") {
    def rows(id: String) = calls.toMap.apply(id)().collect().toSeq
    assert(rows("empty").isEmpty)
    assert(rows("like_prefix").sortBy(_.getInt(0)) ===
      Seq(Row(1, "Customer#01"), Row(2, "Customer#02"), Row(5, "Customer#05")))
    assert(rows("order_limit") === Seq(
      Row(12, BigDecimal("7.25").bigDecimal), Row(11, BigDecimal("5.00").bigDecimal),
      Row(15, BigDecimal("3.00").bigDecimal)))
    assert(rows("join_full").exists(r => r.isNullAt(1)) && rows("join_full").exists(r => r.isNullAt(2)))
    assert(rows("distinct").map(_.get(1)).contains(Timestamp.valueOf("2024-03-01 12:30:45.123456")))
    assert(calls.toMap.apply("collided")().columns.toSeq ===
      Seq("a.n_id", "a.n_name", "a.n_region", "b.n_id", "b.n_name", "b.n_region"))
  }

  test("a result over either bound is never kept: every later hit runs " +
    "exactly its result stage") {
    Seq(
      "SELECT id FROM big WHERE id >= 0", // rows, one job over every partition
      "SELECT id FROM big ORDER BY id LIMIT 10001", // rows, a top-K root
      "SELECT id, s FROM wide ORDER BY id", // bytes
      "SELECT id, s FROM wide ORDER BY id LIMIT 20" // bytes, a top-K root
    ).foreach { sql =>
      val executed = ds.queryDF(sql)
      val n = executed.collect().length
      assert(ds.queryDF(sql) eq executed, sql) // checked here, not kept
      (1 to 2).foreach { k =>
        val ((df, m), jobs, _) = jobsAndCompiles {
          val df = ds.queryDF(sql)
          (df, df.collect().length)
        }
        assert(df eq executed, sql)
        assert(m === n, sql)
        assert(jobs === 1, s"$sql: hit $k after the check ran $jobs jobs")
      }
    }
  }

  test("a frame that never ran is served as it is, and checked once it has") {
    val sql = "SELECT c_nation, count(*) AS n FROM cust GROUP BY c_nation ORDER BY c_nation"
    val built = ds.queryDF(sql)
    assert(ds.queryDF(sql) eq built)
    assert(ds.queryDF(sql) eq built)
    built.collect()
    val kept = ds.queryDF(sql)
    assert(kept ne built)
    assert(ds.queryDF(sql) eq kept)
    assert(kept.collect().toSeq === built.collect().toSeq)
  }

  test("a kept result follows the reuse rules: a mutation or a re-registered " +
    "function misses") {
    val sql = "SELECT o_prio, count(*) AS n FROM ord GROUP BY o_prio ORDER BY o_prio"
    val first = ds.queryDF(sql)
    first.collect()
    val kept = ds.queryDF(sql)
    assert(kept ne first)
    ds.registerFunction[Int, Int]("kept_f", _ + 1) // a catalog mutation
    val after = ds.queryDF(sql)
    assert(after ne kept)
    assert(after.collect().toSeq === kept.collect().toSeq)
    spark.udf.register("kept_g", (a: Int) => a + 1)
    val udf = "SELECT kept_g(c_id) AS v FROM cust ORDER BY v"
    ds.queryDF(udf).collect()
    assert(ds.queryDF(udf).collect().toSeq === (2 to 6).map(Row(_)))
    spark.udf.register("kept_g", (a: Int) => a * 100)
    assert(ds.queryDF(udf).collect().toSeq === (1 to 5).map(v => Row(v * 100)))
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS kept_g")
  }
}
