package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

import graft.Tables
import graft.api.DfSql
import graft.catalog.{DataSource, DoNothingCache}

/** Queries that run through the dfsql facade (DataSource.query with the
  * dialect lowering, DfSql.sqlQuery, the df.sql implicit-FROM accessor,
  * and the custom scalar/aggregate registry) — so the facade itself is
  * exercised by the driver's DuckDB oracle gate, not just unit tests.
  */
object FacadeQueries {

  /** Build a DataSource whose catalog is the sfDir parquet tables.
    * DoNothingCache: persist() would pile cached copies across bench runs.
    * Cached per (session, dir): a fresh instance per query invocation was
    * a temp metadata dir + 10 table registrations (each a validating
    * read) per call — ~0.3 s of pure setup on every facade query, and a
    * leaked directory per Bench/Verify invocation. Custom function
    * registration below overwrites idempotently, so reuse is safe. */
  private val cached =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataSource]()
  private def ds(s: SparkSession, dir: String): DataSource = {
    // evict entries for stopped sessions on lookup — long test runs create
    // many sessions, and retaining their DataSource/metadata for the JVM
    // lifetime is a slow leak
    cached.keys.filter(_._1.sparkContext.isStopped).foreach(cached.remove)
    cached.getOrElseUpdate((s, dir), {
      // the DataSource writes metadata into it: deleted recursively at exit
      val meta = Staging.tempDir("graft_ds_meta")
      val d = new DataSource(s, meta.toString, initialCache = new DoNothingCache)
      Tables.all.foreach(n => d.addTable(graft.catalog.FileTable(n, s"$dir/$n.parquet")))
      d
    })
  }

  /** Sum of squares — a reference-style custom AggregateFunction
    * (SURVEY.md §2.7) as a Spark Aggregator. */
  object SumSq extends Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b + a * a
    def merge(x: Long, y: Long): Long = x + y
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  val all: Seq[Q] = Seq(

    // dfsql dialect: LIKE-as-anchored-regex, ^-as-power, pandas CAST names
    Q("q26_dialect", Some(
      """SELECT c_custkey, CAST(c_acctbal AS VARCHAR) AS bal_str,
        |       power(2, 3) AS eight
        |FROM customer WHERE regexp_matches(c_name, '^(?:Customer#0*1.*)')
        |ORDER BY c_custkey""".stripMargin),
      (s, d) => ds(s, d).queryDF(
        """SELECT c_custkey, CAST(c_acctbal AS str) AS bal_str, 2 ^ 3 AS eight
          |FROM customer WHERE c_name LIKE 'Customer#0*1.*'
          |ORDER BY c_custkey""".stripMargin)),

    // sql_query(sql, **dataframes) one-shot API over passed frames
    Q("q27_sqlquery", Some(
      """SELECT n_name, count(*) AS n FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
      (s, d) => DfSql.sqlQuery(
        """SELECT n_name, count(*) AS n FROM cust
          |JOIN nat ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
        "cust" -> Tables.load(s, d, "customer"),
        "nat" -> Tables.load(s, d, "nation"))),

    // df.sql accessor: implicit FROM temp injection
    Q("q28_implicit_from", Some(
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, d) => {
        import DfSql.SqlOps
        Tables.load(s, d, "lineitem")
          .sql("SELECT l_returnflag, sum(l_quantity) AS sum_qty GROUP BY l_returnflag ORDER BY l_returnflag")
      }),

    // custom scalar function through the registry (shadows nothing)
    Q("q29_custom_scalar", Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice * 1.19 AS taxed
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (s, d) => {
        val source = ds(s, d)
        source.registerFunction[Double, Double]("taxed19", x => x * 1.19)
        source.queryDF(
          """SELECT l_orderkey, l_linenumber, taxed19(l_extendedprice) AS taxed
            |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)
      }),

    // dialect LIKE with a literal prefix: the AnchoredRegexToPrefix
    // optimizer rule turns the anchored RLIKE into StartsWith, which
    // parquet pushes down (StringStartsWith) — semantics unchanged,
    // asserted by this oracle and by the plan spec
    Q("q78_like_prefix", Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE regexp_matches(c_name, '^(?:Customer#00000001.*)')
        |ORDER BY c_custkey""".stripMargin),
      (s, d) => ds(s, d).queryDF(
        """SELECT c_custkey, c_name FROM customer
          |WHERE c_name LIKE 'Customer#00000001.*'
          |ORDER BY c_custkey""".stripMargin)),

    // custom aggregate (Aggregator) through the registry
    Q("q30_custom_agg", Some(
      """SELECT l_suppkey,
        |       CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sumsq
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
      (s, d) => {
        val source = ds(s, d)
        source.registerAggregate("sumsq", SumSq)
        source.queryDF(
          """SELECT l_suppkey, sumsq(CAST(l_quantity AS int)) AS qty_sumsq
            |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)
      })
  )
}
