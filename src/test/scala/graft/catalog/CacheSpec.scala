package graft.catalog

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator

import graft.{QueryExecutionException, SparkSpec}

/** Port of the reference cache accounting tests (tests/test_cache.py:
  * hit/miss/size via cache_info). */
class CacheSpec extends SparkSpec {

  private def fixture(): (DataSource, MemoryCache) = {
    val dir = suiteTempDir("graft_cache")
    val csv = dir.resolve("t.csv")
    Files.writeString(csv, "a,b\n1,x\n2,y\n")
    val cache = new MemoryCache
    val ds = new DataSource(spark, dir.toString, initialCache = cache)
    ds.addTableFromFile(csv.toString)
    (ds, cache)
  }

  test("first access misses, repeats hit (test_cache_hits)") {
    val (ds, cache) = fixture()
    ds.table("t").count()
    val (h1, m1, s1) = cache.info
    assert(m1 === 1 && s1 === 1)
    ds.table("t").count()
    ds.table("t").count()
    val (h2, m2, _) = cache.info
    assert(h2 === h1 + 2 && m2 === m1)
  }

  test("clear resets counters and unpersists (test_cache_clear)") {
    val (ds, cache) = fixture()
    val df = ds.table("t")
    df.count()
    assert(df.storageLevel.useMemory) // persisted by the cache
    cache.clear()
    assert(cache.info === ((0L, 0L, 0)))
    assert(!df.storageLevel.useMemory) // unpersisted
  }

  test("maxsize evicts the least-recently-used entry (test_maxsize)") {
    val dir = suiteTempDir("graft_cache_max")
    val cache = new MemoryCache(maxsize = Some(1))
    def table(n: String) = {
      val p = dir.resolve(s"$n.csv")
      java.nio.file.Files.writeString(p, "a\n1\n2\n")
      FileTable(n, p.toString)
    }
    val (t1, t2) = (table("t1"), table("t2"))
    cache.get(spark, t1) // miss, size 1
    cache.get(spark, t2) // miss, t1 evicted
    assert(cache.info === ((0L, 2L, 1)))
    cache.get(spark, t2) // hit (still resident)
    cache.get(spark, t1) // miss again — was evicted
    assert(cache.info === ((1L, 3L, 1)))
    cache.clear()
  }

  test("DoNothingCache never memoizes (DoNothingCache parity)") {
    val dir = suiteTempDir("graft_cache2")
    val csv = dir.resolve("t.csv")
    Files.writeString(csv, "a\n1\n")
    val ds = new DataSource(spark, dir.toString,
      initialCache = new DoNothingCache)
    ds.addTableFromFile(csv.toString)
    assert(!ds.table("t").storageLevel.useMemory)
  }

  test("sqlQueryReduced returns a scalar for 1x1 results") {
    val li = graft.Tables.load(spark, sf0001, "lineitem")
    graft.api.DfSql.sqlQueryReduced(
      "SELECT count(*) AS n FROM li", "li" -> li) match {
      case QueryResult.Scalar(v) => assert(v.asInstanceOf[Long] > 0)
      case other => fail(s"expected Scalar, got $other")
    }
  }

  // ---- statement cache: a repeated SELECT reuses its executed DataFrame

  private def csv(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(s"$name.csv")
    Files.writeString(p, body)
    p.toString
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("statement cache: a repeated join+aggregate reruns only its result " +
    "stage and compiles nothing") {
    val dir = suiteTempDir("graft_stmt_hit")
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(csv(dir, "orders", "o_id,c_id,amt\n1,1,10\n2,1,5\n3,2,7\n4,3,1\n"))
    ds.addTableFromFile(csv(dir, "cust", "c_id,name\n1,ann\n2,bob\n3,cy\n"))
    val sql = """SELECT c.name, sum(o.amt) AS total, count(*) AS n
      |FROM orders o JOIN cust c ON o.c_id = c.c_id
      |GROUP BY c.name ORDER BY c.name""".stripMargin
    val (first, jobs1, _) = jobsAndCompiles(rows(ds.queryDF(sql)))
    val (second, jobs2, compiles2) = jobsAndCompiles(rows(ds.queryDF(sql)))
    assert(first === Seq(Row("ann", 15L, 2L), Row("bob", 7L, 1L), Row("cy", 1L, 1L)))
    assert(second === first)
    // the first run fills both persisted tables and runs every AQE stage
    // (7 jobs); the hit reruns the result stage over the materialized ones
    assert((jobs1, jobs2) === ((7, 1)), s"jobs first/second: $jobs1/$jobs2")
    assert(compiles2 === 0L, s"the hit compiled $compiles2 codegen classes")
  }

  test("statement cache: a hit returns the same DataFrame; DoNothingCache never reuses") {
    val (ds, _) = fixture()
    val sql = "SELECT a, b FROM t ORDER BY a"
    val df = ds.queryDF(sql)
    assert(ds.queryDF(sql) eq df)
    assert(rows(ds.queryDF(sql)) === Seq(Row(1, "x"), Row(2, "y")))
    val dir = suiteTempDir("graft_stmt_nothing")
    val plain = new DataSource(spark, dir.toString, initialCache = new DoNothingCache)
    plain.addTableFromFile(csv(dir, "t", "a,b\n1,x\n"))
    assert(plain.queryDF(sql) ne plain.queryDF(sql))
  }

  test("statement cache: every catalog mutation makes the next identical statement miss") {
    val dir = suiteTempDir("graft_stmt_mut")
    val ds = new DataSource(spark, dir.toString)
    val tPath = csv(dir, "t", "a\n1\n2\n")
    ds.addTableFromFile(tPath)
    val sql = "SELECT sum(a) AS s FROM t"
    var cache = new MemoryCache
    ds.setCache(cache)
    val mutations: Seq[(String, () => Unit)] = Seq(
      "addTable" -> (() => ds.addTable(FileTable("extra", csv(dir, "extra", "a\n5\n")))),
      "dropTable" -> (() => ds.dropTable("extra")),
      "saveTable" -> (() => ds.saveTable("saved", ds.table("t"))),
      "CTAS" -> (() => ds.query("CREATE TABLE ctas AS SELECT a FROM t")),
      "setCache" -> { () => cache = new MemoryCache; ds.setCache(cache) },
      "loadMetadata" -> (() => ds.loadMetadata()),
      "registerFunction" -> (() => ds.registerFunction[Int, Int]("f1", _ + 1)),
      "registerFunction2" -> (() => ds.registerFunction2[Int, Int, Int]("f2", _ + _)),
      "registerAggregate" -> (() => ds.registerAggregate("agg1", new CacheSpec.SumAgg)),
      "MemoryCache.invalidate" -> (() => cache.invalidate(tPath)),
      "MemoryCache.clear" -> (() => cache.clear()))
    mutations.foreach { case (kind, mutate) =>
      val before = ds.queryDF(sql)
      assert(ds.queryDF(sql) eq before, s"no hit before $kind")
      mutate()
      val after = ds.queryDF(sql)
      assert(after ne before, s"$kind left the cached statement in place")
      assert(rows(after) === Seq(Row(3L)), kind)
    }
  }

  test("statement cache: re-added, dropped and reloaded tables and " +
    "re-registered functions are seen by the next identical statement") {
    val dir = suiteTempDir("graft_stmt_state")
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(csv(dir, "t", "a\n1\n2\n"))
    val count = "SELECT count(*) AS n FROM t"
    assert(rows(ds.queryDF(count)) === Seq(Row(2L)))
    assert(rows(ds.queryDF(count)) === Seq(Row(2L)))
    // re-added under the same name with other rows
    ds.dropTable("t")
    val e = intercept[QueryExecutionException](ds.queryDF(count))
    assert(e.getMessage === "Unknown table t")
    val other = suiteTempDir("graft_stmt_other")
    ds.addTable(FileTable("t", csv(other, "t", "a\n7\n8\n9\n")))
    assert(rows(ds.queryDF(count)) === Seq(Row(3L)))
    // a re-registered UDF gives its new value
    val udf = "SELECT f(a) AS v FROM t ORDER BY v"
    ds.registerFunction[Int, Int]("f", _ + 1)
    assert(rows(ds.queryDF(udf)) === Seq(Row(8), Row(9), Row(10)))
    assert(rows(ds.queryDF(udf)) === Seq(Row(8), Row(9), Row(10)))
    ds.registerFunction[Int, Int]("f", _ * 10)
    assert(rows(ds.queryDF(udf)) === Seq(Row(70), Row(80), Row(90)))
    // a metadata reload picks up what another catalog wrote
    val peer = new DataSource(spark, dir.toString)
    peer.dropTable("t")
    peer.addTable(FileTable("t", csv(dir, "t4", "a\n1\n1\n1\n1\n")))
    assert(rows(ds.queryDF(count)) === Seq(Row(3L)))
    ds.loadMetadata()
    assert(rows(ds.queryDF(count)) === Seq(Row(4L)))
  }

  test("statement cache: rand() and current_timestamp() are never reused") {
    val (ds, _) = fixture()
    Seq(
      "SELECT a, rand() AS r FROM t",
      "SELECT a, current_timestamp() AS ts FROM t",
      "SELECT a FROM t WHERE a IN (SELECT a FROM t WHERE rand() < 2.0)",
      "SELECT a FROM t WHERE EXISTS (SELECT 1 FROM t WHERE current_date() IS NOT NULL)"
    ).foreach { sql =>
      assert(ds.queryDF(sql) ne ds.queryDF(sql), sql)
    }
  }

  test("statement cache: a changed session conf misses") {
    val (ds, _) = fixture()
    val sql = "SELECT a FROM t ORDER BY a"
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getAll.get(key)
    val first = ds.queryDF(sql)
    try {
      spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
      val flipped = ds.queryDF(sql)
      assert(flipped ne first)
      assert(ds.queryDF(sql) eq flipped)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(ds.queryDF(sql) eq first)
  }

  test("statement cache: the bound evicts the least-recently-used statement") {
    val (ds, _) = fixture()
    def stmt(k: Int) = s"SELECT a + $k AS v FROM t"
    val first = (0 until StatementLru.Bound).map(k => ds.queryDF(stmt(k)))
    assert(ds.queryDF(stmt(0)) eq first(0)) // all held; s0 now most recently used
    ds.queryDF(stmt(StatementLru.Bound))
    assert(ds.queryDF(stmt(0)) eq first(0))
    assert(ds.queryDF(stmt(2)) eq first(2))
    assert(ds.queryDF(stmt(1)) ne first(1)) // the least recently used went
  }

  test("statement cache: a function re-registered outside the catalog is " +
    "seen by the next identical statement") {
    val (ds, _) = fixture()
    val sql = "SELECT stale_f(a) AS v FROM t ORDER BY v"
    try {
      spark.udf.register("stale_f", (a: Int) => a + 1)
      (1 to 3).foreach(_ => assert(rows(ds.queryDF(sql)) === Seq(Row(2), Row(3))))
      spark.udf.register("stale_f", (a: Int) => a * 100)
      assert(rows(ds.queryDF(sql)) === Seq(Row(100), Row(200)))
    } finally spark.sql("DROP TEMPORARY FUNCTION IF EXISTS stale_f")
  }

  test("statement cache: a session view outside the catalog is read afresh " +
    "by the next identical statement") {
    import spark.implicits._
    val (ds, _) = fixture()
    val sql = "SELECT count(*) AS n FROM t WHERE a IN (SELECT k FROM stale_v)"
    try {
      Seq(1).toDF("k").createOrReplaceTempView("stale_v")
      (1 to 3).foreach(_ => assert(rows(ds.queryDF(sql)) === Seq(Row(1L))))
      Seq(1, 2).toDF("k").createOrReplaceTempView("stale_v")
      assert(rows(ds.queryDF(sql)) === Seq(Row(2L)))
    } finally spark.catalog.dropTempView("stale_v")
  }

  test("statement cache: a maxsize eviction makes the next identical statement miss") {
    val dir = suiteTempDir("graft_stmt_evict")
    val ds = new DataSource(spark, dir.toString, initialCache = new MemoryCache(maxsize = Some(1)))
    ds.addTableFromFile(csv(dir, "t1", "a\n1\n2\n"))
    ds.addTableFromFile(csv(dir, "t2", "a\n5\n"))
    val sql = "SELECT sum(a) AS s FROM t1"
    ds.queryDF(sql) // reads t1 back in, evicting t2: not kept
    val held = ds.queryDF(sql)
    assert(ds.queryDF(sql) eq held)
    ds.table("t2") // evicts t1
    val after = ds.queryDF(sql)
    assert(after ne held)
    assert(rows(after) === Seq(Row(3L)))
  }

  test("statement cache: 4 threads of mixed hits and misses on one catalog " +
    "give no wrong rows") {
    val dir = suiteTempDir("graft_stmt_threads")
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(csv(dir, "t", "a\n" + (1 to 9).mkString("\n") + "\n"))
    val wrong = new AtomicInteger
    val failed = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      (0 until 4).foreach { th =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 60).foreach { i =>
            val k = 1 + (th + i) % 4
            // even steps repeat one of four statements, odd ones are new
            val sql =
              if (i % 2 == 0) s"SELECT count(*) AS n FROM t WHERE a <= $k"
              else s"SELECT count(*) AS n FROM t WHERE a <= $k AND $th$i = $th$i"
            try {
              if (ds.queryDF(sql).collect().toSeq != Seq(Row(k.toLong))) wrong.incrementAndGet()
            } catch { case _: Exception => failed.incrementAndGet() }
          }
        })
      }
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(5, TimeUnit.MINUTES))
    }
    assert((wrong.get, failed.get) === ((0, 0)))
  }
}

object CacheSpec {
  final class SumAgg extends Aggregator[Int, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Int): Long = b + a
    def merge(x: Long, y: Long): Long = x + y
    def finish(b: Long): Long = b
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
