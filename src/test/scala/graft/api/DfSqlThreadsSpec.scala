package graft.api

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.api.DfSql.SqlOps

/** sqlQuery and df.sql from many threads on one session: every df.sql
  * binds the name `temp`, over frames of different sizes. */
class DfSqlThreadsSpec extends SparkSpec {

  test("4 threads of mixed sqlQuery and df.sql calls give no wrong rows and " +
    "leave the session's catalog and functions unchanged") {
    val small = spark.range(10).toDF("id") // never persisted: every call binds anew
    val big = spark.range(1000).toDF("id").persist() // persisted: repeats reuse
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    def functions = spark.catalog.listFunctions().collect().map(_.name).toSet
    val (tables0, functions0) = (tables, functions)
    val wrong = new AtomicInteger
    val failed = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      (0 until 4).foreach { th =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 120).foreach { i =>
            val k = 1 + (th * 7 + i) % 9
            try {
              val (got, want) = i % 4 match {
                case 0 => (small.sql("SELECT count(*) AS c").head.getLong(0), 10L)
                case 1 => (big.sql("SELECT count(*) AS c").head.getLong(0), 1000L)
                case 2 =>
                  val frame = if (i % 8 == 2) small else big
                  (frame.sql(s"SELECT count(*) AS c WHERE id < $k").head.getLong(0), k.toLong)
                case _ =>
                  (DfSql.sqlQuery(
                    s"SELECT count(*) AS c FROM s JOIN b ON s.id = b.id WHERE b.id >= $k",
                    "s" -> small, "b" -> big).head.getLong(0), 10L - k)
              }
              if (got != want) wrong.incrementAndGet()
            } catch { case _: Exception => failed.incrementAndGet() }
          }
        })
      }
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(5, TimeUnit.MINUTES))
      big.unpersist()
    }
    assert((wrong.get, failed.get) === ((0, 0)))
    assert(tables === tables0)
    assert(functions === functions0)
  }
}
