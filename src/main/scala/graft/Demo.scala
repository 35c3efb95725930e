package graft

import java.nio.file.Files

import graft.api.DfSql
import graft.api.DfSql.SqlOps
import graft.catalog.DataSource

/** End-to-end demo of the dfsql facade: catalog + commands + dialect +
  * one-shot API + df.sql accessor. Run: sbt "runMain graft.Demo" */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4, 4,
      configure = _.withExtensions(new GraftExtensions)) // injects rolling_hash & co.

    val dir = Files.createTempDirectory("graft_demo")
    val csv = dir.resolve("people.csv")
    Files.writeString(csv,
      "name,age,city\nAda,36,London\nGrace,45,Washington\nAlan,41,London\n")

    val ds = new DataSource(spark, dir.toString)
    println("[demo] " + ds.query(s"CREATE TABLE ($csv)"))
    println("[demo] SHOW TABLES:")
    ds.query("SHOW TABLES") match {
      case graft.catalog.QueryResult.Frame(df) => df.show(false)
      case other => println(other)
    }

    // dfsql dialect: LIKE is an anchored regex, ^ is power
    ds.queryDF(
      "SELECT name, age ^ 2 AS age_sq FROM people WHERE name LIKE 'A.*' ORDER BY name")
      .show(false)

    // one-shot API over in-memory frames
    val people = ds.table("people")
    DfSql.sqlQuery(
      "SELECT city, count(*) AS n FROM p GROUP BY city ORDER BY n DESC",
      "p" -> people).show(false)

    // df.sql accessor with implicit FROM
    people.sql("SELECT name WHERE age > 40 ORDER BY name").show(false)

    // join output naming + chained df.sql over the dotted labels
    val selfJoin = DfSql.sqlQuery(
      "SELECT * FROM p1 JOIN p2 ON p1.city = p2.city",
      "p1" -> people, "p2" -> people)
    println("[demo] join columns: " + selfJoin.columns.mkString(", "))
    selfJoin.sql("SELECT p1.name, p2.name WHERE p1.name != p2.name").show(false)

    // CTAS extension: materialize a query result as a new catalog table
    println("[demo] CTAS: " + ds.query(
      "CREATE TABLE londoners AS SELECT name, age FROM people WHERE city = 'London'"))
    ds.queryDF("SELECT * FROM londoners ORDER BY name").show(false)

    // custom Catalyst function injected via SparkSessionExtensions
    spark.sql("SELECT name, rolling_hash(name) AS fp FROM people ORDER BY name")
      .show(false)

    // writer facade: persist a result as a partitioned catalog table
    ds.saveTable("by_city", people, partitionBy = Seq("city"))
    ds.queryDF("SELECT city, count(*) AS n FROM by_city GROUP BY city ORDER BY city")
      .show(false)
    ds.saveTable("people_orc", people, format = "orc")
    println("[demo] orc rows: " +
      ds.queryDF("SELECT count(*) AS n FROM people_orc").head.getLong(0))

    // reduce_output parity + cache accounting
    println("[demo] scalar: " + DfSql.sqlQueryReduced(
      "SELECT count(*) AS n FROM p", "p" -> people))
    val cache = new graft.catalog.MemoryCache
    val ds2 = new DataSource(spark, Files.createTempDirectory("graft_demo2").toString,
      initialCache = cache)
    ds2.addTableFromFile(csv.toString)
    ds2.table("people"); ds2.table("people"); ds2.table("people")
    println("[demo] cache (hits, misses, size): " + cache.info)

    // error paths surface as DfsqlException subclasses with clean messages
    try ds.queryDF("SELECT * FROM nope")
    catch { case e: Exception => println(s"[demo] expected error: ${e.getMessage.linesIterator.next()}") }

    spark.stop()
  }
}
