package graft.catalog

import java.nio.file.{Files, Path, Paths}

import graft.{QueryExecutionException, SparkSpec}

class DataSourceSpec extends SparkSpec {

  private def tmpDir(): Path = suiteTempDir("graft_test_meta")

  /** 9-row titanic-style CSV fixture (FIXTURES.md §1). */
  private def titanicCsv(dir: Path): String = {
    val p = dir.resolve("titanic.csv")
    Files.writeString(p,
      """passenger_id,survived,p_class,name,sex,age,fare
        |1,0,3,"Braund, Mr. Owen Harris",male,22,7.25
        |2,1,1,"Cumings, Mrs. John Bradley",female,38,71.2833
        |3,1,3,"Heikkinen, Miss. Laina",female,26,7.925
        |4,1,1,"Futrelle, Mrs. Jacques Heath",female,35,53.1
        |5,0,3,"Allen, Mr. William Henry",male,35,8.05
        |6,0,3,"Moran, Mr. James",male,,8.4583
        |7,0,1,"McCarthy, Mr. Timothy J",male,54,51.8625
        |8,0,3,"Palsson, Master. Gosta Leonard",male,2,21.075
        |9,1,3,"Johnson, Mrs. Oscar W",female,27,11.1333
        |""".stripMargin)
    p.toString
  }

  test("add/drop/contains + duplicate-add errors") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    assert(ds.contains("titanic"))
    assertThrows[QueryExecutionException](ds.addTableFromFile(titanicCsv(dir)))
    ds.dropTable("titanic")
    assert(!ds.contains("titanic"))
    assertThrows[QueryExecutionException](ds.dropTable("titanic"))
  }

  test("metadata persists across DataSource instances (datasource_tables.json)") {
    val dir = tmpDir()
    val csv = titanicCsv(dir)
    val ds1 = new DataSource(spark, dir.toString)
    ds1.addTableFromFile(csv)
    // same format as the reference: {name: {type,name,fpath}}
    val json = Files.readString(dir.resolve("datasource_tables.json"))
    assert(json.contains("\"type\":\"FileTable\"") && json.contains("\"fpath\""))
    val ds2 = new DataSource(spark, dir.toString)
    assert(ds2.contains("titanic"))
    assert(ds2.queryDF("SELECT count(*) AS n FROM titanic").head.getLong(0) === 9L)
  }

  test("case-insensitive mode resolves any-cased table names") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString, caseSensitive = false)
    ds.addTableFromFile(titanicCsv(dir))
    assert(ds.contains("TITANIC"))
    assert(ds.table("TiTaNiC").count() === 9)
  }

  test("query end-to-end: WHERE + GROUP BY over CSV with inferred schema") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    val out = ds.queryDF(
      "SELECT sex, count(*) AS n FROM titanic GROUP BY sex ORDER BY sex")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("female", 4L), ("male", 5L)))
  }

  test("dfsql LIKE dialect works through query()") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    val out = ds.queryDF(
      "SELECT name FROM titanic WHERE name LIKE '.*Owen.*' ORDER BY name")
    assert(out.count() === 1)
  }

  test("reduce_output: 1x1 result becomes a scalar") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    ds.query("SELECT count(*) AS n FROM titanic", reduceOutput = true) match {
      case QueryResult.Scalar(v) => assert(v === 9L)
      case other => fail(s"expected Scalar, got $other")
    }
  }

  test("commands: CREATE TABLE / SHOW TABLES / DROP TABLE round-trip") {
    val dir = tmpDir()
    val csv = titanicCsv(dir)
    val ds = new DataSource(spark, dir.toString)
    assert(ds.query(s"CREATE TABLE ($csv)") === QueryResult.Ok)
    ds.query("SHOW TABLES") match {
      case QueryResult.Frame(df) =>
        val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
        assert(rows.toSeq === Seq(("titanic", csv)))
      case other => fail(s"expected Frame, got $other")
    }
    assert(ds.query("DROP TABLE titanic") === QueryResult.Ok)
    assert(!ds.contains("titanic"))
  }

  test("fromDir registers every readable file") {
    val meta = tmpDir()
    val data = tmpDir()
    titanicCsv(data)
    val ds = DataSource.fromDir(spark, meta.toString, data.toString)
    assert(ds.tableNames === Seq("titanic"))
  }

  test("fromDir closes its directory listing") {
    val meta = tmpDir()
    val data = tmpDir()
    Files.writeString(data.resolve("notes.txt"), "not a table")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val before = os.getOpenFileDescriptorCount
    (1 to 200).foreach { _ =>
      intercept[QueryExecutionException](
        DataSource.fromDir(spark, meta.toString, data.toString))
    }
    val grown = os.getOpenFileDescriptorCount - before
    assert(grown < 100, s"open descriptors grew by $grown over 200 fromDir calls")
  }

  test("fromDir over the full testdata dir: all 10 parquet tables queryable") {
    val meta = tmpDir()
    val ds = DataSource.fromDir(spark, meta.toString, "/root/testdata/sf0.001")
    try {
      assert(ds.tableNames.toSet === graft.Tables.all.toSet)
      val out = ds.queryDF(
        """SELECT n_name, count(*) AS n FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3""".stripMargin)
      assert(out.count() === 3)
    } finally {
      // unpersist: Spark's cache manager substitutes InMemoryRelation into
      // ANY other plan over the same files (shared session), which would
      // silently defeat the pushdown/pruning plan specs
      ds.setCache(new DoNothingCache)
    }
  }

  test("CTAS materializes and registers a new table") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    assert(ds.query(
      "CREATE TABLE survivors AS SELECT name, fare FROM titanic WHERE survived = 1")
      === QueryResult.Ok)
    assert(ds.contains("survivors"))
    assert(ds.queryDF("SELECT count(*) AS n FROM survivors").head.getLong(0) === 4L)
    // persisted: a fresh DataSource over the same metadata dir sees it
    val ds2 = new DataSource(spark, dir.toString)
    assert(ds2.queryDF("SELECT count(*) AS n FROM survivors").head.getLong(0) === 4L)
  }

  test("regression: CTAS collision fails cleanly and DROP+retry succeeds") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    // name collision must fail BEFORE anything is written
    assertThrows[QueryExecutionException](
      ds.query("CREATE TABLE titanic AS SELECT * FROM titanic"))
    assert(ds.query("CREATE TABLE t2 AS SELECT name FROM titanic") === QueryResult.Ok)
    ds.dropTable("t2")
    // same-name CTAS after DROP must succeed (no orphan-file block)
    assert(ds.query("CREATE TABLE t2 AS SELECT sex FROM titanic") === QueryResult.Ok)
    assert(ds.queryDF("SELECT * FROM t2").columns.toSeq === Seq("sex"))
  }

  test("case-insensitive mode applies to column lookup; sensitive mode rejects") {
    val dir = tmpDir()
    val insensitive = new DataSource(spark, dir.toString, caseSensitive = false)
    insensitive.addTableFromFile(titanicCsv(dir))
    assert(insensitive.queryDF("SELECT PASSENGER_ID FROM titanic").count() === 9)
    val dir2 = tmpDir()
    val sensitive = new DataSource(spark, dir2.toString) // reference default
    sensitive.addTableFromFile(titanicCsv(dir2))
    assertThrows[Exception](
      sensitive.queryDF("SELECT PASSENGER_ID FROM titanic").collect())
  }

  test("saveTable round-trips parquet, csv, and partitioned layouts") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    val survivors = ds.table("titanic").filter("survived = 1")
    ds.saveTable("surv_parquet", survivors)
    ds.saveTable("surv_csv", survivors, format = "csv")
    ds.saveTable("surv_orc", survivors, format = "orc")
    ds.saveTable("surv_xml", survivors, format = "xml")
    ds.saveTable("surv_part", survivors, partitionBy = Seq("sex"))
    assert(ds.queryDF("SELECT count(*) AS n FROM surv_parquet").head.getLong(0) === 4)
    assert(ds.queryDF("SELECT count(*) AS n FROM surv_csv").head.getLong(0) === 4)
    assert(ds.queryDF("SELECT count(*) AS n FROM surv_orc").head.getLong(0) === 4)
    // Spark 4 native XML: write and re-read through the same facade,
    // including a value predicate to show the schema survived
    assert(ds.queryDF("SELECT count(*) AS n FROM surv_xml").head.getLong(0) === 4)
    assert(ds.queryDF(
      "SELECT count(*) AS n FROM surv_xml WHERE sex = 'female'")
      .head.getLong(0) === 4)
    assert(ds.queryDF("SELECT count(*) AS n FROM surv_part WHERE sex = 'female'")
      .head.getLong(0) === 4)
    // persisted across instances
    assert(new DataSource(spark, dir.toString).contains("surv_parquet"))
  }

  test("JSON file tables register and query") {
    val dir = tmpDir()
    val j = dir.resolve("logs.json")
    Files.writeString(j,
      """{"level":"info","n":1}
        |{"level":"warn","n":2}
        |{"level":"info","n":3}
        |""".stripMargin)
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(j.toString)
    val out = ds.queryDF(
      "SELECT level, sum(n) AS total FROM logs GROUP BY level ORDER BY level")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("info", 4L), ("warn", 2L)))
  }

  test("broadcast hints pass through the facade to the planner") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString,
      initialCache = new DoNothingCache)
    ds.addTable(FileTable("orders", "/root/testdata/sf0.001/orders.parquet"))
    ds.addTable(FileTable("customer", "/root/testdata/sf0.001/customer.parquet"))
    val df = ds.queryDF(
      """SELECT /*+ BROADCAST(customer) */ o_orderkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)
    val names = graft.tools.PlanInspect.nodeNames(df)
    assert(names.exists(_.contains("BroadcastHashJoin")), names)
  }

  test("regression: two DataSources on one session stay isolated per statement") {
    val dirA = tmpDir(); val dirB = tmpDir()
    titanicCsv(dirA)
    Files.writeString(dirB.resolve("titanic.csv"), "passenger_id\n100\n101\n")
    val dsA = new DataSource(spark, dirA.toString)
    dsA.addTableFromFile(dirA.resolve("titanic.csv").toString)
    val dsB = new DataSource(spark, dirB.toString)
    dsB.addTableFromFile(dirB.resolve("titanic.csv").toString)
    // each catalog's statement sees ITS table despite the shared name
    assert(dsA.queryDF("SELECT count(*) AS n FROM titanic").head.getLong(0) === 9L)
    assert(dsB.queryDF("SELECT count(*) AS n FROM titanic").head.getLong(0) === 2L)
    assert(dsA.queryDF("SELECT count(*) AS n FROM titanic").head.getLong(0) === 9L)
    // backticked references re-register too — without Tick collection dsB
    // would silently read dsA's still-registered view
    assert(dsB.queryDF("SELECT count(*) AS n FROM `titanic`").head.getLong(0) === 2L)
  }

  test("regression: unsupported saveTable format fails before any mutation") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    assertThrows[QueryExecutionException](
      ds.saveTable("t_avro", ds.table("titanic"), format = "avro"))
    assert(!ds.contains("t_avro"))
    assert(!Files.exists(dir.resolve("t_avro.avro")))
  }

  test("regression: a stale metadata entry doesn't block catalog construction") {
    val dir = tmpDir()
    val csv = titanicCsv(dir)
    val ghost = dir.resolve("ghost.csv")
    Files.writeString(ghost, "a\n1\n")
    val ds1 = new DataSource(spark, dir.toString)
    ds1.addTableFromFile(csv)
    ds1.addTableFromFile(ghost.toString)
    Files.delete(ghost)
    val ds2 = new DataSource(spark, dir.toString) // must not throw
    assert(ds2.contains("ghost"))
    ds2.dropTable("ghost") // repairable
    assert(ds2.queryDF("SELECT count(*) AS n FROM titanic").head.getLong(0) === 9L)
  }

  test("custom scalar function is callable from SQL") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    ds.registerFunction[Double, Double]("double_fare", _ * 2)
    val out = ds.queryDF(
      "SELECT passenger_id, double_fare(fare) AS f2 FROM titanic WHERE passenger_id = 1")
    assert(out.head.getDouble(1) === 14.5)
  }

  test("regression: dropTable deletes what saveTable/CTAS wrote, also after " +
    "a metadata reload") {
    val dir = tmpDir()
    val ds = new DataSource(spark, dir.toString)
    ds.addTableFromFile(titanicCsv(dir))
    ds.query("CREATE TABLE survivors AS SELECT name FROM titanic WHERE survived = 1")
    ds.saveTable("fares", ds.table("titanic").select("fare"), format = "csv")
    ds.saveTable("by_sex", ds.table("titanic"), partitionBy = Seq("sex"))
    val out = Seq("survivors.parquet", "fares.csv", "by_sex.parquet").map(dir.resolve)
    assert(out.forall(Files.isDirectory(_)))
    // the marker is invisible to readers
    assert(ds.queryDF("SELECT count(*) AS n FROM survivors").head.getLong(0) === 4L)
    ds.dropTable("survivors")
    assert(!Files.exists(out(0)))
    // a fresh catalog over the same metadata drops what the first one wrote
    val reloaded = new DataSource(spark, dir.toString)
    reloaded.dropTable("fares")
    reloaded.query("DROP TABLE by_sex")
    assert(!Files.exists(out(1)) && !Files.exists(out(2)))
    assert(Files.exists(dir.resolve("titanic.csv")))
  }

  test("regression: dropTable never deletes a table registered from a path") {
    val dir = tmpDir()
    val csv = titanicCsv(dir) // inside the metadata dir
    val ds = new DataSource(spark, dir.toString)
    ds.query(s"CREATE TABLE ($csv)")
    // a Spark-written directory at the path saveTable would use, not
    // written by saveTable
    val raw = dir.resolve("raw.parquet")
    ds.table("titanic").write.parquet(raw.toString)
    ds.addTableFromFile(raw.toString)
    // another catalog's saveTable output, registered here by path
    val otherDir = tmpDir()
    val other = new DataSource(spark, otherDir.toString)
    other.saveTable("kept", ds.table("titanic"))
    ds.addTableFromFile(otherDir.resolve("kept.parquet").toString)
    val fresh = new DataSource(spark, dir.toString)
    Seq("titanic", "raw", "kept").foreach(fresh.dropTable)
    assert(Files.isRegularFile(Paths.get(csv)) && Files.isDirectory(raw))
    assert(other.queryDF("SELECT count(*) AS n FROM kept").head.getLong(0) === 9L)
    // fromDir registrations are kept too, even when the files dir is the
    // metadata dir
    val data = tmpDir()
    titanicCsv(data)
    val scanned = DataSource.fromDir(spark, data.toString, data.toString)
    scanned.dropTable("titanic")
    assert(Files.exists(data.resolve("titanic.csv")))
  }

  test("regression: catalogs that differ in case sensitivity, analyzed from " +
    "4 threads, give no wrong rows and leave the session conf unset") {
    val key = "spark.sql.caseSensitive"
    assert(spark.conf.getAll.get(key).isEmpty)
    val (strict, loose) = (tmpDir(), tmpDir())
    val exact = new DataSource(spark, strict.toString, initialCache = new DoNothingCache)
    exact.addTableFromFile(titanicCsv(strict))
    val any = new DataSource(spark, loose.toString, caseSensitive = false,
      initialCache = new DoNothingCache)
    any.addTableFromFile(titanicCsv(loose))
    val wrong = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      (0 until 4).foreach { th =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 40).foreach { i =>
            val ok =
              try {
                if (th % 2 == 0)
                  any.queryDF("SELECT count(*) AS N FROM TITANIC WHERE AGE > 30")
                    .head.getLong(0) == 4L
                else // a mixed-case column must not resolve under case-sensitive analysis
                  scala.util.Try(exact.queryDF("SELECT Age FROM titanic").collect()).isFailure
              } catch { case _: Exception => false }
            if (!ok) wrong.incrementAndGet()
          }
        })
      }
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES))
    }
    assert(wrong.get === 0)
    assert(spark.conf.getAll.get(key).isEmpty)
  }
}
