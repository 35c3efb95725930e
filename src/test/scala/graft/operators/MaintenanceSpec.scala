package graft.operators

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compactParquet collapses the file count and preserves every row") {
    val root = suiteTempDir("graft_compact").toFile
    val src = new File(root, "frag").getAbsolutePath
    val dst = new File(root, "compact").getAbsolutePath
    (0L until 1000L).toDF("id").repartition(32)
      .write.mode("overwrite").parquet(src)
    assert(Maintenance.parquetFileCount(new File(src)) === 32L)

    val n = Maintenance.compactParquet(spark, src, dst,
      targetFileBytes = 1024L * 1024)
    assert(n === 1L) // 1000 longs ≪ 1 MiB target
    assert(Maintenance.parquetFileCount(new File(dst)) === 1L)
    // byte-identical content: same rows, same values
    val back = spark.read.parquet(dst).as[Long].collect().sorted
    assert(back === (0L until 1000L).toArray)
  }

  test("compactParquet rejects a non-positive target") {
    intercept[IllegalArgumentException] {
      Maintenance.compactParquet(spark, "/tmp/x", "/tmp/y", 0L)
    }
  }

  test("mergeAggDelta: inserts add, retractions subtract, zeroed groups vanish") {
    val view = Seq(("a", 2L, 20L), ("b", 1L, 5L), ("c", 3L, 30L))
      .toDF("k", "n", "s")
    val delta = Seq(
      ("a", 1L, 7L),    // insert into existing group
      ("b", -1L, -5L),  // retract b's only row → group must vanish
      ("d", 2L, 9L),    // brand-new group
      ("c", -1L, -10L)  // partial retraction
    ).toDF("k", "n", "s")
    val out = Maintenance.mergeAggDelta(view, delta, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toList
    assert(out === List(("a", 3L, 27L), ("c", 2L, 20L), ("d", 2L, 9L)))
  }

  test("mergeAggDelta equals the recompute on a composed base (IVM theorem)") {
    val base = (1L to 200L).map(i => (s"g${i % 7}", i)).toDF("k", "v")
    def agg(df: org.apache.spark.sql.DataFrame, sign: Long) =
      df.groupBy($"k").agg(
        (org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)) * sign).as("n"),
        (org.apache.spark.sql.functions.sum($"v") * sign).as("s"))
    val v0 = agg(base.filter($"v" % 10 =!= 9), 1L)
    val delta = agg(base.filter($"v" % 10 === 9), 1L)
      .unionByName(agg(base.filter($"v" % 20 === 3), -1L))
    val maintained = Maintenance.mergeAggDelta(v0, delta, Seq("k"))
    val recompute = agg(base.filter($"v" % 20 =!= 3), 1L)
    assert(maintained.exceptAll(recompute).count() === 0L)
    assert(recompute.exceptAll(maintained).count() === 0L)
  }

  test("mergeAggDelta rejects empty keys and value-less views") {
    val df = Seq(("a", 1L)).toDF("k", "n")
    intercept[IllegalArgumentException](
      Maintenance.mergeAggDelta(df, df, Seq.empty))
    val keysOnly = Seq(Tuple1("a")).toDF("k")
    intercept[IllegalArgumentException](
      Maintenance.mergeAggDelta(keysOnly, keysOnly, Seq("k")))
  }

  test("publishVersion: manifest-commit atomicity, crash invisibility, prune safety") {
    val root = suiteTempDir("pub_spec").toString
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val v2 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    assert(Maintenance.currentVersion(root).isEmpty)
    assert(Maintenance.publishVersion(v1, root) === 1L)
    assert(Maintenance.currentVersion(root) === Some(1L))
    assert(Maintenance.readPublished(spark, root).count() === 2L)
    assert(Maintenance.publishVersion(v2, root) === 2L)
    assert(Maintenance.readPublished(spark, root).count() === 3L)
    // a publisher that crashed AFTER writing data, BEFORE the flip:
    // invisible to readers, and the next publish reclaims its number
    Seq((9L, "z")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$root/v_3")
    assert(Maintenance.currentVersion(root) === Some(2L))
    assert(Maintenance.readPublished(spark, root).count() === 3L)
    assert(Maintenance.publishVersion(v1, root) === 3L,
      "retry must overwrite the crashed version's debris")
    assert(Maintenance.readPublished(spark, root).count() === 2L)
    // prune: committed version (3) and keep-window survive, older go
    Maintenance.pruneVersions(root, keep = 1)
    assert(!new java.io.File(s"$root/v_1").exists())
    assert(new java.io.File(s"$root/v_2").exists(), "keep=1 retains N-1")
    assert(new java.io.File(s"$root/v_3").exists())
    assert(Maintenance.readPublished(spark, root).count() === 2L)
  }

  test("commitVersionExclusive: racing writers never share a version, no lost updates") {
    import java.nio.file.{Files, Paths}
    val root = suiteTempDir("graft_cas").toString + "/store"
    val rounds = 40
    val wins = Array(new java.util.concurrent.atomic.AtomicLong(0),
      new java.util.concurrent.atomic.AtomicLong(0))
    def runWriter(id: Int): Thread = {
      val t = new Thread(() => {
        var committed = 0
        var spins = 0
        while (committed < rounds && spins < 100000) {
          val base = graft.operators.Maintenance.currentVersion(root)
            .getOrElse(0L)
          val won = graft.operators.Maintenance
            .commitVersionExclusive(root, Some(base)) { dir =>
              Files.createDirectories(Paths.get(dir))
              // non-atomic two-file write: a racer sharing the dir
              // would interleave and break the completeness check
              Files.write(Paths.get(dir, "who"), s"w$id".getBytes)
              Thread.sleep(0, 50000)
              Files.write(Paths.get(dir, "seal"), s"w$id".getBytes)
            }
          if (won.isDefined) { committed += 1; wins(id).incrementAndGet() }
          else spins += 1
        }
      })
      t.start(); t
    }
    val ts = Seq(runWriter(0), runWriter(1))
    ts.foreach(_.join(120000))
    assert(ts.forall(!_.isAlive), "writers did not finish")
    val finalV = graft.operators.Maintenance.currentVersion(root).get
    // every claim produced exactly one committed version: no number
    // was ever double-written, and no win was lost
    assert(finalV === wins(0).get + wins(1).get,
      s"committed $finalV != wins ${wins(0).get}+${wins(1).get}")
    assert(wins(0).get === rounds.toLong && wins(1).get === rounds.toLong)
    (1L to finalV).foreach { v =>
      val who = new String(Files.readAllBytes(Paths.get(s"$root/v_$v/who")))
      val seal = new String(Files.readAllBytes(Paths.get(s"$root/v_$v/seal")))
      assert(who === seal, s"v_$v interleaved two writers: $who vs $seal")
    }
  }

  test("commitVersionExclusive: stale plan refused; dead claim blocks until broken") {
    import java.nio.file.{Files, Paths}
    val root = suiteTempDir("graft_cas2").toString + "/store"
    def commit(base: Option[Long]) =
      graft.operators.Maintenance.commitVersionExclusive(root, base) { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, "d"), "x".getBytes)
      }
    assert(commit(Some(0L)) === Some(1L))
    // a plan derived before that commit must refuse, even though its
    // target version number (2) is free
    assert(commit(Some(0L)) === None, "stale expectedBase must refuse")
    // a writer that died after claiming v2 blocks the number...
    Files.createFile(Paths.get(root, ".claim_2"))
    Files.createDirectories(Paths.get(s"$root/v_2"))
    Files.write(Paths.get(s"$root/v_2/d"), "half".getBytes)
    assert(commit(Some(1L)) === None, "a held claim must exclude")
    // ...until the operator breaks it: debris cleared, number reusable
    assert(graft.operators.Maintenance.breakStaleClaim(root, 2L))
    assert(!new java.io.File(s"$root/v_2").exists(), "break clears debris")
    assert(commit(Some(1L)) === Some(2L))
    // a SPENT claim is not breakable (the version is committed)
    assert(!graft.operators.Maintenance.breakStaleClaim(root, 2L))
    // prune garbage-collects spent claims, never the in-flight one
    Files.createFile(Paths.get(root, ".claim_3"))
    graft.operators.Maintenance.pruneVersions(root, keep = 0)
    assert(!new java.io.File(root, ".claim_2").exists(), "spent claim gc'd")
    assert(new java.io.File(root, ".claim_3").exists(), "in-flight claim kept")
  }
}
