package graft.operators

import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue, ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The signature store's three tables (shingles, signatures, df) are
  * written as concurrent Spark jobs after one shared materialization.
  * Concurrency must change nothing a caller can see: the rows, the job
  * group and local properties on every job, and the call's end (all
  * writes finished, the first failure rethrown as raised). */
class StoreWriteSpec extends SparkSpec {

  private def docs(): DataFrame =
    graft.Tables.load(spark, sf0001, "documents").filter(col("doc_id") % 10 =!= 9)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).toSeq.sortBy(_.mkString("|"))

  test("concurrent store writes hold the rows of sequential writes of the same frame") {
    val d = docs()
    val dir = suiteTempDir("storewrite_rows")
    Dedup.writeSignatureStore(d, dir.toString)
    // the same frame, collected table by table on this thread
    val ex = Dedup.shingleHashTable(d, 3)
      .select(col("doc_id").cast("long").as("doc_id"), col("sh")).localCheckpoint()
    def read(t: String) = spark.read.parquet(s"$dir/$t")
    assert(rows(read("shingles")) === rows(ex))
    assert(rows(read("signatures").select("doc_id", "sz", "sig")) ===
      rows(Dedup.signaturesFromShingles(ex, 16).select("doc_id", "sz", "sig")))
    assert(rows(read("df")) === rows(ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))))
  }

  test("every store write job carries the caller's job group and local property") {
    val sc = spark.sparkContext
    val props = new ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        props.add(e.properties); ()
      }
    }
    val dir = suiteTempDir("storewrite_props")
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("store-write-spec", "store write")
    sc.setLocalProperty("graft.spec.phase", "append")
    try {
      Dedup.appendBatchToStore(docs(), dir.toString, tag = Some("slot_0"))
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.phase", null)
      sc.removeSparkListener(listener)
    }
    val seen = props.asScala.toSeq
    // the observed materialization plus at least one job per table
    assert(seen.size >= 4, s"expected at least 4 jobs, saw ${seen.size}")
    seen.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") === "store-write-spec")
      assert(p.getProperty("graft.spec.phase") === "append")
    }
  }

  test("a failed store write throws as raised, after every write has finished") {
    val dir = suiteTempDir("storewrite_fail")
    // the df table's target is a plain file: its append fails, the
    // shingles and signatures appends succeed
    java.nio.file.Files.writeString(dir.resolve("df"), "not a directory")
    val sc = spark.sparkContext
    val e = intercept[Exception](Dedup.appendBatchToStore(docs(), dir.toString))
    assert(!e.isInstanceOf[CompletionException] && !e.isInstanceOf[ExecutionException],
      s"the failure arrived wrapped: $e")
    org.apache.spark.ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "a store write was still running when the call returned")
    assert(spark.read.parquet(s"$dir/shingles").count() > 0)
    assert(spark.read.parquet(s"$dir/signatures").count() > 0)
  }

  test("a fresh store has no _SUCCESS markers and every row reads back") {
    import spark.implicits._
    val dir = suiteTempDir("storewrite_marker")
    val d = docs()
    Dedup.writeSignatureStore(d, dir.toString)
    val more = Seq((900001L, "one two three four five six"), (900002L, ""))
      .toDF("doc_id", "text")
    Dedup.appendBatchToStore(more, dir.toString, tag = Some("batch_1"))
    Dedup.appendBatchToStore(
      more.select((col("doc_id") + 10).as("doc_id"), col("text")), dir.toString)
    val walk = java.nio.file.Files.walk(dir)
    val names = try walk.iterator().asScala.map(_.getFileName.toString).toSeq
      finally walk.close()
    assert(!names.exists(_.contains("_SUCCESS")), names.filter(_.contains("_SUCCESS")))
    def table(t: String) =
      spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/$t")
    val ex = Dedup.shingleHashTable(d, 3)
    val nDocs = ex.select("doc_id").distinct().count()
    // 4 shingles per appended non-empty doc, twice; the empty doc has none
    assert(table("shingles").count() === ex.count() + 8)
    assert(table("signatures").count() === nDocs + 2)
    assert(table("df").agg(sum(col("df"))).head().getLong(0) === ex.count() + 8)
  }
}
