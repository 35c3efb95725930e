package graft.operators

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-located joins: the shuffle-elimination technique for
  * repeated big⋈big joins.
  *
  * A shuffle join moves BOTH sides over the network every time it runs.
  * When the same join key is hit repeatedly (a fact table joined to its
  * dimension on every pipeline run), writing both sides bucketed by the
  * key pays the shuffle ONCE at write time: each bucket pair is then
  * co-located, and every subsequent join is a local sort-merge with no
  * Exchange on either side. At 100 TB that converts the dominant
  * recurring network cost into a one-time layout cost — the same trade
  * as Hive bucketing / Iceberg bucket partition transforms.
  *
  * Buckets land as an external table (explicit parquet path + catalog
  * entry carrying the bucket spec — only the catalog knows the file →
  * bucket mapping, which is why a plain `read.parquet` of the same files
  * would still shuffle).
  */
object Bucketing {

  private val prepared = TrieMap[(SparkSession, String, String, String, Int), String]()

  /** Write `name` from sfDir bucketed by `key` into `buckets` buckets
    * (idempotent per session: repeated invocations reuse the table).
    * Returns the catalog table name. The name encodes EVERY layout input
    * (source dir, key, bucket count): a name keyed on fewer would let a
    * second sfDir/key recreate the table underneath a live cache entry
    * and silently serve the wrong rows or the wrong layout. */
  def bucketedTable(
      spark: SparkSession, sfDir: String, name: String,
      key: String, buckets: Int): String = {
    // evict stopped sessions on lookup (same leak class as the facade
    // DataSource cache)
    prepared.keys.filter(_._1.sparkContext.isStopped).foreach(prepared.remove)
    val dirTag = java.lang.Integer.toHexString(sfDir.hashCode)
    val tbl = s"graft_${name}_${key}_b${buckets}_$dirTag"
    prepared.getOrElseUpdate((spark, sfDir, name, key, buckets), {
      val dir = Files.createTempDirectory(s"graft_bucket_$name")
      sys.addShutdownHook(Maintenance.rmTree(dir.toFile))
      val path = dir.toString
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.Tables.load(spark, sfDir, name)
        // parallelize the one-time layout write: a single-split input
        // would otherwise bucket-sort everything in one task (the write
        // itself never shuffles — each task splits its rows by bucket)
        .repartition(buckets, org.apache.spark.sql.functions.col(key))
        .write
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(tbl)
      tbl
    })
    tbl
  }

  /** Equi-join two tables through their bucketed layouts. With equal
    * bucket counts on the join key both sides are co-located: the plan
    * is a SortMergeJoin with NO Exchange on either side (asserted by
    * BucketingSpec). */
  def bucketedJoin(
      spark: SparkSession, sfDir: String,
      left: String, leftKey: String,
      right: String, rightKey: String,
      buckets: Int = 8): DataFrame = {
    val l = spark.table(bucketedTable(spark, sfDir, left, leftKey, buckets))
    val r = spark.table(bucketedTable(spark, sfDir, right, rightKey, buckets))
    l.join(r, l(leftKey) === r(rightKey))
  }
}
