package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Maintenance

/** Per-process staging of the events file into a clean directory for the
  * streaming-source queries (a file stream needs a directory containing
  * only its inputs). One staged copy per sfDir per JVM — repeated query
  * invocations (Bench runs each query twice, Verify once more) reuse it
  * instead of leaking a parquet copy per call. */
object Staging {
  private val staged = scala.collection.concurrent.TrieMap[String, String]()
  private val sinkDirs = scala.collection.concurrent.TrieMap[String, String]()
  private val storeDirs = scala.collection.concurrent.TrieMap[String, String]()

  /** A fresh temp dir that a shutdown hook deletes recursively — for a
    * staging dir that gets FILLED after creation (deleteOnExit is a
    * no-op on non-empty dirs). */
  private[graft] def tempDir(prefix: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(Maintenance.rmTree(dir.toFile))
    dir
  }

  /** Stage each frame as ONE parquet file `chunk_NN.parquet` under
    * `dir`, with ascending mtimes — the multi-micro-batch arrival shape
    * (a file source under maxFilesPerTrigger=1 replays them in order).
    * Each frame is written to its own temp dir, whose single part is
    * moved out; the temp dir (with Spark's `_SUCCESS` and `.crc`
    * files) is deleted right after. */
  private[graft] def stageFrames(frames: Seq[DataFrame], dir: String): Unit = {
    val t0 = System.currentTimeMillis()
    val root = Paths.get(dir)
    Files.createDirectories(root)
    frames.zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory(s"graft_stage_c$i")
      try {
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"staged chunk $i produced no parquet part"))
        val dst = root.resolve(f"chunk_$i%02d.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(t0 + i * 2000L)
      } finally Maintenance.rmTree(tmp.toFile)
    }
  }

  /** Per-JVM persisted MinHash signature store for the d53 gate: the
    * settled corpus (documents with doc_id % 10 != 9 — the complement
    * of the d47/d53 batch split) indexed once per sfDir via
    * Dedup.writeSignatureStore, then REUSED across query invocations —
    * exactly the prior-run index the store pattern models. Gate
    * parameters (k=16, 3-gram shingles) are the writeSignatureStore
    * defaults and must match the batch side's. */
  def signatureStoreDir(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    storeDirs.getOrElseUpdate(sfDir, {
      val dir = tempDir("graft_sigstore")
      graft.operators.Dedup.writeSignatureStore(
        graft.Tables.load(spark, sfDir, "documents")
          .filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 9),
        dir.toString)
      dir.toString
    })

  private val imageStoreDirs = scala.collection.concurrent.TrieMap[String, String]()

  /** Per-JVM persisted image signature store for the m55 gate: the
    * settled image corpus (originals of documents with doc_id % 10 != 9)
    * fingerprinted once per sfDir via Multimodal.writeImageSignatureStore
    * and reused across invocations — the prior-run index the store
    * pattern models, image edition. */
  def imageStoreDir(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    imageStoreDirs.getOrElseUpdate(sfDir, {
      val dir = tempDir("graft_imgstore")
      graft.operators.Multimodal.writeImageSignatureStore(
        spark,
        graft.Tables.load(spark, sfDir, "documents")
          .filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 9),
        dir.toString)
      dir.toString
    })

  private val ivfIndexDirs = scala.collection.concurrent.TrieMap[String, String]()

  /** Per-JVM persisted IVF index for the s51 gate: the embeddings
    * corpus assigned and centroided once per sfDir via
    * Similarity.writeIvfIndex, reused across invocations. */
  def ivfIndexDir(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    ivfIndexDirs.getOrElseUpdate(sfDir, {
      val dir = tempDir("graft_ivfindex")
      graft.operators.Similarity.writeIvfIndex(
        graft.Tables.load(spark, sfDir, "embeddings"), dir.toString)
      dir.toString
    })

  private val ivfInsertDirs = scala.collection.concurrent.TrieMap[String, String]()

  /** Per-JVM IVF index for the s66 gate: quantizer trained on the BASE
    * slice only (queries + vec_id ≥ 100), then the delta batch
    * (5 ≤ vec_id < 100) appended WITHOUT retraining — the
    * index-maintenance store. */
  def ivfInsertDir(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    ivfInsertDirs.getOrElseUpdate(sfDir, {
      val dir = tempDir("graft_ivfinsert")
      val emb = graft.Tables.load(spark, sfDir, "embeddings")
      graft.operators.Similarity.writeIvfIndex(
        emb.filter(col("vec_id") < 5 || col("vec_id") >= 100), dir.toString)
      graft.operators.Similarity.appendIvfIndex(
        emb.filter(col("vec_id") >= 5 && col("vec_id") < 100), dir.toString)
      dir.toString
    })

  /** The s68 tombstoned id range [lo, hi) — one definition for the
    * staging delete AND the generated oracle filter. A strict subset of
    * the delta (5 ≤ id < 100), so the frozen quantizer is unaffected. */
  val ivfDeleteLo: Long = 5L
  val ivfDeleteHi: Long = 30L

  private val ivfDeleteDirs = scala.collection.concurrent.TrieMap[String, String]()

  /** Per-JVM IVF index for the s68 gate: the s66 construction (base
    * quantizer + appended delta) plus a tombstone delete of
    * [ivfDeleteLo, ivfDeleteHi) — deletes stay logical until a
    * compaction; the gate serves THROUGH the tombstones. */
  def ivfDeleteDir(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    ivfDeleteDirs.getOrElseUpdate(sfDir, {
      val dir = tempDir("graft_ivfdelete")
      val emb = graft.Tables.load(spark, sfDir, "embeddings")
      graft.operators.Similarity.writeIvfIndex(
        emb.filter(col("vec_id") < 5 || col("vec_id") >= 100), dir.toString)
      graft.operators.Similarity.appendIvfIndex(
        emb.filter(col("vec_id") >= 5 && col("vec_id") < 100), dir.toString)
      graft.operators.Similarity.deleteFromIvfIndex(
        emb.filter(col("vec_id") >= ivfDeleteLo && col("vec_id") < ivfDeleteHi)
          .select(col("vec_id")), dir.toString)
      dir.toString
    })

  private val driftDirs = scala.collection.concurrent.TrieMap[String, String]()

  /** Per-JVM persisted drift baseline for the t52 gate: the English
    * slice's hashed-unigram bucket counts written once per sfDir via
    * Curation.writeDriftBaseline (oracle-hash mode, matching the
    * gate's batch side), reused across invocations — the monitoring
    * edition of the store pattern. */
  def driftBaselineDir(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    driftDirs.getOrElseUpdate(sfDir, {
      val dir = tempDir("graft_driftbase")
      graft.operators.Curation.writeDriftBaseline(
        graft.Tables.load(spark, sfDir, "documents")
          .filter(org.apache.spark.sql.functions.col("lang") === "en"),
        dir.toString, oracleHash = true)
      dir.toString
    })

  def eventsDir(sfDir: String): String = staged.getOrElseUpdate(sfDir, {
    val dir = tempDir("graft_events_stage")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), dir.resolve("events.parquet"))
    dir.toString
  })

  /** Per-JVM output dir for a named sink query (foreachBatch etc.) —
    * reused across invocations (batchId-keyed writes are idempotent
    * overwrites), so Bench's repeated runs don't leak a dir per call.
    * Cleanup is a recursive shutdown hook: the sink FILLS the directory
    * with batch_N parquet, and deleteOnExit is a no-op on non-empty
    * dirs. */
  def sinkDir(key: String): String =
    sinkDirs.getOrElseUpdate(key, tempDir(s"graft_sink_$key").toString)
}
