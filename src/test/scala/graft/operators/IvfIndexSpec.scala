package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** s51's store ≡ recompute contract (the d53/SignatureStoreSpec shape
  * for vectors): IVF search against the persisted index must return
  * row-for-row what ivfSearch computes from the raw corpus — floats
  * and fixed-point centroids round-trip parquet bit-exactly, and the
  * search core is shared.
  */
class IvfIndexSpec extends SparkSpec {

  test("searchIvfIndex equals ivfSearch on the same corpus") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 7)
    val dir = suiteTempDir("ivf_spec").toString
    Similarity.writeIvfIndex(emb, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSeq
    val fromStore = rows(Similarity.searchIvfIndex(spark, queries, dir, k = 10))
    val recomputed = rows(Similarity.ivfSearch(emb, queries, k = 10))
    assert(fromStore === recomputed,
      "persisted-index search diverged from the recompute path")
    assert(fromStore.nonEmpty)
  }

  // ---- incremental insert without retraining (s66) ----

  private def centroidBytes(dir: String): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(Similarity.ivfVersionDir(dir), "centroids")
    val walk = java.nio.file.Files.walk(p)
    try walk.iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f))
      .map(f => (p.relativize(f).toString, java.nio.file.Files.size(f)))
      .toSeq.sortBy(_._1)
    finally walk.close()
  }

  test("appendIvfIndex leaves the centroid artifact untouched") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val dir = suiteTempDir("ivf_ins_a").toString
    Similarity.writeIvfIndex(emb.filter(col("vec_id") >= 100), dir)
    val before = centroidBytes(dir)
    val beforeHash = java.nio.file.Files.walk(java.nio.file.Paths.get(
      Similarity.ivfVersionDir(dir), "centroids")).count()
    Similarity.appendIvfIndex(emb.filter(col("vec_id") < 100), dir)
    assert(centroidBytes(dir) === before, "append must not touch centroids")
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(
      Similarity.ivfVersionDir(dir), "centroids")).count() === beforeHash)
  }

  test("append path equals bulk assignment under the same frozen quantizer") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val base = emb.filter(col("vec_id") < 5 || col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") >= 5 && col("vec_id") < 100)
    val queries = emb.filter(col("vec_id") < 5)
    // arm A: base index + no-retrain append (the s66 object under test)
    val dirA = suiteTempDir("ivf_ins_b").toString
    Similarity.writeIvfIndex(base, dirA)
    Similarity.appendIvfIndex(delta, dirA)
    // arm B: postings bulk-written from the UNION in one shot, then the
    // quantizer swapped back to the base-trained artifact — the same
    // logical index reached by a different code path
    val dirB = suiteTempDir("ivf_ins_c").toString
    Similarity.writeIvfIndex(emb, dirB)
    val cb = java.nio.file.Paths.get(Similarity.ivfVersionDir(dirB), "centroids")
    org.apache.commons.io.FileUtils.deleteDirectory(cb.toFile)
    val baseOnly = suiteTempDir("ivf_ins_d").toString
    Similarity.writeIvfIndex(base, baseOnly)
    org.apache.commons.io.FileUtils.copyDirectory(java.nio.file.Paths.get(
      Similarity.ivfVersionDir(baseOnly), "centroids").toFile, cb.toFile)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val a = rows(Similarity.searchIvfIndex(spark, queries, dirA, k = 10))
    val b = rows(Similarity.searchIvfIndex(spark, queries, dirB, k = 10))
    assert(a === b, "append path diverged from bulk assignment")
    assert(a.nonEmpty)
  }

  test("a replayed ingest batch rewrites its subdir — search is unchanged (s67)") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val base = emb.filter(col("vec_id") < 5 || col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") >= 5 && col("vec_id") < 100)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = suiteTempDir("ivf_replay").toString
    Similarity.writeIvfIndex(base, dir)
    Similarity.appendIvfIndex(delta, dir, subdir = Some("batch_0"))
    def rows() = Similarity.searchIvfIndex(spark, queries, dir, k = 10)
      .collect().map(_.toSeq).toSeq
    val once = rows()
    // at-least-once delivery: the SAME batch id fires again
    Similarity.appendIvfIndex(delta, dir, subdir = Some("batch_0"))
    assert(rows() === once, "a replayed batch must not duplicate postings")
    // ...whereas a blind flat append WOULD have duplicated them — the
    // subdir overwrite is load-bearing, not cosmetic
    Similarity.appendIvfIndex(delta, dir)
    assert(rows() !== once, "sanity: flat re-append must be visible")
  }

  test("compactIvfIndex collapses batch fragments; search is unchanged") {
    import scala.jdk.CollectionConverters._
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val base = emb.filter(col("vec_id") >= 100)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = suiteTempDir("ivf_compact").toString
    Similarity.writeIvfIndex(base, dir)
    // a few streamed batches fragment the postings
    (0 until 4).foreach { i =>
      Similarity.appendIvfIndex(
        emb.filter(col("vec_id") >= 5 && col("vec_id") < 100
          && pmod(col("vec_id"), lit(4)) === i),
        dir, subdir = Some(s"batch_$i"))
    }
    def parquetFiles(): Int = {
      // resolve per call: compaction commits a NEW version
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(Similarity.ivfVersionDir(dir), "cells"))
      try walk.iterator().asScala
        .count(_.toString.endsWith(".parquet"))
      finally walk.close()
    }
    def rows() = Similarity.searchIvfIndex(spark, queries, dir, k = 10)
      .collect().map(_.toSeq).toSeq
    val before = rows()
    val fragmented = parquetFiles()
    Similarity.compactIvfIndex(spark, dir, files = 2)
    assert(parquetFiles() < fragmented,
      s"compaction did not reduce files ($fragmented)")
    assert(parquetFiles() <= 2)
    assert(rows() === before, "compaction changed search results")
  }

  test("tombstone delete: logical = never-ingested; compaction applies + clears (s68)") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val dir = suiteTempDir("ivf_del").toString
    Similarity.writeIvfIndex(emb, dir)
    // plant a near-dup of query 0, then delete it: it must vanish
    val q0 = emb.filter(col("vec_id") === 0).collect()(0)
    val jit = q0.getSeq[Float](1).toArray
      .zipWithIndex.map { case (x, i) => if (i == 0) x + 0.001f else x }
    Similarity.appendIvfIndex(
      Seq((88888L, jit)).toDF("vec_id", "embedding").withColumn("label", lit(0)),
      dir, subdir = Some("batch_0"))
    def rows() = Similarity.searchIvfIndex(spark, queries, dir, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(rows().exists(_(1) == 88888L), "planted arrival must serve first")
    Similarity.deleteFromIvfIndex(Seq(88888L).toDF("vec_id"), dir)
    val afterDelete = rows()
    assert(!afterDelete.exists(_(1) == 88888L), "tombstoned id still served")
    // idempotent: re-deleting changes nothing a reader can observe
    Similarity.deleteFromIvfIndex(Seq(88888L).toDF("vec_id"), dir)
    assert(rows() === afterDelete)
    // compaction applies the tombstones physically: the new committed
    // version carries no tombstone set at all
    Similarity.compactIvfIndex(spark, dir, files = 2)
    val v = Similarity.ivfVersionDir(dir)
    assert(!new java.io.File(s"$v/tombstones").exists(),
      "the compacted version must carry no tombstone set")
    assert(rows() === afterDelete, "compaction changed the live view")
    val remaining = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$v/cells").filter(col("vec_id") === 88888L).count()
    assert(remaining === 0L, "compaction left the deleted posting on disk")
  }

  test("an inserted near-dup of a query becomes servable at rank 1") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val dir = suiteTempDir("ivf_ins_e").toString
    Similarity.writeIvfIndex(emb, dir)
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val jittered = q0.getSeq[Float](1).toArray
      .zipWithIndex.map { case (x, i) => if (i == 0) x + 0.001f else x }
    val delta = Seq((99999L, jittered)).toDF("vec_id", "embedding")
      .withColumn("label", lit(0)) // match the store schema
    Similarity.appendIvfIndex(delta, dir)
    val top = Similarity.searchIvfIndex(spark,
      emb.filter(col("vec_id") === 0), dir, k = 10).collect()
    assert(top.head.getLong(1) === 99999L,
      s"inserted near-dup not served: ${top.take(3).toSeq}")
  }

  // ---- quantizer retrain, the 4th lifecycle verb (s70) ----

  test("retrainIvfIndex equals a from-scratch build over the live vectors") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSeq
    // lived-in store: base build + append + tombstoned deletes
    val dir = suiteTempDir("ivf_rt_a").toString
    Similarity.writeIvfIndex(emb.filter(col("vec_id") >= 50), dir)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") < 50), dir)
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")), dir)
    Similarity.retrainIvfIndex(spark, dir, nBits = 5, seed = 11L)
    val v = Similarity.ivfVersionDir(dir)
    // retrain applies tombstones physically: the committed version has none
    assert(!new java.io.File(s"$v/tombstones").exists(),
      "the retrained version carries a tombstone set")
    val live = emb.filter(col("vec_id") % 7 =!= 3)
    val total = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$v/cells")
    assert(total.count() === live.count())
    // the new quantizer really is new: 5 planes -> cells beyond 4-bit
    assert(total.agg(max(col("cell"))).head().getLong(0) > 15L,
      "retrained cells still in the 4-bit range — planes not rebuilt")
    // blue/green result ≡ from-scratch build with the same (nBits, seed)
    val fresh = suiteTempDir("ivf_rt_b").toString
    Similarity.writeIvfIndex(live, fresh, nBits = 5, seed = 11L)
    assert(rows(Similarity.searchIvfIndex(spark, queries, dir, k = 10)) ===
      rows(Similarity.searchIvfIndex(spark, queries, fresh, k = 10)),
      "retrained store diverged from the from-scratch rebuild")
  }

  test("ivfCellBalance: exact histogram, integer ratios, tombstone-aware") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val dir = suiteTempDir("ivf_bal").toString
    Similarity.writeIvfIndex(emb, dir)
    val rows = Similarity.ivfCellBalance(spark, dir).collect()
    val counts = rows.map(_.getLong(1))
    val total = counts.sum
    assert(total === emb.count())
    val hot = rows.head.getLong(3)
    assert(rows.forall(_.getLong(3) === hot), "factor must be global")
    assert(hot === counts.max * rows.length * 1000L / total)
    assert(hot >= 1000L, "max/mean factor is >= 1 by construction")
    rows.foreach(r => assert(r.getLong(2) === r.getLong(1) * 1000L / total))
    // the audit describes the LIVE view: tombstoned postings drop out
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") < 10).select(col("vec_id")), dir)
    val total2 = Similarity.ivfCellBalance(spark, dir).collect()
      .map(_.getLong(1)).sum
    assert(total2 === total - 10)
  }

  // ---- crash recovery: manifest commit + legacy-store migration ----

  test("a crashed maintenance commit is invisible; the retry overwrites it") {
    import java.nio.file.{Files, Paths}
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 7)
    def rows(dir: String) = Similarity
      .searchIvfIndex(spark, queries, dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSeq

    // a compaction that died mid-write: next-version data partially on
    // disk, manifest never flipped — the q224 planted-crash shape. The
    // reader must serve the committed version untouched, and the retry
    // must land on the same version number, overwriting the debris.
    val cDir = suiteTempDir("ivf_crash_c").toString
    Similarity.writeIvfIndex(emb, cDir)
    val before = rows(cDir)
    val v1 = Similarity.ivfVersionDir(cDir)
    val crashedV = Maintenance.currentVersion(cDir).get + 1
    Files.createDirectories(Paths.get(s"$cDir/v_$crashedV/cells"))
    Files.write(Paths.get(s"$cDir/v_$crashedV/cells/_partial"),
      Array[Byte](1, 2, 3))
    assert(rows(cDir) === before, "crashed-commit debris leaked into reads")
    Similarity.compactIvfIndex(spark, cDir, files = 2)
    assert(Maintenance.currentVersion(cDir).contains(crashedV),
      "retry must commit the version the crash reserved")
    assert(rows(cDir) === before,
      "post-crash compaction retry changed (or lost) the index")
    // snapshot isolation by retention: the superseded version is intact
    // for in-flight readers until an explicit prune
    assert(new java.io.File(s"$v1/cells").exists(),
      "commit must not destroy the superseded version")
    Maintenance.pruneVersions(cDir, keep = 0)
    assert(!new java.io.File(v1).exists(), "prune must drop the old version")
    assert(rows(cDir) === before, "prune touched the committed version")

    // a legacy (pre-manifest) store that crashed mid-swap: flat layout
    // with `cells`/`centroids` swapped out to `_old` (the ONLY copies)
    // plus rebuild debris — the first maintenance verb must restore it
    // (restoreIfMidSwap) and adopt the store under a manifest.
    val rDir = suiteTempDir("ivf_crash_r").toString
    Similarity.writeIvfIndex(emb, rDir)
    val rv1 = Similarity.ivfVersionDir(rDir)
    Seq("cells", "centroids").foreach(d =>
      Files.move(Paths.get(s"$rv1/$d"), Paths.get(s"$rDir/$d")))
    Files.delete(Paths.get(rv1))
    Files.delete(Paths.get(s"$rDir/MANIFEST"))
    Files.move(Paths.get(s"$rDir/cells"), Paths.get(s"$rDir/cells_old"))
    Files.move(Paths.get(s"$rDir/centroids"),
      Paths.get(s"$rDir/centroids_old"))
    Files.createDirectories(Paths.get(s"$rDir/retrain_cells"))
    Similarity.retrainIvfIndex(spark, rDir, nBits = 5, seed = 11L)
    val fresh = suiteTempDir("ivf_crash_f").toString
    Similarity.writeIvfIndex(emb, fresh, nBits = 5, seed = 11L)
    assert(rows(rDir) === rows(fresh),
      "legacy migration + retrain diverged from the from-scratch rebuild")
  }
}
