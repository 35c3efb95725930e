package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** m51/m52 perceptual-hash contracts that the DuckDB oracle cannot
  * express: JPEG robustness (a LOSSY real-codec re-encode — the actual
  * reason perceptual hashing exists) and planted-pair recall through
  * the banded join. */
class PerceptualHashSpec extends SparkSpec {

  private val sampleIds = Seq(0L, 1L, 7L, 42L, 123L, 404L, 1000L, 65535L)

  /** Arithmetic dHash straight from the pattern definition — what the
    * oracle computes; the codec path must agree bit-for-bit. */
  private def arithmeticDhash(id: Long, variant: Boolean): Long = {
    val (w, h) = Multimodal.texturedDims(id)
    def gray(x: Int, y: Int) =
      (0 until 3).map(c => Multimodal.texturedPixelValue(id, x, y, c, variant)).sum
    var hash = 0L
    for (j <- 0 until 8; i <- 0 until 8) {
      val y = j * h / 8
      hash = hash * 2 +
        (if (gray((i + 1) * w / 9, y) > gray(i * w / 9, y)) 1L else 0L)
    }
    hash
  }

  private def decode(bytes: Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "codec failed to decode")
    img
  }

  test("dHash of the real-decoded PNG equals the arithmetic dHash (m51 contract)") {
    for (id <- sampleIds; variant <- Seq(false, true)) {
      val viaCodec =
        Multimodal.dhashOfImage(decode(Multimodal.syntheticPngTextured(id, variant)))
      assert(viaCodec === arithmeticDhash(id, variant), s"id=$id variant=$variant")
    }
  }

  test("dHash survives a LOSSY JPEG re-encode (the perceptual-hash point)") {
    // PNG → decode → re-encode as real JPEG (DCT quantization, actual
    // information loss) → decode → dHash. Byte/crypto hashes are
    // destroyed by this; the gradient-sign fingerprint must move only
    // a few bits even on this worst-case high-frequency texture —
    // while fingerprints of DIFFERENT images stay far apart, so the
    // re-encoded image still resolves to its source and nothing else.
    val pngHash = sampleIds.map(id =>
      id -> Multimodal.dhashOfImage(decode(Multimodal.syntheticPngTextured(id, false)))).toMap
    val jpegHash = sampleIds.map { id =>
      val img = decode(Multimodal.syntheticPngTextured(id, false))
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out), "no JPEG writer")
      id -> Multimodal.dhashOfImage(decode(out.toByteArray))
    }.toMap
    val drifts = sampleIds.map(id =>
      id -> java.lang.Long.bitCount(pngHash(id) ^ jpegHash(id)))
    info(s"JPEG drift bits: ${drifts.map { case (i, d) => s"$i=$d" }.mkString(" ")}")
    val seps = for (id <- sampleIds; other <- sampleIds if other != id)
      yield java.lang.Long.bitCount(pngHash(other) ^ jpegHash(id))
    info(s"cross-image separation min=${seps.min} max drift=${drifts.map(_._2).max}")
    for ((id, drift) <- drifts) {
      assert(drift <= 24, s"id=$id: JPEG re-encode moved $drift/64 dHash bits")
      for (other <- sampleIds if other != id) {
        val sep = java.lang.Long.bitCount(pngHash(other) ^ jpegHash(id))
        assert(sep > drift,
          s"JPEG($id) closer to PNG($other) [$sep] than to its own source [$drift]")
      }
    }
  }

  /** Arithmetic pHash straight from the pattern definition — what the
    * m64 oracle computes; the codec path must agree bit-for-bit. */
  private def arithmeticPhash(id: Long): Long = {
    val (w, h) = Multimodal.texturedDims(id)
    def gray(x: Int, y: Int) =
      (0 until 3).map(c => Multimodal.texturedPixelValue(id, x, y, c, false)).sum
    val g = Array.tabulate(32, 32)((i, j) => gray(i * w / 32, j * h / 32).toLong)
    val r = Array.tabulate(8, 32)((k, j) =>
      (0 until 32).map(i => Multimodal.PhashCos(k)(i) * g(i)(j)).sum)
    val f = Array.tabulate(8, 8)((k, l) =>
      (0 until 32).map(j => Multimodal.PhashCos(l)(j) * r(k)(j)).sum)
    val m = (f.map(_.sum).sum - f(0)(0)) / 63
    var hash = 0L
    for (k <- 0 until 8; l <- 0 until 8 if k != 0 || l != 0)
      hash = hash * 2 + (if (f(k)(l) > m) 1L else 0L)
    hash
  }

  test("pHash of the real-decoded PNG equals the arithmetic pHash (m64 contract)") {
    for (id <- sampleIds) {
      val viaCodec =
        Multimodal.phashOfImage(decode(Multimodal.syntheticPngTextured(id, false)))
      assert(viaCodec === arithmeticPhash(id), s"id=$id")
      assert(viaCodec >= 0L, "63-bit AC fold must stay positive")
    }
  }

  test("pHash survives a phase-shifting 3/2 resample; images stay separable") {
    // decode → nearest-neighbor resample to 3/2 size (shifts sample
    // phase — an exact-power-of-two rescale cancels through the nested
    // floor divisions and moves NOTHING, so 3/2 is the honest probe) →
    // pHash. Self-drift must stay under the resolve threshold while
    // cross-image separation dominates, so a resampled image still
    // resolves to its source and nothing else.
    def resample(img: java.awt.image.BufferedImage) = {
      val out = new java.awt.image.BufferedImage(
        img.getWidth * 3 / 2, img.getHeight * 3 / 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until out.getHeight; x <- 0 until out.getWidth)
        out.setRGB(x, y, img.getRGB(x * 2 / 3, y * 2 / 3))
      out
    }
    val base = sampleIds.map(id =>
      id -> decode(Multimodal.syntheticPngTextured(id, false))).toMap
    val pOrig = base.map { case (id, img) => id -> Multimodal.phashOfImage(img) }
    val pUp = base.map { case (id, img) => id -> Multimodal.phashOfImage(resample(img)) }
    val drifts = sampleIds.map(id =>
      id -> java.lang.Long.bitCount(pOrig(id) ^ pUp(id)))
    info(s"3/2-resample pHash drift bits: " +
      drifts.map { case (i, d) => s"$i=$d" }.mkString(" "))
    for ((id, drift) <- drifts) {
      assert(drift <= 24, s"id=$id: resample moved $drift/63 pHash bits")
      for (other <- sampleIds if other != id) {
        val sep = java.lang.Long.bitCount(pOrig(other) ^ pUp(id))
        assert(sep > drift,
          s"resampled($id) closer to pHash($other) [$sep] than to its own [$drift]")
      }
    }
  }

  test("audio energy fingerprint matches the arithmetic fold (m53 contract)") {
    import spark.implicits._
    val ids = Seq(0L, 3L, 17L, 100L, 191L, 5000L)
    val rows = Multimodal.audioFingerprints(spark, ids.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    ids.foreach { id =>
      val nf = Multimodal.audioSampleCount(id) / 16
      val energy = Array.tabulate(nf)(f =>
        (16 * f until 16 * f + 16).map(i =>
          math.abs(Multimodal.audioSample(id, i).toLong)).sum)
      val fp = (0 until nf - 1).foldLeft(0L)((acc, f) =>
        acc * 2 + (if (energy(f + 1) > energy(f)) 1L else 0L))
      assert(rows(id) === (nf.toLong, fp), s"id=$id")
    }
  }

  test("banded near-dup join recovers planted variant pairs (m52 recall)") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val n = docs.count()
    val pairs = Multimodal.imageNearDupPairs(spark, docs).collect()
    // the LSH skew guard is a pass-through here: quadratic fingerprints
    // spread across 16-bit bands, no bucket near the cap, so the
    // overfull-key anti-join drops nothing (capBuckets' lazy shape)
    val planted = pairs.count(r =>
      r.getLong(1) === r.getLong(0) + Multimodal.VariantOffset)
    assert(planted >= n * 95 / 100,
      s"planted recall broke: $planted/$n variant pairs found")
    assert(pairs.length - planted <= 5,
      s"${pairs.length - planted} spurious non-planted pairs ≤ 12 bits apart")
  }

  test("wide-hash verification keeps planted pairs and kills spurious ones (m54)") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val n = docs.count()
    val rows = Multimodal.imageNearDupVerified(spark, docs).collect()
    val (planted, spurious) = rows.partition(r =>
      r.getLong(1) === r.getLong(0) + Multimodal.VariantOffset)
    assert(planted.length >= n * 95 / 100,
      s"verified recall broke: ${planted.length}/$n")
    assert(spurious.isEmpty,
      s"${spurious.length} spurious pairs survived 256-bit verification")
    // the verify margin is real: planted pairs sit far under the
    // 48-bit threshold (localized lattice edit ⇒ few flipped gradients)
    val maxWide = planted.map(_.getLong(3)).max
    assert(maxWide <= 24, s"planted wide-hamming margin collapsed: $maxWide")
  }

  test("audio track fingerprint from the real decode matches the arithmetic fold (m56)") {
    for (id <- Seq(0L, 11L, 300L, 4242L); variant <- Seq(false, true)) {
      val (_, samples) = Multimodal.decodeWav(
        Multimodal.syntheticWavTrack(id, variant)).get
      val expected = {
        val e = Array.tabulate(65)(f => (16 * f until 16 * f + 16)
          .map(i => math.abs(Multimodal.trackSample(id, i, variant).toLong)).sum)
        (0 until 64).foldLeft(0L)((acc, f) =>
          acc * 2 + (if (e(f + 1) > e(f)) 1L else 0L))
      }
      assert(Multimodal.trackFingerprint(samples) === expected,
        s"id=$id variant=$variant")
    }
  }

  test("audio banded near-dup join recovers planted variant tracks (m56 recall)") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val n = docs.count()
    val pairs = Multimodal.audioNearDupPairs(spark, docs).collect()
    val planted = pairs.count(r =>
      r.getLong(1) === r.getLong(0) + Multimodal.VariantOffset)
    assert(planted >= n * 95 / 100,
      s"planted track recall broke: $planted/$n")
    assert(pairs.length - planted <= 10,
      s"${pairs.length - planted} spurious track pairs ≤ 12 bits apart")
  }

  test("image store dedup flags corpus near-dups and keeps novel images (m55)") {
    import spark.implicits._
    val store = suiteTempDir("m55_spec").toString
    // corpus: originals 0..99; batch: variants of 0..19 (near-dups of
    // stored images) + originals 1000..1019 (novel — never stored)
    Multimodal.writeImageSignatureStore(
      spark, (0L until 100L).toDF("doc_id"), store)
    val spec = (0L until 20L).map(id => (id, true))
      .++((1000L until 1020L).map(id => (id, false))).toDF("doc_id", "variant")
    val out = Multimodal.dedupImageBatchAgainstStore(spark, spec, store)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    val dupDecisions = (0L until 20L)
      .map(id => out(id + Multimodal.VariantOffset))
    // banded recall is probabilistic by design; ≥90% of 20 = at most 2
    // missed, and on this fixed corpus the result is deterministic
    assert(dupDecisions.count(_ == (false, "corpus_dup")) >= 18,
      s"variant batch not flagged against the store: $dupDecisions")
    (1000L until 1020L).foreach { id =>
      assert(out(id) === ((true, "unique")), s"novel image $id not kept")
    }
  }
}
