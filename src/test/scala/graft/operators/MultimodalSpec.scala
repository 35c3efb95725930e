package graft.operators

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  private lazy val docs = graft.Tables.load(spark, sf0001, "documents")

  test("mediaTable carries payload as binary with typed metadata") {
    val media = Multimodal.mediaTable(docs)
    val schema = media.schema.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("payload") === "binary")
    assert(schema("kind") === "string")
    assert(media.count() === docs.count())
  }

  test("extractFeatures is deterministic and row-preserving") {
    val media = Multimodal.mediaTable(docs)
    val f1 = Multimodal.extractFeatures(spark, media).collect()
    val f2 = Multimodal.extractFeatures(spark, media).collect()
    assert(f1.length === docs.count())
    assert(f1.map(x => (x.media_id, x.width, x.height)).toSeq ===
      f2.map(x => (x.media_id, x.width, x.height)).toSeq)
  }

  test("stub decode emits video frame counts only for video kind") {
    val media = Multimodal.mediaTable(docs)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.filter(_.kind != "video").forall(_.n_frames === 1))
    assert(feats.filter(_.kind == "video").exists(_.n_frames > 1))
  }

  test("feature vectors have the contracted shape") {
    val media = Multimodal.mediaTable(docs).limit(10)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.forall(_.feat.length === 8))
    assert(feats.forall(f => f.feat.forall(v => v >= 0f && v < 1f)))
  }

  test("fromBinaryFiles ingests real files into the media pipeline") {
    val dir = suiteTempDir("graft_media_files")
    java.nio.file.Files.write(dir.resolve("a.png"),
      Array[Byte](0x50, 0x4e, 0x47, 1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.WAV"),
      Array[Byte](0x52, 0x49, 0x46, 0x46))
    java.nio.file.Files.write(dir.resolve("clip.mp4"),
      "framesframesframes".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("notes.txt"),
      "not media".getBytes("UTF-8"))
    val media = Multimodal.fromBinaryFiles(spark, dir.toString)
    val byKind = media.collect()
      .map(r => r.getString(1) -> r.getAs[Array[Byte]]("payload").length).toMap
    assert(byKind === Map("image" -> 6, "audio" -> 4, "video" -> 18, "binary" -> 9))
    // the ingested table feeds the same decode stage as the synthetic one
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length === 4)
    assert(feats.filter(_.kind == "video").forall(_.n_frames >= 1))
    // media_id is deterministic across re-reads
    val again = Multimodal.fromBinaryFiles(spark, dir.toString)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(again === media.select("media_id").collect().map(_.getLong(0)).toSet)
  }

  test("real javax.imageio decode: PNG and JPEG files get true dims, not stub") {
    val dir = suiteTempDir("graft_real_images")
    def write(name: String, fmt: String, w: Int, h: Int): Unit = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (x * 40 % 256 << 16) | (y * 40 % 256 << 8) | 128)
      javax.imageio.ImageIO.write(img, fmt, dir.resolve(name).toFile)
    }
    write("photo.png", "png", 37, 21)
    write("photo.jpg", "jpeg", 13, 44)
    val media = Multimodal.fromBinaryFiles(spark, dir.toString)
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    val byName = media.collect()
      .map(r => r.getString(3).split('/').last -> r.getLong(0)).toMap
    // true pixel dimensions from the codec, not the stub's hash-derived ones
    assert(feats(byName("photo.png")).width === 37)
    assert(feats(byName("photo.png")).height === 21)
    assert(feats(byName("photo.jpg")).width === 13)
    assert(feats(byName("photo.jpg")).height === 44)
    // the luminance-histogram feature vector is a real distribution
    feats.values.foreach { f =>
      assert(f.feat.length === 8)
      assert(math.abs(f.feat.map(_.toDouble).sum - 1.0) < 1e-6)
    }
  }

  test("PNG roundtrip checksum matches independent arithmetic (m47 contract)") {
    val ids = Seq(0L, 1L, 17L, 255L, 499L)
    ids.foreach { id =>
      val w = 8 + (id % 16).toInt
      val h = 8 + ((id / 16) % 16).toInt
      val expected = (for {
        c <- 0 until 3; y <- 0 until h; x <- 0 until w
      } yield Multimodal.pixelValue(id, x, y, c).toLong *
        (1L + x + w.toLong * y + w.toLong * h * c)).sum
      val (dw, dh, cs) = Multimodal.decodeImage(Multimodal.syntheticPng(id)).get
      assert((dw, dh) === (w, h), s"dims for id=$id")
      assert(cs === expected, s"checksum for id=$id")
    }
    // non-image bytes refuse to decode
    assert(Multimodal.decodeImage("plain text".getBytes("UTF-8")).isEmpty)
  }

  test("WAV roundtrip checksum matches independent arithmetic (m48 contract)") {
    for (id <- Seq(0L, 1L, 63L, 191L, 255L, 314159L)) {
      val n = Multimodal.audioSampleCount(id)
      val expected = (0 until n)
        .map(i => Multimodal.audioSample(id, i).toLong * (1 + i)).sum
      val (rate, samples) = Multimodal.decodeWav(Multimodal.syntheticWav(id)).get
      assert(rate === 8000, s"sample rate for id=$id")
      assert(samples.length === n, s"sample count for id=$id")
      assert(samples.toSeq === (0 until n).map(Multimodal.audioSample(id, _)),
        s"decoded PCM differs from generated waveform for id=$id")
      assert(Multimodal.wavChecksum(samples) === expected, s"checksum for id=$id")
    }
    // non-audio bytes refuse to decode (no RIFF magic)
    assert(Multimodal.decodeWav("plain text payload".getBytes("UTF-8")).isEmpty)
  }

  test("audioFrameEnergy frames the real decode with an exact partial tail (m57)") {
    import spark.implicits._
    // id=1: n = 64 + 1 = 65 samples -> frames of 32, 32, 1
    val docs = Seq(1L).toDF("doc_id")
    val rows = Multimodal.audioFrameEnergy(spark, docs).collect()
      .sortBy(_.getLong(1))
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 32L), (1L, 32L), (2L, 1L)))
    val e0 = (0 until 32)
      .map(i => { val s = Multimodal.audioSample(1L, i).toLong; s * s }).sum
    assert(rows(0).getLong(3) === e0, "frame-0 energy mismatch")
    val last = Multimodal.audioSample(1L, 64).toLong
    assert(rows(2).getLong(3) === last * last, "partial-frame energy")
  }

  test("audioVadSegments: independent Scala replay of the segmentation (m62)") {
    import spark.implicits._
    // 400-500 covers the corpus's multi-segment clips (443, 475, 476)
    val ids = (400L until 500L)
    val docs = ids.toDF("doc_id")
    val out = Multimodal.audioVadSegments(spark, docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toMap
    var sawMultiSegment = false
    ids.foreach { id =>
      // independent replay: generate the PCM, frame it, adaptive
      // threshold (energy·nf > total), scan for islands
      val n = Multimodal.audioSampleCount(id)
      val energies = (0 until n).map(Multimodal.audioSample(id, _))
        .grouped(32).map(_.map(s => s.toLong * s).sum).toSeq
      val total = energies.sum
      val active = energies.map(_ * energies.length > total)
      val segLens = scala.collection.mutable.ArrayBuffer.empty[Long]
      active.foreach { a =>
        if (a) {
          if (segLens.isEmpty || segLens.last < 0) segLens += 1L
          else segLens(segLens.length - 1) += 1L
        } else if (segLens.nonEmpty && segLens.last > 0) segLens += -1L
      }
      val segs = segLens.filter(_ > 0)
      if (segs.length > 1) sawMultiSegment = true
      val (nf, na, ns, lg, ratio) = out(id)
      assert(nf === energies.length.toLong, s"doc $id frames")
      assert(na === active.count(identity).toLong, s"doc $id active")
      assert(ns === segs.length.toLong, s"doc $id segments")
      assert(lg === (if (segs.isEmpty) 0L else segs.max), s"doc $id longest")
      assert(ratio === na.toDouble / nf, s"doc $id ratio")
    }
    // the corpus must actually exercise gap-split segmentation
    assert(sawMultiSegment, "threshold degenerated: no clip has 2+ segments")
  }

  test("real javax.sound decode: WAV payloads get true rate/count, text falls back to stub") {
    val wav = Multimodal.syntheticWav(42L)
    val real = Multimodal.decode(
      Multimodal.MediaItem(1L, "audio", wav, "spec"))
    assert(real.width === 8000) // sample rate rides the width slot
    assert(real.height === Multimodal.audioSampleCount(42L))
    assert(real.feat.length === 8 && math.abs(real.feat.sum - 1.0f) < 1e-4f,
      "amplitude histogram must be normalized")
    // an audio-kind item whose payload is NOT parseable audio keeps the
    // stub contract (what the m45 oracle replays for the text corpus)
    val txt = Multimodal.MediaItem(2L, "audio", "just words".getBytes("UTF-8"), "spec")
    val (d, st) = (Multimodal.decode(txt), Multimodal.stubDecode(txt))
    assert((d.n_bytes, d.width, d.height, d.n_frames) ===
      (st.n_bytes, st.width, st.height, st.n_frames))
    assert(d.feat.toSeq === st.feat.toSeq)
  }

  test("sampleFrames emits every k-th frame of videos only") {
    val media = Multimodal.mediaTable(docs)
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    val frames = Multimodal.sampleFrames(spark, media, everyK = 4).collect()
    assert(frames.nonEmpty)
    val byMedia = frames.groupBy(_.media_id)
    // only video ids appear, with ceil(n_frames / 4) sampled frames each
    byMedia.foreach { case (id, fs) =>
      assert(feats(id).kind === "video")
      val expect = (feats(id).n_frames + 3) / 4
      assert(fs.length === expect, s"media $id")
      assert(fs.map(_.frame_idx).sorted.toSeq ===
        (0 until feats(id).n_frames by 4).map(_.toLong))
    }
    // every video with frames is covered
    assert(byMedia.keySet ===
      feats.values.filter(_.kind == "video").map(_.media_id).toSet)
  }

  test("GIF roundtrip is lossless and matches independent arithmetic (m49 contract)") {
    for (id <- Seq(0L, 1L, 11L, 83L, 143L, 499L)) {
      val (w, h, nf) = Multimodal.videoDims(id)
      val gif = Multimodal.decodeGifFrames(Multimodal.syntheticGif(id)).get
      assert((gif.width, gif.height) === (w, h), s"dims for id=$id")
      assert(gif.frameChecksums.length === nf, s"frame count for id=$id")
      for (f <- 0 until nf) {
        val expected = (for { y <- 0 until h; x <- 0 until w }
          yield Multimodal.videoGray(id, f, x, y).toLong * (1L + x + w.toLong * y)).sum
        assert(gif.frameChecksums(f) === expected, s"frame $f checksum for id=$id")
      }
      assert(gif.grayHist.length === 8 &&
        math.abs(gif.grayHist.map(_.toDouble).sum - 1.0) < 1e-6,
        s"gray histogram must be normalized for id=$id")
    }
    // non-GIF bytes refuse to decode (no GIF magic)
    assert(Multimodal.decodeGifFrames("plain text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeGifFrames(Multimodal.syntheticPng(7L)).isEmpty,
      "a PNG container must not sniff as GIF")
  }

  test("real GIF decode in the feature pipeline; text video falls back to stub") {
    val gif = Multimodal.syntheticGif(42L)
    val (w, h, nf) = Multimodal.videoDims(42L)
    val real = Multimodal.decode(Multimodal.MediaItem(1L, "video", gif, "spec"))
    assert((real.width, real.height, real.n_frames) === (w, h, nf))
    assert(real.feat.length === 8 && math.abs(real.feat.sum - 1.0f) < 1e-4f)
    // a video-kind item whose payload is NOT a real container keeps the
    // stub contract (what the m45/m46 oracles replay for the text corpus)
    val txt = Multimodal.MediaItem(2L, "video", "just words".getBytes("UTF-8"), "spec")
    val (d, st) = (Multimodal.decode(txt), Multimodal.stubDecode(txt))
    assert((d.width, d.height, d.n_frames) === (st.width, st.height, st.n_frames))
    assert(d.feat.toSeq === st.feat.toSeq)
  }

  test("videoFrameSample decodes every k-th real frame (m50 contract)") {
    import spark.implicits._
    val ids = Seq(0L, 5L, 12L, 99L)
    val rows = Multimodal.videoFrameSample(spark, ids.toDF("doc_id"), everyK = 2)
      .collect().groupBy(_.media_id)
    assert(rows.keySet === ids.toSet)
    ids.foreach { id =>
      val (w, h, nf) = Multimodal.videoDims(id)
      val fs = rows(id).sortBy(_.frame_idx)
      assert(fs.map(_.frame_idx).toSeq === (0 until nf by 2).map(_.toLong))
      fs.foreach { fr =>
        val f = fr.frame_idx.toInt
        val expected = (for { y <- 0 until h; x <- 0 until w }
          yield Multimodal.videoGray(id, f, x, y).toLong * (1L + x + w.toLong * y)).sum
        assert(fr.frame_checksum === expected, s"id=$id frame=$f")
      }
    }
  }

  test("imageResizeRoundtrip: nearest-neighbor grid matches pixelValue arithmetic") {
    import spark.implicits._
    val docs = Seq(0L, 7L).toDF("doc_id")
    val out = Multimodal.imageResizeRoundtrip(spark, docs, target = 16)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    for (id <- Seq(0L, 7L)) {
      val w = 8 + (id % 16).toInt; val h = 8 + ((id / 16) % 16).toInt
      val expected = (for { j <- 0 until 16; i <- 0 until 16; c <- 0 to 2 }
        yield Multimodal.pixelValue(id, i * w / 16, j * h / 16, c).toLong *
          (1L + i + 16L * j + 256L * c)).sum
      assert(out(id) === ((w.toLong, h.toLong, expected)), s"id=$id")
    }
  }

  test("imagePatches: every tile of the real decode matches pixelValue arithmetic") {
    import spark.implicits._
    // id 0: 8x8 -> 2x2 full tiles; id 5: 13x8 -> edge column tiles of
    // width 1 (the partial-tile contract)
    val docs = Seq(0L, 5L).toDF("doc_id")
    val out = Multimodal.imagePatches(spark, docs, patch = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    for (id <- Seq(0L, 5L)) {
      val w = 8 + (id % 16).toInt; val h = 8 + ((id / 16) % 16).toInt
      val tiles = out.keys.filter(_._1 == id)
      assert(tiles.size === ((w + 3) / 4) * ((h + 3) / 4))
      for (((_, py, px), (n, s)) <- out.filter(_._1._1 == id)) {
        val xs = (px * 4 until math.min(px * 4 + 4, w)).map(_.toInt)
        val ys = (py * 4 until math.min(py * 4 + 4, h)).map(_.toInt)
        assert(n === xs.size.toLong * ys.size * 3)
        val expected = (for { y <- ys; x <- xs; c <- 0 to 2 }
          yield Multimodal.pixelValue(id, x, y, c).toLong).sum
        assert(s === expected, s"id=$id tile=($py,$px)")
      }
    }
  }

  test("videoNearDup: every trimmed re-cut pairs with its source at J=(nf-1)/nf, nothing else") {
    import spark.implicits._
    val ids = Seq(5L, 12L, 20L) // nf = 7, 7, 8 frames
    val out = Multimodal.videoNearDup(spark, ids.toDF("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val off = Multimodal.VariantOffset
    assert(out.toSeq === Seq(
      (5L, 5L + off, 6L, 6.0 / 7.0),
      (12L, 12L + off, 6L, 6.0 / 7.0),
      (20L, 20L + off, 7L, 7.0 / 8.0)), out.toSeq)
  }

  test("videoSceneCuts: decoded SAD equals the generator arithmetic exactly") {
    import spark.implicits._
    val ids = Seq(3L, 17L, 40L)
    val out = Multimodal.videoSceneCuts(spark, ids.toDF("doc_id"), tau = 35)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    // independent replica straight from the pixel generator — passing
    // means the REAL encode->decode roundtrip is lossless AND the SAD
    // fold is right
    val expected = ids.flatMap { id =>
      val (w, h, nf) = Multimodal.videoDims(id)
      (1 until nf).map { f =>
        val sad = (for (x <- 0 until w; y <- 0 until h) yield
          math.abs(Multimodal.videoGray(id, f, x, y) -
            Multimodal.videoGray(id, f - 1, x, y)).toLong).sum
        (id, f.toLong, sad, sad.toDouble / (w * h), sad > 35L * w * h)
      }
    }.sortBy(t => (t._1, t._2))
    assert(out === expected)
    assert(out.exists(_._5) || out.nonEmpty, "rows must exist for nf >= 2")
  }

  test("audioLoudness: integer mean square and power-of-4 gain shifts") {
    val docs = graft.Tables.load(spark, sf0001, "documents").limit(50)
    val out = Multimodal.audioLoudness(spark, docs).collect()
    assert(out.length === 50)
    val T = 8192L * 8192L
    out.foreach { r =>
      val (n, ss, ms, g) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ms === ss / n, s"mean square drifted for ${r.getLong(0)}")
      val expG =
        if (ms == 0) 0L
        else if (ms < T) ((63 - java.lang.Long.numberOfLeadingZeros(T / ms)) / 2).toLong
        else -((63 - java.lang.Long.numberOfLeadingZeros(ms / T)) / 2).toLong
      assert(g === expG, s"gain shift drifted for ms=$ms")
      // the shift's CONTRACT: applying g amplitude doublings moves the
      // mean square to within one doubling band of the target
      if (ms > 0) {
        val adjusted =
          if (g >= 0) BigInt(ms) << (2 * g).toInt
          else BigInt(ms) >> (-2 * g).toInt
        assert(adjusted > BigInt(T) / 8 && adjusted <= BigInt(T) * 8,
          s"adjusted mean square $adjusted not near target $T (g=$g)")
      }
    }
  }
}
