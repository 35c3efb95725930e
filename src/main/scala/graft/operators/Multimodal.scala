package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Materialize.Ops

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns next to typed metadata, and per-item decode/feature-extraction
  * runs partition-wise over an iterator (the Scala analog of
  * `mapInPandas`: one JVM-side pass per partition, batch-shaped, no
  * driver collection).
  *
  * Codecs: ALL THREE modalities decode for REAL with JDK built-ins —
  * images via `javax.imageio` (m47), audio via `javax.sound.sampled`
  * (m48), and video via the multi-frame GIF container that
  * `javax.imageio`'s GIF plugin both writes (`writeToSequence`) and
  * reads frame-by-frame (m49/m50). GIF is palette-indexed, so
  * grayscale frames roundtrip losslessly — a genuine frames-in-a-
  * container codec, not a stub. The deterministic fake decoder remains
  * only as the fallback for payloads no JDK codec can sniff (the
  * synthetic text stand-ins of m45/m46) and for containers the JDK
  * has no reader for (MP4 et al.); everything around it (schema,
  * partitioning, batch iteration, output shape) is the identical
  * pipeline either path drops into.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // call materializes a temp file, and at 32-way partition parallelism
  // the temp-file churn contends on the filesystem and dominates codec
  // cost (measured 2.6× single-threaded, far worse under load — the
  // ScaleProbe codec stage dropped ~3× after this line). Every payload
  // here is an in-memory byte array, so cache in memory. Object init
  // runs once per executor JVM, before any codec task.
  javax.imageio.ImageIO.setUseCache(false)

  /** A media row: payload + sidecar metadata. */
  final case class MediaItem(
      media_id: Long, kind: String, payload: Array[Byte], source: String)

  /** Extracted features per media item (what a real decoder would emit). */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int, feat: Array[Float])

  /** Deterministic payload hash the stub decoder derives everything
    * from (base-31 byte fold, 64-bit wrap — replayable in HUGEINT). */
  def payloadHash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31 + (bytes(i) & 0xff); i += 1 }
    h
  }

  /** Stub frame count for a video payload hash — the ONE definition both
    * extractFeatures and sampleFrames (and the m45/m46 oracles) encode. */
  def videoFrames(h: Long): Int = 1 + math.floorMod(h >> 32, 30).toInt

  // ---- real image codec (javax.imageio — JDK built-in, zero deps) ----

  /** Real image decode: width/height plus a position-weighted pixel
    * checksum Σ value·(1 + x + w·y + w·h·c) over (x, y, channel) in
    * raster order — position-sensitive, so a wrong pixel, wrong channel
    * order, or wrong dimensions all change it, and int64-exact (≤24×24
    * RGB stays far under 2^63; for arbitrary images the sum wraps mod
    * 2^64 identically on any JVM). Returns None when the payload is not
    * a decodable image (ImageIO sniffs the container bytes). */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val wh = w.toLong * h
      // one bulk sRGB read (identical values to per-pixel getRGB, one
      // call instead of w·h color-model dispatches); row-major index
      // i = y·w + x makes the position weight 1 + i
      val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
      var cs = 0L
      var i = 0
      while (i < rgbs.length) {
        val rgb = rgbs(i)
        val pos = 1L + i
        cs += ((rgb >> 16) & 0xff) * pos
        cs += ((rgb >> 8) & 0xff) * (pos + wh)
        cs += (rgb & 0xff) * (pos + 2 * wh)
        i += 1
      }
      Some((w, h, cs))
    }
  }

  /** Normalized 8-bin luminance histogram of a decoded image — the real
    * feature vector extractFeatures emits for decodable payloads. */
  private def luminanceHistogram(img: java.awt.image.BufferedImage): Array[Float] = {
    val bins = new Array[Long](8)
    val n = img.getWidth.toLong * img.getHeight
    val rgbs = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)
    var i = 0
    while (i < rgbs.length) {
      val rgb = rgbs(i)
      val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
      bins(lum >> 5) += 1
      i += 1
    }
    bins.map(b => (b.toDouble / n).toFloat)
  }

  // ---- real audio codec (javax.sound.sampled — JDK built-in, zero deps) ----

  /** Deterministic 16-bit PCM sample for (id, i) — SQL-replayable
    * integer arithmetic, ONE definition for the Scala encoder and the
    * m48 DuckDB oracle (CLAUDE.md rule 12). */
  def audioSample(id: Long, i: Int): Int =
    math.floorMod(id * 31 + i.toLong * 7919L, 65536L).toInt - 32768

  /** PCM sample count of the synthetic waveform for doc id (64–255). */
  def audioSampleCount(id: Long): Int = 64 + math.floorMod(id, 192).toInt

  /** Encode the deterministic waveform for `id` as a real WAV container
    * (16-bit signed little-endian mono PCM @ 8 kHz) via
    * `javax.sound.sampled.AudioSystem` — the genuine encoder, mirror of
    * syntheticPng. */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = audioSampleCount(id)
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = audioSample(id, i)
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      8000f, 16, 1, /* signed = */ true, /* bigEndian = */ false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Real audio decode: container + format parse via AudioSystem, then
    * all PCM frames as signed ints (16-bit mono; either endianness,
    * honoring the header). None when the payload is not parseable audio
    * (AudioSystem sniffs the container bytes — a text payload has no
    * RIFF/AIFF/AU magic). */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Array[Int])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
        fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
      else {
        val raw = in.readAllBytes()
        val n = raw.length / 2
        val samples = new Array[Int](n)
        var i = 0
        while (i < n) {
          samples(i) =
            if (fmt.isBigEndian) (raw(2 * i) << 8) | (raw(2 * i + 1) & 0xff)
            else (raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)
          i += 1
        }
        Some((fmt.getSampleRate.toInt, samples))
      }
    } catch { case _: Exception => None }

  /** Position-weighted PCM checksum Σ s_i·(1+i) — position-sensitive
    * (a swapped, dropped or corrupted sample changes it) and int64-exact
    * for any audio under ~2^45 samples. Shared by the m48 roundtrip and
    * its generated oracle. */
  def wavChecksum(samples: Array[Int]): Long = {
    var cs = 0L
    var i = 0
    while (i < samples.length) { cs += samples(i).toLong * (1 + i); i += 1 }
    cs
  }

  /** Normalized 8-bin amplitude histogram — the real feature vector the
    * decode path emits for parseable audio (mirror of the image path's
    * luminance histogram). */
  private def amplitudeHistogram(samples: Array[Int]): Array[Float] = {
    val bins = new Array[Long](8)
    var i = 0
    while (i < samples.length) {
      bins(math.min(7, math.abs(samples(i)) >> 12)) += 1
      i += 1
    }
    bins.map(b => (b.toDouble / math.max(1, samples.length)).toFloat)
  }

  // ---- real video codec (multi-frame GIF via javax.imageio, zero deps) ----

  /** Decoded multi-frame GIF: dimensions, one position-weighted
    * checksum per frame (Σ gray·(1+x+w·y) in raster order), and the
    * normalized 8-bin gray histogram over ALL frames (the feature
    * vector — mirror of the image path's luminance histogram). */
  final case class GifDecode(
      width: Int, height: Int, frameChecksums: Array[Long], grayHist: Array[Float])

  /** Gray value of the synthetic video test pattern at (frame, x, y) —
    * SQL-replayable integer arithmetic, ONE definition for the Scala
    * encoder and the m49/m50 DuckDB oracles (CLAUDE.md rule 12). */
  def videoGray(id: Long, f: Int, x: Int, y: Int): Int =
    math.floorMod(id * 31 + f * 17 + x * 7 + y * 13, 256).toInt

  /** Row-major gray plane (the blue channel, exactly what
    * `getRGB(x,y) & 0xff` reads) of a decoded frame in ONE raster
    * read. Per-pixel `BufferedImage.getRGB` routes every pixel through
    * the color model with a method call each — the dominant decode
    * cost for the real-codec operators (m49/m50/m60/m61). For the
    * indexed images every GIF decode produces, the palette's blue map
    * is applied to the raw index plane directly; anything else falls
    * back to one bulk getRGB (same values, one call). */
  private def grayPlane(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Int](w * h)
    img.getColorModel match {
      case icm: java.awt.image.IndexColorModel
          if img.getRaster.getNumDataElements == 1 &&
            img.getRaster.getTransferType == java.awt.image.DataBuffer.TYPE_BYTE =>
        val idx = img.getRaster.getDataElements(0, 0, w, h, null)
          .asInstanceOf[Array[Byte]]
        val blues = new Array[Byte](icm.getMapSize)
        icm.getBlues(blues)
        var i = 0
        while (i < out.length) { out(i) = blues(idx(i) & 0xff) & 0xff; i += 1 }
      case _ =>
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < out.length) { out(i) = rgb(i) & 0xff; i += 1 }
    }
    out
  }

  /** Frame geometry of the synthetic video for doc id: 8–19 px sides,
    * 2–8 frames. */
  def videoDims(id: Long): (Int, Int, Int) = (
    8 + math.floorMod(id, 12).toInt,
    8 + math.floorMod(math.floorDiv(id, 12), 12).toInt,
    2 + math.floorMod(id, 7).toInt)

  /** Encode the deterministic frame sequence for `id` as a real
    * multi-frame GIF via `javax.imageio`'s sequence writer — the video
    * mirror of syntheticPng/syntheticWav. Frames are 8-bit indexed
    * grayscale (an explicit 256-gray palette), which the GIF palette
    * holds exactly, so the container roundtrips losslessly. */
  def syntheticGif(id: Long, fromFrame: Int = 0): Array[Byte] = {
    val (w, h, nFrames) = videoDims(id)
    val gray = Array.tabulate[Byte](256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    // fromFrame > 0 emits the TRIMMED clip (frames [fromFrame, nFrames))
    // — the re-cut-video variant the near-dup operator plants
    var f = fromFrame
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      // write the index plane in one raster call: with the identity
      // 256-gray palette the palette index IS the gray value, so this
      // produces byte-identical frames to the per-pixel setRGB it
      // replaces (setRGB's inverse-palette lookup resolved gray g to
      // index g) without paying that lookup per pixel
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(y * w + x) = videoGray(id, f, x, y).toByte
          x += 1
        }
        y += 1
      }
      img.getRaster.setDataElements(0, 0, w, h, px)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Real video decode: the GIF reader walks the container frame by
    * frame (`getNumImages(true)` forces a full scan). Per frame a
    * position-weighted gray checksum — position-sensitive within the
    * frame; callers weight by frame index for cross-frame sensitivity.
    * None when the payload is not a GIF container (magic sniff) or has
    * no frames. */
  def decodeGifFrames(bytes: Array[Byte]): Option[GifDecode] =
    try {
      if (bytes.length < 6 || bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F')
        None
      else {
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        try {
          reader.setInput(javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes)))
          val n = reader.getNumImages(true)
          if (n < 1) None
          else {
            val first = reader.read(0)
            val w = first.getWidth
            val h = first.getHeight
            val cs = new Array[Long](n)
            val bins = new Array[Long](8)
            var f = 0
            while (f < n) {
              val img = if (f == 0) first else reader.read(f)
              // one raster read per frame; row-major index i = y·w + x,
              // so the position weight (1 + x + w·y) is exactly 1 + i
              val px = grayPlane(img)
              var acc = 0L
              var i = 0
              while (i < px.length) {
                val g = px(i)
                acc += g.toLong * (1L + i)
                bins(g >> 5) += 1
                i += 1
              }
              cs(f) = acc
              f += 1
            }
            val total = n.toLong * w * h
            Some(GifDecode(w, h, cs, bins.map(b => (b.toDouble / total).toFloat)))
          }
        } finally reader.dispose()
      }
    } catch { case _: Exception => None }

  /** Feature extraction for one item: REAL codec when the payload is
    * decodable — `javax.imageio` for images (true width/height,
    * luminance histogram), `javax.sound.sampled` for audio (sample rate
    * as width, sample count as height, amplitude histogram), the GIF
    * frame reader for video (true dims and frame count, gray
    * histogram) — stub otherwise (text stand-in payloads sniff as none
    * of the three, so the m45/m46 stub oracles are unaffected). */
  def decode(item: MediaItem): MediaFeatures = item.kind match {
    case "image" =>
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(item.payload))
        catch { case _: Exception => null }
      if (img == null) stubDecode(item)
      else MediaFeatures(item.media_id, item.kind, item.payload.length,
        img.getWidth, img.getHeight, 1, luminanceHistogram(img))
    case "audio" =>
      decodeWav(item.payload) match {
        case Some((rate, samples)) =>
          MediaFeatures(item.media_id, item.kind, item.payload.length,
            rate, samples.length, 1, amplitudeHistogram(samples))
        case None => stubDecode(item)
      }
    case "video" =>
      decodeGifFrames(item.payload) match {
        case Some(gif) =>
          MediaFeatures(item.media_id, item.kind, item.payload.length,
            gif.width, gif.height, gif.frameChecksums.length, gif.grayHist)
        case None => stubDecode(item)
      }
    case _ => stubDecode(item)
  }

  /** STUB decoder: deterministic pseudo-features derived from payload
    * bytes — the fallback for payloads no JDK codec can sniff (the
    * synthetic text stand-ins) and containers the JDK has no reader
    * for; images, audio, and GIF video take the real codec paths in
    * [[decode]]. */
  def stubDecode(item: MediaItem): MediaFeatures = {
    val bytes = item.payload
    val n = bytes.length
    val h = payloadHash(bytes)
    val width = 64 + math.floorMod(h, 512).toInt
    val height = 64 + math.floorMod(h >> 16, 512).toInt
    val frames = if (item.kind == "video") videoFrames(h) else 1
    val feat = Array.tabulate(8)(j =>
      math.floorMod(h >> j, 1000).toFloat / 1000f)
    MediaFeatures(item.media_id, item.kind, n, width, height, frames, feat)
  }

  /** Build a media table from the documents corpus: the text bytes stand
    * in for an image/audio payload (binary column), kind cycles through
    * modalities. Partitioned by media_id — the layout a 100 TB media lake
    * would use (payloads near their metadata, no wide shuffle). */
  def mediaTable(docs: DataFrame): DataFrame =
    // repartition: a decode stage is CPU-bound per item; a single-split
    // input would otherwise pin the whole decode on one core
    docs.repartition(col("doc_id")).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      col("source"))

  /** Ingest a directory of real media files as a media table via Spark's
    * binaryFile source: one row per file with the payload as a binary
    * column (plus path/length metadata), kind derived from the file
    * extension. This is the on-ramp from an object-store media lake into
    * the same decode pipeline the synthetic table feeds — at 100 TB the
    * source parallelizes by file and never materializes payloads on the
    * driver. `media_id` is the path's 64-bit hash: stable across runs,
    * no window/zipWithIndex over the whole lake. */
  def fromBinaryFiles(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        when(col("path").rlike("(?i)\\.(png|jpe?g|gif|bmp)$"), "image")
          .when(col("path").rlike("(?i)\\.(wav|mp3|flac|ogg)$"), "audio")
          .when(col("path").rlike("(?i)\\.(mp4|mkv|webm|avi)$"), "video")
          .otherwise("binary").as("kind"),
        col("content").as("payload"),
        col("path").as("source"))

  /** Partition-wise feature extraction (mapPartitions — the batch shape:
    * one decoder instance per partition, streamed iterator, no collect). */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaItem].mapPartitions { it =>
      // codec init is per-partition (ImageIO plugin registry is JVM-wide
      // and thread-safe; a native decoder would init its context here)
      it.map(decode)
    }
  }

  /** One decoded image row of the real-codec roundtrip (m47). */
  final case class ImageDecode(
      media_id: Long, width: Long, height: Long, checksum: Long)

  /** Pixel value of the synthetic test pattern — SQL-replayable integer
    * arithmetic, one definition for the Scala encoder and the DuckDB
    * oracle (CLAUDE.md rule 12). */
  def pixelValue(id: Long, x: Int, y: Int, c: Int): Int =
    math.floorMod(id * 31 + x * 7 + y * 13 + c * 101, 256).toInt

  /** Encode the deterministic test pattern for `id` as a real PNG via
    * `javax.imageio` (dimensions 8–23 px derived from the id). */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = 8 + math.floorMod(id, 16).toInt
    val h = 8 + math.floorMod(math.floorDiv(id, 16), 16).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // one bulk sRGB write (identical pixels to per-pixel setRGB, one
    // call instead of w·h color-model dispatches)
    val rgbs = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        rgbs(y * w + x) = (pixelValue(id, x, y, 0) << 16) |
          (pixelValue(id, x, y, 1) << 8) | pixelValue(id, x, y, 2)
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, rgbs, 0, w)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Real-codec roundtrip over the corpus (m47): per doc, ENCODE the
    * deterministic pixel pattern to actual PNG bytes and DECODE them
    * back with `javax.imageio` — both directions run the real codec on
    * real bytes, partition-wise. PNG is lossless, so the decoded
    * checksum must equal the arithmetic checksum of the generated
    * pattern, which the DuckDB oracle computes independently with pure
    * integer SQL (no codec on the oracle side — the contract is "a
    * correct decode returns exactly the encoded pixels"). Repartition
    * first: encode+decode is CPU-bound per item (rule 6). */
  def imageDecodeRoundtrip(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (w, h, cs) = decodeImage(syntheticPng(id)).getOrElse(
            throw new IllegalStateException(s"PNG roundtrip failed for doc $id"))
          ImageDecode(id, w.toLong, h.toLong, cs)
        }
      }.toDF()
  }

  /** One resize-roundtrip row of m59. */
  final case class ImageResize(
      media_id: Long, src_w: Long, src_h: Long, checksum: Long)

  /** Real-codec image RESIZE roundtrip (m59): decode the real PNG,
    * resize to `target`×`target` by nearest-neighbor at the exact
    * integer grid src_x = ⌊i·w / target⌋ — the one resize kernel an
    * engine-external oracle can replay bit-for-bit (area-average and
    * bilinear kernels are implementation-defined float pipelines) —
    * then RE-ENCODE the resized image as a real PNG and decode it
    * again before checksumming. Codec → resize → codec, every stage
    * genuine; the checksum is [[decodeImage]]'s position-weighted sum
    * over the target grid, replayed by the oracle from the pattern
    * arithmetic. Row-amplifying per-item CPU work: repartition first
    * (rule 6). */
  def imageResizeRoundtrip(spark: SparkSession, docs: DataFrame,
      target: Int = 16): DataFrame = {
    import spark.implicits._
    require(target >= 1)
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val src = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(syntheticPng(id)))
          if (src == null)
            throw new IllegalStateException(s"PNG decode failed for doc $id")
          val w = src.getWidth
          val h = src.getHeight
          val dst = new java.awt.image.BufferedImage(
            target, target, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var j = 0
          while (j < target) {
            var i = 0
            while (i < target) {
              dst.setRGB(i, j, src.getRGB(i * w / target, j * h / target))
              i += 1
            }
            j += 1
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", out)
          val (_, _, cs) = decodeImage(out.toByteArray).getOrElse(
            throw new IllegalStateException(s"resize roundtrip failed: $id"))
          ImageResize(id, w.toLong, h.toLong, cs)
        }
      }.toDF().orderBy(col("media_id"))
  }

  /** One ViT-style patch row of m58. */
  final case class ImagePatch(
      media_id: Long, py: Long, px: Long, n_values: Long, sum_intensity: Long)

  /** ViT-style patch statistics over the REAL decode path (m58): encode
    * the deterministic pattern to actual PNG bytes, decode with
    * `javax.imageio`, tile the pixel grid into patch×patch cells (edge
    * cells partial — the padding decision a patch embedder makes
    * explicit), and emit per-cell channel-summed intensity — the
    * patch-embedding precursor (Dosovitskiy et al., ICLR 2021), kept
    * integer-exact so the real decode is hash-checked CELL BY CELL
    * against the oracle's arithmetic replay (m47 checks one checksum
    * per image; this checks every tile). Row-amplifying decode:
    * repartition first (rule 6); the per-image tile grid is bounded
    * (≤ ⌈24/patch⌉²), so output is O(docs). */
  def imagePatches(spark: SparkSession, docs: DataFrame,
      patch: Int = 4): DataFrame = {
    import spark.implicits._
    require(patch >= 1)
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(syntheticPng(id)))
          if (img == null)
            throw new IllegalStateException(s"PNG decode failed for doc $id")
          val w = img.getWidth
          val h = img.getHeight
          val pw = (w + patch - 1) / patch
          val ph = (h + patch - 1) / patch
          val sums = Array.ofDim[Long](ph, pw)
          val cnts = Array.ofDim[Long](ph, pw)
          val rgbs = img.getRGB(0, 0, w, h, null, 0, w) // one bulk read
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = rgbs(y * w + x)
              sums(y / patch)(x / patch) +=
                ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              cnts(y / patch)(x / patch) += 3L
              x += 1
            }
            y += 1
          }
          for (py <- 0 until ph; px <- 0 until pw)
            yield ImagePatch(id, py.toLong, px.toLong, cnts(py)(px),
              sums(py)(px))
        }
      }.toDF().orderBy(col("media_id"), col("py"), col("px"))
  }

  /** One decoded audio row of the real-codec roundtrip (m48). */
  final case class AudioDecode(
      media_id: Long, sample_rate: Long, n_samples: Long, checksum: Long)

  /** Real-codec audio roundtrip over the corpus (m48) — the audio
    * mirror of imageDecodeRoundtrip: per doc, ENCODE the deterministic
    * waveform to actual WAV bytes and DECODE them back with
    * `javax.sound.sampled`, partition-wise. WAV PCM is lossless, so the
    * decoded position-weighted checksum must equal the arithmetic
    * checksum of the generated samples, which the DuckDB oracle
    * computes independently in pure integer SQL (a wrong sample,
    * endianness, or dropped frame hash-fails). Repartition first:
    * encode+decode is CPU-bound per item (rule 6). */
  def audioDecodeRoundtrip(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (rate, samples) = decodeWav(syntheticWav(id)).getOrElse(
            throw new IllegalStateException(s"WAV roundtrip failed for doc $id"))
          AudioDecode(id, rate.toLong, samples.length.toLong, wavChecksum(samples))
        }
      }.toDF()
  }

  /** One short-time-energy frame of the m57 profile. */
  final case class AudioFrame(
    media_id: Long, frame_no: Long, n_samples: Long, energy: Long)

  /** Framed short-time energy profile over the REAL audio decode (m57):
    * decode the WAV container, cut the PCM stream into fixed
    * `frame`-sample windows (final window partial), emit per-frame
    * Σs² — the classic voice-activity / silence-trim feature, and the
    * audio mirror of the image path's per-tile statistics.
    *
    * Exact int64: |s| ≤ 32768 → s² < 2^31, a 32-sample frame sum
    * < 2^36. The oracle regenerates the PCM arithmetically (same
    * audioSample formula, rule 12) and replays the framing as integer
    * SQL — a dropped sample, endianness flip, or boundary shift moves
    * some frame's energy and hash-fails. Decode is partition-wise
    * (repartition before the CPU-bound codec + row-amplifying flatMap,
    * rule 6). */
  def audioFrameEnergy(
      spark: SparkSession, docs: DataFrame, frame: Int = 32): DataFrame = {
    import spark.implicits._
    require(frame >= 1, "frame must be >= 1 sample")
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .flatMap { id =>
        val (_, samples) = decodeWav(syntheticWav(id)).getOrElse(
          throw new IllegalStateException(s"WAV decode failed for doc $id"))
        samples.grouped(frame).zipWithIndex.map { case (w, f) =>
          AudioFrame(id, f.toLong, w.length.toLong,
            w.foldLeft(0L)((acc, s) => acc + s.toLong * s))
        }
      }.toDF()
  }

  /** Per-clip loudness + normalization gain over the REAL decode path
    * (m63): exact integer mean square (Σs² DIV n) and the power-of-4
    * shift toward the target mean square (RMS 8192 ≈ −12 dBFS for
    * int16 — the headroom a normalization pass levels to): each
    * amplitude DOUBLING quadruples the mean square, so
    * gain_shifts = +⌊log₂(target DIV ms)⌋ DIV 2 doublings when quiet,
    * −(⌊log₂(ms DIV target)⌋ DIV 2) halvings when hot, with
    * ⌊log₂ x⌋ = length(bin(x)) − 1 — exact integers, no
    * transcendentals, replayable verbatim (the q-gap bucket trick).
    * Silent clips pin shift 0 (a gain on silence is undefined — lazy
    * guard, rule 21a). Sums stay in int64 by construction (s² < 2³⁰,
    * n ≤ 255 here; at real clip lengths the sum column is the one to
    * widen, and the oracle's HUGEINT side already is).
    *
    * Scale shape: partition-wise decode (audioFrameEnergy) then one
    * clip-grain groupBy — no shuffle beyond it. */
  def audioLoudness(spark: SparkSession, docs: DataFrame,
      targetMs: Long = 8192L * 8192L): DataFrame = {
    val sq = audioFrameEnergy(spark, docs)
      .groupBy(col("media_id"))
      .agg(sum(col("n_samples")).as("n_samples"),
        sum(col("energy")).as("sum_sq"))
      .withColumn("mean_sq", expr("sum_sq DIV n_samples"))
    sq.select(col("media_id"), col("n_samples"), col("sum_sq"),
        col("mean_sq"),
        when(col("mean_sq") === 0, lit(0L))
          .when(col("mean_sq") < targetMs,
            expr(s"CAST((length(bin($targetMs DIV mean_sq)) - 1) DIV 2 AS BIGINT)"))
          .otherwise(expr(
            s"CAST(-((length(bin(mean_sq DIV $targetMs)) - 1) DIV 2) AS BIGINT)"))
          .as("gain_shifts"))
      .orderBy(col("media_id"))
  }

  /** Voice-activity segmentation over the REAL decode path (the
    * adaptive energy-threshold VAD baseline — Rabiner & Sambur, "An
    * algorithm for determining the endpoints of isolated utterances",
    * Bell Syst. Tech. J. 1975): frames from [[audioFrameEnergy]]
    * (actual WAV decode, partition-wise) classify active iff their
    * energy exceeds the CLIP MEAN — written as the integer
    * cross-multiplication energy·n_frames > total_energy (rule 17), so
    * the adaptive threshold never divides. Consecutive active frames
    * merge into segments via the island trick (frame_no − row_number,
    * window partitioned per clip — bounded by frames-per-clip, rule
    * 23). Emits per clip the frame and segment counts, the longest
    * segment, and the speech ratio (one division of exact int64s).
    * All-silent clips emit zeros rather than vanishing. */
  def audioVadSegments(spark: SparkSession, docs: DataFrame,
      frame: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val en = audioFrameEnergy(spark, docs, frame)
      .materializeOnce() // feeds the clip stats AND the activity cut
    val stats = en.groupBy(col("media_id")).agg(
      count(lit(1)).as("n_frames"), sum(col("energy")).as("tot_energy"))
      .materializeOnce() // feeds the activity join AND the final frame
    val act = en.join(stats, Seq("media_id"))
      .filter(col("energy") * col("n_frames") > col("tot_energy"))
      .withColumn("isl", col("frame_no") - row_number().over(
        Window.partitionBy(col("media_id")).orderBy(col("frame_no"))))
    val segs = act.groupBy(col("media_id"), col("isl"))
      .agg(count(lit(1)).as("seg_len"))
    val perClip = segs.groupBy(col("media_id")).agg(
      count(lit(1)).as("n_segments"),
      max(col("seg_len")).as("longest_segment"),
      sum(col("seg_len")).as("n_active"))
    stats.join(perClip, Seq("media_id"), "left")
      .select(col("media_id"), col("n_frames"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_segment"), lit(0L)).as("longest_segment"),
        (coalesce(col("n_active"), lit(0L)).cast("double")
          / col("n_frames").cast("double")).as("speech_ratio"))
      .orderBy(col("media_id"))
  }

  /** One decoded video row of the real-codec roundtrip (m49). */
  final case class VideoDecode(
      media_id: Long, width: Long, height: Long, n_frames: Long, checksum: Long)

  /** Real-codec VIDEO roundtrip over the corpus (m49) — the video
    * mirror of imageDecodeRoundtrip: per doc, ENCODE the deterministic
    * frame sequence to an actual multi-frame GIF container and DECODE
    * it back frame-by-frame with `javax.imageio`, partition-wise.
    * Indexed-grayscale GIF is lossless, so the frame-index-weighted
    * checksum Σ_f (1+f)·Σ gray·(1+x+w·y) of the decode must equal the
    * arithmetic checksum of the generated pattern, which the DuckDB
    * oracle computes independently in pure integer SQL (no codec on
    * the oracle side). A wrong pixel, wrong frame count, swapped or
    * dropped frame all hash-fail. Repartition first: encode+decode is
    * CPU-bound per item (rule 6). */
  def videoDecodeRoundtrip(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val gif = decodeGifFrames(syntheticGif(id)).getOrElse(
            throw new IllegalStateException(s"GIF roundtrip failed for doc $id"))
          val cs = gif.frameChecksums.iterator.zipWithIndex
            .map { case (c, f) => c * (1L + f) }.sum
          VideoDecode(id, gif.width.toLong, gif.height.toLong,
            gif.frameChecksums.length.toLong, cs)
        }
      }.toDF()
  }

  /** One REAL-decoded sampled frame (m50). */
  final case class VideoFrame(media_id: Long, frame_idx: Long, frame_checksum: Long)

  /** Real-codec frame sampling (m50): every `everyK`-th frame of each
    * doc's GIF as its own row with the frame's decoded checksum — the
    * row-AMPLIFYING decode shape of m46, now on a genuine container:
    * the decoder walks real frames and the amplification happens
    * inside each partition, never through a shuffle. */
  def videoFrameSample(
      spark: SparkSession, docs: DataFrame, everyK: Int = 2): Dataset[VideoFrame] = {
    import spark.implicits._
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val gif = decodeGifFrames(syntheticGif(id)).getOrElse(
            throw new IllegalStateException(s"GIF roundtrip failed for doc $id"))
          Iterator.range(0, gif.frameChecksums.length, everyK).map { f =>
            VideoFrame(id, f.toLong, gif.frameChecksums(f))
          }
        }
      }
  }

  /** One adjacent-frame transition of a decoded video. */
  final case class SceneCut(
      media_id: Long, frame_idx: Long, sad: Long, mad: Double,
      is_cut: Boolean)

  /** Per-frame grayscale pixel arrays of a decoded GIF (row-major),
    * via the same javax.imageio reader path as [[decodeGifFrames]]. */
  private def gifPixelFrames(
      bytes: Array[Byte]): (Int, Int, Array[Array[Int]]) = {
    val reader =
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    try {
      reader.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      val n = reader.getNumImages(true)
      val first = reader.read(0)
      val w = first.getWidth
      val h = first.getHeight
      val frames = Array.tabulate(n) { f =>
        grayPlane(if (f == 0) first else reader.read(f))
      }
      (w, h, frames)
    } finally reader.dispose()
  }

  /** Scene-cut detection over the REAL codec path (m61): decode the
    * GIF, take the sum of absolute pixel differences (SAD) between
    * each adjacent frame pair, and flag a cut when the mean absolute
    * difference exceeds `tau` gray levels — the classic pixel-domain
    * shot-boundary detector (Boreczky & Rowe, SPIE Storage & Retrieval
    * '96), the segmentation step a video-curation pipeline runs before
    * frame sampling so samples don't straddle shots.
    *
    * Lossless container ⇒ the decoded pixels equal the generator
    * arithmetic, so the oracle replays SAD in pure integer SQL; the
    * cut verdict is the cross-multiplied integer predicate
    * sad > tau·w·h (rule 17) and mad is one exact-int division.
    *
    * Scale shape: per-video sequential scan inside mapPartitions —
    * decode once, stream the adjacent pairs; the row amplification is
    * frames-per-video bounded, repartitioned first (rule 6). */
  def videoSceneCuts(
      spark: SparkSession, docs: DataFrame, tau: Int = 35): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val (w, h, frames) = gifPixelFrames(syntheticGif(id))
          (1 until frames.length).iterator.map { f =>
            val a = frames(f - 1)
            val b = frames(f)
            var sad = 0L
            var i = 0
            while (i < a.length) {
              sad += math.abs(b(i) - a(i))
              i += 1
            }
            SceneCut(id, f.toLong, sad,
              sad.toDouble / (w * h).toDouble,
              sad > tau.toLong * w * h)
          }
        }
      }
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** One distinct decoded-frame checksum of a video (original or
    * trimmed variant). */
  final case class VideoFp(media_id: Long, fp: Long)

  /** Video near-duplicate pairs over the REAL codec path (m60) — the
    * frame-fingerprint-set formulation of near-duplicate video
    * detection (Wu, Hauptmann & Ngo, CIVR 2007 practice): each
    * doc contributes its GIF plus a TRIMMED variant (the clip re-cut
    * without the first frame — media_id + VariantOffset; the common
    * re-upload edit), both genuinely decoded; videos compare as the
    * exact Jaccard of their DISTINCT frame-checksum sets through the
    * d40-shaped df-capped inverted index. A trimmed pair shares
    * (nf−1)/nf of its frames, so every planted pair clears J ≥ 1/2 at
    * the 2-frame minimum and unrelated videos share ~nothing (the
    * checksum carries doc_id). Frame-level matching is what survives
    * re-containering; a whole-file hash catches none of it.
    *
    * Scale shape: decode is partition-wise after a repartition (rule
    * 6); per-video frame sets are tiny (≤8), the join is keyed by
    * checksum with the df cap bounding any shared-frame blowup; sizes
    * and verification run at pair grain. Lossless GIF ⇒ the oracle
    * replays the checksums in pure integer SQL and the Jaccard join
    * exactly. */
  def videoNearDup(
      spark: SparkSession, docs: DataFrame, threshold: Double = 0.5,
      maxDf: Int = 20): DataFrame = {
    import spark.implicits._
    val fps = docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          def cks(from: Int) = decodeGifFrames(syntheticGif(id, from))
            .getOrElse(throw new IllegalStateException(
              s"GIF roundtrip failed for doc $id"))
            .frameChecksums.distinct
          cks(0).iterator.map(VideoFp(id, _)) ++
            cks(1).iterator.map(VideoFp(id + VariantOffset, _))
        }
      }.toDF().materializeOnce() // sizes, df cap, and both join sides
    val sizes = fps.groupBy(col("media_id")).agg(count(lit(1)).as("sz"))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("fp"))
    val fil = fps.join(keep, Seq("fp"))
    val inter = fil.select(col("fp"), col("media_id").as("id_a"))
      .join(fil.select(col("fp"), col("media_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("media_id").as("id_a"), col("sz").as("sa")),
        Seq("id_a"))
      .join(sizes.select(col("media_id").as("id_b"), col("sz").as("sb")),
        Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        col("inter").cast("bigint").as("n_inter"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** One sampled frame of a video payload. */
  final case class FrameSample(media_id: Long, frame_idx: Long, frame_fp: Long)

  /** Frame sampling: every `everyK`-th frame of each video payload as its
    * own row — the row-AMPLIFYING decode shape (one video → many frames),
    * which is why the media table repartitions before this stage: the
    * amplification happens inside each partition, never through a
    * shuffle. Non-video rows emit nothing. The per-frame fingerprint is
    * derived deterministically from (payload hash, frame index) by the
    * stub; a real decoder would emit the frame tensor or its embedding
    * with the identical iterator shape. */
  def sampleFrames(
      spark: SparkSession, media: DataFrame, everyK: Int = 4): Dataset[FrameSample] = {
    import spark.implicits._
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    media.as[MediaItem].mapPartitions { it =>
      it.flatMap { item =>
        if (item.kind != "video") Iterator.empty
        else {
          val h = payloadHash(item.payload)
          val nFrames = videoFrames(h)
          Iterator.range(0, nFrames, everyK).map { idx =>
            FrameSample(item.media_id, idx.toLong, h * 1000003L + idx)
          }
        }
      }
    }
  }

  // ---- perceptual image hashing (dHash) ----

  /** Id offset separating a doc's perturbed variant image from its
    * original in the m52 near-dup corpus — far above any testdata
    * doc_id, so the pair (id, id + VariantOffset) is unambiguous. */
  val VariantOffset = 10000000L

  /** Deterministic TEXTURED pixel for the perceptual-hash corpus
    * (m51/m52) — SQL-replayable integer arithmetic, ONE definition for
    * the Scala encoder and the DuckDB oracle (CLAUDE.md rule 12). The
    * m47 linear pattern is useless for fingerprinting — it repeats
    * exactly every 256 ids and its constant gradients make dHash bits
    * collide corpus-wide — so the perceptual queries mix a per-id
    * 16-bit seed and the spatial terms through two rounds of the
    * NON-linear map x → x² + kx (mod 65521). Non-linearity is load-
    * bearing: any composition of modular-linear rounds (e.g. Lehmer
    * steps) is itself one linear map, leaving gradient signs
    * correlated across ids — measured 40k spurious ≤12-bit pairs at
    * 5k docs with a 2-round Lehmer mix vs 17 with the quadratic mix.
    * All intermediates stay < 2^34, far inside int64 on both engines.
    * The `variant` image adds +64 per channel (mod 256) on the sparse
    * lattice (x·7 + y·3) % 23 == 0 (~4% of pixels) — a localized edit
    * (think logo/stamp overlay) on an otherwise identical image,
    * flipping only the few dHash bits whose sample pair straddles a
    * bumped point. */
  def texturedPixelValue(id: Long, x: Int, y: Int, c: Int, variant: Boolean): Int = {
    val bump = if (variant && (x * 7 + y * 3) % 23 == 0) 64L else 0L
    val t = math.floorMod(id * 2654435761L, 65536L) +
      131L * x + 197L * y + 31L * x * y + 101L * c
    val u = (t * t + 3L * t) % 65521L
    val v = (u * u + 7L * u) % 65521L
    ((v + bump) % 256L).toInt
  }

  /** Dims of the textured image for `id`: 18–31 px per side. ≥18 keeps
    * every adjacent pair of the 9-column dHash sample grid on distinct
    * pixels (at w ≤ 8 the first two grid points coincide and their bit
    * degenerates to a constant). */
  def texturedDims(id: Long): (Int, Int) = (
    18 + math.floorMod(id, 14).toInt,
    18 + math.floorMod(math.floorDiv(id, 14), 14).toInt)

  /** Encode the textured pattern (or its perturbed variant) for `id`
    * as a real PNG via javax.imageio. */
  def syntheticPngTextured(id: Long, variant: Boolean): Array[Byte] = {
    val (w, h) = texturedDims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // one bulk sRGB write — identical pixels, one color-model dispatch
    val rgbs = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        rgbs(y * w + x) =
          (texturedPixelValue(id, x, y, 0, variant) << 16) |
            (texturedPixelValue(id, x, y, 1, variant) << 8) |
            texturedPixelValue(id, x, y, 2, variant)
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, rgbs, 0, w)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** 9×8 difference hash (dHash) of a decoded image — the standard
    * perceptual near-dup fingerprint for image corpora (gradient signs
    * survive re-encodes and brightness shifts that break exact byte
    * hashes). Samples an 8-row × 9-column luminance grid by
    * nearest-neighbor at x_i = ⌊i·w/9⌋, y_j = ⌊j·h/8⌋ — exact integer
    * arithmetic, chosen over box-average resize precisely so the
    * DuckDB oracle can replay the hash from the pattern definition
    * with no codec on its side — and emits one bit per adjacent
    * column pair (1 iff the right sample is brighter). Bits fold
    * MSB-first in (j, i) row-major order as acc·2 + bit, wrapping mod
    * 2^64: the m45/m49 HUGEINT replay pattern. Luminance is the raw
    * channel sum r+g+b (no /3 — stays integer-exact). */
  def dhashOfImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val rgbs = img.getRGB(0, 0, w, h, null, 0, w) // one bulk read
    def gray(x: Int, y: Int): Int = {
      val rgb = rgbs(y * w + x)
      ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
    var hash = 0L
    var j = 0
    while (j < 8) {
      val y = j * h / 8
      var i = 0
      while (i < 8) {
        val bit = if (gray((i + 1) * w / 9, y) > gray(i * w / 9, y)) 1L else 0L
        hash = hash * 2 + bit
        i += 1
      }
      j += 1
    }
    hash
  }

  /** One perceptual-hash row (m51/m52). */
  final case class ImageDHash(
      media_id: Long, width: Long, height: Long, dhash: Long)

  /** Perceptual dHash over the REAL codec path (m51): per doc, encode
    * the deterministic pattern to actual PNG bytes, decode them back
    * via javax.imageio, and fingerprint the DECODED image. PNG is
    * lossless, so the fingerprint must equal the arithmetic dHash of
    * the pattern, which the oracle computes in pure integer SQL — a
    * wrong pixel, channel order, or sample coordinate flips bits and
    * hash-fails. With `withVariants`, each doc also contributes its
    * perturbed variant image (media_id + VariantOffset) — the m52
    * near-dup corpus. Repartition first: encode+decode is CPU-bound
    * per item (rule 6). */
  def imageDHashes(
      spark: SparkSession, docs: DataFrame,
      withVariants: Boolean = false): DataFrame = {
    import spark.implicits._
    val ids = docs.select(col("doc_id"), lit(false).as("variant"))
    val all =
      if (withVariants)
        ids.unionByName(docs.select(col("doc_id"), lit(true).as("variant")))
      else ids
    all.toDF("_1", "_2").repartition(col("_1"), col("_2"))
      .as[(Long, Boolean)]
      .mapPartitions { it =>
        it.map { case (id, variant) =>
          val bytes = syntheticPngTextured(id, variant)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null)
            throw new IllegalStateException(s"PNG decode failed for doc $id")
          ImageDHash(if (variant) id + VariantOffset else id,
            img.getWidth.toLong, img.getHeight.toLong, dhashOfImage(img))
        }
      }.toDF()
  }

  /** 32-point DCT-II basis in Q14 fixed point for the m64 pHash:
    * `PhashCos(k)(n) = round(cos(π(2n+1)k/64) · 2^14)`, k ∈ 0..7 (only
    * the low-frequency block is ever needed). The doubles exist only
    * here at class-init; the oracle receives the SAME integer literals
    * (rule 12/14 — no floating point crosses an engine boundary). */
  val PhashCos: Array[Array[Long]] = Array.tabulate(8, 32) { (k, n) =>
    math.round(math.cos(math.Pi * (2 * n + 1) * k / 64.0) * 16384.0)
  }

  /** 64-bit perceptual DCT hash (pHash) of a decoded image — the
    * near-dup fingerprint that survives RESAMPLING, which breaks dHash
    * (m51): dHash compares adjacent samples of a fixed grid, so a
    * rescale that shifts sample phase flips gradient bits, while the
    * low-frequency DCT block is a property of the image's coarse
    * structure. All arithmetic is integer-exact so the DuckDB oracle
    * replays it from the pattern definition: a 32×32 nearest-neighbor
    * luminance grid (the m51 sample-coordinate idiom at 32 points),
    * separable DCT-II through the Q14 integer basis `PhashCos` (row
    * pass then column pass, |F| < 2^48 — no overflow, no rounding),
    * then one bit per low-frequency coefficient: 1 iff F(k,l) exceeds
    * the integer mean of the 8×8 block excluding DC. The 63 AC bits
    * fold MSB-first in (k,l) order — 63 bits, so the fold stays
    * positive int64 and needs no unsigned re-sign on either engine. */
  def phashOfImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val rgbs = img.getRGB(0, 0, w, h, null, 0, w) // one bulk read
    def gray(x: Int, y: Int): Int = {
      val rgb = rgbs(y * w + x)
      ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
    // 32×32 luminance sample grid, nearest-neighbor
    val g = Array.tabulate(32, 32)((i, j) => gray(i * w / 32, j * h / 32).toLong)
    // row pass: R(k, j) = Σ_i C(k,i) · g(i, j), k ∈ 0..7
    val r = Array.tabulate(8, 32) { (k, j) =>
      var s = 0L; var i = 0
      while (i < 32) { s += PhashCos(k)(i) * g(i)(j); i += 1 }
      s
    }
    // column pass: F(k, l) = Σ_j C(l,j) · R(k, j), l ∈ 0..7
    val f = Array.tabulate(8, 8) { (k, l) =>
      var s = 0L; var j = 0
      while (j < 32) { s += PhashCos(l)(j) * r(k)(j); j += 1 }
      s
    }
    val sum = f.map(_.sum).sum
    val m = (sum - f(0)(0)) / 63 // JVM and SQL DIV both truncate to zero
    var hash = 0L
    var k = 0
    while (k < 8) {
      var l = 0
      while (l < 8) {
        if (k != 0 || l != 0) // DC excluded: 63 bits, positive fold
          hash = hash * 2 + (if (f(k)(l) > m) 1L else 0L)
        l += 1
      }
      k += 1
    }
    hash
  }

  /** One DCT perceptual-hash row (m64). */
  final case class ImagePHash(
      media_id: Long, width: Long, height: Long, phash: Long)

  /** DCT pHash over the REAL codec path (m64): encode the deterministic
    * pattern to actual PNG bytes, decode via javax.imageio, fingerprint
    * the DECODED image — m51's contract with the DCT hash. PNG is
    * lossless, so the result must equal the arithmetic pHash of the
    * pattern, which the oracle recomputes in pure integer SQL through
    * the same Q14 basis. Repartition first (rule 6). */
  def imagePHashes(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = syntheticPngTextured(id, variant = false)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null)
            throw new IllegalStateException(s"PNG decode failed for doc $id")
          ImagePHash(id, img.getWidth.toLong, img.getHeight.toLong,
            phashOfImage(img))
        }
      }.toDF()
  }

  /** 256-bit wide dHash of a decoded image, as 4 int64 words: a 16-row
    * × 17-column luminance sample grid (nearest-neighbor, same exact
    * integer coordinates as the 64-bit grid but 4× denser in each
    * axis), one gradient-sign bit per adjacent column pair; word k
    * folds rows 4k..4k+3 MSB-first. The VERIFY-stage fingerprint: 256
    * near-independent bits push the random-pair distance tail far
    * below any workable threshold, so banding's quadratic candidate
    * tail collapses (the image analog of exact-Jaccard verification
    * after MinHash banding). Dims ≥ 18 keep all 17 column samples on
    * distinct pixels. */
  def wideDHashOfImage(img: java.awt.image.BufferedImage): Array[Long] = {
    val w = img.getWidth
    val h = img.getHeight
    val rgbs = img.getRGB(0, 0, w, h, null, 0, w) // one bulk read
    def gray(x: Int, y: Int): Int = {
      val rgb = rgbs(y * w + x)
      ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
    Array.tabulate(4) { k =>
      var word = 0L
      var j = 4 * k
      while (j < 4 * k + 4) {
        val y = j * h / 16
        var i = 0
        while (i < 16) {
          val bit =
            if (gray((i + 1) * w / 17, y) > gray(i * w / 17, y)) 1L else 0L
          word = word * 2 + bit
          i += 1
        }
        j += 1
      }
      word
    }
  }

  /** One two-resolution fingerprint row (m54 internal). */
  final case class ImageHashes(
      media_id: Long, dhash: Long, w0: Long, w1: Long, w2: Long, w3: Long)

  /** Both fingerprints (64-bit banding hash + 256-bit verify hash) in
    * ONE codec pass per image, for an explicit (doc_id, variant) spec
    * frame — candidates and verification share the decode, the
    * expensive step. */
  def imageHashRows(spark: SparkSession, spec: DataFrame): DataFrame = {
    import spark.implicits._
    spec.toDF("_1", "_2").repartition(col("_1"), col("_2"))
      .as[(Long, Boolean)]
      .mapPartitions { it =>
        it.map { case (id, variant) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(syntheticPngTextured(id, variant)))
          if (img == null)
            throw new IllegalStateException(s"PNG decode failed for doc $id")
          val ws = wideDHashOfImage(img)
          ImageHashes(if (variant) id + VariantOffset else id,
            dhashOfImage(img), ws(0), ws(1), ws(2), ws(3))
        }
      }.toDF()
  }

  /** Originals + variants of every doc (the m52/m54 corpus). */
  private def imageHashFrame(spark: SparkSession, docs: DataFrame): DataFrame =
    imageHashRows(spark,
      docs.select(col("doc_id"), lit(false).as("variant"))
        .unionByName(docs.select(col("doc_id"), lit(true).as("variant"))))

  /** VERIFIED image near-dup pairs (m54) — candidates→verify for the
    * image modality, the exact shape of minhashVerifiedPairs: the m52
    * banded join on the 64-bit dHash generates candidates (≤
    * maxHamming), then the 256-bit wide dHash verifies each candidate
    * (≤ maxWideHamming). Both fingerprints come from ONE real
    * encode→decode per image, and the banded join still routes through
    * capBuckets. Output keeps both distances so callers can audit the
    * verification margin; only verified pairs survive. */
  def imageNearDupVerified(
      spark: SparkSession, docs: DataFrame, maxHamming: Int = 12,
      maxWideHamming: Int = 48,
      maxBucket: Int = Dedup.defaultMaxBucket): DataFrame = {
    val fp = imageHashFrame(spark, docs)
    val banded = Dedup.capBuckets(
      fp.select(col("media_id"), col("dhash"),
        col("w0"), col("w1"), col("w2"), col("w3"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("dhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band", "band_val"))),
      Seq("band", "band_val"), maxBucket)
    def side(s: String) = banded.select(
      col("band") +: col("band_val") +:
        (Seq("media_id", "dhash", "w0", "w1", "w2", "w3")
          .map(c => col(c).as(s"${c}_$s"))): _*)
    val wide = (0 until 4)
      .map(k => bit_count(col(s"w${k}_a").bitwiseXOR(col(s"w${k}_b"))))
      .reduce(_ + _)
    side("a").join(side("b"), Seq("band", "band_val"))
      .filter(col("media_id_a") < col("media_id_b"))
      .select(col("media_id_a").as("id_a"), col("media_id_b").as("id_b"),
        bit_count(col("dhash_a").bitwiseXOR(col("dhash_b")))
          .cast("long").as("hamming"),
        wide.cast("long").as("wide_hamming"))
      .filter(col("hamming") <= maxHamming &&
        col("wide_hamming") <= maxWideHamming)
      .distinct()
  }

  /** Persist the image signature store for a settled corpus (m55): one
    * two-resolution fingerprint row per ORIGINAL image. The image
    * mirror of Dedup.writeSignatureStore — a later batch dedups against
    * this index without ever re-decoding corpus images (the decode,
    * not the hash math, is what a 100 TB media lake cannot afford to
    * repeat). */
  def writeImageSignatureStore(
      spark: SparkSession, docs: DataFrame, path: String): Unit = {
    val (h, m) = imageHashRows(spark,
        docs.select(col("doc_id"), lit(false).as("variant")))
      .materializeOnce(count(lit(1)).as("n"))
    graft.operators.Dedup.sizedForWrite(h, m.long("n"))
      .write.mode("overwrite").parquet(s"$path/hashes")
  }

  /** Dedup an incoming image batch against a PERSISTED signature store
    * (m55) — image dedup-at-the-door, the Dedup.dedupBatchAgainstStore
    * shape for the perceptual family: the batch is decoded and
    * fingerprinted ONCE, candidates come from the 4×16-bit banded join
    * against the store's 64-bit hashes (store-side overfull buckets
    * dropped at maxBucket — a degenerate store bucket must not make a
    * batch quadratic), and the 256-bit wide hash verifies each
    * candidate. Per-batch cost: O(batch decodes) + the band join —
    * independent of corpus image count beyond the index read; corpus
    * images are never re-decoded.
    *
    * `spec` is (doc_id, variant) rows as in imageHashRows; output is
    * one decision row per batch image: media_id, keep, reason
    * ('corpus_dup' | 'unique'). */
  def dedupImageBatchAgainstStore(
      spark: SparkSession, spec: DataFrame, storePath: String,
      maxHamming: Int = 12, maxWideHamming: Int = 48,
      maxBucket: Int = Dedup.defaultMaxBucket): DataFrame =
    dedupImageHashesAgainstStore(spark,
      // batch fingerprints feed the join AND the final decision frame:
      // one codec pass (rule 5)
      imageHashRows(spark, spec).materializeOnce(),
      storePath, maxHamming, maxWideHamming, maxBucket)

  /** Decision core of m55/q154 over an ALREADY-fingerprinted batch —
    * split out so the streaming ingest loop can reuse the same hash
    * frame for the decisions AND the store append (no second decode). */
  def dedupImageHashesAgainstStore(
      spark: SparkSession, batch: DataFrame, storePath: String,
      maxHamming: Int = 12, maxWideHamming: Int = 48,
      maxBucket: Int = Dedup.defaultMaxBucket): DataFrame = {
    def banded(fp: DataFrame) = fp.select(
      col("media_id"), col("dhash"),
      col("w0"), col("w1"), col("w2"), col("w3"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("dhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_val")))
    val store = Dedup.capBuckets(
      banded(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$storePath/hashes")),
      Seq("band", "band_val"), maxBucket)
    def side(df: DataFrame, s: String) = df.select(
      col("band") +: col("band_val") +:
        (Seq("media_id", "dhash", "w0", "w1", "w2", "w3")
          .map(c => col(c).as(s"${c}_$s"))): _*)
    val wide = (0 until 4)
      .map(k => bit_count(col(s"w${k}_a").bitwiseXOR(col(s"w${k}_b"))))
      .reduce(_ + _)
    val matched = side(banded(batch), "a")
      .join(side(store, "b"), Seq("band", "band_val"))
      .filter(bit_count(col("dhash_a").bitwiseXOR(col("dhash_b")))
        <= maxHamming && wide <= maxWideHamming)
      .select(col("media_id_a").as("media_id")).distinct()
    batch.select(col("media_id"))
      .join(matched.withColumn("m", lit(true)), Seq("media_id"), "left")
      .select(col("media_id"),
        not(coalesce(col("m"), lit(false))).as("keep"),
        when(coalesce(col("m"), lit(false)), lit("corpus_dup"))
          .otherwise(lit("unique")).as("reason"))
  }

  /** Fold a batch's already-computed fingerprints into the store (the
    * image mirror of Dedup.appendBatchToStore). A `tag` writes into a
    * batch-named subdir with overwrite — idempotent under at-least-once
    * foreachBatch retries; store reads use recursiveFileLookup and see
    * base + appends as one table. */
  def appendImageHashesToStore(
      hashes: DataFrame, path: String, tag: Option[String] = None): Unit = {
    val (sub, mode) = tag match {
      case Some(t) => (s"/$t", "overwrite")
      case None    => ("", "append")
    }
    // file count derives from the row count riding the materialization
    // (guide §6 — per-batch appends otherwise inherit the stream's 8
    // shuffle partitions and explode the store's file count at scale)
    val (h, m) = hashes.materializeOnce(count(lit(1)).as("n"))
    graft.operators.Dedup.sizedForWrite(h, m.long("n"))
      .write.mode(mode).parquet(s"$path/hashes$sub")
  }

  /** Samples per synthetic audio TRACK (m56): 65 frames of 16 → a full
    * 64-bit energy-delta fingerprint (the m53 clips are 4–16 frames —
    * enough to prove the codec contract, too short to dedup on). */
  val TrackSamples = 1040

  /** Deterministic 16-bit PCM track sample — the audio member of the
    * textured-PRF family (CLAUDE.md rule 12, one definition for the
    * Scala encoder and the DuckDB oracle): per-id seed + linear index
    * term through two quadratic rounds mod 65521 (non-linearity is
    * load-bearing — the m53 linear ramp leaves frame energies
    * correlated across ids, the same trap as the m47 image pattern).
    * The `variant` track re-records every 21st frame with a shifted
    * phase (~3 of 65 frames) — a localized edit whose fingerprint
    * lands ~2 bits away (measured mean 2.3, max 7 at 5k tracks). */
  def trackSample(id: Long, i: Int, variant: Boolean): Int = {
    val shift = if (variant && (i / 16) % 21 == 0) 12345L else 0L
    val t = math.floorMod(id * 2654435761L, 65536L) + 131L * i + shift
    val u = (t * t + 3L * t) % 65521L
    val v = (u * u + 7L * u) % 65521L
    (v % 65536L).toInt - 32768
  }

  /** Encode the track (or its perturbed variant) for `id` as a real
    * WAV container — syntheticWav's shape at track length. */
  def syntheticWavTrack(id: Long, variant: Boolean): Array[Byte] = {
    val data = new Array[Byte](TrackSamples * 2)
    var i = 0
    while (i < TrackSamples) {
      val s = trackSample(id, i, variant)
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, TrackSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** 64-bit energy-delta fingerprint of a decoded track: 65 frames of
    * 16 samples, one bit per adjacent frame pair (later frame louder),
    * MSB-first fold. */
  def trackFingerprint(samples: Array[Int]): Long = {
    require(samples.length == TrackSamples,
      s"track length drifted: ${samples.length}")
    val energy = Array.tabulate(65) { f =>
      var e = 0L
      var i = 16 * f
      while (i < 16 * f + 16) { e += math.abs(samples(i).toLong); i += 1 }
      e
    }
    var fp = 0L
    var f = 0
    while (f < 64) {
      fp = fp * 2 + (if (energy(f + 1) > energy(f)) 1L else 0L)
      f += 1
    }
    fp
  }

  /** AUDIO near-dup pairs via banded Hamming join on the track
    * fingerprint (m56) — the m52 LSH shape for the audio modality,
    * with the real WAV codec in the loop: every original and variant
    * track is a genuine encode→decode, the loudness envelope is
    * fingerprinted from DECODED PCM, 4×16-bit bands generate
    * candidates (capBuckets guard), exact popcount ≤ maxHamming
    * verifies. */
  def audioNearDupPairs(
      spark: SparkSession, docs: DataFrame, maxHamming: Int = 12,
      maxBucket: Int = Dedup.defaultMaxBucket): DataFrame = {
    import spark.implicits._
    val fp = docs.select(col("doc_id"), lit(false).as("variant"))
      .unionByName(docs.select(col("doc_id"), lit(true).as("variant")))
      .toDF("_1", "_2").repartition(col("_1"), col("_2"))
      .as[(Long, Boolean)]
      .mapPartitions { it =>
        it.map { case (id, variant) =>
          val (_, samples) = decodeWav(syntheticWavTrack(id, variant))
            .getOrElse(throw new IllegalStateException(
              s"WAV track roundtrip failed for doc $id"))
          (if (variant) id + VariantOffset else id, trackFingerprint(samples))
        }
      }.toDF("media_id", "fingerprint")
    val banded = Dedup.capBuckets(
      fp.select(col("media_id"), col("fingerprint"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("fingerprint"), b * 16)
            .bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band", "band_val"))),
      Seq("band", "band_val"), maxBucket)
    val a = banded.select(col("band"), col("band_val"),
      col("media_id").as("id_a"), col("fingerprint").as("fp_a"))
    val b = banded.select(col("band"), col("band_val"),
      col("media_id").as("id_b"), col("fingerprint").as("fp_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** One audio-fingerprint row (m53). */
  final case class AudioFingerprint(
      media_id: Long, n_frames: Long, fingerprint: Long)

  /** Energy-profile audio fingerprint over the REAL codec path (m53) —
    * the audio member of the perceptual family: encode the
    * deterministic waveform to actual WAV bytes, decode via
    * javax.sound.sampled, split the DECODED PCM into 16-sample frames
    * (full frames only), and emit one bit per adjacent frame pair —
    * 1 iff the later frame carries more absolute-amplitude energy.
    * Energy-delta signs are the loudness envelope: the shape that
    * survives gain-independent transforms, the audio analog of dHash's
    * gradient signs. WAV PCM is lossless, so the fingerprint must
    * equal the arithmetic fold over the generated samples, which the
    * oracle computes in pure integer SQL. Repartition first (rule 6). */
  def audioFingerprints(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).repartition(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val (_, samples) = decodeWav(syntheticWav(id)).getOrElse(
            throw new IllegalStateException(s"WAV roundtrip failed for doc $id"))
          val nf = samples.length / 16
          val energy = Array.tabulate(nf) { f =>
            var e = 0L
            var i = 16 * f
            while (i < 16 * f + 16) { e += math.abs(samples(i).toLong); i += 1 }
            e
          }
          var fp = 0L
          var f = 0
          while (f < nf - 1) {
            fp = fp * 2 + (if (energy(f + 1) > energy(f)) 1L else 0L)
            f += 1
          }
          AudioFingerprint(id, nf.toLong, fp)
        }
      }.toDF()
  }

  /** Image near-dup pairs via banded Hamming join on dHash (m52): the
    * simhashPairs LSH shape applied to DECODED images — 4 bands of 16
    * bits generate candidates (any shared band), exact popcount of the
    * XOR verifies ≤ maxHamming. Scale contract: the band join is the
    * only shuffle over the corpus, candidates are bounded by band
    * collisions (random 16-bit bands collide at ~n²/2¹⁶ per band), and
    * the codec stage runs exactly once — the fingerprint frame is
    * localCheckpointed (rule 5) because it feeds both sides of the
    * self-join and each row costs a real PNG encode+decode. */
  def imageNearDupPairs(
      spark: SparkSession, docs: DataFrame, maxHamming: Int = 12,
      maxBucket: Int = Dedup.defaultMaxBucket): DataFrame = {
    val fp = imageDHashes(spark, docs, withVariants = true)
      .select(col("media_id"), col("dhash"))
    // capBuckets (the shared LSH skew guard) materializes the banded
    // frame ONCE, so the codec stage runs exactly once even though the
    // frame feeds the cap probe and both sides of the self-join
    // (rule 5); a degenerate fingerprint (e.g. a constant-image flood)
    // would otherwise make one 16-bit bucket quadratic.
    val banded = Dedup.capBuckets(
      fp.select(col("media_id"), col("dhash"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("dhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band", "band_val"))),
      Seq("band", "band_val"), maxBucket)
    val a = banded.select(col("band"), col("band_val"),
      col("media_id").as("id_a"), col("dhash").as("fp_a"))
    val b = banded.select(col("band"), col("band_val"),
      col("media_id").as("id_b"), col("dhash").as("fp_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
