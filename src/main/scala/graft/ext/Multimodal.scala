package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §2.9): media as opaque `binary`
  * payload columns plus typed metadata, processed in partition-parallel
  * batches.
  *
  * Image payloads (PNG/JPEG/GIF/BMP) get a REAL decode through JDK 17's
  * built-in `javax.imageio` codecs — width/height and an 8-dim color/luma
  * feature vector from actual pixels. Video containers whose frames need
  * no inter-frame codec decode for REAL too: animated GIF
  * ([[decodeGifFrames]]) and MJPEG-in-AVI ([[decodeAviFrames]] — our
  * RIFF walk + the JDK JPEG reader per frame). Everything else (this
  * corpus's testdata is text bytes; other video codecs don't ship in
  * this container) falls back to `decodeStub`, a clearly-marked
  * deterministic fake, so the partition-parallel plumbing is exercised
  * end-to-end on every row either way. The `decoded` output column says
  * which path ran.
  */
object Multimodal {

  val featureDim = 8

  /** Pixel ceiling for GIF decodes (logical-screen canvas AND every
    * frame's ImageDescriptor, validated header-only in
    * [[decodeGifFrames]] before any allocation): the canvas PERSISTS
    * across the composed frame sequence and each kept frame retains a
    * full-canvas luma array, so the GIF bound is deliberately tighter
    * than [[MaxImagePixels]]. 16 MP holds the worst canvas at ~64 MB
    * of INT_RGB. */
  val MaxGifPixels: Long = 16L * 1024 * 1024

  /** Pixel ceiling for SINGLE-image decodes ([[readImageBounded]] →
    * decodeImage / perceptualHash / resizeTo): header-declared w*h
    * beyond this is refused before any raster allocation. 64 MP admits
    * every real camera output (a 40000x40000 hostile header is ~95x
    * over) while bounding the transient raster at ~256 MB per task. */
  val MaxImagePixels: Long = 64L * 1024 * 1024

  /** Magic-number sniff for the formats JDK 17's ImageIO decodes natively
    * (PNG, JPEG, GIF, BMP) — keeps the non-image fast path free of
    * reader-registry lookups. */
  private def looksLikeImage(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 0xff.toByte && p(1) == 0xd8.toByte) ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F') ||
      (p(0) == 'B' && p(1) == 'M'))

  /** `ImageIO.read` with the header-declared dimensions validated FIRST
    * (`reader.getWidth/getHeight(0)` parse only header bytes): a hostile
    * BMP/PNG/JPEG header can declare a 40000x40000 raster, and letting
    * the decode allocate it OOMs the executor with an Error no Exception
    * handler sees — the [[decodeGifFrames]] rule, applied to every
    * single-image path ([[decodeImage]], [[perceptualHash]],
    * [[resizeTo]]). Returns null for non-images, undecodable bytes,
    * and over-[[MaxImagePixels]] declarations. */
  private def readImageBounded(
      payload: Array[Byte],
      maxPixels: Long = MaxImagePixels): java.awt.image.BufferedImage = {
    if (!looksLikeImage(payload)) return null
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      // everything past this point — reader lookup, setInput, header
      // reads, the decode itself — runs inside a finally that always
      // closes the stream and disposes any acquired reader, so a throw
      // from ANY step (not just the decode) cannot leak the
      // ImageInputStream's temp resources until GC
      var reader: javax.imageio.ImageReader = null
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return null
        reader = readers.next()
        reader.setInput(iis)
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) null
        else reader.read(0)
      } finally {
        if (reader != null) reader.dispose()
        iis.close()
      }
    } catch { case _: Exception => null }
  }

  /** Real image decode via `javax.imageio` (JDK-native, no container
    * packages): (width, height, features) where features =
    * [mean R, mean G, mean B, mean luma, quadrant lumas TL/TR/BL/BR]
    * (luma = (299R + 587G + 114B)/1000; odd center row/column counts to
    * top/left). None when the payload is not a decodable image, or when
    * its HEADER-declared dimensions exceed [[MaxImagePixels]] — the
    * same refuse-before-allocating rule as [[decodeGifFrames]]: a hostile
    * BMP/PNG header can declare a 40000x40000 raster, and letting
    * `ImageIO.read` allocate it OOMs the executor with an Error no
    * Exception handler sees. `reader.getWidth/getHeight(0)` parse only
    * header bytes. */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Double])] = {
    val img = readImageBounded(payload)
    if (img == null) return None
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0
    val qsum = Array.ofDim[Double](4)
    val qcnt = Array.ofDim[Long](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = px(y * w + x)
        val r = (p >> 16) & 0xff
        val g = (p >> 8) & 0xff
        val b = p & 0xff
        val l = (299 * r + 587 * g + 114 * b) / 1000.0
        sr += r; sg += g; sb += b; sl += l
        val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
        qsum(q) += l; qcnt(q) += 1
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    val feats = Array.ofDim[Double](featureDim)
    feats(0) = sr / n; feats(1) = sg / n; feats(2) = sb / n; feats(3) = sl / n
    var q = 0
    while (q < 4) {
      feats(4 + q) = if (qcnt(q) > 0) qsum(q) / qcnt(q) else 0.0
      q += 1
    }
    Some((w, h, feats))
  }

  /** STUB decoder: pretends `payload` is an encoded image and emits a
    * deterministic fake (width, height, feature vector) derived only from
    * the bytes. Replace with a real codec (e.g. libjpeg/ffmpeg) off-container. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Array[Double]) = {
    val n = payload.length
    val width = 16 + (if (n == 0) 0 else payload(0) & 0x3f)
    val height = 16 + (if (n < 2) 0 else payload(1) & 0x3f)
    // fake features: per-bucket mean byte value over featureDim byte buckets
    val feats = Array.ofDim[Double](featureDim)
    val counts = Array.ofDim[Long](featureDim)
    var i = 0
    while (i < n) {
      val b = i % featureDim
      feats(b) += (payload(i) & 0xff).toDouble
      counts(b) += 1
      i += 1
    }
    var j = 0
    while (j < featureDim) {
      if (counts(j) > 0) feats(j) = feats(j) / counts(j)
      j += 1
    }
    (width, height, feats)
  }

  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("decoded", BooleanType, nullable = false)))

  /** Feature extraction over a binary payload column: partition-parallel,
    * no driver-side materialization; each partition streams rows through
    * the decoder — real ImageIO decode for image payloads, deterministic
    * stub for everything else (`decoded` records which). Input must have
    * (doc_id: long, payload: binary). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        decodeImage(payload) match {
          case Some((w, h, f)) => Row(id, payload.length.toLong, w, h, f.toSeq, true)
          case None =>
            val (w, h, f) = decodeStub(payload)
            Row(id, payload.length.toLong, w, h, f.toSeq, false)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  private val resizeSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("resized", BooleanType, nullable = false)))

  /** Real image resize: decodable payloads whose longer edge exceeds
    * `maxDim` are scaled down preserving aspect ratio (Graphics2D
    * bilinear) and re-encoded as PNG; smaller images and non-image
    * payloads pass through byte-identical. The standard normalize-on-
    * ingest step before a vision encoder — partition-parallel, no driver
    * materialization, same mapPartitions batch shape as
    * [[extractFeatures]]. Output: (doc_id, payload, width, height,
    * resized); width/height are -1 for non-decodable payloads. */
  def resizeTo(media: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim > 0, s"maxDim must be positive, got $maxDim")
    val spark = media.sparkSession
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val img = readImageBounded(payload)
        if (img == null) Row(id, payload, -1, -1, false)
        else {
          val w = img.getWidth
          val h = img.getHeight
          if (math.max(w, h) <= maxDim) Row(id, payload, w, h, false)
          else {
            val scale = maxDim.toDouble / math.max(w, h)
            val nw = math.max(1, math.round(w * scale).toInt)
            val nh = math.max(1, math.round(h * scale).toInt)
            val out = new java.awt.image.BufferedImage(
              nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, nw, nh, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            Row(id, bos.toByteArray, nw, nh, true)
          }
        }
      }
    }
    spark.createDataFrame(rdd, resizeSchema)
  }

  /** RIFF/WAVE magic sniff, mirroring [[looksLikeImage]]: keeps non-audio
    * payloads off the AudioSystem reader registry. */
  private def looksLikeWav(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** Decoded PCM substrate shared by [[decodeAudio]] and
    * [[audioFingerprint]]: the drained raw bytes plus the format facts
    * needed to read any frame's mono-mixed normalized sample ON DEMAND.
    * Deliberately NOT a materialized Double array — that would be an 8x
    * transient amplification of an 8-bit payload per task (a 100 MB
    * recording → an ~800 MB array); each consumer streams `sample(f)`
    * in its own single pass at O(1) extra memory instead. */
  private final case class WavPcm(
      sampleRate: Int, channels: Int, bits: Int, signed: Boolean,
      frameSize: Int, bytes: Array[Byte]) {
    val nFrames: Int = bytes.length / frameSize
    private val scale = if (bits == 8) 128.0 else 32768.0
    /** Frame f's channels mono-mixed into one normalized sample. */
    def sample(f: Int): Double = {
      var s = 0.0
      var c = 0
      while (c < channels) {
        val off = f * frameSize + c * (bits / 8)
        val raw =
          if (bits == 8) {
            if (signed) bytes(off).toInt else (bytes(off) & 0xff) - 128
          } else {
            // WAV PCM16 is little-endian signed
            val lo = bytes(off) & 0xff
            val hi = bytes(off + 1).toInt
            (hi << 8) | lo
          }
        s += raw / scale
        c += 1
      }
      s / channels
    }
  }

  /** Real audio decode via `javax.sound.sampled` (JDK-native WAV/PCM —
    * no container packages) down to the [[WavPcm]] substrate. None when
    * the payload is not decodable 8/16-bit PCM audio. */
  private def decodeWavPcm(payload: Array[Byte]): Option[WavPcm] = {
    if (!looksLikeWav(payload)) return None
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (in == null) return None
    try {
      val fmt = in.getFormat
      val enc = fmt.getEncoding
      val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      if (!signed && enc != javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
        return None
      val bits = fmt.getSampleSizeInBits
      if (bits != 8 && bits != 16) return None
      val ch = fmt.getChannels
      val frameSize = fmt.getFrameSize
      if (ch <= 0 || frameSize <= 0) return None
      // bounded manual drain, NOT readAllBytes: PCM data can never
      // exceed the container payload, and on a corrupted header
      // AudioInputStream.read can return 0 forever (a misaligned
      // frameSize makes every read come back short) — readAllBytes
      // then spins at 100% CPU. Found by MultimodalFuzzSpec.
      val bytes = {
        val buf = new Array[Byte](payload.length)
        var got = 0
        var n = 0
        while (got < buf.length && {
          n = try in.read(buf, got, buf.length - got)
          catch { case _: Exception => -1 }
          n > 0
        }) got += n
        if (got == buf.length) buf else java.util.Arrays.copyOf(buf, got)
      }
      if (bytes.length / frameSize == 0) return None
      Some(WavPcm(fmt.getSampleRate.toInt, ch, bits, signed, frameSize, bytes))
    } catch {
      case _: Exception => None
    } finally in.close()
  }

  /** Real audio feature decode: (sampleRate, channels, nFrames, [rms,
    * peak, zero-crossing rate, dc offset]) streamed over the mono-mixed
    * normalized samples in one pass. None when the payload is not
    * decodable PCM audio. */
  def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Long, Array[Double])] =
    decodeWavPcm(payload).map { pcm =>
      val nFrames = pcm.nFrames
      var ss = 0.0; var sm = 0.0; var pk = 0.0; var zc = 0L
      var prev = 0.0
      var f = 0
      while (f < nFrames) {
        val s = pcm.sample(f)
        ss += s * s; sm += s
        val a = math.abs(s)
        if (a > pk) pk = a
        if (f > 0 && s * prev < 0) zc += 1
        prev = s
        f += 1
      }
      val feats = Array(
        math.sqrt(ss / nFrames), pk,
        if (nFrames > 1) zc.toDouble / (nFrames - 1) else 0.0,
        sm / nFrames)
      (pcm.sampleRate, pcm.channels, nFrames.toLong, feats)
    }

  /** STUB audio decoder for non-audio payloads, mirroring [[decodeStub]]:
    * pretends each byte is one signed 8-bit mono sample at 8 kHz and
    * computes the same feature vector as the real path. Every quantity is
    * integer arithmetic until one final scale/divide, so the DuckDB
    * oracle reproduces it bit-for-bit from hex(payload). */
  def audioStub(payload: Array[Byte]): (Int, Int, Long, Array[Double]) = {
    val n = payload.length
    if (n == 0) return (8000, 1, 0L, Array.ofDim[Double](4))
    var ss = 0L; var sm = 0L; var pk = 0L; var zc = 0L
    var prev = 0
    var i = 0
    while (i < n) {
      val s = payload(i).toInt
      ss += s.toLong * s; sm += s
      val a = math.abs(s)
      if (a > pk) pk = a
      if (i > 0 && s * prev < 0) zc += 1
      prev = s
      i += 1
    }
    val feats = Array(
      math.sqrt(ss.toDouble / (16384.0 * n)),
      pk / 128.0,
      if (n > 1) zc.toDouble / (n - 1) else 0.0,
      sm / (128.0 * n))
    (8000, 1, n.toLong, feats)
  }

  private val audioSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_s", DoubleType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("peak", DoubleType, nullable = false),
    StructField("zcr", DoubleType, nullable = false),
    StructField("dc", DoubleType, nullable = false),
    StructField("decoded", BooleanType, nullable = false)))

  /** Audio feature extraction over a binary payload column — the audio
    * sibling of [[extractFeatures]], same partition-parallel plumbing:
    * real `javax.sound.sampled` decode for WAV payloads, the
    * deterministic [[audioStub]] for everything else (`decoded` records
    * which). Input: (doc_id: long, payload: binary). */
  def extractAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val ((sr, ch, nf, f), dec) = decodeAudio(payload) match {
          case Some(t) => (t, true)
          case None => (audioStub(payload), false)
        }
        val dur = if (sr > 0) nf.toDouble / sr else 0.0
        Row(id, payload.length.toLong, sr, ch, nf, dur, f(0), f(1), f(2), f(3), dec)
      }
    }
    spark.createDataFrame(rdd, audioSchema)
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint per payload — the
    * image-dedup primitive: near-identical images differ in a few bits,
    * unrelated ones concentrate at hamming ~32. Decodable images use the
    * REAL pixel path (8x8 cell mean luminance over the decoded bitmap,
    * bit = cell mean > global mean); other payloads get the deterministic
    * byte-bucket stub (cell j = bytes at positions ≡ j mod 64), with the
    * threshold compared CROSS-MULTIPLIED (cell_sum·total_cnt >
    * total_sum·cell_cnt) so every stub quantity stays integer-exact and
    * the DuckDB oracle reproduces the hash bit-for-bit from
    * hex(payload). Empty payloads are dropped (no bits to hash).
    * Output: (doc_id, phash: long, decoded). */
  def perceptualHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false),
      StructField("decoded", BooleanType, nullable = false)))
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        if (payload.isEmpty) None
        else {
          val img = readImageBounded(payload)
          val phash =
            if (img != null) {
              val (w, h) = (img.getWidth, img.getHeight)
              val sums = new Array[Double](64); val cnts = new Array[Long](64)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  val lum = 0.299 * ((rgb >> 16) & 0xff) +
                    0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                  val cell = (y * 8 / h) * 8 + (x * 8 / w)
                  sums(cell) += lum; cnts(cell) += 1
                  x += 1
                }
                y += 1
              }
              val total = sums.sum / (w.toLong * h)
              (0 until 64).foldLeft(0L) { (acc, j) =>
                if (cnts(j) > 0 && sums(j) / cnts(j) > total) acc | (1L << j) else acc
              }
            } else {
              val sums = new Array[Long](64); val cnts = new Array[Long](64)
              var i = 0
              while (i < payload.length) {
                sums(i % 64) += payload(i) & 0xff; cnts(i % 64) += 1
                i += 1
              }
              val ts = sums.sum; val tc = payload.length.toLong
              (0 until 64).foldLeft(0L) { (acc, j) =>
                if (sums(j) * tc > ts * cnts(j)) acc | (1L << j) else acc
              }
            }
          Some(Row(id, phash, img != null))
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Banded near-dup join over a 64-bit fingerprint column — the ONE
    * candidate-generation plan every 64-bit perceptual signature here
    * shares ([[phashNearDup]], [[audioFpNearDup]]): candidates come
    * from four 16-bit hash bands (pigeonhole: hamming <= 3 differing
    * bits cannot touch all 4 bands, so recall is 1 at the default
    * threshold — a lossless candidate generator, like the
    * containment/winnowing prefix filters); verification is one
    * popcount per candidate. Requires maxHamming < 4 for the
    * losslessness argument; raise the band count for looser
    * thresholds. Candidates and the volume guard (a degenerate media
    * corpus — mass-replicated payloads, or silent recordings that all
    * fingerprint identically — aborts with its bucket named) come from
    * [[CandidatePairs.self]]. Input: (doc_id, `hashCol`: long); output:
    * (doc_a, doc_b, hamming), doc_a < doc_b. */
  private def bandedHamming64(
      op: String, hashes: DataFrame, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming < 4,
      s"4 bands guarantee recall only for hamming < 4, got $maxHamming")
    val h = hashes.select(col("doc_id"), col(hashCol).as("hv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialized first: the typed hash kernels leave the planner no
      // size estimate, and CandidatePairs sizes its band-row exchange
      // from the cached hashes' real one
      h.count()
      val bandRows = h.select(col("doc_id"),
        explode(expr("transform(sequence(0, 3), " +
          "b -> struct(b as band, cast(shiftright(hv, 16 * b) & 65535 as int) as key))"))
          .as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.key").as("key"))
      CandidatePairs.self(op, bandRows) { c =>
        val out = c.pairs
          .join(h.select(col("doc_id").as("doc_a"), col("hv").as("ha")), "doc_a")
          .join(h.select(col("doc_id").as("doc_b"), col("hv").as("hb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
          .where(col("hamming") <= maxHamming)
        Lineage.cut(out)
      }
    } finally { h.unpersist(); () }
  }

  /** Perceptual near-duplicate pairs: payloads whose aHashes are within
    * `maxHamming` bits — image dedup wired into the same banded-LSH
    * shape as the text stack, via [[bandedHamming64]].
    * Output: (doc_a, doc_b, hamming). */
  def phashNearDup(media: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHamming64("phashNearDup", perceptualHash(media), "phash", maxHamming)

  /** 64-bit band-energy audio fingerprint per payload — the audio
    * sibling of [[perceptualHash]], completing the dedup modality
    * matrix. Decodable WAV payloads use the REAL sample path: the
    * mono-mixed normalized samples (streamed from the decoded PCM, one
    * sample at a time — never a materialized array) are split
    * into 64 equal TIME cells (cell = f*64/nFrames — the envelope
    * signature a recording's loudness contour leaves), and bit j is
    * set when cell j's mean ENERGY (sample²) exceeds the global mean
    * energy — amplitude-scale invariant (a remastered/regained copy
    * scales every cell equally, so every comparison is unchanged) and
    * robust to codec-grade noise the way [[perceptualHash]]'s aHash is
    * to recompression. Other payloads get the deterministic stub:
    * each byte as one signed 8-bit sample (the [[audioStub]]
    * convention), cell = position mod 64 (position-aligned like the
    * phash stub, so a tail edit leaves shared-prefix cells intact),
    * energy = sb², with the threshold compared CROSS-MULTIPLIED
    * (cell_sum·total_cnt > total_sum·cell_cnt) so every stub quantity
    * stays integer-exact and the DuckDB oracle reproduces the
    * fingerprint bit-for-bit from hex(payload). Empty payloads are
    * dropped (no energy to fingerprint).
    * Output: (doc_id, afp: long, decoded). */
  def audioFingerprint(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("afp", LongType, nullable = false),
      StructField("decoded", BooleanType, nullable = false)))
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        if (payload.isEmpty) None
        else decodeWavPcm(payload) match {
          case Some(pcm) =>
            val n = pcm.nFrames
            val sums = new Array[Double](64); val cnts = new Array[Long](64)
            var f = 0
            while (f < n) {
              val s = pcm.sample(f)
              val cell = ((f.toLong * 64) / n).toInt
              sums(cell) += s * s; cnts(cell) += 1
              f += 1
            }
            val ts = sums.sum; val tc = n.toLong
            val afp = (0 until 64).foldLeft(0L) { (acc, j) =>
              if (sums(j) * tc > ts * cnts(j)) acc | (1L << j) else acc
            }
            Some(Row(id, afp, true))
          case None =>
            val sums = new Array[Long](64); val cnts = new Array[Long](64)
            var i = 0
            while (i < payload.length) {
              val sb = payload(i).toLong
              sums(i % 64) += sb * sb; cnts(i % 64) += 1
              i += 1
            }
            val ts = sums.sum; val tc = payload.length.toLong
            // the cross-multiplied compare is exact in Long only below
            // ~1.9e8 payload bytes (sums<=16384*len/64 and ts<=16384*len,
            // so each product is <=256*len^2); BigInt keeps the bits
            // exact at ANY payload size for 64 multiplies per doc —
            // negligible next to the byte scan. The DuckDB oracle
            // replays the same compare in BIGINT and would error past
            // that bound, but oracle corpora sit far below it.
            val afp = (0 until 64).foldLeft(0L) { (acc, j) =>
              if (BigInt(sums(j)) * tc > BigInt(ts) * cnts(j)) acc | (1L << j)
              else acc
            }
            Some(Row(id, afp, false))
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Audio near-duplicate pairs: payloads whose band-energy
    * fingerprints ([[audioFingerprint]]) are within `maxHamming` bits —
    * audio dedup wired into the same banded-LSH shape as the image and
    * text stacks, via [[bandedHamming64]]. On this corpus the
    * fingerprint separates cleanly: the 25 true near-dup pairs land at
    * hamming <= 3 (11 at 0, 11 at 1, 2 at 2, 1 at 3, DuckDB-measured
    * at sf0.01) with NOTHING in (3, 8] — the same margin shape as
    * [[phashNearDup]]. Output: (doc_a, doc_b, hamming). */
  def audioFpNearDup(media: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHamming64("audioFpNearDup", audioFingerprint(media), "afp",
      maxHamming)

  /** Documents → media table: text bytes standing in for an encoded blob,
    * with typed metadata carried alongside the opaque payload. */
  def documentsAsMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(col("lang"), col("source"), col("n_chars")).as("meta"))

  /** Stub-"video" container geometry: fixed-size byte windows stand in
    * for encoded frames at a nominal native fps (no video codecs exist
    * in this container — the decode is an HONEST deterministic stand-in;
    * the Spark-side plumbing is the real thing). */
  val FrameBytes = 64
  val NativeFps = 30

  private def looksLikeGif(p: Array[Byte]): Boolean =
    p.length > 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
      p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a'

  /** One composed frame of an animated GIF: index in the file's frame
    * sequence, millisecond timestamp accumulated from the per-frame
    * GraphicControlExtension delays (frame 0 at 0 ms), canvas
    * dimensions, and the composed canvas as row-major 8-bit luma. */
  final case class VideoFrame(
      frameIdx: Int, tsMs: Long, width: Int, height: Int, gray: Array[Byte])

  /** First attribute value of `node` under a GIF metadata tree, as Int. */
  private def gifAttr(
      root: org.w3c.dom.Element, node: String, attr: String): Option[Int] = {
    val list = root.getElementsByTagName(node)
    if (list.getLength == 0) None
    else Option(list.item(0).asInstanceOf[org.w3c.dom.Element]
        .getAttribute(attr))
      .filter(_.nonEmpty)
      .flatMap(s => scala.util.Try(s.toInt).toOption)
  }

  /** REAL multi-frame decode for one container format — animated GIF —
    * via JDK 17's own `javax.imageio` GIF reader (the same reader the
    * still-image path uses; no external codec). Frames are composed
    * onto a persistent logical-screen canvas at their ImageDescriptor
    * offsets, which is correct for disposal "none"/"doNotDispose" (the
    * common delta-frame encoding); "restoreToBackgroundColor" is
    * approximated by leaving the prior pixels in place (documented
    * limitation — the container ships no reference renderer to pin it
    * against). Per-frame delay comes from the GraphicControlExtension
    * in centiseconds; a missing/zero delay falls back to 10 cs, the
    * historical GIF default. None when the payload is not a GIF the
    * reader accepts, or when its logical screen OR any frame's
    * ImageDescriptor exceeds [[MaxGifPixels]] — a hostile header can
    * declare a 40000x40000 screen (or a tiny screen with a
    * 65535x65535 frame), and refusing it up front via the header-only
    * `getWidth`/`getHeight` probes (falling back to the bounded
    * byte-window stub) beats letting a pixel allocation OOM an
    * executor with an Error no Exception handler catches. `keep(frameIdx, tsMs)` filters DURING decode: only kept
    * frames' gray canvases are retained, so a thousand-frame GIF
    * resampled to a handful holds a handful — pass the default to keep
    * every frame. */
  def decodeGifFrames(
      payload: Array[Byte],
      keep: (Int, Long) => Boolean = (_, _) => true): Option[Vector[VideoFrame]] = {
    if (!looksLikeGif(payload)) return None
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    if (!readers.hasNext) return None
    val reader = readers.next()
    val stream = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      reader.setInput(stream, false)
      val n = reader.getNumImages(true)
      if (n <= 0) return None
      val screen = Option(reader.getStreamMetadata)
        .map(_.getAsTree("javax_imageio_gif_stream_1.0")
          .asInstanceOf[org.w3c.dom.Element])
      // header-only dims (no pixel decode) for both the logical-screen
      // fallback and the per-frame bound: a hostile GIF can pair a tiny
      // logical screen with a 65535x65535 ImageDescriptor, and the
      // resulting OutOfMemoryError is an Error the Exception handler
      // below would never see — so every frame's declared dims are
      // checked BEFORE its reader.read(i)
      val cw = screen.flatMap(
        gifAttr(_, "LogicalScreenDescriptor", "logicalScreenWidth"))
        .filter(_ > 0).getOrElse(reader.getWidth(0))
      val ch = screen.flatMap(
        gifAttr(_, "LogicalScreenDescriptor", "logicalScreenHeight"))
        .filter(_ > 0).getOrElse(reader.getHeight(0))
      if (cw <= 0 || ch <= 0 || cw.toLong * ch > MaxGifPixels) return None
      var f = 0
      while (f < n) {
        if (reader.getWidth(f).toLong * reader.getHeight(f) > MaxGifPixels)
          return None
        f += 1
      }
      val canvas = new java.awt.image.BufferedImage(
        cw, ch, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = canvas.createGraphics()
      try {
        var ts = 0L
        val out = Vector.newBuilder[VideoFrame]
        var i = 0
        while (i < n) {
          val img = reader.read(i)
          val md = reader.getImageMetadata(i)
            .getAsTree("javax_imageio_gif_image_1.0")
            .asInstanceOf[org.w3c.dom.Element]
          val left = gifAttr(md, "ImageDescriptor", "imageLeftPosition")
            .getOrElse(0)
          val top = gifAttr(md, "ImageDescriptor", "imageTopPosition")
            .getOrElse(0)
          val delayCs = gifAttr(md, "GraphicControlExtension", "delayTime")
            .filter(_ > 0).getOrElse(10)
          // the canvas must be composed for EVERY frame (later frames
          // build on earlier pixels), but only kept frames pay the
          // getRGB + gray materialization
          g2.drawImage(img, left, top, null)
          if (keep(i, ts)) {
            val gray = rgbToLuma(canvas.getRGB(0, 0, cw, ch, null, 0, cw))
            out += VideoFrame(i, ts, cw, ch, gray)
          }
          ts += delayCs * 10L
          i += 1
        }
        Some(out.result())
      } finally g2.dispose()
    } catch { case _: Exception => None }
    finally { try reader.dispose() finally stream.close() }
  }

  /** Keep the first frame in each 1/targetFps output tick: a frame
    * survives iff its timestamp reaches the next tick after the last
    * kept frame (all-integer, so specs/oracles reproduce it exactly).
    * Frame 0 always survives. Stateful — one keeper per frame
    * sequence, applied in frame order (the decode loop is sequential). */
  private[graft] def fpsKeeper(targetFps: Int): (Int, Long) => Boolean = {
    var nextTickNum = 0L // next tick, in units of 1000/targetFps ms
    (_, tsMs) =>
      if (tsMs * targetFps >= nextTickNum * 1000) {
        nextTickNum = tsMs * targetFps / 1000 + 1
        true
      } else false
  }

  private[graft] def resampleByFps(
      frames: Vector[VideoFrame], targetFps: Int): Vector[VideoFrame] = {
    val keep = fpsKeeper(targetFps)
    frames.filter(f => keep(f.frameIdx, f.tsMs))
  }

  private def looksLikeAvi(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' &&
      p(3) == 'F' && p(8) == 'A' && p(9) == 'V' && p(10) == 'I' &&
      p(11) == ' '

  /** Little-endian u32 at `off` (RIFF sizes/fields), as Long — a hostile
    * size field can exceed Int.MaxValue and must not wrap negative. */
  private def leU32(p: Array[Byte], off: Int): Long =
    (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
      ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)

  private def fourcc(p: Array[Byte], off: Int): String = {
    val b = new Array[Byte](4)
    System.arraycopy(p, off, b, 0, 4)
    new String(b, java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Row-major INT_RGB pixels → 8-bit luma ((299R+587G+114B)/1000) —
    * the ONE conversion every real video frame path shares, so the GIF
    * and AVI lumas cannot silently diverge. */
  private def rgbToLuma(px: Array[Int]): Array[Byte] = {
    val gray = new Array[Byte](px.length)
    var k = 0
    while (k < px.length) {
      val p = px(k)
      gray(k) = ((299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
        114 * (p & 0xff)) / 1000).toByte
      k += 1
    }
    gray
  }

  /** LIST-nesting ceiling for the RIFF walk: real AVIs nest 2-3 deep
    * (hdrl/strl, movi/rec ); a payload of LISTs nested thousands deep
    * would otherwise overflow the walk's recursion with an Error no
    * Exception handler sees. */
  val MaxRiffDepth = 32

  /** Size ceiling for a captured vids `strf` (BITMAPINFOHEADER +
    * optional palette): the real maximum is 40 + 4·256 palette entries
    * + vendor extensions — a declared strf beyond this is hostile and
    * is simply not captured (raw-DIB decode then aborts instead of
    * copying an attacker-sized header per frame). */
  val MaxStrfBytes = 65536

  /** Raw-DIB AVI frame → BufferedImage by synthesizing a BMP: 14-byte
    * BITMAPFILEHEADER + the stream's own `strf` (BITMAPINFOHEADER +
    * palette, verbatim — pixel-data offset = 14 + strf length, exactly
    * where a BMP with that header puts it) + the `00db` chunk's raster
    * bytes, routed through [[readImageBounded]] so the strf-declared
    * dimensions face the same refuse-before-allocating ceiling as every
    * other image path and a malformed raster aborts as a caught decode
    * failure, never a throw. The JDK BMP reader then handles the DIB
    * reality our own code would otherwise reimplement: bottom-up vs
    * top-down (negative height) rows, 4-byte row padding, 8-bit
    * palettes, 16/24/32-bit pixels. */
  private def dibToImage(
      strf: Array[Byte], raster: Array[Byte]): java.awt.image.BufferedImage = {
    val offBits = 14L + strf.length
    val fileSize = offBits + raster.length
    if (fileSize > Int.MaxValue) return null
    val bmp = new Array[Byte](fileSize.toInt)
    bmp(0) = 'B'; bmp(1) = 'M'
    var v = fileSize
    var i = 0
    while (i < 4) { bmp(2 + i) = (v & 0xff).toByte; v >>= 8; i += 1 }
    v = offBits
    i = 0
    while (i < 4) { bmp(10 + i) = (v & 0xff).toByte; v >>= 8; i += 1 }
    System.arraycopy(strf, 0, bmp, 14, strf.length)
    System.arraycopy(raster, 0, bmp, 14 + strf.length, raster.length)
    readImageBounded(bmp, MaxGifPixels)
  }

  /** REAL multi-frame decode for a second container format — MJPEG or
    * uncompressed (raw-DIB) video in AVI — with zero external codecs:
    * the RIFF/AVI container walk is pure header arithmetic (chunks are
    * `[fourcc][u32 size LE][data]` padded to even offsets; `LIST`
    * chunks nest), and each `00dc`/`00db` frame chunk is either a
    * standalone JPEG that JDK 17's own ImageIO reader decodes (MJPEG
    * streams) or, when the stream's `strf` BITMAPINFOHEADER declares
    * biCompression BI_RGB, a raw DIB raster that [[dibToImage]] routes
    * through the SAME reader by synthesizing a BMP around the stream
    * header — the two-ingredient recipe of [[decodeGifFrames]] (JDK
    * reader + our container parse), extended to both mainstream AVI
    * stream layouts that need no inter-frame codec. Frame timestamps come from the `vids` stream header's
    * rate/scale pair (`tsMs = idx*1000*scale/rate`, integer-exact),
    * falling back to `avih`'s dwMicroSecPerFrame, then [[NativeFps]].
    *
    * Hostile-input rules, same as every decoder here: chunk sizes are
    * bounds-checked against the payload before any read (a truncated or
    * lying header aborts to None, the stub fallback); the `avih`
    * declared raster and every frame JPEG's OWN header-declared raster
    * are refused beyond [[MaxGifPixels]] BEFORE any pixel allocation
    * (`readImageBounded(frame, MaxGifPixels)` — a hostile frame inside
    * an innocent AVI cannot OOM the executor); a frame chunk that fails
    * to decode as a JPEG aborts to None rather than emitting a partial
    * sequence. `keep(frameIdx, tsMs)` filters BEFORE decode — MJPEG
    * frames are independent (no delta composition), so unlike the GIF
    * path a skipped frame costs nothing but the container walk.
    * Output frames are full-raster 8-bit luma, like the GIF path.
    *
    * The walk honors the RIFF header's own declared size when it lands
    * inside the payload (trailing junk a downloader appended is never
    * parsed as chunks) and falls back to the full payload when it
    * doesn't — a crashed recorder that never backpatched dwSize leaves
    * 0 there, and by-spec demuxers still play such files. It caps LIST
    * nesting at [[MaxRiffDepth]] (a hostile payload of LISTs nested
    * thousands deep would otherwise throw StackOverflowError — an Error
    * no Exception handler sees), refuses hostile `avih` dimensions
    * per-axis BEFORE multiplying (0xFFFFFFFF x 0xFFFFFFFF wraps Long
    * negative and would slip a product guard), and computes timestamps
    * with multiplyExact so absurd u32 rate/scale values abort to None
    * instead of wrapping silently. The video stream's strl ordinal
    * binds which `NNdc`/`NNdb` chunks are frames (two HEX digits per
    * vfw's MAKEAVICKID, though decimal and hex coincide below stream
    * 10) — an AVI muxed with audio as stream 00 and MJPEG video as
    * stream 01 decodes stream 01, not nothing. */
  def decodeAviFrames(
      payload: Array[Byte],
      keep: (Int, Long) => Boolean = (_, _) => true): Option[Vector[VideoFrame]] = {
    if (!looksLikeAvi(payload)) return None
    try {
      var usPerFrame = 0L
      var scale = 0L
      var rate = 0L
      var strlOrdinal = -1 // index of the strl list being walked
      var vidsStream = -1  // strl ordinal of the FIRST vids stream
      var vidsStrf: Array[Byte] = null // that stream's BITMAPINFOHEADER(+palette)
      var vidsCompression = -1L        // its biCompression (0 = BI_RGB raw DIB)
      val frames = Vector.newBuilder[VideoFrame]
      var frameIdx = 0
      def tsOf(idx: Int): Long =
        if (rate > 0 && scale > 0)
          Math.multiplyExact(Math.multiplyExact(idx.toLong, 1000L), scale) / rate
        else if (usPerFrame > 0)
          Math.multiplyExact(idx.toLong, usPerFrame) / 1000L
        else idx * 1000L / NativeFps
      // frame chunks are "NNdc"/"NNdb" where NN is the vids stream's
      // strl ordinal as two HEX digits (vfw MAKEAVICKID; stream 00
      // until a stream header says otherwise). Cached: the walk tests
      // this prefix once per chunk, and it changes at most once.
      var framePrefix: String = "00"

      /** Walk the chunk sequence in payload[from, until); `inStrl` marks
        * a stream-header list so `strh` binds the right stream. Returns
        * false to abort the whole decode (hostile/truncated/undecodable). */
      def walk(from: Int, until: Int, inStrl: Boolean, depth: Int): Boolean = {
        if (depth > MaxRiffDepth) return false
        var pos = from
        while (pos + 8 <= until) {
          val id = fourcc(payload, pos)
          val size = leU32(payload, pos + 4)
          val dataStart = pos + 8
          val dataEnd = dataStart + size
          // a size field pointing past the payload is a truncated or
          // hostile container — refuse rather than read garbage
          if (dataEnd > until) return false
          if (id == "LIST") {
            if (size < 4) return false
            val listType = fourcc(payload, dataStart)
            val isStrl = listType == "strl"
            if (isStrl) strlOrdinal += 1
            if (!walk(dataStart + 4, dataEnd.toInt, isStrl, depth + 1))
              return false
          } else id match {
            case "avih" if size >= 40 =>
              usPerFrame = leU32(payload, dataStart)
              val avihW = leU32(payload, dataStart + 32)
              val avihH = leU32(payload, dataStart + 36)
              // per-axis first: a 0xFFFFFFFF x 0xFFFFFFFF product wraps
              // Long negative and would pass a product-only guard
              if (avihW > MaxGifPixels || avihH > MaxGifPixels ||
                avihW * avihH > MaxGifPixels) return false
            case "strh" if inStrl && size >= 28 =>
              if (fourcc(payload, dataStart) == "vids" && vidsStream < 0) {
                vidsStream = strlOrdinal
                framePrefix = f"${math.max(vidsStream, 0)}%02X"
                scale = leU32(payload, dataStart + 20)
                rate = leU32(payload, dataStart + 24)
              }
            case "strf" if inStrl && strlOrdinal == vidsStream &&
                vidsStrf == null && size >= 40 && size <= MaxStrfBytes =>
              // the vids stream's BITMAPINFOHEADER: biCompression at
              // offset 16 says whether frame chunks are standalone
              // JPEGs (MJPG) or raw DIB rasters (0 = BI_RGB); the
              // header bytes are kept verbatim for [[dibToImage]]
              vidsCompression = leU32(payload, dataStart + 16)
              vidsStrf = java.util.Arrays.copyOfRange(
                payload, dataStart, dataEnd.toInt)
            case f if f.length == 4 && f.startsWith(framePrefix) &&
                (f.endsWith("dc") || f.endsWith("db")) =>
              val ts = tsOf(frameIdx)
              if (keep(frameIdx, ts)) {
                val bytes = java.util.Arrays.copyOfRange(
                  payload, dataStart, dataEnd.toInt)
                // BI_RGB streams carry raw DIB rasters — no magic
                // number to sniff, so the stream header decides the
                // path; everything else (MJPG) is a standalone image
                // the JDK reader takes directly
                val img =
                  if (vidsCompression == 0L && vidsStrf != null)
                    dibToImage(vidsStrf, bytes)
                  else readImageBounded(bytes, MaxGifPixels)
                if (img == null) return false
                val w = img.getWidth
                val h = img.getHeight
                val gray = rgbToLuma(img.getRGB(0, 0, w, h, null, 0, w))
                frames += VideoFrame(frameIdx, ts, w, h, gray)
              }
              frameIdx += 1
            case _ => // ignore idx1, strf, JUNK, audio chunks, ...
          }
          pos = (dataEnd + (size & 1L)).toInt // chunks pad to even
        }
        true
      }

      // the RIFF header's size bounds the body when it lands inside the
      // payload (trailing junk appended after a valid container must
      // not be parsed as chunks); a dwSize of 0 or one lying past the
      // end (a recorder that crashed before backpatching it) falls back
      // to the full payload, like by-spec demuxers that still play
      // unfinalized files
      val declaredEnd = 8L + leU32(payload, 4)
      val riffEnd =
        if (declaredEnd >= 12 && declaredEnd <= payload.length)
          declaredEnd.toInt
        else payload.length
      if (!walk(12, riffEnd, inStrl = false, depth = 0)) return None
      if (frameIdx == 0) return None // an AVI with no video frames
      Some(frames.result())
    } catch { case _: Exception => None }
  }

  private val frameSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("ts_ms", LongType, nullable = false),
    StructField("frame", BinaryType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false)))

  /** Video frame sampling: decode a payload into its frame sequence and
    * keep every stride-th frame to approximate `targetFps` — the
    * cardinality-CHANGING multimodal op (one input row → many frame
    * rows), which is the plumbing that matters at scale: the explosion
    * happens inside mapPartitions on the executors (never through the
    * driver, no intermediate collection of a whole video's frames beyond
    * the one being emitted — the iterator is lazy), downstream
    * partitioning is inherited from the input, and frame rows carry
    * their own (frame_idx, ts_ms) so any later per-frame model stage can
    * shuffle/window them independently of the source video row.
    *
    * Frame decode: MJPEG-in-AVI payloads go through the REAL
    * [[decodeAviFrames]] path (our RIFF container walk + the JDK JPEG
    * reader per frame; ts_ms from the stream header's rate/scale),
    * animated GIFs through the REAL [[decodeGifFrames]] path
    * (JDK-native reader; frame = composed canvas as 8-bit luma, ts_ms
    * from the file's own per-frame delays, resampled to `targetFps` by
    * [[resampleByFps]]); everything else
    * uses the deterministic byte-window stub ([[FrameBytes]] windows at
    * [[NativeFps]] — trailing partial frame included, same convention
    * as chunk dedup), where a real codec would replace ONLY the `slice`
    * call and stride = max(1, NativeFps / targetFps) with integer
    * division so the oracle reproduces it exactly. mean_byte (unsigned)
    * is the per-frame feature in both paths.
    * Output: (doc_id, frame_idx, ts_ms, frame, mean_byte). */
  def sampleFrames(media: DataFrame, targetFps: Int): DataFrame = {
    require(targetFps > 0, s"targetFps must be positive, got $targetFps")
    val spark = media.sparkSession
    val stride = math.max(1, NativeFps / targetFps)
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        def emit(frames: Vector[VideoFrame]) =
          frames.iterator.map { f =>
            var s = 0L
            var k = 0
            while (k < f.gray.length) { s += f.gray(k) & 0xff; k += 1 }
            val mean =
              if (f.gray.length == 0) 0.0 else s.toDouble / f.gray.length
            Row(id, f.frameIdx.toLong, f.tsMs, f.gray, mean)
          }
        // each real decoder gets a FRESH stateful keeper; the magic
        // sniffs are disjoint (RIFF/AVI vs GIF8?a) so at most one of
        // them ever consumes keeper state for a given payload
        decodeAviFrames(payload, fpsKeeper(targetFps)) match {
          case Some(frames) => emit(frames)
          case None => decodeGifFrames(payload, fpsKeeper(targetFps)) match {
          case Some(frames) => emit(frames)
          case None =>
            val nFrames = (payload.length + FrameBytes - 1) / FrameBytes
            (0 until nFrames).iterator
              .filter(_ % stride == 0)
              .map { i =>
                val from = i * FrameBytes
                val until = math.min(from + FrameBytes, payload.length)
                val frame = java.util.Arrays.copyOfRange(payload, from, until)
                var s = 0L
                var k = 0
                while (k < frame.length) { s += frame(k) & 0xff; k += 1 }
                Row(id, i.toLong, i * 1000L / NativeFps, frame,
                  s.toDouble / frame.length)
              }
          }
        }
      }
    }
    spark.createDataFrame(rdd, frameSchema)
  }

  /** Container-format sniff over the payload magic — the dispatch row of
    * the multimodal metadata table. Mirrors the q_mm_video_meta oracle's
    * hex-prefix CASE chain EXACTLY (same prefixes, same precedence, same
    * minimum lengths — an N-byte magic requires only >= N payload bytes,
    * matching SQL substr semantics), so DuckDB replays the column
    * bit-for-bit from hex(payload). */
  def sniffContainer(p: Array[Byte]): String = {
    def at(off: Int, s: String): Boolean =
      p.length >= off + s.length &&
        s.indices.forall(i => p(off + i) == s.charAt(i).toByte)
    if (at(4, "ftyp")) "mp4"
    else if (at(0, "RIFF") && at(8, "AVI ")) "avi"
    else if (at(0, "RIFF") && at(8, "WAVE")) "wav"
    else if (at(0, "GIF87a") || at(0, "GIF89a")) "gif"
    else if (p.length >= 4 && p(0) == 0x89.toByte && at(1, "PNG")) "png"
    else if (p.length >= 2 && p(0) == 0xff.toByte && p(1) == 0xd8.toByte) "jpeg"
    else if (at(0, "BM")) "bmp"
    else if (at(0, "fLaC")) "flac"
    else if (at(0, "OggS")) "ogg"
    // EBML magic — the Matroska/WebM family (SQL mirror: hex prefix
    // 1A45DFA3)
    else if (p.length >= 4 && p(0) == 0x1a.toByte && p(1) == 0x45.toByte &&
      p(2) == 0xdf.toByte && p(3) == 0xa3.toByte) "mkv"
    // MPEG audio: an ID3v2 tag, or a bare frame sync (11 set bits —
    // second byte 0xE0..0xFF; no overlap with jpeg's FF D8, and 0xFF
    // cannot open valid UTF-8 text). The SQL mirror tests the second
    // hex nibble-pair's first char in ('E','F').
    else if (at(0, "ID3")) "mp3"
    // ADTS (raw AAC): frame sync with LAYER BITS 00 — second byte
    // F0/F1/F8/F9. MPEG-audio (MP3) frames always have nonzero layer
    // bits, so this carve-out precedes (and cannot overlap) the bare
    // MP3 sync rule below. The SQL mirror tests the same four pairs.
    else if (p.length >= 2 && p(0) == 0xff.toByte && (p(1) & 0xf6) == 0xf0) "aac"
    else if (p.length >= 2 && p(0) == 0xff.toByte && (p(1) & 0xe0) == 0xe0) "mp3"
    else "none"
  }

  /** Box-nesting ceiling for the ISO BMFF walk, the [[MaxRiffDepth]]
    * rule applied to MP4/MOV: real files nest moov/trak/mdia a handful
    * deep; a payload of boxes nested thousands deep would otherwise
    * overflow the walk's recursion with an Error no Exception handler
    * sees. */
  val MaxBoxDepth = 32

  /** Parsed MP4/MOV header metadata: presentation duration in ms (from
    * `mvhd` timescale/duration, integer-exact), number of `trak` boxes,
    * the largest track's declared display dimensions (from `tkhd`'s
    * 16.16 fixed-point width/height — audio tracks declare 0x0, so the
    * max picks the video track), and the sample-table totals (from
    * `stbl`'s `stts`/`stsz` leaves): declared sample (frame) count and
    * total sample bytes summed across tracks, plus the chunk layout
    * (from `stsc`/`stco`/`co64`): total declared chunk count and the
    * span of declared chunk offsets (max − min — a lower bound on the
    * media-data extent, since the last chunk's bytes lie past its
    * offset). `codecs` lists the distinct sample-description fourccs
    * (`stsd` entries — avc1/hev1/mp4a/... — the codec IDENTITY, which
    * is the routing fact a decode stage needs, readable with zero codec
    * knowledge) in file order. `nSamples`/`sampleBytes`/`nChunks`/
    * `chunkSpanBytes` are -1 (and `codecs` empty) when the file carries
    * no such table at all (header-only fragments) — callers surface
    * that as NULL, never as 0. */
  final case class Mp4Meta(
      durationMs: Long, nTracks: Int, width: Int, height: Int,
      nSamples: Long, sampleBytes: Long,
      nChunks: Long = -1L, chunkSpanBytes: Long = -1L,
      codecs: Seq[String] = Nil, codecParams: Seq[String] = Nil)

  /** Big-endian u32 at `off` (ISO BMFF sizes/fields), as Long — a
    * hostile size field can exceed Int.MaxValue and must not wrap
    * negative. */
  private def beU32(p: Array[Byte], off: Int): Long =
    ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
      ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)

  /** Big-endian u64 at `off`; -1 when the value overflows a signed Long
    * (a by-construction-hostile largesize — no real file is 8 EiB). */
  private def beU64(p: Array[Byte], off: Int): Long = {
    val hi = beU32(p, off)
    if (hi > Int.MaxValue) -1L
    else (hi << 32) | beU32(p, off + 4)
  }

  /** REAL video METADATA from MP4/MOV containers — pure header
    * arithmetic like the RIFF walk, zero codecs: ISO BMFF boxes are
    * `[u32 size BE][4cc type]` (size 1 → a u64 largesize follows; size
    * 0 → box extends to the end of its parent), containers nest, and
    * the facts live in two leaves: `moov/mvhd` carries
    * timescale+duration (version 0: u32s; version 1: u64 duration) and
    * each `moov/trak/tkhd` carries the track's display width/height as
    * 16.16 fixed point (version decides the offset). durationMs is
    * computed with multiplyExact so absurd u32/u64 values abort to None
    * instead of wrapping silently; a zero/missing timescale or a
    * missing mvhd aborts (every real file has one).
    *
    * Sample-table stats extend the same walk one level deeper
    * (`trak/mdia/minf/stbl`): `stts` entries are `[u32 sample_count]
    * [u32 sample_delta]` pairs whose counts sum to the track's declared
    * frame total, and `stsz` carries either a constant `sample_size`
    * (bytes = size × count, multiplyExact) or one u32 per sample which
    * the walk sums — both pure header arithmetic over boxes that are
    * kilobytes even for hour-long movies. Every entry count is
    * bounds-checked against its box BEFORE the loop (a hostile
    * entry_count of 2^32-1 over a 16-byte box aborts, it does not scan
    * the payload), and all accumulation is addExact/multiplyExact so
    * absurd declared values abort to None instead of wrapping.
    *
    * Hostile-input rules, same as [[decodeAviFrames]]: every size field
    * is bounds-checked against its parent before any read (lying or
    * truncated headers abort to None), nesting is capped at
    * [[MaxBoxDepth]] (a box-bomb would otherwise StackOverflowError —
    * an Error no Exception handler sees), and a u64 largesize past
    * Long.MaxValue is refused rather than wrapped. The walk recurses
    * ONLY into the metadata chain `moov` / `trak` / `mdia` / `minf` /
    * `stbl` — media-data boxes (`mdat` can be gigabytes) are skipped
    * by size without being read. */
  def decodeMp4Meta(payload: Array[Byte]): Option[Mp4Meta] = {
    if (sniffContainer(payload) != "mp4") return None
    try {
      var timescale = 0L
      var duration = -1L
      var nTracks = 0
      var width = 0
      var height = 0
      var sawMvhd = false
      var sawMoov = false
      var nSamples = -1L
      var sampleBytes = -1L
      var nChunks = -1L
      var chunkOffMin = Long.MaxValue
      var chunkOffMax = -1L
      var chunkOffsetsBeyondPayload = false
      val codecs = scala.collection.mutable.LinkedHashSet.empty[String]
      val codecParams = scala.collection.mutable.LinkedHashSet.empty[String]
      // decoder CONFIG one box deeper than the fourcc (r19 item 4,
      // public ISO 14496-15 / 14496-1): avcC inside an avc1/avc3 visual
      // entry carries profile / level / NAL length size; esds inside an
      // mp4a audio entry carries the objectTypeIndication and — for AAC
      // — the AudioSpecificConfig's object type, sampling rate and
      // channel configuration. Pure header arithmetic, zero codecs;
      // a present-but-lying config refuses the walk (the stsd rule),
      // an ABSENT config just surfaces no parameters.
      def parseAvcC(cc: String, ds: Int, len: Long): Boolean = {
        // AVCDecoderConfigurationRecord: version(1)=1, profile(1),
        // compat(1), level(1), 6 reserved bits + lengthSizeMinusOne(2)
        if (len < 5) return false
        if ((payload(ds) & 0xff) != 1) return false
        val profile = payload(ds + 1) & 0xff
        val level = payload(ds + 3) & 0xff
        val nal = (payload(ds + 4) & 3) + 1
        codecParams += s"$cc:profile=$profile;level=$level;nal=$nal"
        true
      }
      // AAC sampling rates by samplingFrequencyIndex (ISO 14496-3
      // table 1.18); 13/14 reserved, 15 = explicit 24-bit rate follows
      val aacRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
        24000, 22050, 16000, 12000, 11025, 8000, 7350)
      def parseHvcC(cc: String, ds: Int, len: Long): Boolean = {
        // HEVCDecoderConfigurationRecord (ISO 14496-15): version(1)=1,
        // then profile_space(2)/tier(1)/profile_idc(5) in byte 1,
        // 4 compat-flag bytes, 6 constraint bytes, level_idc in byte 12,
        // lengthSizeMinusOne in the low 2 bits of byte 21
        if (len < 22) return false
        if ((payload(ds) & 0xff) != 1) return false
        val b1 = payload(ds + 1) & 0xff
        val tier = (b1 >> 5) & 1
        val profile = b1 & 0x1f
        val level = payload(ds + 12) & 0xff
        val nal = (payload(ds + 21) & 3) + 1
        codecParams += s"$cc:profile=$profile;tier=$tier;level=$level;nal=$nal"
        true
      }
      def parseEsds(ds: Int, len: Long): Boolean = {
        // fullbox v0, then an MPEG-4 descriptor stream. Expandable
        // lengths are 1-4 bytes, high bit = continuation; every
        // descriptor's declared extent is bounds-checked against the
        // box before its fields are read.
        if (len < 4 || (payload(ds) & 0xff) != 0) return false
        val end = ds + len
        var p = ds + 4L
        def u8(): Int = { val v = payload(p.toInt) & 0xff; p += 1; v }
        def expLen(): Long = {
          var v = 0L
          var i = 0
          while (i < 4) {
            if (p >= end) return -1L
            val b = u8()
            v = (v << 7) | (b & 0x7f)
            if ((b & 0x80) == 0) return v
            i += 1
          }
          -1L // a 5th continuation byte is not a legal expandable length
        }
        // ES_Descriptor (tag 0x03): ES_ID(2) + flags(1) + optionals
        if (p >= end || u8() != 0x03) return false
        if (expLen() < 0) return false
        if (p + 3 > end) return false
        p += 2
        val esFlags = u8()
        if ((esFlags & 0x80) != 0) { if (p + 2 > end) return false; p += 2 }
        if ((esFlags & 0x40) != 0) {
          if (p >= end) return false
          val urlLen = u8(); if (p + urlLen > end) return false; p += urlLen
        }
        if ((esFlags & 0x20) != 0) { if (p + 2 > end) return false; p += 2 }
        // DecoderConfigDescriptor (tag 0x04): OTI(1), streamType(1),
        // bufferSizeDB(3), maxBitrate(4), avgBitrate(4)
        if (p >= end || u8() != 0x04) return false
        val dcLen = expLen()
        if (dcLen < 13 || p + dcLen > end) return false
        val dcEnd = p + dcLen
        val oti = u8()
        p += 12
        // DecoderSpecificInfo (tag 0x05): for AAC (OTI 0x40 / 0x66-68)
        // the AudioSpecificConfig: 5-bit audioObjectType (31 = escape,
        // +6 bits), 4-bit samplingFrequencyIndex (15 = explicit 24-bit
        // rate), 4-bit channelConfiguration
        val isAac = oti == 0x40 || (oti >= 0x66 && oti <= 0x68)
        if (isAac && p < dcEnd && (payload(p.toInt) & 0xff) == 0x05) {
          p += 1
          val dsLen = expLen()
          if (dsLen < 2 || p + dsLen > dcEnd) return false
          var bitPos = 0
          def bits(n: Int): Int = {
            // reads within the first 5 bytes of the config — enough for
            // aot(5|11) + freq(4|28) + chan(4); callers bounds-check
            var v = 0
            var i = 0
            while (i < n) {
              val byteI = (bitPos + i) / 8
              if (p + byteI >= p + dsLen || p + byteI >= dcEnd) return -1
              val bit = (payload((p + byteI).toInt) >> (7 - (bitPos + i) % 8)) & 1
              v = (v << 1) | bit
              i += 1
            }
            bitPos += n
            v
          }
          var aot = bits(5)
          if (aot == 31) { val ext = bits(6); if (ext < 0) return false; aot = 32 + ext }
          if (aot < 0) return false
          val freqIdx = bits(4)
          if (freqIdx < 0) return false
          val rate =
            if (freqIdx == 15) { val r = bits(24); if (r < 0) return false; r }
            else if (freqIdx < aacRates.length) aacRates(freqIdx)
            else return false // 13/14 reserved = lying config
          val ch = bits(4)
          if (ch < 0) return false
          codecParams += s"mp4a:oti=$oti;aot=$aot;rate=$rate;ch=$ch"
        } else codecParams += s"mp4a:oti=$oti"
        true
      }
      // child boxes of a sample entry start after the entry's fixed
      // body: 78 bytes for a VisualSampleEntry, 28 for a v0
      // AudioSampleEntry (+16 for QuickTime v1; v2 layouts are left
      // unparsed — absent params, not a refusal)
      def entryChildren(cc: String, entOff: Long, entEnd: Long): Boolean = {
        val bodyOff: Long = cc match {
          case "avc1" | "avc3" | "hev1" | "hvc1" => 86L
          case "mp4a" =>
            if (entOff + 18 > entEnd) return true
            val ver = ((payload((entOff + 16).toInt) & 0xff) << 8) |
              (payload((entOff + 17).toInt) & 0xff)
            if (ver == 0) 36L else if (ver == 1) 52L else return true
          case _ => return true
        }
        var p = entOff + bodyOff
        if (p > entEnd) return true // fixed body truncated: no children
        while (p + 8 <= entEnd) {
          val sz = beU32(payload, p.toInt)
          if (sz < 8 || sz > entEnd - p) return false
          val typ4 = fourcc(payload, p.toInt + 4)
          if (typ4 == "avcC" && (cc == "avc1" || cc == "avc3")) {
            if (!parseAvcC(cc, p.toInt + 8, sz - 8)) return false
          } else if (typ4 == "hvcC" && (cc == "hev1" || cc == "hvc1")) {
            if (!parseHvcC(cc, p.toInt + 8, sz - 8)) return false
          } else if (typ4 == "esds" && cc == "mp4a") {
            if (!parseEsds(p.toInt + 8, sz - 8)) return false
          }
          p += sz
        }
        true
      }
      // leaves bind to their spec parent (mvhd under moov, tkhd under
      // trak, trak under moov), not to bare depth: a hostile file can
      // nest a second mvhd inside a trak, and a depth-only match would
      // let it overwrite the real movie header's timescale/duration
      def walk(from: Long, until: Long, depth: Int, parent: String): Boolean = {
        if (depth > MaxBoxDepth) return false
        var pos = from
        while (pos + 8 <= until) {
          var size = beU32(payload, pos.toInt)
          val typ = fourcc(payload, pos.toInt + 4)
          var hdr = 8L
          if (size == 1L) {
            if (pos + 16 > until) return false
            size = beU64(payload, pos.toInt + 8)
            hdr = 16L
          } else if (size == 0L) size = until - pos
          if (size < hdr || size > until - pos) return false
          val ds = (pos + hdr).toInt // data start
          val dataLen = size - hdr
          typ match {
            case "moov" if parent == "" =>
              // ONE movie box per file (ISO 14496-12 §8.2.1): walking a
              // second top-level moov would let a hostile duplicate
              // overwrite the first's timescale/duration and double-count
              // its traks — same rule as the nested-mvhd binding, so
              // later moov boxes are skipped like any unknown box
              if (!sawMoov) {
                sawMoov = true
                if (!walk(pos + hdr, pos + size, depth + 1, "moov")) return false
              }
            case "trak" if parent == "moov" =>
              nTracks += 1
              if (!walk(pos + hdr, pos + size, depth + 1, "trak")) return false
            // the sample-table spine: exactly the spec nesting, nothing
            // else — an stts smuggled outside trak/mdia/minf/stbl is
            // skipped like any unknown box (same parent-binding rule
            // that blocks the nested-mvhd overwrite)
            case "mdia" if parent == "trak" =>
              if (!walk(pos + hdr, pos + size, depth + 1, "mdia")) return false
            case "minf" if parent == "mdia" =>
              if (!walk(pos + hdr, pos + size, depth + 1, "minf")) return false
            case "stbl" if parent == "minf" =>
              if (!walk(pos + hdr, pos + size, depth + 1, "stbl")) return false
            case "stts" if parent == "stbl" =>
              // fullbox (version 0 only per spec) + u32 entry_count +
              // entry_count × (u32 sample_count, u32 sample_delta)
              if (dataLen < 8 || (payload(ds) & 0xff) != 0) return false
              val entries = beU32(payload, ds + 4)
              if (entries > (dataLen - 8) / 8) return false
              var acc = 0L
              var i = 0L
              while (i < entries) {
                acc = Math.addExact(acc, beU32(payload, (ds + 8 + i * 8).toInt))
                i += 1
              }
              nSamples = Math.addExact(if (nSamples < 0) 0L else nSamples, acc)
            case "stsz" if parent == "stbl" =>
              // fullbox + u32 sample_size + u32 sample_count, then one
              // u32 per sample only when sample_size == 0 (variable)
              if (dataLen < 12 || (payload(ds) & 0xff) != 0) return false
              val fixed = beU32(payload, ds + 4)
              val count = beU32(payload, ds + 8)
              val acc =
                if (fixed != 0L) Math.multiplyExact(fixed, count)
                else {
                  if (count > (dataLen - 12) / 4) return false
                  var a = 0L
                  var i = 0L
                  while (i < count) {
                    a = Math.addExact(a, beU32(payload, (ds + 12 + i * 4).toInt))
                    i += 1
                  }
                  a
                }
              sampleBytes = Math.addExact(
                if (sampleBytes < 0) 0L else sampleBytes, acc)
            case "stsd" if parent == "stbl" =>
              // fullbox v0 + u32 entry_count + sample-description
              // entries of (u32 size, 4cc codec format, ...). The
              // fourcc IS the codec identity (avc1/hev1/mp4a/...) — the
              // routing fact a decode stage needs, readable with zero
              // codec knowledge. Entry sizes are validated against the
              // box while walking; a fourcc with non-printable bytes is
              // a lying table, refused like any hostile header
              if (dataLen < 8 || (payload(ds) & 0xff) != 0) return false
              val entries = beU32(payload, ds + 4)
              if (entries > (dataLen - 8) / 8) return false
              var p = ds + 8L
              val boxEnd = ds + dataLen
              var i = 0L
              while (i < entries) {
                if (p + 8 > boxEnd) return false
                val esz = beU32(payload, p.toInt)
                if (esz < 8 || esz > boxEnd - p) return false
                val cc = fourcc(payload, p.toInt + 4)
                if (!cc.forall(c => c >= 0x20 && c <= 0x7e)) return false
                codecs += cc
                if (!entryChildren(cc, p, p + esz)) return false
                p += esz
                i += 1
              }
            case "stsc" if parent == "stbl" =>
              // fullbox v0 + u32 entry_count + entry_count × (u32
              // first_chunk, u32 samples_per_chunk, u32 sdi). Carries no
              // totals of its own (chunk counts come from stco/co64) but
              // its spec invariant — first_chunk strictly increasing,
              // starting >= 1 — is validated so a lying chunk map
              // refuses instead of silently coexisting with real stats
              if (dataLen < 8 || (payload(ds) & 0xff) != 0) return false
              val entries = beU32(payload, ds + 4)
              if (entries > (dataLen - 8) / 12) return false
              var prev = 0L
              var i = 0L
              while (i < entries) {
                val fc = beU32(payload, (ds + 8 + i * 12).toInt)
                if (fc <= prev) return false
                prev = fc
                i += 1
              }
            case "stco" | "co64" if parent == "stbl" =>
              // fullbox v0 + u32 entry_count + one u32 (stco) or u64
              // (co64) chunk offset per entry. Offsets index the FULL
              // file, which this payload may only be a prefix of — a
              // moov-first metadata fetch legitimately carries offsets
              // into an mdat that was never downloaded. A negative
              // offset (u64 wrap) is a lie in ANY file and refuses; an
              // offset past end-of-payload instead degrades the
              // chunk-layout stats to unknown (-1) while the walk — and
              // every duration/track/sample fact — continues (r19
              // ADVICE: refusing here regressed metadata-only payloads
              // that parsed fully in round 18)
              val wide = typ == "co64"
              val entSz = if (wide) 8 else 4
              if (dataLen < 8 || (payload(ds) & 0xff) != 0) return false
              val entries = beU32(payload, ds + 4)
              if (entries > (dataLen - 8) / entSz) return false
              var i = 0L
              while (i < entries) {
                val off =
                  if (wide) beU64(payload, (ds + 8 + i * 8).toInt)
                  else beU32(payload, (ds + 8 + i * 4).toInt)
                if (off < 0) return false
                if (off >= payload.length) chunkOffsetsBeyondPayload = true
                else {
                  if (off < chunkOffMin) chunkOffMin = off
                  if (off > chunkOffMax) chunkOffMax = off
                }
                i += 1
              }
              nChunks = Math.addExact(
                if (nChunks < 0) 0L else nChunks, entries)
            case "mvhd" if parent == "moov" =>
              if (dataLen < 4) return false
              val version = payload(ds) & 0xff
              if (version == 0 && dataLen >= 20) {
                timescale = beU32(payload, ds + 12)
                duration = beU32(payload, ds + 16)
                sawMvhd = true
              } else if (version == 1 && dataLen >= 32) {
                timescale = beU32(payload, ds + 20)
                duration = beU64(payload, ds + 24)
                if (duration < 0) return false
                sawMvhd = true
              } else return false
            case "tkhd" if parent == "trak" =>
              if (dataLen < 4) return false
              val version = payload(ds) & 0xff
              // width/height close the box: fullbox header + times/ids
              // (v0: 24, v1: 36 bytes — creation/modification/duration
              // widen to u64) + reserved/layer/volume/matrix (52 bytes)
              // → 16.16 fixed at 76/80 (v0) or 88/92 (v1)
              val wOff = if (version == 0) 76 else if (version == 1) 88 else -1
              if (wOff < 0 || dataLen < wOff + 8) return false
              val tw = (beU32(payload, ds + wOff) >> 16).toInt
              val th = (beU32(payload, ds + wOff + 4) >> 16).toInt
              if (tw > width) width = tw
              if (th > height) height = th
            case _ => // ftyp, mdat, free, udta, nested-moov bombs, ...
          }
          pos += size
        }
        true
      }
      if (!walk(0, payload.length.toLong, 0, "")) return None
      if (!sawMvhd || timescale <= 0) return None
      val durMs = Math.multiplyExact(duration, 1000L) / timescale
      // any offset beyond the payload means the chunk layout describes
      // bytes we do not have — both layout stats degrade to unknown
      // rather than reporting a count whose span would be a fiction
      val layoutKnown = nChunks > 0 && !chunkOffsetsBeyondPayload
      val span = if (layoutKnown) chunkOffMax - chunkOffMin else -1L
      Some(Mp4Meta(durMs, nTracks, width, height, nSamples, sampleBytes,
        if (chunkOffsetsBeyondPayload) -1L else nChunks, span,
        codecs.toSeq, codecParams.toSeq))
    } catch { case _: Exception => None }
  }

  /** Parsed Matroska/WebM header facts: presentation duration in ms
    * (Info.Duration × Info.TimestampScale, ns → ms; -1 when the file
    * declares no Duration — live captures legitimately omit it), track
    * count, the largest video track's pixel dimensions (0×0 when no
    * Video element appears — audio-only files), the distinct CodecID
    * strings in file order, and the EBML DocType. Duration is the ONE
    * float in any walk here — the spec makes it an EBML float — so the
    * ms value is the floor of exact double arithmetic on two declared
    * numbers, not an accumulation. */
  final case class MkvMeta(
      durationMs: Long, nTracks: Int, width: Int, height: Int,
      codecs: Seq[String], docType: String)

  /** REAL video metadata from Matroska/WebM containers — the EBML walk
    * (public RFC 8794 + the Matroska spec), completing the mainstream
    * container family next to RIFF / ISO BMFF / MPEG frames / Ogg
    * pages: every element is (vint id, vint size, payload), the walk
    * descends ONLY into Segment / Info / Tracks / TrackEntry / Video
    * and skips everything else — including Cluster, the media data —
    * by declared size, zero codec work. Facts read: Info's
    * TimestampScale (ns per tick, default 1e6) and Duration (float,
    * ticks), one TrackEntry count, each entry's CodecID string, and
    * Video's PixelWidth/PixelHeight.
    *
    * Hostile-input rules, same as every walk here: a vint whose first
    * byte is 0 (longer than 8 bytes), an element size lying past its
    * parent, an unknown size (all value bits set) anywhere but the
    * Segment (where the spec allows it for streaming — clamped to
    * end-of-payload), a DocType other than matroska/webm, a zero
    * TimestampScale, a non-finite or negative Duration, an oversized
    * (>8 byte) integer/float field, and nesting past [[MaxBoxDepth]]
    * all abort to None without a throw. Every element advances the
    * cursor by its full header+payload extent (>= 2 bytes), so the
    * walk terminates. */
  def decodeMkvMeta(payload: Array[Byte]): Option[MkvMeta] = {
    if (sniffContainer(payload) != "mkv") return None
    try {
      // vint reader: returns (value, bytesConsumed); marker stripped
      // for sizes, kept for IDs (Matroska class-IDs are conventionally
      // the full marked bytes). -1 length = invalid.
      def vintLen(b: Int): Int = {
        var mask = 0x80
        var n = 1
        while (mask != 0 && (b & mask) == 0) { mask >>= 1; n += 1 }
        if (mask == 0) -1 else n
      }
      def readId(pos: Int): (Long, Int) = {
        if (pos >= payload.length) return (-1L, -1)
        val b0 = payload(pos) & 0xff
        val n = vintLen(b0)
        if (n < 1 || n > 4 || pos + n > payload.length) return (-1L, -1)
        var v = b0.toLong
        var i = 1
        while (i < n) { v = (v << 8) | (payload(pos + i) & 0xffL); i += 1 }
        (v, n)
      }
      // size: marker stripped; returns (-2) for the all-ones "unknown"
      def readSize(pos: Int): (Long, Int) = {
        if (pos >= payload.length) return (-1L, -1)
        val b0 = payload(pos) & 0xff
        val n = vintLen(b0)
        if (n < 1 || n > 8 || pos + n > payload.length) return (-1L, -1)
        var v = (b0 & (0xff >> n)).toLong
        var allOnes = (b0 & (0xff >> n)) == (0xff >> n)
        var i = 1
        while (i < n) {
          val b = payload(pos + i) & 0xff
          if (b != 0xff) allOnes = false
          v = (v << 8) | b
          i += 1
        }
        if (allOnes) (-2L, n) else (v, n)
      }
      def readUint(ds: Int, len: Long): Long = {
        if (len < 0 || len > 8) return -1L
        var v = 0L
        var i = 0
        while (i < len) { v = (v << 8) | (payload(ds + i) & 0xffL); i += 1 }
        v
      }
      def readFloat(ds: Int, len: Long): Double =
        if (len == 4) {
          var v = 0L
          var i = 0
          while (i < 4) { v = (v << 8) | (payload(ds + i) & 0xffL); i += 1 }
          java.lang.Float.intBitsToFloat(v.toInt).toDouble
        }
        else if (len == 8) {
          var v = 0L
          var i = 0
          while (i < 8) { v = (v << 8) | (payload(ds + i) & 0xffL); i += 1 }
          java.lang.Double.longBitsToDouble(v)
        }
        else if (len == 0) 0.0
        else Double.NaN

      var timestampScale = 1000000L // spec default: 1 ms per tick
      var durationTicks = -1.0
      var sawDuration = false
      var nTracks = 0
      var width = 0
      var height = 0
      var docType: String = null
      val codecs = scala.collection.mutable.LinkedHashSet.empty[String]

      // ids: EBML 0x1A45DFA3, DocType 0x4282, Segment 0x18538067,
      // Info 0x1549A966, TimestampScale 0x2AD7B1, Duration 0x4489,
      // Tracks 0x1654AE6B, TrackEntry 0xAE, CodecID 0x86, Video 0xE0,
      // PixelWidth 0xB0, PixelHeight 0xBA
      def walk(from: Long, until: Long, depth: Int, parent: Long): Boolean = {
        if (depth > MaxBoxDepth) return false
        var pos = from
        while (pos + 2 <= until) {
          val (id, idLen) = readId(pos.toInt)
          if (idLen < 0) return false
          val (sz0, szLen) = readSize((pos + idLen).toInt)
          if (szLen < 0) return false
          val ds = pos + idLen + szLen
          // unknown size: legal ONLY for the Segment (streaming
          // captures) — it extends to end-of-payload
          val sz =
            if (sz0 == -2L) {
              if (id != 0x18538067L) return false
              until - ds
            } else sz0
          if (sz < 0 || ds + sz > until) return false
          id match {
            case 0x18538067L if parent == 0L => // Segment
              if (!walk(ds, ds + sz, depth + 1, id)) return false
            case 0x1549A966L if parent == 0x18538067L => // Info
              if (!walk(ds, ds + sz, depth + 1, id)) return false
            case 0x1654AE6BL if parent == 0x18538067L => // Tracks
              if (!walk(ds, ds + sz, depth + 1, id)) return false
            case 0xAEL if parent == 0x1654AE6BL => // TrackEntry
              nTracks += 1
              if (!walk(ds, ds + sz, depth + 1, id)) return false
            case 0xE0L if parent == 0xAEL => // Video
              if (!walk(ds, ds + sz, depth + 1, id)) return false
            case 0x4282L if parent == 0x1A45DFA3L => // DocType
              docType = new String(payload, ds.toInt, sz.toInt, "ISO-8859-1")
            case 0x2AD7B1L if parent == 0x1549A966L => // TimestampScale
              timestampScale = readUint(ds.toInt, sz)
              if (timestampScale <= 0) return false
            case 0x4489L if parent == 0x1549A966L => // Duration (float)
              durationTicks = readFloat(ds.toInt, sz)
              if (java.lang.Double.isNaN(durationTicks) ||
                java.lang.Double.isInfinite(durationTicks) ||
                durationTicks < 0) return false
              sawDuration = true
            case 0x86L if parent == 0xAEL => // CodecID
              val cid = new String(payload, ds.toInt, sz.toInt, "ISO-8859-1")
              if (!cid.forall(c => c >= 0x20 && c <= 0x7e)) return false
              codecs += cid
            case 0xB0L if parent == 0xE0L => // PixelWidth
              val w = readUint(ds.toInt, sz)
              if (w < 0 || w > Int.MaxValue) return false
              if (w > width) width = w.toInt
            case 0xBAL if parent == 0xE0L => // PixelHeight
              val h = readUint(ds.toInt, sz)
              if (h < 0 || h > Int.MaxValue) return false
              if (h > height) height = h.toInt
            case 0x1A45DFA3L if parent == 0L => // EBML header
              if (!walk(ds, ds + sz, depth + 1, id)) return false
            case _ => () // skipped by size (Cluster, Cues, Void, ...)
          }
          pos = ds + sz
        }
        true
      }
      if (!walk(0, payload.length.toLong, 0, 0L)) return None
      if (docType == null || (docType != "matroska" && docType != "webm"))
        return None
      val durMs =
        if (!sawDuration) -1L
        else (durationTicks * timestampScale / 1e6).toLong
      Some(MkvMeta(durMs, nTracks, width, height, codecs.toSeq,
        docType))
    } catch { case _: Exception => None }
  }

  /** Parsed MPEG-audio (MP3) stream metadata from a frame-header walk:
    * frame count, the stream's constant sample rate, integer-exact
    * duration in ms (total samples × 1000 / rate), mean bitrate in bps
    * (total frame bits × rate / total samples — exact integer
    * arithmetic, no float), and whether the declared per-frame bitrate
    * varies (VBR). All audio-frame figures EXCLUDE a recognized
    * Xing/Info metadata frame; `xingFrames` carries that header's
    * declared frame count (-1 when absent), validated against the walk. */
  final case class Mp3Meta(
      nFrames: Long, sampleRate: Int, durationMs: Long,
      bitrateBps: Long, vbr: Boolean, xingFrames: Long = -1L)

  // MPEG audio bitrate tables, kbps, indexed 1..14 (index 0 = "free"
  // format whose frames cannot be sized from the header alone — refused;
  // index 15 is invalid per spec). Public constants from ISO 11172-3 /
  // 13818-3, same tables every decoder ships.
  private val Mp3BitrateKbps: Map[(Int, Int), Array[Int]] = {
    val v1l1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
    val v1l2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
    val v1l3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val v2l1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
    val v2l23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
    // keys: (versionBits, layer) with layer 1/2/3; MPEG2 (2) and
    // MPEG2.5 (0) share tables
    Map((3, 1) -> v1l1, (3, 2) -> v1l2, (3, 3) -> v1l3,
      (2, 1) -> v2l1, (2, 2) -> v2l23, (2, 3) -> v2l23,
      (0, 1) -> v2l1, (0, 2) -> v2l23, (0, 3) -> v2l23)
  }

  private val Mp3SampleRate: Map[Int, Array[Int]] = Map(
    3 -> Array(44100, 48000, 32000), // MPEG1
    2 -> Array(22050, 24000, 16000), // MPEG2
    0 -> Array(11025, 12000, 8000)) // MPEG2.5

  /** REAL audio METADATA from MPEG-audio (MP3) streams — a frame-header
    * walk, zero decode: each frame opens with a 4-byte header (11 sync
    * bits, version, layer, bitrate index, sample-rate index, padding
    * bit) that fully determines the frame's byte length and sample
    * count, so duration and mean bitrate are pure header arithmetic
    * over the whole stream, exactly like the ISO BMFF walk
    * ([[decodeMp4Meta]]). A leading ID3v2 tag is skipped by its
    * synchsafe declared size; a trailing 128-byte ID3v1 `TAG` block is
    * tolerated at exactly end-of-stream.
    *
    * Hostile-input rules, same as every walk here: reserved
    * version/layer bits, bitrate index 0 ("free" — unsizable) or 15,
    * reserved sample-rate index, a frame length past end-of-payload, a
    * mid-stream sample-rate / version / layer change (real streams are
    * constant in all three), and non-synchsafe ID3 sizes all
    * abort to None without a throw; a trailing fragment smaller than
    * one header (4 bytes) is ignored, the RIFF-walk lenience. All
    * accumulation is exact integer math. */
  def decodeMp3Meta(payload: Array[Byte]): Option[Mp3Meta] = {
    if (sniffContainer(payload) != "mp3") return None
    try {
      var pos = 0
      // ID3v2: "ID3" + 2 version bytes + flags + 4 synchsafe size bytes
      if (payload.length >= 10 && payload(0) == 'I' && payload(1) == 'D' &&
          payload(2) == '3') {
        var size = 0L
        var i = 0
        while (i < 4) {
          val b = payload(6 + i) & 0xff
          if (b >= 0x80) return None // synchsafe bytes keep the top bit clear
          size = (size << 7) | b
          i += 1
        }
        val footer = if ((payload(5) & 0x10) != 0) 10 else 0
        val skip = 10L + size + footer
        if (skip > payload.length) return None
        pos = skip.toInt
      }
      var nFrames = 0L
      var sampleRate = 0
      var firstVerLayer = -1
      var totalSamples = 0L
      var totalBytes = 0L
      var firstKbps = -1
      var vbr = false
      var sawFrame = false // first PHYSICAL frame may be a Xing header
      var xingIsVbr = false
      var xingFrames = -1L
      while (pos + 4 <= payload.length) {
        // exactly-placed trailing ID3v1 tag: 128 bytes of "TAG"
        if (payload.length - pos == 128 && payload(pos) == 'T' &&
            payload(pos + 1) == 'A' && payload(pos + 2) == 'G' &&
            nFrames > 0) {
          pos = payload.length
        } else {
          val b1 = payload(pos) & 0xff
          val b2 = payload(pos + 1) & 0xff
          val b3 = payload(pos + 2) & 0xff
          if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
          val verBits = (b2 >> 3) & 3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
          val layerBits = (b2 >> 1) & 3 // 1=Layer III, 2=II, 3=I, 0=reserved
          if (verBits == 1 || layerBits == 0) return None
          val layer = 4 - layerBits // 1/2/3
          val brIdx = (b3 >> 4) & 0xf
          val srIdx = (b3 >> 2) & 3
          if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
          val kbps = Mp3BitrateKbps((verBits, layer))(brIdx)
          val sr = Mp3SampleRate(verBits)(srIdx)
          // real streams are constant in rate, version AND layer: a
          // crafted stream mixing layers would otherwise parse with a
          // misleading vbr flag (kbps-only comparison), so refuse all
          // three mid-stream changes uniformly
          if (sampleRate == 0) { sampleRate = sr; firstVerLayer = (verBits << 2) | layer }
          else if (sr != sampleRate || ((verBits << 2) | layer) != firstVerLayer)
            return None
          val padding = (b3 >> 1) & 1
          // samples per frame: Layer I 384; Layer II 1152; Layer III
          // 1152 (MPEG1) / 576 (MPEG2/2.5)
          val spf =
            if (layer == 1) 384
            else if (layer == 2) 1152
            else if (verBits == 3) 1152 else 576
          // frame length, floor division per spec: Layer I counts in
          // 4-byte slots, II/III in bytes (spf/8 × bps / rate)
          val frameLen =
            if (layer == 1) (12 * kbps * 1000 / sr + padding) * 4
            else spf / 8 * kbps * 1000 / sr + padding
          if (frameLen < 4 || pos + frameLen > payload.length) return None
          // Xing/Info VBR header (public LAME/Fraunhofer layout): a
          // Layer-III FIRST frame may carry a metadata block right after
          // the side info — tag 'Xing' (VBR) or 'Info' (CBR), 4 BE flag
          // bytes, then optional BE u32 frame count (flag 1), u32 byte
          // count (2), 100-byte TOC (4), u32 quality (8). Such a frame
          // holds no audio, so it is EXCLUDED from the frame/sample/byte
          // accounting (duration and mean bitrate stay exact over the
          // audio frames), its declared frame count must match the
          // walked audio-frame count (a truncated or lying VBR stream is
          // refused, the constant-rate rule), and 'Xing' marks the
          // stream VBR even when the frames the walk sees happen to
          // share one bitrate index. Declared fields are bounds-checked
          // against the FRAME before any read — a flag set past the
          // frame's end is a lying header, refused.
          var metaFrame = false
          if (!sawFrame && layer == 3) {
            val chan = (payload(pos + 3) >> 6) & 3
            val sideInfo =
              if (verBits == 3) { if (chan == 3) 17 else 32 }
              else { if (chan == 3) 9 else 17 }
            val crc = if ((b2 & 1) == 0) 2 else 0
            val off = pos + 4 + crc + sideInfo
            if (off + 8 <= pos + frameLen) {
              val tag = new String(payload, off, 4, "ISO-8859-1")
              if (tag == "Xing" || tag == "Info") {
                def be32(p: Int): Long =
                  ((payload(p) & 0xffL) << 24) | ((payload(p + 1) & 0xffL) << 16) |
                    ((payload(p + 2) & 0xffL) << 8) | (payload(p + 3) & 0xffL)
                val flags = be32(off + 4)
                val need = 8 + (if ((flags & 1) != 0) 4 else 0) +
                  (if ((flags & 2) != 0) 4 else 0) +
                  (if ((flags & 4) != 0) 100 else 0) +
                  (if ((flags & 8) != 0) 4 else 0)
                if (off + need > pos + frameLen) return None
                if ((flags & 1) != 0) xingFrames = be32(off + 8)
                xingIsVbr = tag == "Xing"
                metaFrame = true
              }
            }
          }
          sawFrame = true
          if (!metaFrame) {
            if (firstKbps < 0) firstKbps = kbps
            else if (kbps != firstKbps) vbr = true
            nFrames += 1
            totalSamples = Math.addExact(totalSamples, spf.toLong)
            totalBytes = Math.addExact(totalBytes, frameLen.toLong)
          }
          pos += frameLen
        }
      }
      if (nFrames == 0L || sampleRate <= 0) return None
      // a present frame-count field must agree with the walked audio
      // frames — disagreement means truncation or a lying header. Real
      // encoders disagree on whether the count includes the Xing frame
      // itself (LAME excludes it; some muxers count every frame), so
      // nFrames + 1 is also a valid declaration, not a lie (r19 ADVICE)
      if (xingFrames >= 0 && xingFrames != nFrames &&
        xingFrames != nFrames + 1) return None
      val durMs = Math.multiplyExact(totalSamples, 1000L) / sampleRate
      val bps = Math.multiplyExact(totalBytes, 8L * sampleRate) / totalSamples
      Some(Mp3Meta(nFrames, sampleRate, durMs, bps, vbr || xingIsVbr,
        xingFrames))
    } catch { case _: Exception => None }
  }

  /** Parsed ADTS (raw AAC stream) facts: audio frame count, sample
    * rate, channel configuration (0 = "declared in-band", surfaced as
    * is), the 2-bit profile (0 = Main, 1 = LC, 2 = SSR, 3 = LTP),
    * integer-exact duration, mean bitrate over the whole stream, and
    * whether frame byte lengths vary (ADTS carries no bitrate field, so
    * varying frame lengths is the stream-level VBR observable).
    *
    * CAVEAT on the `vbr` name (r20 verdict, adjudicated low): a CBR AAC
    * encode can legitimately vary frame byte lengths (bit reservoir;
    * padding at non-integer bytes-per-frame rates), so this flag reads
    * true for such streams too — it measures FRAME-LENGTH VARIATION,
    * the only observable this header family exposes, not the encoder's
    * rate-control mode. The q_mm_audio_meta oracle replays the same
    * rule, so both engines agree by construction; the column name is
    * kept for schema stability (a rename would change the declared
    * query's schema). */
  final case class AdtsMeta(
      nFrames: Long, sampleRate: Int, channels: Int, profile: Int,
      durationMs: Long, bitrateBps: Long, vbr: Boolean)

  // AAC sampling rates by the ADTS header's 4-bit sampling_frequency
  // _index (ISO 13818-7 / 14496-3 table); 13/14 reserved, 15 forbidden
  private val AdtsSampleRate = Array(96000, 88200, 64000, 48000, 44100,
    32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** REAL audio metadata from ADTS (raw AAC) streams — the fourth
    * application of the frame-walk recipe (MP3 → FLAC → Ogg → this,
    * public ISO 13818-7 header tables): each frame opens with a 12-bit
    * syncword and a 7-byte header (9 with CRC) whose 13-bit
    * aac_frame_length field (header INCLUDED) fully determines the
    * walk's stride, and whose 2-bit number_of_raw_data_blocks field
    * sets the frame's sample count (1024 × (blocks+1)). Duration and
    * mean bitrate are pure header arithmetic; zero codec work.
    *
    * Hostile-input rules, same as every walk here: the MPEG-audio
    * layer bits must be 00 (anything else is an MP3-family frame, a
    * different walk), a reserved/forbidden sampling_frequency_index
    * (13-15), a frame length smaller than its own header or past
    * end-of-payload, and any mid-stream change of version bit /
    * profile / sample rate / channel configuration (real streams are
    * constant in all four) abort to None without a throw; a trailing
    * fragment smaller than one header is ignored, the RIFF-walk
    * lenience. Each step advances >= 7 bytes, so the walk terminates. */
  def decodeAdtsMeta(payload: Array[Byte]): Option[AdtsMeta] = {
    if (sniffContainer(payload) != "aac") return None
    try {
      var pos = 0
      var nFrames = 0L
      var totalSamples = 0L
      var totalBytes = 0L
      var sampleRate = -1
      var channels = -1
      var profile = -1
      var verBit = -1
      var firstLen = -1
      var vbr = false
      while (pos + 7 <= payload.length) {
        val b0 = payload(pos) & 0xff
        val b1 = payload(pos + 1) & 0xff
        if (b0 != 0xff || (b1 & 0xf0) != 0xf0) return None
        if (((b1 >> 1) & 3) != 0) return None // layer must be 00
        val id = (b1 >> 3) & 1
        val protAbsent = b1 & 1
        val b2 = payload(pos + 2) & 0xff
        val b3 = payload(pos + 3) & 0xff
        val prof = (b2 >> 6) & 3
        val freqIdx = (b2 >> 2) & 0xf
        if (freqIdx >= AdtsSampleRate.length) return None
        val sr = AdtsSampleRate(freqIdx)
        val chan = ((b2 & 1) << 2) | ((b3 >> 6) & 3)
        if (nFrames == 0L) {
          sampleRate = sr; channels = chan; profile = prof; verBit = id
        } else if (sr != sampleRate || chan != channels ||
          prof != profile || id != verBit) return None
        val b4 = payload(pos + 4) & 0xff
        val b5 = payload(pos + 5) & 0xff
        val b6 = payload(pos + 6) & 0xff
        val frameLen = ((b3 & 3) << 11) | (b4 << 3) | ((b5 >> 5) & 7)
        val headerLen = if (protAbsent == 1) 7 else 9
        if (frameLen < headerLen || pos + frameLen > payload.length)
          return None
        val blocks = (b6 & 3) + 1
        if (firstLen < 0) firstLen = frameLen
        else if (frameLen != firstLen) vbr = true
        nFrames += 1
        totalSamples = Math.addExact(totalSamples, 1024L * blocks)
        totalBytes = Math.addExact(totalBytes, frameLen.toLong)
        pos += frameLen
      }
      if (nFrames == 0L) return None
      val durMs = Math.multiplyExact(totalSamples, 1000L) / sampleRate
      val bps = Math.multiplyExact(totalBytes, 8L * sampleRate) / totalSamples
      Some(AdtsMeta(nFrames, sampleRate, channels, profile, durMs, bps, vbr))
    } catch { case _: Exception => None }
  }

  /** Parsed FLAC STREAMINFO facts: total samples (0 = unknown per
    * spec), the stream's sample rate, channels, bits per sample,
    * integer-exact duration in ms, and the declared min/max frame sizes
    * (0 = unknown). `audioStart` is the byte offset where the metadata
    * blocks end and audio frames begin — [[audioMeta]] derives the mean
    * bitrate from the audio-byte extent it delimits. */
  final case class FlacMeta(
      totalSamples: Long, sampleRate: Int, channels: Int, bitsPerSample: Int,
      durationMs: Long, minFrame: Long, maxFrame: Long, audioStart: Int)

  /** REAL FLAC metadata with zero decode — the third application of the
    * header-walk recipe (RIFF → ISO BMFF → MPEG frames → this): a
    * `fLaC` magic, then metadata blocks of (1-byte last-flag+type,
    * u24-BE length); STREAMINFO (type 0) is REQUIRED FIRST by the
    * public spec and carries u16 min/max block size, u24 min/max frame
    * size, then a packed 64-bit field: 20-bit sample rate, 3-bit
    * channels-1, 5-bit bps-1, 36-bit total samples. Duration is exact
    * integer arithmetic (samples × 1000 / rate).
    *
    * Hostile-input rules, same as every walk here: a STREAMINFO that is
    * not first, a wrong STREAMINFO length, a zero sample rate (invalid
    * per spec), or any block length past end-of-payload aborts to None
    * without a throw. The walk is linear (no recursion — FLAC blocks
    * do not nest) and each step advances ≥ 4 bytes, so it terminates
    * on any input. */
  def decodeFlacMeta(payload: Array[Byte]): Option[FlacMeta] = {
    if (sniffContainer(payload) != "flac") return None
    try {
      var pos = 4
      var last = false
      var first = true
      var meta: FlacMeta = null
      while (!last) {
        if (pos + 4 > payload.length) return None
        val hdr = payload(pos) & 0xff
        last = (hdr & 0x80) != 0
        val typ = hdr & 0x7f
        val len = ((payload(pos + 1) & 0xff) << 16) |
          ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
        if (pos + 4 + len > payload.length) return None
        if (first) {
          if (typ != 0 || len != 34) return None // STREAMINFO must open
          val ds = pos + 4
          def u16(o: Int) = ((payload(o) & 0xff) << 8) | (payload(o + 1) & 0xff)
          def u24(o: Int) = ((payload(o) & 0xff) << 16) |
            ((payload(o + 1) & 0xff) << 8) | (payload(o + 2) & 0xff)
          val minFrame = u24(ds + 4).toLong
          val maxFrame = u24(ds + 7).toLong
          val b10 = payload(ds + 10) & 0xff
          val b11 = payload(ds + 11) & 0xff
          val b12 = payload(ds + 12) & 0xff
          val b13 = payload(ds + 13) & 0xff
          val rate = (b10 << 12) | (b11 << 4) | (b12 >> 4)
          if (rate == 0) return None // invalid per spec
          val channels = ((b12 >> 1) & 7) + 1
          val bps = (((b12 & 1) << 4) | (b13 >> 4)) + 1
          var samples = (b13 & 0xf).toLong
          var i = 0
          while (i < 4) {
            samples = (samples << 8) | (payload(ds + 14 + i) & 0xff)
            i += 1
          }
          if (u16(ds) > u16(ds + 2)) return None // min block > max: lying
          val durMs = Math.multiplyExact(samples, 1000L) / rate
          meta = FlacMeta(samples, rate, channels, bps, durMs,
            minFrame, maxFrame, 0)
          first = false
        }
        pos += 4 + len
      }
      if (meta == null) None else Some(meta.copy(audioStart = pos))
    } catch { case _: Exception => None }
  }

  /** Parsed Ogg stream facts for the FIRST beginning-of-stream logical
    * bitstream whose opening packet is a recognized audio
    * identification header: codec ("vorbis" | "opus"), the declared
    * rate/channels, the granule-derived total samples and exact
    * duration, the logical stream's payload byte count (its own pages'
    * segments, other multiplexed serials excluded), and whether the
    * declared bitrate bounds leave it variable. */
  final case class OggMeta(
      codec: String, sampleRate: Int, channels: Int, totalSamples: Long,
      durationMs: Long, streamBytes: Long, vbr: Boolean)

  /** REAL Ogg metadata with zero decode — the page-walk member of the
    * header-walk family (RIFF / ISO BMFF / MPEG frames / FLAC blocks):
    * each page is "OggS" + version(0) + header-type flags + s64-LE
    * granule position + serial + sequence + crc + a 1-byte segment
    * count and segment table that fully size the page, so the walk is
    * linear and never reads codec payload beyond the FIRST packet's
    * identification header. The first BOS (flag 0x02) page whose
    * opening bytes are 0x01+"vorbis" (rate LE-u32 at packet offset 12,
    * channels u8 at 11, declared max/nominal/min bitrates at 16/20/24 —
    * max==min>0 pins CBR, anything else is VBR) or `OpusHead` (channels
    * u8 at 9, pre-skip LE-u16 at 10; Opus granules tick at 48 kHz and
    * the pre-skip samples are decoder warm-up, subtracted) identifies
    * the stream; duration comes from that serial's LAST finished-packet
    * granule (pages with granule -1 finish no packet and carry no time).
    *
    * Hostile-input rules, as everywhere: version != 0, a truncated page
    * header/segment table/payload, a granule that moves BACKWARD
    * mid-stream (real serials are monotone), and an unrecognized or
    * absent identification packet refuse to None without a throw; all
    * accumulation is exact. Multiplexed files: the other serials' pages
    * are walked for bounds but contribute nothing. */
  def decodeOggMeta(payload: Array[Byte]): Option[OggMeta] = {
    if (sniffContainer(payload) != "ogg") return None
    try {
      def leU32(o: Int): Long = (payload(o) & 0xffL) |
        ((payload(o + 1) & 0xffL) << 8) | ((payload(o + 2) & 0xffL) << 16) |
        ((payload(o + 3) & 0xffL) << 24)
      def leU64(o: Int): Long = leU32(o) | (leU32(o + 4) << 32)
      var pos = 0
      var serial = -1L
      var codec: String = null
      var rate = 0
      var channels = 0
      var preSkip = 0
      var vbr = true
      var lastGranule = -1L
      var streamBytes = 0L
      while (pos + 27 <= payload.length) {
        if (!(payload(pos) == 'O' && payload(pos + 1) == 'g' &&
            payload(pos + 2) == 'g' && payload(pos + 3) == 'S')) return None
        if ((payload(pos + 4) & 0xff) != 0) return None // version 0 only
        val flags = payload(pos + 5) & 0xff
        val granule = leU64(pos + 6)
        val pageSerial = leU32(pos + 14)
        val nSegs = payload(pos + 26) & 0xff
        if (pos + 27 + nSegs > payload.length) return None
        var bodyLen = 0
        var i = 0
        while (i < nSegs) {
          bodyLen += payload(pos + 27 + i) & 0xff
          i += 1
        }
        val body = pos + 27 + nSegs
        if (body + bodyLen > payload.length) return None
        if (codec == null && (flags & 0x02) != 0) {
          // first BOS page: try to identify its opening packet
          def pktAt(off: Int, s: String): Boolean =
            bodyLen >= off + s.length &&
              s.indices.forall(j =>
                payload(body + off + j) == s.charAt(j).toByte)
          if (bodyLen >= 1 && payload(body) == 0x01 &&
              pktAt(1, "vorbis") && bodyLen >= 28) {
            serial = pageSerial
            codec = "vorbis"
            channels = payload(body + 11) & 0xff
            rate = leU32(body + 12).toInt
            if (rate <= 0 || channels <= 0) return None
            val brMax = leU32(body + 16).toInt
            val brMin = leU32(body + 24).toInt
            vbr = !(brMax > 0 && brMax == brMin)
          } else if (pktAt(0, "OpusHead") && bodyLen >= 19) {
            serial = pageSerial
            codec = "opus"
            channels = payload(body + 9) & 0xff
            preSkip = (payload(body + 10) & 0xff) |
              ((payload(body + 11) & 0xff) << 8)
            rate = 48000 // Opus granules tick at 48 kHz regardless of input
            if (channels <= 0) return None
          }
        }
        if (codec != null && pageSerial == serial) {
          streamBytes = Math.addExact(streamBytes, bodyLen.toLong)
          if (granule != -1L) {
            if (granule < lastGranule) return None // real serials are monotone
            lastGranule = granule
          }
        }
        pos = body + bodyLen
      }
      if (codec == null || lastGranule < 0) return None
      val samples = math.max(0L, lastGranule - preSkip)
      val durMs = Math.multiplyExact(samples, 1000L) / rate
      Some(OggMeta(codec, rate, channels, samples, durMs, streamBytes, vbr))
    } catch { case _: Exception => None }
  }

  private val audioMetaSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("container", StringType, nullable = false),
    StructField("duration_ms", LongType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("bitrate_bps", LongType, nullable = true),
    StructField("vbr", BooleanType, nullable = true),
    StructField("xing_frames", LongType, nullable = true)))

  /** Per-payload audio-container metadata — the audio sibling of
    * [[containerMeta]], same partition-parallel plumbing: the
    * `container` column is the shared magic sniff (oracle-replayed from
    * hex(payload)); payloads that parse as MPEG audio carry REAL
    * frame-walk facts ([[decodeMp3Meta]]), payloads that decode as
    * PCM WAV carry the real header facts (frame count, duration from
    * rate, declared PCM bitrate = rate × frame size × 8; vbr false —
    * PCM is constant-rate by construction), and payloads that parse as
    * FLAC carry STREAMINFO facts ([[decodeFlacMeta]]: duration from the
    * declared total samples, mean bitrate over the audio-byte extent
    * the metadata walk delimits, vbr unless the declared frame sizes
    * pin one width; frame count NULL — STREAMINFO does not declare it),
    * and payloads that parse as Ogg Vorbis/Opus carry page-walk facts
    * ([[decodeOggMeta]]: granule-derived duration, mean bitrate over
    * the logical stream's own payload bytes, the identification
    * header's bitrate-bound VBR verdict). Everything else carries
    * nulls. On this corpus prose never parses (0xFF cannot open UTF-8
    * text and an 'ID3'-prefixed document still needs a valid frame sync
    * after the declared tag; a 'RIFF…WAVE' prefix without a real fmt/
    * data chunk fails the PCM reader), so the oracle's NULLs are exact
    * — same argument as q_mm_video_meta's, verified by prefix census
    * across sf0.001–0.1 and x10. */
  def audioMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val kind = sniffContainer(payload)
        decodeMp3Meta(payload) match {
          case Some(m) =>
            val xf = if (m.xingFrames >= 0) java.lang.Long.valueOf(m.xingFrames)
              else null
            Row(id, kind, m.durationMs, m.nFrames, m.bitrateBps, m.vbr, xf)
          case None =>
            decodeAdtsMeta(payload) match {
              case Some(a) =>
                Row(id, kind, a.durationMs, a.nFrames, a.bitrateBps,
                  a.vbr, null)
              case None =>
            decodeWavPcm(payload) match {
              case Some(pcm) if pcm.sampleRate > 0 =>
                Row(id, kind,
                  pcm.nFrames.toLong * 1000L / pcm.sampleRate,
                  pcm.nFrames.toLong,
                  pcm.sampleRate.toLong * pcm.frameSize * 8L,
                  false, null)
              case _ =>
                decodeFlacMeta(payload) match {
                  case Some(f) if f.totalSamples > 0 =>
                    // frame count isn't declared by STREAMINFO → NULL;
                    // mean bitrate from the audio-byte extent the
                    // metadata walk delimits (exact integer); vbr
                    // unless the declared frame sizes pin one width
                    val audioBytes = (payload.length - f.audioStart).toLong
                    val bps =
                      if (audioBytes > 0)
                        java.lang.Long.valueOf(Math.multiplyExact(
                          audioBytes, 8L * f.sampleRate) / f.totalSamples)
                      else null
                    Row(id, kind, f.durationMs, null, bps,
                      !(f.minFrame > 0 && f.minFrame == f.maxFrame), null)
                  case Some(_) => // total samples 0 = unknown per spec
                    Row(id, kind, null, null, null, null, null)
                  case None =>
                    decodeOggMeta(payload) match {
                      case Some(o) if o.totalSamples > 0 =>
                        // no frame notion in a page stream → NULL; mean
                        // bitrate over the logical stream's own payload
                        // bytes (multiplexed serials excluded)
                        Row(id, kind, o.durationMs, null,
                          Math.multiplyExact(o.streamBytes,
                            8L * o.sampleRate) / o.totalSamples,
                          o.vbr, null)
                      case _ =>
                        decodeMkvMeta(payload) match {
                          case Some(k) if k.durationMs >= 0 =>
                            // an audio-in-EBML payload (A_OPUS/A_VORBIS
                            // WebM): frames/bitrate live inside the
                            // codec, but the declared duration is a
                            // container fact and surfaces
                            Row(id, kind, k.durationMs, null, null,
                              null, null)
                          case _ =>
                            Row(id, kind, null, null, null, null, null)
                        }
                    }
                }
            }
            }
        }
      }
    }
    spark.createDataFrame(rdd, audioMetaSchema)
  }

  private val containerMetaSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("container", StringType, nullable = false),
    StructField("duration_ms", LongType, nullable = true),
    StructField("n_tracks", LongType, nullable = true),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sample_bytes", LongType, nullable = true),
    StructField("bitrate_bps", LongType, nullable = true),
    StructField("n_chunks", LongType, nullable = true),
    StructField("chunk_span_bytes", LongType, nullable = true),
    StructField("codecs", StringType, nullable = true),
    StructField("codec_params", StringType, nullable = true)))

  /** Per-payload container metadata: the magic-number `container` column
    * ([[sniffContainer]] — oracle-replayed from hex(payload)) plus REAL
    * MP4/MOV header facts ([[decodeMp4Meta]]) for payloads that sniff as
    * MP4 and parse — duration, track count, declared display dims, all
    * from pure header arithmetic, no codec. Non-MP4 and unparseable
    * payloads carry nulls (this corpus's text payloads never parse: a
    * valid moov/mvhd cannot occur in prose, and the sniff itself is
    * hex-replayed either way). Same partition-parallel plumbing as
    * every decoder here. */
  def containerMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("doc_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val kind = sniffContainer(payload)
        decodeMp4Meta(payload) match {
          case Some(m) =>
            // -1 = no sample table present → NULL, not 0; mean declared
            // bitrate needs both total bytes and a positive duration
            val ns = if (m.nSamples >= 0) java.lang.Long.valueOf(m.nSamples) else null
            val sb = if (m.sampleBytes >= 0) java.lang.Long.valueOf(m.sampleBytes) else null
            val br =
              if (m.sampleBytes >= 0 && m.durationMs > 0)
                java.lang.Long.valueOf(m.sampleBytes * 8L * 1000L / m.durationMs)
              else null
            val nc = if (m.nChunks >= 0) java.lang.Long.valueOf(m.nChunks) else null
            val cs = if (m.chunkSpanBytes >= 0)
              java.lang.Long.valueOf(m.chunkSpanBytes) else null
            val cd = if (m.codecs.nonEmpty) m.codecs.mkString(",") else null
            val cp = if (m.codecParams.nonEmpty) m.codecParams.mkString(",")
              else null
            Row(id, kind, m.durationMs, m.nTracks.toLong,
              m.width.toLong, m.height.toLong, ns, sb, br, nc, cs, cd, cp)
          case None =>
            decodeMkvMeta(payload) match {
              case Some(k) =>
                // EBML carries no sample/chunk tables — those stats are
                // structurally unknown, not zero; a file with no
                // declared Duration (live capture) surfaces NULL
                val dm = if (k.durationMs >= 0)
                  java.lang.Long.valueOf(k.durationMs) else null
                val cd = if (k.codecs.nonEmpty) k.codecs.mkString(",")
                  else null
                Row(id, kind, dm, k.nTracks.toLong,
                  k.width.toLong, k.height.toLong, null, null, null, null,
                  null, cd, null)
              case None =>
                Row(id, kind, null, null, null, null, null, null, null,
                  null, null, null, null)
            }
        }
      }
    }
    spark.createDataFrame(rdd, containerMetaSchema)
  }
}
