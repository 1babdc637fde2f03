package graft

import graft.ext.{Dedup, Multimodal}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the Spark-only extension operators (no DuckDB oracle):
  * SimHash near-dup behavior and the multimodal feature-extraction plumbing. */
class ExtOpsSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("simhash: near-dup documents land within small hamming distance, random pairs far") {
    val docs = Tables.load(spark, sfDir, "documents")
    val sims = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

    val nearDupPairs = Dedup.jaccardNearDup(docs, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearDupPairs.nonEmpty)
    val nearDists = nearDupPairs.map { case (a, b) => hamming(sims(a), sims(b)) }
    assert(nearDists.forall(_ <= 12), s"near-dup hamming distances: ${nearDists.toSeq}")

    // random non-dup pairs should be near 32 bits apart on average
    val ids = sims.keys.toArray.sorted.take(40)
    val nearSet = nearDupPairs.toSet
    val randomDists = for {
      a <- ids; b <- ids
      if a < b && !nearSet.contains((a, b))
    } yield hamming(sims(a), sims(b))
    assert(randomDists.sum.toDouble / randomDists.length > 20.0)
  }

  test("jaccardFor: one row per candidate pair, 0.0 for a pair with no shared shingle") {
    import spark.implicits._
    val sh = Seq(1L -> "a b c", 1L -> "b c d", 2L -> "a b c", 2L -> "c d e", 3L -> "x y z")
      .toDF("doc_id", "shingle")
    // doc 4 has no shingles: its pair drops out
    val pairs = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L).toDF("doc_a", "doc_b")
    val got = Dedup.jaccardFor(pairs, sh).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L) -> 1.0 / 3, (1L, 3L) -> 0.0))
  }

  test("simhashRecallGate: rows are the exact near-dup pairs; boolean flips when unreachable") {
    val docs = Tables.load(spark, sfDir, "documents")
    val exact = Dedup.jaccardNearDup(docs, 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gate = Dedup.simhashRecallGate(docs).collect()
    assert(gate.map(r => (r.getLong(0), r.getLong(1))).toSet === exact)
    assert(gate.forall(_.getBoolean(2)), "calibrated gate should pass on real data")
    // an impossible demand (every pair at hamming 0) must flip the boolean
    val broken = Dedup.simhashRecallGate(docs, maxHamming = 0, floor = 0.99).collect()
    assert(broken.nonEmpty && broken.forall(!_.getBoolean(2)))
  }

  test("featureHash embedding matches the SQL formulation it promises") {
    import spark.implicits._
    import java.security.MessageDigest
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark engines at scale"),
      (3L, "no"))  // < 3 tokens -> zero vector
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      graft.functions.FeatureHash(spark, col("text"), 32).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // independent reference: hex-string arithmetic exactly as the oracle SQL
    def ref(text: String, d: Int): Seq[Double] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
      val sh = toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toVector.distinct
      val v = new Array[Double](d)
      sh.foreach { s =>
        val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val dim = (java.lang.Long.parseLong(hex.substring(0, 8), 16) % d).toInt
        val sgn = (Integer.parseInt(hex.substring(8, 9), 16) & 1) * 2 - 1
        v(dim) += sgn
      }
      v.toSeq
    }
    assert(got(1L) === ref("the quick brown fox jumps over the lazy dog again and again", 32))
    assert(got(2L) === ref("completely different content about spark engines at scale", 32))
    assert(got(3L) === Seq.fill(32)(0.0))
  }

  test("srpNearDup returns exactly the all-pairs cosine>=t pairs (LSH recall 1 on corpus)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables.load(spark, dir, "documents")
      val vecs = docs.select(col("doc_id"),
        graft.functions.FeatureHash(spark, col("text"), 128).as("v"))
      val lsh = graft.ext.Similarity.srpNearDup(vecs, threshold = 0.6, dim = 128)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val p = vecs
        .withColumn("nrm", sqrt(graft.ext.Similarity.dot(col("v"), col("v"))))
        .where(col("nrm") > 0)
      val exact = p.select(col("doc_id").as("doc_a"), col("v").as("va"), col("nrm").as("na"))
        .crossJoin(p.select(col("doc_id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb")))
        .where(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (graft.ext.Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
        .where(col("cos") >= 0.6)
        .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty, s"$dir: expected near-dup pairs in the corpus")
      assert(lsh === exact, s"$dir: LSH pairs diverge from exact")
    }
  }

  test("simhash is deterministic and identical for identical text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content about spark engines"))
      .toDF("doc_id", "text")
    val m = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L))
  }

  test("multimodal audio: REAL PCM WAV decode, stub fallback for text payloads") {
    import spark.implicits._
    // deterministic 16-bit mono 8 kHz WAV: 0.1 s of a 440 Hz sine at 0.5 amplitude
    val sr = 8000
    val n = 800
    val amp = 0.5
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = math.round(amp * 32767.0 * math.sin(2 * math.Pi * 440 * i / sr)).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val media = Seq(
      (1L, wav),
      (2L, "just some text bytes, not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = graft.ext.Multimodal.extractAudioFeatures(media.repartition(2))
      .collect().map(r => r.getLong(0) -> r).toMap

    val real = out(1L)
    assert(real.getBoolean(10), "WAV payload must take the real decode path")
    assert(real.getInt(2) === sr && real.getInt(3) === 1 && real.getLong(4) === n)
    assert(math.abs(real.getDouble(5) - 0.1) < 1e-9, "duration")
    // sine RMS = amp/sqrt(2); zcr = 2 * f / sr; dc ~ 0
    assert(math.abs(real.getDouble(6) - amp / math.sqrt(2)) < 0.01, "rms")
    assert(math.abs(real.getDouble(7) - amp) < 0.01, "peak")
    assert(math.abs(real.getDouble(8) - 2.0 * 440 / sr) < 0.02, "zcr")
    assert(math.abs(real.getDouble(9)) < 0.01, "dc offset")

    val stub = out(2L)
    assert(!stub.getBoolean(10), "text payload must take the stub path")
    val (ssr, sch, snf, sf) = graft.ext.Multimodal.audioStub(
      "just some text bytes, not audio".getBytes("UTF-8"))
    assert(stub.getInt(2) === ssr && stub.getInt(3) === sch && stub.getLong(4) === snf)
    assert(stub.getDouble(6) === sf(0) && stub.getDouble(7) === sf(1) &&
      stub.getDouble(8) === sf(2) && stub.getDouble(9) === sf(3))
  }

  test("multimodal extractFeatures: partition-parallel stub decode with stable output") {
    val media = Multimodal.documentsAsMedia(Tables.load(spark, sfDir, "documents"))
      .repartition(4)
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length === 500)
    assert(rows.forall(_.getSeq[Double](4).length === Multimodal.featureDim))
    // n_bytes matches the metadata byte length computed relationally
    val nb = feats.select("doc_id", "n_bytes")
    val exp = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
    assert(nb.except(exp).count() === 0)
    assert(exp.except(nb).count() === 0)
    // deterministic under re-execution
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.toSeq).toSet === again.map(_.toSeq).toSet)
    // text payloads never take the image path
    assert(rows.forall(!_.getBoolean(5)))
  }

  /** Deterministic w x h PNG: pixel (x,y) of image `id` is
    * rgb((id*37+x) % 256, (x+y) % 256, (id+y*3) % 256). */
  private def testPng(id: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y,
        (((id * 37 + x) % 256) << 16) | (((x + y) % 256) << 8) | ((id + y * 3) % 256))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("multimodal: REAL ImageIO decode for PNG/JPEG payloads, stub fallback else") {
    import spark.implicits._
    // PNG is lossless: decoded pixels == the generative pattern, so the
    // expected features are computable straight from the pattern
    def expectedFeats(id: Int, w: Int, h: Int): Array[Double] = {
      var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0
      val qs = Array.ofDim[Double](4); val qc = Array.ofDim[Long](4)
      for (y <- 0 until h; x <- 0 until w) {
        val r = (id * 37 + x) % 256; val g = (x + y) % 256; val b = (id + y * 3) % 256
        val l = (299 * r + 587 * g + 114 * b) / 1000.0
        sr += r; sg += g; sb += b; sl += l
        val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
        qs(q) += l; qc(q) += 1
      }
      val n = (w * h).toDouble
      Array(sr / n, sg / n, sb / n, sl / n) ++
        (0 until 4).map(q => qs(q) / qc(q))
    }
    val bosJ = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(new java.awt.image.BufferedImage(
      12, 9, java.awt.image.BufferedImage.TYPE_INT_RGB), "jpg", bosJ)
    val media = Seq(
      (1L, testPng(1, 20, 14)),
      (2L, testPng(2, 7, 31)),            // odd dims: center row/col to TL
      (3L, bosJ.toByteArray),             // JPEG: real decode, lossy pixels
      (4L, "plain text bytes".getBytes("UTF-8"))) // stub fallback
      .toDF("doc_id", "payload")
    val out = Multimodal.extractFeatures(media).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getSeq[Double](4).toArray, r.getBoolean(5)))
      .toMap
    // PNG: exact dims AND exact features from the pattern
    for ((id, w, h) <- Seq((1, 20, 14), (2, 7, 31))) {
      val (gw, gh, gf, dec) = out(id.toLong)
      assert(dec && gw === w && gh === h)
      val ef = expectedFeats(id, w, h)
      assert(gf.zip(ef).forall { case (a, b) => math.abs(a - b) < 1e-9 },
        s"png $id features ${gf.toSeq} != ${ef.toSeq}")
    }
    // JPEG: real decode path taken, true dimensions recovered
    val (jw, jh, _, jdec) = out(3L)
    assert(jdec && jw === 12 && jh === 9)
    // non-image: stub path, decoded=false, stub's fake dims
    val (sw, sh, sf, sdec) = out(4L)
    val (ew, eh, ef) = Multimodal.decodeStub("plain text bytes".getBytes("UTF-8"))
    assert(!sdec && sw === ew && sh === eh && sf.toSeq === ef.toSeq)
  }

  test("multimodal resizeTo: aspect-preserving downscale, passthrough otherwise") {
    import spark.implicits._
    val textBytes = "not an image".getBytes("UTF-8")
    val media = Seq(
      (1L, testPng(1, 64, 32)),  // longer edge 64 > 16 -> scaled to 16x8
      (2L, testPng(2, 10, 12)),  // within bounds -> untouched
      (3L, textBytes))           // non-image -> byte-identical passthrough
      .toDF("doc_id", "payload")
    val out = Multimodal.resizeTo(media, 16).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3), r.getBoolean(4)))
      .toMap
    val (p1, w1, h1, r1) = out(1L)
    assert(r1 && w1 === 16 && h1 === 8)
    // the re-encoded payload really is a 16x8 PNG
    val re = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p1))
    assert(re.getWidth === 16 && re.getHeight === 8)
    val (p2, w2, h2, r2) = out(2L)
    assert(!r2 && w2 === 10 && h2 === 12 &&
      p2.toSeq === testPng(2, 10, 12).toSeq)
    val (p3, w3, h3, r3) = out(3L)
    assert(!r3 && w3 === -1 && h3 === -1 && p3.toSeq === textBytes.toSeq)
  }

  test("sampleFrames: stride sampling, lazy frame explosion, trailing " +
      "partial frame, exact byte windows") {
    import spark.implicits._
    // 150 bytes -> frames 0,1,2 (64,64,22 bytes); stride 3 keeps frame 0
    // only; 200 bytes -> frames 0..3, stride 3 keeps 0 and 3 (8 bytes)
    val p1 = Array.tabulate[Byte](150)(i => (i % 251).toByte)
    val p2 = Array.tabulate[Byte](200)(i => ((i * 7) % 256 - 128).toByte)
    val media = Seq((1L, p1), (2L, p2)).toDF("doc_id", "payload")
    val out = graft.ext.Multimodal.sampleFrames(media, targetFps = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getAs[Array[Byte]]("frame"), r.getDouble(4)))
      .toMap
    assert(out.keySet == Set((1L, 0L), (2L, 0L), (2L, 3L)))
    val (ts10, f10, m10) = out((1L, 0L))
    assert(ts10 == 0L && f10.toSeq == p1.slice(0, 64).toSeq)
    assert(m10 == p1.slice(0, 64).map(_ & 0xff).sum.toDouble / 64)
    val (ts23, f23, m23) = out((2L, 3L))
    assert(ts23 == 100L)   // frame 3 at 30 fps: 3 * 1000 / 30 ms
    assert(f23.toSeq == p2.slice(192, 200).toSeq && f23.length == 8)
    assert(m23 == p2.slice(192, 200).map(_ & 0xff).sum.toDouble / 8)
    // full-rate sampling returns every frame
    val all = graft.ext.Multimodal.sampleFrames(media, targetFps = 30)
    assert(all.where(col("doc_id") === 2L).count() == 4)
  }

  test("vocabCoverage: OOV counts match a brute-force recount") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val v = 16
    val got = graft.ext.TextOps.vocabCoverage(docs, v)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // brute force: recount tokens and vocab on the driver
    val tokRe = "[a-z0-9]+".r
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokRe.findAllIn(r.getString(1).toLowerCase).toSeq)
      .filter(_._2.nonEmpty)
    val vocab = texts.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(v).map(_._1).toSet
    assert(got.size === texts.length)
    texts.foreach { case (id, toks) =>
      val (n, oov) = got(id)
      assert(n === toks.length)
      assert(oov === toks.count(t => !vocab.contains(t)), s"doc $id")
    }
    // the budget bites: some docs have OOV tokens, vocab tokens score 0
    assert(got.values.exists(_._2 > 0))
  }

  test("bpeMergeLoop: greedy merges, double-pass rewrite on consecutive " +
      "occurrences, and the repeated-token leftmost case") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"), // consecutive (a,b) runs — needs the 2nd pass
      (2L, "a b c"),
      (3L, "x x x"))       // a==b pair: leftmost non-overlap keeps one x
      .toDF("doc_id", "text")
    // iter1: a|b (count 4) -> a_b; iter2: a_b|a_b (2) beats x|x (2) by
    // pair order; iter3: x|x (2) wins over the count-1 leftovers
    val got = graft.ext.TextOps.bpeMergeLoop(docs, k = 3)
      .orderBy("doc_id").collect()
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(0).getLong(1) === 6L && got(0).getLong(2) === 2L)
    assert(got(0).getString(3) === md5Hex("|a_b_a_b|a_b|"))
    assert(got(1).getLong(1) === 3L && got(1).getLong(2) === 2L)
    assert(got(1).getString(3) === md5Hex("|a_b|c|"))
    assert(got(2).getLong(1) === 3L && got(2).getLong(2) === 2L)
    assert(got(2).getString(3) === md5Hex("|x_x|x|"))
    // empty and single-token docs degrade cleanly
    val edge = graft.ext.TextOps.bpeMergeLoop(
      Seq((1L, ""), (2L, "solo")).toDF("doc_id", "text"), k = 2)
      .orderBy("doc_id").collect()
    assert(edge(0).getLong(1) === 0L && edge(0).getLong(2) === 0L)
    assert(edge(1).getLong(1) === 1L && edge(1).getLong(2) === 1L)
  }

  test("hashClassifier: scores match a driver recount of hashed " +
      "unigram+bigram weights; empty and one-token docs degrade cleanly") {
    import spark.implicits._
    import java.security.MessageDigest
    def weight(seed: String, f: String): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"$seed:$f".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "solo"),
      (3L, ""),
      (4L, "Alpha, BETA gamma!")) // normalizes to doc 1's tokens
      .toDF("doc_id", "text")
    val got = graft.ext.TextOps.hashClassifier(docs, seed = "s1")
      .orderBy("doc_id").collect()
    def expected(toks: Seq[String]): (Long, Long) = {
      val feats = toks ++ toks.sliding(2).filter(_.size == 2)
        .map(_.mkString(" "))
      (feats.size.toLong, feats.map(weight("s1", _)).sum)
    }
    val (n1, s1) = expected(Seq("alpha", "beta", "gamma"))
    assert(got(0).getLong(1) === n1) // 3 unigrams + 2 bigrams
    assert(n1 === 5L)
    assert(got(0).getLong(2) === s1)
    assert(got(0).getBoolean(3) === (s1 > 0))
    val (n2, s2) = expected(Seq("solo"))
    assert(got(1).getLong(1) === n2 && got(1).getLong(2) === s2)
    assert(got(2).getLong(1) === 0L && got(2).getLong(2) === 0L
      && !got(2).getBoolean(3))
    // tokenizer-normalized text scores identically
    assert(got(3).getLong(2) === got(0).getLong(2))
    // a different seed re-derives every weight
    val reseeded = graft.ext.TextOps.hashClassifier(docs, seed = "s2")
      .orderBy("doc_id").collect()
    assert(reseeded(0).getLong(2) ===
      Seq("alpha", "beta", "gamma", "alpha beta", "beta gamma")
        .map(weight("s2", _)).sum)
  }

  test("semanticDedup: cosine-similar vectors cluster to min-id root, " +
      "orthogonal vectors stay singletons, transitive chains merge") {
    import spark.implicits._
    // 1~2 identical, 3 near both (cos ~0.97), 4 orthogonal, 5 zero-norm
    val e1 = Array.tabulate(8)(i => if (i == 0) 1.0 else 0.0)
    val e3 = Array.tabulate(8)(i => if (i == 0) 1.0 else if (i == 1) 0.25 else 0.0)
    val e4 = Array.tabulate(8)(i => if (i == 1) 1.0 else 0.0)
    val vecs = Seq(
      (1L, e1.toSeq), (2L, e1.toSeq), (3L, e3.toSeq),
      (4L, e4.toSeq), (5L, Array.fill(8)(0.0).toSeq)).toDF("doc_id", "v")
    val r = graft.ext.Similarity
      .semanticDedup(vecs, threshold = 0.9, dim = 8, bits = 4, bands = 8)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2)))
      .toMap
    assert(r(1L) == (1L, true))
    assert(r(2L) == (1L, false))
    assert(r(3L) == (1L, false))   // linked through 1/2, not to 4
    assert(r(4L) == (4L, true))
    assert(r(5L) == (5L, true))    // zero-norm: singleton, never paired
  }

  test("perceptual hash: real pixels, brightness invariance, banding lossless") {
    import spark.implicits._
    val imgA = testPng(1, 64, 64)
    // same spatial structure at a constant brightness shift: aHash bits
    // compare each cell to the GLOBAL mean, so a uniform shift cancels —
    // the invariance that makes it a perceptual hash, not a checksum
    val shifted = testPng(9, 64, 64)
    // genuinely different spatial structure
    val other = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64)
        img.setRGB(x, y, if ((x * y) % 7 < 3) 0xffffff else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq((1L, imgA), (2L, testPng(1, 64, 64)), (3L, shifted),
      (4L, other)).toDF("doc_id", "payload")
    val hs = Multimodal.perceptualHash(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(hs.values.forall(_._2), "PNG payloads must take the real decode path")
    assert(hs(1L)._1 === hs(2L)._1, "identical images must collide")
    assert(hs(1L)._1 === hs(3L)._1, "constant brightness shift must cancel")
    assert(java.lang.Long.bitCount(hs(1L)._1 ^ hs(4L)._1) > 10,
      "different spatial structure must sit far away")
    val pairs = Multimodal.phashNearDup(media, 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) === 0L && pairs((1L, 3L)) === 0L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))

    // banding losslessness on the stub corpus: banded candidates + verify
    // == brute-force all-pairs popcount at the same threshold
    val corpus = Multimodal.documentsAsMedia(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val got = Multimodal.phashNearDup(corpus, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val h = Multimodal.perceptualHash(corpus)
    val brute = h.select(col("doc_id").as("doc_a"), col("phash").as("ha"))
      .crossJoin(h.select(col("doc_id").as("doc_b"), col("phash").as("hb")))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got === brute)
    assert(got.nonEmpty, "the corpus's near-dup pairs must land within 3 bits")
  }

  /** 16-bit mono 8 kHz PCM WAV of a 440 Hz sine whose amplitude is
    * `ampFirst` for the first half and `ampSecond` for the second —
    * a loudness ENVELOPE the band-energy fingerprint must capture. */
  private def envelopeWav(ampFirst: Double, ampSecond: Double): Array[Byte] = {
    val sr = 8000
    val n = 1600
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val amp = if (i < n / 2) ampFirst else ampSecond
      val v = math.round(amp * 32767.0 * math.sin(2 * math.Pi * 440 * i / sr)).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audio fingerprint: real band energies, gain invariance, banding lossless") {
    import spark.implicits._
    val loudQuiet = envelopeWav(0.6, 0.1)
    // the same recording through a -2 dB gain stage: every cell energy
    // scales by the same factor, so every cell-vs-global comparison is
    // unchanged — the invariance that makes it a fingerprint of the
    // loudness CONTOUR, not of the absolute level
    val regained = envelopeWav(0.48, 0.08)
    // the reversed envelope: energy concentrates in the OTHER half, so
    // the time-cell bits flip nearly wholesale
    val reversed = envelopeWav(0.1, 0.6)
    val media = Seq((1L, loudQuiet), (2L, envelopeWav(0.6, 0.1)),
      (3L, regained), (4L, reversed)).toDF("doc_id", "payload")
    val fps = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(fps.values.forall(_._2), "WAV payloads must take the real sample path")
    assert(fps(1L)._1 === fps(2L)._1, "identical recordings must collide")
    assert(java.lang.Long.bitCount(fps(1L)._1 ^ fps(3L)._1) <= 2,
      "a uniform gain change must (near-)cancel in every cell comparison")
    assert(java.lang.Long.bitCount(fps(1L)._1 ^ fps(4L)._1) > 30,
      "a reversed envelope must sit far away")
    val pairs = Multimodal.audioFpNearDup(media, 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) === 0L)
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))

    // banding losslessness on the stub corpus: banded candidates + verify
    // == brute-force all-pairs popcount at the same threshold
    val corpus = Multimodal.documentsAsMedia(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"))
    val got = Multimodal.audioFpNearDup(corpus, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val h = Multimodal.audioFingerprint(corpus)
    val brute = h.select(col("doc_id").as("doc_a"), col("afp").as("ha"))
      .crossJoin(h.select(col("doc_id").as("doc_b"), col("afp").as("hb")))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got === brute)
    assert(got.nonEmpty, "the corpus's near-dup pairs must land within 3 bits")
  }
}
