package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Multimodal

class TrainingOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("ngram jaccard finds true near-duplicates and minhash recalls them") {
    val jac = graft.queries.TextQueries.q19NgramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.nonEmpty, "expected some near-dup pairs in synthetic docs")
    val mh = graft.queries.TextQueries.q20MinHashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // high-similarity pairs should be recalled by minhash candidates
    val recalled = jac.count(mh.contains).toDouble / jac.size
    assert(recalled >= 0.8, s"minhash recall of jaccard>=0.5 pairs too low: $recalled")
  }

  test("LSH ANN returns plausible neighbors (present in brute-force top list)") {
    val brute = graft.queries.VectorQueries.q22AnnBrute(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.queries.VectorQueries.q23AnnLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    // every LSH result has cosine <= the brute-force top-1 for that query
    val bruteTop = graft.queries.VectorQueries.q22AnnBrute(spark, sf)
      .filter($"rnk" === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    lsh.foreach { r =>
      val q = r.getLong(0)
      assert(r.getDouble(2) <= bruteTop(q) + 1e-12)
    }
  }

  test("IVF ANN: bounded by brute-force, deterministic across runs") {
    val ivf1 = graft.queries.VectorQueries.q36AnnIvf(spark, sf).collect()
    assert(ivf1.nonEmpty)
    val bruteTop = graft.queries.VectorQueries.q22AnnBrute(spark, sf)
      .filter($"rnk" === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    ivf1.foreach(r => assert(r.getDouble(2) <= bruteTop(r.getLong(0)) + 1e-12))
    val ivf2 = graft.queries.VectorQueries.q36AnnIvf(spark, sf).collect()
    assert(ivf1.map(_.toString).toList == ivf2.map(_.toString).toList)
  }

  test("audio segmentation: full windows only, stride-correct, deterministic") {
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sf/documents.parquet"))
    val segs = Multimodal.chunkAudio(media, windowSamples = 2048, strideSamples = 1024).collect()
    assert(segs.nonEmpty && segs.forall(_.error == null))
    val hashes = media.filter(_.kind == "audio").collect()
      .map(b => b.media_id -> Multimodal.FakeDecoder.contentHash(b.blob)).toMap
    segs.foreach { g =>
      val h = hashes(g.media_id)
      assert(g.n_samples == h % 16381 + 1)
      assert(g.seg_start % 1024 == 0 && g.seg_idx == g.seg_start / 1024)
      assert(g.seg_start + 2048 <= g.n_samples, "partial tail window emitted")
      assert(g.seg_sig == (h % 1000000007L) * 37 + g.seg_start)
    }
    // per-track segment count: floor((n - window)/stride) + 1, or 0 if short
    val byMedia = segs.groupBy(_.media_id)
    hashes.foreach { case (id, h) =>
      val n = h % 16381 + 1
      val expect = if (n < 2048) 0L else (n - 2048) / 1024 + 1
      assert(byMedia.get(id).map(_.length.toLong).getOrElse(0L) == expect, s"media $id")
    }
  }

  test("int8 quantization: exact reference, codes in range, dequant error bounded") {
    val rnd = new scala.util.Random(23)
    val vs = Seq.fill(300)(Array.fill(16)((rnd.nextFloat() * 2 - 1) * (1 + rnd.nextInt(5)))) :+
      Array.fill(16)(0.0f) // all-zero vector → scale 0, zero codes
    val df = vs.map(Tuple1(_)).toDF("embedding")
    val got = graft.operators.Quantize.int8(df, "embedding")
      .select($"scale", $"q").as[(Double, Seq[Int])].collect()
    got.zip(vs).foreach { case ((scale, q), v) =>
      val expScale = v.map(x => math.abs(x.toDouble)).max
      assert(scale == expScale)
      assert(q.length == v.length)
      if (expScale == 0.0) assert(q.forall(_ == 0))
      else v.zip(q).foreach { case (x, qi) =>
        assert(qi == math.floor(x.toDouble / expScale * 127.0 + 0.5).toInt)
        assert(qi >= -127 && qi <= 127)
        // dequantization error bound: scale/254 per coordinate
        assert(math.abs(qi * expScale / 127.0 - x.toDouble) <= expScale / 254.0 + 1e-12)
      }
    }
  }

  test("frame sampling + resize stubs: stride-correct, deterministic") {
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sf/documents.parquet"))
    val frames = Multimodal.sampleFrames(media, everyK = 30).collect()
    assert(frames.nonEmpty && frames.forall(_.error == null))
    frames.foreach { f =>
      assert(f.frame_idx % 30 == 0 && f.frame_idx < f.n_frames)
      assert(f.n_frames >= 1 && f.n_frames <= 241)
    }
    // per-video row count = ceil(n_frames / 30); signature matches the
    // content-hash formula recomputed independently
    val byMedia = frames.groupBy(_.media_id)
    byMedia.values.foreach { fs =>
      val nf = fs.head.n_frames
      assert(fs.length == ((nf + 29) / 30).toInt, s"media ${fs.head.media_id}")
    }
    val hashes = media.filter(_.kind == "video").collect()
      .map(b => b.media_id -> Multimodal.FakeDecoder.contentHash(b.blob)).toMap
    assert(byMedia.keySet == hashes.keySet)
    frames.foreach { f =>
      val h = hashes(f.media_id)
      assert(f.n_frames == h % 241 + 1)
      assert(f.frame_sig == (h % 1000000007L) * 31 + f.frame_idx)
    }
    val allHashes = media.collect()
      .map(b => b.media_id -> Multimodal.FakeDecoder.contentHash(b.blob)).toMap
    val resized = Multimodal.resize(media, 224, 224).collect()
    assert(resized.length == allHashes.size)
    resized.foreach { r =>
      assert(r.width == 224 && r.height == 224 && r.error == null)
      assert(r.resized_sig == (allHashes(r.media_id) % 1000000007L) * 8191 + 224L * 224)
    }
  }

  test("multimodal feature extraction: deterministic, error-free, size-correct") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs)).collect()
    assert(feats.length == docs.count())
    assert(feats.forall(_.error == null))
    val nchars = docs.select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    feats.foreach { f =>
      assert(f.n_bytes == nchars(f.media_id), s"byte/char mismatch for ${f.media_id}")
      assert(f.width > 0)
    }
    // determinism
    val feats2 = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs)).collect()
    assert(feats.map(_.checksum).toList == feats2.map(_.checksum).toList)
  }

  test("a custom MediaDecoder is picked up, with per-partition open()") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    val codec = new TrainingOpsSpec.StubCodec(false)
    val feats = Multimodal.extractFeatures(media, codec).collect()
    assert(feats.nonEmpty && feats.forall(f =>
      f.width == 7 && f.height == 5 && f.channels == 1 && f.checksum == 42L && f.error == null))
    val frames = Multimodal.sampleFrames(media, everyK = 2, decoder = codec).collect()
    assert(frames.nonEmpty && frames.forall(f => f.n_frames == 4L &&
      f.frame_sig == 100L + f.frame_idx))
    assert(frames.groupBy(_.media_id).values.forall(_.map(_.frame_idx).sorted.toList == List(0L, 2L)))
    val segs = Multimodal.chunkAudio(media, windowSamples = 4, strideSamples = 3,
      decoder = codec).collect()
    assert(segs.nonEmpty && segs.forall(s => s.n_samples == 10L && s.seg_sig == 200L + s.seg_start))
    val resized = Multimodal.resize(media, 8, 8, codec).collect()
    assert(resized.nonEmpty && resized.forall(_.resized_sig == 300L))
  }

  test("ImageIoDecoder: REAL planted media decode through the feature paths") {
    import Multimodal.{ImageIoDecoder, MediaBlob}
    // --- a real 37×21 RGB PNG, generated in-memory
    def pngBytes(w: Int, h: Int, seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 17 + seed) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // --- a real 3-frame GIF (the JDK's multi-image container)
    def gifBytes(frames: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      for (i <- 0 until frames) {
        val img = new java.awt.image.BufferedImage(8, 6,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until 8; y <- 0 until 6)
          img.setRGB(x, y, (i * 97 + x * 13 + y) & 0xffffff)
        w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      w.endWriteSequence(); w.dispose(); ios.close()
      bos.toByteArray
    }
    // --- a real 800-frame mono 8kHz PCM WAV
    def wavBytes(nFrames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val pcm = Array.tabulate[Byte](nFrames * 2)(i => (i * 7).toByte)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val blobs = spark.createDataset(Seq(
      MediaBlob(1L, "image", pngBytes(37, 21, 5)),
      MediaBlob(2L, "image", pngBytes(16, 16, 9)),
      MediaBlob(3L, "audio", wavBytes(800)),
      MediaBlob(4L, "video", gifBytes(3)),
      MediaBlob(5L, "image", Array[Byte](1, 2, 3)) // undecodable
    )).repartition(2)

    // q26's feature path, real dimensions out of real pixels
    val feats = Multimodal.extractFeatures(blobs, ImageIoDecoder)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width == 37 && feats(1L).height == 21 &&
      feats(1L).channels == 3 && feats(1L).error == null)
    assert(feats(2L).width == 16 && feats(2L).height == 16)
    assert(feats(3L).width == 8000 && feats(3L).channels == 1 &&
      feats(3L).error == null) // sample rate + mono from the WAV header
    assert(feats(5L).error != null) // bad blob -> error row, job survives
    // real frame count + per-frame pixel signatures from the GIF
    val frames = Multimodal.sampleFrames(blobs, everyK = 2,
      decoder = ImageIoDecoder).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toList == List(0L, 2L))
    assert(frames.forall(_.n_frames == 3L))
    assert(frames(0).frame_sig != frames(1).frame_sig) // distinct pixels
    // real PCM frame count drives segmentation
    val segs = Multimodal.chunkAudio(blobs, windowSamples = 300,
      strideSamples = 250, decoder = ImageIoDecoder).collect()
    assert(segs.forall(_.n_samples == 800L))
    assert(segs.map(_.seg_start).sorted.toList == List(0L, 250L, 500L))
    assert(segs.map(_.seg_sig).distinct.length == 3) // distinct windows
    // real resample: same image resized to different targets differs;
    // deterministic for the same target
    val r1 = ImageIoDecoder.resizeSignature(pngBytes(37, 21, 5), 8, 8)
    val r2 = ImageIoDecoder.resizeSignature(pngBytes(37, 21, 5), 8, 8)
    val r3 = ImageIoDecoder.resizeSignature(pngBytes(37, 21, 5), 9, 9)
    assert(r1 == r2 && r1 != r3)
  }

  test("rolling fingerprint: deterministic, content-sensitive") {
    val a = GraftFunctions.rollingFingerprint("the quick brown fox jumps over the lazy dog")
    val b = GraftFunctions.rollingFingerprint("the quick brown fox jumps over the lazy dog")
    val c = GraftFunctions.rollingFingerprint("completely different content with no shared 8-grams")
    assert(a == b)
    assert(a != c) // disjoint 8-gram sets → different min-hash fingerprint
    assert(GraftFunctions.rollingFingerprint("") == 0L)
    assert(GraftFunctions.rollingFingerprint("ab") == GraftFunctions.rollingFingerprint("ab"))
  }

  test("simhash: near-identical docs have small hamming distance") {
    val sh = graft.queries.TextQueries.q21SimHash(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the strongest jaccard pair should be simhash-close
    val top = graft.queries.TextQueries.q19NgramJaccard(spark, sf)
      .orderBy($"jaccard".desc).head()
    val (a, b) = (top.getLong(0), top.getLong(1))
    val hamming = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(hamming <= 4, s"near-dup pair ($a,$b) hamming=$hamming")
  }

  test("semdedup keeps exactly the lowest id of each duplicate bundle") {
    // 3 exact-duplicate bundles (cosine 1 within, ~orthogonal across):
    // only the lowest id of each bundle may survive
    val rows = (0 until 30).map { i =>
      val v = Array.fill(6)(0.01f); v(i % 3) = 1.0f
      (i.toLong, v.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = graft.operators.SemDeDup.dropVerdicts(corpus, k = 3, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(got.size == 30, "every vector gets a verdict")
    val kept = got.filter(!_._2).keys.toSet
    assert(kept == Set(0L, 1L, 2L), s"expected one rep per bundle, got $kept")
    // the distributed path (forceDistributed) must agree
    val dist = graft.operators.DriverFinish.forceDistributed(
        graft.operators.SemDeDup.dropVerdicts(corpus, k = 3, threshold = 0.99)
          .collect())
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(dist == got)
  }

  test("semdedup: driver-finish ≡ distributed on the sf0.001 embeddings") {
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    def m() = graft.operators.SemDeDup
      .dropVerdicts(corpus, k = 8, threshold = 0.35)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    val drv = m()
    val dist = graft.operators.DriverFinish.forceDistributed(m())
    assert(drv == dist)
    assert(drv.values.exists(_._2), "fixture should drop at least one vector")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("decontamination flags exactly the docs sharing an n-gram with the bench set") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon", true),   // benchmark
      (1L, "zeta beta gamma delta epsilon", false),   // shares "beta gamma delta epsilon"
      (2L, "one two three four five six", false),     // clean
      (3L, "alpha beta gamma delta", false),          // shares the full 4-gram
      (4L, "delta gamma beta alpha x", false))        // reversed: no shared 4-gram
      .toDF("doc_id", "text", "isBench")
    val got = graft.operators.Decontamination.verdicts(corpus, n = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), "benchmark rows excluded")
    assert(got(1L) == (1L, true), s"doc 1: ${got(1L)}") // shares only "beta gamma delta epsilon"
    assert(got(2L) == (0L, false))
    assert(got(3L) == (1L, true))
    assert(got(4L) == (0L, false))
  }

  test("mix interleave spreads strata at their target shares in every prefix") {
    val rows = graft.queries.TextQueries.q50MixInterleave(spark, sf)
      .orderBy(col("train_idx")).collect()
      .map(r => (r.getString(1), r.getLong(4)))
    assert(rows.map(_._2).toSeq == (1L to rows.length).toSeq, "train_idx is a dense rank")
    // in any sizable prefix each stratum sits near its share until it
    // runs out of documents (en 0.4, de 0.3, fr 0.2, es 0.1)
    val prefix = rows.take(100).map(_._1)
    val share = prefix.groupBy(identity).view.mapValues(_.length / 100.0).toMap
    assert(math.abs(share.getOrElse("en", 0.0) - 0.4) <= 0.1, share.toString)
    assert(math.abs(share.getOrElse("de", 0.0) - 0.3) <= 0.1, share.toString)
    assert(math.abs(share.getOrElse("fr", 0.0) - 0.2) <= 0.1, share.toString)
    assert(math.abs(share.getOrElse("es", 0.0) - 0.1) <= 0.1, share.toString)
  }

  test("mix interleave: eager-cut and lazy variants are result-identical") {
    def rows(cut: Boolean) =
      graft.queries.TextQueries.q50MixInterleaveImpl(spark, sf, Some(cut))
        .orderBy(col("train_idx")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .toSeq
    assert(rows(cut = true) == rows(cut = false),
      "size-gated localCheckpoint must not change the interleave")
  }

  test("decontamination: bloom-prefilter and full-shuffle regimes equal broadcast") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("isBench", col("source") === "src0")
    def rows(maxGrams: Long, maxBloomBytes: Long = 256L << 20) =
      graft.operators.Decontamination.verdicts(corpus, n = 4,
          maxBroadcastGrams = maxGrams, maxBloomBytes = maxBloomBytes)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val broadcastPath = rows(graft.operators.Decontamination.DefaultMaxBroadcastGrams)
    // budget of 1 gram forces past exact-broadcast; the bloom fits
    val bloomPath = rows(1)
    // bloom budget of 0 forces the full gram shuffle
    val shufflePath = rows(1, maxBloomBytes = 0)
    assert(broadcastPath.nonEmpty)
    assert(broadcastPath == bloomPath,
      "bloom prefilter must be invisible in the result (no false negatives)")
    assert(broadcastPath == shufflePath)
  }

  test("bloom_might_contain expression ≡ mightContainString (incl. non-ASCII)") {
    import org.apache.spark.sql.graft.ColumnBridge
    val items = Seq("alpha beta", "γάμμα δέλτα", "naïve café", "句読点 テスト", "")
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    items.foreach(bf.putString)
    val bc = spark.sparkContext.broadcast(bf)
    val probes = items ++ Seq("absent one", "ζ η θ", "naive cafe")
    val df = probes.toDF("g")
    val got = df.select(col("g"), ColumnBridge.column(
        graft.functions.BloomMightContain(ColumnBridge.expression(col("g")), bc))
        .as("native"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    probes.foreach { p =>
      assert(got(p) == bf.mightContainString(p),
        s"native expression disagrees with mightContainString on '$p'")
    }
    items.foreach(p => assert(got(p), s"inserted item '$p' must probe true"))
    bc.destroy()
  }

  test("bm25: hand-computed score on a tiny corpus; topDfTerms picks the df leader") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"),   // dl=3, tf(a)=2
      (2L, "a c"),     // dl=2
      (3L, "b b b b")  // dl=4
    ).toDF("doc_id", "text")
    val top = graft.operators.Bm25.topDfTerms(docs, "doc_id", "text", 1).collect()
    assert(top.length == 1 && top(0).getString(0) == "a" && top(0).getLong(1) == 2)
    val scored = graft.operators.Bm25
      .scoreTerms(docs, "doc_id", "text",
        top.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("term", "dfreq"), topN = 10)
      .orderBy($"rnk").collect()
    // N=3, T=9, term a: df=2. doc 1: tf=2, dl=3 →
    // num = (2·3−2·2+1)·44·2·9 = 3·44·18 = 2376
    // den = (2·2+1)·(20·2·9 + 6·9 + 18·3·3) = 5·(360+54+162) = 2880
    val expected1 = 2376.0 / 2880.0
    assert(scored.length == 2)
    assert(scored(0).getLong(1) == 1L && scored(0).getDouble(3) == expected1
      && scored(0).getLong(4) == 1L)
    // doc 2: tf=1 → num = 3·44·1·9 = 1188; den = 5·(180+54+108) = 1710
    assert(scored(1).getLong(1) == 2L && scored(1).getDouble(3) == 1188.0 / 1710.0)
  }

  test("hashed classifier: margin equals the manual bucket-weight sum; weights are data") {
    import spark.implicits._
    val docs = Seq((1L, "x y"), (2L, "x x x")).toDF("doc_id", "text")
    // custom 2-bucket model: every token lands in bucket md5%2
    val w = Seq((0, 5L), (1, -3L)).toDF("bucket", "weight")
    val got = graft.operators.HashedClassifier.score(docs, "doc_id", "text", w, nBuckets = 2)
      .orderBy($"doc_id").collect()
    def bucket(t: String): Int =
      (java.lang.Integer.parseInt(org.apache.commons.codec.digest.DigestUtils.md5Hex(t).substring(0, 4), 16)) % 2
    def wt(t: String): Long = if (bucket(t) == 0) 5L else -3L
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == wt("x") + wt("y"))
    assert(got(1).getLong(1) == 3L && got(1).getLong(2) == 3 * wt("x"))
    assert(got(1).getLong(3) == (if (3 * wt("x") > 0) 1L else 0L))
    // sparse model: buckets absent from the weight table weigh 0 but
    // their tokens still count (x and y hash to bucket 0 here, which
    // the 1-row model does not cover)
    val other = 1 - bucket("x")
    val sparse = Seq((other, 7L)).toDF("bucket", "weight")
    val got2 = graft.operators.HashedClassifier.score(docs, "doc_id", "text", sparse, nBuckets = 2)
      .orderBy($"doc_id").collect()
    assert(got2(0).getLong(1) == 2L && got2(0).getLong(2) == 0L && got2(0).getLong(3) == 0L)
    assert(got2(1).getLong(1) == 3L && got2(1).getLong(2) == 0L)
  }

  test("dsir weights: pure-target doc scores above 1, disjoint-vocab doc scores 0-ish ratio") {
    import spark.implicits._
    // target tokens {t}, raw-only tokens {r}; doc 1 pure target vocab
    val docs = Seq(
      (1L, "t t t", "en"), (2L, "t r", "en"), (3L, "r r r r r", "de")
    ).toDF("doc_id", "text", "lang")
    val got = graft.operators.DsirWeights.weights(docs, "doc_id", "text", $"lang" === "en")
      .orderBy($"doc_id").collect()
    // corpus: t appears 4× (all in en), r 6× (1 en + 5 de); T_raw=10, T_tgt=5
    // doc 1: A = 3·4 = 12, B = 3·4 = 12 → w = 12·10/(12·5) = 2.0
    assert(got(0).getLong(2) == 12L && got(0).getLong(3) == 12L
      && got(0).getDouble(4) == 2.0)
    // doc 3: A = 5·1 = 5 (r occurs once in target), B = 5·6 = 30
    assert(got(2).getLong(2) == 5L && got(2).getLong(3) == 30L
      && got(2).getDouble(4) == (5.0 * 10) / (30.0 * 5))
  }

  test("recallAtK: self-recall is 1; empty approximate side yields zero rows with 0s") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("query_id", "neighbor_id")
    val self = graft.operators.Similarity.recallAtK(exact, exact, k = 2)
      .orderBy($"query_id").collect()
    assert(self.map(_.getDouble(3)).toSeq == Seq(1.0, 0.5)) // q2 has 1 of k=2
    val none = graft.operators.Similarity
      .recallAtK(exact, exact.filter($"query_id" < 0), k = 2)
      .orderBy($"query_id").collect()
    assert(none.length == 2 && none.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L
      && r.getDouble(3) == 0.0))
  }

  test("bigram LM: hand-computed scores; short docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),  // bigrams: ab, ba, ab
      (2L, "a b"),      // bigrams: ab
      (3L, "x")         // none — absent from output
    ).toDF("doc_id", "text")
    val got = graft.operators.UnigramLm.scoreNgrams(docs, "doc_id", "text", 2)
      .orderBy($"doc_id").collect()
    // corpus bigram counts: "a b"→3, "b a"→1, total=4
    assert(got.length == 2)
    assert(got(0).getLong(1) == 3L && got(0).getLong(2) == 3 + 1 + 3)
    assert(got(0).getDouble(3) == 7.0 / (3 * 4))
    assert(got(1).getLong(1) == 1L && got(1).getLong(2) == 3L
      && got(1).getDouble(3) == 3.0 / (1 * 4))
  }

  test("hashed margin: native kernel ≡ aggregate-HOF fold ≡ batch join, corpus-wide") {
    import graft.operators.HashedClassifier
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = (0 until 256).map(i => i -> ((i * 37L + 11) % 2001 - 1000)).toMap
    val native = docs.select($"doc_id",
        call_function("hashed_margin", $"text", typedLit(w), lit(256)).as("m"))
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val hof = docs.select($"doc_id",
        HashedClassifier.marginExpr($"text", w, 256).as("m"))
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val joined = HashedClassifier.score(docs, "doc_id", "text",
        HashedClassifier.demoWeights(docs, 256), nBuckets = 256)
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(native.toSeq == hof.toSeq)
    assert(native.toSeq == joined.toSeq)
    // sparse map: missing buckets weigh 0 in the native kernel too
    val sparseW = Map(0 -> 3L)
    val ns = docs.limit(20).select($"doc_id",
        call_function("hashed_margin", $"text", typedLit(sparseW), lit(256)).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hs = docs.limit(20).select($"doc_id",
        HashedClassifier.marginExpr($"text", sparseW, 256).as("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ns == hs)
  }

  test("perceptron: hand-computed batch epochs on a 2-bucket separable corpus") {
    import spark.implicits._
    import graft.operators.{HashedClassifier, Perceptron}
    // tokens x and y land in distinct buckets (nBuckets=2 split them
    // unless md5 collides — assert they differ)
    def bucket(t: String): Int =
      java.lang.Integer.parseInt(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(t).substring(0, 4), 16) % 2
    val (bx, by) = (bucket("x"), bucket("z"))
    assert(bx != by)
    val docs = Seq((1L, "x x", 1L), (2L, "z z z", -1L)).toDF("doc_id", "text", "y")
    // epoch 1: w=0, margins 0, both misclassified:
    //   dw[bx] = +1*2, dw[by] = -1*3 -> w = {bx:2, by:-3}
    // epoch 2: margins: doc1 = 2*2 = 4 (correct), doc2 = 3*-3 = -9,
    //   y*margin = (-1)(-9) = 9 > 0 correct -> no update
    val w = Perceptron.learn(docs, "doc_id", "text", $"y", nBuckets = 2, epochs = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(w == Map(bx -> 2L, by -> -3L))
    val ev = Perceptron.evaluate(docs, "doc_id", "text", $"y",
        Seq((bx, 2L), (by, -3L)).toDF("bucket", "weight"), nBuckets = 2)
      .orderBy($"doc_id").collect()
    assert(ev.map(_.getLong(3)).toSeq == Seq(1L, 1L))
    assert(ev.map(_.getLong(2)).toSeq == Seq(4L, -9L))
    // the learned frame drives the inference operator unchanged
    val inf = HashedClassifier.score(docs, "doc_id", "text",
        Seq((bx, 2L), (by, -3L)).toDF("bucket", "weight"), nBuckets = 2)
      .orderBy($"doc_id").collect()
    assert(inf.map(_.getLong(3)).toSeq == Seq(1L, 0L)) // keep=margin>0
  }

  test("perceptron: driver-finish ≡ distributed epochs on the sf0.001 corpus") {
    import spark.implicits._
    import graft.operators.{DriverFinish, Perceptron}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val label = when($"lang" === "en", 1L).otherwise(-1L)
    def wmap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val wDriver = wmap(Perceptron.learn(docs, "doc_id", "text", label,
      nBuckets = 64, epochs = 3))
    val wDist = wmap(DriverFinish.forceDistributed(Perceptron.learn(docs,
      "doc_id", "text", label, nBuckets = 64, epochs = 3)))
    assert(wDriver == wDist)
    assert(wDriver.nonEmpty)
    // the fused learn+eval path must equal learn-then-evaluate
    val (_, evDriver) = Perceptron.learnAndEvaluate(docs, "doc_id", "text",
      label, nBuckets = 64, epochs = 3)
    val evDist = Perceptron.evaluate(docs, "doc_id", "text", label,
      DriverFinish.forceDistributed(Perceptron.learn(docs, "doc_id", "text",
        label, nBuckets = 64, epochs = 3)), nBuckets = 64)
    def evRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(evRows(evDriver) == evRows(evDist))
    assert(spark.sharedState.cacheManager.isEmpty,
      "perceptron paths leaked cache entries")
  }

  test("ann recall eval: q78 bounds — ivf/lsh recall in [0,1], hits <= n_approx") {
    val rows = graft.queries.VectorQueries.q78AnnRecall(spark, sf).collect()
    assert(rows.length == 20) // 2 methods × 10 queries
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2)) // hits <= n_approx
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }
}

object TrainingOpsSpec {
  /** Custom decoder whose open() returns a DIFFERENT instance (the
    * native-resource shape): operators must decode through the opened
    * instance. Top-level so the closure ships without the suite. */
  class StubCodec(val opened: Boolean) extends Multimodal.MediaDecoder {
    override def open(): Multimodal.MediaDecoder = new StubCodec(true)
    private def requireOpened(): Unit = require(opened, "decode before open()")
    def decodeDims(kind: String, bytes: Array[Byte]): (Int, Int, Int) = { requireOpened(); (7, 5, 1) }
    def contentHash(bytes: Array[Byte]): Long = { requireOpened(); 42L }
    def frameCount(bytes: Array[Byte]): Long = { requireOpened(); 4L }
    def frameSignature(bytes: Array[Byte], i: Long): Long = { requireOpened(); 100L + i }
    def sampleCount(bytes: Array[Byte]): Long = { requireOpened(); 10L }
    def segmentSignature(bytes: Array[Byte], st: Long): Long = { requireOpened(); 200L + st }
    def resizeSignature(bytes: Array[Byte], w: Int, h: Int): Long = { requireOpened(); 300L }
  }
}
