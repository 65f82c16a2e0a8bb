package graft.operators

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("asof: most recent right row at or before left ts, per key") {
    val left = Seq((1L, 100L, "a"), (1L, 205L, "b"), (2L, 50L, "c"), (3L, 10L, "d"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 100L, 9.0), (1L, 200L, 8.0), (1L, 300L, 7.0), (2L, 40L, 6.0))
      .toDF("k", "rts", "rv")
    val out = AsOfJoin.asof(left, right, Seq("k"), "ts", "rts", Seq("rv"))
      .select($"k", $"ts", $"tag", $"asof_rv").as[(Long, Long, String, Option[Double])]
      .collect().toSet
    assert(out == Set(
      (1L, 100L, "a", Some(9.0)),   // equal ts is inclusive
      (1L, 205L, "b", Some(8.0)),   // skips future 300
      (2L, 50L, "c", Some(6.0)),
      (3L, 10L, "d", None)))        // no right row for key
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again today"), // near dup of 1
    (4L, "completely different words appear here nothing shared with others at all ok")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .select($"keeper_id", $"n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("minhash signature is identical for identical docs, differs across unrelated docs") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
  }

  test("LSH pairs find exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.3)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 1.0)
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("incremental dedup: new batch filtered against the corpus only") {
    val corpus = docs.where($"doc_id" <= 2) // holds doc 1 + its exact dup 2
    val newBatch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // exact copy of stored 1
      (11L, "the quick brown fox jumps over the lazy cat again and again today"), // near dup of stored 1
      (12L, "completely different words appear here nothing shared with others at all ok"), // genuinely new
      (13L, "completely different words appear here nothing shared with others at all ok")  // dup WITHIN batch — kept (within-batch dedup composes separately)
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(newBatch, corpus, "doc_id", "text",
        threshold = 0.3)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))
  }

  test("simhash: identical docs equal; near dups within small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming <= 6, s"near-dup hamming=$hamming")
  }

  test("ngram jaccard: exact value for known overlap") {
    val two = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // 3-shingles: {a b c, b c d} vs {a b c, b c e} → |∩|=1, |∪|=3
    val j = Dedup.ngramJaccardPairs(two, "doc_id", "text")
      .select($"jaccard").as[Double].head()
    assert(math.abs(j - 1.0 / 3.0) < 1e-6)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 4-dim toy corpus with known geometry
  private lazy val emb = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f, 0f)),  // closest to 0
    (2L, Array(0f, 1f, 0f, 0f)),      // orthogonal to 0
    (3L, Array(0.5f, 0.5f, 0f, 0f)),
    (4L, Array(-1f, 0f, 0f, 0f))      // opposite of 0
  ).toDF("vec_id", "embedding")

  test("brute-force knn ranks by cosine with correct order") {
    val got = Similarity.bruteForceKnn(emb, emb.where($"vec_id" === 0), "vec_id", "embedding", k = 4)
      .orderBy($"rank").select($"nn_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L, 2L, 4L))
  }

  test("lsh knn returns a subset of true ranking, exactly re-ranked") {
    val brute = Similarity.bruteForceKnn(emb, emb.where($"vec_id" === 0), "vec_id", "embedding", k = 4)
      .select($"nn_id", $"cosine").as[(Long, Double)].collect().toMap
    val lsh = Similarity.lshKnn(emb, emb.where($"vec_id" === 0), "vec_id", "embedding",
      dim = 4, k = 4, planes = 2, tables = 2)
      .select($"nn_id", $"cosine").as[(Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, cos) => assert(brute(id) == cos) } // same exact scores
  }

  test("ivf knn searches only the probe's cell but scores exactly") {
    val got = Similarity.ivfKnn(emb, emb.where($"vec_id" === 0), "vec_id", "embedding",
      dim = 4, k = 3, nCells = 2)
    assert(got.count() >= 1)
  }

  test("pq knn: ADC ranks the obvious geometry, deterministically") {
    // 2 subspaces of 2 dims, 2 codewords each: quantization groups the
    // x-axis family apart from the orthogonal/opposite vectors, so the
    // clear nearest neighbour (1) must rank above the opposite (4)
    def run() = Similarity.pqKnn(emb, emb.where($"vec_id" === 0),
      "vec_id", "embedding", dim = 4, m = 2, kCodes = 2, iters = 1,
      topK = 4)
      .orderBy($"rank").select($"nn_id", $"adist").as[(Long, Double)]
      .collect().toSeq
    val got = run()
    assert(got.map(_._1).indexOf(1L) < got.map(_._1).indexOf(4L), got)
    // approximate distances are non-negative and non-decreasing in rank
    assert(got.map(_._2).forall(_ >= 0.0))
    assert(got.map(_._2) == got.map(_._2).sorted)
    // deterministic end to end (bootstrap, means, ties, tables)
    assert(run() == got)
    // self-match excluded
    assert(!got.map(_._1).contains(0L))
  }

  test("ivf+pq: cell pruning composes with ADC, candidates stay pruned") {
    val got = Similarity.ivfPqKnn(emb, emb.where($"vec_id" === 0),
      "vec_id", "embedding", dim = 4, nCells = 2, nProbe = 1,
      m = 2, kCodes = 2, iters = 1, topK = 4)
      .select($"nn_id", $"adist").as[(Long, Double)].collect().toSeq
    // searching ONE of two cells cannot return the whole corpus
    assert(got.nonEmpty && got.size < 4, got)
    assert(got.map(_._2).forall(_ >= 0.0))
    // nProbe = nCells degrades to full-corpus PQ (same candidate set)
    val full = Similarity.ivfPqKnn(emb, emb.where($"vec_id" === 0),
      "vec_id", "embedding", dim = 4, nCells = 2, nProbe = 2,
      m = 2, kCodes = 2, iters = 1, topK = 4)
      .select($"nn_id", $"adist").as[(Long, Double)].collect().toSet
    val pq = Similarity.pqKnn(emb, emb.where($"vec_id" === 0),
      "vec_id", "embedding", dim = 4, m = 2, kCodes = 2, iters = 1,
      topK = 4)
      .select($"nn_id", $"adist").as[(Long, Double)].collect().toSet
    assert(full == pq)
  }

  test("residual IVFADC: recall@5 beats-or-ties the global-codebook variant") {
    // a deterministic clustered corpus — residual coding's home turf:
    // the cell centroid absorbs the coarse geometry, the shared
    // codebook only has to quantize the tight within-cluster residuals
    val n = 150; val dim = 64; val probes = 5
    val rows = (0L until n.toLong).map { i =>
      val cl = (i % 5).toInt
      (i, Array.tabulate(dim) { j =>
        (math.sin(cl * 97 + j) * 2.0 +
          math.cos((i * 31 + j * 7).toDouble) * 0.12).toFloat
      })
    }
    val emb = rows.toDF("vec_id", "embedding")
    val probeDf = emb.where($"vec_id" < probes)
    // exact top-5 by squared L2, self excluded — the recall ground truth
    val vecs = rows.toMap.map { case (i, a) => i -> a.map(_.toDouble) }
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }
    val exact = (0L until probes.toLong).map { p =>
      p -> vecs.collect { case (i, v) if i != p => (sq(vecs(p), v), i) }
        .toSeq.sorted.take(5).map(_._2).toSet
    }.toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"probe_id", $"nn_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
      (0L until probes.toLong).map { p =>
        got.getOrElse(p, Set.empty).intersect(exact(p)).size / 5.0
      }.sum / probes
    }
    val glob = recallOf(Similarity.ivfPqKnn(emb, probeDf,
      "vec_id", "embedding", dim = dim, nCells = 8, nProbe = 2,
      m = 2, kCodes = 4, iters = 1, topK = 5))
    val res = recallOf(Similarity.ivfPqResidualKnn(emb, probeDf,
      "vec_id", "embedding", dim = dim, nCells = 8, nProbe = 2,
      m = 2, kCodes = 4, iters = 1, topK = 5))
    assert(res >= glob, s"residual recall $res < global-codebook $glob")
    assert(res > 0.0, s"residual recall degenerate: $res")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq((0L, "abc def"), (1L, "xyz"), (2L, "frame sample text here"))
    .toDF("doc_id", "text")

  test("featurize: deterministic stub features, payload not carried downstream") {
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    val f1 = Multimodal.featurize(media, featureDim = 4).collect().sortBy(_.media_id)
    val f2 = Multimodal.featurize(media, featureDim = 4).collect().sortBy(_.media_id)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
    assert(f1.forall(_.n_bytes > 0))
    assert(f1.map(_.kind).toSet.subsetOf(Set("image", "audio", "video")))
  }

  test("PNG round trip: ImageIO decode returns the formula pixels exactly") {
    val (id, w, h) = (42L, 13, 7)
    val st = Multimodal.decodeImage(Multimodal.makePng(id, w, h)).get
    assert(st.width == w && st.height == h && st.channels == 3)
    val px = for (y <- 0 until h; x <- 0 until w) yield (x, y)
    assert(st.sumR == px.map { case (x, y) => Multimodal.pixelR(id, x, y).toLong }.sum)
    assert(st.sumG == px.map { case (x, y) => Multimodal.pixelG(id, x, y).toLong }.sum)
    assert(st.sumB == px.map { case (x, y) => Multimodal.pixelB(id, x, y).toLong }.sum)
    assert(st.histR.sum == w.toLong * h) // every pixel lands in one bin
    assert(Multimodal.decodeImage("not a png".getBytes) == None)
  }

  test("featurize really decodes image payloads: dims, channels, hist features") {
    val media = Multimodal.withImagePayloads(
      Multimodal.synthesize(docs, "doc_id", "text"))
    val imgs = Multimodal.featurize(media).collect().filter(_.kind == "image")
    assert(imgs.nonEmpty)
    imgs.foreach { f =>
      val (w, h) = ((f.media_id % 13 + 4).toInt, (f.media_id % 11 + 4).toInt)
      assert(f.width == Some(w) && f.height == Some(h) && f.channels == Some(3))
      assert(f.n_bytes > 0) // PNG-encoded size
      assert(math.abs(f.features.sum - 1.0f) < 1e-5) // normalized histogram
      val px = for (y <- 0 until h; x <- 0 until w) yield
        Multimodal.pixelR(f.media_id, x, y).toLong
      assert(f.px_sum_r == Some(px.sum))
    }
  }

  test("resize: decode -> exact nearest-neighbor -> PNG re-encode") {
    val media = Multimodal.withImagePayloads(
      Multimodal.synthesize(docs, "doc_id", "text"))
    val out = Multimodal.resize(media, w = 8, h = 6)
    val img = out.where($"kind" === "image").select($"media_id", $"payload", $"meta.mime")
      .collect()
    assert(img.nonEmpty)
    img.foreach { r =>
      val id = r.getLong(0)
      val st = Multimodal.decodeImage(r.getAs[Array[Byte]](1)).get
      assert(st.width == 8 && st.height == 6)
      assert(r.getString(2) == "image/png")
      val (sw, sh) = ((id % 13 + 4).toInt, (id % 11 + 4).toInt)
      val want = (for (y <- 0 until 6; x <- 0 until 8) yield
        Multimodal.pixelR(id, x * sw / 8, y * sh / 6).toLong).sum
      assert(st.sumR == want)
    }
    // non-image rows: meta records the target dims, payload untouched
    val av = out.where($"kind" =!= "image")
      .select($"meta.width", $"meta.height").distinct().collect()
    assert(av.forall(r => r.getInt(0) == 8 && r.getInt(1) == 6))
  }

  test("WAV round trip: javax.sound decode returns the formula samples exactly") {
    for (id <- Seq(1L, 4L, 7L, 10L)) {
      val st = Multimodal.decodeAudio(Multimodal.makeWav(id)).get
      val (ch, n, rate) = (Multimodal.audioChannels(id),
        Multimodal.audioFrames(id), Multimodal.audioRate(id))
      // format fields come from the RIFF header, not any side channel
      assert(st.sample_rate == rate && st.channels == ch && st.n_samples == n)
      assert(st.duration_ms == n * 1000L / rate)
      val vals = for (s <- 0L until n; c <- 0 until ch) yield
        Multimodal.pcmSample(id, c, s).toLong
      assert(st.pcm_sum == vals.sum)
      assert(st.pcm_peak == vals.map(math.abs).max)
      val wantRms = math.sqrt(vals.map(v => v.toDouble * v).sum / (n * ch))
      assert(math.abs(st.rms - wantRms) < 1e-9, s"id=$id rms=${st.rms} want=$wantRms")
    }
    assert(Multimodal.decodeAudio("not a wav".getBytes) == None)
    assert(Multimodal.decodeAudio(null) == None)
  }

  test("audioFeatures decodes audio rows only, map-side, payload dropped") {
    val media = Multimodal.withAudioPayloads(
      Multimodal.synthesize(docs, "doc_id", "text"))
    val stats = Multimodal.audioFeatures(media).collect()
    // only 'audio' rows (doc_id % 3 == 1) decode
    assert(stats.map(_.media_id).toSet == Set(1L))
    assert(stats.head.sample_rate == Multimodal.audioRate(1L))
    // the audio kind's mime was stamped by the payload writer
    val mimes = media.where($"kind" === "audio")
      .select($"meta.mime").as[String].collect().toSet
    assert(mimes == Set("audio/wav"))
  }

  test("downsample: decimated WAV re-decodes to exactly the kept frames") {
    val media = Multimodal.withAudioPayloads(
      Multimodal.synthesize(docs, "doc_id", "text"))
    val out = Multimodal.downsampleAudio(media, factor = 2)
    val stats = Multimodal.audioFeatures(out).collect()
    assert(stats.map(_.media_id).toSet == Set(1L))
    val st = stats.head
    val id = 1L
    val (ch, n, rate) = (Multimodal.audioChannels(id),
      Multimodal.audioFrames(id), Multimodal.audioRate(id))
    assert(st.sample_rate == rate / 2 && st.n_samples == (n + 1) / 2)
    val vals = for (s <- 0L until n if s % 2 == 0; c <- 0 until ch) yield
      Multimodal.pcmSample(id, c, s).toLong
    assert(st.pcm_sum == vals.sum && st.pcm_peak == vals.map(math.abs).max)
    // non-audio rows pass through untouched
    val others = out.where($"kind" =!= "audio")
      .select($"meta.sample_rate").distinct().as[Int].collect().toSet
    assert(others == Set(16000))
  }

  test("frame sampling strides over n_frames") {
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, stride = 10)
    val byId = frames.groupBy($"media_id").count().as[(Long, Long)].collect().toMap
    // only 'video' rows (doc_id % 3 == 2) produce frames
    assert(byId.keySet == Set(2L))
  }

  test("AVI/DIB round trip: container parse + frame decode return the formula exactly") {
    for (id <- Seq(2L, 5L, 8L, 11L, 23L)) {
      val st = Multimodal.decodeVideo(Multimodal.makeAvi(id)).get
      val (w, h, n, fps) = (Multimodal.videoW(id), Multimodal.videoH(id),
        Multimodal.videoFrameCount(id), Multimodal.videoFps(id))
      // dims/fps come from the avih/strh/strf headers, count from movi
      assert(st.width == w && st.height == h && st.fps == fps && st.n_frames == n)
      assert(st.duration_ms == n * 1000L / fps)
      val px = for (f <- 0 until n; y <- 0 until h; x <- 0 until w) yield (f, x, y)
      assert(st.sum_r == px.map { case (f, x, y) => Multimodal.vpxR(id, f, x, y).toLong }.sum)
      assert(st.sum_g == px.map { case (f, x, y) => Multimodal.vpxG(id, f, x, y).toLong }.sum)
      assert(st.sum_b == px.map { case (f, x, y) => Multimodal.vpxB(id, f, x, y).toLong }.sum)
    }
    assert(Multimodal.decodeVideo("not an avi".getBytes) == None)
    assert(Multimodal.decodeVideo(null) == None)
    // torn container: truncating mid-movi must not throw
    val whole = Multimodal.makeAvi(3L)
    assert(Multimodal.decodeVideo(java.util.Arrays.copyOf(whole, whole.length / 2)) == None)
  }

  test("AVI/MJPEG: headers exact, frames really JPEG-decoded within tolerance") {
    for (id <- Seq(2L, 8L, 14L)) {
      val st = Multimodal.decodeVideo(Multimodal.makeAvi(id, codec = "MJPG")).get
      val (w, h, n, fps) = (Multimodal.videoW(id), Multimodal.videoH(id),
        Multimodal.videoFrameCount(id), Multimodal.videoFps(id))
      assert(st.width == w && st.height == h && st.fps == fps && st.n_frames == n)
      // JPEG is lossy: per-pixel mean must land near the formula mean
      val nPx = n.toLong * w * h
      val exact = Multimodal.decodeVideo(Multimodal.makeAvi(id)).get
      assert(math.abs(st.sum_r - exact.sum_r).toDouble / nPx < 32.0,
        s"id=$id mjpeg sum_r=${st.sum_r} dib=${exact.sum_r}")
      assert(math.abs(st.sum_g - exact.sum_g).toDouble / nPx < 32.0)
      assert(math.abs(st.sum_b - exact.sum_b).toDouble / nPx < 32.0)
    }
  }

  test("videoFeatures decodes video rows only; sampled frames re-decode from PNG") {
    val media = Multimodal.withVideoPayloads(
      Multimodal.synthesize(docs, "doc_id", "text"))
    val stats = Multimodal.videoFeatures(media).collect()
    // only 'video' rows (doc_id % 3 == 2) decode
    assert(stats.map(_.media_id).toSet == Set(2L))
    assert(stats.head.fps == Multimodal.videoFps(2L))
    val mimes = media.where($"kind" === "video")
      .select($"meta.mime").as[String].collect().toSet
    assert(mimes == Set("video/avi"))

    val frames = Multimodal.sampleFramesDecoded(media, stride = 2).collect()
      .sortBy(_.frame_idx)
    val n = Multimodal.videoFrameCount(2L)
    assert(frames.map(_.frame_idx).toSeq == (0 until n by 2).toSeq)
    frames.foreach { fr =>
      // the PNG re-encode decodes back to the exact frame pixels
      val img = Multimodal.decodeImage(fr.frame_png).get
      assert(img.width == fr.width && img.height == fr.height)
      assert(img.sumR == fr.sum_r && img.sumG == fr.sum_g && img.sumB == fr.sum_b)
      val want = (for (y <- 0 until fr.height; x <- 0 until fr.width) yield
        Multimodal.vpxR(2L, fr.frame_idx, x, y).toLong).sum
      assert(fr.sum_r == want)
    }
  }
}

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data (inner + left)") {
    // 90% of fact rows share one hot key
    val big = (1 to 500).map(i =>
      (if (i % 10 == 0) i.toLong % 7 else 42L, i.toLong)).toDF("k", "payload")
    val small = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (99L, "unmatched"))
      .toDF("k", "name")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"payload", $"name").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sorted.toSeq
    val plainInner = big.join(small, Seq("k"))
    val saltedInner = SkewJoin.saltedJoin(big, small, Seq("k"), salts = 8)
    assert(canon(saltedInner) == canon(plainInner))
    val plainLeft = big.join(small, Seq("k"), "left")
    val saltedLeft = SkewJoin.saltedJoin(big, small, Seq("k"), salts = 8, "left")
    assert(canon(saltedLeft) == canon(plainLeft))
  }
}

class TextPipelineScoreSpec extends SparkSpec {
  import spark.implicits._

  test("unigram logprob: common-token docs outscore rare-token docs; exact MLE math") {
    // corpus: 8 tokens total; "a" appears 4x (p=1/2), b,c,d,e once (p=1/8)
    val docs = Seq((1L, "a a a a"), (2L, "b c d e")).toDF("doc_id", "text")
    val got = TextPipeline.unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == 4 && got(2L)._1 == 4)
    assert(got(1L)._2 == math.rint(math.log(0.5) * 1e6) / 1e6)
    assert(got(2L)._2 == math.rint(math.log(0.125) * 1e6) / 1e6)
    assert(got(1L)._2 > got(2L)._2)
  }
}
