package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Ann

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus = {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "mu", "nu", "xi", "pi", "rho", "sigma")
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // planted near-dups: id+1000 = id's text + small tail
    val near = base.filter(_._1 % 4 == 0).map { case (id, t) => (id + 1000, t + " tail x") }
    // planted exact dups: id+2000 = verbatim copy
    val exact = base.filter(_._1 % 6 == 0).map { case (id, t) => (id + 2000, t) }
    (base ++ near ++ exact).toDF("id", "text")
  }

  test("exact dedup finds verbatim copies, keeps min id") {
    val groups = Dedup.exactDuplicates(corpus, "id", "text").collect()
    val keepIds = groups.map(_.getAs[Long]("keep_id")).toSet
    assert(keepIds == (0 until 60 by 6).map(_.toLong).toSet)
    assert(groups.forall(_.getAs[Long]("n_dups") == 2))
  }

  test("minhash LSH candidates include all planted near-dups") {
    val pairs = Dedup.minHashNearDups(corpus, "id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (id <- 0 until 60 by 4)
      assert(pairs.contains((id.toLong, id + 1000L)), s"missed near-dup $id")
  }

  test("verifyJaccard agrees with TextStats.jaccard") {
    val cands = Dedup.minHashCandidates(corpus, "id", "text", 3, 8, 4)
    val verified = Dedup.verifyJaccard(cands, corpus, "id", "text", 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val texts = corpus.as[(Long, String)].collect().toMap
    for ((a, b, j) <- verified)
      assert(j == graft.text.TextStats.jaccard(texts(a), texts(b), 3))
  }

  test("simhash finds near-dups within hamming budget") {
    val pairs = Dedup.simHashNearDups(corpus, "id", "text", maxDist = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact copies have hamming 0 → must all be found
    for (id <- 0 until 60 by 6)
      assert(pairs.contains((id.toLong, id + 2000L)), s"missed exact pair $id")
  }

  test("fingerprint overlap finds exact copies") {
    val pairs = Dedup.fingerprintOverlap(corpus, "id", "text", minShared = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (id <- 0 until 60 by 6)
      assert(pairs.contains((id.toLong, id + 2000L)), s"missed $id")
  }

  test("hot-fingerprint cap kills boilerplate skew, keeps real overlap") {
    val rnd = new scala.util.Random(5)
    val boiler = (0 until 30).map(i => s"boiler$i").mkString(" ")
    // 60 docs: unique head + IDENTICAL 30-token boilerplate tail
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until 40).map(_ => s"u${rnd.nextInt(100000)}").mkString(" ") + " " + boiler)
    }
    // plus one genuine near-dup pair sharing a long unique run
    val sharedRun = (0 until 30).map(i => s"shared$i").mkString(" ")
    val all = (docs ++ Seq((1000L, "xa xb " + sharedRun), (1001L, "yc yd " + sharedRun)))
      .toDF("id", "text")
    val uncapped = Dedup.fingerprintOverlap(all, "id", "text", minShared = 2, maxDocFreq = 0)
    val capped = Dedup.fingerprintOverlap(all, "id", "text", minShared = 2, maxDocFreq = 10)
    // boilerplate alone created ~60*59/2 pairs without the cap
    assert(uncapped.count() > 1000L)
    val cappedPairs = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedPairs.contains((1000L, 1001L)), "real overlap lost by the cap")
    assert(!cappedPairs.exists { case (a, b) => a < 60 && b < 60 },
      "boilerplate pairs survived the cap")
  }

  test("LSH bucket-occupancy cap kills template-cluster skew, keeps real pairs") {
    // 80 docs sharing ONE template text (identical signatures → every band
    // bucket holds all 80 → 80·79/2 pairs per band uncapped), plus a planted
    // genuine near-dup pair with unique text
    val template = (0 until 40).map(i => s"tmpl$i").mkString(" ")
    val unique = (0 until 40).map(i => s"uniq$i").mkString(" ")
    val docs = ((0 until 80).map(i => (i.toLong, template)) ++
      Seq((1000L, unique), (1001L, unique + " tail")))
      .toDF("id", "text")
    val uncapped = Dedup.minHashCandidates(docs, "id", "text", 3, 8, 4)
    val capped = Dedup.minHashCandidates(docs, "id", "text", 3, 8, 4, maxBucket = 10)
    assert(uncapped.count() > 3000L) // the template cluster's pair blow-up
    val pairs = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1000L, 1001L)), "real near-dup lost by the cap")
    assert(!pairs.exists { case (a, b) => a < 80 && b < 80 },
      "template-cluster pairs survived the cap")
    // same cap on the cosine path: identical vectors bucket together
    val vecs = ((0 until 80).map(i => (i.toLong, Seq.fill(16)(0.5f))) ++
      Seq((1000L, Seq.tabulate(16)(j => if (j < 8) -1f else 1f)),
        (1001L, Seq.tabulate(16)(j => if (j < 8) -1f else 0.9f))))
      .toDF("id", "vec")
    val cosCapped = Dedup.cosineNearDupsBucketed(vecs, "id", "vec", 0.9,
      (0 until 4).map(t => graft.functions.srp_bucket(col("vec"), 4, seed = 7 + t)),
      maxBucket = 10)
    val cosPairs = cosCapped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cosPairs.contains((1000L, 1001L)), "real cosine pair lost by the cap")
    assert(!cosPairs.exists { case (a, b) => a < 80 && b < 80 })
  }

  test("exact duplicate members come back as rows, not arrays") {
    val m = Dedup.exactDuplicateMembers(corpus, "id", "text")
      .select("keep_id", "id").as[(Long, Long)].collect().toSet
    // each exact-dup group {id, id+2000} contributes two member rows
    for (id <- 0 until 60 by 6) {
      assert(m.contains((id.toLong, id.toLong)))
      assert(m.contains((id.toLong, id + 2000L)))
    }
    assert(m.forall { case (k, _) => k % 6 == 0 && k < 60 })
  }

  test("cosine near-dups: perturbed copy is closest") {
    val vecs = (0 until 30).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f).toSeq)
    }
    val near = vecs.take(5).map { case (id, v) =>
      (id + 100, v.updated(0, v(0) + 0.01f)) }
    val df = (vecs ++ near).toDF("id", "vec")
    val pairs = Dedup.cosineNearDups(df, "id", "vec", threshold = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (id <- 0L until 5L) assert(pairs.contains((id, id + 100)))
  }

  test("keepBestInClusters: argmax quality wins, ties break to min id") {
    // cluster 1 = {1,2,3} scores {10,30,30} → best score 30, tie → id 2
    // cluster 5 = {5,6}   scores {7,4}     → id 5
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "cluster_id")
    val quality = Seq((1L, 10L), (2L, 30L), (3L, 30L), (5L, 7L), (6L, 4L))
      .toDF("id", "score")
    val got = Dedup.keepBestInClusters(labels, quality)
      .select("id", "keep_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 5L -> 5L, 6L -> 5L))
  }

  test("keepBestInClusters is exact on a mega-cluster (no window funnel)") {
    val n = 5000
    val labels = (0 until n).map(i => (i.toLong, 0L)).toDF("id", "cluster_id")
    // best score is shared by ids 777 and 4777 → keep 777
    val quality = (0 until n)
      .map(i => (i.toLong, if (i % 4000 == 777) 99999L else (i % 1000).toLong))
      .toDF("id", "score")
    val got = Dedup.keepBestInClusters(labels.repartition(8), quality)
      .select("keep_id").distinct().as[Long].collect().toSeq
    assert(got == Seq(777L))
  }
}

class SimhashCapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("simhash block cap suppresses a mega-clique without touching ordinary pairs") {
    val base = (0 until 40).map { i =>
      (i.toLong, s"document number $i with some moderately varied content words $i here")
    }
    val hot = (0 until 40).map(i => (5000L + i, "identical boilerplate payload for every template page"))
    val mixed = (base ++ hot).toDF("id", "text")
    def hotPairs(df: org.apache.spark.sql.DataFrame) =
      df.where(col("id_a") >= 5000L && col("id_b") >= 5000L).count()
    def basePairs(df: org.apache.spark.sql.DataFrame) =
      df.where(col("id_a") < 5000L && col("id_b") < 5000L).count()
    val uncapped = Dedup.simHashNearDups(mixed, "id", "text", maxDist = 3)
    val capped = Dedup.simHashNearDups(mixed, "id", "text", maxDist = 3, maxBlock = 10)
    assert(hotPairs(uncapped) == 40L * 39 / 2)   // the m² clique
    assert(hotPairs(capped) == 0L)               // suppressed pre-join
    assert(basePairs(capped) == basePairs(uncapped)) // ordinary pairs intact
  }
}

class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vectors(n: Int, dim: Int) = (0 until n).map { i =>
    val rnd = new scala.util.Random(1000 + i)
    (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq)
  }.toDF("vec_id", "embedding")

  test("brute force: self is rank 1 with cosine 1") {
    val v = vectors(200, 32)
    val top = Ann.bruteForceTopK(v, v.where(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", k = 3).collect()
    for (r <- top.filter(_.getAs[Int]("rank") == 1)) {
      assert(r.getAs[Long]("nn_id") == r.getAs[Long]("q_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-9)
    }
  }

  test("IVF topk: self is rank 1, recall vs brute force is reasonable") {
    val v = vectors(400, 32)
    val q = v.where(col("vec_id") < 20)
    val bf = Ann.bruteForceTopK(v, q, "vec_id", "vec_id", "embedding", k = 5)
      .select("q_id", "nn_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(v, q, "vec_id", "vec_id", "embedding", k = 5,
      nlist = 16, nProbe = 8)
      .select("q_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall $recall too low")
    for (qid <- 0L until 20L) assert(ivf.contains((qid, qid)), s"query $qid missed itself")
  }

  test("IVF centroids are deterministic and cells cover the corpus") {
    val v = vectors(300, 16)
    val c1 = Ann.kmeansCentroids(v, "vec_id", "embedding", nlist = 8)
    val c2 = Ann.kmeansCentroids(v, "vec_id", "embedding", nlist = 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // nearest() over the sample hits more than one cell (non-degenerate)
    val cells = v.select("embedding").as[Seq[Float]].collect()
      .map(x => graft.ann.IvfCentroids.nearest(c1, x.toArray)).toSet
    assert(cells.size > 1)
  }

  test("cosine_int8 scores pack_int8 bytes like the cosine of the int8 components") {
    // per-vector int8 scalar quantization: qscale = maxAbs / 127,
    // qvec[i] = round(v[i] / qscale)
    val maxAbs = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val q = vectors(50, 16)
      .withColumn("qscale", (greatest(maxAbs, lit(java.lang.Double.MIN_NORMAL)) / 127.0d)
        .cast("float"))
      .withColumn("qvec",
        transform(col("embedding"), x => round(x.cast("double") / col("qscale")).cast("tinyint")))
      .withColumn("qvec_bin", graft.functions.pack_int8(col("qvec")))
    assert(q.select(length(col("qvec_bin"))).as[Int].collect().forall(_ == 16))
    val got = q.select(
        graft.functions.cosine_int8(col("qvec_bin"), col("embedding")),
        Ann.cosineCol(col("qvec").cast("array<double>"),
          col("embedding").cast("array<double>")))
      .as[(Double, Double)].collect()
    assert(got.length == 50)
    for ((packed, ref) <- got) assert(math.abs(packed - ref) < 1e-12, s"$packed vs $ref")
  }

  test("meanPool: normalized component-wise mean via the vec_sum_agg buffer") {
    import graft.ann.Ann
    val s = spark
    import s.implicits._
    val chunks = Seq(
      (1L, Array(1.0f, 0.0f, 3.0f)),
      (1L, Array(3.0f, 0.0f, 1.0f)),
      (2L, Array(0.0f, 5.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("doc", "vec").repartition(4) // partials must merge across tasks
    val got = Ann.meanPool(chunks, "doc", "vec")
      .as[(Long, Array[Float])].collect().toMap
    // doc 1: mean (2,0,2) → normalized (1/√2, 0, 1/√2)
    val r2 = (1.0 / math.sqrt(2)).toFloat
    assert(got(1L).toSeq == Seq(r2, 0.0f, r2))
    // doc 2: mean (0,2,0) → (0,1,0)
    assert(got(2L).toSeq == Seq(0.0f, 1.0f, 0.0f))
    // dimension mismatch in one group must reject, not truncate
    val bad = Seq((1L, Array(1.0f)), (1L, Array(1.0f, 2.0f))).toDF("doc", "vec")
    intercept[Exception] {
      Ann.meanPool(bad, "doc", "vec").collect()
    }
  }

  test("LSH topk achieves reasonable recall vs brute force") {
    val v = vectors(400, 32)
    val q = v.where(col("vec_id") < 20)
    val bf = Ann.bruteForceTopK(v, q, "vec_id", "vec_id", "embedding", k = 5)
      .select("q_id", "nn_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(v, q, "vec_id", "vec_id", "embedding", k = 5,
      bits = 4, tables = 8)
      .select("q_id", "nn_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"recall $recall too low")
    // every query at least finds itself
    for (qid <- 0L until 20L) assert(lsh.contains((qid, qid)))
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("audio + video decode plumbing: REAL codecs through mapPartitions/flatMap") {
    import graft.multimodal.{Multimodal, Png, Vid, Wav}
    val s = spark
    import s.implicits._
    val audio = (0L until 20L).map { i =>
      val samples = Array.tabulate(32)(j => (((i * 11 + j * 3) % 256 - 128) * 256).toShort)
      Multimodal.Asset(i, "audio", Wav.encode(16000, 1, samples), s"a$i")
    }
    val af = Multimodal.audioFeatures(spark.createDataset(audio)).collect()
    assert(af.length == 20)
    for (f <- af) {
      assert(f.sample_rate == 16000 && f.channels == 1 && f.n_samples == 32)
      assert(f.status == 200)
      // rms recomputed from the planted arithmetic, independent of the codec
      val expected = math.sqrt((0 until 32)
        .map(j => math.pow(((f.asset_id * 11 + j * 3) % 256 - 128) / 128.0, 2)).sum / 32)
      assert(math.abs(f.rms - expected) < 1e-12)
    }
    val video = (0L until 10L).map { i =>
      val frames = (0 until 24).map { f =>
        val v = ((i * 13 + f * 5) % 256).toByte
        Png.encode(320, 240, 1, Array.fill(320 * 240)(v))
      }
      Multimodal.Asset(i, "video", Vid.encode(320, 240, frames), s"v$i")
    }
    val frames = Multimodal.videoFrames(spark.createDataset(video), everyK = 6).collect()
    // 4 sampled frames (0,6,12,18) per asset, luma = (id*13 + f*5) % 256
    assert(frames.length == 40)
    for (fr <- frames) {
      assert(Seq(0, 6, 12, 18).contains(fr.frame_idx))
      assert(fr.mean_luma == ((fr.asset_id * 13 + fr.frame_idx * 5) % 256).toDouble)
      assert(fr.width == 320 && fr.height == 240)
    }
  }

  test("WAV codec: round-trip, chunk skipping, and reject-don't-misread") {
    import graft.multimodal.Wav
    // round-trip across rates/channel counts/lengths incl. odd sample values
    for ((rate, ch, n) <- Seq((8000, 1, 0), (44100, 2, 64), (16000, 1, 33), (48000, 2, 2))) {
      val samples = Array.tabulate(n * ch)(j => ((j * 2731 + 17) % 65536 - 32768).toShort)
      val (r2, c2, s2) = Wav.decode(Wav.encode(rate, ch, samples))
      assert(r2 == rate && c2 == ch && s2.toSeq == samples.toSeq)
    }
    // an unknown odd-length chunk before fmt/data is skipped with its pad byte
    val base = Wav.encode(8000, 1, Array[Short](100, -200, 300))
    val withList = {
      val b = java.nio.ByteBuffer.allocate(base.length + 8 + 3 + 1)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(base, 0, 12) // RIFF....WAVE
      b.put("LIST".getBytes("US-ASCII")).putInt(3).put(Array[Byte](1, 2, 3, 0))
      b.put(base, 12, base.length - 12)
      val out = b.array()
      // patch the RIFF size for the inserted chunk
      val riffLen = out.length - 8
      out(4) = riffLen.toByte; out(5) = (riffLen >> 8).toByte
      out(6) = (riffLen >> 16).toByte; out(7) = (riffLen >> 24).toByte
      out
    }
    assert(Wav.decode(withList)._3.toSeq == Seq[Short](100, -200, 300))
    // rejection: not RIFF, non-PCM format, wrong depth, truncated data
    intercept[IllegalArgumentException](Wav.decode("garbage!!garbage".getBytes))
    val nonPcm = base.clone(); nonPcm(20) = 3 // audioFormat = IEEE float
    intercept[IllegalArgumentException](Wav.decode(nonPcm))
    val wrongDepth = base.clone(); wrongDepth(34) = 8
    intercept[IllegalArgumentException](Wav.decode(wrongDepth))
    val truncated = java.util.Arrays.copyOf(base, base.length - 2)
    intercept[IllegalArgumentException](Wav.decode(truncated))
  }

  test("gVID container: index seek, frame validation, reject-don't-misread") {
    import graft.multimodal.{Png, Vid}
    val frames = (0 until 5).map(f =>
      Png.encode(8, 6, 1, Array.tabulate(48)(j => ((f * 40 + j) % 256).toByte)))
    val v = Vid.encode(8, 6, frames)
    assert(Vid.meta(v) == ((8, 6, 5)))
    for (f <- 0 until 5) {
      val (ch, px) = Vid.decodeFrame(v, f)
      assert(ch == 1 && px.toSeq == (0 until 48).map(j => ((f * 40 + j) % 256).toByte))
    }
    intercept[IllegalArgumentException](Vid.decodeFrame(v, 5))
    intercept[IllegalArgumentException](Vid.meta("not a container".getBytes))
    // a frame whose decoded dims disagree with the header must reject
    val bad = Vid.encode(9, 6, frames) // header says 9 wide, frames are 8
    intercept[IllegalArgumentException](Vid.decodeFrame(bad, 0))
  }

  test("png/audio containment: corrupt assets yield 422 rows, not task failures") {
    import graft.multimodal.{Multimodal, Png, Wav}
    val s = spark
    import s.implicits._
    val good = Png.encode(4, 4, 1, Array.tabulate(16)(_.toByte))
    val imgs = Seq(
      Multimodal.Asset(0L, "image", good, "u0"),
      Multimodal.Asset(1L, "image", "not a png".getBytes, "u1"))
    val got = Multimodal.pngFeatures(spark.createDataset(imgs))
      .collect().map(f => f.asset_id -> f.status).toMap
    assert(got == Map(0L -> 200, 1L -> 422))
    val auds = Seq(
      Multimodal.Asset(0L, "audio", Wav.encode(8000, 1, Array[Short](1, 2)), "a0"),
      Multimodal.Asset(1L, "audio", "RIFFgarbageWAVEgarbage".getBytes, "a1"))
    val gotA = Multimodal.audioFeatures(spark.createDataset(auds))
      .collect().map(f => f.asset_id -> f.status).toMap
    assert(gotA == Map(0L -> 200, 1L -> 422))
  }

  test("PNG decode: crafted IHDR dimensions reject before allocation") {
    import graft.multimodal.Png
    val good = Png.encode(4, 4, 1, Array.tabulate(16)(_.toByte))
    // patch IHDR width/height to 2^21 × 2^10: (stride+1)*height overflows
    // Int for 3 channels and would allocate GBs even where it doesn't —
    // must reject on the dimension cap, not OOM or mis-allocate
    val crafted = good.clone()
    def putInt(off: Int, v: Int): Unit = {
      crafted(off) = (v >> 24).toByte; crafted(off + 1) = (v >> 16).toByte
      crafted(off + 2) = (v >> 8).toByte; crafted(off + 3) = v.toByte
    }
    putInt(16, 1 << 21) // width (IHDR data starts at offset 16)
    putInt(20, 1 << 10) // height
    val e = intercept[IllegalArgumentException](Png.decode(crafted))
    assert(e.getMessage.contains("dimensions too large"))
  }

  test("PNG codec: encode/decode round-trip across all filters and channels") {
    import graft.multimodal.Png
    val rnd = new scala.util.Random(7)
    for (filter <- 0 to 4; ch <- Seq(1, 3)) {
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(30)
      val px = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val (dw, dh, dch, out) = Png.decode(Png.encode(w, h, ch, px, filter))
      assert((dw, dh, dch) == ((w, h, ch)), s"filter $filter ch $ch")
      assert(out.toSeq == px.toSeq, s"filter $filter ch $ch roundtrip")
    }
  }

  test("PNG decoder rejects garbage and unimplemented features") {
    import graft.multimodal.Png
    intercept[IllegalArgumentException](Png.decode("not a png at all".getBytes))
    val good = Png.encode(4, 4, 1, Array.tabulate(16)(_.toByte))
    // IHDR interlace byte (sig 8 + len/type 8 + 12 data bytes = offset 28):
    // Adam7 must be REJECTED, never mis-decoded
    val interlaced = good.clone(); interlaced(28) = 1
    intercept[IllegalArgumentException](Png.decode(interlaced))
    // FDICT zlib header inside a CRC-valid IDAT must REJECT, not hang:
    // 0x78 0x20 is a checksum-valid zlib header with the preset-dictionary
    // bit set ((0x7820 % 31) == 0, bit 5 of FLG on)
    val fdict = good.clone()
    val idat = {
      val pat = "IDAT".getBytes
      (0 until fdict.length - 4).find(i => pat.indices.forall(j => fdict(i + j) == pat(j))).get
    }
    val len = java.nio.ByteBuffer.wrap(fdict, idat - 4, 4).getInt
    fdict(idat + 4) = 0x78.toByte
    fdict(idat + 5) = 0x20.toByte
    val crc = new java.util.zip.CRC32
    crc.update(fdict, idat, 4 + len)
    java.nio.ByteBuffer.wrap(fdict, idat + 4 + len, 4).putInt(crc.getValue.toInt)
    val e = intercept[IllegalArgumentException](Png.decode(fdict))
    assert(e.getMessage.contains("preset dictionary"), e.getMessage)
  }

  test("pngFeatures: real decode through mapPartitions matches direct pixels") {
    import graft.multimodal.{Multimodal, Png}
    val s = spark
    import s.implicits._
    val assets = spark.range(12).map { i =>
      val w = 16 + (i % 3).toInt * 8; val h = 16
      val px = Array.tabulate(w * h)(j => ((i * 7 + j) % 256).toByte)
      Multimodal.Asset(i, "image", Png.encode(w, h, 1, px, filterType = 4), s"u$i")
    }
    for (f <- Multimodal.pngFeatures(assets).collect()) {
      val w = 16 + (f.asset_id % 3).toInt * 8
      assert(f.width == w && f.height == 16 && f.channels == 1)
      val px = Array.tabulate(w * 16)(j => ((f.asset_id * 7 + j) % 256).toDouble)
      assert(math.abs(f.mean_luma - px.sum / px.length) < 1e-9)
      val m8 = (for (y <- 0 until 8; x <- 0 until 8) yield px(y * w + x)).sum / 64
      assert(math.abs(f.mean_luma8 - m8) < 1e-9)
    }
  }

  test("binary decode plumbing: header roundtrip through mapPartitions") {
    import graft.multimodal.Multimodal
    val feats = Multimodal.pngFeatures(Multimodal.syntheticAssets(spark, 50)).collect()
    assert(feats.length == 50)
    for (f <- feats) {
      assert(f.status == 200)
      assert(f.width == 64 + (f.asset_id % 8).toInt * 32)
      assert(f.height == 48 + (f.asset_id % 5).toInt * 32)
      assert(f.channels == 3)
      assert(f.mean_luma >= 0 && f.mean_luma <= 255)
    }
  }
}

class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.ann.{Ann, Pq, PqBooks}

  private def books(raw: Array[Array[Array[Float]]]): PqBooks =
    new PqBooks(spark.sparkContext.broadcast(raw))

  test("encode: per-subspace argmin L2, ties to the lower code") {
    val b = books(Array(
      Array(Array(0f, 0f), Array(10f, 10f)),
      Array(Array(5f, 0f), Array(0f, 5f))))
    val out = Seq((1L, Seq(1f, 1f, 4f, 0f)), (2L, Seq(9f, 9f, 0f, 4f)),
        // sub0 [5,5] equidistant to both centroids → code 0
        (3L, Seq(5f, 5f, 9f, 9f)))
      .toDF("id", "vec")
    val got = Pq.encode(out, b, "vec").select("id", "pq_code")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(0, 0))
    assert(got(2L) == Seq(1, 1))
    assert(got(3L).head == 0) // tie → lower code
  }

  test("adc table + lookup reproduce exact subspace dot products") {
    val b = books(Array(
      Array(Array(1f, 0f), Array(0f, 1f)),
      Array(Array(2f, 2f), Array(-1f, 3f))))
    val q = Seq((0L, Seq(3f, 4f, 5f, 6f))).toDF("qid", "vec")
    val tab = q.select(Pq.adcTable(b, col("vec"))).collect().head.getSeq[Double](0)
    // j=0: dot([3,4],[1,0])=3, dot([3,4],[0,1])=4; j=1: dot([5,6],[2,2])=22, dot([5,6],[-1,3])=13
    assert(tab == Seq(3.0, 4.0, 22.0, 13.0))
    val scored = Seq((1L, Seq(0, 1)), (2L, Seq(1, 0))).toDF("id", "codes")
      .crossJoin(q.select(Pq.adcTable(b, col("vec")).as("tab")))
      .select(col("id"), Pq.adcScore(col("tab"), col("codes"), 2).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored(1L) == 3.0 + 13.0 && scored(2L) == 4.0 + 22.0)
  }

  test("end-to-end: PQ top-k recalls the brute-force neighbors on clustered data") {
    // 4 well-separated clusters of EXACTLY k members in dim 8 — PQ
    // resolves clusters, not the within-cluster jitter (it quantizes that
    // away by design), so the recall set must be the cluster itself
    val corpus = (0 until 40).map { i =>
      val c = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d / 2 == c) 10f else 0f) + ((i * 31 + d * 7) % 5) * 0.1f)
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    val queries = (0 until 4).map { c =>
      (c.toLong, Array.tabulate(8)(d => if (d / 2 == c) 10f else 0f).toSeq)
    }.toDF("id", "vec")
    val exact = Ann.bruteForceTopK(corpus, queries, "id", "id", "vec", k = 10)
      .select("q_id", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = Pq.topK(corpus, queries, "id", "id", "vec", k = 10, m = 4, ksub = 4)
      .select("q_id", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.map { q =>
      (exact(q) intersect pq(q)).size.toDouble / exact(q).size
    }
    assert(recalls.forall(_ >= 0.8), recalls.toSeq)
    // training is deterministic: two runs produce identical codebooks
    val b1 = Pq.train(corpus, "id", "vec", m = 4, ksub = 4)
    val b2 = Pq.train(corpus, "id", "vec", m = 4, ksub = 4)
    assert(b1.flatten.flatten.toSeq == b2.flatten.flatten.toSeq)
  }

  test("ivfAdc with probe-everything equals plain PQ; pruning prunes") {
    val codes = (0L until 60L).map(i =>
      (i, Seq(((i / 1) % 4).toInt, ((i / 2 + 1) % 4).toInt), (i % 5).toInt))
      .toDF("id", "codes", "cell")
    val tab = (0 until 8).map(i => (i * 3 + 1).toDouble)
    val all = Seq((0L, tab, List(0, 1, 2, 3, 4))).toDF("qid", "tab", "probe")
    val ivfAll = Pq.ivfAdcTopKAssigned(codes, all, "id", "codes", "cell",
        "qid", "tab", "probe", k = 10, ksub = 4)
      .select("rank", "nn_id").as[(Int, Long)].collect().toSeq.sorted
    val plain = Pq.topKFromCodes(codes, all.select("qid", "tab"),
        "id", "codes", "qid", "tab", k = 10, ksub = 4)
      .select("rank", "nn_id").as[(Int, Long)].collect().toSeq.sorted
    assert(ivfAll == plain)
    // probing only cell 2 restricts candidates to id % 5 == 2
    val one = Seq((0L, tab, Seq(2))).toDF("qid", "tab", "probe")
    val pruned = Pq.ivfAdcTopKAssigned(codes, one, "id", "codes", "cell",
        "qid", "tab", "probe", k = 50, ksub = 4)
      .select("nn_id").as[Long].collect().toSet
    assert(pruned.nonEmpty && pruned.forall(_ % 5 == 2))
  }

  test("trained IVFPQ recalls the cluster at nProbe=1 on separable data") {
    val corpus = (0 until 40).map { i =>
      val c = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d / 2 == c) 10f else 0f) + ((i * 31 + d * 7) % 5) * 0.1f)
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    val queries = (0 until 4).map { c =>
      (c.toLong, Array.tabulate(8)(d => if (d / 2 == c) 10f else 0f).toSeq)
    }.toDF("id", "vec")
    val got = Pq.ivfTopK(corpus, queries, "id", "id", "vec", k = 10,
        nlist = 4, nProbe = 2, m = 4, ksub = 4)
      .select("q_id", "nn_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0 until 4).foreach { c =>
      val members = (0 until 40).filter(_ % 4 == c).map(_.toLong).toSet
      val overlap = (got(c.toLong) intersect members).size
      assert(overlap >= 8, s"cluster $c overlap $overlap")
    }
  }
}
