package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val out = Dedup.exact(d).orderBy("keeper").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_docs") == 2 && out(0).getAs[Long]("keeper") == 1L)
  }

  test("minhash LSH finds near-identical docs and skips unrelated ones") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val out = Dedup.minhashLsh(docs((1L, base), (2L, nearDup), (3L, other)))
      .collect()
    val pairs = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"expected (1,2) in $pairs")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
    val jac = out.find(r => r.getAs[Long]("doc_a") == 1L).get.getAs[Double]("jaccard")
    assert(jac > 0.8)
  }

  test("simhash: near-identical docs within small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val far = (1 to 60).map(i => s"qqq$i").mkString(" ")
    val fps = Dedup.simhash(docs((1L, base), (2L, near), (3L, far)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(2L)) <= 6)
    assert(ham(fps(1L), fps(3L)) > 6)
  }

  test("nearDupClusters: transitive chains merge, components stay separate, min id is canonical") {
    import spark.implicits._
    // component {1,2,3,4} via a chain; component {10,11}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false), 4L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false)))
  }

  test("nearDupClusters pointer jumping: 4 rounds collapse a diameter-8 chain") {
    import spark.implicits._
    // path 1-2-...-9 (diameter 8): plain propagation needs 8 rounds,
    // doubling covers ~2^(r-1) hops per r rounds. maxRounds = 4 is q55's
    // premise (the oracle's 4-round CTE depth): a chain those 4 rounds
    // cover must pass it
    val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.nearDupClusters(pairs, maxRounds = 4)
      .select("cluster").distinct().collect().map(_.getLong(0))
    assert(out.sameElements(Array(1L)), s"chain not collapsed: ${out.mkString(",")}")
  }

  test("deep chain: fixed-round form flags non-convergence, fixed-point form fully merges") {
    import spark.implicits._
    // path 1-2-...-21 (diameter 20): beyond what 4 pointer-jump rounds
    // cover. A 4-round bound would split one component (the r5-verdict
    // hazard), so it fails loudly instead; the default bound iterates
    // until merged.
    val pairs = (1L until 21L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.nearDupClusters(pairs, maxRounds = 4)
    }
    assert(ex.getMessage.contains("still moving"))
    val merged = Dedup.nearDupClusters(pairs)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"))).toMap
    assert(merged.values.toSet == Set(1L), "the default bound must fully merge the chain")
    assert(merged.keySet == (1L to 21L).toSet)
    // and the premise passes when the round bound genuinely covers it
    val ok = Dedup.nearDupClusters(pairs, maxRounds = 6)
      .select("cluster").distinct().collect().map(_.getLong(0))
    assert(ok.sameElements(Array(1L)))
  }

  test("audio decode: real WAV yields true rate/channels/duration and per-channel RMS") {
    // stereo 16-bit 8 kHz, 0.5 s: ch0 = 440 Hz sine at amplitude 0.5
    // (RMS = 0.5/sqrt(2)), ch1 = DC 0.25 (RMS = 0.25)
    val rate = 8000f; val frames = 4000
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 2, true, false)
    val pcm = new Array[Byte](frames * 4)
    for (i <- 0 until frames) {
      val s0 = (0.5 * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toInt.toShort
      val s1 = (0.25 * 32767).toInt.toShort
      pcm(i * 4) = (s0 & 0xff).toByte; pcm(i * 4 + 1) = (s0 >> 8).toByte
      pcm(i * 4 + 2) = (s1 & 0xff).toByte; pcm(i * 4 + 3) = (s1 >> 8).toByte
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    val meta = Multimodal.decodeAudio(wav).getOrElse(fail("WAV not decoded"))
    assert(meta.sampleRate == 8000f && meta.channels == 2 && meta.frames == 4000L)
    assert(meta.durationMs == 500L)
    assert(math.abs(meta.rms(0) - 0.5 / math.sqrt(2)) < 0.01, s"ch0 rms=${meta.rms(0)}")
    assert(math.abs(meta.rms(1) - 0.25) < 0.01, s"ch1 rms=${meta.rms(1)}")
    // corrupt/video payloads stay on the stub path
    assert(Multimodal.decodeAudio("notaudio-bytes-here".getBytes).isEmpty)

    // batch shape: featurizeAudio decodes for real; featurize routes
    // audio through the (sample_rate, channels, rms) mapping
    import spark.implicits._
    val media = Seq((7L, wav), (8L, "junk".getBytes)).toDF("media_id", "content")
    val out = Multimodal.featurizeAudio(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(7L).getAs[Float]("sample_rate") == 8000f)
    assert(out(7L).getAs[Long]("duration_ms") == 500L)
    assert(out(8L).isNullAt(out(8L).fieldIndex("sample_rate")))
    val full = Seq((7L, "audio", wav)).toDF("media_id", "modality", "content")
    val feat = Multimodal.featurize(full).collect().head
    assert(feat.getAs[Int]("width") == 8000 && feat.getAs[Int]("height") == 2)
  }

  test("simhashPairs refuses radii the 4-band scheme cannot cover exactly") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs((1L, "a b c"), (2L, "a b d")), maxHamming = 4)
    }
    assert(ex.getMessage.contains("maxHamming"))
  }

  test("simhashPairs: saturated bucket (> blockSize docs) matches the unchunked pair set") {
    // 1100 docs whose band-0 byte is equal: one (band 0, key) bucket over
    // blockSize = 1024 rows, so the pair join splits it into k = 2 blocks.
    // Every true pair matches in band 0, its first matching band, so it is
    // emitted from that bucket as a same-block or a cross-block pair. The
    // other 24 bits are spread (three distinct tokens a doc), so few pairs
    // are near-dups. Oracle: brute-force O(N²) pairs from the fingerprints.
    val generated = spark.range(300000).select(col("id").as("doc_id"),
      concat_ws(" ", concat(lit("t"), col("id")), concat(lit("u"), col("id") * 7919 % 1000003),
        concat(lit("v"), col("id") * 104729 % 999983)).as("text"))
    val band0 = Dedup.simhash(generated).select(col("doc_id"), (col("simhash") % 256).as("key"))
    val hot = band0.groupBy("key").count().orderBy(desc("count"), col("key")).head()
    assert(hot.getLong(1) >= 1100, s"premise: no band-0 bucket of 1100 docs ($hot)")
    val corpus = docs(generated.join(band0.filter(col("key") === hot.getLong(0)), "doc_id")
      .orderBy("doc_id").limit(1100).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
    val fp = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      x <- fp.keys; y <- fp.keys if x < y
      h = java.lang.Long.bitCount(fp(x) ^ fp(y)) if h <= 3
    } yield (x, y, h.toLong)).toSet
    assert(expected.nonEmpty, "premise: the bucket holds true pairs")
    val got = Dedup.simhashPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(got.size == expected.size && got == expected,
      s"chunked pair set diverged: got=${got.size} expected=${expected.size}")
  }

  test("rolling fingerprint is order-sensitive") {
    val fps = Dedup.fingerprints(docs((1L, "a b c"), (2L, "c b a"), (3L, "a b c")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fingerprint")).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
  }

  test("LSH ANN recall vs brute force on testdata embeddings") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.topK(emb, queries, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilaritySearch.topKLsh(emb, queries, 5, planes = 6, probeRadius = 2)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // multi-probe examines (1 + 6 + 15)/64 ≈ 34% of the corpus; random
    // gaussian embeddings are ANN-hostile, so expect moderate recall
    assert(recall >= 0.3, s"multi-probe LSH recall unexpectedly low: $recall")
    assert(approx.nonEmpty)
  }

  test("broadcast-small contract: an oversized query set fails fast, not OOM") {
    import spark.implicits._
    val emb = (0 until 40).map(i => (i.toLong, Array.fill(8)(i + 1f))).toDF("vec_id", "embedding")
    spark.conf.set("graft.ann.maxBroadcastQueries", "10")
    try {
      for (call <- Seq[() => Any](
        () => SimilaritySearch.topK(emb, emb, 3),
        () => SimilaritySearch.topKLsh(emb, emb, 3, dim = 8))) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("graft.ann.maxBroadcastQueries"))
        assert(e.getMessage.contains("cosinePairsLshAuto"), "error must point at the scale path")
      }
      // at the bound it still works
      assert(SimilaritySearch.topK(emb, emb.limit(10), 3).count() > 0)
    } finally spark.conf.unset("graft.ann.maxBroadcastQueries")
  }

  test("cosinePairsLsh: saturated bucket (> blockSize vectors) matches the unchunked pair set") {
    // Positive scaling preserves every hyperplane sign bit, so all 300
    // vectors land in ONE bucket — the case that used to be a single
    // |bucket|²/2 task. With blockSize=64 the adaptive decomposition
    // engages (k=5, 15 key groups); the pair set must be identical to
    // the unchunked join (blockSize larger than the corpus ⇒ k=1).
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat * 10f)
    val corpus = (0 until 300).map(i =>
      (i.toLong, base.map(v => v * (1f + i / 1000f)))).toDF("vec_id", "embedding")
    assert(SimilaritySearch.bucketize(corpus).select("bucket").distinct.count() == 1,
      "test premise: the whole corpus must share one bucket")
    val unchunked = SimilaritySearch.cosinePairsLsh(corpus, 0.0, blockSize = 1 << 20)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val chunked = SimilaritySearch.cosinePairsLsh(corpus, 0.0, blockSize = 64)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unchunked.size == 300 * 299 / 2, "one bucket at sim~1 must yield all pairs")
    assert(chunked == unchunked, s"block decomposition changed the pair set: " +
      s"chunked=${chunked.size} unchunked=${unchunked.size}")
    assert(chunked.forall { case (x, y) => x < y }, "ids must be normalized ascending")
  }

  test("adaptivePlanes scales bucket count with corpus size") {
    assert(SimilaritySearch.adaptivePlanes(1000L) == 8)      // floor
    assert(SimilaritySearch.adaptivePlanes(1000000L) == 10)  // ~1024/bucket
    assert(SimilaritySearch.adaptivePlanes(1000000000L) == 20)
    assert(SimilaritySearch.adaptivePlanes(Long.MaxValue) == 53)
    assert(SimilaritySearch.adaptivePlanes(0L) == 8)
    // integer formula == ceil(log2(n/target)) floored/capped, across the
    // exact power-of-two boundaries where FP log would be edge-casey
    for (p <- 1 to 52; n <- Seq((1024L << p) - 1, 1024L << p, (1024L << p) + 1)) {
      val c = (n + 1023) / 1024
      val want = math.min(62, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(c - 1)))
      assert(SimilaritySearch.adaptivePlanes(n) == want, s"n=$n")
      assert((1L << SimilaritySearch.adaptivePlanes(n)) * 1024L >= n
        || SimilaritySearch.adaptivePlanes(n) >= 53, s"2^p*1024 must cover n=$n")
    }
    // q80 gate-discrimination pins (targetBucket=64, minPlanes=4): the
    // gated plane count CHANGES at every tested decade — 4 at the
    // driver's sf0.01 (500 vectors), 5 at sf0.1 (2 000), 9 at sf1
    // (20 000), 12 at sf10, 15 at sf100
    assert(SimilaritySearch.adaptivePlanes(500L, 64, 4) == 4)
    assert(SimilaritySearch.adaptivePlanes(2000L, 64, 4) == 5)
    assert(SimilaritySearch.adaptivePlanes(20000L, 64, 4) == 9)
    assert(SimilaritySearch.adaptivePlanes(200000L, 64, 4) == 12)
    assert(SimilaritySearch.adaptivePlanes(2000000L, 64, 4) == 15)
  }

  test("q80 auto-planes gate equals the fixed-planes form when counts coincide") {
    // at sf0.001 (500 vectors, targetBucket=64, minPlanes=4)
    // adaptivePlanes yields 4 — so auto must equal cosinePairsLsh at
    // planes=4 exactly, and (4-plane buckets are coarser unions of
    // 8-plane buckets) must be a SUPERSET of the q43 fixed-8 pairs
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val auto = SimilaritySearch.cosinePairsLshAuto(emb, 0.2, targetBucket = 64, minPlanes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed4 = SimilaritySearch.cosinePairsLsh(emb, 0.2, planes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed8 = SimilaritySearch.cosinePairsLsh(emb, 0.2, planes = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed4 && auto.nonEmpty)
    assert(fixed8.subsetOf(auto), "8-plane pairs must survive the 4-plane bucketing")
  }

  test("LSH near-dup pairs are a subset of exact pairs (no false sims)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = SimilaritySearch.cosinePairsExact(emb, 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilaritySearch.cosinePairsLsh(emb, 0.2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("langId classifies marker-heavy text") {
    val d = Seq(
      (1L, "the cat sat on the mat and the dog is in the house"),
      (2L, "der Hund ist nicht mit der Katze und das ist gut"),
      (3L, "xyzzy plugh qwerty asdf")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "unknown")
  }

  test("quality gate keeps normal prose, drops degenerate docs") {
    val d = Seq(
      (1L, "this is a perfectly normal sentence with reasonable words"),
      (2L, "a b"),                                   // too short
      (3L, "x.,;:!?.,;:!?.,;:!? y.,;:!?.,;:!?")).toDF("doc_id", "text")
    val keep = TextAnalysis.qualityGate(d).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keep == Set(1L))
  }

  test("tokenEstimate counts word runs, digits, punctuation") {
    val d = Seq((1L, "hello world 42!")).toDF("doc_id", "text")
    // hello, world, 4, 2, ! → 5
    val n = d.select(TextAnalysis.tokenEstimate("text")).head().getLong(0)
    assert(n == 5L)
  }

  test("multimodal featurize runs the batch pipeline deterministically") {
    val media = Seq(
      (1L, "image", "fakepngbytes".getBytes),
      (2L, "audio", "fakewavbytes".getBytes),
      (3L, "image", Array.emptyByteArray)).toDF("media_id", "modality", "content")
    val out = Multimodal.featurize(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(1L).getAs[Long]("byte_len") == 12L)
    assert(out(1L).getAs[String]("content_sha").length == 64)
    assert(out(1L).getAs[Int]("width") > 0)
    assert(out(3L).getAs[Int]("width") == 0)
    assert(out(1L).getAs[scala.collection.Seq[Float]]("feat").length == 8)
    // deterministic: same input → same features
    val again = Multimodal.featurize(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[scala.collection.Seq[Float]]("feat").toList).toMap
    assert(again(1L) == out(1L).getAs[scala.collection.Seq[Float]]("feat").toList)
  }

  test("multimodal resize keeps the media schema; output size tracks target dims") {
    val media = Seq(
      (1L, "image", "somefakeimagepayloadbytes".getBytes, ("s3://x", "image/png", 1L)),
      (2L, "image", Array.emptyByteArray, ("s3://y", "image/png", 2L)))
      .toDF("media_id", "modality", "content", "meta")
      .withColumn("meta", col("meta").cast(
        "struct<source:string,mime:string,created_ms:bigint>"))
    val small = Multimodal.resize(media, 64, 64)
    val large = Multimodal.resize(media, 640, 640)
    assert(small.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "content", "meta"))
    val sLen = small.filter(col("media_id") === 1L)
      .head().getAs[Array[Byte]]("content").length
    val lLen = large.filter(col("media_id") === 1L)
      .head().getAs[Array[Byte]]("content").length
    assert(sLen < lLen, s"resize must track target dims: $sLen !< $lLen")
    assert(small.filter(col("media_id") === 2L)
      .head().getAs[Array[Byte]]("content").isEmpty)
    // meta survives untouched
    assert(small.filter(col("media_id") === 1L)
      .select("meta.source").head().getString(0) == "s3://x")
  }

  test("real PNG decode: true dimensions + luminance feature; resize re-decodes at target dims") {
    // generate a real PNG: 100×40, top half white, bottom half black
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (y < h / 2) 0xffffff else 0x000000)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val bytes = png(100, 40)
    val media = Seq((1L, "image", bytes), (2L, "image", "notanimage".getBytes))
      .toDF("media_id", "modality", "content")
    val out = Multimodal.featurize(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    // REAL dimensions, not the hash stub
    assert(out(1L).getAs[Int]("width") == 100)
    assert(out(1L).getAs[Int]("height") == 40)
    val feat = out(1L).getAs[scala.collection.Seq[Float]]("feat")
    // top bands white (≈1.0), bottom bands black (≈0.0)
    assert(feat.head > 0.9f && feat.last < 0.1f, feat.mkString(","))
    // non-image bytes still take the stub path (width from content hash)
    val (sw, sh, _) = Multimodal.decodeStub("notanimage".getBytes)
    assert(out(2L).getAs[Int]("width") == sw && out(2L).getAs[Int]("height") == sh)
    // resize: output must RE-DECODE as a real PNG at the target dims
    val metaMedia = media.withColumn("meta",
      expr("named_struct('source','t','mime','image/png','created_ms',0L)"))
    val resized = Multimodal.resize(metaMedia, 25, 10)
      .filter(col("media_id") === 1L).head().getAs[Array[Byte]]("content")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(back != null, "resized payload must be a decodable PNG")
    assert(back.getWidth == 25 && back.getHeight == 10)
    // scaled image keeps the top-light/bottom-dark structure
    assert((back.getRGB(12, 1) & 0xff) > 200 && (back.getRGB(12, 8) & 0xff) < 50)
    // JPEG goes through the same ImageIO reader path
    val jbaos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)), "jpg", jbaos)
    val jdec = Multimodal.decodeImage(jbaos.toByteArray)
    assert(jdec.exists { case (w, h, _) => w == 100 && h == 40 },
      "JPEG must decode with true dimensions")
  }

  test("real MJPEG-AVI demux: true frame count/dims/timing; frames decode as JPEG") {
    // assemble a structurally valid RIFF/AVI by hand: LIST hdrl with the
    // avih main header, LIST movi with one 00dc chunk per JPEG frame
    // (odd-length chunks even-padded per RIFF)
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] = if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      id.getBytes("US-ASCII") ++ le32(data.length.toLong) ++ data ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ body)
    def jpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, gray * 0x010101)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val usPerFrame = 33333L
    val frames = (0 until 7).map(i => jpeg(32, 24, 30 * i))
    val avih = new Array[Byte](56)
    System.arraycopy(le32(usPerFrame), 0, avih, 0, 4)
    System.arraycopy(le32(7L), 0, avih, 16, 4)     // dwTotalFrames
    System.arraycopy(le32(32L), 0, avih, 32, 4)    // dwWidth
    System.arraycopy(le32(24L), 0, avih, 36, 4)    // dwHeight
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih)) ++
      list("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body

    val v = Multimodal.demuxAvi(avi).get
    assert(v.width == 32 && v.height == 24 && v.usPerFrame == usPerFrame)
    assert(v.frames.size == 7, s"true frame count, got ${v.frames.size}")
    v.frames.zipWithIndex.foreach { case ((o, l), i) =>
      val dec = Multimodal.decodeImage(java.util.Arrays.copyOfRange(avi, o, o + l))
      assert(dec.exists { case (fw, fh, _) => fw == 32 && fh == 24 },
        s"frame $i must decode as a 32x24 JPEG")
    }
    // sampleFrames: container-true indices, timing from avih, real payloads
    val media = Seq((9L, "video", avi)).toDF("media_id", "modality", "content")
    val all = Multimodal.sampleFrames(media, everyNth = 1).collect()
      .sortBy(_.getAs[Int]("frame_idx"))
    assert(all.length == 7)
    assert(all(3).getAs[Long]("frame_ms") == 3 * usPerFrame / 1000)
    val dec3 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(all(3).getAs[Array[Byte]]("frame")))
    assert(dec3 != null && dec3.getWidth == 32 && dec3.getHeight == 24)
    val every3 = Multimodal.sampleFrames(media, everyNth = 3).collect()
      .map(_.getAs[Int]("frame_idx")).sorted
    assert(every3.sameElements(Array(0, 3, 6)), every3.mkString(","))
    // featurize: container dims + first-frame luminance (frame 0 is black)
    val feat = Multimodal.featurize(media).head()
    assert(feat.getAs[Int]("width") == 32 && feat.getAs[Int]("height") == 24)
    assert(feat.getAs[scala.collection.Seq[Float]]("feat").forall(_ < 0.1f),
      "first frame is black: luminance bands must be ~0")
    // truncated AVI (frame chunk cut mid-payload) must reject, not mis-slice
    assert(Multimodal.demuxAvi(avi.take(avi.length - 10)).isEmpty)
  }

  test("FrameDecoder seam: MJPEG-AVI decodes through the stock chain; external decoders slot in") {
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] = if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      id.getBytes("US-ASCII") ++ le32(data.length.toLong) ++ data ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ body)
    def jpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, gray * 0x010101)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val avih = new Array[Byte](56)
      System.arraycopy(le32(33333L), 0, avih, 0, 4)
      System.arraycopy(le32(frames.size.toLong), 0, avih, 16, 4)
      System.arraycopy(le32(32L), 0, avih, 32, 4)
      System.arraycopy(le32(24L), 0, avih, 36, 4)
      val body = "AVI ".getBytes("US-ASCII") ++
        list("hdrl", chunk("avih", avih)) ++
        list("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
      "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
    }

    // 1) MJPEG AVI: real compressed-video frames through frameFeatures,
    //    no decoder parameter passed — the STOCK chain claims it
    val mjpeg = avi((0 until 7).map(i => jpeg(32, 24, 30 * i)))
    val media = Seq((1L, "video", mjpeg)).toDF("media_id", "modality", "content")
    val rows = Multimodal.frameFeatures(media).collect().sortBy(_.getAs[Int]("frame_idx"))
    assert(rows.length == 7)
    assert(rows.forall(r => r.getAs[Int]("width") == 32 && r.getAs[Int]("height") == 24))
    // gray ramp survives decode: frame i's mean luminance ~ 30i/255
    rows.zipWithIndex.foreach { case (r, i) =>
      val mean = r.getAs[scala.collection.Seq[Float]]("feat").sum / 8f
      assert(math.abs(mean - 30 * i / 255f) < 0.03f, s"frame $i mean=$mean")
    }
    val every2 = Multimodal.frameFeatures(media, everyNth = 2).collect()
      .map(_.getAs[Int]("frame_idx")).sorted
    assert(every2.sameElements(Array(0, 2, 4, 6)))

    // 2) an AVI carrying a codec the JDK can't decode is NOT claimed —
    //    it falls through the stock chain and is dropped, not garbled
    val h264ish = avi((0 until 3).map(i => Array.tabulate[Byte](500)(j => ((i + j) % 251).toByte)))
    val codecMedia = Seq((2L, "video", h264ish)).toDF("media_id", "modality", "content")
    assert(Multimodal.frameFeatures(codecMedia).count() == 0)

    // 3) the seam: an "external binding" claiming that codec slots in by
    //    PREPENDING to the chain — query code (frameFeatures) unchanged
    object FakeFfmpeg extends FrameDecoder {
      val name = "fake-ffmpeg"
      def frames(content: Array[Byte]): Option[Iterator[(Int, Int, Int, Array[Float])]] =
        Multimodal.demuxAvi(content).map(v =>
          (0 until v.frames.size).iterator.map(i => (i, 32, 24, Array.fill(8)(i / 10f))))
    }
    val both = codecMedia.unionByName(media)
    val ext = Multimodal.frameFeatures(both, decoders = FakeFfmpeg +: FrameDecoder.stock)
      .collect()
    assert(ext.count(_.getAs[Long]("media_id") == 2L) == 3, "external decoder claims the codec")
    // the external impl, being first, also claims the MJPEG AVI — the
    // chain is strictly ordered, exactly like ImageIO's reader registry
    assert(ext.count(_.getAs[Long]("media_id") == 1L) == 7)
  }

  test("multimodal frame sampling fans out lazily with every-Nth selection") {
    val videoBytes = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    val media = Seq((7L, "video", videoBytes),
      (8L, "video", Array.emptyByteArray)).toDF("media_id", "modality", "content")
    val frames = Multimodal.sampleFrames(media, everyNth = 1, frameBytes = 1024)
      .collect()
    // ceil(10000/1024) = 10 frames; empty video contributes none
    assert(frames.length == 10)
    assert(frames.map(_.getAs[Long]("media_id")).forall(_ == 7L))
    val last = frames.maxBy(_.getAs[Int]("frame_idx"))
    assert(last.getAs[Array[Byte]]("frame").length == 10000 - 9 * 1024,
      "last frame must be the remainder slice")
    assert(last.getAs[Long]("frame_ms") == 9 * 40L)
    val sampled = Multimodal.sampleFrames(media, everyNth = 3, frameBytes = 1024)
      .collect().map(_.getAs[Int]("frame_idx")).sorted
    assert(sampled.sameElements(Array(0, 3, 6, 9)), sampled.mkString(","))
    // frames are content slices: deterministic
    assert(frames.find(_.getAs[Int]("frame_idx") == 0).get
      .getAs[Array[Byte]]("frame").sameElements(videoBytes.slice(0, 1024)))
  }

  test("AVI audio-track demux: PCM re-muxed to WAV, decoded with true rate/channels/RMS") {
    import spark.implicits._
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad: Array[Byte] = if (data.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      id.getBytes("US-ASCII") ++ le32(data.length.toLong) ++ data ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ body)
    // stream 0: video (so the audio chunks are '01wb', exercising stream
    // numbering); stream 1: 8000 Hz mono 16-bit PCM
    val rate = 8000
    val strhVids = "vids".getBytes("US-ASCII") ++ new Array[Byte](52)
    val strhAuds = "auds".getBytes("US-ASCII") ++ new Array[Byte](52)
    val waveFmt = le16(1) ++ le16(1) ++ le32(rate.toLong) ++
      le32(rate * 2L) ++ le16(2) ++ le16(16) // PCM, mono, 16-bit
    val avih = new Array[Byte](56)
    System.arraycopy(le32(40000L), 0, avih, 0, 4)
    // a constant-amplitude square wave: RMS is exactly the amplitude
    val amp = 8192 // 0.25 of full scale
    val samples = Array.tabulate(rate) { i => if (i % 2 == 0) amp else -amp }
    val pcm = samples.flatMap(s => le16(s & 0xffff))
    val (pcmA, pcmB) = pcm.splitAt(pcm.length / 2)
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strhVids) ++ chunk("strf", new Array[Byte](40))) ++
        list("strl", chunk("strh", strhAuds) ++ chunk("strf", waveFmt))) ++
      list("movi", chunk("00dc", Array[Byte](1, 2, 3)) ++ // video noise to skip
        chunk("01wb", pcmA) ++ chunk("00dc", Array[Byte](4, 5)) ++ chunk("01wb", pcmB))
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body

    val wav = Multimodal.demuxAviAudio(avi)
    assert(wav.isDefined, "structurally valid PCM AVI must re-mux")
    val meta = Multimodal.decodeAudio(wav.get)
    assert(meta.isDefined, "re-muxed WAV must decode via the stock JDK reader")
    val a = meta.get
    assert(a.sampleRate == rate.toFloat && a.channels == 1)
    assert(a.frames == rate, s"one second of mono PCM: ${a.frames}")
    assert(math.abs(a.rms(0) - amp / 32768.0f) < 1e-3, s"rms=${a.rms(0)}")
    // direct decode of the AVI fails (no JDK AVI reader) but the
    // container-aware path succeeds — and featurizeAudio uses it
    assert(Multimodal.decodeAudio(avi).isEmpty)
    assert(Multimodal.decodeAudioAny(avi).isDefined)
    val media = Seq((42L, "video", avi), (43L, "audio", "garbage".getBytes))
      .toDF("media_id", "modality", "content")
    val rows = Multimodal.featurizeAudio(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(rows(42L).getAs[Long]("n_frames") == rate)
    assert(rows(43L).isNullAt(rows(43L).fieldIndex("n_frames")))
    // video demux on the same container still sees only the video chunks
    assert(Multimodal.demuxAvi(avi).get.frames.size == 2)
    // no audio stream -> None, not a garbage WAV
    val noAudio = {
      val b = "AVI ".getBytes("US-ASCII") ++
        list("hdrl", chunk("avih", avih) ++
          list("strl", chunk("strh", strhVids) ++ chunk("strf", new Array[Byte](40)))) ++
        list("movi", chunk("00dc", Array[Byte](1, 2, 3)))
      "RIFF".getBytes("US-ASCII") ++ le32(b.length.toLong) ++ b
    }
    assert(Multimodal.demuxAviAudio(noAudio).isEmpty)
  }
}
