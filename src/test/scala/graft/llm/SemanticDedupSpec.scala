package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SemDeDup machinery (q95): within-cluster pair recall vs brute force,
  * keep-exactly-one-per-component semantics, and convergence on the long
  * chains that break any fixed round count.
  */
class SemanticDedupSpec extends SparkSpec {

  private def vecs(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Unit vector at `angle` in the (i,j) plane of a 4-dim space. */
  private def planeVec(angle: Double, i: Int = 0, j: Int = 1): Seq[Float] = {
    val v = Array.fill(4)(0.0f)
    v(i) = math.cos(angle).toFloat
    v(j) = math.sin(angle).toFloat
    v.toSeq
  }

  test("within-cluster pairs match brute force restricted to same cluster") {
    val rnd = new scala.util.Random(7)
    val corpus = vecs((0L until 60L).map(id =>
      id -> Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val cents = IvfSearch.trainCentroids(corpus, k = 4, iters = 1)
    val idx = IvfSearch.buildIndex(corpus, cents)
    val tau = 0.2
    val got = SemanticDedup.semanticPairs(idx, tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute force: all pairs, same cluster, cosine >= tau
    val rows = idx.collect().map(r => (r.getLong(0),
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray,
      r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (for {
      (ia, ea, ca) <- rows; (ib, eb, cb) <- rows
      if ia < ib && ca == cb && cos(ea, eb) >= tau
    } yield (ia, ib)).toSet
    assert(got == want, s"got ${got.size}, want ${want.size}")
  }

  test("keep = exactly the min id of every duplicate component; singletons kept") {
    // one tight trio (0,1,2), one pair (10,11), singletons 20/21 — all in
    // one IVF cluster (k=1 forces it)
    val corpus = vecs(Seq(
      0L -> planeVec(0.00), 1L -> planeVec(0.01), 2L -> planeVec(0.02),
      10L -> planeVec(1.20), 11L -> planeVec(1.21),
      20L -> planeVec(2.60), 21L -> planeVec(-2.60)))
    val ann = SemanticDedup.dedup(corpus, k = 1, iters = 0, tau = 0.99)
    val kept = ann.filter(col("kept")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 10L, 20L, 21L), kept.toSeq.sorted.mkString(","))
    assert(ann.count() == 7)
  }

  test("long chain converges to one component (the fixed-round killer)") {
    // a 40-link chain: consecutive angles differ by 0.05 rad
    // (cos 0.05 ≈ 0.99875 ≥ tau) but already the skip-one pair falls to
    // cos 0.1 ≈ 0.995 < tau — component diameter 40, exactly the
    // near-critical shape measured on the driver corpus; fixed 4 rounds
    // would split it
    val corpus = vecs((0L until 41L).map(i => i -> planeVec(i * 0.05)))
    val ann = SemanticDedup.dedup(corpus, k = 1, iters = 0, tau = 0.9987)
    val kept = ann.filter(col("kept")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L), s"chain must collapse to its min id, kept=$kept")
  }

  test("blockConfinedComponents is bit-identical to fixed-point propagation on block-confined edges") {
    // random multigraph whose edges never straddle blocks — the q95
    // contract; includes self-dup edges, repeated edges, chains, and
    // node ids shared across NO blocks (offset by block)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (0 until 400).map { _ =>
      val c = rnd.nextInt(6)
      (c.toLong, (c * 1000 + rnd.nextInt(40)).toLong, (c * 1000 + rnd.nextInt(40)).toLong)
    }.filter { case (_, a, b) => a != b }
    val df = edges.toDF("cluster", "id_a", "id_b")
    val want = Dedup.nearDupClusters(df, aCol = "id_a", bCol = "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(want.nonEmpty && want.exists(!_._3), "fixture must contain at least one dropped node")
    // repartition(7) splits every block over several input partitions,
    // so the map-side contraction must merge partial per-partition roots
    for ((in, name) <- Seq(df -> "as built", df.repartition(7) -> "repartition(7)")) {
      val got = Dedup.blockConfinedComponents(in, "cluster", aCol = "id_a", bCol = "id_b")
        .select(col("doc_id"), col("root"), col("doc_id") === col("root"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == want,
        s"$name: only-in-got=${(got -- want).take(5)} only-in-want=${(want -- got).take(5)}")
    }
  }

  test("blockBridgedComponents is bit-identical to the global fixed-point when nodes span blocks") {
    // the q96 shape: every EDGE is block-confined, but a node sits in up
    // to 2 blocks (multi-probe membership), so components chain ACROSS
    // blocks through shared nodes. Random multigraph: 6 blocks, each
    // node assigned 1-2 blocks, edges generated within a block among its
    // members — plus a planted 4-block chain so quotient transitivity
    // (root-of-root merging, not just one bridge) is always exercised.
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val nodeBlocks: Map[Long, Seq[Long]] = (0L until 60L).map { id =>
      val b1 = rnd.nextInt(6).toLong
      val bs = if (rnd.nextBoolean()) Seq(b1, (b1 + 1 + rnd.nextInt(5)) % 6) else Seq(b1)
      id -> bs
    }.toMap
    val byBlock: Map[Long, Seq[Long]] = nodeBlocks.toSeq
      .flatMap { case (id, bs) => bs.map(_ -> id) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2) }
    val random = (0 until 300).flatMap { _ =>
      val b = rnd.nextInt(6).toLong
      val members = byBlock.getOrElse(b, Seq.empty)
      if (members.size < 2) None
      else {
        val a = members(rnd.nextInt(members.size))
        val c = members(rnd.nextInt(members.size))
        if (a == c) None else Some((b, math.min(a, c), math.max(a, c)))
      }
    }
    // planted chain: 100-101 in block 10, 101-102 in block 11,
    // 102-103 in block 12, 103-104 in block 13 — component {100..104}
    // crosses four blocks and must collapse to label 100
    val planted = Seq((10L, 100L, 101L), (11L, 101L, 102L),
      (12L, 102L, 103L), (13L, 103L, 104L))
    val df = (random ++ planted).toDF("cluster", "id_a", "id_b")
    val want = Dedup.nearDupClusters(
      df.select("id_a", "id_b").distinct(), aCol = "id_a", bCol = "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(want.contains((104L, 100L, false)), "planted 4-block chain must collapse to min id 100")
    def bridged(in: org.apache.spark.sql.DataFrame, bridgeCollectMax: Int) =
      Dedup.bridgeLocalRoots(
        Dedup.blockConfinedComponents(in, "cluster", aCol = "id_a", bCol = "id_b"),
        bridgeCollectMax = bridgeCollectMax)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // repartition(7) splits every block over several input partitions,
    // so the map-side contraction must merge partial per-partition roots
    for ((in, name) <- Seq(df -> "as built", df.repartition(7) -> "repartition(7)")) {
      val got = bridged(in, 1 << 22)
      assert(got == want,
        s"$name: only-in-got=${(got -- want).take(5)} only-in-want=${(want -- got).take(5)}")
    }
    // bridgeCollectMax=0 forces the distributed fixed-point fallback —
    // both quotient solvers must be bit-identical
    assert(bridged(df, 0) == want, "distributed quotient fallback diverged from the local solve")
  }

  test("blockBridgedComponents: empty edge set yields empty output (no NPE in the local quotient solve)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("cluster", "id_a", "id_b")
    assert(Dedup.bridgeLocalRoots(Dedup.blockConfinedComponents(empty, "cluster",
      aCol = "id_a", bCol = "id_b")).count() == 0L)
  }

  test("canonical multi-probe pair rule: each pair exactly once, identical pair set to the duplicated form") {
    // probesCol emits a pair only in MIN(probes_a ∩ probes_b); without
    // it a pair sharing both probe clusters surfaces (and pays its dot
    // product) twice. Same distinct pair set, zero duplicates.
    val rnd = new scala.util.Random(31)
    val corpus = vecs((0L until 80L).map(id => id -> Seq.fill(6)(rnd.nextGaussian().toFloat)))
    val cents = IvfSearch.trainCentroids(corpus, k = 5, iters = 1)
    val multi = IvfSearch.buildIndexMultiProbe(corpus, cents, nProbe = 2)
    val tau = 0.1
    val dup = SemanticDedup.semanticPairs(multi, tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val canon = SemanticDedup.semanticPairs(multi, tau, probesCol = Some("probes"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(canon.length == canon.distinct.length, "canonical form emitted a duplicate pair")
    assert(canon.toSet == dup.toSet,
      s"pair sets diverge: only-dup=${(dup.toSet -- canon.toSet).take(3)} " +
        s"only-canon=${(canon.toSet -- dup.toSet).take(3)}")
    assert(dup.length > canon.length,
      "fixture must contain at least one pair sharing both probe clusters")
  }

  test("semanticPairs: saturated cluster (> blockSize rows) matches the unchunked pair set") {
    // 300 positive multiples of one vector in one cluster: every pair is
    // a τ-pair. With blockSize=64 the cluster splits into 5 blocks (15
    // key groups); the pair set must equal the unchunked join's
    // (blockSize larger than the corpus ⇒ one block). The multi-probe
    // form puts every vector in both clusters 0 and 1, so the canonical
    // rule must keep each pair once, in cluster 0, blocked or not.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat)
    val vectors = (0 until 300).map(i => (i.toLong, base.map(_ * (1f + i / 1000f)).toSeq))
    val rank1 = vectors.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "cluster")
    val multi = vectors.flatMap { case (id, v) => Seq(0, 1).map(c => (id, v, c, Seq(0, 1))) }
      .toDF("vec_id", "embedding", "cluster", "probes")
    for ((index, probes) <- Seq(rank1 -> None, multi -> Some("probes"))) {
      def pairs(blockSize: Int) = SemanticDedup.semanticPairs(index, 0.99,
          blockSize = blockSize, probesCol = probes)
        .select("cluster", "id_a", "id_b").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val unchunked = pairs(1 << 20)
      val chunked = pairs(64)
      assert(unchunked.length == 300 * 299 / 2 && unchunked.forall(_._1 == 0),
        s"probes=$probes: one cluster at sim~1 must yield every pair once, in cluster 0")
      assert(chunked.length == unchunked.length && chunked.toSet == unchunked.toSet,
        s"probes=$probes: block decomposition changed the pair set: " +
          s"chunked=${chunked.length} unchunked=${unchunked.length}")
    }
  }

  test("TopNCosine/ArgmaxCosine NaN contract: NaN scores skipped, result truncated to real ids") {
    // ADVICE r13: a NaN score must never emit a fabricated centroid id
    // (the slot default 0). Three centroids with ids 7/8/9 — id 0 does
    // not exist, so any 0 in the output is the regression.
    import spark.implicits._
    val ids = Array(7, 8, 9)
    val cents = Array(
      Array(1.0f, 0.0f),
      Array(Float.NaN, 1.0f), // NaN-poisoned centroid: score always NaN
      Array(0.0f, 1.0f))
    val norms = Array(1.0, 1.0, 1.0)
    val bc = spark.sparkContext.broadcast((ids, cents, norms))
    val df = Seq(
      (1L, Seq(1.0f, 0.1f)),            // finite: full top-3 impossible (slot 2 NaN) -> 2 ids
      (2L, Seq(Float.NaN, 0.5f))        // NaN embedding: every score NaN -> empty / fallback
    ).toDF("id", "emb")
      .select(col("id"),
        graft.functions.VectorFunctions.topnCosine(col("emb"), bc, 3).as("top"),
        graft.functions.VectorFunctions.argmaxCosine(col("emb"), bc).as("arg"))
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[scala.collection.Seq[Int]]("top").toSeq, r.getInt(2)))).toMap

    assert(df(1L)._1 == Seq(7, 9), s"finite row: NaN centroid skipped, got ${df(1L)._1}")
    assert(df(1L)._2 == 7)
    assert(df(2L)._1 == Seq.empty, s"all-NaN row must truncate to empty, got ${df(2L)._1}")
    assert(df(2L)._2 == 7, "ArgmaxCosine all-NaN fallback is ids(0) — a REAL id, never 0")
  }

  test("adaptiveK: ceil arithmetic matches the oracle's GREATEST(8, CEIL(n/1024.0)) exactly") {
    // the q95 gate derives K from COUNT(*) on BOTH engines — any
    // off-by-one between Scala integer-ceil and SQL CEIL would fork the
    // quantizer and hash-mismatch; pin the boundaries
    assert(SemanticDedup.adaptiveK(1) == 8)
    assert(SemanticDedup.adaptiveK(2000) == 8)     // driver sf0.1: unchanged vs pinned K=8
    assert(SemanticDedup.adaptiveK(8192) == 8)     // 8192/1024 = 8 exactly
    assert(SemanticDedup.adaptiveK(8193) == 9)     // first n above the K=8 plateau
    assert(SemanticDedup.adaptiveK(20000) == 20)   // sf1
    assert(SemanticDedup.adaptiveK(200000) == 196) // sf10 (ceil(200000/1024))
    assert(SemanticDedup.adaptiveK(1024L * 1024L * 1024L) == 1048576)
  }

  test("multi-probe catches the boundary duplicate single-probe provably misses") {
    // HAND-PLACED centroids at angles 0 and π pin the Voronoi face at
    // exactly π/2 (no k-means dynamics in the way — the full trained
    // pipeline is oracle-gated end-to-end by q96 at three SFs); a
    // near-identical pair at π/2 ∓ 0.01 (cos ≈ 0.9998) straddles it, so
    // its rank-1 clusters differ and single-probe blocking never
    // generates the pair — the approximation the sibling spec pins.
    // nProbe=2 makes each boundary vector a member of BOTH clusters,
    // the pair surfaces in each, and exactly the larger id is dropped.
    import spark.implicits._
    val corpus = vecs(
      (0L until 5L).map(i => i -> planeVec(i * 0.01)) ++
        (100L until 105L).map(i => i -> planeVec(math.Pi + (i - 100) * 0.01)) ++
        Seq(50L -> planeVec(math.Pi / 2 - 0.01), 51L -> planeVec(math.Pi / 2 + 0.01)))
    val cents = Seq((0, planeVec(0)), (1, planeVec(math.Pi))).toDF("cluster", "centroid")
    val idx = IvfSearch.buildIndex(corpus, cents)
    val r1 = idx.select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r1(50L) != r1(51L), s"the planted pair must straddle (${r1(50L)}/${r1(51L)})")

    // single-probe: blocking by rank-1 cluster — the boundary pair is
    // structurally invisible, BOTH survive
    val tau = 0.99
    val sGroups = Dedup.blockConfinedComponents(
      SemanticDedup.semanticPairs(idx, tau), blockCol = "cluster", aCol = "id_a", bCol = "id_b")
    val sDropped = sGroups.filter(col("doc_id") =!= col("root"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!sDropped.contains(50L) && !sDropped.contains(51L),
      s"single-probe must keep BOTH boundary dups (the blind spot), dropped=$sDropped")

    // multi-probe over the SAME centroids: the pair surfaces, larger id dropped
    val multi = IvfSearch.buildIndexMultiProbe(corpus, cents, nProbe = 2)
    val mPairs = SemanticDedup.semanticPairs(multi, tau).select("id_a", "id_b").distinct()
    val mDropped = Dedup.nearDupClusters(mPairs, aCol = "id_a", bCol = "id_b")
      .filter(!col("is_canonical")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mDropped.contains(51L) && !mDropped.contains(50L),
      s"multi-probe must drop exactly the larger boundary dup, dropped=$mDropped")
    // within-cluster dedup behavior unchanged: each tight group keeps its min
    assert(!mDropped.contains(0L) && mDropped.contains(1L) &&
      !mDropped.contains(100L) && mDropped.contains(101L))
  }

  test("TopNCosine ranking matches brute-force (score DESC, id ASC) with FloatVecDot arithmetic") {
    val rnd = new scala.util.Random(23)
    val corpus = vecs((0L until 40L).map(id => id -> Seq.fill(6)(rnd.nextGaussian().toFloat)))
    val cents = IvfSearch.trainCentroids(corpus, k = 6, iters = 1)
    val multi = IvfSearch.buildIndexMultiProbe(corpus, cents, nProbe = 3)
      .select("vec_id", "probe_rank", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val centArr = cents.collect().map { r =>
      val c = r.getAs[scala.collection.Seq[Float]]("centroid").map(_.toDouble).toArray
      val n = math.sqrt(c.map(x => x * x).sum)
      (r.getAs[Int]("cluster"), c, if (n == 0.0) 1.0 else n)
    }.sortBy(_._1)
    val embs = corpus.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    for ((id, emb) <- embs) {
      val want = centArr.map { case (k, c, n) =>
        (k, emb.zip(c).map { case (a, b) => a * b }.sum / n)
      }.sortBy { case (k, s) => (-s, k) }.take(3).map(_._1).toSeq
      val got = multi.filter(_._1 == id).sortBy(_._2).map(_._3).toSeq
      assert(got == want, s"vec $id: got $got want $want")
    }
  }

  test("pairs straddling two IVF clusters are not candidates (the SemDeDup approximation)") {
    // two tight antipodal groups force k=2 k-means to split them; a
    // cross-group pair can never surface however high its cosine would be
    val corpus = vecs(
      (0L until 5L).map(i => i -> planeVec(i * 0.01)) ++
        (100L until 105L).map(i => i -> planeVec(math.Pi + (i - 100) * 0.01)))
    val cents = IvfSearch.trainCentroids(corpus, k = 2, iters = 2)
    val idx = IvfSearch.buildIndex(corpus, cents)
    val clusters = idx.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assume(clusters(0L) != clusters(100L), "fixture: groups must split")
    val pairs = SemanticDedup.semanticPairs(idx, tau = -1.0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall { case (a, b) => clusters(a) == clusters(b) },
      s"a cross-cluster pair surfaced: $pairs")
    assert(pairs.exists { case (a, b) => a < 5 && b < 5 } &&
      pairs.exists { case (a, b) => a >= 100 && b >= 100 },
      s"within-group pairs missing: $pairs")
  }
}
