package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The persisted-semantic-index contract (the q69 band-index invariants
  * re-proven for embeddings): ingesting a partition of the corpus batch
  * by batch must leave decisions BIT-IDENTICAL to a full rebuild
  * against the same frozen centroids; every τ-edge is discovered
  * exactly once, in the batch where its second member arrives;
  * `append=false` is a pure dry-run; unaffected clusters' label
  * partitions are never rewritten.
  */
class SemanticIndexSpec extends SparkSpec {

  private val Tau = 0.35
  private val Dir = "/root/testdata/sf0.01"

  private def corpus = graft.Tables.embeddings(spark, Dir)
    .select(col("vec_id"), col("embedding"))

  private def decisionSet(df: DataFrame): Set[(Long, Int, Boolean)] =
    df.select(col("vec_id"), col("cluster").cast("int"), col("kept"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet

  private def pairSet(df: DataFrame): Set[(Int, Long, Long)] =
    df.select(col("cluster").cast("int"), col("id_a"), col("id_b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  /** `body`'s result and the rows emitted by each pair-join block
    * explode (`explode(sequence(0, nblk - 1))`) in the query executions
    * it runs, checkpoints included.
    */
  private def blockRows[T](body: => T): (T, Seq[Long]) = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        plans.collect(qe.executedPlan) {
          case g: org.apache.spark.sql.execution.GenerateExec
              if g.generator.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Sequence]) =>
            g.metrics("numOutputRows").value
        }.foreach(got.add)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      (out, got.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Frozen-centroid full rebuild — the comparator every incremental
    * sequence must match (same train slice, same τ).
    */
  private def rebuild(train: DataFrame, all: DataFrame,
                      tau: Double = Tau): (DataFrame, DataFrame) = {
    val k = SemanticDedup.adaptiveK(train.count())
    val centroids = IvfSearch.trainCentroids(train, k, iters = 1)
    val index = IvfSearch.buildIndex(all, centroids, "embedding")
    val pairs = SemanticDedup.semanticPairs(index, tau)
    val groups = Dedup.blockConfinedComponents(pairs, blockCol = "cluster",
      aCol = "id_a", bCol = "id_b")
    val decisions = index
      .join(groups.select(col("doc_id").as("vec_id"),
          (col("doc_id") === col("root")).as("is_canonical")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_canonical"), lit(true)).as("kept"))
    (decisions, pairs)
  }

  test("batches over a partition of the corpus == frozen-centroid full rebuild, bit-equal") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val (rebuilt, _) = rebuild(train, corpus)
    val expected = decisionSet(rebuilt)
    assert(expected.exists(!_._3), "test premise: the corpus must contain semantic dups")

    val root = tmpDir("sem_idx")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 1), root).count()
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 5), root).count()
    SemanticIndex.ingest(
      corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3), root).count()
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 4 === 0), root).count()
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
      "incremental decisions diverged from the frozen-centroid rebuild")
  }

  test("every τ-edge discovered exactly once, in the batch where its second member arrives") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val k = SemanticDedup.adaptiveK(train.count())
    val centroids = IvfSearch.trainCentroids(train, k, iters = 1)
    val full = pairSet(SemanticDedup.semanticPairs(
      IvfSearch.buildIndex(corpus, centroids, "embedding"), Tau))
    assert(full.nonEmpty, "test premise: the corpus must contain τ-pairs")

    val batches = Seq(
      corpus.filter(col("vec_id") % 4 === 1),
      corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3),
      corpus.filter(col("vec_id") % 4 === 0))
    var existing = IvfSearch.buildIndex(corpus, centroids, "embedding").limit(0)
    val perBatch = batches.map { b =>
      val assigned = IvfSearch.buildIndex(b, centroids, "embedding")
      val p = pairSet(SemanticIndex.newPairs(assigned, existing, Tau))
      existing = existing.unionByName(assigned)
      p
    }
    assert(perBatch.map(_.size).sum == perBatch.reduce(_ union _).size,
      "a τ-edge was discovered in more than one batch")
    assert(perBatch.reduce(_ union _) == full,
      s"incremental union ${perBatch.map(_.size).sum} != full ${full.size}")
  }

  test("append=false is a pure dry-run: identical result, no state change") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_ro")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(train, root).count()
    def stateFiles(): Set[String] = {
      def walk(d: java.io.File): Seq[String] =
        Option(d.listFiles()).toSeq.flatten.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f.getPath + ":" + f.lastModified))
      walk(new java.io.File(root)).toSet
    }
    val before = stateFiles()
    val batch = corpus.filter(col("vec_id") % 4 === 0)
    val r1 = decisionSet(SemanticIndex.ingest(batch, root, append = false))
    val r2 = decisionSet(SemanticIndex.ingest(batch, root, append = false))
    assert(r1 == r2, "dry-run must be deterministic across calls")
    assert(stateFiles() == before, "append=false must not touch index state")
  }

  test("append swaps ONLY affected clusters' label files, in one atomic commit") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_part")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(train, root).count()
    // a single-vector batch: exactly one affected cluster
    val batch = corpus.filter(col("vec_id") % 4 === 0).orderBy("vec_id").limit(1)
    val affected = SemanticIndex.ingest(batch, root, append = false)
      .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    def liveLabels() = graft.storage.IndexManifest.state(root).files
      .filter(_.sub == "labels")
    val before = liveLabels().filterNot(f => affected(f.cluster)).toSet
    assume(before.nonEmpty, "need at least one unaffected labeled cluster")
    val seq0 = SemanticIndex.currentVersion(root)
    SemanticIndex.ingest(batch, root).count()
    assert(liveLabels().filterNot(f => affected(f.cluster)).toSet == before,
      "an unaffected cluster's label files were swapped")
    assert(SemanticIndex.currentVersion(root) == seq0 + 1,
      "the batch's rows and label swap must land as ONE manifest commit")
  }

  test("compact: bounded files, decisions bit-invariant, no-op when clean, O(oversize) rewrite") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_cpt")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 1), root).count()
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 5), root).count()
    SemanticIndex.ingest(
      corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3), root).count()
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 4 === 0), root).count()
    val expected = decisionSet(SemanticIndex.decisions(spark, root))

    def maxFilesPerCluster(sub: String): Int =
      graft.storage.IndexManifest.state(root).files.filter(_.sub == sub)
        .groupBy(_.cluster).valuesIterator.map(_.length).max
    assert(maxFilesPerCluster("index") > 1,
      "test premise: appends must have accreted multi-file clusters")

    val (b, a) = SemanticIndex.compact(spark, root)
    assert(a < b, s"compaction must rewrite ($b -> $a)")
    assert(maxFilesPerCluster("index") == 1 && maxFilesPerCluster("labels") == 1,
      "every cluster must be single-file after compaction at this scale")
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
      "decisions must be bit-invariant under compaction")
    val seqAfter = SemanticIndex.currentVersion(root)
    val (b2, a2) = SemanticIndex.compact(spark, root)
    assert(b2 == a2, "a second compaction must be a no-op")
    assert(SemanticIndex.currentVersion(root) == seqAfter,
      "a no-op compaction must not publish a version")

    // O(oversize): one more single-vector append dirties exactly one
    // index cluster; recompacting must rewrite that one and leave every
    // other cluster's live files (paths) untouched
    val one = corpus.filter(col("vec_id") % 4 === 0).orderBy("vec_id").limit(1)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    val dirty = SemanticIndex.ingest(one, root).select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    def othersLive(): Set[(String, Int, String)] =
      graft.storage.IndexManifest.state(root).files
        .filterNot(f => dirty(f.cluster))
        .map(f => (f.sub, f.cluster, f.path)).toSet
    val othersBefore = othersLive()
    val (b3, a3) = SemanticIndex.compact(spark, root)
    assert(a3 < b3, "the dirtied cluster must be rewritten")
    assert(othersLive() == othersBefore,
      "compaction must not touch clean clusters")
  }

  test("orphan payload files (a crashed writer's) never leak into reads; vacuum reaps them") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_stray")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(train, root).count()
    val expected = decisionSet(SemanticIndex.decisions(spark, root))
    // a crashed writer's unpublished payload: REAL parquet under files/,
    // absent from the manifest — invisible by construction
    val aLive = graft.storage.IndexManifest.state(root).files
      .find(_.sub == "index").get
    val orphan = java.nio.file.Paths.get(root, "files/orphan-uuid/pc=0")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.copy(java.nio.file.Paths.get(root, aLive.path),
      orphan.resolve("dead.parquet"))
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
      "an unpublished payload file leaked rows into the read")
    assert(SemanticIndex.indexRows(spark, root).count() == train.count(),
      "an unpublished payload file leaked rows into the raw read")
    val (reaped, _) = SemanticIndex.vacuum(spark, root)
    assert(reaped >= 1, "vacuum must reap the orphan payload")
    assert(!java.nio.file.Files.exists(orphan.resolve("dead.parquet")))
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
      "vacuum must keep every live file")
  }

  // ---- multi-probe (nProbe=2) boundary recall — VERDICT r15 top ask ----

  /** Unit vector at `angle` in the first coordinate plane of a 4-dim
    * space (the SemanticDedupSpec planted-boundary shape).
    */
  private def planeVec(angle: Double): Seq[Float] = {
    val v = Array.fill(4)(0.0f)
    v(0) = math.cos(angle).toFloat
    v(1) = math.sin(angle).toFloat
    v.toSeq
  }

  test("multi-probe ingest catches the boundary duplicate rank-1 ingest provably misses") {
    import spark.implicits._
    // Pin the trained quantizer to EXACTLY two centroids: adaptiveK
    // floors at k=8, but md5 seeding drops empty buckets — pick train
    // ids that collide into exactly two seed buckets, one per angular
    // group, so one Lloyd pass yields the two group means (angles 0.015
    // and π+0.015) and the Voronoi face sits at exactly π/2+0.015.
    val buckets = (0L until 64L).toDF("id")
      .withColumn("b", pmod(TextHash.md5Long(col("id").cast("string")), lit(8L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
      .filter(_._2.length >= 4).toSeq.sortBy(_._1).take(2)
    assert(buckets.length == 2, "fixture premise: need two seed buckets with >= 4 ids")
    val aIds = buckets(0)._2.take(4) // group at angles 0 .. 0.03
    val bIds = buckets(1)._2.take(4) // group at angles π .. π+0.03
    val groupA = aIds.zipWithIndex.map { case (id, i) => id -> planeVec(i * 0.01) }
    val groupB = bIds.zipWithIndex.map { case (id, i) => id -> planeVec(math.Pi + i * 0.01) }
    val face = math.Pi / 2 + 0.015
    // the planted pair: cos(0.022) ≈ 0.99976 ≥ τ, straddling the face
    val pairLo = 200L -> planeVec(face - 0.011)
    val pairHi = 201L -> planeVec(face + 0.011)
    val train = (groupA ++ groupB).toSeq.toDF("vec_id", "embedding")
    val tau = 0.999

    def build(nProbe: Int): String = {
      val root = tmpDir(s"sem_idx_mp$nProbe")
      SemanticIndex.init(spark, root, train, tau, nProbe = nProbe)
      SemanticIndex.ingest((groupA :+ pairLo).toSeq.toDF("vec_id", "embedding"), root).count()
      SemanticIndex.ingest((groupB :+ pairHi).toSeq.toDF("vec_id", "embedding"), root).count()
      root
    }

    // premise: the pair straddles rank-1 clusters under the frozen quantizer
    val r1root = build(1)
    val r1 = SemanticIndex.decisions(spark, r1root)
      .select("vec_id", "cluster", "kept").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(r1(200L)._1 != r1(201L)._1,
      s"the planted pair must straddle rank-1 clusters (${r1(200L)._1}/${r1(201L)._1})")
    // rank-1 ingest: the boundary pair is structurally invisible — BOTH kept
    assert(r1(200L)._2 && r1(201L)._2,
      "rank-1 ingest must keep both boundary dups (the blind spot this fixes)")

    // multi-probe ingest over the same frozen quantizer: larger id dropped
    val mp = SemanticIndex.decisions(spark, build(2))
      .select("vec_id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(mp(200L) && !mp(201L),
      s"multi-probe ingest must drop exactly the larger boundary dup, got $mp")
    // within-cluster dedup semantics unchanged: each tight group keeps its min
    assert(mp(aIds.min) && aIds.tail.forall(id => !mp(id)), s"group A: $mp")
    assert(mp(bIds.min) && bIds.tail.forall(id => !mp(id)), s"group B: $mp")
  }

  test("multi-probe: every τ-edge discovered exactly once, in the batch where its second member arrives") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val k = SemanticDedup.adaptiveK(train.count())
    val centroids = IvfSearch.trainCentroids(train, k, iters = 1)
    val multiAll = IvfSearch.buildIndexMultiProbe(corpus, centroids, "embedding", nProbe = 2)
    val full = pairSet(SemanticDedup.semanticPairs(multiAll, Tau, probesCol = Some("probes"))
      .select("cluster", "id_a", "id_b"))
    assert(full.nonEmpty, "test premise: the corpus must contain τ-pairs")

    val batches = Seq(
      corpus.filter(col("vec_id") % 4 === 1),
      corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3),
      corpus.filter(col("vec_id") % 4 === 0))
    var existing = multiAll.limit(0)
    val perBatch = batches.map { b =>
      val assigned = IvfSearch.buildIndexMultiProbe(b, centroids, "embedding", nProbe = 2)
      val p = pairSet(SemanticIndex.newPairsMultiProbe(assigned, existing, Tau))
      existing = existing.unionByName(assigned)
      p
    }
    assert(perBatch.map(_.size).sum == perBatch.reduce(_ union _).size,
      "a τ-edge was discovered in more than one batch (or in two canonical clusters)")
    assert(perBatch.reduce(_ union _) == full,
      s"incremental union ${perBatch.map(_.size).sum} != monolithic ${full.size}")
  }

  test("multi-probe batches == monolithic multi-probe rebuild, bit-equal; dry-run composes identically") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    // the monolithic comparator: q96's exact pipeline against the same
    // frozen centroids (multi-probe index -> canonical once-each pairs
    // -> block-bridged components)
    val k = SemanticDedup.adaptiveK(train.count())
    val centroids = IvfSearch.trainCentroids(train, k, iters = 1)
    val multi = IvfSearch.buildIndexMultiProbe(corpus, centroids, "embedding", nProbe = 2)
    val pairs = SemanticDedup.semanticPairs(multi, Tau, probesCol = Some("probes"))
    val groups = Dedup.bridgeLocalRoots(Dedup.blockConfinedComponents(pairs,
      blockCol = "cluster", aCol = "id_a", bCol = "id_b"))
    val expected = decisionSet(multi.filter(col("probe_rank") === 1)
      .join(groups.select(col("doc_id").as("vec_id"), col("is_canonical")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_canonical"), lit(true)).as("kept")))
    assert(expected.exists(!_._3), "test premise: the corpus must contain semantic dups")

    val root = tmpDir("sem_idx_mpeq")
    SemanticIndex.init(spark, root, train, Tau, nProbe = 2)
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 1), root).count()
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 5), root).count()
    SemanticIndex.ingest(
      corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3), root).count()

    // the q98 read shape: dry-run labels + composed decisions, BEFORE the
    // final append — must equal the post-append full read
    val batch = corpus.filter(col("vec_id") % 4 === 0)
    val dryLabels = SemanticIndex.ingest(batch, root, append = false)
    val composed = decisionSet(
      SemanticIndex.decisionsMerged(spark, root, dryLabels, batch))

    SemanticIndex.ingest(batch, root).count()
    val persisted = decisionSet(SemanticIndex.decisions(spark, root))
    assert(persisted == expected,
      "multi-probe incremental decisions diverged from the monolithic multi-probe rebuild")
    assert(composed == expected,
      "the dry-run composed read diverged from the post-append persisted read")

    // maintenance carries the probe mode: compact is decision-invariant
    // and retrain inherits n_probe
    val (cb, ca) = SemanticIndex.compact(spark, root)
    assert(ca < cb, s"test premise: compaction must rewrite ($cb -> $ca)")
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
      "multi-probe decisions must be bit-invariant under compaction")
    SemanticIndex.retrain(spark, root)
    val meta = SemanticIndex.metaJson(spark, root)
    assert(meta.contains("\"n_probe\":2"), s"retrain must inherit the probe mode: $meta")
    assert(SemanticIndex.decisions(spark, root).count() == corpus.count(),
      "retrain must preserve every vector exactly once in the rank-1 view")
  }

  /** Simulate the ONLY crash window the manifest protocol has: payload
    * files written, the publish never landed — by deleting the last
    * published version file (the publish is the commit's final step, so
    * this is exactly the on-disk state a crash one instruction earlier
    * leaves).
    */
  private def unpublishLast(root: String): Unit = {
    val seq = SemanticIndex.currentVersion(root)
    val p = java.nio.file.Paths.get(root, "_versions", f"$seq%020d.json")
    assert(java.nio.file.Files.deleteIfExists(p), s"no version file at $p")
  }

  test("crash before publish: nothing visible, the retry re-derives the batch exactly once") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val b2 = corpus.filter(col("vec_id") % 4 === 0)
    for (nProbe <- Seq(1, 2)) {
      // reference: the same sequence, no crash
      val ref = tmpDir(s"sem_idx_mcref$nProbe")
      SemanticIndex.init(spark, ref, train, Tau, nProbe = nProbe)
      SemanticIndex.ingest(train, ref).count()
      SemanticIndex.ingest(b2, ref).count()
      val expected = decisionSet(SemanticIndex.decisions(spark, ref))

      val root = tmpDir(s"sem_idx_midcommit$nProbe")
      SemanticIndex.init(spark, root, train, Tau, nProbe = nProbe)
      SemanticIndex.ingest(train, root).count()
      val preCrash = decisionSet(SemanticIndex.decisions(spark, root))
      SemanticIndex.ingest(b2, root).count()
      unpublishLast(root) // the crash: payloads on disk, commit never landed
      // the batch is INVISIBLE in its entirety — no transient zero-kept
      // components, no labels referencing unpublished rows (the windows
      // the old labels-first write order had to argue away)
      assert(decisionSet(SemanticIndex.decisions(spark, root)) == preCrash,
        s"nProbe=$nProbe: a crashed commit leaked partial state into reads")
      SemanticIndex.ingest(b2, root).count() // the retry
      assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
        s"nProbe=$nProbe: the post-crash retry diverged from the no-crash reference")
      assert(SemanticIndex.indexRows(spark, root).count() ==
        SemanticIndex.indexRows(spark, ref).count(),
        s"nProbe=$nProbe: the retry must land the batch's rows exactly once")
      // the crashed attempt's payloads are orphans; vacuum reclaims them
      assert(SemanticIndex.vacuum(spark, root)._1 >= 1,
        s"nProbe=$nProbe: vacuum must reap the crashed attempt's payload files")
    }
  }

  test("crash before a retrain's publish: the old index stays live and intact") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_rtcrash")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(train, root).count()
    val expected = decisionSet(SemanticIndex.decisions(spark, root))
    val metaBefore = SemanticIndex.metaJson(spark, root)

    SemanticIndex.retrain(spark, root)
    unpublishLast(root) // the crash: rebuilt payloads on disk, swap never published

    // no swap window exists: the pre-retrain index IS the live index
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
      "a crashed retrain must leave the old index exactly as it was")
    assert(SemanticIndex.metaJson(spark, root) == metaBefore,
      "a crashed retrain must not change the live meta")
    // and the retry converges
    SemanticIndex.retrain(spark, root)
    assert(SemanticIndex.decisions(spark, root).count() == train.count(),
      "the retried retrain must rebuild the full corpus")
  }

  test("at-least-once delivery: a replayed committed batch is an absorbed no-op (both probe modes)") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val b1 = corpus.filter(col("vec_id") % 2 === 0)
    val b2 = corpus.filter(col("vec_id") % 2 === 1)
    for (nProbe <- Seq(1, 2)) {
      val root = tmpDir(s"sem_idx_replay$nProbe")
      SemanticIndex.init(spark, root, train, Tau, nProbe = nProbe)
      SemanticIndex.ingest(b1, root).count()
      SemanticIndex.ingest(b2, root).count()
      val expected = decisionSet(SemanticIndex.decisions(spark, root))
      val rows = SemanticIndex.indexRows(spark, root).count()
      val seq = SemanticIndex.currentVersion(root)
      // the replay: a streaming foreachBatch re-delivery / a caller retry
      SemanticIndex.ingest(b1, root).count()
      assert(SemanticIndex.indexRows(spark, root).count() == rows,
        s"nProbe=$nProbe: a replayed batch must not add index rows")
      assert(SemanticIndex.currentVersion(root) == seq,
        s"nProbe=$nProbe: a fully-replayed batch must publish NOTHING (true no-op)")
      assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
        s"nProbe=$nProbe: a replayed batch changed decisions")
    }
  }

  test("time travel: decisionsAsOf(pin) is stable across later ingests AND a retrain") {
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_tt")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(train, root).count()
    val pin = SemanticIndex.currentVersion(root)
    val atPin = decisionSet(SemanticIndex.decisions(spark, root))

    SemanticIndex.ingest(corpus.filter(col("vec_id") % 4 === 0), root).count()
    assert(decisionSet(SemanticIndex.decisionsAsOf(spark, root, pin)) == atPin,
      "the pinned view drifted under a later ingest")
    assert(decisionSet(SemanticIndex.decisions(spark, root)) != atPin,
      "test premise: the later ingest must change the latest view")

    // a retrain replaces EVERY file and the meta — the pin still reads
    // the pre-retrain index (nothing is deleted until vacuum)
    SemanticIndex.retrain(spark, root)
    assert(decisionSet(SemanticIndex.decisionsAsOf(spark, root, pin)) == atPin,
      "the pinned view drifted under a retrain")

    // vacuum is THE operation that kills pins: pre-checkpoint versions
    // are gone afterwards, the latest view is unchanged
    val latest = decisionSet(SemanticIndex.decisions(spark, root))
    SemanticIndex.vacuum(spark, root)
    intercept[Exception](SemanticIndex.decisionsAsOf(spark, root, pin).count())
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == latest,
      "vacuum must not change the latest view")
  }

  test("reads are lease-free: decisions() answers while a writer holds the dir lease") {
    val root = tmpDir("sem_idx_leasefree")
    SemanticIndex.init(spark, root, corpus.limit(60), Tau)
    SemanticIndex.ingest(corpus.limit(60), root).count()
    val expected = decisionSet(SemanticIndex.decisions(spark, root))
    graft.storage.SeriesLease.withDirLeaseHandle(root) { _ =>
      // a maintenance writer is mid-critical-section; reads must neither
      // block on the lease nor see partial state (commits are atomic, so
      // there IS no partial state to see)
      assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
        "a read under a held lease must serve the last published version")
    }
  }

  test("init is create-exclusive: params are immutable per index") {
    val root = tmpDir("sem_idx_excl")
    SemanticIndex.init(spark, root, corpus.limit(50), Tau)
    intercept[Exception](SemanticIndex.init(spark, root, corpus.limit(50), 0.9))
  }

  /** A unit vector orthogonal to every centroid of `root`'s quantizer —
    * the maximal-drift fixture direction (assigned cosine ~0 by
    * construction). Gram–Schmidt over the centroids, then the first
    * standard-basis vector with a nonzero residual.
    */
  private def orthogonalToCentroids(root: String): Array[Double] = {
    val cents = SemanticIndex.centroids(spark, root).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("centroid").map(_.toDouble).toArray)
    val dim = cents.head.length
    val basis = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    def projOut(v: Array[Double]): Array[Double] = {
      val r = v.clone()
      basis.foreach { b =>
        val d = r.indices.map(i => r(i) * b(i)).sum
        r.indices.foreach(i => r(i) -= d * b(i))
      }
      r
    }
    def tryAdd(v: Array[Double]): Option[Array[Double]] = {
      val r = projOut(v)
      val n = math.sqrt(r.map(x => x * x).sum)
      if (n > 1e-6) Some(r.map(_ / n)) else None
    }
    cents.foreach(c => tryAdd(c).foreach(basis += _))
    (0 until dim).iterator
      .map(j => tryAdd(Array.tabulate(dim)(i => if (i == j) 1.0 else 0.0)))
      .collectFirst { case Some(v) => v }
      .getOrElse(fail("centroids span the whole space — can't build the fixture"))
  }

  test("staleness contract: in-distribution batch fresh, centroid-orthogonal batch stale") {
    import spark.implicits._
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_stale")
    SemanticIndex.init(spark, root, train, Tau)
    val q0 = SemanticIndex.initQuality(spark, root)
    assert(q0 > 0, s"init quality must be positive, got $q0")
    val inDist = corpus.filter(col("vec_id") % 4 === 0)
    assert(!SemanticIndex.isStale(inDist, root, tolerance = q0 * 0.5),
      "a same-distribution batch must not flag stale")
    // the worst drift: a batch ORTHOGONAL to every frozen centroid —
    // assigned cosine ~0, so the drop below q0 is maximal by construction
    val ortho = orthogonalToCentroids(root)
    val drifted = Seq.tabulate(8)(i =>
      (1000000L + i, ortho.map(x => (x * (i + 1)).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    assert(SemanticIndex.isStale(drifted, root, tolerance = q0 * 0.5),
      "a centroid-orthogonal batch must flag stale")
  }

  test("retrain closes the staleness loop and the rebuilt index == a fresh index, bit-equal") {
    import spark.implicits._
    val train = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_rt")
    SemanticIndex.init(spark, root, train, Tau)
    SemanticIndex.ingest(train, root).count()
    val q0 = SemanticIndex.initQuality(spark, root)

    // a drifted batch: orthogonal direction, all mutual cosine 1 —
    // flagged stale, ingested anyway (the contract: never reject data)
    val ortho = orthogonalToCentroids(root)
    val drifted = Seq.tabulate(6)(i =>
      (2000000L + i, ortho.map(x => (x * (i + 1)).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    assert(SemanticIndex.isStale(drifted, root, tolerance = q0 * 0.5),
      "fixture premise: the drifted batch must flag stale pre-retrain")
    SemanticIndex.ingest(drifted, root).count()

    SemanticIndex.retrain(spark, root)

    // the same-direction batch is now in-distribution: the new quantizer
    // trained on a corpus containing the ortho direction
    val driftedAgain = Seq.tabulate(4)(i =>
      (3000000L + i, ortho.map(x => (x * (i + 2)).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    assert(!SemanticIndex.isStale(driftedAgain, root, tolerance = q0 * 0.5),
      "post-retrain, the drifted direction must read as in-distribution")

    // bit-equality vs a fresh index built from the same rows (train
    // defaulted to the full corpus in both paths; trainCentroids is
    // order-independent, so same rows => same quantizer => same index)
    val fullCorpus = corpus.filter(col("vec_id") % 4 =!= 0)
      .select(col("vec_id"), col("embedding")).unionByName(drifted)
    val fresh = tmpDir("sem_idx_rt_fresh")
    SemanticIndex.init(spark, fresh, fullCorpus, Tau)
    SemanticIndex.ingest(fullCorpus, fresh).count()
    assert(decisionSet(SemanticIndex.decisions(spark, root)) ==
      decisionSet(SemanticIndex.decisions(spark, fresh)),
      "retrained decisions diverged from a fresh rebuild on the same rows")

    // no staging siblings exist on the manifest path: the rebuild's
    // payloads live under files/ and the swap is a metadata publish
    assert(!new java.io.File(s"$root.retraining").exists() &&
      !new java.io.File(s"$root.trash").exists(),
      "the manifest protocol must not create rename-protocol siblings")
  }

  test("retrain inherits iters and targetClusterSize from the old meta by default") {
    val root = tmpDir("sem_idx_inherit")
    SemanticIndex.init(spark, root, corpus.limit(60), Tau,
      targetClusterSize = 256L, iters = 0)
    SemanticIndex.ingest(corpus.limit(60), root).count()
    SemanticIndex.retrain(spark, root)
    val meta = SemanticIndex.metaJson(spark, root)
    assert(meta.contains("\"iters\":0"),
      s"a default retrain must not reset Lloyd iterations: $meta")
    assert(meta.contains("\"target_cluster_size\":256"),
      s"a default retrain must not reset the fill target: $meta")
  }

  // ---- ANN serving against the persisted index (searchTopK) ----

  private def topkSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("q_id"), col("n_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("searchTopK: probing every cell IS brute force; recall monotone in nProbe; reads only probed cells") {
    val slice = corpus.filter(col("vec_id") % 4 =!= 0)
    val root = tmpDir("sem_idx_serve")
    SemanticIndex.init(spark, root, slice, Tau)
    SemanticIndex.ingest(slice, root).count()
    val queries = corpus.filter(col("vec_id") < 10)
    val k = 5

    // brute-force comparator over the indexed slice, identical
    // arithmetic and tie-breaks (dot/norm kernel, sim desc then n_id)
    import org.apache.spark.sql.expressions.Window
    val dot = graft.queries.Embeddings.dot _
    val norm = graft.queries.Embeddings.norm _
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val exact = topkSet(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(slice.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_emb"), col("n_emb")) / (norm(col("q_emb")) * norm(col("n_emb")))).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k))

    assert(topkSet(SemanticIndex.searchTopK(spark, root, queries, k,
      nProbe = Int.MaxValue)) == exact,
      "probing every cell must BE exact brute force")
    def recall(nProbe: Int): Double = {
      val got = topkSet(SemanticIndex.searchTopK(spark, root, queries, k, nProbe))
        .map(t => (t._1, t._2))
      val want = exact.map(t => (t._1, t._2))
      got.intersect(want).size.toDouble / want.size
    }
    val r1 = recall(1); val r2 = recall(2)
    assert(r2 >= r1, s"recall must be monotone in nProbe: nProbe=1 $r1 > nProbe=2 $r2")
    assert(r2 > 0.5, s"sane fixture: nProbe=2 recall@5 should clear 0.5, got $r2")
  }

  test("searchTopK on a multi-probe index: replicas dedup to one candidate; asOf pins the served view") {
    val half = corpus.filter(col("vec_id") % 2 === 0)
    val root = tmpDir("sem_idx_serve_mp")
    SemanticIndex.init(spark, root, half, Tau, nProbe = 2)
    SemanticIndex.ingest(half, root).count()
    val pin = SemanticIndex.currentVersion(root)
    val queries = corpus.filter(col("vec_id") < 8)
    val atPin = topkSet(SemanticIndex.searchTopK(spark, root, queries, 4, nProbe = 2))
    assert(atPin.nonEmpty)
    // replicated rows (each vector filed in its nProbe cells) must
    // collapse: one (q_id, n_id) candidate, contiguous ranks 1..k
    val served = SemanticIndex.searchTopK(spark, root, queries, 4, nProbe = 2)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.length == served.distinct.length,
      "a multi-probe replica leaked as a duplicate (q_id, n_id) candidate")
    val ranks = SemanticIndex.searchTopK(spark, root, queries, 4, nProbe = 2)
      .groupBy("q_id").agg(collect_set(col("rnk")).as("r"), count(lit(1)).as("n"))
      .collect()
    ranks.foreach { r =>
      val rs = r.getSeq[Long](1).sorted
      assert(rs == (1L to r.getLong(2)).toVector,
        s"ranks must be contiguous 1..n per query, got $rs")
    }
    // the live index moves on; the pinned view must not
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 2 === 1), root).count()
    assert(topkSet(SemanticIndex.searchTopK(spark, root, queries, 4, nProbe = 2,
      asOf = Some(pin))) == atPin,
      "searchTopK(asOf=pin) changed after a later ingest")
    assert(topkSet(SemanticIndex.searchTopK(spark, root, queries, 4, nProbe = 2))
      != atPin,
      "test premise: the live search should see the second half's vectors")
  }

  test("rank-1 ingest and searchTopK run in a pinned number of Spark jobs") {
    val root = tmpDir("sem_idx_jobs")
    SemanticIndex.init(spark, root, corpus.filter(col("vec_id") % 4 =!= 0), Tau)
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 2 === 0), root).count()
    val batch = corpus.filter(col("vec_id") % 4 === 1)
    val (decided, ingestJobs) = withJobCount(SemanticIndex.ingest(batch, root).count())
    assert(decided >= batch.count())
    // the serving batch arrives as a client sends it: a small local frame
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(corpus.filter(col("vec_id") < 20).collect(): _*), corpus.schema)
    val (served, searchJobs) = withJobCount(
      SemanticIndex.searchTopK(spark, root, queries, 5).select("q_id", "n_id").collect())
    assert(served.nonEmpty)
    // ingest: centroid read 1, assignment checkpoint 1, fresh
    // checkpoint 2 (existing-id broadcast), labels checkpoint 3 (batch
    // broadcast, component exchange), writes 2; the count: 3 (labels
    // broadcast, one exchange). Serve: centroid read 1, scoring scan 1
    assert(ingestJobs == 12, s"rank-1 ingest + count ran $ingestJobs Spark jobs, pinned at 12")
    assert(searchJobs == 2, s"searchTopK ran $searchJobs Spark jobs, pinned at 2")
  }

  test("a hot cluster over blockSize rows splits into blocks; its edges are exactly the τ-pairs") {
    import spark.implicits._
    // the two-centroid quantizer of the multi-probe boundary fixture,
    // then 1100 + 100 vectors inside group A's cone: one cluster over
    // the 1024-row block size
    val buckets = (0L until 64L).toDF("id")
      .withColumn("b", pmod(TextHash.md5Long(col("id").cast("string")), lit(8L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
      .filter(_._2.length >= 4).toSeq.sortBy(_._1).take(2)
    val train = (buckets(0)._2.take(4).zipWithIndex.map { case (id, i) => id -> planeVec(i * 0.01) } ++
      buckets(1)._2.take(4).zipWithIndex.map { case (id, i) => id -> planeVec(math.Pi + i * 0.01) })
      .toSeq.toDF("vec_id", "embedding")
    val tau = 0.9999
    def hot(lo: Long, n: Int) =
      (lo until lo + n).map(id => id -> planeVec((id % 997) * 1e-4)).toDF("vec_id", "embedding")
    val b1 = hot(1000L, 1100)
    val b2 = hot(3000L, 100)

    val root = tmpDir("sem_idx_hot")
    SemanticIndex.init(spark, root, train, tau)
    SemanticIndex.ingest(b1, root).count()
    val hotCluster = SemanticIndex.decisions(spark, root).select("cluster").distinct()
      .collect().map(_.getInt(0))
    assert(hotCluster.length == 1, "fixture premise: the batch lands in one cluster")
    val c = hotCluster.head
    // the block count the ingest derives from the footers of the live
    // files (1100 rows) and the batch's observed rows (100) shows in its
    // own pair join: 1200 > 1024, so the batch side explodes over 2 blocks
    val (_, ingested) = blockRows(SemanticIndex.ingest(b2, root).count())
    assert(ingested == Seq(200L), s"the ingest's pair join must split the cluster in 2: $ingested")
    val (rebuilt, _) = rebuild(train, b1.unionByName(b2), tau)
    val expected = decisionSet(rebuilt)
    assert(expected.count(!_._3) > 100, "fixture premise: the hot cluster is full of duplicates")
    assert(decisionSet(SemanticIndex.decisions(spark, root)) == expected,
      "hot-cluster ingest diverged from the frozen-centroid rebuild")

    // the pair join itself: the batch side replicates across both
    // blocks, and the edges are exactly the brute-force τ-pairs
    val cents = SemanticIndex.centroids(spark, root)
    val existing = IvfSearch.buildIndex(b1, cents, "embedding")
    val assigned = IvfSearch.buildIndex(b2, cents, "embedding")
    val pairs = SemanticIndex.newPairs(assigned, existing, tau, Map(c -> 1200L))
      .select("cluster", "id_a", "id_b")
    val (got, generated) = blockRows(pairSet(pairs))
    assert(generated == Seq(200L), s"the 100-row batch side must explode into 2 blocks: $generated")
    val dot = graft.queries.Embeddings.dot _
    val norm = graft.queries.Embeddings.norm _
    val all = existing.withColumn("is_new", lit(false))
      .unionByName(assigned.withColumn("is_new", lit(true)))
    val exact = pairSet(assigned.select(col("vec_id").as("a"), col("embedding").as("ea"))
      .crossJoin(all.select(col("cluster"), col("vec_id").as("b"), col("embedding").as("eb"),
        col("is_new")))
      .filter(col("a") =!= col("b") && (!col("is_new") || col("a") < col("b")))
      .filter(dot(col("ea"), col("eb")) / (norm(col("ea")) * norm(col("eb"))) >= tau)
      .select(col("cluster"), least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b")))
    assert(exact.nonEmpty, "fixture premise: the batch has τ-pairs")
    assert(got == exact, s"blocked pair join ${got.size} != exact τ-pairs ${exact.size}")
    // wrong counts cost balance, never pairs: without counts the
    // cluster is one block, and the pair set is the same
    val oneBlock = pairSet(
      SemanticIndex.newPairs(assigned, existing, tau, Map.empty).select("cluster", "id_a", "id_b"))
    assert(oneBlock == got, s"one-block pair join ${oneBlock.size} != blocked ${got.size}")
  }
}
