package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall-law harness for the ANN SEARCH surface (VERDICT r16 next-round
  * #2): the dedup surface has a measured recall law (multi-probe ingest's
  * 10-vs-245 components at 2 M vectors); this gives the q48/q49 SEARCH
  * paths the same — recall@k of LSH-ANN and IVF-ANN against the exact
  * brute-force top-k, swept over nProbe, with the candidate-scan
  * fraction each probe level pays. The number a user needs to decide
  * when rank-1 probing starts missing neighbors as the corpus grows.
  *
  * Method: `nQueries` query vectors (the lowest ids — deterministic),
  * exact top-k via [[graft.llm.SimilaritySearch.topK]] (brute force,
  * the ground truth), then:
  *   - IVF at nProbe ∈ {1, 2, 4, 8}: the q49 path — adaptive-K
  *     frozen-centroid index, probe the nProbe nearest clusters, exact
  *     cosine rank inside them. Scan fraction = candidate rows / (n ·
  *     queries) — what fraction of the corpus a query actually touches.
  *   - LSH at the q48 config (6 hyperplanes, radius-2 probing): bucket
  *     the corpus once, probe 22 bucket masks per query.
  *
  * recall@k = |approx ∩ exact| / |exact| over (q_id, n_id) pairs,
  * pooled across queries. Ties broken by n_id on BOTH sides, so the
  * comparison is exact, not fuzzy. Runs as `graft.Harness ann-recall`.
  */
object AnnRecallScale {
  private[graft] def run(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val topK = if (args.length > 1) args(1).toInt else 10
    val nQueries = if (args.length > 2) args(2).toInt else 100
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).cache()
    val n = corpus.count()
    val queries = corpus.filter(col("vec_id") < nQueries).cache()
    val q = queries.count()
    println(s"[ann-recall] n=$n queries=$q topK=$topK dir=$sfDir")

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("q_id"), col("n_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    var t0 = System.nanoTime()
    val exact = pairs(graft.llm.SimilaritySearch.topK(corpus, queries, topK))
    val exactSec = (System.nanoTime() - t0) / 1e9
    println(f"[ann-recall] exact top-$topK: ${exact.size} pairs, $exactSec%.1f s " +
      "(brute force - the ground truth and the cost ceiling)")

    // the q49 path: adaptive-K frozen quantizer (same fill target as the
    // dedup surface), one Lloyd round
    val k = graft.llm.SemanticDedup.adaptiveK(n)
    t0 = System.nanoTime()
    val centroids = graft.llm.IvfSearch.trainCentroids(corpus, k, iters = 1)
    val index = graft.core.Checkpoints.stable(
      graft.llm.IvfSearch.buildIndex(corpus, centroids))
    index.count()
    println(f"[ann-recall] IVF build: k=$k, ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val clusterSizes = index.groupBy("cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    for (nProbe <- Seq(1, 2, 4, 8)) {
      t0 = System.nanoTime()
      val approx = pairs(graft.llm.IvfSearch.topK(index, centroids, queries,
        topK, nProbe = nProbe))
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = (exact intersect approx).size.toDouble / exact.size
      // scan fraction: rows a query's probe set actually touches
      val probes = graft.llm.IvfSearch.buildIndexMultiProbe(
        queries.withColumnRenamed("vec_id", "q_id").withColumnRenamed("embedding", "q_emb"),
        centroids, "q_emb", nProbe = nProbe)
      val scanned = probes.select(col("cluster")).collect()
        .map(r => clusterSizes.getOrElse(r.getInt(0), 0L)).sum
      val frac = scanned.toDouble / (n.toDouble * q)
      println(f"[ann-recall] IVF nProbe=$nProbe: recall@$topK=$recall%.4f " +
        f"scan=${frac * 100}%.2f%% wall=$sec%.1f s")
    }

    // the q48 path: 6 hyperplanes, radius-2 multi-probe
    t0 = System.nanoTime()
    val lsh = pairs(graft.llm.SimilaritySearch.topKLsh(corpus, queries, topK,
      planes = 6, probeRadius = 2))
    val lshSec = (System.nanoTime() - t0) / 1e9
    val lshRecall = (exact intersect lsh).size.toDouble / exact.size
    println(f"[ann-recall] LSH planes=6 radius=2: recall@$topK=$lshRecall%.4f " +
      f"wall=$lshSec%.1f s")

    // the q102 path: SERVING from the PERSISTED incremental index
    // (searchTopK) — the corpus side is the manifest-committed index the
    // ingest pipeline maintains, read probe-pruned from disk, not a
    // cached in-memory DataFrame. τ near 1 keeps the build's dedup pair
    // stage cheap (serving doesn't care about the labels).
    val root = java.nio.file.Files.createTempDirectory("ann_serve_").toString
    t0 = System.nanoTime()
    graft.llm.SemanticIndex.init(spark, root, corpus, tau = 0.9999)
    graft.llm.SemanticIndex.ingest(corpus, root).count()
    println(f"[ann-recall] persisted index build (init+ingest): " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    for (nProbe <- Seq(1, 2, 4)) {
      t0 = System.nanoTime()
      val served = pairs(graft.llm.SemanticIndex.searchTopK(spark, root,
        queries, topK, nProbe = nProbe))
      val sec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      pairs(graft.llm.SemanticIndex.searchTopK(spark, root, queries, topK,
        nProbe = nProbe))
      val warmSec = (System.nanoTime() - t0) / 1e9
      val recall = (exact intersect served).size.toDouble / exact.size
      println(f"[ann-recall] serve(persisted) nProbe=$nProbe: " +
        f"recall@$topK=$recall%.4f wall=$sec%.1f s warm=$warmSec%.1f s")
    }
  }
}
