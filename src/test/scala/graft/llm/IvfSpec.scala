package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {

  test("IVF index: every vector assigned exactly one cluster; centroids have corpus dim") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()
    val n = emb.count()
    val centroids = IvfSearch.trainCentroids(emb, k = 8, iters = 1)
    // trainCentroids contract is AT MOST k (hash seeding / an empty Lloyd
    // round can drop a cluster); at least one cluster must survive
    val nCent = centroids.count()
    assert(nCent >= 1 && nCent <= 8)
    assert(centroids.select(size(col("centroid"))).distinct().head().getInt(0) == 64)
    val index = IvfSearch.buildIndex(emb, centroids)
    assert(index.count() == n)
    assert(index.select("cluster").distinct().count() <= 8)
  }

  test("cluster-partitioned index write: a probe's scan prunes to its cluster dirs") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()
    val centroids = IvfSearch.trainCentroids(emb, k = 8, iters = 1)
    val root = java.nio.file.Files.createTempDirectory("ivf").toString
    IvfSearch.buildIndex(emb, centroids)
      .write.mode("overwrite").partitionBy("cluster").parquet(root)
    val nClusters = spark.read.parquet(root)
      .select("cluster").distinct().count()
    // probing 2 clusters opens only those partition directories
    val probed = spark.read.parquet(root).filter(col("cluster").isin(0, 1))
    probed.collect()
    val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val files = scan.metrics("numFiles").value
    val total = spark.read.parquet(root).inputFiles.length
    assert(files < total,
      s"cluster probe scanned all $total files (pruning broken)")
    assert(nClusters >= 2 && files <= total * 2 / nClusters + 2,
      s"probe of 2/$nClusters clusters opened $files of $total files")
  }

  test("IVF ANN recall vs brute force; probes scan only a corpus fraction") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()
    val queries = emb.filter(col("vec_id") < 10)
    val centroids = IvfSearch.trainCentroids(emb, k = 8, iters = 2)
    val index = IvfSearch.buildIndex(emb, centroids).cache()
    val exact = SimilaritySearch.topK(emb, queries, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = IvfSearch.topK(index, centroids, queries, 5, nProbe = 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // nProbe=3 of 8 clusters scans ~3/8 of the corpus; gaussian data is
    // ANN-hostile, so expect moderate-but-real recall
    assert(recall >= 0.35, s"IVF recall unexpectedly low: $recall")
  }

  test("persisted index: a fresh session reopens it and searches bit-exactly, no retrain") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()
    val centroids = IvfSearch.trainCentroids(emb, k = 8, iters = 1)
    val index = IvfSearch.buildIndex(emb, centroids)
    val queries = emb.filter(col("vec_id") < 3)
    def hits(c: org.apache.spark.sql.DataFrame, i: org.apache.spark.sql.DataFrame,
             q: org.apache.spark.sql.DataFrame) =
      IvfSearch.topK(i, c, q, k = 5, nProbe = 2)
        .select("q_id", "n_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inSession = hits(centroids, index, queries)

    val root = java.nio.file.Files.createTempDirectory("ivfstore").toString
    val cat = new graft.catalog.ManifestCatalog(spark, root)
    IvfSearch.saveIndex(root, "doc_ann", "1", centroids, index, Some(cat))

    // fresh session state: reads the persisted artifacts, not the plans
    val s2 = spark.newSession()
    val reopened = IvfSearch.loadIndex(s2, root, "doc_ann", "1")
    val q2 = graft.Tables.embeddings(s2, "/root/testdata/sf0.001").filter(col("vec_id") < 3)
    assert(hits(reopened.centroids, reopened.index, q2) == inSession,
      "reopened index must reproduce the building session's search exactly")
    // and it is discoverable like any versioned artifact
    assert(cat.latestVersion("doc_ann").contains("1"))
  }

  test("re-saving a version with fewer clusters replaces the whole index") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding").cache()
    val root = java.nio.file.Files.createTempDirectory("ivfresave").toString
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      df.select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def save(k: Int): Set[(Long, Int)] = {
      val centroids = IvfSearch.trainCentroids(emb, k = k, iters = 1)
      val index = graft.core.Checkpoints.stable(IvfSearch.buildIndex(emb, centroids))
      IvfSearch.saveIndex(root, "doc_ann", "1", centroids, index)
      rows(index)
    }
    val wide = save(8)
    assert(wide.map(_._2).size > 2, "premise: the first save has more clusters than the second")
    val narrow = save(2)
    // the partitioned overwrite must not leave the first save's other
    // cluster=N directories behind, whatever the session's overwrite mode
    val loaded = rows(IvfSearch.loadIndex(spark, root, "doc_ann", "1").index)
    val replaced = loaded == narrow
    assert(replaced, s"loadIndex holds ${loaded.size} rows in clusters " +
      s"${loaded.map(_._2).toSeq.distinct.sorted}; the k = 2 save wrote ${narrow.size}")
  }
}
