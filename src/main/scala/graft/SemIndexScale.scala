package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale harness for INCREMENTAL semantic dedup (q97's machinery,
  * [[graft.llm.SemanticIndex]]): ingest the embeddings corpus as B
  * equal batches against one persisted index and time each cycle — the
  * evidence line BASELINE.md records for "what does an ingest cycle
  * cost as the corpus grows".
  *
  * What to expect (and why, so the numbers read honestly): a cycle
  * costs O(|batch| · currentClusterSize) pair arithmetic plus a
  * partition-pruned scan of the affected clusters — never a Lloyd
  * retrain and never existing-vs-existing pairs, which is the whole
  * win over per-cycle [[llm.SemanticDedup.dedup]] rebuilds. With
  * centroids FROZEN at init, cluster fill grows linearly as batches
  * land, so later cycles drift upward; the staleness/retrain contract
  * (SemanticIndex doc) is what bounds that drift in production —
  * retraining at a maintenance window resets cluster sizes exactly
  * like q70's compaction resets small-files growth.
  *
  * `graft.Harness sem-index-scale <sfDir> [batches] [root] [nProbe]`
  * prints k, per-cycle wall seconds, the final kept/dropped tally, and
  * two marginal-cycle probes (uniform vs concentrated batch). A `root`
  * argument persists the index there (and SKIPS the build when it
  * already holds one), so probe variations don't re-pay the build.
  * nProbe > 1 measures the PRODUCTION multi-probe path (q98): per-probe
  * storage, canonical-pair generation across probed partitions — expect
  * a constant-factor rise on the pair stage (≤ nProbe² candidate
  * surfaces), the law stays linear.
  */
object SemIndexScale {
  private[graft] def run(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val batches = if (args.length > 1) args(1).toInt else 8
    val nProbe = if (args.length > 3) args(3).toInt else 1
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = corpus.count()
    // an empty root arg must NOT silently resolve to the CWD (a relative
    // "_versions" dir in whatever directory launched the JVM)
    val root = if (args.length > 2 && args(2).nonEmpty) args(2)
      else java.nio.file.Files.createTempDirectory("graft_semidx_scale_").toString
    if (!llm.SemanticIndex.exists(spark, root)) {
      val train = corpus.filter(pmod(col("vec_id"), lit(batches)) === 0)
      val t0 = System.nanoTime()
      llm.SemanticIndex.init(spark, root, train, tau = 0.35, nProbe = nProbe)
      println(f"[semindex-scale] n=$n batches=$batches nProbe=$nProbe train=${train.count()} " +
        f"init=${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"quality=${llm.SemanticIndex.initQuality(spark, root)}%.4f")
      (0 until batches).foreach { b =>
        val t = System.nanoTime()
        val upd = llm.SemanticIndex.ingest(
          corpus.filter(pmod(col("vec_id"), lit(batches)) === b), root)
        val rows = upd.count()
        println(f"[semindex-scale] cycle ${b + 1}/$batches: " +
          f"${(System.nanoTime() - t) / 1e9}%.2f s ($rows affected-cluster rows)")
        core.Checkpoints.freeAll()
      }
    } else println(s"[semindex-scale] reusing index at $root")
    val d = llm.SemanticIndex.decisions(spark, root)
      .agg(count(lit(1)), sum(when(!col("kept"), 1L))).head()
    println(s"[semindex-scale] final: total=${d.getLong(0)} dropped=${d.get(1)}")
    // the MARGINAL cycle: a small (n/100) batch of unseen ids against
    // the fully-ingested corpus, dry-run — the steady-state ingest cost
    // a daily pipeline pays, vs the full rebuild comparator
    // (SemDedupScale at the same frozen k)
    // probe inputs are MATERIALIZED before timing: the timed region
    // must measure the ingest, not the probe-construction lineage
    val probe = core.Checkpoints.stable(
      corpus.filter(pmod(col("vec_id"), lit(100L)) === 0)
        .withColumn("vec_id", col("vec_id") + 1000000000L))
    probe.count()
    val tp = System.nanoTime()
    val rows = llm.SemanticIndex.ingest(probe, root, append = false).count()
    println(f"[semindex-scale] marginal 1%% uniform batch (dry-run): " +
      f"${(System.nanoTime() - tp) / 1e9}%.2f s ($rows affected-cluster rows)")
    core.Checkpoints.freeAll()
    // the CONCENTRATED batch (new data topically clustered — the regime
    // partition pruning is built for): every probe vector assigns to
    // ONE cluster, so affected state = one partition, not the corpus
    // a TARGET-SIZED cluster (fill nearest the 1024 design point), not
    // the biggest: in this synthetic's dense regime τ-edges ≈ fill², so
    // the densest cluster's probe is output-bound and would measure the
    // answer's size, not the pruning
    val c0 = llm.SemanticIndex.decisions(spark, root)
      .groupBy("cluster").count()
      .orderBy(abs(col("count") - 1024), col("cluster"))
      .select("cluster").head().getInt(0)
    val oneCluster = core.Checkpoints.stable(
      llm.SemanticIndex.decisions(spark, root)
        .filter(col("cluster") === c0).select("vec_id")
        .join(corpus, Seq("vec_id"))
        .withColumn("vec_id", col("vec_id") + 2000000000L))
    oneCluster.count()
    val tc = System.nanoTime()
    val rowsC = llm.SemanticIndex.ingest(oneCluster, root, append = false).count()
    println(f"[semindex-scale] marginal single-cluster batch (dry-run): " +
      f"${(System.nanoTime() - tc) / 1e9}%.2f s ($rowsC affected-cluster rows)")
    core.Checkpoints.freeAll()
  }
}
