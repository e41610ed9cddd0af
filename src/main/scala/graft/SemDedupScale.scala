package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale harness for semantic dedup (q95's machinery) with the
  * PRODUCTION corpus-adaptive cluster count — the knob the q95 gate
  * pins to K=8 so its recursive-CTE oracle can replay. With adaptive K
  * the quadratic term Σ|cluster|² is ~n·targetClusterSize (linear in
  * the corpus); with K pinned it is n²/K — `graft.Harness
  * sem-dedup-scale` measures both on the same data so the difference is
  * recorded evidence, not a claim. Prints wall time, cluster count, and
  * kept/dropped counts per run.
  */
object SemDedupScale {
  private[graft] def run(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val kArg = if (args.length > 1) args(1) else "auto"
    val runs = if (args.length > 2) args(2).toInt else 2
    val corpus = Tables.embeddings(spark, sfDir)
    val n = corpus.count()
    val k = if (kArg == "auto") llm.SemanticDedup.adaptiveK(n) else kArg.toInt
    println(s"[semdedup-scale] n=$n k=$k (rule: ${llm.SemanticDedup.adaptiveK(n)})")
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val ann = llm.SemanticDedup.dedup(corpus, k = k, iters = 1, tau = 0.35)
      val r = ann.agg(count(lit(1)), sum(when(!col("kept"), 1L))).head()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[semdedup-scale] run $i: $sec%.2f s, total=${r.getLong(0)} dropped=${r.get(1)}")
      core.Checkpoints.freeAll()
    }
  }
}
