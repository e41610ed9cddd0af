package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.Embeddings.norm

/** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
  * arXiv:2303.09540): cluster the corpus with a cheap coarse quantizer,
  * then find high-cosine pairs ONLY within each cluster and keep one
  * representative per duplicate group — the embedding-space analog of
  * MinHash dedup for paraphrases/translations/boilerplate that share no
  * n-grams. The reference has no embedding dedup at all; this composes
  * the engine's own proven parts:
  *
  *   - [[IvfSearch.trainCentroids]]/[[IvfSearch.buildIndex]] — the
  *     deterministic (md5-seeded, integer-quantized Lloyd) k-means that
  *     q49 already replays in DuckDB;
  *   - a within-cluster [[PairJoin.self]] with the IVF cluster as the
  *     group, so a hot cluster fans out to independently scheduled
  *     blocks instead of one quadratic task;
  *   - [[Dedup.blockConfinedComponents]] — a single-shuffle in-task
  *     union-find per IVF cluster (edges are cluster-confined by the
  *     pair join's key, so per-cluster components ARE the global
  *     components), so "duplicate group" is exactly a connected
  *     component of the τ-similarity graph (deterministic and
  *     oracle-replayable via a recursive CTE); kept = group-min vec_id.
  *
  * Scale shape: the quadratic term is Σ|cluster|², not N² — k grows
  * with the corpus exactly like [[SimilaritySearch.adaptivePlanes]]'
  * bucket count, and every stage is a shuffle-on-key or broadcast plan
  * (centroids are k×dim floats). The approximation is SemDeDup's own:
  * a duplicate pair straddling two clusters is not a candidate — both
  * engines apply the identical restriction, so the gate compare is
  * exact.
  */
object SemanticDedup {

  /** The production K rule: clusters sized to a fixed average (~1024
    * vectors), so the quadratic term Σ|cluster|² stays ~n·1024 — LINEAR
    * in the corpus — instead of n²/K with a pinned K. This is SemDeDup's
    * own scaling recipe (cluster count grows with the corpus; the paper
    * fixes cluster SIZE, not count) and mirrors
    * [[SimilaritySearch.adaptivePlanes]]' bucket rule. The q95 gate uses
    * this same rule, with the ORACLE deriving the identical K from
    * COUNT(*) in static SQL ([[IvfSearch.duckIndexCtesK]] — the q80
    * pattern), so the hash gate holds at every oracle-feasible scale.
    */
  def adaptiveK(n: Long, targetClusterSize: Long = 1024L): Int =
    math.max(8L, (n + targetClusterSize - 1) / targetClusterSize).toInt

  /** High-cosine pairs within each cluster of an assigned index
    * (`vec_id`, `embedding`, `cluster`): a [[PairJoin.self]] with the
    * cluster as the group, ids normalized ascending.
    *
    * `probesCol`: for a MULTI-PROBE index (each vector exploded into
    * its nProbe clusters, carrying its full probe set in this column),
    * a pair sharing several probe clusters would surface — and pay its
    * dot product — once PER shared cluster. Passing the probes column
    * enables the [[canonicalProbe]] rule, applied BEFORE the cosine, so
    * every candidate pair is evaluated exactly once (measured ~2× at
    * sf10, where near-duplicates overwhelmingly share both probes). The
    * canonical cluster is a probe cluster of BOTH sides, so edges stay
    * block-confined for the downstream component plan. The multi-probe
    * output also carries `crosses` — whether the pair's RANK-1 clusters
    * differ (probes are rank-ordered, so rank-1 is element 1) — computed
    * at generation time so premise checks never need a join back to the
    * assignment.
    */
  def semanticPairs(index: DataFrame, tau: Double,
                    blockSize: Int = 1024, maxBlocks: Int = 16,
                    probesCol: Option[String] = None): DataFrame = {
    val base = index.select(Seq(col("cluster"), col("vec_id").as("id"),
      col("embedding").as("emb"), norm(col("embedding")).as("norm")) ++
      probesCol.map(c => col(c).as("probes")): _*)
    val joined = PairJoin.self(base, Seq("cluster"), "id", blocked = true,
      blockSize = blockSize, maxBlocks = maxBlocks)
    // canonical-cluster filter FIRST (cheap 2-element array intersect),
    // so redundant pair surfaces never reach the dot product
    val kept = probesCol.fold(joined)(_ => joined.filter(canonicalProbe))
      .withColumn("sim", SimilaritySearch.pairCosine)
      .filter(col("sim") >= tau)
    val out = Seq(col("cluster"), least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b"), col("sim")) ++
      probesCol.map(_ =>
        (element_at(col("probes_a"), 1) =!= element_at(col("probes_b"), 1)).as("crosses"))
    // cluster is retained: every pair is cluster-confined by the join
    // key, and downstream component-finding exploits exactly that
    kept.select(out: _*)
  }

  /** The canonical multi-probe rule on a pair row: keep the pair only in
    * its `cluster` = MIN(probes_a ∩ probes_b), the one cluster of all
    * the pair's shared probe clusters that emits it.
    */
  private[llm] val canonicalProbe: Column =
    array_min(array_intersect(col("probes_a"), col("probes_b"))) === col("cluster")

  /** Full pipeline: every corpus vector annotated with its IVF cluster
    * and whether semantic dedup keeps it (singletons and duplicate-group
    * minima survive). Deterministic end to end.
    */
  def dedup(corpus: DataFrame, k: Int, iters: Int, tau: Double,
            idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val centroids = IvfSearch.trainCentroids(corpus, k, iters, idCol, embCol)
    val index = IvfSearch.buildIndex(
      corpus.select(col(idCol), col(embCol)), centroids, embCol)
    val pairs = semanticPairs(index, tau)
    // TRUE connected components, computed in ONE shuffle: semanticPairs
    // joins on the IVF cluster, so every edge is cluster-confined BY
    // CONSTRUCTION and components can never span clusters — an in-task
    // union-find per cluster is exact, with none of the O(rounds) global
    // barriers an iterate-to-fixpoint propagation pays (the round count
    // is unbounded near the percolation threshold: measured 12+ rounds
    // on the driver corpus at tau=0.35/sf0.1, ~16 s where this plan
    // takes well under a second). The oracle replays full convergence
    // with a recursive CTE — same well-defined object, same min-id
    // canonical rule, no round parameter to keep in sync.
    val groups = Dedup.blockConfinedComponents(pairs, blockCol = "cluster",
      aCol = "id_a", bCol = "id_b")
    index.join(groups.select(col("doc_id").as(idCol),
        (col("doc_id") === col("root")).as("is_canonical")), Seq(idCol), "left")
      .select(col(idCol), col("cluster").as("ivf_cluster"),
        coalesce(col("is_canonical"), lit(true)).as("kept"))
  }
}
