package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.Dedup

/** Corpus-analysis operators a training-data pipeline runs before and
  * after curation: exact length-distribution percentiles per stratum,
  * corpus vocabulary with document frequencies, and the final dedup
  * keep-decision (which document survives each near-dup cluster).
  *
  * Cross-engine determinism: every selection is integer arithmetic
  * (row_number over a tie-free ordering, BIGINT counts); no float ever
  * decides a row.
  */
object CorpusStatsOps {

  /** Exact per-source token-count percentiles (p50/p90/p99) via
    * row_number selection — not approx_percentile, whose sketch output
    * is engine-specific.
    *
    * Scale shape: one map-side token count, then a per-source
    * sort-shuffle for the window (distributed sort; no collect). At
    * petabyte scale the same contract downgrades gracefully to
    * approx_percentile — the exact form here is the oracle for that
    * approximation.
    */
  val tokenPercentiles: Q = Q(
    "q57_token_percentiles",
    """WITH t AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT source, n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM t)
      |SELECT source,
      |  CAST(MAX(n) AS BIGINT) AS n_docs,
      |  CAST(MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN n_tokens END) AS BIGINT) AS p50_tokens,
      |  CAST(MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN n_tokens END) AS BIGINT) AS p90_tokens,
      |  CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN n_tokens END) AS BIGINT) AS p99_tokens
      |FROM r
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("source")
    def pick(p: Double) = max(when(
      col("rn") === ceil(col("n") * lit(p)).cast("long"), col("n_tokens")))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("rn",
        row_number().over(w.orderBy(col("n_tokens"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
        pick(0.50).as("p50_tokens"),
        pick(0.90).as("p90_tokens"),
        pick(0.99).as("p99_tokens"))
      .orderBy("source")
  }

  /** The 100 TB path for [[tokenPercentiles]]: one-pass mergeable
    * KLL-style sketch (percentile_approx) — a partial+final hash agg
    * with NO per-group sort shuffle, rank error ≤ 1/accuracy of the
    * group size. Not oracle-checked (sketch internals are
    * engine-specific); the exact row_number form above IS its oracle,
    * and CorpusStatsSpec pins the rank-error bound against it.
    */
  def tokenPercentilesApprox(docs: org.apache.spark.sql.DataFrame,
                             accuracy: Int = 10000): org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n_tokens"), lit(0.50), lit(accuracy)).as("p50_tokens"),
        percentile_approx(col("n_tokens"), lit(0.90), lit(accuracy)).as("p90_tokens"),
        percentile_approx(col("n_tokens"), lit(0.99), lit(accuracy)).as("p99_tokens"))

  /** Corpus vocabulary: top-100 tokens by total frequency with document
    * frequency, min-df filtered — the input stats for vocab/BPE
    * construction and stopword discovery.
    *
    * Scale shape: explode once, then TWO stacked hash aggregations —
    * (token, doc_id) then (token) — instead of count(DISTINCT doc_id),
    * so both stages keep map-side partial aggregation and the hot-token
    * skew (stopwords appear in every doc) is absorbed by the partials
    * rather than shipped to one reducer. Ordering is tie-free
    * (freq DESC, token ASC).
    */
  val vocabTopK: Q = Q(
    "q58_vocab_topk",
    """WITH td AS (
      |  SELECT tok, doc_id, COUNT(*) AS c FROM (
      |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok, doc_id),
      |v AS (
      |  SELECT tok, CAST(SUM(c) AS BIGINT) AS freq,
      |         CAST(COUNT(*) AS BIGINT) AS doc_freq
      |  FROM td GROUP BY tok)
      |SELECT tok, freq, doc_freq FROM v
      |WHERE doc_freq >= 5
      |ORDER BY freq DESC, tok
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("tok")
      .agg(sum(col("c")).cast("long").as("freq"),
        count(lit(1)).cast("long").as("doc_freq"))
      .filter(col("doc_freq") >= 5)
      .orderBy(col("freq").desc, col("tok"))
      .limit(100)
  }

  /** The 100 TB path for [[vocabTopK]]: ONE hash aggregation with an
    * HLL sketch (approx_count_distinct) for document frequency — no
    * stacked (token, doc_id) pre-aggregation shuffle, so the hot-token
    * skew never ships exact id sets anywhere. freq stays EXACT (it's a
    * plain count); only doc_freq is approximate (relative error ≈ rsd).
    * Not oracle-checked (HLL internals are engine-specific); the exact
    * q58 IS its oracle, and CorpusStatsSpec pins the error bound.
    */
  def vocabTopKApprox(docs: org.apache.spark.sql.DataFrame, minDf: Long = 5,
                      topK: Int = 100, rsd: Double = 0.02): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"),
        approx_count_distinct(col("doc_id"), rsd).as("doc_freq"))
      .filter(col("doc_freq") >= minDf)
      .orderBy(col("freq").desc, col("tok"))
      .limit(topK)

  /** The dedup KEEP decision, end to end: near-dup clusters (q55's
    * pipeline) joined back to the corpus, keeping the longest document
    * per cluster (ties to the smallest doc_id) — the standard
    * "keep the most complete copy" policy, integer-deterministic.
    *
    * Scale shape: clusters ≪ corpus (only docs with an LSH edge);
    * the token-count join and the per-cluster window both shuffle on
    * ids, never on text. The cluster sub-pipeline is q55's
    * ([[LlmOps.lshClusters]]), built afresh per execution.
    */
  val clusterKeep: Q = Q(
    "q59_cluster_keep",
    s"""WITH ${LlmOps.duckLshCtes},
       |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
       |${Dedup.duckClusterCtes(4)},
       |toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |ranked AS (
       |  SELECT l4.label AS cluster, l4.id AS doc_id, t.n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY l4.label
       |                       ORDER BY t.n_tokens DESC, l4.id) AS rn,
       |    COUNT(*) OVER (PARTITION BY l4.label) AS n_members
       |  FROM l4 JOIN toks t ON l4.id = t.doc_id)
       |SELECT cluster, doc_id AS kept_doc, n_tokens AS kept_tokens,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM ranked WHERE rn = 1
       |ORDER BY cluster""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val clusters = LlmOps.lshClusters(s, d)
      .select(col("doc_id"), col("cluster"))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("cluster")
    clusters.join(toks, Seq("doc_id"))
      .withColumn("rn",
        row_number().over(w.orderBy(col("n_tokens").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(w).cast("long"))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("kept_doc"),
        col("n_tokens").as("kept_tokens"), col("n_members"))
      .orderBy("cluster")
  }

  /** Sequence packing for training: documents are laid out per source
    * in doc_id order and assigned to fixed token-budget bins by their
    * cumulative offset — bin = (running_total − n_tokens) / budget.
    * Offset packing, not bin-splitting: a document may overflow its bin
    * by < its own length (real packers then split or pad; the bin
    * ASSIGNMENT is the distributed part and is what's verified).
    * Integer-deterministic: same layout on every run and engine. The
    * oracle CASTs bin to BIGINT because DuckDB's SUM(BIGINT) window
    * returns HUGEINT and `//` propagates it — the typed hash must see
    * INT64 on both engines.
    *
    * Scale shape: one window cumulative sum per source (sort-shuffle on
    * the source partition), then a partial+final agg on (source, bin).
    * Token counts, not text, flow through the window.
    */
  val sequencePacking: Q = {
    val budget = 2048L
    Q(
      "q60_sequence_packing",
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |placed AS (
         |  SELECT source, doc_id, n_tokens,
         |    CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |       ROWS UNBOUNDED PRECEDING) - n_tokens) // $budget AS BIGINT) AS bin
         |  FROM t)
         |SELECT source, bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM placed
         |GROUP BY source, bin
         |ORDER BY source, bin""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        // floor division spelled out on both sides: Spark `/` on longs is
        // double division + truncating cast, DuckDB casts ROUND — so the
        // oracle uses `//` and this side floors (offsets are non-negative,
        // and budget is a power of two, so the double math is exact)
        .withColumn("bin",
          floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(budget))
            .cast("long"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "bin")
    }
  }

  val all: Seq[Q] = Seq(tokenPercentiles, vocabTopK, clusterKeep, sequencePacking)
}
