package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries.Embeddings.{cosine, dot, norm}

/** Approximate-nearest-neighbor search over an `embedding: array<float>`
  * column (BASELINE north star).
  *
  * Brute-force path: broadcast the (small) query set against the corpus —
  * the corpus never shuffles; per-query top-k reduces via window. This is
  * the exactness baseline and the right plan when |queries| is small.
  *
  * LSH path: random-hyperplane signs bucket the corpus once (signs are
  * md5-derived integers, deterministic across engines); queries probe
  * only their bucket (plus optional multi-probe neighbors). At 100 TB the
  * bucketed corpus is written partitioned by bucket, so a probe is a
  * partition-pruned scan, not a full pass.
  */
object SimilaritySearch {

  /** Deterministic hyperplane weight for (plane h, dim j): md5-derived
    * integer in [-500, 500) — integer weights so both engines compute
    * identical sign bits.
    */
  private def weight(h: Int, j: Int): Int =
    (BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp_${h}_$j".getBytes).take(4).map("%02x".format(_)).mkString, 16) % 1000 - 500).toInt

  /** The same weight, for generating the DuckDB oracle SQL. */
  def duckWeight(h: Int, j: Int): Int = weight(h, j)

  /** DuckDB SQL for [[bucketId]] — generated from the same md5-derived
    * integer weights, so both engines compute identical sign bits.
    */
  def duckBucketSql(emb: String = "embedding", planes: Int = 8, dim: Int = 64): String = {
    def planeDot(h: Int): String =
      (0 until dim).map(j => s"CAST($emb[${j + 1}] AS DOUBLE) * (${weight(h, j)})")
        .mkString("(", " + ", ")")
    // CAST: DuckDB types small CASE literals INTEGER; Spark's 1L << h is
    // BIGINT — the driver's typed hash must see INT64 on both engines
    (0 until planes).map(h =>
      s"(CASE WHEN ${planeDot(h)} > 0 THEN ${1L << h} ELSE 0 END)")
      .mkString("CAST((", " + ", ") AS BIGINT)")
  }

  /** Sum_j emb[j] * w(h, j) — the codegen'd fdot against a literal
    * weight vector (integer weights are exactly representable as float,
    * so this is bit-identical to the elementwise sum both engines run).
    */
  def planeDot(emb: Column, h: Int, dim: Int): Column =
    graft.functions.VectorFunctions.fdot(emb,
      array((0 until dim).map(j => lit(weight(h, j).toFloat)): _*))

  /** LSH bucket id: sign bits of `planes` hyperplane dots. */
  def bucketId(emb: Column, planes: Int, dim: Int): Column =
    (0 until planes).map(h => when(planeDot(emb, h, dim) > 0, lit(1L << h)).otherwise(0L))
      .reduce(_ + _)

  /** Enforces the "query set must be broadcast-small" contract that
    * [[topK]]/[[topKLsh]] document: a bounded probe
    * (limit max+1, so the check never scans more than max+1 rows) fails
    * fast with an actionable error instead of OOMing the driver on a
    * corpus-sized query set. Bound is `graft.ann.maxBroadcastQueries`
    * (default 100k ≈ 30 MB of 64-dim float vectors broadcast).
    */
  private def requireBroadcastSmall(queries: DataFrame, entryPoint: String): Unit = {
    val max = queries.sparkSession.conf
      .getOption("graft.ann.maxBroadcastQueries").map(_.toLong).getOrElse(100000L)
    // select(lit) prunes every data column, so the probe scan reads
    // row-group metadata, not embedding bytes
    val probed = queries.select(lit(1))
      .limit(math.min(max + 1, Int.MaxValue.toLong).toInt).count()
    require(probed <= max,
      s"$entryPoint broadcasts the query set; it has > $max rows. Raise " +
        "spark conf graft.ann.maxBroadcastQueries if this is intentional, or use " +
        "SimilaritySearch.cosinePairsLshAuto (all-pairs) / IvfSearch.topK " +
        "(persisted-index ANN) for corpus-scale query sets.")
  }

  /** Exact brute-force cosine top-k for a query set (must be broadcast-small). */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    requireBroadcastSmall(queries, "SimilaritySearch.topK")
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val sims = corpus.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("n_id"),
        cosine(col("q_emb"), col(embCol)).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    sims.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Corpus bucketed by hyperplane LSH (the index build). */
  def bucketize(corpus: DataFrame, planes: Int = 8, dim: Int = 64,
                embCol: String = "embedding"): DataFrame =
    corpus.withColumn("bucket", bucketId(col(embCol), planes, dim))

  /** ANN top-k with multi-probe: each query probes its own bucket plus
    * every bucket within Hamming distance `probeRadius` of it (flip 1
    * sign bit ⇒ planes extra probes; radius 2 ⇒ +planes·(planes-1)/2).
    * The query side explodes — the CORPUS never replicates, so cost is
    * |probes| × (corpus/2^planes) candidate rows. Recall trades against
    * planes/probeRadius; the exact `topK` is the oracle.
    */
  def topKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8, dim: Int = 64, probeRadius: Int = 1,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    requireBroadcastSmall(queries, "SimilaritySearch.topKLsh")
    val bCorpus = bucketize(corpus, planes, dim, embCol)
    val probeCols: Column => Seq[Column] = b => {
      val r0 = Seq(b)
      val r1 = if (probeRadius >= 1) (0 until planes).map(h => b.bitwiseXOR(lit(1L << h)))
               else Nil
      val r2 = if (probeRadius >= 2)
        (for { h1 <- 0 until planes; h2 <- (h1 + 1) until planes }
          yield b.bitwiseXOR(lit((1L << h1) | (1L << h2))))
      else Nil
      r0 ++ r1 ++ r2
    }
    val bQueries = bucketize(queries, planes, dim, embCol)
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"),
        explode(array(probeCols(col("bucket")): _*)).as("bucket"))
    val sims = bCorpus.join(broadcast(bQueries), Seq("bucket"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("n_id"),
        cosine(col("q_emb"), col(embCol)).as("sim"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    sims.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Exact cosine near-duplicate pairs above a threshold. O(N²/2) —
    * correct as an oracle at test scale; the LSH bucket join is the
    * production path.
    */
  def cosinePairsExact(corpus: DataFrame, threshold: Double,
                       idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // norms are computed once per ROW before the join (the projections sit
    // below the join, so the O(N²) pair loop does only the dot product —
    // same float ops and order as cosine(), just cached)
    val a = corpus.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
      norm(col(embCol)).as("norm_a"))
    val b = corpus.select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
      norm(col(embCol)).as("norm_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", pairCosine)
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** LSH-bucketed near-duplicate pairs: same-bucket candidates only, a
    * [[PairJoin.self]] with the bucket as the group. A dense embedding
    * region, or simply planes too small for the corpus, makes a hot
    * bucket; with [[adaptivePlanes]] the per-bucket histogram is ~N/1024
    * rows. `sim` is orientation-independent bit-for-bit (elementwise
    * products commute, summation order is the dimension order either
    * way), so normalizing the ids with least/greatest keeps it exact.
    */
  def cosinePairsLsh(corpus: DataFrame, threshold: Double,
                     planes: Int = 8, dim: Int = 64,
                     idCol: String = "vec_id", embCol: String = "embedding",
                     blockSize: Int = 1024, maxBlocks: Int = 16): DataFrame = {
    // Materialized once: the bucketed projection feeds the per-bucket
    // histogram AND both join sides — unmaterialized, the executed plan
    // scanned the corpus parquet THREE times, each re-running the
    // planes×dim bucket kernel + norm (r18 before-plan). One checkpoint
    // pays one scan + one kernel pass + a memory/disk write; the three
    // consumers then read blocks (same trade minhashLsh makes for its
    // shingle-hash sets). At cluster scale spark.graft.checkpointDir
    // turns this into a reliable checkpoint like every other stable().
    val bucketed = graft.core.Checkpoints.stable(
      bucketize(corpus, planes, dim, embCol)
        .select(col("bucket"), col(idCol).as("id"), col(embCol).as("emb"),
          norm(col(embCol)).as("norm")))
    PairJoin.self(bucketed, Seq("bucket"), "id", blocked = true,
      blockSize = blockSize, maxBlocks = maxBlocks)
      .withColumn("sim", pairCosine)
      .filter(col("sim") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("sim"))
  }

  /** Cosine of a pair row's `emb_a`/`emb_b` over their precomputed
    * `norm_a`/`norm_b`: the score of every embedding pair join.
    */
  private[llm] val pairCosine: Column =
    dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b"))

  /** Planes that keep the EXPECTED bucket population near `targetBucket`
    * under a uniform-sign model: ceil(log2(n / targetBucket)), floored
    * at `minPlanes` and capped at 62 (the bucket id is a long bitmask).
    * 8 fixed planes means 256 buckets at ANY corpus size — fine at 10^5
    * vectors, quadratic death at 10^9; this scales bucket count with
    * the corpus so per-bucket work stays constant as data grows.
    *
    * Computed in INTEGER arithmetic — the smallest p with
    * 2^p ≥ ceil(n / targetBucket) — not floating-point log2, so the
    * DuckDB oracle ([[duckAdaptivePlanesSql]]) replays the identical
    * value at every n with no ceil(log) edge-case divergence.
    */
  def adaptivePlanes(corpusSize: Long, targetBucket: Long = 1024,
                     minPlanes: Int = 8): Int = {
    val n = math.max(1L, corpusSize)
    // ceil(n / target) without the n+target-1 overflow at Long.MaxValue
    val c = n / targetBucket + (if (n % targetBucket != 0) 1L else 0L)
    val want = 64 - java.lang.Long.numberOfLeadingZeros(c - 1) // 0 when c == 1
    math.min(62, math.max(minPlanes, want))
  }

  /** DuckDB scalar expression for [[adaptivePlanes]] over `COUNT(*) FROM
    * table` — same integer formula: smallest p with
    * (targetBucket << p) ≥ n, floored/capped identically. The shift
    * range stops at 52 because targetBucket·2^52 ≥ 2^62 already exceeds
    * any representable corpus count before the 62 cap can bind.
    */
  def duckAdaptivePlanesSql(table: String, targetBucket: Long = 1024,
                            minPlanes: Int = 8): String =
    s"""LEAST(62, GREATEST($minPlanes,
       |  (SELECT MIN(pl) FROM range(0, 53) r(pl)
       |   WHERE (CAST($targetBucket AS BIGINT) << pl) >= (SELECT COUNT(*) FROM $table))))""".stripMargin

  /** DuckDB SQL for the ADAPTIVE-planes bucket id: the same md5-derived
    * hyperplanes as [[duckBucketSql]], but each plane's bit is guarded
    * by `h < planes` (a column from a one-row CTE computed via
    * [[duckAdaptivePlanesSql]]), so ONE static SQL text replays the
    * bucketing at whatever plane count the corpus size yields —
    * the oracle needs no per-SF regeneration. `maxPlanes` bounds the
    * generated text (24 ⇒ exact up to targetBucket·2^24 vectors; the
    * gate query documents the bound).
    */
  def duckBucketSqlAdaptive(emb: String = "embedding", planesCol: String = "planes",
                            maxPlanes: Int = 24, dim: Int = 64): String = {
    def planeDot(h: Int): String =
      (0 until dim).map(j => s"CAST($emb[${j + 1}] AS DOUBLE) * (${weight(h, j)})")
        .mkString("(", " + ", ")")
    (0 until maxPlanes).map(h =>
      s"(CASE WHEN $h < $planesCol AND ${planeDot(h)} > 0 THEN ${1L << h} ELSE 0 END)")
      .mkString("CAST((", " + ", ") AS BIGINT)")
  }

  /** [[cosinePairsLsh]] with planes derived from the corpus size (one
    * count job — at 100 TB that's a metadata-only parquet row-count).
    * This is the production all-pairs entry point: bucket count grows
    * with the corpus so per-bucket work stays constant (fixed planes=8
    * is 256 buckets forever — quadratic death at 10^9 vectors). Gated
    * by q80 (count-derived oracle); q43 gates the fixed-planes form.
    */
  def cosinePairsLshAuto(corpus: DataFrame, threshold: Double, dim: Int = 64,
                         idCol: String = "vec_id", embCol: String = "embedding",
                         targetBucket: Long = 1024, minPlanes: Int = 8,
                         corpusCount: Option[Long] = None): DataFrame =
    // callers that know the corpus size (e.g. from parquet footer
    // metadata — Tables.rowCount) pass it and skip the count() action
    cosinePairsLsh(corpus, threshold,
      adaptivePlanes(corpusCount.getOrElse(corpus.count()), targetBucket, minPlanes),
      dim, idCol, embCol)
}
