package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.{fdot, fnorm}
import scala.util.chaining._

/** IVF (inverted-file) approximate nearest neighbor over
  * `embedding: array<float>` — the coarse-quantizer scale path
  * complementing hyperplane LSH (BASELINE north star).
  *
  * Index build: k centroids refined by a few Lloyd iterations (each a
  * single groupBy over the corpus: assign = argmax cosine, update =
  * per-dimension mean), then every vector is assigned a `cluster` id.
  * At 100 TB the assigned corpus is written partitioned by cluster, so
  * a probe reads only nProbe partitions; centroids are tiny (k × dim
  * floats) and always broadcast — the corpus never shuffles for a
  * query.
  *
  * Determinism: every step is order-independent AND bit-identical
  * cross-engine, so the whole pipeline is verifiable against a DuckDB
  * oracle (q49):
  *   - seeding = md5-hash buckets + min-id representative (one
  *     map-side-combinable agg — NO global window, no single-partition
  *     funnel);
  *   - Lloyd's mean = exact scaled-integer sums (floor(v·2^20) BIGINT),
  *     divided once in double — order-independent, and the 2^-20
  *     quantization is far below any distance that matters to a coarse
  *     quantizer.
  *
  * Search: a query probes its nProbe nearest centroids' clusters and
  * ranks candidates by exact cosine.
  */
object IvfSearch {

  /** Lloyd-update quantization scale (2^20): float·2^20 floors to an
    * exact integer in both engines. Sums accumulate as DECIMAL(38,0) on
    * the Spark side (still map-side combinable and exact) and HUGEINT on
    * the DuckDB side (its native BIGINT-sum type), so there is no 2^63
    * wraparound even with unnormalized embeddings at 10^11-row clusters.
    */
  val QuantScale: Double = 1048576.0

  /** The assignment kernels' centroid broadcast: (ids ascending,
    * centroids, norms with a zero norm guarded to 1.0).
    */
  private[llm] type Kernel =
    org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Float]], Array[Double])]

  /** argmax-cosine cluster id for each vector: centroids are collected
    * (k × dim floats — small relative to the corpus by construction),
    * BROADCAST once, and assignment is a MAP-ONLY projection through
    * one codegen [[graft.functions.ArgmaxCosine]] kernel — no
    * crossJoin, no shuffle, no per-row window, deterministic under task
    * retry. ‖emb‖ scales every centroid's score equally, so argmax only
    * needs fdot(emb, c)/‖c‖ with ‖c‖ precomputed on the driver. Ties
    * prefer the smaller cluster id (the oracle's ORDER BY score DESC,
    * cluster ASC). The broadcast shape is what a corpus-adaptive k
    * needs: the previous per-centroid inlined-literal `greatest` plan's
    * codegen grew with k and fell back to interpreted evaluation past a
    * few dozen centroids (measured ~3 µs/dot at k=196 — BASELINE.md
    * round-13; 26× wall on the q95 machinery at sf10).
    */
  private[llm] def broadcastCentroids(spark: org.apache.spark.sql.SparkSession,
                                      centroids: DataFrame): Kernel = {
    val cents: Array[(Int, Array[Float], Double)] = centroids
      .collect()
      .map { r =>
        val c = r.getAs[scala.collection.Seq[Float]]("centroid").toArray
        val norm = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
        (r.getAs[Int]("cluster"), c, if (norm == 0.0) 1.0 else norm)
      }
      .sortBy(_._1) // ascending ids: the kernels' strict > ties to the first
    spark.sparkContext.broadcast((cents.map(_._1), cents.map(_._2), cents.map(_._3)))
  }

  private def assign(df: DataFrame, centroids: DataFrame,
                     embCol: String): DataFrame =
    assignWith(df, broadcastCentroids(df.sparkSession, centroids), embCol)

  /** [[buildIndex]] against an already-built centroid broadcast. */
  private[llm] def assignWith(df: DataFrame, bc: Kernel, embCol: String): DataFrame =
    df.withColumn("cluster", graft.functions.VectorFunctions.argmaxCosine(col(embCol), bc))

  /** Multi-probe assignment: one row per (vector, probe) with `cluster`
    * and 1-based `probe_rank` — rank 1 is [[buildIndex]]'s assignment,
    * rank 2..nProbe are the next-nearest centroids by the identical
    * (score DESC, id ASC) rule. The blocking relaxation SemDeDup-style
    * dedup needs to see boundary pairs: a vector near a Voronoi face
    * joins both adjacent clusters, so a duplicate pair straddling the
    * face becomes a within-cluster candidate instead of being
    * structurally invisible. Cost: nProbe× the index rows (pair stage
    * ≤ nProbe²× — still Σ|cluster|², never N²).
    *
    * RESERVED OUTPUT NAMES: the result adds `probes` (the vector's full
    * ordered probe set — the canonical pair rule needs both sides' sets
    * at join time), `cluster`, and `probe_rank`. The input must not
    * already carry any of these columns (a silent `withColumn`
    * overwrite would corrupt the caller's data) — enforced by require.
    */
  def buildIndexMultiProbe(corpus: DataFrame, centroids: DataFrame,
                           embCol: String = "embedding", nProbe: Int = 2): DataFrame =
    assignMultiProbeWith(corpus, broadcastCentroids(corpus.sparkSession, centroids),
      embCol, nProbe)

  /** [[buildIndexMultiProbe]] against an already-built centroid broadcast. */
  private[llm] def assignMultiProbeWith(corpus: DataFrame, bc: Kernel, embCol: String,
                                        nProbe: Int): DataFrame = {
    Seq("probes", "cluster", "probe_rank").foreach { reserved =>
      require(!corpus.columns.contains(reserved),
        s"buildIndexMultiProbe reserves output column '$reserved'; rename or drop it on the input")
    }
    corpus
      .withColumn("probes",
        graft.functions.VectorFunctions.topnCosine(col(embCol), bc, nProbe))
      .select(col("*"), posexplode(col("probes")).as(Seq("__r", "cluster")))
      .withColumn("probe_rank", col("__r") + 1)
      // `probes` (the vector's full probe set) is retained on every
      // exploded row: the canonical pair rule (emit each pair only in
      // MIN(probes_a ∩ probes_b)) needs both sides' sets at join time
      .drop("__r")
  }

  /** Deterministic 60-bit md5 hash of the id (cross-engine: DuckDB
    * computes the identical value — see TextHash.duckMd5Long).
    */
  private def idHash(idCol: String): Column =
    TextHash.md5Long(col(idCol).cast("string"))

  /** Build centroids: deterministic hash-bucket seed (md5(id) mod k
    * buckets, representative = embedding at the bucket's min id), then
    * `iters` Lloyd refinements. Returns (cluster, centroid) with AT MOST
    * k rows: md5-hash seeding can leave a bucket empty on small corpora,
    * and a Lloyd round drops clusters that receive no assignments —
    * callers must not assume exactly k clusters. (Fewer clusters only
    * coarsens the quantizer; probe and rank remain correct.)
    */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int = 2,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // Each round's centroid table is ≤ k rows — the SAME boundedness the
    // kernels' broadcastCentroids collect already relies on — so when k
    // is modest, materialize rounds driver-side instead of as
    // localCheckpoints: per-round lineage is cut identically, but every
    // downstream `.collect()` (one per assign round, one per kernel
    // broadcast build) becomes a zero-job short-circuit and no
    // block-manager state is left behind. Measured at sf0.1 this removes
    // 3-4 driver round-trips per train. The row gate below bounds the
    // COLLECT (driver memory); the representation — plan-embedded
    // LocalRelation vs an RDD-backed frame whose payload stays out of
    // the plan — is decided inside localizeSmall by MEASURED bytes
    // (65k centroids × a high-dim float array would otherwise be
    // hundreds of MB re-serialized into every plan copy). Past the row
    // gate keep the checkpoint path — values identical either way.
    val localize = k <= (1 << 16)
    def cut(df: DataFrame): DataFrame =
      if (localize) graft.core.Scans.localizeSmall(df)
      else graft.core.Checkpoints.stable(df)
    var centroids = corpus
      .groupBy(pmod(idHash(idCol), lit(k.toLong)).cast("int").as("cluster"))
      .agg(min_by(col(embCol), col(idCol)).as("centroid"))
      .pipe(cut)

    for (_ <- 0 until iters) {
      val assigned = assign(corpus.select(col(idCol), col(embCol)), centroids, embCol)
      // per-dimension mean via posexplode + groupBy: exact scaled-integer
      // sums (map-side combinable, order-independent), one double divide
      centroids = assigned
        .select(col("cluster"), posexplode(col(embCol)).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg(sum(floor(col("v").cast("double") * QuantScale).cast("decimal(38,0)")).as("q"),
          count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          (col("q").cast("double") / (col("n").cast("double") * QuantScale)).as("m"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m").cast("float")).as("centroid"))
        .pipe(cut)
    }
    centroids
  }

  /** Assign every corpus vector its cluster (the index build output —
    * write this partitioned by `cluster` at scale).
    */
  def buildIndex(corpus: DataFrame, centroids: DataFrame,
                 embCol: String = "embedding"): DataFrame =
    assign(corpus, centroids, embCol)

  /** Top-k ANN: probe the nProbe nearest clusters per query. */
  def topK(index: DataFrame, centroids: DataFrame, queries: DataFrame, k: Int,
           nProbe: Int = 2, idCol: String = "vec_id",
           embCol: String = "embedding"): DataFrame = {
    val wq = Window.partitionBy(col("q_id")).orderBy(col("__sim").desc, col("cluster"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("__sim", fdot(col("q_emb"), col("centroid")) /
        (fnorm(col("q_emb")) * fnorm(col("centroid"))))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cluster"))

    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    index.join(broadcast(probes), Seq("cluster"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("n_id"),
        (fdot(col("q_emb"), col(embCol)) /
          (fnorm(col("q_emb")) * fnorm(col(embCol)))).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** A reopened IVF index: tiny centroids + the cluster-partitioned
    * corpus scan (probe prunes to nProbe of the partition dirs).
    */
  final case class IvfIndex(centroids: DataFrame, index: DataFrame)

  /** Persist a trained index to the lake so search never retrains per
    * session (VERDICT r5 #8): centroids land as one tiny parquet, the
    * assigned corpus is written PARTITIONED BY cluster — at scale a
    * probe therefore reads only nProbe/k of the data directories
    * (partition pruning on the `cluster` join key), and the index
    * build's shuffle is paid once, at write time. Optionally registers
    * the index in the manifest catalog like a feature set (`type` =
    * index name), so discovery/versioning flow through the same
    * catalog queries as any other artifact.
    */
  def saveIndex(root: String, name: String, version: String,
                centroids: DataFrame, index: DataFrame,
                catalog: Option[graft.catalog.ManifestCatalog] = None): String = {
    val dir = s"$root/ivf/$name/$version"
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // static: a re-save replaces every cluster dir, also those the new
    // index no longer has, whatever the session's overwrite mode
    index.write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("cluster").parquet(s"$dir/index")
    catalog.foreach(_.addEntry(graft.model.ManifestEntry(
      exchange = "", market = "", symbol = "", path = dir, `type` = name,
      time_from = 0L, time_to = 0L, version = version, checksum = "",
      created_at = System.currentTimeMillis(), script_git_hash = "",
      metadata_json = s"""{"kind":"ivf_index"}""")))
    dir
  }

  /** Reopen a persisted index — a fresh session searches the SAME
    * trained centroids/assignments (bit-exact vs the building session,
    * IvfSpec), instead of re-running Lloyd.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                root: String, name: String, version: String): IvfIndex = {
    val dir = s"$root/ivf/$name/$version"
    IvfIndex(
      centroids = spark.read.parquet(s"$dir/centroids"),
      index = spark.read.parquet(s"$dir/index"))
  }

  // ---- DuckDB oracle generation (same constants, same arithmetic) ----

  /** DuckDB: sequential double dot product of two REAL lists. */
  private def duckDot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')"

  private def duckNorm(a: String): String =
    s"sqrt(list_aggregate(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"

  /** The full q49 pipeline as one DuckDB SQL statement, generated from
    * the same constants as the Spark plan (k clusters, `iters` Lloyd
    * rounds, nProbe probes, top-k). Every floating-point op replicates
    * the Spark expression exactly: assign scores are dot/‖c‖ (driver
    * norm = sequential double fold), probe/rank scores are full cosine,
    * Lloyd means are floor(v·2^20) BIGINT sums divided once.
    */
  /** WITH-fragment replaying the index BUILD alone (seeds → `iters`
    * Lloyd rounds → an `idx(vec_id, embedding, cluster)` relation) —
    * shared by [[duckOracle]] and any oracle that composes on top of a
    * deterministic IVF assignment (q95 semantic dedup). Caller splices
    * it as `WITH $fragment, ...`.
    */
  def duckIndexCtes(k: Int, iters: Int): String =
    duckIndexCtesK(k.toString, iters)

  /** [[duckIndexCtes]] with the cluster count as a SQL EXPRESSION — the
    * q80-adaptive-planes pattern: a corpus-adaptive quantizer stays
    * replayable in ONE static SQL string because both engines derive k
    * from the same COUNT(*) arithmetic (e.g.
    * `(SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 1024.0) AS BIGINT)) FROM
    * embeddings)` ↔ [[SemanticDedup.adaptiveK]]). k only appears in the
    * seed-bucket modulus; everything downstream keys on the cluster ids
    * it produces.
    */
  def duckIndexCtesK(kSql: String, iters: Int): String =
    duckIndexCtesTrainedK(kSql, iters, "TRUE")

  /** [[duckIndexCtesK]] with the TRAINING corpus restricted to
    * `embeddings WHERE trainPred` — the incremental-index shape (q97):
    * seeds and every Lloyd refinement see only the training slice (the
    * data that existed when [[SemanticIndex.init]] froze the
    * centroids), while the final `idx` assigns the ENTIRE table against
    * those frozen centroids — exactly what a sequence of
    * [[SemanticIndex.ingest]] batches computes one batch at a time.
    * `kSql` should likewise count only the training slice.
    */
  def duckIndexCtesTrainedK(kSql: String, iters: Int, trainPred: String): String =
    duckIndexCtesFrom(kSql, iters, "embeddings", trainPred)

  /** [[duckIndexCtesTrainedK]] over an arbitrary corpus RELATION (a CTE
    * name or table) instead of `embeddings` — the retrain-loop shape
    * (q99), where the rebuilt index trains on a DERIVED corpus (the
    * original slice ∪ a drifted batch) that no base-table predicate can
    * express. `rel` must expose (vec_id, embedding).
    */
  def duckIndexCtesFrom(kSql: String, iters: Int, rel: String,
                        trainPred: String = "TRUE"): String = {
    val seed =
      s"""SELECT s.cluster, e.embedding AS centroid FROM (
         |  SELECT (${TextHash.duckMd5Long("vec_id::VARCHAR")} % ($kSql)) AS cluster,
         |         MIN(vec_id) AS mid
         |  FROM $rel WHERE $trainPred GROUP BY 1) s
         |JOIN $rel e ON e.vec_id = s.mid""".stripMargin
    def assignSql(cents: String, pred: String = "TRUE"): String =
      s"""SELECT vec_id, embedding, cluster FROM (
         |  SELECT e.vec_id, e.embedding, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |      ${duckDot("e.embedding", "c.centroid")} /
         |        (CASE WHEN ${duckNorm("c.centroid")} = 0 THEN 1.0
         |              ELSE ${duckNorm("c.centroid")} END) DESC,
         |      c.cluster ASC) AS __rn
         |  FROM $rel e CROSS JOIN $cents c WHERE $pred)
         |WHERE __rn = 1""".stripMargin
    def update(assigned: String): String =
      s"""SELECT cluster, list(CAST(m AS REAL) ORDER BY dim) AS centroid FROM (
         |  SELECT cluster, dim,
         |    CAST(SUM(CAST(FLOOR(v * $QuantScale) AS BIGINT)) AS DOUBLE)
         |      / (COUNT(*) * $QuantScale) AS m
         |  FROM (
         |    SELECT cluster,
         |      UNNEST(generate_series(1, len(embedding))) AS dim,
         |      UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
         |    FROM $assigned)
         |  GROUP BY cluster, dim)
         |GROUP BY cluster""".stripMargin

    val lloydCtes = (0 until iters).flatMap { i =>
      val cents = if (i == 0) "seeds" else s"cent$i"
      // Lloyd refinements see ONLY the training slice; the final idx
      // assigns every row against the frozen centroids
      Seq(s"a${i + 1} AS (${assignSql(cents, trainPred)})",
        s"cent${i + 1} AS (${update(s"a${i + 1}")})")
    }
    val finalCents = if (iters == 0) "seeds" else s"cent$iters"

    (s"seeds AS ($seed)" +: lloydCtes :+ s"idx AS (${assignSql(finalCents)})")
      .mkString(",\n")
  }

  def duckOracle(k: Int, iters: Int, nProbe: Int, topK: Int,
                 queryPred: String = "vec_id < 5"): String = {
    val finalCents = if (iters == 0) "seeds" else s"cent$iters"
    s"""WITH ${duckIndexCtes(k, iters)},
       |probes AS (
       |  SELECT q_id, q_emb, cluster FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cluster,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${duckDot("e.embedding", "c.centroid")} /
       |          (${duckNorm("e.embedding")} * ${duckNorm("c.centroid")}) DESC,
       |        c.cluster ASC) AS __rn
       |    FROM embeddings e CROSS JOIN $finalCents c
       |    WHERE e.$queryPred)
       |  WHERE __rn <= $nProbe),
       |cand AS (
       |  SELECT p.q_id, p.q_emb, i.vec_id AS n_id, i.embedding AS n_emb
       |  FROM probes p JOIN idx i USING (cluster)
       |  WHERE i.vec_id <> p.q_id)
       |SELECT q_id, n_id, rnk FROM (
       |  SELECT q_id, n_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
       |      ${duckDot("q_emb", "n_emb")} /
       |        (${duckNorm("q_emb")} * ${duckNorm("n_emb")}) DESC, n_id) AS BIGINT) AS rnk
       |  FROM cand)
       |WHERE rnk <= $topK
       |ORDER BY q_id, rnk""".stripMargin
  }
}
