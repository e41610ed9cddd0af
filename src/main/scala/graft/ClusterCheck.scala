package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executor-isolation parity harness (the scale-evidence gap local[32]
  * cannot close): every other measurement in this repo runs tasks in
  * the DRIVER's JVM, where a closure that drags a non-serializable
  * driver object into a task, a custom Expression whose state breaks
  * under Java (de)serialization, or a broadcast that only "worked"
  * because the executor shared the driver's heap all pass silently —
  * the exact first-day failure classes of a real 1000-executor
  * deployment. `local-cluster[n,cores,memMB]` is the standalone
  * scheduler spawning REAL separate executor JVMs (one per worker) on
  * this host, so task closures, Expression trees, and broadcasts must
  * genuinely cross process boundaries.
  *
  * This main runs a serialization-sensitive query subset against
  * `SPARK_GRAFT_MASTER` (default a 2-process cluster) and prints one
  * JSON line of order-independent result digests;
  * `ClusterParitySpec` runs it twice — local[4] vs local-cluster —
  * and asserts digest equality per query. A digest mismatch or a
  * child crash (TaskNotSerializable, ClassNotFound on an executor,
  * Kryo/Java round-trip corruption) is a red spec, not a latent
  * production bug.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001),
  * SPARK_GRAFT_MASTER, SPARK_GRAFT_QUERIES (comma list overriding the
  * subset). Multi-process masters need SPARK_HOME set (the worker
  * launches executors through the distribution's launcher).
  */
object ClusterCheck {

  /** The subset is chosen to cross every serialization surface the
    * engine has: custom codegen Expressions (q24 JsonGet; q31/q33/q34
    * fused text kernels; q40/q56 vector kernels), broadcast structures
    * (q41 cosine top-k, q48 LSH planes, q49 the persisted IVF index),
    * banded/blocked self-joins (q35/q36/q37), iterative pointer-jump
    * clustering (q55), the mapPartitions as-of join (q68), bucketed and
    * salted shuffles (q78/q79), subqueries (q63), plus the flagship
    * agg/join/window shapes (q01/q16/q20/q60/q66). Mostly declarative
    * queries — the forked-JVM concurrency gates prove a different
    * property (crash/concurrency safety) — but the three fixture gates
    * whose DATA PATH is itself a serialization surface are included:
    * q93 (the persisted bloom artifact probed after broadcast), q94
    * (survivor-path planning through LakeReader.readWhere), q95 (the
    * per-cluster union-find shipped via groupByKey/flatMapGroups).
    */
  val subset: Seq[String] = Seq(
    "q01_pricing_summary", "q16_range_join_bands", "q20_resample_ohlcv",
    "q24_json_extract", "q31_token_stats", "q33_lang_id",
    "q34_shingle_stats", "q35_jaccard_pairs", "q36_minhash_lsh",
    "q37_simhash", "q40_vector_stats", "q41_cosine_topk",
    "q48_ann_lsh", "q49_ann_ivf", "q55_neardup_clusters",
    "q56_embedding_quantize", "q60_sequence_packing",
    "q63_exists_subquery", "q66_split_assign", "q68_asof_join",
    "q78_bucketed_join", "q79_salted_skew_join",
    // q91: BloomMightContain holds a Broadcast INSIDE an Expression —
    // the handle must round-trip task serialization and the filter
    // bytes must arrive via the broadcast machinery in a separate JVM;
    // q92: datasketches HLL buffers shuffled between processes
    "q91_bloom_prune_join", "q92_hll_corpus_stats",
    // q93: the bloom artifact's bytes re-broadcast for the anti-join
    // probe in executor JVMs; q94: the skip decision must plan over
    // survivor paths that executors can open; q95: the union-find
    // closure + tuple encoders cross process boundaries
    "q93_incremental_bloom_dedup", "q94_stats_skipping",
    "q95_semantic_dedup",
    // q96: the TopNCosine broadcast kernel (multi-probe assignment)
    // crossing JVM boundaries, plus the cross-cluster quotient solve
    // (driver union-find, distributed fixed-point past its bound)
    "q96_semantic_multiprobe",
    // q97: the incremental-assign path — ArgmaxCosine against a LOADED
    // (not just-trained) centroid frame broadcast to separate JVMs, the
    // partition-pruned snapshot read, and the star-contracted
    // union-find closure over (new edges ∪ persisted label edges)
    "q97_semantic_incremental",
    // q98: the multi-probe ingest path — TopNCosine against LOADED
    // centroids broadcast to separate JVMs, the per-probe partitioned
    // snapshot read, the canonical once-each pair rule over probes
    // arrays crossing process boundaries, and the read-time quotient
    // solve (bridgeLocalRoots) over persisted phase-1 labels
    "q98_semantic_incremental_multiprobe",
    // q101: the manifest-committed read path pinned to a PRIOR version
    // — executors must open exactly the pinned seq's file list (folded
    // on the driver from the _versions log) while later commits, a
    // compaction rewrite, and a retrain exist on disk in the same tree
    "q101_semantic_time_travel",
    // q102: the ANN serving path — probe selection against broadcast
    // centroids, the probed-cluster manifest prune folded on the
    // driver, and executors opening exactly the pruned file list for
    // the candidate join + rank
    "q102_ann_serve_index",
  )

  /** Order-independent, duplicate-sensitive digest computed entirely on
    * executors: sum over rows of the leading 60 bits of each row's
    * sha2(JSON rendering). Addition is associative/commutative (any
    * partitioning/arrival order yields the same digest) and, unlike
    * XOR, duplicated rows change it. 60 bits × up to ~1e6 rows stays
    * far under DECIMAL(38)'s range; both runs use the same Spark build,
    * so the JSON rendering (incl. doubles) is identical bit-for-bit.
    */
  def digest(df: DataFrame): (Long, String) = {
    val r = df
      .select(sha2(to_json(struct(df.columns.map(col): _*)), 256).as("h"))
      .select(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)").as("v"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("v")), lit(0).cast("decimal(38,0)")).cast("string").as("d"))
      .collect()(0)
    (r.getLong(0), r.getString(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,2,1536]")
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(subset)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val b = core.Sessions.configure(
      SparkSession.builder().master(master).appName("graft-cluster-check"),
      shufflePartitions = 8)
    if (master.startsWith("local-cluster")) {
      // executors are separate JVMs: they need the graft classes (same
      // host, so the driver's classpath resolves) and the JDK17 opens
      // the spark-submit launcher would normally inject. ABSOLUTIZE the
      // entries — the executor's cwd is the worker's app dir, so a
      // relative `target/scala-2.13/classes` silently resolves to
      // nothing and the ClassNotFound surfaces as an opaque
      // serialization-proxy ClassCastException mid-plan (observed:
      // a custom Expression in FileSourceScanExec.dataFilters).
      val absCp = sys.props("java.class.path")
        .split(java.io.File.pathSeparator).filter(_.nonEmpty)
        .map(p => java.nio.file.Paths.get(p).toAbsolutePath.toString)
        .mkString(java.io.File.pathSeparator)
      b.config("spark.executor.extraClassPath", absCp)
      b.config("spark.executor.extraJavaOptions",
        graft.queries.MultiWriterChild.jdk17AddOpens.mkString(" "))
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val results = names.map { name =>
        val t0 = System.nanoTime()
        val (rows, d) = digest(SparkEntry.queries(name)(spark, sfDir))
        val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
        System.err.println(s"[cluster-check] $name rows=$rows digest=$d ($sec s)")
        s""""$name":{"rows":$rows,"digest":"$d","sec":$sec}"""
      }
      // executor liveness cross-check: a multi-process master that fell
      // back to driver-only execution would make the parity vacuous
      val execs = spark.sparkContext.statusTracker.getExecutorInfos.length
      println(s"""{"master":"$master","sf":"$sfDir","executors":$execs,""" +
        s""""results":{${results.mkString(",")}}}""")
      System.out.flush()
    } finally spark.stop()
  }
}
