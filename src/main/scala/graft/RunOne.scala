package graft

import org.apache.spark.sql.SparkSession

/** Single-query profiler (`graft.Harness run-one`): run one
  * SparkEntry query at a scale dir, print cold + warm wall time and
  * (optionally) the final executed plan. The fast feedback loop for
  * chasing a per-query scale regression that Bench (all 102, warmup
  * pass included) is too coarse for. Runs on the suite's session: a
  * decade-scale isolated run must see Bench's input-sized shuffle
  * partitions, not a cpu-pinned count (the r14 q43-sf100 lesson — 32
  * reduce partitions for a 74.5 G-pair shuffle wedged for 24+ min).
  */
object RunOne {
  private[graft] def run(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val name = args(1)
    val explain = args.contains("--explain")
    val runs = args.sliding(2).collectFirst {
      case Array("--runs", n) => n.toInt }.getOrElse(2)
    if (name == "--floor") return floor(spark, sfDir)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    var lastDf: org.apache.spark.sql.DataFrame = null
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      lastDf = fn(spark, sfDir)
      val n = lastDf.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[runone] $name run $i: $dt%.2f s, $n rows")
      // keep the final run's localCheckpoint blocks alive when the plan
      // is about to be re-executed for --explain: a checkpointed
      // sub-plan cannot recompute after freeAll
      if (i < runs || !explain) graft.core.Checkpoints.freeAll()
    }
    if (explain && lastDf != null) {
      // count() above executed a separate plan; execute THIS df so the
      // printed plan is the final AQE-re-planned one
      lastDf.queryExecution.toRdd.count()
      println(lastDf.queryExecution.executedPlan.toString)
      graft.core.Checkpoints.freeAll()
    }
  }

  /** Decompose the per-query fixed floor: steady-state wall for (a) a
    * no-data action (pure plan+schedule+collect), (b) a one-shuffle agg
    * over an in-memory range, (c) a parquet scan+agg — each the minimal
    * query of its plan class.
    */
  private def floor(spark: SparkSession, sfDir: String): Unit = {
    def time(label: String)(f: => Unit): Unit = {
      (1 to 3).foreach(_ => f) // warm: JIT + codegen cache
      val t0 = System.nanoTime()
      val n = 10
      (1 to n).foreach(_ => f)
      println(f"[floor] $label: ${(System.nanoTime() - t0) / 1e6 / n}%.1f ms/op")
    }
    // split the floor into its layers: a raw RDD job isolates
    // scheduler+collect; a REUSED DataFrame isolates re-execution
    // without fresh analysis; the fresh-DF forms add per-query
    // planning (analysis + optimization + codegen-cache lookup)
    val sc = spark.sparkContext
    time("raw RDD job (1 partition)") { sc.parallelize(Seq(1), 1).count(): Unit }
    val reused = spark.sql("SELECT 1")
    time("select-1 REUSED df (no re-analysis)") { reused.count(): Unit }
    time("select-1 (no data)") { spark.sql("SELECT 1").count(): Unit }
    time("range-1M map agg (no shuffle)") {
      spark.range(1000000).selectExpr("sum(id)").count(): Unit }
    time("range-1M groupBy agg (one shuffle)") {
      spark.range(1000000).selectExpr("id % 13 k", "id v")
        .groupBy("k").sum("v").count(): Unit }
    time("parquet scan+agg (nation)") {
      spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count().count(): Unit }
  }
}
