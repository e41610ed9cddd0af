package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Physical-plan shape assertions for the round-3 operators — the
  * scale claims in their docstrings, checked against the real plans.
  *
  * Eager checkpoints truncate a plan at each lineage cut, so a result's
  * executed plan hides the sub-pipelines behind it. Those are checked
  * from the run itself: every checkpoint fires
  * `onSuccess("localCheckpoint", qe)` with the checkpointed
  * sub-pipeline's full executed plan (and `localizeSmall` fires
  * "collect"), so [[subPlans]] captures each sub-execution a pipeline
  * runs while it is built.
  */
class NewOpPlanSpec extends SparkSpec {

  /** Run `build` and return its result with the (funcName, executed
    * plan) of every query execution it ran. The bus is drained before
    * registering, so an earlier execution's late event is never
    * attributed here, and again before reading.
    */
  private def subPlans[T](build: => T): (T, Seq[(String, String)]) = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        got.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = build
      ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      (out, got.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def declared(q: String): org.apache.spark.sql.DataFrame =
    graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")

  private def plan(q: String): String = declared(q).queryExecution.executedPlan.toString

  test("q52 contamination: benchmark gram set broadcasts; corpus never shuffle-joined") {
    val p = plan("q52_contamination")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "corpus-side sort-merge join would shuffle the corpus")
  }

  test("q53 stratified sample: map-only filter, no join, map-side partial agg") {
    val p = plan("q53_stratified_sample")
    assert(!p.contains("Join"), "sampling must not join")
    assert(p.contains("partial"), "missing map-side partial aggregation")
  }

  test("q51 tick bars: no join, map-side partial agg") {
    val p = plan("q51_tick_bars")
    assert(!p.contains("Join"))
    assert(p.contains("partial"), "missing map-side partial aggregation")
  }

  test("no declared query plans a cartesian product (the textbook 100x scale-killer)") {
    // BroadcastNestedLoopJoin with a bounded broadcast side (q16 bands,
    // q41 query set) is fine at scale; CartesianProductExec never is.
    // Checked on each declared plan AND every sub-execution the query
    // runs while it is built (checkpointed sub-pipelines, fixtures)
    var checkpoints = 0
    graft.SparkEntry.queries.keys.foreach { name =>
      val (df, subs) = subPlans(declared(name))
      checkpoints += subs.count(_._1 == "localCheckpoint")
      (("declared", df.queryExecution.executedPlan.toString) +: subs).foreach { case (f, p) =>
        assert(!p.contains("CartesianProduct"),
          s"$name plans a cartesian product in its $f plan:\n${p.take(2000)}")
      }
    }
    assert(checkpoints > 0, "no checkpointed sub-execution was captured")
  }

  test("checkpoint-heavy pipelines are cartesian-free in their FULL un-truncated plans") {
    // a cross join hidden behind an eager checkpoint is invisible in the
    // result's plan but not in the checkpoint's own sub-execution
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pipelines = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashLsh" -> (() => graft.llm.Dedup.minhashLsh(docs)),
      "nearDupClusters" -> (() => graft.llm.Dedup.nearDupClusters(
        graft.llm.Dedup.minhashLsh(docs).filter(org.apache.spark.sql.functions.col("jaccard") >= 0.5))),
      "simhashPairs" -> (() => graft.llm.Dedup.simhashPairs(docs)),
      "ivfTrain" -> (() => graft.llm.IvfSearch.trainCentroids(emb, k = 8, iters = 1)))
    pipelines.foreach { case (name, build) =>
      val (df, subs) = subPlans(build())
      assert(subs.nonEmpty, s"$name: no sub-execution captured — the check would be vacuous")
      (("result", df.queryExecution.executedPlan.toString) +: subs).foreach { case (f, p) =>
        assert(!p.contains("CartesianProduct"),
          s"$name hides a cartesian product in its $f plan:\n${p.take(2000)}")
      }
    }
  }

  test("q43 production near-dup: LSH bucket equi-join, not a nested-loop pair scan") {
    val p = plan("q43_embedding_near_dup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join on bucket:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pair generation must be the bucket equi-join")
  }

  test("q35 jaccard: per-document sizes table is never hint-forced to broadcast") {
    // `sizes` is one row per document — a forced broadcast() hint would
    // OOM the driver at a 10^9-doc corpus. The plan must carry NO
    // broadcast hint for it; whether AQE then picks a broadcast join at
    // bench scale (where sizes IS small) is the optimizer's call, which
    // is exactly the point.
    val analyzed = graft.SparkEntry.queries("q35_jaccard_pairs")(
      spark, "/root/testdata/sf0.001").queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"q35 declares a broadcast hint:\n${analyzed.take(2000)}")
  }

  test("q63/q64 correlated subqueries decorrelate to joins — no per-row subplan survives") {
    for (q <- Seq("q63_exists_subquery", "q64_scalar_subquery")) {
      val exec = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution
      // optimizer must rewrite the correlation into a join
      val opt = exec.optimizedPlan.toString
      assert(opt.contains("Join"), s"$q: expected decorrelated join:\n${opt.take(2000)}")
      // and no correlated-subquery expression may remain in the physical plan
      val p = exec.executedPlan.toString
      assert(!p.toLowerCase.contains("correlated"),
        s"$q: correlated subquery survived to execution:\n${p.take(2000)}")
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("self-join pair operators: pairs come from a shuffled hash join of two pinned exchanges, in pinned jobs") {
    // Both sides of the pair join are repartitioned to the cluster's
    // parallelism on the full join key and the join is hinted
    // shuffle_hash, so the pair emission is a ShuffledHashJoin reading
    // two REPARTITION_BY_NUM exchanges in place: never a broadcast
    // input, at any corpus size. The job counts pin that no exchange
    // moved.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
    val emb = graft.Tables.embeddings(spark, sf)
    val index = graft.core.Checkpoints.stable(graft.llm.IvfSearch.buildIndexMultiProbe(
      emb.select("vec_id", "embedding"), graft.llm.IvfSearch.trainCentroids(emb, k = 8, iters = 1)))
    val para = spark.sparkContext.defaultParallelism
    def pinned(p: SparkPlan): Boolean = p match {
      case i: InputAdapter => pinned(i.child)
      case s: ShuffleQueryStageExec => pinned(s.plan)
      case r: ReusedExchangeExec => pinned(r.child)
      case e: ShuffleExchangeExec =>
        e.shuffleOrigin == REPARTITION_BY_NUM && e.outputPartitioning.numPartitions == para
      case _ => false
    }
    def has(p: SparkPlan, c: String) = p.output.exists(_.name == c)
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame, String, Int)](
      ("minhashLsh", () => graft.llm.Dedup.minhashLsh(docs), "doc", 6),
      ("simhashPairs", () => graft.llm.Dedup.simhashPairs(docs), "doc", 6),
      ("cosinePairsLsh", () => graft.llm.SimilaritySearch.cosinePairsLsh(emb, 0.2), "id", 6),
      ("semanticPairs", () => graft.llm.SemanticDedup.semanticPairs(index, 0.35), "id", 5),
      ("semanticPairs(probes)", () => graft.llm.SemanticDedup.semanticPairs(
        index, 0.35, probesCol = Some("probes")), "id", 5))
    ops.foreach { case (name, build, id, jobsPin) =>
      val (df, jobs) = withJobCount { val df = build(); df.collect(); df }
      val plan = df.queryExecution.executedPlan
      // the pair join: one side carries the a-ids only, the other the b-ids only
      val pairJoins = Plans.collect(plan) {
        case j: BaseJoinExec if has(j.left, s"${id}_a") && !has(j.left, s"${id}_b") &&
          has(j.right, s"${id}_b") && !has(j.right, s"${id}_a") => j
      }
      assert(pairJoins.length == 1, s"$name: expected one pair join:\n$plan")
      assert(pairJoins.head.isInstanceOf[ShuffledHashJoinExec],
        s"$name: the pair join is not a ShuffledHashJoin:\n$plan")
      assert(pairJoins.head.children.forall(pinned),
        s"$name: a pair-join input is not a $para-way repartition exchange:\n$plan")
      assert(jobs == jobsPin, s"$name ran $jobs Spark jobs, pinned at $jobsPin")
    }
  }

  test("simhashPairs: the bucket counts broadcast even above the static broadcast threshold") {
    // The (band, key) histogram has at most 4·256 rows at any corpus
    // size, but the static planner sizes an aggregate by its input. A
    // 1-byte static threshold, with AQE's left at 10 MB, stands for a
    // corpus above the threshold: an un-hinted count join would then
    // shuffle the banded rows on (band, key) before AQE switched it to
    // a broadcast.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "1")
    spark.conf.set(keys(1), "10485760")
    try {
      val df = graft.llm.Dedup.simhashPairs(graft.Tables.documents(spark, "/root/testdata/sf0.001"))
      df.collect()
      val plan = df.queryExecution.executedPlan
      val countJoins = Plans.collect(plan) {
        case j: BaseJoinExec if j.leftKeys.flatMap(_.references.map(_.name)) == Seq("band", "key") => j
      }
      assert(countJoins.nonEmpty, s"no count join on (band, key):\n$plan")
      countJoins.foreach {
        case j: BroadcastHashJoinExec =>
          val streamed = if (j.buildSide == BuildRight) j.left else j.right
          assert(Plans.collect(streamed) { case e: Exchange => e }.isEmpty,
            s"the banded rows are shuffled into the count join:\n$plan")
        case j => fail(s"the count join is not a broadcast:\n$j\n$plan")
      }
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
