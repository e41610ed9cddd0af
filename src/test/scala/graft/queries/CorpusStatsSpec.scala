package graft.queries

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec}

/** Value and plan-shape checks for the corpus-analysis operators
  * (q57–q59). The oracle hash-compare is the hard gate; these pin the
  * invariants that survive data changes and the scale claims in the
  * docstrings.
  */
class CorpusStatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q57 percentiles: ordered p50 <= p90 <= p99, n_docs sums to corpus") {
    val df = SparkEntry.queries("q57_token_percentiles")(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90, p99) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(p50 <= p90 && p90 <= p99, s"percentiles out of order: $r")
    }
    val total = rows.map(_.getLong(1)).sum
    val corpus = graft.Tables.documents(spark, sf).count()
    assert(total == corpus, s"per-source n_docs $total != corpus $corpus")
  }

  test("q58 vocab: doc_freq <= freq, min-df respected, tie-free descending order") {
    val rows = SparkEntry.queries("q58_vocab_topk")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"doc_freq > freq: $r")
      assert(r.getLong(2) >= 5, s"min-df violated: $r")
    }
    val order = rows.map(r => (-r.getLong(1), r.getString(0)))
    assert(order.sameElements(order.sorted), "not ordered by (freq desc, tok)")
  }

  test("q58 plan: stacked hash aggs with partials, no expand/count-distinct shuffle") {
    val p = SparkEntry.queries("q58_vocab_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial"), "missing map-side partial aggregation")
    assert(!p.contains("Expand"), "count-distinct expand would triple the shuffle")
    // orderBy+limit must compile to per-partition top-k, not a global sort
    // of the whole vocabulary
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n${p.take(1500)}")
  }

  test("q59 keep decision: one kept doc per cluster, kept is longest, members >= 2") {
    val kept = SparkEntry.queries("q59_cluster_keep")(spark, sf).cache()
    assert(kept.select("cluster").distinct().count() == kept.count())
    // every kept doc's token count is the max in its cluster: re-derive
    val docs = graft.Tables.documents(spark, sf)
    val pairs = graft.llm.Dedup.minhashLsh(docs).filter(col("jaccard") >= 0.5)
    val clusters = graft.llm.Dedup.nearDupClusters(pairs, maxRounds = 4)
    val maxTok = clusters
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), Seq("doc_id"))
      .groupBy("cluster").agg(max("n_tokens").as("max_tokens"),
        count(lit(1)).as("n"))
    val joined = kept.join(maxTok, Seq("cluster")).cache()
    assert(joined.filter(col("kept_tokens") =!= col("max_tokens")).count() == 0)
    assert(joined.filter(col("n_members") =!= col("n")).count() == 0)
    assert(kept.filter(col("n_members") < 2).count() == 0,
      "every doc in the edge set has a neighbor, so clusters have >= 2 members")
    // unpersist: q59 plans are now IDENTICAL across calls (the cluster
    // sub-pipeline is a shared pinned checkpoint), so a cached q59 would
    // be substituted as InMemoryRelation into the later plan-shape test
    joined.unpersist(); kept.unpersist()
  }

  test("q60 packing: bins are contiguous doc ranges, token totals conserved") {
    val bins = SparkEntry.queries("q60_sequence_packing")(spark, sf).collect()
    assert(bins.nonEmpty)
    // per source: bin ids contiguous from 0, doc ranges non-overlapping in order
    bins.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(1))
      assert(ordered.map(_.getLong(1)).sameElements(ordered.indices.map(_.toLong)))
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4),
          "doc ranges must not overlap between consecutive bins")
        case _ =>
      }
    }
    val packed = bins.map(_.getLong(3)).sum
    val corpus = graft.Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    assert(packed == corpus, "every token must land in exactly one bin")
  }

  test("approx percentile scale path: rank error within sketch bound of exact q57") {
    val docs = graft.Tables.documents(spark, sf)
    val toks = docs.select(col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens")).cache()
    val approx = CorpusStatsOps.tokenPercentilesApprox(docs).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val src = r.getString(0); val n = r.getLong(1)
      for ((p, i) <- Seq(0.50 -> 2, 0.90 -> 3, 0.99 -> 4)) {
        val v = r.getLong(i)
        // true rank fraction of the sketch's answer, as [below, below+at]
        val below = toks.filter(col("source") === src && col("n_tokens") < v).count()
        val atOrBelow = toks.filter(col("source") === src && col("n_tokens") <= v).count()
        val tol = math.max(1.0, 1e-4 * n) / n + 1.0 / n // sketch bound + rank rounding
        assert(below.toDouble / n <= p + tol && atOrBelow.toDouble / n >= p - tol,
          s"$src p$p: value $v has rank range [${below.toDouble / n}, ${atOrBelow.toDouble / n}]")
      }
    }
    // plan shape: single pass, no window sort
    val plan = CorpusStatsOps.tokenPercentilesApprox(docs).queryExecution
      .optimizedPlan.toString
    assert(!plan.contains("Window"), "approx path must not need a per-group sort")
  }

  test("approx vocab scale path: exact freq, doc_freq within HLL bound, one aggregation") {
    val docs = graft.Tables.documents(spark, sf)
    val exact = SparkEntry.queries("q58_vocab_topk")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = CorpusStatsOps.vocabTopKApprox(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.nonEmpty)
    // freq is a plain count — must match the exact path token-for-token
    val shared = exact.keySet intersect approx.keySet
    assert(shared.size >= (exact.size * 0.9).toInt,
      s"top-k sets diverged: ${shared.size} of ${exact.size} shared")
    shared.foreach { t => assert(approx(t)._1 == exact(t)._1,
      s"freq must be exact for $t: ${approx(t)._1} != ${exact(t)._1}") }
    // doc_freq within a generous multiple of the 2% rsd
    shared.foreach { t =>
      val (e, a) = (exact(t)._2.toDouble, approx(t)._2.toDouble)
      assert(math.abs(a - e) / e <= 0.10, s"doc_freq off for $t: $a vs $e")
    }
    // plan shape: ONE aggregation pair (partial+final), no stacked groupBy
    val p = CorpusStatsOps.vocabTopKApprox(docs).queryExecution.executedPlan.toString
    assert(p.contains("partial"), "missing map-side partial aggregation")
    assert(!p.contains("Expand"), "HLL path must not expand for count-distinct")
  }

  test("q57 plan: no join; q59 plan: text never enters the window shuffle") {
    val p57 = SparkEntry.queries("q57_token_percentiles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p57.contains("Join"), "percentile selection must not join")
    val q59 = SparkEntry.queries("q59_cluster_keep")(spark, sf)
    // logical plan: AQE hides WindowExec until execution
    val windows = q59.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(!w.child.output.map(_.name).contains("text"),
        "document text must be projected away before the cluster window")
    }
  }
}
