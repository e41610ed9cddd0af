package graft.queries

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The shared per-cluster dedup aggregate of q95–q101: its result shape
  * and its premises, which must fail loudly and by query name rather than
  * return a summary of a dedup that did no work.
  */
class DedupSummarySpec extends SparkSpec {

  private def decisions(kept: Boolean*) = {
    import spark.implicits._
    kept.zipWithIndex.map { case (k, i) => (i.toLong, i % 2, k) }
      .toDF("vec_id", "cluster", "kept")
  }

  test("aggregates members, kept count, kept-id sum and the extra kept count per cluster") {
    // ids 0..5 alternate clusters 0/1; ids 1 and 4 are dropped
    val got = SemanticOps.dedupSummary(decisions(true, false, true, true, false, true),
      "q97 premise: dedup", extraKept = Some("n_new_kept" -> (col("vec_id") % 4 === 0)))
      .orderBy("ivf_cluster").collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq(0L, 3L, 2L, 2L, 1L), Seq(1L, 3L, 2L, 8L, 0L)))
  }

  test("a dedup that dropped nothing fails with the query's premise name") {
    val e = intercept[IllegalArgumentException](
      SemanticOps.dedupSummary(decisions(true, true, true), "q95 premise: semantic dedup"))
    assert(e.getMessage.contains("q95 premise: semantic dedup dropped 0 of 3 — no work done"),
      e.getMessage)
  }

  test("a dedup that dropped everything fails too") {
    val e = intercept[IllegalArgumentException](
      SemanticOps.dedupSummary(decisions(false, false), "q100 premise: dedup"))
    assert(e.getMessage.contains("q100 premise: dedup dropped 2 of 2"), e.getMessage)
  }

  test("the query's own premises run on the observed counts before the shared one") {
    // an empty new batch: the extra predicate selects no row
    val e = intercept[IllegalArgumentException](
      SemanticOps.dedupSummary(decisions(true, false, true), "q98 premise: dedup",
        extraKept = Some("n_new_kept" -> (col("vec_id") > 100)),
        checks = m => require(m.getAs[Long]("extra_n") >= 1,
          "q98 premise: the new batch is empty")))
    assert(e.getMessage.contains("q98 premise: the new batch is empty"), e.getMessage)
  }
}
