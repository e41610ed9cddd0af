package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: a Spark program plus (optionally) the
  * equivalent ANSI SQL for the DuckDB oracle. Conventions that keep the
  * driver's hash-compare deterministic across engines:
  *   - money/measure sums are computed in DECIMAL(18,2) (exact, order
  *     independent) and cast to DOUBLE at the end on BOTH sides;
  *   - counts / sizes / ranks are cast to BIGINT on both sides;
  *   - every computed column is aliased identically on both sides;
  *   - ties in any window ordering are broken by a unique key.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** true = fixture gate: the Spark side does real lake/stream/
      * forked-JVM work per execution while the oracle replays arithmetic
      * — structurally asymmetric cost, so Bench reports these as a
      * separate suite total from the declarative queries.
      */
    gate: Boolean = false) {
  def gated: Q = copy(gate = true)
}

object Q {
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(sql))
}
