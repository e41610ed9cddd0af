package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Premise counts observed from the run a query is already doing.
  *
  * A premise `require` needs a few exact counts over a frame the query
  * materializes anyway (a grouped checkpoint, an index assignment).
  * Reading them with a separate aggregate costs a second traversal;
  * `Dataset.observe` folds them into the one materialization instead.
  * But an [[Observation]] fills only when its plan executes, and
  * `Observation.get` on one that never does blocks forever. This helper
  * owns both halves: it attaches the metrics, runs the caller's single
  * materialization on the observed frame, and only then reads the row —
  * so no caller holds an Observation it could read unfilled.
  */
object Observed {

  // metrics arrive on the listener bus after the action returns; this
  // bounds a wait that should take milliseconds, so a materialization
  // that never executed the observed plan fails by name, never hangs
  private val FillTimeout = 2.minutes

  /** Attach `metrics` to `df`, run `materialize` on the observed frame
    * (it must execute that frame's plan exactly once — an eager
    * checkpoint, a collect), and return its result with the observed row
    * (fields by metric alias).
    */
  def apply[T](df: DataFrame, metrics: Column*)(materialize: DataFrame => T): (T, Row) = {
    val obs = Observation()
    val out = materialize(df.observe(obs, metrics.head, metrics.tail: _*))
    val row =
      try Await.result(obs.future, FillTimeout)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(
            s"observed metrics [${metrics.mkString(", ")}] never filled: " +
              "the materialization did not execute the observed plan")
      }
    (out, row)
  }
}
