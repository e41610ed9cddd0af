package perfbench

import scala.collection.mutable

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample, or the median when fewer than 21 were taken.
    */
  def tail(xs: collection.Seq[Double]): Double =
    if (xs.size < 21) median(xs) else xs.sorted.apply(xs.size - 11)

  private def mean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of `[a, b)` intervals. */
  private def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total, curA, curB = 0L
    var first = true
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (first || a > curB) {
        if (!first) total += curB - curA
        curA = a; curB = b; first = false
      } else curB = math.max(curB, b)
    }
    if (first) 0L else total + curB - curA
  }

  /** Per-layer figures from the spans of one run.
    *
    * For every span name: `.wall_ms` (median per call), `.self_ms` (median
    * of wall minus the time its child spans cover), `.jobs` (mean per
    * call), `.driver_only_ms` (median of wall minus the union of the
    * intervals of the jobs it and its children submitted) and
    * `.exec_run_ms` (mean executor run time per call). `spark.*` are task totals per operation; `trace.*` say how much of
    * the operations' and of the window's time the spans cover.
    */
  def layers(t: Tracer, windowStartUs: Long, windowEndUs: Long): Map[String, Double] = {
    val ledger = t.ledger.get
    val children = t.spans.groupBy(_.parent)
    def subtree(s: Tracer.Span): Seq[Tracer.Span] =
      s +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    def acc(id: Int) = Option(ledger.bySpan.get(id))

    final case class Call(wall: Double, self: Double, jobs: Int, driverOnly: Double, run: Double)
    val calls = t.spans.map { s =>
      val sub = subtree(s)
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq
      val jobIvs = sub.flatMap(x => acc(x.id).toSeq.flatMap(_.jobs))
        .map { case (a, b) => (math.max(a * 1000, s.start), math.min(b * 1000, s.end)) }
        .filter { case (a, b) => b > a }
      val run = sub.flatMap(x => acc(x.id).map(_.runMs)).sum.toDouble
      s.name -> Call(s.wallMs, (s.end - s.start - unionLength(kids)) / 1000.0,
        sub.flatMap(x => acc(x.id).map(_.jobs.size)).sum,
        (s.end - s.start - unionLength(jobIvs)) / 1000.0, run)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

    val m = mutable.LinkedHashMap.empty[String, Double]
    calls.toSeq.sortBy(_._1).foreach { case (name, cs) =>
      m(s"$name.calls") = cs.size.toDouble
      m(s"$name.wall_ms") = median(cs.map(_.wall))
      m(s"$name.self_ms") = median(cs.map(_.self))
      m(s"$name.jobs") = mean(cs.map(_.jobs.toDouble))
      m(s"$name.driver_only_ms") = median(cs.map(_.driverOnly))
      m(s"$name.exec_run_ms") = mean(cs.map(_.run))
    }
    val ops = t.spans.filter(_.name.startsWith("op."))
    val inOps = ops.flatMap(subtree)
    val accs = inOps.flatMap(s => acc(s.id))
    val nOps = math.max(ops.size, 1).toDouble
    m("spark.tasks") = accs.map(_.tasks).sum / nOps
    m("spark.exec_cpu_ms") = accs.map(_.cpuNs).sum / 1e6 / nOps
    m("spark.gc_ms") = accs.map(_.gcMs).sum / nOps
    m("spark.shuffle_write_bytes") = accs.map(_.shuffleWrite).sum / nOps
    m("spark.spill_bytes") = accs.map(_.spill).sum / nOps

    val opWall = ops.map(s => s.end - s.start).sum.toDouble
    val opCovered = ops.map { s =>
      unionLength(children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq)
    }.sum
    m("trace.op_coverage") = if (opWall > 0) opCovered / opWall else 0.0
    val top = t.spans.filter(s => s.parent == -1 && s.start >= windowStartUs)
      .map(s => (s.start, s.end)).toSeq
    m("trace.window_coverage") = unionLength(top).toDouble / (windowEndUs - windowStartUs)
    m.toMap
  }
}
