package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the benchmark's calls into the engine's layers.
  *
  * A span has a name, start, end (epoch microseconds), its parent span and
  * the operation it belongs to. The innermost open span's id rides on the
  * client thread as a Spark local property, so [[JobLedger]] can charge
  * every job (and its tasks) to the span that submitted it. Spans stay in
  * memory until the run ends. With `enabled = false` a span is just its
  * body: the untraced run pays nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  val ledger: Option[JobLedger] =
    if (enabled) { val l = new JobLedger; sc.addSparkListener(l); Some(l) } else None
  private var open = List.empty[Span]
  private var opId = -1

  def beginOp(id: Int): Unit = opId = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), opId, nowUs())
      spans += s
      open ::= s
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = nowUs()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_us":${s.start},"end_us":${s.end}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                   val start: Long) {
    var end: Long = 0L
    def wallMs: Double = (end - start) / 1000.0
  }

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Per-span Spark work: jobs with their intervals, and task totals
  * (executor run/CPU/GC time, shuffle bytes written, spill). Jobs with no
  * span property are charged to span -1.
  */
final class JobLedger extends SparkListener {
  final class Acc {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val jobs = ArrayBuffer.empty[(Long, Long)] // (start, end) epoch ms
  }

  val bySpan = new ConcurrentHashMap[Int, Acc]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var started = 0L
  @volatile private var ended = 0L
  @volatile private var taskEnds = 0L

  private def acc(span: Int): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, (span, e.time))
    e.stageIds.foreach(stageSpan.put(_, span))
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (span, start) = jobSpan.getOrDefault(e.jobId, (-1, e.time))
    acc(span).jobs += ((start, e.time))
    ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskEnds += 1
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageSpan.getOrDefault(e.stageId, -1))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits (up to 10 s) until every started job has ended and no task
    * event arrived for 200 ms: the listener bus delivers asynchronously.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (started != ended || taskEnds != last)) {
      last = taskEnds
      Thread.sleep(200)
    }
  }
}
