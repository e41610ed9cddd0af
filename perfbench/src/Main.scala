package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation. `run` does the work inside the timed region and
  * returns the correctness check, which the loop runs after the clock
  * stops: None when the answer is right, Some(reason) when it is not.
  */
final case class Op(kind: String, run: () => (() => Option[String]))

trait Workload {
  /** Inputs, seeding and warm-up; everything here counts toward setup_s. */
  def setup(): Unit
  /** The operations of cycle `c`. The loop only stops between cycles. */
  def cycle(c: Int): Seq[Op]
  /** Kinds whose medians add up to cycle_ms (maintenance is left out). */
  def cycleKinds: Seq[String]
  /** Layer counts and quality figures read after the timed window. */
  def counts(): Map[String, Double]
}

/** One benchmark run in one JVM: set up a workload, drive it with one
  * closed-loop client until `seconds` have passed and the current cycle
  * is complete, and write every metric to `out` as JSON (run.py filters
  * and prints them).
  *
  * Between operations, outside the timed region, the loop frees the
  * engine's checkpoint blocks and forces a GC, exactly as graft.Bench
  * does between queries, so every operation starts from the same heap.
  */
object Main {
  private var t0Us = 0L

  /** A progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Tracer.nowUs() - t0Us) / 1e6}%7.2f s $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val data = opt("data")
    val work = opt("work")
    val cpus = opt("cpus").toInt
    t0Us = opt("t0-us").toLong
    log("jvm up")

    val spark = session(data, work, cpus)
    val tracer = new Tracer(spark.sparkContext, opt("trace") == "1")
    val w: Workload = workload match {
      case "lake_ohlcv" => new LakeWorkload(spark, tracer, seed, work)
      case "corpus_index" => new CorpusWorkload(spark, tracer, seed, data, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log("session up")
    w.setup()
    hygiene()
    log("setup done")

    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0
    var heapMb = oldGenAfterGcMb()
    val windowStartUs = Tracer.nowUs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var c = 0
    while (System.nanoTime() < deadline) {
      w.cycle(c).foreach { op =>
        tracer.beginOp(attempted)
        attempted += 1
        val t = System.nanoTime()
        val outcome =
          try Right(tracer.span("op." + op.kind)(op.run()))
          catch { case e: Exception => Left(s"${op.kind}: $e") }
        val ms = (System.nanoTime() - t) / 1e6
        log(f"${op.kind} $ms%.1f ms")
        val wrong = outcome.fold(Some(_), check => tracer.span("bench.check")(check()))
        wrong match {
          case Some(why) =>
            failed += 1
            if (errors.size < 20) errors += why
          case None => lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += ms
        }
        tracer.span("bench.hygiene")(hygiene())
        heapMb = math.max(heapMb, oldGenAfterGcMb())
      }
      c += 1
    }
    val windowEndUs = Tracer.nowUs()

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("setup_s") = (windowStartUs - t0Us) / 1e6
    val opMs = lat.valuesIterator.flatten.sum
    m("ops_per_s") = if (opMs > 0) lat.valuesIterator.map(_.size).sum / (opMs / 1000) else 0.0
    m("cycle_ms") = w.cycleKinds.map(k => lat.get(k).fold(0.0)(Stats.median)).sum
    m("live_heap_mb") = heapMb
    lat.foreach { case (k, xs) =>
      m(s"$k.n") = xs.size.toDouble
      m(s"${k}_p50_ms") = Stats.median(xs)
      m(s"${k}_tail_ms") = Stats.tail(xs)
    }
    m("fail_ratio") = if (attempted > 0) failed.toDouble / attempted else 0.0
    m ++= w.counts()
    if (tracer.enabled) {
      tracer.ledger.foreach(_.drain())
      m ++= Stats.layers(tracer, windowStartUs, windowEndUs)
      tracer.writeJsonLines(s"$work/spans.jsonl")
    }

    val metrics = m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val errs = errors.map(e => "\"" + e.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ") + "\"").mkString("[", ",", "]")
    val pw = new java.io.PrintWriter(opt("out"))
    try pw.println(s"""{"attempted":$attempted,"failed":$failed,"errors":$errs,"metrics":$metrics}""")
    finally pw.close()
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }

  /** The session graft.Bench builds, with its local and temporary dirs under `work`. */
  private def session(data: String, work: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", graft.Bench.autoShufflePartitions(data, cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", graft.Bench.autoSplitBytes(data))
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def hygiene(): Unit = {
    graft.core.Checkpoints.freeAll()
    System.gc()
  }

  /** Old-generation occupancy right after the last collection. */
  private def oldGenAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed / 1048576.0).maxOption.getOrElse(0.0)
}
