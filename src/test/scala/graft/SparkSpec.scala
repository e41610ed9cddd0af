package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sessions
import graft.model.Candle
import java.nio.file.Files

/** Shared Spark fixture + the reference's deterministic OHLCV generator
  * (FIXTURES.md §1; `dl-datalake/tests/integration/conftest.py:38-90`).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `body`'s result and the Spark jobs it started on this thread,
    * scoped by a job group and counted once the bus has drained.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    ListenerBusAccess.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spec job count")
    try {
      val out = body
      ListenerBusAccess.waitUntilEmpty(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Seeded random-walk OHLCV: invariant-friendly, not golden-valued. */
  def genCandles(length: Int = 100,
                 startMs: Long = 1672574400000L, // 2023-01-01T12:00Z
                 periodMs: Long = 60000L,
                 seed: Long = 42L): Seq[Candle] = {
    val rnd = new scala.util.Random(seed)
    var close = 1000.0
    (0 until length).map { i =>
      val open = close
      close = close + rnd.nextGaussian() * 2.0
      val high = math.max(open, close) + math.abs(rnd.nextGaussian())
      val low = math.min(open, close) - math.abs(rnd.nextGaussian())
      val vol = math.abs(rnd.nextGaussian() * 100) + 10
      Candle(startMs + i * periodMs, open, high, low, close, vol)
    }
  }

  def candleDf(cs: Seq[Candle]): DataFrame = {
    import spark.implicits._
    cs.toDF()
  }

  def writeCsv(cs: Seq[Candle], header: Boolean): String = {
    val f = Files.createTempFile("ohlcv", ".csv")
    val rows = cs.map(c => s"${c.ts},${c.open},${c.high},${c.low},${c.close},${c.volume}")
    val lines = if (header) "ts,open,high,low,close,volume" +: rows else rows
    Files.write(f, lines.mkString("\n").getBytes)
    f.toString
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local(cores = 4, appName = "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
