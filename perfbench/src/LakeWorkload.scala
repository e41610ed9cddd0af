package perfbench

import graft.catalog.ManifestCatalog
import graft.model.{Candle, ManifestEntry}
import graft.ops.SeriesOps
import graft.storage.{LakeMaintenance, LakeReader, LakeWriter, SeriesKey}
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One 1m OHLCV series: the FIXTURES §1 seeded random walk
  * (close += N(0,1)*2, high/low = close ± |N(0,1)|, volume = |N*100|+10,
  * open = previous close) plus the facts the checks compare against.
  */
final class Series(val symbol: String, rnd: java.util.Random, val firstTs: Long) {
  private var close = 1000.0
  var lastTs: Long = firstTs - Lake.MinuteMs
  var rows = 0L

  /** Candles from `from` through `to`; rows at or before lastTs replace
    * the lake's (the last-wins upsert), later ones extend the series.
    */
  def candles(from: Long, to: Long): Seq[Candle] = {
    val out = (from to to by Lake.MinuteMs).map { ts =>
      val open = close
      close += rnd.nextGaussian() * 2.0
      Candle(ts, open, close + math.abs(rnd.nextGaussian()),
        close - math.abs(rnd.nextGaussian()), close,
        math.abs(rnd.nextGaussian() * 100) + 10)
    }
    rows += (to - math.max(from, lastTs + Lake.MinuteMs)) / Lake.MinuteMs + 1
    lastTs = math.max(lastTs, to)
    out
  }
}

object Lake {
  val MinuteMs = 60000L
  val HourMs = 3600000L
  val DayMs = 86400000L
  val CandleBytes = 48L // six 8-byte columns per candle
}

/** lake_ohlcv: appends and range reads alternate 1:1 on one lake.
  *
  * Append: catalog watermark → merge-write of one day of 1m candles that
  * overlaps the series tail by an hour (so the last-wins upsert runs) →
  * catalog commit of the touched months. Read: 7-day range read →
  * hourly resample + collect → integrity report + collect. Every
  * `MaintainEvery` cycles, a maintenance op compacts the series just
  * appended and the catalog log.
  */
final class LakeWorkload(spark: SparkSession, t: Tracer, seed: Long, work: String)
    extends Workload {
  import Lake._
  import spark.implicits._

  private val Symbols = 4
  private val HistoryDays = 40
  private val MaintainEvery = 4
  private val WarmCycles = 1
  private val ReadDays = 7
  private val Exchange = "BINANCE"
  private val Market = "SPOT"

  private val root = s"$work/lake"
  private val rnd = new java.util.Random(seed)
  private val start = Instant.parse("2023-01-01T12:00:00Z").toEpochMilli
  private val series = (0 until Symbols).map(i => new Series(s"SYM$i", rnd, start))
  private lazy val catalog = new ManifestCatalog(spark, root)
  private lazy val writer = new LakeWriter(spark, root)
  private lazy val reader = new LakeReader(spark, root)
  private lazy val maintenance = new LakeMaintenance(spark, root)

  private var logFilesSeen = Vector.empty[Double]
  private var appendedBytes, userBytes = 0L

  private def key(s: Series) = SeriesKey(Exchange, Market, s.symbol, "raw", "1m")
  private def seriesDir(s: Series) =
    s"$root/exchange=$Exchange/market=$Market/symbol=${s.symbol}/type=raw/period=1m"

  /** Catalog rows for the months [from, to] touches, one per month dir. */
  private def entries(s: Series, from: Long, to: Long): Seq[ManifestEntry] = {
    def month(ts: Long) = Instant.ofEpochMilli(ts).atZone(ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    Iterator.iterate(month(from))(_.plusMonths(1)).takeWhile(!_.isAfter(month(to))).map { m =>
      val lo = m.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
      val hi = m.plusMonths(1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli - MinuteMs
      ManifestEntry(Exchange, Market, s.symbol,
        s"${seriesDir(s)}/year=${m.getYear}/month=${m.getMonthValue}", "raw",
        math.max(lo, s.firstTs), math.min(hi, s.lastTs), "1.0.0", null, s.lastTs, null,
        """{"timeframe":"1m"}""")
    }.toSeq
  }

  private def files(dir: String): Map[String, (Long, Long)] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) Map.empty
    else {
      val w = java.nio.file.Files.walk(d)
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
        p.toString -> (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally w.close()
    }
  }

  private def append(s: Series): () => Option[String] = {
    if (t.enabled)
      logFilesSeen :+= files(s"$root/_manifest/log").size.toDouble
    val expectedWm = s.lastTs
    val wm = t.span("catalog.watermark")(
      catalog.maxTimeTo(Exchange, s.symbol, "raw", Some(Market), Some("1m")))
    val from = wm.getOrElse(s.firstTs) - 59 * MinuteMs
    val batch = s.candles(from, expectedWm + DayMs)
    val before = if (t.enabled) files(seriesDir(s)) else Map.empty[String, (Long, Long)]
    val report = t.span("storage.write")(writer.writeOhlc(batch.toDF(), key(s)))
    if (t.enabled) {
      appendedBytes += files(seriesDir(s)).filter { case (p, v) => !before.get(p).contains(v) }
        .valuesIterator.map(_._1).sum
      userBytes += batch.size * CandleBytes
    }
    t.span("catalog.commit")(catalog.addEntries(entries(s, from, s.lastTs)))
    val (rows, last) = (s.rows, s.lastTs)
    () =>
      if (!wm.contains(expectedWm)) Some(s"append ${s.symbol}: watermark $wm, expected $expectedWm")
      else if (!report.monotonic) Some(s"append ${s.symbol}: series not monotonic")
      else if (report.rows != rows || report.timeTo != last)
        Some(s"append ${s.symbol}: ${report.rows} rows to ${report.timeTo}, expected $rows to $last")
      else None
  }

  private def read(s: Series): () => Option[String] = {
    val hi = (s.lastTs + MinuteMs) / HourMs * HourMs
    val lo = hi - ReadDays * DayMs
    val df = t.span("storage.read_plan")(
      reader.readRange(Exchange, s.symbol, "raw", lo, hi - MinuteMs, Some(Market), Some("1m")))
    val bars = t.span("ops.resample")(SeriesOps.resampleOhlcv(df, "1h").collect())
    val report = t.span("ops.verify")(SeriesOps.verifyIntegrity(df).collect())
    () => {
      val hours = ReadDays * 24
      val rows = ReadDays * 24 * 60L
      if (bars.length != hours) Some(s"read ${s.symbol}: ${bars.length} hourly bars, expected $hours")
      else report.headOption match {
        case Some(r) if r.getAs[Long]("n_rows") == rows && r.getAs[Long]("gap_count") == 0L &&
            r.getAs[Long]("overlap_count") == 0L => None
        case other => Some(s"read ${s.symbol}: integrity report $other, expected $rows rows, no gaps")
      }
    }
  }

  private def maintain(s: Series): () => Option[String] = {
    t.span("storage.compact")(maintenance.compactSeries(key(s)))
    t.span("catalog.compact")(catalog.compact())
    () => None
  }

  def setup(): Unit = {
    // histories are drawn in order (same seed, same candles), then written
    // from one thread per core: series writes take disjoint series leases
    // and the catalog commit is create-exclusive, so they may run at once
    val hists = series.map(s => s -> s.candles(s.firstTs, s.firstTs + HistoryDays * DayMs - MinuteMs))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try hists.map { case (s, hist) =>
      pool.submit[Unit] { () =>
        // a materialized frame, not a LocalRelation: a whole history
        // inlined into every plan would ship megabytes per task
        val df = spark.sparkContext.parallelize(hist, spark.sparkContext.defaultParallelism)
          .toDF().localCheckpoint()
        writer.writeOhlc(df, key(s))
        catalog.addEntries(entries(s, s.firstTs, s.lastTs))
        df.unpersist(): Unit
      }
    }.foreach(_.get())
    finally pool.shutdown()
    Main.log("seeded")
    // warm-up: untimed and unchecked cycles, then maintenance, so the
    // timed window starts with every plan compiled and JIT-warm
    for (_ <- 0 until WarmCycles) {
      val s = series(rnd.nextInt(Symbols))
      append(s); read(s)
    }
    maintain(series(0))
    graft.core.Checkpoints.freeAll()
  }

  def cycle(c: Int): Seq[Op] = {
    val a = series(c % Symbols)
    val r = series(rnd.nextInt(Symbols))
    Seq(Op("append", () => append(a)), Op("read", () => read(r))) ++
      (if ((c + 1) % MaintainEvery == 0) Seq(Op("maintain", () => maintain(a))) else Nil)
  }

  def cycleKinds: Seq[String] = Seq("append", "read")

  def counts(): Map[String, Double] = {
    val data = series.flatMap(s => files(seriesDir(s)).values)
    val logs = logFilesSeen
    Map(
      "catalog.log_files" -> (if (logs.isEmpty) 0.0 else logs.sum / logs.size),
      "storage.write_amp" -> (if (userBytes == 0) 0.0 else appendedBytes.toDouble / userBytes),
      "storage.data_files" -> data.size.toDouble,
      "storage.bytes_per_user_byte" ->
        data.map(_._1).sum.toDouble / (series.map(_.rows).sum * CandleBytes))
  }
}
