package graft.cli

import graft.catalog.ManifestCatalog
import graft.core.Sessions
import graft.features.FeatureStore
import graft.ingest.CsvIngest
import graft.model.ManifestEntry
import graft.ops.SeriesOps
import graft.storage.{LakeReader, LakeWriter, SeriesKey}

/** Thin CLI over the engine (SURVEY §7.1 #9), mirroring
  * `dl-datalake/src/dl_datalake/cli.py:13-222` commands. The REST layer is
  * serving, not computing — this covers the same query paths.
  *
  * Usage:
  *   graft.cli.Main <lakeRoot> init
  *   graft.cli.Main <lakeRoot> ingest <csv> <exchange> <market> <symbol> [period]
  *   graft.cli.Main <lakeRoot> ingest-ticks <csv> <exchange> <market> <symbol>
  *   graft.cli.Main <lakeRoot> download-symbols <fixtureDir> [market]
  *   graft.cli.Main <lakeRoot> download-history <fixtureDir> <symbol> [market] [timeframe] [days|all] [funding]
  *   graft.cli.Main <lakeRoot> read <exchange> <symbol> <type> <startMs> <endMs> [limit]
  *   graft.cli.Main <lakeRoot> resample <exchange> <symbol> <timeframe>
  *   graft.cli.Main <lakeRoot> list [symbol]
  *   graft.cli.Main <lakeRoot> verify <exchange> <symbol> <type>
  *   graft.cli.Main <lakeRoot> delete <exchange> <symbol>
  *   graft.cli.Main <lakeRoot> upload-feature <file> <set> <version>
  *   graft.cli.Main <lakeRoot> download-feature <set> <dst> [version]
  *   graft.cli.Main <lakeRoot> features
  *
  * `download-*` mirror the reference's most-used entry points
  * (`dl-datalake/src/dl_datalake/cli.py:24-80`): history resumes from
  * the catalog watermark, falls back to a days-back start (`all` = the
  * venue's earliest candle), and optionally pulls funding rates. The
  * connector is the fixture-backed [[graft.ingest.CsvReplayConnector]]
  * — swap in a live venue by implementing [[graft.ingest.Connector]].
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Main <lakeRoot> <command> [args...]")
    val spark = Sessions.builder(Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  /** Command dispatch on a caller-owned session — the integration spec
    * drives the full CLI path without stopping the shared test session.
    */
  def run(spark: org.apache.spark.sql.SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Main <lakeRoot> <command> [args...]")
    val root = args(0)
    val cmd = args(1)
    val rest = args.drop(2)
    val catalog = new ManifestCatalog(spark, root)
    val writer = new LakeWriter(spark, root)
    val reader = new LakeReader(spark, root)

    cmd match {
      case "init" =>
        println(s"initialized lake at $root")

      case "ingest" =>
        val Array(csv, ex, mkt, sym) = rest.take(4)
        val period = rest.lift(4).getOrElse("1m")
        val rep = new CsvIngest(spark, writer, catalog).ingestCsv(csv, ex, mkt, sym, period)
        println(s"ingested rows=${rep.rows} from=${rep.timeFrom} to=${rep.timeTo} " +
          s"monotonic=${rep.monotonic} partitions=${rep.partitions}")

      case "ingest-ticks" =>
        val Array(csv, ex, mkt, sym) = rest.take(4)
        val rep = new CsvIngest(spark, writer, catalog).ingestTicksCsv(csv, ex, mkt, sym)
        println(s"ingested ticks rows=${rep.rows} from=${rep.timeFrom} to=${rep.timeTo} " +
          s"partitions=${rep.partitions}")

      case "read" =>
        val Array(ex, sym, typ, start, end) = rest.take(5)
        val limit = rest.lift(5).map(_.toInt).getOrElse(20)
        reader.readRange(ex, sym, typ, start.toLong, end.toLong)
          .show(limit, truncate = false)

      case "resample" =>
        val Array(ex, sym, tf) = rest.take(3)
        val src = reader.readRange(ex, sym, "raw", 0L, Long.MaxValue)
        val res = SeriesOps.resampleOhlcv(src, tf)
          .withColumnRenamed("bucket_ts", "bucket")
        val out = res.selectExpr("bucket AS ts", "open", "high", "low", "close", "volume")
        val skey = SeriesKey(ex, "agg", sym, "agg", tf).sanitized
        val rep = writer.writeOhlc(out, skey)
        catalog.addEntry(ManifestEntry(ex, "agg", sym,
          s"exchange=${skey.exchange}/market=${skey.market}/symbol=${skey.symbol}/type=agg/period=$tf",
          "agg", rep.timeFrom, rep.timeTo, "1", "", System.currentTimeMillis(), "",
          s"""{"timeframe": "$tf"}"""))
        println(s"resampled to $tf: rows=${rep.rows} monotonic=${rep.monotonic}")

      case "list" =>
        catalog.listEntries(symbol = rest.headOption).show(100, truncate = false)

      case "verify" =>
        val Array(ex, sym, typ) = rest.take(3)
        val df = reader.readRange(ex, sym, typ, 0L, Long.MaxValue)
        SeriesOps.verifyIntegrity(df).show(truncate = false)

      case "delete" =>
        val Array(ex, sym) = rest.take(2)
        val n = catalog.deleteEntries(exchange = Some(ex), symbol = Some(sym))
        val maint = new graft.storage.LakeMaintenance(spark, root)
        val removed = Seq("raw" -> "1m", "agg" -> "15min", "ticks" -> "tick")
          .count { case (t, p) =>
            maint.deleteSeries(SeriesKey(ex, "spot", sym, t, p)) ||
              maint.deleteSeries(SeriesKey(ex, "agg", sym, t, p))
          }
        println(s"tombstoned $n catalog entries, removed $removed series dirs for $ex/$sym")

      case "upload-feature" =>
        val Array(file, set, version) = rest.take(3)
        val e = new FeatureStore(spark, root, catalog).upload(file, set, version)
        println(s"uploaded $set v$version checksum=${e.checksum} path=${e.path}")

      case "features" =>
        new FeatureStore(spark, root, catalog).listSets().show(truncate = false)

      case "download-feature" =>
        val Array(set, dst) = rest.take(2)
        val e = new FeatureStore(spark, root, catalog).download(set, dst, rest.lift(2))
        println(s"downloaded $set v${e.version} checksum=${e.checksum} -> $dst")

      case "download-symbols" =>
        val fixtures = rest(0)
        val market = rest.lift(1).getOrElse("spot")
        val conn = new graft.ingest.CsvReplayConnector(fixtures)
        val syms = conn.listSymbols(market)
        syms.foreach(println)
        println(s"Total symbols on ${conn.name.toUpperCase}: ${syms.length}")

      case "download-history" =>
        val Array(fixtures, sym) = rest.take(2)
        val market = rest.lift(2).getOrElse("spot")
        val tf = rest.lift(3).getOrElse("1m")
        // start-date fallback (cli.py:47-80 `days`): catalog watermark
        // wins if present; otherwise now-minus-days; "all" defers to the
        // venue's earliest candle
        val startMs = rest.lift(4).getOrElse("7") match {
          case "all" => None
          case days => Some(System.currentTimeMillis() - days.toLong * 86400000L)
        }
        val funding = rest.lift(5).contains("funding")
        val conn = new graft.ingest.CsvReplayConnector(fixtures)
        val loader = new graft.ingest.IncrementalLoader(spark, writer, catalog)
        val rep = loader.download(conn, market, sym, tf, startMs = startMs)
        println(s"Saved ${rep.rows} candles. " +
          s"(pages=${rep.pages} flushes=${rep.flushes} from=${rep.timeFrom} to=${rep.timeTo})")
        if (funding) {
          val f = loader.downloadFunding(conn, market, sym)
          println(s"Saved ${f.rows} funding records.")
        }

      case other =>
        System.err.println(s"unknown command: $other"); sys.exit(2)
    }
  }
}
