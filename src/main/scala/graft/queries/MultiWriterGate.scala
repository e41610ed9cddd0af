package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

import graft.Tables

/** Forked-JVM ingest worker for q81: a COMPLETE independent engine
  * session — own SparkSession, own LakeWriter, own ManifestCatalog
  * handle — running the T1/T2 download loop for one symbol against a
  * lake+catalog it SHARES with a concurrently running sibling process.
  * This is the reference's DownloadManager unit of concurrency (one
  * download task per symbol, 20 in flight, shared manifest —
  * `dl-datalake-ui/backend/routers/ingest.py:33-202`); here each task
  * is a separate JVM so no in-process lock can accidentally provide the
  * serialization — only the catalog's create-exclusive commit protocol
  * and the disjointness of the written partitions can.
  *
  * Writes `flushes,rows` to `reportPath` on success so the parent can
  * `require` the concurrency premises (both writers chunked; no rows
  * lost; catalog seq count == total flushes).
  */
object MultiWriterChild {

  /** The JDK17 module opens Spark needs outside spark-submit — same
    * list as build.sbt / tools/verify.sh.
    */
  val jdk17AddOpens: Seq[String] = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
  ).map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")

  def main(args: Array[String]): Unit = {
    val Array(lake, feedDir, symbol, endMs, reportPath, page, flush) = args
    val s = graft.core.Sessions.builder(4).getOrCreate()
    try {
      val cat = new graft.catalog.ManifestCatalog(s, lake)
      val loader = new graft.ingest.IncrementalLoader(s,
        new graft.storage.LakeWriter(s, lake), cat,
        pageSize = page.toInt, flushRows = flush.toInt, sleeper = _ => ())
      val rep = loader.download(new graft.ingest.CsvReplayConnector(feedDir, "mwfeed"),
        "spot", symbol, "1m", endMs = endMs.toLong)
      Files.write(Paths.get(reportPath), s"${rep.flushes},${rep.rows}".getBytes("UTF-8"))
    } finally s.stop()
    // Spark leaves non-daemon threads; the report file is the success signal
    System.exit(0)
  }
}

/** q81: multi-writer ingest under the oracle (SURVEY §2.9 T6 /
  * §7.4 #4). Two concurrent WRITER PROCESSES ingest disjoint symbol
  * feeds of one exchange into ONE lake + ONE manifest catalog; the
  * declared query reads the merged lake back through the pruned range
  * scan AND cross-checks the catalog (entry count + watermark bounds
  * per series). The oracle predicts everything arithmetically from
  * `events` — a row lost to a racing partition overwrite, a catalog
  * commit lost to a seq-claim race, or a stale watermark all
  * hash-mismatch; gapless commit accounting (`currentSeq == total
  * flushes`) is additionally `require`d at build.
  *
  * Until now cross-process commit safety was spec-only
  * (ConcurrentCommitSpec's forked-JVM race over both
  * PublishPrimitives); this runs the FULL ingest stack — download loop,
  * merge-write, dynamic partition overwrite, catalog upsert — in the
  * race, as a driver-gated row.
  *
  * Fixture is CAPPED (event_id < 20000) and built once per (session,
  * data dir): venue-replay fixtures are API-page-sized by design (the
  * connector loop is driver-side paging), so it must not grow with the
  * data decade — same principle as q70/q71/q76.
  */
object MultiWriterGate {

  /** 2024-01-01 UTC, epoch-ms; 1m grid by event id. */
  private val T0 = 1704067200000L
  private val CAP = 20000L
  private def tsOf(i: Long): Long = T0 + i * 60000L

  private def mwLakeRoot(s: SparkSession, d: String): String =
    graft.core.SessionTempRoots.of(s, d, "graft_mw_") { root =>
      val ids = Tables.events(s, d).select(col("event_id"))
        .filter(col("event_id") < CAP)
        .distinct().collect().map(_.getLong(0)).sorted
      require(ids.nonEmpty, "q81 premise: events table must be non-empty")
      // disjoint 2:1 split — different counts and sums per symbol, so a
      // crossed or double-applied batch cannot hash-cancel
      val idsA = ids.filter(_ % 3 != 0)
      val idsB = ids.filter(_ % 3 == 0)
      def line(i: Long): String =
        s"${tsOf(i)},${i % 997},${i % 997 + 2},${i % 997 - 1},${i * 7 % 997},${i % 101}"
      def writeFeed(sub: String, sym: String, rows: Array[Long]): String = {
        val dir = Files.createDirectories(Paths.get(root, sub)).toString
        Files.write(Paths.get(dir, s"$sym.csv"),
          rows.map(line).mkString("\n").getBytes("UTF-8"))
        dir
      }
      val feedA = writeFeed("feedA", "MWA", idsA)
      val feedB = writeFeed("feedB", "MWB", idsB)
      val lake = Files.createDirectories(Paths.get(root, "lake")).toString

      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      def spawn(feed: String, sym: String, nRows: Int, report: String): Process = {
        // flush sizing derived from the feed so each writer is
        // guaranteed ≥2 flushes (≥2 interleaved catalog commits) for
        // any feed of ≥2 rows — same discipline as q76
        val flush = math.max(1, nRows / 4)
        val page = math.max(1, flush / 2)
        val cmd = Seq(javaBin) ++ MultiWriterChild.jdk17AddOpens ++ Seq(
          "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
          "-cp", sys.props("java.class.path"), "graft.queries.MultiWriterChild",
          lake, feed, sym, tsOf(ids.last).toString, report,
          page.toString, flush.toString)
        import scala.jdk.CollectionConverters._
        new ProcessBuilder(cmd.asJava)
          .redirectOutput(Paths.get(root, s"$sym.out").toFile)
          .redirectErrorStream(true)
          .start()
      }
      val repA = s"$root/repA"; val repB = s"$root/repB"
      val (pA, pB) = (spawn(feedA, "MWA", idsA.length, repA),
        spawn(feedB, "MWB", idsB.length, repB))
      val okA = pA.waitFor(300, TimeUnit.SECONDS)
      val okB = pB.waitFor(300, TimeUnit.SECONDS)
      if (!okA) pA.destroyForcibly()
      if (!okB) pB.destroyForcibly()
      require(okA && okB && pA.exitValue() == 0 && pB.exitValue() == 0,
        s"q81 premise: both writer processes must succeed " +
          s"(A=${if (okA) pA.exitValue() else "timeout"}, " +
          s"B=${if (okB) pB.exitValue() else "timeout"})")
      def report(p: String): (Long, Long) = {
        val Array(f, r) = new String(Files.readAllBytes(Paths.get(p)), "UTF-8").split(",")
        (f.toLong, r.toLong)
      }
      val (flushesA, rowsA) = report(repA)
      val (flushesB, rowsB) = report(repB)
      require(rowsA == idsA.length && rowsB == idsB.length,
        s"q81 premise: writers must ingest their full feeds " +
          s"($rowsA/${idsA.length}, $rowsB/${idsB.length})")
      if (idsA.length >= 2 && idsB.length >= 2)
        require(flushesA >= 2 && flushesB >= 2,
          s"q81 premise: both writers must flush in chunks ($flushesA, $flushesB)")
      // gapless commit accounting: every flush committed exactly one
      // catalog batch; a lost or duplicated seq claim breaks this
      val seq = new graft.catalog.ManifestCatalog(s, lake).currentSeq()
      require(seq == flushesA + flushesB,
        s"q81 premise: catalog must carry one commit per flush " +
          s"(seq=$seq, flushes=${flushesA + flushesB})")
    }

  val multiWriterIngest: Q = Q(
    "q81_multi_writer_ingest",
    """WITH c AS (
      |  SELECT CASE WHEN event_id % 3 = 0 THEN 'MWB' ELSE 'MWA' END AS symbol,
      |         1704067200000 + event_id * 60000 AS ts,
      |         event_id % 997 AS o,
      |         (event_id * 7) % 997 AS cl,
      |         event_id % 101 AS v
      |  FROM events WHERE event_id < 20000)
      |SELECT symbol,
      |       COUNT(*) AS n,
      |       CAST(SUM(o) AS BIGINT) AS sum_open,
      |       CAST(SUM(cl) AS BIGINT) AS sum_close,
      |       CAST(SUM(v) AS BIGINT) AS sum_vol,
      |       CAST(MIN(ts) AS BIGINT) AS min_ts,
      |       CAST(MAX(ts) AS BIGINT) AS max_ts,
      |       CAST(1 AS BIGINT) AS cat_entries,
      |       CAST(MIN(ts) AS BIGINT) AS cat_from,
      |       CAST(MAX(ts) AS BIGINT) AS cat_to
      |FROM c GROUP BY symbol ORDER BY symbol""".stripMargin) { (s, d) =>
    val lake = s"${mwLakeRoot(s, d)}/lake"
    val reader = new graft.storage.LakeReader(s, lake)
    val data = Seq("MWA", "MWB").map(sym =>
        reader.readRange("mwfeed", sym, "raw", 0L, Long.MaxValue,
          market = Some("spot"), period = Some("1m")))
      .reduce(_ unionByName _)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        sum(col("open")).cast("long").as("sum_open"),
        sum(col("close")).cast("long").as("sum_close"),
        sum(col("volume")).cast("long").as("sum_vol"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
    // catalog cross-check: exactly one live entry per series (upsert-by-
    // path under racing commits) whose watermark bounds span the series
    val cat = new graft.catalog.ManifestCatalog(s, lake).snapshot()
      .filter(col("exchange") === "MWFEED" && col("type") === "raw")
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("cat_entries"),
        min(col("time_from")).as("cat_from"),
        max(col("time_to")).as("cat_to"))
    data.join(cat, Seq("symbol"))
      .orderBy("symbol")
  }

  val all: Seq[Q] = Seq(multiWriterIngest).map(_.gated)
}
