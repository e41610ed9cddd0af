package graft.catalog

import graft.SparkSpec
import graft.model.ManifestEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The catalog's driver fold against the Spark plans it replaced, over
  * logs written the way earlier releases wrote them: every segment a
  * `coalesce(1)` Spark write published by the log's blind append.
  *
  *  - snapshot() and every asOf(s) equal the keep-latest `row_number`
  *    window evaluated by Spark over the raw log (the oracle lives only
  *    here);
  *  - maxTimeTo equals the `upper(...)` / `get_json_object(...)` filter
  *    and `max(time_to)` Spark evaluates over the same rows.
  */
class CatalogFoldSpec extends SparkSpec {
  import spark.implicits._

  private def entry(path: String, version: String = "1", to: Long = 2000L,
                    exchange: String = "BINANCE", market: String = "SPOT",
                    symbol: String = "BTCUSDT", checksum: String = "c",
                    gitHash: String = "g", meta: String = """{"timeframe":"1m"}"""): ManifestEntry =
    ManifestEntry(exchange, market, symbol, path, "raw", 1000L, to, version,
      checksum, 7L, gitHash, meta)

  /** One segment the way the Spark commit path wrote it: a staged
    * `coalesce(1)` write whose part file is linked in at the next seq.
    */
  private def sparkSegment(logDir: String, rows: DataFrame): Long = {
    val staging = Files.createTempDirectory("stage")
    rows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val part = graft.core.PathWalk.list(staging)(_.find { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.get)
    val seq = new graft.storage.VersionLog(Paths.get(logDir), "", 20, ".parquet").publish(part)
    graft.core.PathWalk.deleteRecursively(staging)
    seq
  }

  private def rows(es: Seq[ManifestEntry], deleted: Boolean = false): DataFrame =
    es.toDF().withColumn("_deleted", lit(deleted))
      .withColumn("_seq_override", lit(null).cast("long"))

  /** The read plan the catalog ran before the driver fold. */
  private def rawLog(logDir: String): DataFrame =
    spark.read.schema(ManifestCatalog.logSchema).parquet(logDir)
      .withColumn("_seq", coalesce(col("_seq_override"),
        regexp_extract(col("_metadata.file_name"), "^(\\d+)\\.parquet$", 1).cast("long")))
      .drop("_seq_override")

  private def windowAsOf(logDir: String, seq: Long): DataFrame = {
    val w = Window.partitionBy(col("path")).orderBy(col("_seq").desc)
    rawLog(logDir).filter(col("_seq") <= seq)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_deleted"))
      .drop("_rn", "_seq", "_deleted")
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def assertParity(cat: ManifestCatalog, logDir: String): Unit = {
    assert(cat.snapshot().schema == windowAsOf(logDir, Long.MaxValue).schema)
    assert(sorted(cat.snapshot()) == sorted(windowAsOf(logDir, Long.MaxValue)), "snapshot()")
    (0L to cat.currentSeq() + 1).foreach { s =>
      assert(sorted(cat.asOf(s)) == sorted(windowAsOf(logDir, s)), s"asOf($s)")
    }
  }

  test("a log written by the Spark commit path folds to the row_number window's answer") {
    val root = tmpDir("catfold")
    val logDir = s"$root/_manifest/log"
    Files.createDirectories(Paths.get(logDir))
    // 1: three entries, one with null checksum and script hash
    sparkSegment(logDir, rows(Seq(entry("p1"), entry("p2", checksum = null, gitHash = null),
      entry("p3", meta = null))))
    // 2: upsert p1; 3: tombstone p3; 4: a new path
    sparkSegment(logDir, rows(Seq(entry("p1", version = "2", to = 5000L))))
    sparkSegment(logDir, rows(Seq(entry("p3", meta = null)), deleted = true))
    sparkSegment(logDir, rows(Seq(entry("p4", to = 800L))))
    // 5: a compacted base: the window's survivors keep their seq as
    // _seq_override; the old segments go, except segment 2, as after a
    // crash between the base's publish and the deletes
    val w = Window.partitionBy(col("path")).orderBy(col("_seq").desc)
    val base = rawLog(logDir).withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_deleted")).drop("_rn")
      .withColumn("_seq_override", col("_seq")).drop("_seq")
      .localCheckpoint(true)
    assert(base.count() == 3L)
    sparkSegment(logDir, base)
    Seq(1, 3, 4).foreach(s => Files.delete(Paths.get(logDir, f"$s%020d.parquet")))
    // 6: upsert over a compacted path; 7: tombstone a compacted path
    sparkSegment(logDir, rows(Seq(entry("p2", version = "3", checksum = null))))
    sparkSegment(logDir, rows(Seq(entry("p4", to = 800L)), deleted = true))

    val cat = new ManifestCatalog(spark, root)
    assert(cat.currentSeq() == 7L)
    assertParity(cat, logDir)
    assert(cat.snapshot().collect().map(r => r.getAs[String]("path") -> r.getAs[String]("version"))
      .toMap == Map("p1" -> "2", "p2" -> "3"))

    // driver-written segments on top of the old ones: Spark reads them
    // back with the log schema, and the two answers still agree
    cat.addEntries(Seq(entry("p5", checksum = null), entry("p1", version = "4")))
    assert(cat.deleteEntries(path = Some("p2")) == 1L)
    assertParity(cat, logDir)
    cat.compact()
    assert(graft.core.PathWalk.list(Paths.get(logDir))(_.size) == 1)
    assertParity(cat, logDir)
    assert(cat.snapshot().collect().map(r => r.getAs[String]("path") -> r.getAs[String]("version"))
      .toMap == Map("p1" -> "4", "p5" -> "1"))
  }

  test("maxTimeTo matches Spark's upper / get_json_object filter over the same rows") {
    val root = tmpDir("catwm")
    val logDir = s"$root/_manifest/log"
    Files.createDirectories(Paths.get(logDir))
    val metas = Seq(
      """{"timeframe":"1m"}""", """{"timeframe":"1h"}""", """{"timeframe":1}""",
      """{"timeframe":1.0}""", """{"other":"1m"}""", """{"timeframe":"1m"""",
      null, """{"timeframe":null}""", """{'timeframe':'1m'}""",
      """{"timeframe":"1m","timeframe":"1h"}""", """{"timeframe":{"a":1}}""")
    // stored case varies: a foreign writer's segment is not normalized
    val cases = Seq(("BINANCE", "SPOT", "BTCUSDT"), ("Binance", "spot", "btcUsdt"),
      ("binance", "Futures", "ETHUSDT"))
    val es = for (((ex, mkt, sym), i) <- cases.zipWithIndex; (m, j) <- metas.zipWithIndex)
      yield entry(s"p$i-$j", to = 1000L * (i * metas.size + j + 1),
        exchange = ex, market = mkt, symbol = sym, meta = m)
    sparkSegment(logDir, rows(es))
    val cat = new ManifestCatalog(spark, root)

    def sparkMax(ex: String, sym: String, mkt: Option[String], tf: Option[String]): Option[Long] = {
      var df = cat.snapshot().filter(upper(col("exchange")) === ex.toUpperCase &&
        upper(col("symbol")) === sym.toUpperCase && col("type") === "raw")
      mkt.foreach(m => df = df.filter(upper(col("market")) === m.toUpperCase))
      tf.foreach(t => df = df.filter(get_json_object(col("metadata_json"), "$.timeframe") === t))
      val r = df.agg(max(col("time_to"))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    var matched = 0
    for ((ex, sym) <- Seq("binance" -> "btcusdt", "BINANCE" -> "BtcUsdt", "Binance" -> "ethusdt",
           "kraken" -> "btcusdt");
         mkt <- Seq(None, Some("spot"), Some("FUTURES"));
         tf <- Seq(None, Some("1m"), Some("1h"), Some("1"), Some("1.0"), Some("""{"a":1}"""),
           Some("null"))) {
      val expected = sparkMax(ex, sym, mkt, tf)
      if (expected.nonEmpty) matched += 1
      assert(cat.maxTimeTo(ex, sym, "raw", mkt, tf) == expected, s"maxTimeTo($ex, $sym, $mkt, $tf)")
    }
    assert(matched > 20, s"the grid must hit rows, not only misses ($matched)")
  }
}
