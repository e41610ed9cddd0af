package graft.catalog

import graft.SparkSpec
import graft.model.ManifestEntry
import java.nio.file.{Files, Paths}

/** Mirrors `dl-datalake/tests/metadata/test_manifest.py` +
  * `tests/integration/test_03_metadata.py` semantics.
  */
class ManifestCatalogSpec extends SparkSpec {

  private def entry(path: String, sym: String = "BTCUSDT", typ: String = "raw",
                    from: Long = 1000L, to: Long = 2000L, version: String = "1",
                    created: Long = 1L): ManifestEntry =
    ManifestEntry("binance", "spot", sym, path, typ, from, to, version,
      "abc", created, "", "{}")

  test("add + list round-trip with case normalization (manifest.py:77-83)") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntry(entry("p1"))
    val rows = cat.listEntries().collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("exchange") == "BINANCE")
    assert(rows(0).getAs[String]("symbol") == "BTCUSDT")
    // filters are case-insensitive too
    assert(cat.listEntries(exchange = Some("Binance"), symbol = Some("btcusdt")).count() == 1)
    assert(cat.listEntries(exchange = Some("kraken")).count() == 0)
  }

  test("upsert-by-path: re-adding a path replaces the entry (manifest.py:63-99)") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntry(entry("p1", to = 2000L))
    cat.addEntry(entry("p1", to = 5000L))
    val rows = cat.listEntries().collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("time_to") == 5000L)
  }

  test("same path twice in ONE batch: deterministic last-wins (no _seq tie)") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntries(Seq(entry("p1", to = 2000L), entry("p2", to = 100L),
      entry("p1", to = 7000L)))
    val rows = cat.listEntries().collect()
    assert(rows.length == 2)
    assert(rows.find(_.getAs[String]("path") == "p1").get.getAs[Long]("time_to") == 7000L,
      "later batch entry for the same path must win deterministically")
  }

  test("maxTimeTo watermark (A4/T1)") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntries(Seq(entry("p1", to = 2000L), entry("p2", to = 9000L), entry("p3", to = 500L)))
    assert(cat.maxTimeTo("binance", "BTCUSDT", "raw").contains(9000L))
    assert(cat.maxTimeTo("binance", "ETHUSDT", "raw").isEmpty)
  }

  test("delete tombstones entries") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntries(Seq(entry("p1"), entry("p2", sym = "ETHUSDT")))
    assert(cat.deleteEntries(symbol = Some("btcusdt")) == 1)
    val left = cat.listEntries().collect()
    assert(left.length == 1 && left(0).getAs[String]("symbol") == "ETHUSDT")
  }

  test("latestVersion picks numeric-descending (manifest.py:101-111)") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntries(Seq(
      entry("f1", typ = "alpha_set", version = "2"),
      entry("f2", typ = "alpha_set", version = "10"),
      entry("f3", typ = "alpha_set", version = "9")))
    assert(cat.latestVersion("alpha_set").contains("10"))
    assert(cat.latestVersion("nope").isEmpty)
  }

  test("featureEntries excludes builtin types (P6)") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntries(Seq(entry("p1", typ = "raw"), entry("p2", typ = "agg"),
      entry("p3", typ = "my_features")))
    val feats = cat.featureEntries().collect()
    assert(feats.length == 1 && feats(0).getAs[String]("type") == "my_features")
  }

  test("compact preserves snapshot and shrinks the log") {
    val root = tmpDir("cat")
    val cat = new ManifestCatalog(spark, root)
    (1 to 10).foreach(i => cat.addEntry(entry(s"p$i", to = i * 100L)))
    cat.addEntry(entry("p1", to = 42L)) // upsert
    cat.deleteEntries(path = Some("p2"))
    val before = cat.listEntries().collect().map(r =>
      (r.getAs[String]("path"), r.getAs[Long]("time_to"))).toSet
    cat.compact()
    val after = cat.listEntries().collect().map(r =>
      (r.getAs[String]("path"), r.getAs[Long]("time_to"))).toSet
    assert(before == after)
    assert(before.size == 9 && before.contains(("p1", 42L)))
    // still writable after compaction
    cat.addEntry(entry("p99"))
    assert(cat.listEntries().count() == 10)
  }

  test("asOf time travel: every published seq replays the exact snapshot of its instant") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntry(entry("p1", version = "1")) // seq 1
    cat.addEntry(entry("p1", version = "2")) // seq 2 (upsert)
    cat.addEntry(entry("p2", version = "1")) // seq 3
    cat.deleteEntries(path = Some("p1"))     // seq 4 (tombstone)
    assert(cat.currentSeq() == 4L)
    def view(seq: Long) = cat.asOf(seq).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[String]("version")).toMap
    assert(view(1) == Map("p1" -> "1"))
    assert(view(2) == Map("p1" -> "2"))
    assert(view(3) == Map("p1" -> "2", "p2" -> "1"))
    assert(view(4) == Map("p2" -> "1"))
    // the current snapshot IS asOf(currentSeq)
    assert(cat.snapshot().collect().map(_.getAs[String]("path")).toSet ==
      cat.asOf(cat.currentSeq()).collect().map(_.getAs[String]("path")).toSet)
  }

  test("a pinned asOf read is stable while concurrent writers append") {
    val root = tmpDir("cat")
    val cat = new ManifestCatalog(spark, root)
    (1 to 5).foreach(i => cat.addEntry(entry(s"p$i", to = i * 100L)))
    val pin = cat.currentSeq()
    def pinnedView() = cat.asOf(pin).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("time_to"), r.getAs[String]("version")))
      .toSet
    val baseline = pinnedView()
    // a racing writer appends upserts OVER the pinned paths + new paths
    val writer = new Thread(() => (1 to 8).foreach { i =>
      new ManifestCatalog(spark, root).addEntry(entry(s"p${i % 5 + 1}", to = 9999L, version = "99"))
    })
    writer.start()
    // every read at the pin, mid-race and after it, is identical
    val midRace = (1 to 4).map(_ => pinnedView())
    writer.join()
    val afterRace = pinnedView()
    assert((midRace :+ afterRace).forall(_ == baseline),
      "pinned asOf read changed under concurrent appends")
    // the un-pinned snapshot DID move — the pin is what isolated us
    assert(cat.snapshot().filter(org.apache.spark.sql.functions.col("version") === "99").count() > 0)
    // an audit-style query runs at the pin: which catalog paths vanished since?
    val vanished = cat.asOf(pin).select("path").except(cat.snapshot().select("path")).count()
    assert(vanished == 0L) // appends only upserted — nothing vanished
  }

  test("catalog calls run no Spark job: watermark, commits, compact, seq, snapshot collect") {
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    cat.addEntries(Seq(entry("p1"), entry("p2", to = 9000L)))
    val pins = Seq(
      "maxTimeTo" -> withJobCount(cat.maxTimeTo("binance", "BTCUSDT", "raw", timeframe = Some("1m"))),
      "addEntries" -> withJobCount(cat.addEntries(Seq(entry("p3"), entry("p4")))),
      "deleteEntries" -> withJobCount(cat.deleteEntries(path = Some("p3"))),
      "compact" -> withJobCount(cat.compact()),
      "currentSeq" -> withJobCount(cat.currentSeq()),
      "listEntries().collect()" -> withJobCount(cat.listEntries().collect().length),
      "latestVersion" -> withJobCount(cat.latestVersion("raw").size),
      "snapshot().collect()" -> withJobCount(cat.snapshot().collect().length))
    assert(pins.map { case (op, (_, jobs)) => op -> jobs }.filter(_._2 != 0).isEmpty,
      s"catalog calls must run 0 Spark jobs: $pins")
    assert(pins.last._2._1 == 3, "p1, p2, p4 live after the tombstone and compaction")
  }

  test("listEntries and latestVersion order rows as the Spark ORDER BY they replace") {
    import org.apache.spark.sql.functions.{col, expr}
    val cat = new ManifestCatalog(spark, tmpDir("cat"))
    val versions = Seq("2", "10", "9", "1.5", " 7 ", "v3", "abc", "1e1", "NaN", "-0", "0", "10.0")
    cat.addEntries(versions.zipWithIndex.map { case (v, i) =>
      entry(s"f$i", typ = "alpha_set", version = v, created = (i % 3).toLong)
    } ++ Seq(entry("b", created = 5L), entry("a", created = 5L), entry("é", created = 5L)))
    val sparkOrder = cat.snapshot().orderBy(col("created_at").desc, col("path")).collect().toSeq
    assert(cat.listEntries().collect().toSeq == sparkOrder)
    def sparkLatest(set: String) = cat.snapshot().filter(col("type") === set)
      .orderBy(expr("try_cast(version AS DOUBLE)").desc_nulls_last, col("version").desc)
      .select("version").limit(1).collect().headOption.map(_.getString(0))
    // NaN sorts above every number; without it "1e1", "10.0" and "10"
    // tie as doubles and the string order picks "1e1"
    cat.addEntries(versions.filterNot(_ == "NaN").zipWithIndex.map { case (v, i) =>
      entry(s"g$i", typ = "beta_set", version = v)
    })
    assert(cat.latestVersion("alpha_set") == sparkLatest("alpha_set"))
    assert(cat.latestVersion("beta_set") == sparkLatest("beta_set"))
    assert(sparkLatest("alpha_set").contains("NaN") && sparkLatest("beta_set").contains("1e1"))
  }

  test("deleteEntries returns the row count of the tombstone segment it publishes") {
    val root = tmpDir("cat")
    val cat = new ManifestCatalog(spark, root)
    cat.addEntries(Seq(entry("p1"), entry("p2"), entry("p3"), entry("p4", sym = "ETHUSDT")))
    val seq = cat.currentSeq()
    val n = cat.deleteEntries(symbol = Some("btcusdt"))
    assert(cat.currentSeq() == seq + 1)
    val segment = spark.read.schema(ManifestCatalog.logSchema)
      .parquet(f"$root/_manifest/log/${seq + 1}%020d.parquet")
    assert(n == 3L && segment.count() == n && segment.filter("_deleted").count() == n)
    // nothing matches: nothing is published
    def logFiles() = graft.core.PathWalk.list(java.nio.file.Paths.get(s"$root/_manifest/log"))(_.size)
    val files = logFiles()
    assert(cat.deleteEntries(symbol = Some("btcusdt")) == 0L)
    assert(cat.currentSeq() == seq + 1 && logFiles() == files)
  }

  test("a file: root commits under its own path; a non-local root fails by name") {
    val dir = tmpDir("catfile")
    val cat = new ManifestCatalog(spark, s"file:$dir")
    cat.addEntry(entry("p1"))
    assert(Files.exists(Paths.get(dir, "_manifest", "log", "00000000000000000001.parquet")))
    assert(!Files.exists(Paths.get(s"file:$dir")), "a relative file: directory was created")
    assert(new ManifestCatalog(spark, dir).snapshot().collect().map(_.getAs[String]("path")).toSeq == Seq("p1"))
    val e = intercept[UnsupportedOperationException](new ManifestCatalog(spark, "s3://bucket/lake"))
    assert(e.getMessage.contains("scheme 's3'"), e.getMessage)
  }

  test("two threads compact while a third commits: the serial snapshot, no lost file") {
    val root = tmpDir("catcompact")
    val cat = new ManifestCatalog(spark, root)
    def commits(c: ManifestCatalog, from: Int, to: Int): Unit =
      (from to to).foreach(i => c.addEntry(entry(s"p${i % 25}", to = 3000L + i)))
    commits(cat, 1, 20)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit) = new Thread(() => try body catch { case t: Throwable => errors.add(t): Unit })
    val threads = Seq(thread(commits(cat, 21, 60))) ++
      (1 to 2).map(_ => thread((1 to 5).foreach(_ => new ManifestCatalog(spark, root).compact())))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    val serial = new ManifestCatalog(spark, tmpDir("catserial"))
    commits(serial, 1, 60)
    assert(cat.snapshot().collect().toSeq == serial.snapshot().collect().toSeq)
    cat.compact()
    assert(cat.snapshot().collect().toSeq == serial.snapshot().collect().toSeq)
  }
}
