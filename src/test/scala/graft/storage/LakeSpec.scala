package graft.storage

import graft.SparkSpec
import graft.ops.SeriesOps
import org.apache.spark.sql.functions._

/** Mirrors the reference's integration use cases 1/2/8
  * (`dl-datalake/tests/integration/test_01_e2e_ingest.py`,
  * `test_02_storage_integrity.py`, `test_08_idempotency.py`).
  */
class LakeSpec extends SparkSpec {

  test("write → readRange round-trips content, sorted and pruned") {
    val root = tmpDir("lake")
    val writer = new LakeWriter(spark, root)
    val reader = new LakeReader(spark, root)
    val data = genCandles(100)
    val rep = writer.writeOhlc(candleDf(data), SeriesKey("binance", "spot", "BTC/USDT", "raw", "1m"))
    assert(rep.rows == 100 && rep.monotonic)
    assert(rep.timeFrom == data.head.ts && rep.timeTo == data.last.ts)

    val got = reader.readRange("binance", "btc/usdt", "raw", data.head.ts, data.last.ts)
      .select("ts", "open", "high", "low", "close", "volume").collect()
    assert(got.length == 100)
    assert(got.map(_.getLong(0)).toSeq == data.map(_.ts)) // sorted
    assert(got.head.getDouble(1) == data.head.open)
  }

  test("non-UTC session still writes UTC-aligned partitions; boundary rows read back") {
    // Sydney is UTC+11 in January: for ts in [Jan 31 13:00Z, Feb 1 0:00Z)
    // the local calendar already says February, so a tz-sensitive
    // year()/month() derivation would file those rows under month=2 and
    // UTC month pruning would silently miss them.
    val sydney = spark.newSession()
    sydney.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
    val root = tmpDir("lake")
    // hourly candles Jan 31 2023 00:00Z .. Feb 1 2023 23:00Z (48 rows)
    val data = genCandles(48, startMs = 1675123200000L, periodMs = 3600000L)
    import sydney.implicits._
    new LakeWriter(sydney, root).writeOhlc(data.toDF(),
      SeriesKey("EX", "SPOT", "SYM", "raw", "1h"))

    // partition directories are UTC months: Jan holds exactly the 24
    // rows with ts < Feb 1 00:00Z, including the 11 Sydney-February ones
    val reader = new LakeReader(spark, root)
    val jan = spark.read.parquet(root).filter(col("month") === 1)
    assert(jan.count() == 24, "partitions not UTC-aligned")
    // boundary rows survive a pruned January read
    val janRead = reader.readRange("EX", "SYM", "raw",
      1675123200000L, 1675209599999L) // Jan 31 00:00Z .. 23:59:59.999Z
    assert(janRead.count() == 24)
    // and the full range round-trips every row
    assert(reader.readRange("EX", "SYM", "raw", data.head.ts, data.last.ts)
      .count() == 48)
  }

  test("ts range filter + month pruning narrows the scan") {
    val root = tmpDir("lake")
    val writer = new LakeWriter(spark, root)
    val reader = new LakeReader(spark, root)
    // 3 months of daily candles: Jan–Mar 2023
    val data = genCandles(90, startMs = 1672531200000L, periodMs = 86400000L)
    writer.writeOhlc(candleDf(data), SeriesKey("EX", "SPOT", "SYM", "raw", "1d"))

    val feb = reader.readRange("EX", "SYM", "raw",
      1675209600000L, 1677628799999L) // Feb 1 .. Feb 28 23:59:59.999
    assert(feb.count() == 28)
    // month-pruning predicate reaches the physical plan
    val plan = feb.queryExecution.executedPlan.toString
    assert(plan.contains("month"), s"no month predicate in plan:\n$plan")
  }

  test("upsert keeps last for overlapping ts (keep-last, writer.py:82-92)") {
    val root = tmpDir("lake")
    val writer = new LakeWriter(spark, root)
    val reader = new LakeReader(spark, root)
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1m")
    val batch1 = genCandles(50)
    writer.writeOhlc(candleDf(batch1), key)
    // second batch overlaps last 10, revised values, and extends 10 more
    val batch2 = genCandles(20, startMs = batch1(40).ts, seed = 7)
      .map(c => c.copy(volume = 99999.0))
    val rep = writer.writeOhlc(candleDf(batch2), key)
    assert(rep.rows == 60, s"expected 50+20-10 overlapping = 60, got ${rep.rows}")
    val overlap = reader.readRange("EX", "SYM", "raw", batch1(40).ts, batch1(49).ts)
      .select("volume").collect().map(_.getDouble(0))
    assert(overlap.forall(_ == 99999.0), "revised rows must win")
  }

  test("idempotent re-ingest: same batch twice ⇒ no duplicate rows (test_08)") {
    val root = tmpDir("lake")
    val writer = new LakeWriter(spark, root)
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1m")
    val data = candleDf(genCandles(30))
    val r1 = writer.writeOhlc(data, key)
    val r2 = writer.writeOhlc(data, key)
    assert(r1.rows == 30 && r2.rows == 30 && r2.monotonic)
  }

  test("month-boundary batch splits into two partitions (test_02 analog)") {
    val root = tmpDir("lake")
    val writer = new LakeWriter(spark, root)
    // 20 hourly candles from Jan 31 2023 14:00 → spans Jan 31/Feb 1
    val data = genCandles(20, startMs = 1675173600000L, periodMs = 3600000L)
    val rep = writer.writeOhlc(candleDf(data), SeriesKey("EX", "SPOT", "SYM", "raw", "1h"))
    assert(rep.partitions == 2, s"expected Jan+Feb partitions, got ${rep.partitions}")
    val df = spark.read.parquet(root)
    assert(df.select("month").distinct().count() == 2)
    assert(df.count() == 20)
  }

  test("schema evolution: new column unions as null on old rows (test_07)") {
    val root = tmpDir("lake")
    val writer = new LakeWriter(spark, root)
    val reader = new LakeReader(spark, root)
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1m")
    writer.writeOhlc(candleDf(genCandles(10)), key)
    val extended = candleDf(genCandles(10, startMs = 1672574400000L + 10 * 60000L))
      .withColumn("trades", lit(7L))
    writer.writeOhlc(extended, key)
    val all = reader.readRange("EX", "SYM", "raw", 0L, Long.MaxValue, mergeSchema = true)
    assert(all.count() == 20)
    assert(all.columns.contains("trades"))
    assert(all.filter(col("trades").isNull).count() == 10)
  }

  test("pagination is stable (S10/O2)") {
    val root = tmpDir("lake")
    val writer = new LakeWriter(spark, root)
    val reader = new LakeReader(spark, root)
    val data = genCandles(50)
    writer.writeOhlc(candleDf(data), SeriesKey("EX", "SPOT", "SYM", "raw", "1m"))
    val base = reader.readRange("EX", "SYM", "raw", 0L, Long.MaxValue)
    val page2 = reader.page(base, 10, 10).select("ts").collect().map(_.getLong(0))
    assert(page2.toSeq == data.slice(10, 20).map(_.ts))
  }

  test("series dir holding only writer debris reads as first write, not a wedge") {
    // a writer killed mid-flush (the q81 forked-child crash shape)
    // leaves the series directory existing but without one readable
    // parquet footer; the next merge-write must treat that as an empty
    // series instead of failing on schema inference forever
    val root = tmpDir("lake-debris")
    val key = SeriesKey("EX", "M", "SYM", "raw", "1m")
    val debris = java.nio.file.Paths.get(
      LakeIO.seriesDir(root, key.sanitized), "year=2023", "month=1", "_temporary")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.write(debris.resolve("task-0.snappy.parquet.staging"),
      Array[Byte](1, 2, 3))

    val data = genCandles(20)
    val rep = new LakeWriter(spark, root).writeOhlc(candleDf(data), key)
    assert(rep.rows == 20 && rep.monotonic, s"merge-write must recover: $rep")
    val got = new LakeReader(spark, root)
      .readRange("EX", "SYM", "raw", data.head.ts, data.last.ts).count()
    assert(got == 20)
  }

  private val HourMs = 3600000L
  private val Jan31 = 1675123200000L // 2023-01-31T00:00Z

  /** Data files per (year, month) directory of a series. */
  private def filesPerMonth(root: String, key: SeriesKey): Map[(Int, Int), Int] =
    graft.core.PathWalk.walk(java.nio.file.Paths.get(LakeIO.seriesDir(root, key.sanitized))) {
      _.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.map { p =>
        def v(d: java.nio.file.Path) = d.getFileName.toString.split("=")(1).toInt
        (v(p.getParent.getParent), v(p.getParent))
      }.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    }

  test("post-write verify reads the whole series: a duplicate in an untouched month is caught") {
    val root = tmpDir("lake-verify")
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1h")
    val writer = new LakeWriter(spark, root)
    // clean series: Jan 31 + Feb 1, then a merge-write into February
    val first = genCandles(48, startMs = Jan31, periodMs = HourMs)
    assert(writer.writeOhlc(candleDf(first), key) ==
      WriteReport(48L, first.head.ts, first.last.ts, monotonic = true, 2L))
    val feb = genCandles(12, startMs = first(42).ts, periodMs = HourMs, seed = 7)
    assert(writer.writeOhlc(candleDf(feb), key) ==
      WriteReport(54L, first.head.ts, feb.last.ts, monotonic = true, 1L))

    // a foreign file in the January dir repeats January's first ts
    val staged = tmpDir("foreign")
    candleDf(Seq(first.head.copy(volume = 1.0))).coalesce(1).write.mode("overwrite").parquet(staged)
    val part = graft.core.PathWalk.list(java.nio.file.Paths.get(staged)) {
      _.find(_.getFileName.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(
      LakeIO.seriesDir(root, key.sanitized), "year=2023", "month=1", "part-foreign.snappy.parquet"))

    // a merge-write that touches only March still sees it
    val mar = genCandles(5, startMs = 1677628800000L, periodMs = HourMs, seed = 9)
    assert(writer.writeOhlc(candleDf(mar), key) ==
      WriteReport(54L + 1L + 5L, first.head.ts, mar.last.ts, monotonic = false, 1L))
  }

  test("merge-write leaves one data file per touched month, in a pinned number of Spark jobs") {
    val root = tmpDir("lake-files")
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1h")
    val writer = new LakeWriter(spark, root)
    // the layout is checked with every shuffle partition kept: AQE would
    // coalesce this small input into one partition and hide a month
    // split over several tasks, hence several files. A first write runs
    // in its input's session and has no existing rows, so the series
    // columns fold to literals; the input is a materialized frame, since
    // a LocalRelation would absorb them as plain columns
    val uncoalesced = spark.newSession()
    uncoalesced.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val first = genCandles(48, startMs = Jan31, periodMs = HourMs)
    writer.writeOhlc(uncoalesced.createDataFrame(first).localCheckpoint(), key)
    assert(filesPerMonth(root, key) == Map((2023, 1) -> 1, (2023, 2) -> 1))
    val feb = genCandles(12, startMs = first(42).ts, periodMs = HourMs, seed = 7)
    writer.writeOhlc(candleDf(feb), key)
    assert(filesPerMonth(root, key) == Map((2023, 1) -> 1, (2023, 2) -> 1))

    // touched months 1, existing-month checkpoint 1, write 2 (one
    // exchange), verify 2; the existing months' schema comes from their
    // footers on the driver
    val feb2 = genCandles(12, startMs = feb(6).ts, periodMs = HourMs, seed = 8)
    val (rep, jobs) = withJobCount(writer.writeOhlc(candleDf(feb2), key))
    assert(rep == WriteReport(60L, first.head.ts, feb2.last.ts, monotonic = true, 1L))
    assert(filesPerMonth(root, key) == Map((2023, 1) -> 1, (2023, 2) -> 1))
    assert(jobs == 6, s"merge-write ran $jobs Spark jobs, pinned at 6")
  }

  private def writeTicks(root: String, key: SeriesKey, n: Int, startMs: Long): Unit = {
    import spark.implicits._
    val ticks = (0 until n).map(i => (startMs + i * 1000L, 100.0 + i, 0.5 * i, i % 2 == 0))
      .toDF("ts", "price", "qty", "is_buy")
    new LakeWriter(spark, root).writeTicks(ticks, key)
  }

  test("mixed lake: a ticks read gets the ticks columns, not the lake's first file's") {
    // the raw series' files come first in path order (type=raw < type=ticks)
    val root = tmpDir("lake-mixed")
    new LakeWriter(spark, root).writeOhlc(candleDf(genCandles(30)),
      SeriesKey("BINANCE", "SPOT", "BTC", "raw", "1m"))
    writeTicks(root, SeriesKey("BINANCE", "SPOT", "BTC", "ticks", "tick"), 20, Jan31)
    val reader = new LakeReader(spark, root)
    for (df <- Seq(
        reader.readRange("BINANCE", "BTC", "ticks", 0L, Long.MaxValue, Some("SPOT"), Some("tick")),
        reader.readRange("BINANCE", "BTC", "ticks", 0L, Long.MaxValue))) {
      assert(df.columns.toSeq.take(4) == Seq("ts", "price", "qty", "is_buy"), df.columns.toSeq)
      val rows = df.select("ts", "price", "is_buy").collect()
      assert(rows.length == 20)
      assert(rows.map(_.getDouble(1)).toSeq == (0 until 20).map(100.0 + _))
      assert(rows.head.getBoolean(2))
    }
  }

  test("a range with no file is empty with the series' schema; an unknown series throws") {
    val root = tmpDir("lake-empty")
    new LakeWriter(spark, root).writeOhlc(candleDf(genCandles(30)),
      SeriesKey("EX", "SPOT", "SYM", "raw", "1m"))
    writeTicks(root, SeriesKey("EX", "SPOT", "TCK", "ticks", "tick"), 10, Jan31)
    val reader = new LakeReader(spark, root)
    // January ticks exist; a March range holds no file
    val (none, jobs) = withJobCount {
      val df = reader.readRange("EX", "TCK", "ticks", 1677628800000L, 1680307199999L)
      (df.columns.toSeq, df.collect().length)
    }
    assert(none == (Seq("ts", "price", "qty", "is_buy") ++ LakeIO.PartitionCols, 0))
    assert(jobs == 0, s"an empty range ran $jobs Spark jobs")
    // a key with no data file at all names itself, as readWhere does
    val e = intercept[RuntimeException](reader.readRange("EX", "NOPE", "raw", 0L, Long.MaxValue))
    assert(e.getMessage.contains("unknown series EX/*/NOPE/raw/*"), e.getMessage)
  }

  /** The range read as before the scoped listing: the whole root,
    * filtered by key and ts, globally ordered.
    */
  private def wholeRootRange(root: String, symbol: String, lo: Long, hi: Long) =
    LakeIO.read(spark, root, mergeSchema = false)
      .filter(col("exchange") === "EX" && col("symbol") === symbol && col("type") === "raw")
      .filter(col("ts").between(lo, hi)).orderBy("ts")

  test("a one-file range reads in 0 jobs; resample and verify over it collect in 1 each") {
    val root = tmpDir("lake-jobs")
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1m")
    // two days of 1m candles across a month boundary: two month files;
    // the range lies in February's
    val data = genCandles(2880, startMs = Jan31)
    new LakeWriter(spark, root).writeOhlc(candleDf(data), key)
    val reader = new LakeReader(spark, root)
    val (df, readJobs) = withJobCount(
      reader.readRange("EX", "SYM", "raw", data(1500).ts, data(2819).ts, Some("SPOT"), Some("1m")))
    val (bars, resampleJobs) = withJobCount(SeriesOps.resampleOhlcv(df, "1h").collect())
    val (report, verifyJobs) = withJobCount(SeriesOps.verifyIntegrity(df).collect())
    assert(bars.length == 22)
    assert(report.map(r => (r.getAs[Long]("n_rows"), r.getAs[Long]("gap_count"),
      r.getAs[Long]("overlap_count"))).toSeq == Seq((1320L, 0L, 0L)))
    assert((readJobs, resampleJobs, verifyJobs) == (0, 1, 1),
      s"readRange/resample/verify ran $readJobs/$resampleJobs/$verifyJobs jobs, pinned at 0/1/1")
    // the scan names only the series' in-range month file
    val files = df.inputFiles.toSeq
    assert(files.size == 1 &&
      files.forall(_.contains("/symbol=SYM/type=raw/period=1m/year=2023/month=2/")), files)
  }

  test("a range Spark scans in several partitions keeps them: same rows and order either way") {
    val root = tmpDir("lake-split")
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1m")
    val writer = new LakeWriter(spark, root)
    val data = genCandles(2880, startMs = Jan31)
    writer.writeOhlc(candleDf(data), key)
    // another series and a month outside the range: neither is scanned
    writer.writeOhlc(candleDf(genCandles(50)), key.copy(symbol = "OTHER"))
    writer.writeOhlc(candleDf(genCandles(50, startMs = 1677628800000L)), key)
    val reader = new LakeReader(spark, root)
    def rangeExchange(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("Exchange rangepartitioning")
    // February alone is one small file, one scan partition; January and
    // February are two files, which Spark's split planning keeps apart
    for ((lo, hi, nFiles) <- Seq((data(1450).ts, data(2870).ts, 1), (data(10).ts, data(2870).ts, 2))) {
      val df = reader.readRange("EX", "SYM", "raw", lo, hi)
      assert(df.inputFiles.length == nFiles && df.inputFiles.forall(f =>
        f.contains("/symbol=SYM/") && !f.contains("/month=3/")), df.inputFiles.toSeq)
      assert(rangeExchange(df) == (nFiles > 1))
      val before = wholeRootRange(root, "SYM", lo, hi)
      assert(df.schema == before.schema)
      val rows = df.collect().toSeq
      assert(rows == before.collect().toSeq)
      assert(rows.map(_.getAs[Long]("ts")) == data.filter(c => c.ts >= lo && c.ts <= hi).map(_.ts))
    }
  }

  test("partitionCount is the partition count Spark's scan plans for the same files") {
    val root = tmpDir("lake-splits")
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1m")
    val writer = new LakeWriter(spark, root)
    writer.writeOhlc(candleDf(genCandles(2880, startMs = Jan31)), key)
    writer.writeOhlc(candleDf(genCandles(20000, startMs = 1677628800000L, seed = 3)), key)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = LakeIO.inPathOrder(LakeIO.dataFiles(fs, new org.apache.hadoop.fs.Path(root)))
    assert(files.size == 3)
    val confs = Seq(
      Map.empty[String, String],
      Map("spark.sql.files.maxPartitionBytes" -> "4096"),
      Map("spark.sql.files.openCostInBytes" -> "0"),
      Map("spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1"),
      Map("spark.sql.files.openCostInBytes" -> "1024", "spark.sql.files.maxPartitionBytes" -> "65536"))
    val counts = for (conf <- confs; subset <- Seq(files.take(1), files.drop(1), files)) yield {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      val planned = s.read.option("basePath", root)
        .parquet(subset.map(_.getPath.toString): _*).rdd.getNumPartitions
      assert(LakeIO.partitionCount(s, subset) == planned, s"$conf over ${subset.size} files")
      planned
    }
    // the confs reach both sides of the one-partition fork
    assert(counts.contains(1) && counts.exists(_ > 1), counts)
    assert(LakeIO.scanPartitions(spark, Nil) == 0)
  }

  test("readFiles builds its frame in 0 jobs, with the schema and rows of Spark's inferred read") {
    val root = tmpDir("lake-files")
    val key = SeriesKey("EX", "SPOT", "SYM", "raw", "1m")
    val writer = new LakeWriter(spark, root)
    // January without, February with an extra column
    writer.writeOhlc(candleDf(genCandles(30)), key)
    writer.writeOhlc(candleDf(genCandles(30, startMs = 1675209600000L)).withColumn("trades", lit(7L)), key)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a survivor list need not come in path order
    val paths = LakeIO.inPathOrder(LakeIO.dataFiles(fs, new org.apache.hadoop.fs.Path(root)))
      .map(_.getPath.toString).reverse
    assert(paths.size == 2)
    val inferring = spark.newSession()
    inferring.conf.set(LakeIO.InferenceConf, "false")
    for (merge <- Seq(true, false)) {
      val (df, jobs) = withJobCount(LakeIO.readFiles(spark, root, paths, merge))
      assert(jobs == 0, s"readFiles(mergeSchema = $merge) ran $jobs Spark jobs")
      val before = inferring.read.option("mergeSchema", merge.toString).option("basePath", root)
        .parquet(paths: _*)
        .withColumn("year", col("year").cast("int")).withColumn("month", col("month").cast("int"))
      assert(df.schema == before.schema)
      assert(df.columns.contains("trades") == merge)
      assert(df.orderBy("ts").collect().toSeq == before.orderBy("ts").collect().toSeq)
    }
  }
}
