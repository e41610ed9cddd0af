package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SeriesOpsSpec extends SparkSpec {

  test("resample conserves volume and nests ranges (flows.py:76-90)") {
    val data = genCandles(120) // 2 hours of 1m candles
    val df = candleDf(data)
    val res = SeriesOps.resampleOhlcv(df, "15min").orderBy("bucket_ts").collect()
    assert(res.length == 8)
    // conservation: sum(volume) invariant
    val vIn = data.map(_.volume).sum
    val vOut = res.map(_.getAs[Double]("volume")).sum
    assert(math.abs(vIn - vOut) < 1e-6)
    // open of first bucket = first candle's open; close of last = last close
    assert(res.head.getAs[Double]("open") == data.head.open)
    assert(res.last.getAs[Double]("close") == data.last.close)
    // high >= max(open, close) per bucket
    res.foreach { r =>
      assert(r.getAs[Double]("high") >= math.max(r.getAs[Double]("open"), r.getAs[Double]("close")))
      assert(r.getAs[Double]("low") <= math.min(r.getAs[Double]("open"), r.getAs[Double]("close")))
    }
  }

  test("resample is deterministic under repartition (SURVEY §7.4 #3)") {
    val df = candleDf(genCandles(120))
    val a = SeriesOps.resampleOhlcv(df, "15min").orderBy("bucket_ts").collect().toSeq
    val b = SeriesOps.resampleOhlcv(df.repartition(7), "15min").orderBy("bucket_ts").collect().toSeq
    assert(a == b)
  }

  test("verifyIntegrity finds gaps and infers mode interval (pipeline.py:170-204)") {
    val data = genCandles(50)
    // knock out candles 10–14 → one gap of 6 minutes
    val gappy = data.patch(10, Nil, 5)
    val rep = SeriesOps.verifyIntegrity(candleDf(gappy)).collect()(0)
    assert(rep.getAs[Long]("mode_interval") == 60000L)
    assert(rep.getAs[Long]("gap_count") == 1L)
    assert(rep.getAs[Long]("overlap_count") == 0L)
    assert(rep.getAs[Long]("n_rows") == 45L)
  }

  test("verifyIntegrity per key partitions the window (no global sort)") {
    val a = candleDf(genCandles(30)).withColumn("sym", lit("A"))
    val b = candleDf(genCandles(30, seed = 9).patch(5, Nil, 2)).withColumn("sym", lit("B"))
    val rep = SeriesOps.verifyIntegrity(a.unionByName(b), keys = Seq("sym"))
      .orderBy("sym").collect()
    assert(rep.length == 2)
    assert(rep(0).getAs[Long]("gap_count") == 0L)
    assert(rep(1).getAs[Long]("gap_count") == 1L)
  }

  /** The window + mode self-join formulation verifyIntegrity replaced,
    * kept as the reference its one-pass histogram is checked against.
    */
  private def verifyIntegrityReference(df: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w =
      if (keys.nonEmpty) Window.partitionBy(keys.map(col): _*).orderBy(col("ts"))
      else Window.partitionBy(lit(1)).orderBy(col("ts"))
    val diffs = df.select(keys.map(col) :+ col("ts"): _*)
      .withColumn("diff", col("ts") - lag(col("ts"), 1).over(w))
    val wMode = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("cnt").desc, col("diff"))
    val modes = diffs.filter(col("diff").isNotNull)
      .groupBy(keys.map(col) :+ col("diff"): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wMode))
      .filter(col("rn") === 1)
      .select(keys.map(col) :+ col("diff").as("mode_interval"): _*)
    val joined =
      if (keys.nonEmpty) diffs.join(modes, keys)
      else diffs.crossJoin(broadcast(modes))
    joined
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        first(col("mode_interval")).as("mode_interval"),
        count(when(col("diff") > col("mode_interval"), 1)).as("gap_count"),
        count(when(col("diff") <= 0, 1)).as("overlap_count"),
        min("ts").as("time_from"), max("ts").as("time_to"))
  }

  /** Seeded series per key: mostly 1m steps, with gaps (2–3 steps),
    * duplicate ts (overlaps), step mixes that tie the mode, single-row
    * and empty keys, a null key and the odd null ts.
    */
  private def randomSeries(seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = for {
      k <- Seq[Option[String]](Some("A"), Some("B"), Some("C"), Some("D"), None)
      n = rnd.nextInt(4) match { case 0 => rnd.nextInt(2); case _ => 2 + rnd.nextInt(40) }
      tieSteps = rnd.nextBoolean()
      ts <- Iterator.iterate(1672531200000L + rnd.nextInt(5) * 60000L) { t =>
        val step =
          if (tieSteps) Seq(60000L, 120000L)(rnd.nextInt(2))
          else rnd.nextInt(10) match {
            case 0 => 0L
            case 1 => 60000L * (2 + rnd.nextInt(2))
            case _ => 60000L
          }
        t + step
      }.take(n).toSeq
    } yield (k.orNull, if (rnd.nextInt(25) == 0) None else Some(ts))
    rnd.shuffle(rows).toDF("sym", "ts").repartition(3)
  }

  test("verifyIntegrity equals the window + self-join reference on seeded series") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("sym", "ts")
    val inputs = (1L to 12L).map(randomSeries) :+ empty
    for ((df, i) <- inputs.zipWithIndex; keys <- Seq(Seq("sym"), Nil)) {
      val in = if (keys.isEmpty) df.filter(col("sym") === "A" || lit(i % 2 == 0)) else df
      val got = SeriesOps.verifyIntegrity(in, keys)
      val want = verifyIntegrityReference(in, keys)
      assert(got.schema == want.schema, s"input $i keys $keys")
      def sorted(d: DataFrame) = d.collect().toSeq.sortBy(r => Option(r.get(0)).map(_.toString))
      assert(sorted(got) == sorted(want), s"input $i keys $keys")
    }
  }

  test("missingSlots emits exactly the knocked-out timestamps") {
    val data = genCandles(20)
    val removed = Seq(5, 6, 12).map(data(_).ts).toSet
    val gappy = data.filterNot(c => removed.contains(c.ts))
    val slots = SeriesOps.missingSlots(candleDf(gappy), 60000L)
      .select("missing_ts").collect().map(_.getLong(0)).toSet
    assert(slots == removed)
  }

  test("dedupKeepLast honors the explicit batch order (W2, §7.4 #2)") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 1), (1L, 2.0, 2), (2L, 3.0, 1)).toDF("ts", "v", "_batch")
    val out = SeriesOps.dedupKeepLast(df, "_batch", Seq("ts"))
      .orderBy("ts").select("v").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(2.0, 3.0))
  }

  test("audit anti-joins (J1/J2, test_09_audit.py)") {
    import spark.implicits._
    val disk = Seq("a", "b", "c").toDF("path")
    val manifest = Seq("b", "c", "d").toDF("path")
    assert(SeriesOps.auditOrphans(disk, manifest).collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(SeriesOps.auditBroken(manifest, disk).collect().map(_.getString(0)).toSeq == Seq("d"))
  }

  test("export projection formats terminal CSV columns (S9)") {
    val row = SeriesOps.exportProjection(candleDf(genCandles(1)), "BTCUSDT", "1")
      .collect()(0)
    assert(row.getAs[String]("<TICKER>") == "BTCUSDT")
    assert(row.getAs[String]("<DATE>") == "20230101")
    assert(row.getAs[String]("<TIME>") == "120000")
  }
}
