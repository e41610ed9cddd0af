package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Partitioned-lake bench (r9-verdict task 4): every suite bench table
  * is a FLAT parquet file, but the 100 TB design center is a
  * Hive-partitioned lake where month-directory pruning carries the read
  * path. This harness series-ifies `events` into the lake layout
  * (`exchange=/market=/symbol=/type=/period=/year=/month=`, one series
  * per event_type, the 30-day stream stretched ×24 to ~24 month
  * partitions), then benches the four event-query shapes
  * (q20 resample / q21 gap-detect / q23 keep-last / q68 as-of) twice
  * each:
  *
  *  - FULL: whole-lake scan (the flat-table regime);
  *  - PRUNED: a one-month ts window, with ONLY the `ts BETWEEN`
  *    predicate in the query — the [[graft.plans.TsPartitionPruning]]
  *    optimizer rule (registered via spark.sql.extensions by
  *    [[Harness]]) must derive the year/month partition predicates
  *    itself, exactly as it would on a cluster.
  *
  * For each pruned query the files-read count is pulled from the
  * executed FileSourceScan and ASSERTED ≤ the target months' file count
  * (a pruning regression fails the run, it doesn't just slow it).
  * Prints one JSON line; recorded in BASELINE.md.
  *
  * Args (`graft.Harness bench-partitioned`): [sfDir] (or
  * SPARK_GRAFT_SF_DIR; lake cached at SPARK_GRAFT_LAKE_DIR or
  * /root/sfgen/lake_<name>).
  */
object BenchPartitioned {

  private val T0 = 1672531200000L // 2023-01-01 UTC

  private val partCols = Seq("exchange", "market", "symbol", "type", "period", "year", "month")

  private def buildLake(spark: SparkSession, sfDir: String, lakeRoot: String): Unit = {
    val ev = Tables.events(spark, sfDir) // ts = LONG epoch-ns
    val minNs = ev.agg(min("ts")).head().getLong(0)
    // stretch the 30-day stream ×24 → ~24 month partitions; multiply
    // BEFORE the ns→ms truncation so sub-ms structure spreads rather
    // than collapsing (truncate-first mapped same-source-ms events —
    // 43 pairs at sf1 — to duplicate lake ts, making the keep-last and
    // as-of shapes' outputs tie-dependent); no overflow: 30 d of ns
    // ×24 ≈ 6.2e16 ≪ Long.MaxValue
    val stretched = ev
      .withColumn("ts", expr(s"(ts - ${minNs}L) * 24 div 1000000 + ${T0}L"))
      .withColumn("exchange", lit("BENCH"))
      .withColumn("market", lit("SPOT"))
      .withColumn("symbol", upper(col("event_type")))
      .withColumn("type", lit("ticks"))
      .withColumn("period", lit("tick"))
    val d = graft.core.MonthKeys.utcDate(col("ts"))
    stretched
      .withColumn("year", year(d))
      .withColumn("month", month(d))
      .repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols :+ "ts").map(col): _*)
      .write.mode("overwrite")
      .option("compression", "snappy")
      .partitionBy(partCols: _*)
      .parquet(lakeRoot)
  }

  /** Executed-plan file count of the lake scan (AQE-unwrapped). */
  private def filesRead(df: DataFrame): Long = graft.core.PlanInspect.filesRead(df)

  private[graft] def run(spark: SparkSession, sfDir: String, args: Array[String]): Unit = {
    val lakeRoot = sys.env.getOrElse("SPARK_GRAFT_LAKE_DIR",
      s"/root/sfgen/lake_${Paths.get(sfDir).getFileName}")
    if (!Files.exists(Paths.get(s"$lakeRoot/_SUCCESS"))) {
      println(s"[benchpart] building lake at $lakeRoot from $sfDir")
      buildLake(spark, sfDir, lakeRoot)
    }

    def lake: DataFrame = spark.read.parquet(lakeRoot)

    // one-month window: July 2023 of the stretched timeline. ONLY the ts
    // predicate appears — month pruning must come from the optimizer rule
    val julFrom = 1688169600000L // 2023-07-01
    val julTo = 1690847999999L   // 2023-07-31 23:59:59.999
    def pruned: DataFrame = lake.filter(col("ts").between(julFrom, julTo))

    def resample(df: DataFrame): DataFrame = df
      .withColumn("bucket_ms", expr("ts div 3600000 * 3600000"))
      .groupBy(col("symbol"), col("bucket_ms"))
      .agg(min_by(col("value"), col("ts")).as("open"), max("value").as("high"),
        min("value").as("low"), max_by(col("value"), col("ts")).as("close"),
        sum("value").as("volume"), count(lit(1)).as("n"))

    def gapDetect(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      df.withColumn("diff", col("ts") - lag(col("ts"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(when(col("diff") > 6L * 3600000L * 24, 1)).as("gap_count"),
          count(when(col("diff") <= 0, 1)).as("overlap_count"),
          count(col("diff")).as("n_intervals"))
    }

    def keepLast(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"), col("symbol"))
      .agg(max(col("ts")).as("last_ts"),
        max_by(col("value"), col("ts")).as("last_value"),
        count(lit(1)).as("n_superseded"))

    def asof(df: DataFrame): DataFrame = {
      // q68's single-shuffle tagged-union shape: clicks pick up the most
      // recent same-user purchase at-or-before them
      val tagged = df.filter(col("symbol").isin("CLICK", "PURCHASE"))
        .select(col("user_id"), col("ts"), col("value"),
          (col("symbol") === "PURCHASE").as("is_p"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_p").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_p", last(when(col("is_p"), col("value")), ignoreNulls = true).over(w))
        .filter(!col("is_p"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("clicks"), sum(col("last_p")).as("sum_asof"))
    }

    val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "p20_resample" -> resample, "p21_gap_detect" -> gapDetect,
      "p23_keep_last" -> keepLast, "p68_asof" -> asof)

    val monthDirFiles = graft.core.PathWalk.walk(Paths.get(lakeRoot))(
      _.count(p => p.toString.contains("year=2023/month=7/")
        && p.toString.endsWith(".parquet")).toLong)
    val totalFiles = graft.core.PathWalk.walk(Paths.get(lakeRoot))(
      _.count(_.toString.endsWith(".parquet")).toLong)

    def timed(df: => DataFrame): (Double, Long, Long) = {
      val d = df
      d.collect() // warm
      val d2 = df
      val t0 = System.nanoTime()
      val n = d2.collect().length
      ((System.nanoTime() - t0) / 1e9, n, filesRead(d2))
    }

    val results = shapes.map { case (name, shape) =>
      val (tFull, nFull, fFull) = timed(shape(lake))
      val (tPruned, nPruned, fPruned) = timed(shape(pruned))
      // the pruning CONTRACT: a one-month ts window reads only that
      // month's files (≤ because empty symbols/months may exist)
      require(fPruned <= monthDirFiles.toLong,
        s"$name: pruned read touched $fPruned files > month's $monthDirFiles " +
          "— TsPartitionPruning regressed")
      require(fPruned < fFull,
        s"$name: pruned=$fPruned !< full=$fFull files")
      println(f"[benchpart] $name full=$tFull%.2fs/$fFull files ($nFull rows) " +
        f"pruned=$tPruned%.2fs/$fPruned files ($nPruned rows)")
      name -> (tFull, fFull, tPruned, fPruned)
    }

    val json = results.map { case (n, (tf, ff, tp, fp)) =>
      f""""$n":{"full_sec":$tf%.3f,"full_files":$ff,"pruned_sec":$tp%.3f,"pruned_files":$fp}"""
    }.mkString(",")
    println(s"""{"queries":{$json},"sf":"$sfDir","lake_files":$totalFiles,""" +
      s""""month_files":$monthDirFiles,"metric":"partitioned_lake","unit":"sec"}""")
  }
}
