package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Timeframes

/** Time-series operators over OHLCV/tick frames with epoch-ms `ts`
  * (SURVEY §7.1 #6 "ops" — the query library the reference exposes via
  * resample/verify/audit/export).
  */
object SeriesOps {

  /** OHLCV resample to a coarser timeframe (SURVEY A3/T7) — the Spark
    * re-expression of Polars `group_by_dynamic`
    * (`dl-datalake/src/dl_datalake/orchestration/flows.py:69-90`).
    *
    * `min_by/max_by(value, ts)` give order-independent open/close
    * (SURVEY §7.4 #3 — the reference depends on pre-sorted input).
    * One shuffle on (keys, bucket); Catalyst plans partial+final hash agg
    * so the map side combines before shuffling — this is the 100 TB shape.
    */
  /** THE canonical OHLCV aggregation expressions — shared verbatim by
    * the batch path here and the streaming path (StreamOps.resampleStream)
    * so the two can never de-synchronize. min_by/max_by define open/close
    * by ts (partitioning-independent); volume is decimal-summed so the
    * result is identical under any partitioning (double addition is
    * order-dependent; SURVEY §7.4 #3).
    */
  def ohlcvAggs: Seq[Column] = Seq(
    min("ts").as("ts"),
    min_by(col("open"), col("ts")).as("open"),
    max("high").as("high"),
    min("low").as("low"),
    max_by(col("close"), col("ts")).as("close"),
    sum(col("volume").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
      .cast("double").as("volume"))

  def resampleOhlcv(df: DataFrame, timeframe: String, keys: Seq[String] = Nil): DataFrame = {
    val interval = Timeframes.toSparkInterval(timeframe)
    df.groupBy(keys.map(col) :+ window(timestamp_millis(col("ts")), interval).as("w"): _*)
      .agg(ohlcvAggs.head, ohlcvAggs.tail: _*)
      .withColumn("bucket_ts", unix_millis(col("w.start")))
      .drop("w")
  }

  /** Integrity report per series (SURVEY W1/A6/A9/P8/P9): inferred
    * interval (mode of diffs), gap count (diff > mode), overlap count
    * (diff <= 0) — the reference's `verify_integrity`
    * (`dl-datalake/src/dl_datalake/ingest/pipeline.py:170-204`) as one
    * distributed program. Keys partition the lag window, so no global
    * sort: at scale each series sorts independently.
    *
    * One pass after the window: a histogram of diffs per key (count and
    * ts bounds per diff) is folded per key into the row count, the ts
    * bounds and the histogram array, from which the mode (highest count,
    * then smallest diff, null diffs excluded), gaps and overlaps are
    * read. A key with a null value or without a non-null diff gets no
    * row; with no keys there is always one row, all zero without a
    * non-null diff. On input in one partition (a small
    * [[graft.storage.LakeReader.readRange]]) it plans no exchange.
    * Memory: a key's histogram array holds one entry per distinct diff,
    * in one aggregation buffer — a handful for bar series, up to the
    * key's row count for irregular ticks.
    */
  def verifyIntegrity(df: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val k = keys.map(col)
    val w =
      if (keys.nonEmpty) Window.partitionBy(k: _*).orderBy(col("ts"))
      else Window.partitionBy(lit(1)).orderBy(col("ts"))
    val perKey = df.select(k :+ col("ts"): _*)
      .filter(k.map(_.isNotNull).foldLeft(lit(true))(_ && _))
      .withColumn("diff", col("ts") - lag(col("ts"), 1).over(w))
      .groupBy(k :+ col("diff"): _*)
      .agg(count(lit(1)).as("cnt"), min("ts").as("lo"), max("ts").as("hi"))
      .groupBy(k: _*)
      .agg(min("lo").as("lo"), max("hi").as("hi"),
        collect_list(struct(col("diff"), col("cnt"))).as("hist"))
      .withColumn("mode_interval", array_min(transform(
        filter(col("hist"), _("diff").isNotNull),
        e => struct(-e("cnt"), e("diff").as("diff"))))("diff"))
    val has = col("mode_interval").isNotNull
    // rows whose diff satisfies `p`; coalesced because Spark types a
    // fold's result nullable, and the counts it replaces are not
    def rows(p: Column => Column) = when(has, coalesce(aggregate(col("hist"), lit(0L),
      (n, e) => n + when(p(e), e("cnt")).otherwise(0L)), lit(0L))).otherwise(0L)
    (if (keys.nonEmpty) perKey.filter(has) else perKey).select(k ++ Seq(
      rows(_ => lit(true)).as("n_rows"),
      col("mode_interval"),
      rows(_("diff") > col("mode_interval")).as("gap_count"),
      rows(_("diff") <= 0).as("overlap_count"),
      when(has, col("lo")).as("time_from"),
      when(has, col("hi")).as("time_to")): _*)
  }

  /** Gap-filling row generator (SURVEY §2.10): emit the missing bucket
    * timestamps between consecutive rows — built-in
    * `explode(sequence(...))`, no custom Generator.
    */
  def missingSlots(df: DataFrame, intervalMs: Long, keys: Seq[String] = Nil): DataFrame = {
    val w =
      if (keys.nonEmpty) Window.partitionBy(keys.map(col): _*).orderBy(col("ts"))
      else Window.partitionBy(lit(1)).orderBy(col("ts"))
    df.select(keys.map(col) :+ col("ts"): _*)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      // >= 2 intervals: a ragged gap in (1, 2) intervals has no whole
      // missing slot, and sequence(start > stop) would throw
      .filter(col("ts") - col("prev") >= 2 * intervalMs)
      .select(keys.map(col) :+
        explode(sequence(col("prev") + intervalMs, col("ts") - intervalMs,
          lit(intervalMs))).as("missing_ts"): _*)
  }

  /** Keep-last dedup on ts within series keys, "last" defined by an
    * explicit batch/sequence column (SURVEY A5/W2, §7.4 #2).
    */
  def dedupKeepLast(df: DataFrame, orderCol: String, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Audit reconciliation (SURVEY J1/J2/U3): orphans = on disk, not in
    * catalog; broken = in catalog, missing on disk. Anti-joins — never a
    * collect, so the file listing can itself be a distributed frame.
    */
  def auditOrphans(diskPaths: DataFrame, manifest: DataFrame): DataFrame =
    diskPaths.select("path").join(manifest.select("path"), Seq("path"), "left_anti")

  def auditBroken(manifest: DataFrame, diskPaths: DataFrame): DataFrame =
    manifest.select("path").join(diskPaths.select("path"), Seq("path"), "left_anti")

  /** Terminal CSV export projection (SURVEY S9,
    * `dl-datalake-ui/backend/routers/data.py:204-236`):
    * `<TICKER>,<PER>,<DATE>,<TIME>,<OPEN>,<HIGH>,<LOW>,<CLOSE>,<VOL>`.
    */
  def exportProjection(df: DataFrame, ticker: String, per: String): DataFrame = {
    val t = timestamp_millis(col("ts"))
    df.select(
      lit(ticker).as("<TICKER>"),
      lit(per).as("<PER>"),
      date_format(t, "yyyyMMdd").as("<DATE>"),
      date_format(t, "HHmmss").as("<TIME>"),
      col("open").as("<OPEN>"), col("high").as("<HIGH>"),
      col("low").as("<LOW>"), col("close").as("<CLOSE>"),
      col("volume").as("<VOL>"))
  }
}
