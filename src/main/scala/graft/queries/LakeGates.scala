package graft.queries

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.dec
import graft.core.{PlanInspect, SessionTempRoots}
import graft.storage.{LakeReader, LakeWriter, SeriesKey}

/** Partitioned-lake pruning under the ORACLE (SURVEY §2.1 S1 / §2.2 P1 /
  * §4): until now both month-pruning paths — the storage reader's
  * derived year/month bounds (`LakeReader.readRange`) and the
  * `TsPartitionPruning` optimizer rule — were spec- and bench-verified
  * only (PushdownSpec, `graft.Harness bench-partitioned`). These two
  * gates put each path under the driver's DuckDB hash-compare AND pin,
  * inside the query itself, that the executed scan opened no more files
  * than the target months hold — so a pruning regression is a red
  * CORRECTNESS row, not a silent slowdown.
  *
  * The reference DOCUMENTS date-dir pruning but never implements it
  * (`dl-datalake/src/dl_datalake/storage/reader.py:41-48` filters rows
  * after reading every monthly file); the lake layout under test is the
  * reference's `{EX}/{MKT}/{SYM}/{type}/{period}/{YYYY}/{MM}` tree
  * (`writer.py:21-46`) in Hive form.
  *
  * Fixture (built ONCE per session + data dir, through the PRODUCTION
  * writer): the 30-day `events` stream is re-timestamped onto a 24-month
  * timeline with integer arithmetic both engines can replay exactly —
  * per event type, `ts' = T0 + (rank-1) * (SPAN div n_type)` where rank
  * orders by (ts, event_id). The map is injective BY CONSTRUCTION
  * (step ≥ 1 ms for any n_type ≤ 63e9), so the writer's keep-last merge
  * can never drop a "duplicate" the SQL oracle would keep — a naive
  * stretch of the raw µs stream collides at sf1 (measured: 43 same-ms
  * pairs) and would silently desync the two sides. Each event type
  * becomes one series, written via `LakeWriter.writeTicks` (merge-write,
  * dynamic partition overwrite, per-file ts sort); the WriteReport's
  * uniqueness+monotonicity bit is `require`d as the premise.
  *
  * Scale note: the rank window partitions by event type (5 groups), so
  * fixture construction funnels each type through one sort task. That
  * is a FIXTURE-ONLY device — the oracle must be able to replay the
  * map as one static SQL — not a production re-timestamping pattern;
  * the operators under test (writer, reader, optimizer rule) see only
  * the finished lake. Verified through sf10 (2 M rows/group) where the
  * build remains a one-off, seconds-scale cost per session.
  */
object LakeGates {

  private val T0 = 1672531200000L       // 2023-01-01T00:00:00Z
  private val Span = 63072000000L       // 730 days → 24 month partitions
  private val JulFrom = 1688169600000L  // 2023-07-01T00:00:00Z
  private val JulTo = 1690847999999L    // 2023-07-31T23:59:59.999Z
  private val AugFrom = 1690848000000L  // 2023-08-01T00:00:00Z
  private val AugTo = 1693526399999L    // 2023-08-31T23:59:59.999Z

  /** The shared 24-month lake, built once per (session, data dir). */
  private def lakeRoot(s: SparkSession, d: String): String =
    SessionTempRoots.of(s, d, "graft_plake_") { root =>
      val byType = Window.partitionBy(col("event_type"))
      val spread = Tables.events(s, d)
        .withColumn("rn", row_number().over(byType.orderBy(col("ts"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("ts", expr(s"${T0}L + CAST(rn - 1 AS BIGINT) * (${Span}L div n)"))
      val types = spread.select("event_type").distinct() // bounded: enum-sized
        .collect().map(_.getString(0)).sorted
      require(types.nonEmpty, "lake-gate premise: events must be non-empty")
      val writer = new LakeWriter(s, root)
      types.foreach { t =>
        val rep = writer.writeTicks(
          spread.filter(col("event_type") === t)
            .select(col("ts"), col("event_id"), col("user_id"), col("value")),
          SeriesKey("X", "M", t.toUpperCase, "ticks", "tick"))
        require(rep.rows > 0 && rep.monotonic,
          s"lake-gate premise: series $t must be non-empty with unique ordered ts " +
            s"(rows=${rep.rows}, monotonic=${rep.monotonic})")
      }
    }

  private def countParquet(root: String, mustContain: String*): Long =
    graft.core.PathWalk.walk(Paths.get(root))(_.count { p =>
      val str = p.toString
      str.endsWith(".parquet") && mustContain.forall(str.contains)
    }.toLong)

  /** Execute `df` once so scan metrics exist, then pin the file count:
    * pruned ≤ the target months' files, and strictly fewer than the
    * unpruned scan would read.
    */
  private def requirePruned(df: DataFrame, name: String,
                            monthFiles: Long, allFiles: Long): DataFrame = {
    df.collect()
    val read = PlanInspect.filesRead(df)
    require(monthFiles >= 1, s"$name premise: target month dir must exist")
    require(read <= monthFiles,
      s"$name: scan opened $read files > the month's $monthFiles — pruning regressed")
    require(read < allFiles,
      s"$name: scan opened $read of $allFiles files — nothing was pruned")
    df
  }

  /** Reader-path pruning (the production `readRange` API): a one-month
    * window over ONE series; `LakeReader` derives the year/month
    * partition bounds from the ts range itself. The oracle replays the
    * re-timestamp arithmetic and the window over the flat table — any
    * row lost at a month boundary, dropped by the merge-write, or
    * leaked from a neighboring month breaks the hash; an unpruned scan
    * breaks the in-query file pin.
    */
  val prunedRangeScan: Q = Q(
    "q82_pruned_range_scan",
    s"""WITH base AS (
       |  SELECT user_id, value, event_type,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |spread AS (
       |  SELECT user_id, value, $T0 + (rn - 1) * ($Span // n) AS st
       |  FROM base WHERE event_type = 'click')
       |SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
       |       COUNT(*) AS n_rows,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       |       MIN(st) AS min_ts, MAX(st) AS max_ts
       |FROM spread
       |WHERE st BETWEEN $JulFrom AND $JulTo
       |GROUP BY user_bucket
       |ORDER BY user_bucket""".stripMargin) { (s, d) =>
    val root = lakeRoot(s, d)
    val agg = new LakeReader(s, root)
      .readRange("X", "CLICK", "ticks", JulFrom, JulTo,
        market = Some("M"), period = Some("tick"))
      .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
      .groupBy("user_bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("value"))).cast("double").as("sum_value"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .orderBy("user_bucket")
    requirePruned(agg, "q82",
      countParquet(root, "symbol=CLICK", "year=2023/month=7/"),
      countParquet(root, "symbol=CLICK"))
  }

  /** Optimizer-rule pruning: the SAME lake read as a bare parquet scan
    * where ONLY `ts BETWEEN` appears in the query — the year/month
    * partition predicates must be derived by `TsPartitionPruning`, as
    * they would be for any ad-hoc DataFrame/SQL query on a cluster. The
    * rule is injected into a SESSION CLONE (shared context, own
    * optimizer), so the caller's session is never mutated and the gate
    * exercises exactly the `spark.sql.extensions` deployment shape.
    */
  val rulePrunedScan: Q = Q(
    "q83_rule_pruned_scan",
    s"""WITH base AS (
       |  SELECT user_id, value, event_type,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |spread AS (
       |  SELECT upper(event_type) AS symbol, value,
       |         $T0 + (rn - 1) * ($Span // n) AS st
       |  FROM base)
       |SELECT symbol,
       |       COUNT(*) AS n_rows,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       |       MIN(st) AS min_ts, MAX(st) AS max_ts
       |FROM spread
       |WHERE st BETWEEN $AugFrom AND $AugTo
       |GROUP BY symbol
       |ORDER BY symbol""".stripMargin) { (s, d) =>
    val root = lakeRoot(s, d)
    val ss = s.newSession()
    ss.experimental.extraOptimizations = Seq(graft.plans.TsPartitionPruning)
    val agg = ss.read.parquet(root)
      .filter(col("ts").between(AugFrom, AugTo))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("value"))).cast("double").as("sum_value"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .orderBy("symbol")
    requirePruned(agg, "q83",
      countParquet(root, "year=2023/month=8/"),
      countParquet(root))
  }

  val all: Seq[Q] = Seq(prunedRangeScan, rulePrunedScan).map(_.gated)
}
