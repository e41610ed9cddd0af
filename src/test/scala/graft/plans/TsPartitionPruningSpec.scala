package graft.plans

import graft.SparkSpec
import graft.core.Sessions
import graft.storage.{LakeWriter, SeriesKey}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class TsPartitionPruningSpec extends SparkSpec {

  test("monthKey clamps and converts") {
    assert(TsPartitionPruning.monthKey(0L) == 197001L)
    assert(TsPartitionPruning.monthKey(1675209600000L) == 202302L) // Feb 2023
    assert(TsPartitionPruning.monthKey(Long.MaxValue) == 999912L)
  }

  test("ts range filter alone prunes month partitions via the rule") {
    // a fresh session on the shared context, with extensions applied
    val base = spark // force shared context init
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = Sessions.builder(4).withExtensions(new GraftExtensions).getOrCreate()
    try {
      val root = tmpDir("lake")
      val writer = new LakeWriter(s2, root)
      // Jan–Mar 2023 daily candles
      val data = genCandles(90, startMs = 1672531200000L, periodMs = 86400000L)
      import s2.implicits._
      writer.writeOhlc(data.toDF(), SeriesKey("EX", "SPOT", "SYM", "raw", "1d"))

      // filter ONLY on ts — no year/month mentioned by the user
      val feb = s2.read.parquet(root)
        .filter(col("ts") >= 1675209600000L && col("ts") <= 1677628799999L)
      assert(feb.collect().length == 28) // executes THIS queryExecution
      val plan = feb.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        (plan.contains("(year") || plan.contains("((year")),
        s"derived year/month partition filter missing from plan:\n$plan")
      // and the scan actually opened only the February directory's file
      val scan = feb.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scan.metrics("numFiles").value == 1,
        s"expected 1 file (Feb only), scanned ${scan.metrics("numFiles").value}")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("rule does NOT fire on non-lake tables whose year/month are not partition columns") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = Sessions.builder(4).withExtensions(new GraftExtensions).getOrCreate()
    try {
      import s2.implicits._
      // fiscal calendar: year/month are ts-month + 6 — a UTC-derived
      // conjunct would contradict the stored values and drop rows
      val fiscal = (0 until 12).map { m =>
        val ts = 1672531200000L + m * 2678400000L
        val fm = (m + 6) % 12 + 1
        (ts, 2023 + (m + 6) / 12, fm, s"row$m")
      }
      // flat parquet: ts/year/month are DATA columns, no partition dirs
      val flat = tmpDir("flat")
      fiscal.toDF("ts", "year", "month", "v").write.mode("overwrite").parquet(flat)
      val q = s2.read.parquet(flat)
        .filter(col("ts") >= 1672531200000L && col("ts") <= 1680307200000L)
      assert(q.collect().length == 3, "rule dropped rows on a non-lake parquet table")
      assert(!q.queryExecution.optimizedPlan.toString.contains("* 100"),
        s"derived month-key conjunct on a non-lake table:\n${q.queryExecution.optimizedPlan}")
      // in-memory frame with the same shape: also untouched
      val mem = fiscal.toDF("ts", "year", "month", "v")
        .filter(col("ts") >= 1672531200000L && col("ts") <= 1680307200000L)
      assert(mem.collect().length == 3)
      assert(!mem.queryExecution.optimizedPlan.toString.contains("* 100"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("rule is idempotent (no predicate explosion on re-apply)") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = Sessions.builder(4).withExtensions(new GraftExtensions).getOrCreate()
    try {
      val root = tmpDir("lake")
      import s2.implicits._
      new LakeWriter(s2, root).writeOhlc(genCandles(10).toDF(),
        SeriesKey("EX", "SPOT", "SYM", "raw", "1m"))
      val df = s2.read.parquet(root).filter(col("ts") >= 0L && col("ts") <= 4102444800000L)
      val optimized = df.queryExecution.optimizedPlan
      // exactly one derived >= and one derived <= on the month key
      val s = optimized.toString
      assert(s.sliding("* 100".length).count(_ == "* 100") <= 2, s"rule re-applied:\n$s")
      assert(df.count() == 10)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
