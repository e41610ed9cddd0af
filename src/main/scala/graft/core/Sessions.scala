package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory (SURVEY §7.1 core): every session of
  * `graft.Bench`, `graft.Verify`, `graft.Harness`, the CLI, the forked
  * gate children and the specs is built here, with one conf set
  * ([[settings]]):
  *  - UTC session time zone: everything in the lake is epoch-ms UTC;
  *  - AQE on: runtime coalesce and skew handling at scale;
  *  - nanos-as-long: `events.ts` parquet TIMESTAMP(NANOS) reads as a
  *    LONG of epoch-ns ([[graft.Tables.events]]);
  *  - the UI off;
  *  - a periodic GC every minute, so the ContextCleaner drops
  *    unreferenced shuffle, broadcast and RDD state between the many
  *    query executions of one JVM, not only at `Checkpoints.freeAll`;
  *  - shuffle partitions and scan-split bytes sized from the input dir
  *    by [[graft.Bench.autoShufflePartitions]] and
  *    [[graft.Bench.autoSplitBytes]]; with no input dir, the core count
  *    and Spark's 128 MB.
  *
  * The session keeps Spark's static partition overwrite mode: a write
  * that must replace only the partitions it holds says so itself
  * (`LakeWriter.writeOhlc`, `LakeMaintenance`).
  *
  * `SPARK_GRAFT_CONF` (';'-separated k=v spark confs, e.g.
  * "spark.sql.adaptive.enabled=false;spark.sql.shuffle.partitions=8") is
  * an experiment hook applied last, so it overrides the set above. A
  * harness-specific value is a caller-side `.config` on [[builder]].
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The conf set of a local session on `cpus` cores over `inputDir`. */
  def settings(inputDir: String, cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> graft.Bench.autoShufflePartitions(inputDir, cpus),
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> graft.Bench.autoSplitBytes(inputDir),
    "spark.cleaner.periodicGC.interval" -> "1min")

  def builder(cpus: Int, inputDir: String = ""): SparkSession.Builder = {
    val hook = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";"))
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    (settings(inputDir, cpus) ++ hook).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }
  }
}
