package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Scan-parallelism helpers. */
object Scans {

  /** Parallelism floor for kernel-heavy scans — the guide's "input skew /
    * unsplittable file" fix (one huge gzip / single-row-group parquet):
    * a single-row-group file scans as ONE task no matter the split
    * config, so a per-row kernel downstream (shingling, minhash, simhash,
    * vector math) runs single-threaded while the rest of the box idles —
    * measured at sf0.1: q35's shingle+collect stage was 1.63 s in one
    * task with 31 cores idle.
    *
    * When the scan plans fewer partitions than the session's cores,
    * redistribute rows round-robin to one partition per core BEFORE the
    * kernel; when the input already carries >= cores splits (any
    * at-scale table: TB inputs split into thousands of tasks), this is
    * the IDENTITY — no shuffle is ever added at scale, so the helper is
    * scale-adaptive by construction, not a local-mode constant.
    *
    * Only correct where downstream results are partition-independent
    * (row-local kernels, keyed joins/windows, integer/decimal
    * aggregates — the call sites here). Do NOT use above an
    * order-sensitive double fold.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Materialize a PROVABLY-SMALL DataFrame (caller-bounded rows — e.g.
    * a k-row centroid table whose k the caller already collects and
    * broadcasts) to the driver and re-plan it as a local relation.
    * Compared to a localCheckpoint this cuts lineage the same way but:
    * every later `.collect()` short-circuits to zero Spark jobs (the
    * IVF kernels' broadcast build), and no block-manager state is left
    * to reap. A join that broadcasts the relation is NOT free: under
    * AQE the broadcast is its own query stage and runs one Spark job,
    * so a caller after zero jobs reads the collected rows on the driver
    * instead of joining against them. Values are identical — collect
    * changes representation, not content. Callers MUST bound the size;
    * this is the broadcastCentroids boundedness class, not a
    * general-purpose cache.
    */
  def localizeSmall(df: DataFrame,
                    maxLocalBytes: Long = 8L << 20): DataFrame =
    localRows(df.sparkSession, df.collect(), df.schema, maxLocalBytes)

  /** Driver-held `rows` as a frame, by [[localizeSmall]]'s byte rule:
    * a local relation when their MEASURED size is under
    * `maxLocalBytes`, a parallelized RDD-backed frame otherwise.
    */
  def localRows(spark: SparkSession, rows: Array[Row], schema: StructType,
                maxLocalBytes: Long = 8L << 20): DataFrame =
    // A LocalRelation's values are re-serialized into every plan copy
    // that references it (and shipped with every task closure built
    // over it), so embedding is only cheap under a few MB. Past the
    // bound the rows become a parallelized RDD-backed frame instead —
    // the lineage cut and the values are identical, the plan holds an
    // RDD reference instead of the payload, and nothing is recomputed.
    // The caller still owns the collect-safety bound (rows small enough
    // to hold on the driver at all).
    if (org.apache.spark.util.SizeEstimator.estimate(rows) <= maxLocalBytes)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    else
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq,
          math.max(1, math.min(rows.length,
            spark.sparkContext.defaultParallelism))),
        schema)
}
