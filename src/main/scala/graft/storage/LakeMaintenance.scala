package graft.storage

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lake maintenance jobs (SURVEY §7.4 #5): the reference's
  * `daily_offload_flow` is an empty placeholder
  * (`dl-datalake/src/dl_datalake/orchestration/flows.py:127-130`) —
  * this is that job done properly.
  */
final class LakeMaintenance(spark: SparkSession, root: String) {

  private val partCols = LakeIO.PartitionCols

  /** Compact a series' month partitions to one ts-sorted file each:
    * read → repartition on the partition key → sortWithinPartitions(ts)
    * → dynamic overwrite. Only directories with more than `maxFiles`
    * files are rewritten (touch nothing that's already compact);
    * `maxFiles = 0` forces a full re-sort/rewrite of every month (the
    * re-cluster mode, and the q84 race gate's maximal-conflict mode).
    * Returns the number of (year, month) partitions rewritten.
    *
    * Safe against a LIVE writer on the same series: the read-overwrite
    * section holds the series' [[SeriesLease]], so an ingest flush
    * landing mid-compaction can neither be overwritten by this
    * rewrite's stale snapshot nor read this rewrite's half-committed
    * directories (gated end-to-end by q84, which races this method
    * against a forked-JVM ingest loop).
    */
  def compactSeries(key: SeriesKey, maxFiles: Int = 1): Long =
    SeriesLease.withLeaseHandle(root, key)(compactSeriesLocked(key, maxFiles, _))

  private def compactSeriesLocked(key: SeriesKey, maxFiles: Int,
                                  lease: SeriesLease.Handle): Long = {
    val k = key.sanitized

    // which (year, month) dirs have too many files? Counted from a
    // driver listing of the series' own directory (no Spark job), with
    // the same committed-data-file rule the merge read uses
    val dir = new org.apache.hadoop.fs.Path(LakeIO.seriesDir(root, k))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val byPartition = LakeIO.dataFiles(fs, dir).flatMap { f =>
      val month = f.getPath.getParent
      val year = month.getParent
      for {
        y <- partitionValue(year, "year")
        m <- partitionValue(month, "month")
      } yield (y, m)
    }.toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
      .filter(_._2 > maxFiles).keys.toSeq

    if (byPartition.isEmpty) return 0L

    val monthPred = byPartition
      .map { case (y, m) => col("year") === y && col("month") === m }
      .reduce(_ || _)

    // scoped to the series' own directory (LakeIO.readSeriesScoped):
    // listing + mergeSchema footer reads are O(series), not O(lake),
    // and a sibling writer rewriting ANOTHER series can't race this
    // scan. mergeSchema stays on — a schema sampled from one month's
    // file would silently drop columns other months carry
    val scan = LakeIO.readSeriesScoped(spark, root, k) match {
      case Some(d) => d.filter(monthPred)
        .localCheckpoint(true) // the write overwrites what this scan reads
      case None => return 0L
    }
    // rewrite only the fragmented dirs (dynamic partition overwrite);
    // the scan assumed exclusion — re-verify before the commit that
    // would lose a racing write if the lease was stolen
    lease.assertOwned()
    scan
      .repartition(partCols.map(col): _*)
      // partition cols lead so the writer's required ordering is already
      // satisfied and files stay ts-sorted (see LakeWriter.writeOhlc)
      .sortWithinPartitions(partCols.map(col) :+ col("ts"): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic") // never wipe the root
      .option("compression", "snappy")
      .partitionBy(partCols: _*)
      .parquet(root)

    // a compaction invalidates the file-stats entries of every file it
    // rewrote: if this series keeps an index, re-index the new files
    // (O(rewritten files)) and drop the dead entries — under the same
    // lease, so no writer races the refresh. A series without an index
    // pays nothing; a crash between the rewrite and this refresh leaves
    // only UNKNOWN live files, which the advisory contract always reads.
    val seriesDir = LakeIO.seriesDir(root, k)
    val idx = FileStatsIndex.seriesIndexRoot(seriesDir)
    if (FileStatsIndex.exists(spark, idx)) {
      FileStatsIndex.update(spark, seriesDir, idx)
      FileStatsIndex.prune(spark, seriesDir, idx)
    }

    byPartition.length.toLong
  }

  /** The int value of a Hive-style `name=value` directory, if it is one. */
  private def partitionValue(p: org.apache.hadoop.fs.Path, name: String): Option[Int] =
    Option(p).map(_.getName).filter(_.startsWith(name + "="))
      .flatMap(_.drop(name.length + 1).toIntOption)

  /** Physically delete a series' data directory (the reference's
    * `delete` removes files AND manifest rows, `cli.py:83-135`) —
    * callers tombstone the catalog separately. Returns true if the
    * directory existed.
    */
  def deleteSeries(key: SeriesKey): Boolean = {
    val k = key.sanitized
    val dir = LakeIO.seriesDir(root, k)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
  }
}
