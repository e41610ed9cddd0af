package graft.storage

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.graftglue.FooterSchemas
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import graft.core.Symbols
import scala.util.chaining._

/** Series coordinates — the reference's partition tuple
  * (`dl-datalake/src/dl_datalake/storage/writer.py:35-46`).
  */
final case class SeriesKey(exchange: String, market: String, symbol: String,
                           `type`: String, period: String) {
  def sanitized: SeriesKey = SeriesKey(
    Symbols.sanitize(exchange), Symbols.sanitize(market),
    Symbols.sanitize(symbol), `type`, period)
}

/** Post-write integrity report (`writer.py:108-132`), computed from the
  * whole series as it is on disk after the write.
  *
  * @param rows       rows in the series
  * @param timeFrom   smallest `ts` in the series (0 when empty)
  * @param timeTo     largest `ts` in the series (0 when empty)
  * @param monotonic  every `ts` in the series is non-null and unique;
  *                   with the writer's one ts-sorted file per month this
  *                   is a strictly increasing read order
  * @param partitions (year, month) directories this write rewrote
  *                   (0 when the series is empty)
  */
final case class WriteReport(rows: Long, timeFrom: Long, timeTo: Long,
                             monotonic: Boolean, partitions: Long)

/** Partitioned-Parquet lake storage (SURVEY §7.1 #4).
  *
  * Layout: Hive-style `exchange=/market=/symbol=/type=/period=/year=/month=`
  * under one root — the Spark-native form of the reference's
  * `{EX}/{MKT}/{SYM}/{type}/{period}/{YYYY}/{MM}/` monthly files
  * (`writer.py:21-46`); key=value dirs give Catalyst partition pruning on
  * every level for free.
  *
  * Scale notes:
  *  - merge-write reads ONLY the months touched by the incoming batch
  *    (month-list pushed into the scan) and dynamic partition overwrite
  *    rewrites only those directories — incremental cost is O(touched
  *    months), not O(table);
  *  - keep-last dedup is a window over (series, ts) ordered by an explicit
  *    `_batch` sequence — well-defined under shuffling (SURVEY §7.4 #2),
  *    where the reference relied on Polars concat order (`writer.py:86-92`);
  *    it shares the write's single exchange on (year, month), so one
  *    shuffle serves both the upsert and the one-file-per-month layout;
  *  - data is sorted by ts within each written file so Parquet row-group
  *    min/max stats stay tight for ts-range pushdown (`writer.py:92`).
  */
/** The one sanctioned way to open the lake root: partition-column TYPE
  * INFERENCE DISABLED, then year/month explicitly cast back to int.
  *
  * Why: inference parses each partition value with the JVM numeric
  * parsers, and `Double.parseDouble("1d")` SUCCEEDS — `d` is a Java
  * double-literal suffix — so a lake holding only `period=1d` series
  * reads that column as DOUBLE 1.0. Every string comparison against
  * "1d" then silently misses, and a maintenance rewrite re-derives the
  * directory as `period=1.0/`, forking the series (caught by q70's
  * compaction-invariance oracle; `period=1m` specs never trip it
  * because `m` isn't a numeric suffix). With inference off every
  * partition value round-trips byte-identical; year/month are re-typed
  * deliberately (pure digits, exact) because both pruning paths compare
  * them as ints. Pruning survives the cast: partition filters are
  * evaluated against the partition spec, cast included.
  */
private[storage] object LakeIO {
  val InferenceConf = "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** One dedicated lake-IO session per caller session (shared
    * SparkContext, own SQL conf) with partition-type inference disabled
    * PERMANENTLY. This replaces the old per-read set/restore window on
    * the caller's shared conf, which two concurrent lake reads on one
    * session could race — one read's restore landing mid-way through the
    * other's partition discovery would turn inference back ON and fork
    * `period=1d` to DOUBLE (the exact bug the conf exists to prevent).
    * A clone's conf is immutable-after-init here, so concurrent reads
    * are trivially safe; builder-level confs (shuffle partitions, split
    * sizes, timezone) live in the SparkConf and are inherited.
    *
    * Size bound: one clone per LIVE caller session — entries whose
    * SparkContext has stopped are reaped on every lookup, and a clone
    * is a conf holder on the shared context, not a second context, so
    * even a session-churning caller holds O(live sessions) small
    * objects, never accumulating JVM-lifetime state.
    */
  private val ioSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  private def ioSession(spark: SparkSession): SparkSession = {
    ioSessions.forEach((k, _) => if (k.sparkContext.isStopped) ioSessions.remove(k): Unit)
    ioSessions.computeIfAbsent(spark, base => {
      val c = base.newSession()
      c.conf.set(InferenceConf, "false")
      c
    })
  }

  def read(spark: SparkSession, root: String, mergeSchema: Boolean = true): DataFrame =
    withMonthInts(ioSession(spark).read
      .option("mergeSchema", mergeSchema.toString).parquet(root))

  /** Read an explicit list of lake leaf files (a stats-skipping
    * survivor list): [[scanFiles]] with the schema of their footers in
    * path order ([[footerSchema]]), so building the frame runs no Spark
    * job.
    */
  def readFiles(spark: SparkSession, root: String, paths: Seq[String],
                mergeSchema: Boolean = true): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = paths.map(p => fs.getFileStatus(new Path(p)))
    scanFiles(spark, root, files, footerSchema(spark, fs, inPathOrder(files), mergeSchema))
  }

  /** The lake's partition columns, outermost first: the series key
    * levels, then the ts month. Every writer lays files out by them.
    */
  val PartitionCols = Seq("exchange", "market", "symbol", "type", "period", "year", "month")

  private val SeriesLevels = PartitionCols.take(5)

  /** The Hive-style directory of one series under `root` (sanitized key). */
  def seriesDir(root: String, k: SeriesKey): String =
    (root +: SeriesLevels.zip(Seq(k.exchange, k.market, k.symbol, k.`type`, k.period))
      .map { case (name, value) => partitionSegment(name, value) }).mkString("/")

  /** `name=value`, with the value escaped as Spark's partitioned write escapes it. */
  private def partitionSegment(name: String, value: String): String =
    s"$name=${ExternalCatalogUtils.escapePathName(value)}"

  private def partitionDir(parent: Path, name: String, value: String): Path =
    new Path(parent, partitionSegment(name, value))

  /** The committed data files under `dir`: non-hidden `*.parquet` with
    * no hidden (`_`/`.` staging) directory between them and `dir`.
    * Writer-crash debris (only `_temporary`/dot staging files) yields
    * nothing, so a tree without data files is an empty series, while a
    * real series whose read failed must propagate the failure.
    */
  def dataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] = {
    val it = fs.listFiles(dir, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus).filter { s =>
      val f = s.getPath
      val name = f.getName
      // a file under a hidden (staging) directory is debris, not data
      val hiddenAncestor = Iterator.iterate(f.getParent)(_.getParent)
        .takeWhile(p => p != null && p.toString.length >= dir.toString.length)
        .exists(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      !name.startsWith("_") && !name.startsWith(".") &&
        name.endsWith(".parquet") && !hiddenAncestor
    }
  }

  /** `files` in path order, the order Spark's schema inference reads them in. */
  def inPathOrder(files: IterableOnce[FileStatus]): Seq[FileStatus] =
    files.iterator.toSeq.sortBy(_.getPath.toString)

  /** The parquet footer of `f`, decoded on the driver from the file's
    * tail, `[footer][4-byte little-endian footer length]["PAR1"]`, as
    * `SemanticIndex.liveRows` does: well under a millisecond a file,
    * against ~13 ms for `ParquetFileReader.open` and a Spark job for
    * schema inference.
    */
  private def footer(fs: FileSystem, f: FileStatus): Footer = {
    val in = fs.open(f.getPath)
    try {
      val tail = new Array[Byte](8)
      if (f.getLen >= 12) in.readFully(f.getLen - 8, tail)
      val n = java.nio.ByteBuffer.wrap(tail).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (new String(tail, 4, 4, "US-ASCII") != "PAR1" || n <= 0 || n > f.getLen - 12)
        throw new java.io.IOException(s"${f.getPath} is not a parquet file (no footer)")
      val bytes = new Array[Byte](n)
      in.readFully(f.getLen - 8 - n, bytes)
      new Footer(f.getPath, new ParquetMetadataConverter().fromParquetMetadata(
        org.apache.parquet.format.Util.readFileMetaData(new java.io.ByteArrayInputStream(bytes))))
    } finally in.close()
  }

  /** The data schema of `files` (in path order) from their footers, as
    * Spark's parquet inference gives it: the first file's, or with
    * `mergeSchema` every file's merged in path order. No Spark job. An
    * unreadable footer or an irreconcilable merge throws.
    */
  def footerSchema(spark: SparkSession, fs: FileSystem, files: Seq[FileStatus],
                   mergeSchema: Boolean): StructType =
    FooterSchemas.merged(ioSession(spark),
      (if (mergeSchema) files else files.take(1)).map(footer(fs, _)))

  /** A scan of exactly `files` with `dataSchema`, partition columns
    * derived from their paths below `root`.
    */
  def scanFiles(spark: SparkSession, root: String, files: Seq[FileStatus],
                dataSchema: StructType): DataFrame =
    withMonthInts(ioSession(spark).read.schema(dataSchema).option("basePath", root)
      .parquet(files.map(_.getPath.toString): _*))

  /** How many partitions [[scanFiles]] of `files` plans: [[partitionCount]]
    * under the lake-IO session's conf.
    */
  def scanPartitions(spark: SparkSession, files: Seq[FileStatus]): Int =
    partitionCount(ioSession(spark), files)

  /** The number of partitions a parquet scan of `files` plans in
    * `session`, by `FileSourceScanExec`'s own steps, without a scan:
    * `FilePartition.maxSplitBytes` over the files (the session's max
    * partition bytes, open cost and minimum partition number), each file
    * cut into splits of at most that size (parquet is splittable),
    * largest first, packed by `FilePartition.getFilePartitions`. No file
    * gives 0.
    */
  def partitionCount(session: SparkSession, files: Seq[FileStatus]): Int = {
    val maxSplit = FilePartition.maxSplitBytes(session,
      Seq(PartitionDirectory(InternalRow.empty, files.toArray)))
    val splits = files.flatMap(f => PartitionedFileUtil.splitFiles(FileStatusWithMetadata(f),
      f.getPath, isSplitable = true, maxSplit, InternalRow.empty)).sortBy(-_.length)
    FilePartition.getFilePartitions(session, splits, maxSplit).size
  }

  /** The frame a scan of no file with `dataSchema` would give: its
    * nullable data columns, then the partition columns (year/month as int).
    */
  def emptyFrame(spark: SparkSession, dataSchema: StructType): DataFrame =
    ioSession(spark).createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(FooterSchemas.nullable(dataSchema).fields ++ PartitionCols.map(c =>
        StructField(c, if (SeriesLevels.contains(c)) StringType else IntegerType))))

  /** The `name=` directories under `dir`: the one for `value`, or all of
    * them when `value` is None.
    */
  private def partitionDirs(fs: FileSystem, dir: Path, name: String,
                            value: Option[String]): Seq[Path] = value match {
    case Some(v) => Seq(partitionDir(dir, name, v)).filter(fs.exists)
    case None if fs.exists(dir) =>
      fs.listStatus(dir).toSeq.collect {
        case s if s.isDirectory && s.getPath.getName.startsWith(s"$name=") => s.getPath
      }
    case None => Nil
  }

  /** The `period=` directories of every series matching the key (values
    * sanitized like [[SeriesKey.sanitized]]); a None level matches any
    * value. Lists nothing outside `exchange=E`.
    */
  def seriesDirs(fs: FileSystem, root: String, exchange: String, market: Option[String],
                 symbol: String, `type`: String, period: Option[String]): Seq[Path] =
    for {
      m <- partitionDirs(fs, partitionDir(new Path(root), "exchange", exchange), "market", market)
      p <- partitionDirs(fs, partitionDir(partitionDir(m, "symbol", symbol), "type", `type`),
        "period", period)
    } yield p

  /** The `year=/month=` directories under a series directory, each with
    * its month key `year * 100 + month`; a value that is not an integer
    * names no month.
    */
  def monthDirs(fs: FileSystem, series: Path): Seq[(Long, Path)] = {
    def value(p: Path) = p.getName.drop(p.getName.indexOf('=') + 1).trim.toIntOption
    for {
      y <- partitionDirs(fs, series, "year", None)
      yv <- value(y).toSeq
      m <- partitionDirs(fs, y, "month", None)
      mv <- value(m).toSeq
    } yield (yv.toLong * 100L + mv, m)
  }

  private def withMonthInts(df: DataFrame): DataFrame =
    df.withColumn("year", col("year").cast("int"))
      .withColumn("month", col("month").cast("int"))

  /** Open ONE series, scoped to its own directory tree: `basePath`
    * keeps the partition columns, but listing, footer reads and scans
    * never leave the series dir.
    *
    * Load-bearing twice over:
    *  - scale: a merge-write that opened the ROOT would read footers
    *    over the ENTIRE lake on every flush — O(lake files) per ingest
    *    chunk instead of O(series);
    *  - concurrency: a sibling writer process rewriting ANOTHER series'
    *    directories mid-listing/footer-read would throw
    *    FileNotFoundException into this writer's merge read (observed
    *    as a flaky q81 child failure). Disjoint series now never read
    *    each other's files, so concurrent per-series writers only
    *    contend on the catalog's create-exclusive commit, by design.
    *
    * The schema comes from the series' footers on the driver
    * ([[footerSchema]]), so opening a series runs no Spark job.
    *
    * Returns None if the series has no committed data file: no
    * directory yet (first write), or a directory that holds only
    * writer-crash debris (a writer killed mid-flush leaving staging or
    * `_temporary` files — precisely the q81 forked-child crash shape),
    * which is an empty series, not a permanently wedged one. A series
    * WITH data files whose footers cannot be read or merged (say,
    * incompatible column types across months) throws: treating it as
    * empty would let the next merge-write take real data for a first
    * write.
    */
  def readSeriesScoped(spark: SparkSession, root: String, k: SeriesKey,
                       mergeSchema: Boolean = true): Option[DataFrame] = {
    val dir = new Path(seriesDir(root, k))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = if (fs.exists(dir)) inPathOrder(dataFiles(fs, dir)) else Nil
    if (files.isEmpty) None
    else Some(withMonthInts(ioSession(spark).read
      .schema(footerSchema(spark, fs, files, mergeSchema))
      .option("basePath", root).parquet(dir.toString)))
  }

  /** Only the `ts` column of one series, read with an explicit schema:
    * no mergeSchema footer job, and no other column leaves the files.
    * None if the series has no directory.
    */
  def readSeriesTs(spark: SparkSession, root: String, k: SeriesKey): Option[DataFrame] = {
    val dir = seriesDir(root, k)
    val hPath = new org.apache.hadoop.fs.Path(dir)
    if (!hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath)) None
    else Some(ioSession(spark).read.schema("ts BIGINT").option("basePath", root)
      .parquet(dir).select("ts"))
  }
}

/** @param statsColumns when non-empty, every merge-write also refreshes
  *   the series' [[FileStatsIndex]] (at [[FileStatsIndex.seriesIndexRoot]])
  *   for these columns — created on first write, then O(new files) per
  *   flush, all under the series lease the write already holds. Readers
  *   opt in via [[LakeReader.readWhere]]; a lake written without stats
  *   simply never skips (the advisory contract).
  */
final class LakeWriter(spark: SparkSession, root: String,
                       statsColumns: Seq[String] = Nil) {

  private val partCols = LakeIO.PartitionCols

  private def withPartitionCols(df: DataFrame, key: SeriesKey): DataFrame = {
    val k = key.sanitized
    // UTC-arithmetic date, NOT year(timestamp_millis(ts)): the latter
    // follows spark.sql.session.timeZone, so a non-UTC session would
    // write partitions offset from the UTC months that BOTH pruning
    // paths (readRange's month listing, TsPartitionPruning) assume, and
    // pruned reads would silently miss month-boundary rows.
    val d = graft.core.MonthKeys.utcDate(col("ts").cast("long"))
    df.withColumn("ts", col("ts").cast("long")) // epoch-ms contract (§1.2)
      .withColumn("exchange", lit(k.exchange))
      .withColumn("market", lit(k.market))
      .withColumn("symbol", lit(k.symbol))
      .withColumn("type", lit(k.`type`))
      .withColumn("period", lit(k.period))
      .withColumn("year", year(d))
      .withColumn("month", month(d))
  }

  /** Merge-write (upsert) a batch into the series: last-wins on `ts`
    * vs rows already in the lake (S6/J3/A5/W2). Requires a `ts` column
    * (epoch-ms), as the reference does (`writer.py:162-164`).
    *
    * The whole read-merge-overwrite-verify section holds the series'
    * [[SeriesLease]]: a compactor (or a second writer on the SAME
    * series) rewriting the months between this write's existing-data
    * scan and its dynamic overwrite would silently lose whichever
    * side committed first (gated by q84). Writers on different series
    * never contend — disjoint lease files (the q81 model).
    */
  def writeOhlc(df: DataFrame, key: SeriesKey): WriteReport =
    SeriesLease.withLeaseHandle(root, key)(writeOhlcLocked(df, key, _))

  private def writeOhlcLocked(df: DataFrame, key: SeriesKey,
                              lease: SeriesLease.Handle): WriteReport = {
    require(df.columns.contains("ts"), "OHLCV dataframe must contain a 'ts' column")
    val k = key.sanitized
    val incoming = withPartitionCols(df, k).withColumn("_batch", lit(1))

    // Months touched by this batch — drives both the existing-data scan
    // and (via dynamic overwrite) which directories get rewritten.
    // Deduplicated per partition and then on the driver: one job, and
    // at most (input partitions × distinct months) rows collected
    val touched = incoming.select(col("year"), col("month"))
      .mapPartitions(_.map(r => (r.getInt(0), r.getInt(1))).toSet.iterator)(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt))
      .collect().toSet

    val existing = readSeries(k) match {
      case Some(cur) =>
        val monthPred = touched.map { case (y, m) => col("year") === y && col("month") === m }
          .reduceOption(_ || _).getOrElse(lit(false))
        // Materialize the touched months (bounded: O(incoming batch span),
        // not O(table)) and truncate lineage — the write below overwrites
        // the very directories this scan reads, which Spark (correctly)
        // refuses inside one plan.
        Some(withPartitionCols(cur, k).filter(monthPred).withColumn("_batch", lit(0))
          .pipe(graft.core.Checkpoints.stable))
      case None => None
    }

    val unioned = existing match {
      case Some(e) => e.unionByName(incoming, allowMissingColumns = true)
      case None => incoming
    }

    // "last" = highest batch; ties WITHIN a batch (same ts twice in one
    // ingest) break on row-content hash — arbitrary but deterministic
    // under any shuffling/rerun (a shuffled row_number tie is not)
    val dataCols = unioned.columns.filterNot(c => c == "_batch").map(col)
    val w = Window.partitionBy(partCols.map(col) :+ col("ts"): _*)
      .orderBy(col("_batch").desc, xxhash64(dataCols: _*).desc)

    // the merge scan above assumed exclusion — re-verify it still holds
    // before the overwrite that would lose the race if it doesn't
    lease.assertOwned()
    // ONE exchange serves both the keep-last window and the file layout:
    // every row of a write belongs to this one series, so hashing on
    // (year, month) satisfies the window's clustering and puts each
    // month in one task, hence one file. Hash on (year, month) only:
    // on a first write the series columns fold to literals, a hash on
    // them no longer satisfies the window, and the planner adds a second
    // exchange on (year, month, ts) that splits a month over files
    unioned
      .repartition(col("year"), col("month"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_batch")
      // partition cols lead the sort so FileFormatWriter's required
      // ordering is already satisfied — otherwise it inserts its own
      // sort on partCols only and the ts order inside files is lost
      .sortWithinPartitions(partCols.map(col) :+ col("ts"): _*)
      .write
      .mode(SaveMode.Overwrite)
      // per-write, not session-level: with the default (static) mode,
      // Overwrite+partitionBy would wipe the entire lake root
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy(partCols: _*)
      .parquet(root)

    // stats refresh rides the same lease as the write it describes: the
    // rewritten months' new files are indexed in one O(new files) pass,
    // and entries for the files the dynamic overwrite just replaced are
    // pruned so the index never accumulates the write history
    if (statsColumns.nonEmpty) {
      val dir = LakeIO.seriesDir(root, k)
      val idx = FileStatsIndex.seriesIndexRoot(dir)
      FileStatsIndex.ensure(spark, idx, statsColumns)
      FileStatsIndex.update(spark, dir, idx)
      FileStatsIndex.prune(spark, dir, idx)
    }

    verifySeries(k, touched.size.toLong)
  }

  /** Tick write path: identical semantics, open schema with required ts
    * (`writer.py:190-232`).
    */
  def writeTicks(df: DataFrame, key: SeriesKey): WriteReport =
    writeOhlc(df, key.copy(`type` = "ticks"))

  private def readSeries(k: SeriesKey): Option[DataFrame] =
    // scoped to the series' own directory tree — O(series) listing and
    // footer reads per merge-write, and immune to sibling writer
    // processes rewriting OTHER series concurrently (see
    // LakeIO.readSeriesScoped)
    LakeIO.readSeriesScoped(spark, root, k).map(_.drop(partCols: _*))

  /** Post-write verify (`writer.py:108-132`) over the WHOLE series as
    * it is on disk: row count, ts bounds, and `monotonic` = every `ts`
    * non-null and unique across the series. With the writer's one
    * ts-sorted file per month, unique ts is exactly a strictly
    * increasing read order.
    *
    * Reads only `ts`, with an explicit schema (no footer job), hashes
    * it so equal values share a partition, sorts each partition and
    * scans it once for adjacent equal values: two jobs, sort memory
    * bounded by spilling, and per-partition summaries collected on the
    * driver.
    */
  private def verifySeries(k: SeriesKey, partitions: Long): WriteReport = {
    val parts = LakeIO.readSeriesTs(spark, root, k).toSeq.flatMap(ts =>
      ts.repartition(col("ts")).sortWithinPartitions(col("ts"))
        .mapPartitions(LakeWriter.summarizeSorted)(LakeWriter.SummaryEncoder)
        .collect())
    val rows = parts.map(_._1).sum
    if (rows == 0L) WriteReport(0L, 0L, 0L, monotonic = true, 0L)
    else WriteReport(rows, parts.map(_._2).min, parts.map(_._3).max,
      monotonic = parts.forall(_._4), partitions)
  }
}

private object LakeWriter {
  /** (rows, min ts, max ts, no null and no repeated ts) of one partition. */
  type Summary = (Long, Long, Long, Boolean)

  val SummaryEncoder: Encoder[Summary] = Encoders.tuple(
    Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaBoolean)

  /** One pass over a ts-sorted partition (nulls first); an empty
    * partition yields no summary, an all-null one has no bounds
    * (Long.MaxValue, Long.MinValue).
    */
  def summarizeSorted(it: Iterator[Row]): Iterator[Summary] =
    if (!it.hasNext) Iterator.empty
    else {
      var n = 0L
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var clean = true
      var seen = false
      while (it.hasNext) {
        val r = it.next()
        n += 1
        if (r.isNullAt(0)) clean = false
        else {
          val t = r.getLong(0)
          if (!seen) { lo = t; seen = true }
          else if (t == hi) clean = false
          hi = t
        }
      }
      Iterator((n, lo, hi, clean))
    }
}

/** Pruned reads over the lake (SURVEY §7.1 #4: S1/P1/O1, S10/O2, U2). */
final class LakeReader(spark: SparkSession, root: String) {

  /** Range scan: the rows of the matched series with `ts` in
    * `[startMs, endMs]`, ordered by ts. Market and period are optional
    * (a wildcard level, reader.py:44).
    *
    * Listing scope: only the matched series' directories,
    * `exchange=E/market=M/symbol=S/type=T/period=P`, every `market=` or
    * `period=` directory when that level is left open, and under them
    * only the `year=/month=` directories the ts range overlaps; the
    * scan reads exactly those months' data files, partition columns
    * from their paths (year/month as int).
    *
    * Schema: from parquet footers decoded on the driver
    * ([[LakeIO.footerSchema]]) — the first in-range file in path order,
    * or with `mergeSchema` every file of the matched series merged in
    * path order. A range with no file is an empty frame with that
    * schema (from the series' first file). A key with no data file at
    * all throws, as [[readWhere]] does for an unknown series.
    *
    * Job budget: none to build the frame (Spark lists more than 32
    * files with a job). When Spark's own split planning puts the
    * in-range files in one scan partition ([[LakeIO.scanPartitions]];
    * under the default confs on two or more cores, one file of at most
    * the 4 MB open cost),
    * the frame is that partition sorted by ts, with no exchange, so an
    * aggregate or window over it plans no shuffle either (a resample or
    * an integrity report collects in one job). A scan of more partitions
    * keeps them and gets a global `orderBy`.
    */
  def readRange(exchange: String, symbol: String, `type`: String,
                startMs: Long, endMs: Long,
                market: Option[String] = None,
                period: Option[String] = None,
                mergeSchema: Boolean = false): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val series = LakeIO.seriesDirs(fs, root, Symbols.sanitize(exchange),
      market.map(Symbols.sanitize), Symbols.sanitize(symbol), `type`, period)
    val (keyLo, keyHi) = (graft.core.MonthKeys.monthKey(startMs),
      graft.core.MonthKeys.monthKey(endMs))
    val inRange = LakeIO.inPathOrder(series.flatMap(LakeIO.monthDirs(fs, _)).iterator
      .collect { case (k, dir) if k >= keyLo && k <= keyHi => dir }
      .flatMap(LakeIO.dataFiles(fs, _)))
    lazy val all = LakeIO.inPathOrder(series.iterator.flatMap(LakeIO.dataFiles(fs, _)))
    if (inRange.isEmpty && all.isEmpty) sys.error("readRange: unknown series " +
      s"$exchange/${market.getOrElse("*")}/$symbol/${`type`}/${period.getOrElse("*")}")
    val schema = LakeIO.footerSchema(spark, fs,
      if (mergeSchema || inRange.isEmpty) all else inRange, mergeSchema)
    if (inRange.isEmpty) LakeIO.emptyFrame(spark, schema)
    else {
      val df = LakeIO.scanFiles(spark, root, inRange, schema)
        .filter(col("ts").between(startMs, endMs))
      if (LakeIO.scanPartitions(spark, inRange) == 1) df.coalesce(1).sortWithinPartitions("ts")
      else df.orderBy("ts")
    }
  }

  /** year/month partition predicate implied by a ts range: prunes month
    * directories before any file is opened. Key arithmetic is Long
    * (year*100 overflows Int for sentinel ranges like (0, Long.MaxValue))
    * and shared with the optimizer rule via [[graft.core.MonthKeys]].
    */
  private def monthBounds(startMs: Long, endMs: Long): Column =
    (col("year").cast("long") * 100L + col("month"))
      .between(graft.core.MonthKeys.monthKey(startMs),
        graft.core.MonthKeys.monthKey(endMs))

  /** Stats-skipping value scan (§2.1 S1 via [[FileStatsIndex]]): prune
    * the series' FILE LIST through the persisted per-file min/max index
    * before any footer is opened, for a predicate on a clustered data
    * column the month dirs cannot prune (ingest seq, id bands — `ts`
    * ranges should use [[readRange]], whose month pruning needs no
    * index). Falls back to a plain filtered series scan when the series
    * has no index (the advisory contract: no stats, no skipping, never
    * an error). Returns the frame plus the skip [[FileStatsIndex.Decision]]
    * so callers (and q94's gate) can audit what was pruned.
    */
  def readWhere(key: SeriesKey, column: String, lo: Long, hi: Long,
                mergeSchema: Boolean = true): (DataFrame, FileStatsIndex.Decision) = {
    val k = key.sanitized
    val dir = LakeIO.seriesDir(root, k)
    val idx = FileStatsIndex.seriesIndexRoot(dir)
    if (FileStatsIndex.exists(spark, idx)) {
      val d = FileStatsIndex.skipFiles(spark, dir, idx, column, lo, hi)
      val df =
        if (d.kept.isEmpty)
          // schema still needed: scoped series read filtered to nothing
          LakeIO.readSeriesScoped(spark, root, k, mergeSchema)
            .getOrElse(sys.error(s"readWhere: unknown series $k"))
            .filter(lit(false))
        else
          LakeIO.readFiles(spark, root, d.kept, mergeSchema)
            .filter(col(column).between(lo, hi))
      (df, d)
    } else {
      val df = LakeIO.readSeriesScoped(spark, root, k, mergeSchema)
        .getOrElse(sys.error(s"readWhere: unknown series $k"))
        .filter(col(column).between(lo, hi))
      (df, FileStatsIndex.Decision(Seq.empty, 0L, 0L))
    }
  }

  /** Composed pruning (VERDICT r13 What's-missing #2): ONE scan whose
    * file list is the INTERSECTION of both pruning dimensions — the
    * stats-index survivors for `column BETWEEN lo AND hi` AND the
    * year/month directories implied by `[startMs, endMs]` — so a query
    * carrying both a ts range and an indexed-column predicate opens
    * only files that pass BOTH, where [[readRange]] alone prunes just
    * months and [[readWhere]] alone prunes just stats. Advisory like
    * every file-pruning path: a survivor path whose month cannot be
    * parsed is kept (read), never dropped; without an index this
    * degrades to exactly [[readRange]]'s month pruning plus the value
    * row-filter. Row-level `ts BETWEEN` and `column BETWEEN` filters
    * apply on top either way (files prune, then row groups, then rows).
    */
  def readWhereInRange(key: SeriesKey, column: String, lo: Long, hi: Long,
                       startMs: Long, endMs: Long,
                       mergeSchema: Boolean = true): (DataFrame, FileStatsIndex.Decision) = {
    val k = key.sanitized
    val dir = LakeIO.seriesDir(root, k)
    val idx = FileStatsIndex.seriesIndexRoot(dir)
    val (keyLo, keyHi) = (graft.core.MonthKeys.monthKey(startMs),
      graft.core.MonthKeys.monthKey(endMs))
    if (FileStatsIndex.exists(spark, idx)) {
      val d = FileStatsIndex.skipFiles(spark, dir, idx, column, lo, hi)
      val MonthDirs = """.*/year=(\d+)/month=(\d+)/.*""".r
      val kept = d.kept.filter {
        case MonthDirs(y, m) =>
          val mk = y.toLong * 100L + m.toLong; mk >= keyLo && mk <= keyHi
        case _ => true // unparseable layout: advisory ⇒ keep
      }
      val both = FileStatsIndex.Decision(kept, d.total, d.total - kept.size)
      val df =
        if (kept.isEmpty)
          LakeIO.readSeriesScoped(spark, root, k, mergeSchema)
            .getOrElse(sys.error(s"readWhereInRange: unknown series $k"))
            .filter(lit(false))
        else
          LakeIO.readFiles(spark, root, kept, mergeSchema)
            .filter(col(column).between(lo, hi) && col("ts").between(startMs, endMs))
      (df, both)
    } else {
      val df = LakeIO.readSeriesScoped(spark, root, k, mergeSchema)
        .getOrElse(sys.error(s"readWhereInRange: unknown series $k"))
        .filter(monthBounds(startMs, endMs) &&
          col(column).between(lo, hi) && col("ts").between(startMs, endMs))
      (df, FileStatsIndex.Decision(Seq.empty, 0L, 0L))
    }
  }

  /** Stable pagination (S10/O2): global order by ts, offset/limit. */
  def page(df: DataFrame, offset: Int, limit: Int): DataFrame =
    df.orderBy("ts").offset(offset).limit(limit)
}
