package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * `events.ts` is schema-on-read (the reference guarantees only that a `ts`
  * column exists — dl-datalake `storage/writer.py:162-164`; physical encoding
  * drifts with the writer): parquet TIMESTAMP(NANOS) arrives as a LONG of
  * epoch-nanoseconds via `spark.sql.legacy.parquet.nanosAsLong` (set once
  * at session build — [[graft.core.Sessions.settings]]), while
  * TIMESTAMP(MICROS)/TIMESTAMP_NTZ (pandas-written) arrives as a timestamp
  * type. [[events]] normalizes both to the same canonical LONG epoch-ns
  * column so downstream µs arithmetic ([[nsToUs]]) is encoding-independent.
  * DuckDB oracle equivalents use `epoch_us(ts)`, which is likewise
  * encoding-independent.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact row count of a testdata parquet from its file FOOTERS — a
    * driver-side metadata read (guide §6), equal to `count()` by the
    * format's contract (every footer records its file's row count).
    * For plans that only need the corpus size as a Scala value (the
    * adaptive-K / adaptive-planes derivations) this replaces a full
    * Spark count() action per execution with a few footer reads.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(conf)
    val statuses =
      if (fs.getFileStatus(path).isDirectory)
        fs.listStatus(path).filter(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet"))
      else Array(fs.getFileStatus(path))
    statuses.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** events with `ts` normalized to LONG epoch-nanoseconds, whatever the
    * file's physical encoding (see class doc). µs-typed files multiply by
    * 1000 exactly (epoch-µs ≈ 1.7e15, ×1000 ≪ Long.MaxValue); session TZ is
    * pinned UTC so NTZ wall-clock == UTC instant, matching the oracle.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTsNs(t(spark, dir, "events"))

  /** Schema-adaptive `ts` → LONG epoch-ns normalization (SURVEY §2.8 F1). */
  def normalizeTsNs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df // TIMESTAMP(NANOS) file read via nanosAsLong
    case TimestampType | TimestampNTZType =>
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    case other =>
      throw new IllegalArgumentException(
        s"events.ts must be a timestamp or epoch-ns long, got $other")
  }

  /** Exact money/measure arithmetic: cast to DECIMAL(18,2) before summing so
    * results are order-independent and hash-stable vs the DuckDB oracle.
    */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(18, 2))

  /** epoch-ns column → epoch-micros (integer `div`; plain `/` would go
    * through DOUBLE and lose precision above 2^53 ≈ 104 days of nanos).
    */
  def nsToUs(colName: String): org.apache.spark.sql.Column =
    expr(s"`$colName` div 1000")
}
