package graft.core

import java.io.RandomAccessFile
import java.nio.file.Files

import graft.SparkSpec

/** The one session factory's conf set, pinned as literals: `graft.Bench`
  * runs exactly the set below, `graft.Verify` the same plus the periodic
  * GC, and the specs' shared session the same but for the two sizing
  * keys. A deliberate conf change shows here as a one-line diff.
  */
class SessionsSpec extends SparkSpec {

  private val sizing = Set("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")

  /** An input dir of two sparse files: the biggest is 40 MB (> 32 MB, so
    * 8 MB splits) and together they hold 240 MB (3 × 64 MB of input).
    */
  private lazy val inputDir: String = {
    val dir = Files.createTempDirectory("sessions_input")
    for ((name, mb) <- Seq("a.parquet" -> 40L, "b.parquet" -> 200L)) {
      val f = new RandomAccessFile(dir.resolve(name).toFile, "rw")
      try f.setLength(mb * 1024 * 1024) finally f.close()
    }
    dir.toString
  }

  test("the factory's conf set is Bench's key for key, and Verify's plus the periodic GC") {
    // graft.Bench's session: master, then each .config in order
    val bench = Map(
      "spark.master" -> "local[2]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "8388608",
      "spark.cleaner.periodicGC.interval" -> "1min")
    // graft.Verify's session, before it was built here
    val verify = Map(
      "spark.master" -> "local[2]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "8388608")
    val built = Sessions.settings(inputDir, 2)
    assert(built.map(_._1).distinct.size == built.size, s"a key is set twice: $built")
    assert(built.toMap == bench)
    assert(built.toSet -- verify.toSet == Set("spark.cleaner.periodicGC.interval" -> "1min"))
    assert(verify.toSet.subsetOf(built.toSet))
  }

  test("the shared spec session is the Bench session but for the two sizing keys") {
    val shared = Sessions.settings("", 4).toMap
    val bench = Sessions.settings(inputDir, 4).toMap
    assert(shared.keySet == bench.keySet)
    assert(shared.filterNot(kv => bench.get(kv._1).contains(kv._2)).keySet.subsetOf(sizing))
    // with no input dir the sizing rules give the cores and Spark's 128 MB
    assert(shared("spark.sql.shuffle.partitions") == "4")
    assert(shared("spark.sql.files.maxPartitionBytes") == "134217728")
    for ((k, v) <- shared) assert(spark.conf.get(k) == v, k)
    // the keys the old spec session also set: Spark's own defaults
    // (static overwrite: writes that need dynamic mode ask for it per write)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "STATIC")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.parquet.compression.codec") == "snappy")
  }
}
