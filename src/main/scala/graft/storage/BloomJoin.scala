package graft.storage

import java.io.ByteArrayOutputStream

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.BloomMightContain

/** Bloom-pruned semi/anti joins (semi-join reduction): the classic
  * distributed-engine move for "new rows vs an already-ingested corpus"
  * when the corpus key-set is too big to broadcast as a hash relation
  * but its BLOOM FILTER is not (1e9 keys ≈ 0.9 GB at 3% fpp vs tens of
  * GB for the exact set).
  *
  * Why it matters at 100 TB: a plain `left_anti`/`left_semi` against a
  * non-broadcastable build side sort-merge-joins — BOTH sides shuffle in
  * full, and the probe side is the 100 TB one. With the bloom:
  *   - semi join: `fpp·N + matches` probe rows reach the exchange — the
  *     scan-side filter drops everything the filter proves absent;
  *   - anti join: rows the filter proves absent ARE the answer for free
  *     (no false negatives ⇒ not-in-bloom is definitely not-in-corpus)
  *     and bypass the join entirely; only the `fpp·N + matches` maybe
  *     set goes through the exact anti join to kill false positives.
  * Either way the exchange shrinks from N rows to the maybe set; the
  * extra full scan the anti shape costs is columnar, pushed-down local
  * IO — orders cheaper than the network exchange it replaces. Result is
  * EXACTLY the plain join's (the exact pass removes every fp).
  *
  * This composes with Spark's own runtime bloom pushdown
  * (`spark.sql.optimizer.runtime.bloomFilter.*`), which only fires for
  * selective CREATION-side filters inside one query; here the filter is
  * an artifact built from an arbitrary corpus expression and reusable
  * across queries/batches (build once per ingest cycle, probe every
  * micro-batch).
  */
object BloomJoin {

  /** Distributed bloom build over a LONG key column: per-partition
    * filters merged on a tree (`treeAggregate` — merge depth log(parts),
    * never a driver-side funnel of every partition's filter at once),
    * then broadcast serialized.
    */
  def buildBroadcast(keys: DataFrame, key: String,
                     expectedItems: Long, fpp: Double): Broadcast[Array[Byte]] =
    keys.sparkSession.sparkContext.broadcast(
      buildBytes(keys, key, expectedItems, fpp))

  /** Serialized form of the distributed build (for persistence/union). */
  def buildBytes(keys: DataFrame, key: String,
                 expectedItems: Long, fpp: Double): Array[Byte] = {
    val rows = keys.select(col(key).cast(LongType)).na.drop().rdd
    val filter = rows.treeAggregate(BloomFilter.create(expectedItems, fpp))(
      (f, r) => { f.putLong(r.getLong(0)); f },
      (a, b) => a.mergeInPlace(b))
    val bos = new ByteArrayOutputStream()
    filter.writeTo(bos)
    bos.toByteArray
  }

  /** Probe column: true iff `key` MIGHT be in the filter (definitely
    * absent when false).
    */
  def mightContain(key: Column, bloom: Broadcast[Array[Byte]]): Column =
    Bridge.column(BloomMightContain(Bridge.expression(key.cast(LongType)), bloom))

  /** `big LEFT SEMI JOIN small ON big(key) = small(key)`, with the bloom
    * pruning the probe side before the exchange.
    */
  def semiJoin(big: DataFrame, small: DataFrame, key: String,
               bloom: Broadcast[Array[Byte]]): DataFrame =
    big.filter(mightContain(col(key), bloom))
      .join(small.select(col(key)), Seq(key), "left_semi")

  // ---- persisted incremental artifact ------------------------------------
  //
  // The crawl-dedup loop's filter is a LAKE ARTIFACT, not a per-query
  // throwaway: built once over the ingested corpus, probed by every new
  // batch, then UNIONED (bloom union = bitwise OR — mergeable like the
  // q69 band index or a q92 HLL sketch) with the batch's own filter and
  // re-published. Per ingest cycle the cost is O(new batch) plus one
  // fixed-size artifact write — the corpus is never rescanned.
  //
  // Versioning: a [[VersionLog]] of `bloom.{seq:06d}.bin` versions,
  // committed by blind append; readers take the highest seq. Single
  // incremental writer per artifact by contract (same as the LSH index):
  // concurrent publishers each win a distinct seq, but each must union
  // FROM the seq it read, so serialize ingest cycles through the job
  // registry/lease like any other series.
  //
  // Union compatibility: BloomFilter union requires identical bit/hash
  // geometry, which `create(expectedItems, fpp)` derives from its
  // arguments — size `expectedItems` for the TARGET corpus once, at
  // init, and reuse it for every batch filter (sizing per batch would
  // make the filters unmergeable; the artifact keeps its geometry for
  // life, like the band params in `Dedup.initLshIndex`).

  private def versions(root: String): VersionLog =
    new VersionLog(java.nio.file.Paths.get(VersionLog.localPath(root)), "bloom.", 6, ".bin")

  /** Publish `bytes` as the next version under `root`; returns its seq. */
  def saveVersion(root: String, bytes: Array[Byte]): Long =
    versions(root).append(java.nio.file.Files.write(_, bytes))

  /** Latest published version under `root`, broadcast for probing. */
  def loadLatest(spark: org.apache.spark.sql.SparkSession,
                 root: String): Option[(Long, Broadcast[Array[Byte]])] = {
    val log = versions(root)
    Some(log.current).filter(_ > 0).map { seq =>
      seq -> spark.sparkContext.broadcast(java.nio.file.Files.readAllBytes(log.path(seq)))
    }
  }

  /** Bitwise union of two serialized filters (throws on geometry
    * mismatch — see the sizing note above).
    */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
    val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val bos = new ByteArrayOutputStream()
    fa.writeTo(bos)
    bos.toByteArray
  }

  /** `big LEFT ANTI JOIN small ON big(key) = small(key)`: definite
    * misses bypass the join; only the maybe set takes the exchange.
    */
  def antiJoin(big: DataFrame, small: DataFrame, key: String,
               bloom: Broadcast[Array[Byte]]): DataFrame = {
    val maybe = mightContain(col(key), bloom)
    // null-key rows: SQL left_anti KEEPS them (null = x never matches),
    // but a bare filter(!maybe) would drop them (null in, null out) —
    // route them through the definite-miss branch explicitly
    big.filter(maybe.isNull || !maybe)
      .unionByName(
        big.filter(maybe === true).join(small.select(col(key)), Seq(key), "left_anti"))
  }
}
