package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted-band-index contract: deduping a stream of batches
  * incrementally against the index must yield EXACTLY the pair set of a
  * whole-corpus rebuild — each pair discovered once, in the batch where
  * its second member arrives.
  */
class IncrementalLshSpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

  test("incremental batches over a partition of the corpus == full rebuild pair set") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val full = pairSet(Dedup.minhashLsh(docs))
    assert(full.nonEmpty, "test premise: the corpus must contain near-dups")

    val root = tmpDir("lsh_idx")
    Dedup.initLshIndex(spark, root)
    val incremental = (0 until 3).map { b =>
      pairSet(Dedup.minhashLshIncremental(docs.filter(col("doc_id") % 3 === b), root))
    }
    // no pair is discovered twice across batches...
    assert(incremental.map(_.size).sum == incremental.reduce(_ union _).size,
      "a pair was discovered in more than one batch")
    // ...and the union is exactly the full rebuild
    assert(incremental.reduce(_ union _) == full,
      s"incremental union ${incremental.map(_.size).sum} pairs != full ${full.size}")
  }

  test("append=false leaves the index untouched (declared-query idempotency)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val root = tmpDir("lsh_idx_ro")
    Dedup.initLshIndex(spark, root)
    Dedup.minhashLshIncremental(docs.filter(col("doc_id") < 30), root).count()
    def bandCount() = Dedup.lshIndexBands(spark, root).count()
    val before = bandCount()
    val r1 = pairSet(Dedup.minhashLshIncremental(docs.filter(col("doc_id") >= 30), root, append = false))
    val r2 = pairSet(Dedup.minhashLshIncremental(docs.filter(col("doc_id") >= 30), root, append = false))
    assert(r1 == r2, "read-only incremental must be deterministic across calls")
    assert(bandCount() == before, "append=false must not grow the index")
  }

  test("initLshIndex is create-exclusive: band params are immutable per index") {
    val root = tmpDir("lsh_idx_excl")
    Dedup.initLshIndex(spark, root)
    intercept[Exception](Dedup.initLshIndex(spark, root, numPerms = 32))
  }

  test("compactLshIndex: bounded file count after 50 batches, dedup results invariant") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").cache()
    val root = tmpDir("lsh_idx_compact")
    Dedup.initLshIndex(spark, root)
    // 50 tiny appends: the realistic ingest cadence that fragments the index
    (0 until 50).foreach { b =>
      Dedup.minhashLshIncremental(docs.filter(col("doc_id") % 50 === b), root).count()
    }
    def files(sub: String): Long =
      graft.storage.IndexManifest.state(root).files.count(_.sub == sub).toLong
    assert(files("bands") >= 50, "test premise: appends fragment the index")
    // the probe a NEXT batch would run, before vs after compaction
    val probe = docs.filter(col("doc_id") % 7 === 0)
    val before = pairSet(Dedup.minhashLshIncremental(probe, root, append = false))
    assert(before.nonEmpty, "test premise: the probe batch must hit the index")
    val (nBefore, nAfter) = Dedup.compactLshIndex(spark, root, targetFiles = 4)
    assert(nBefore >= 100 && nAfter <= 8, s"expected ≤4 live files/sub, got $nBefore -> $nAfter")
    assert(files("bands") <= 4 && files("hashes") <= 4)
    val after = pairSet(Dedup.minhashLshIncremental(probe, root, append = false))
    assert(after == before, "compaction must not change any future dedup result")
    // the manifest protocol never creates rename-protocol siblings
    assert(!new java.io.File(s"$root/bands.trash").exists())
    assert(!new java.io.File(s"$root/bands.compacting").exists())
    // a second compaction is a no-op and publishes no version
    val seq = graft.storage.IndexManifest.currentSeq(root)
    val (n2b, n2a) = Dedup.compactLshIndex(spark, root, targetFiles = 4)
    assert(n2b == n2a)
    assert(graft.storage.IndexManifest.currentSeq(root) == seq,
      "a no-op compaction must not publish a version")
    // the replaced files are orphans until vacuum; reclaim and re-probe
    val (reaped, _) = Dedup.vacuumLshIndex(spark, root)
    assert(reaped >= 50, s"vacuum must reap the compacted-away files, got $reaped")
    assert(pairSet(Dedup.minhashLshIncremental(probe, root, append = false)) == before,
      "vacuum must keep every live file")
    docs.unpersist()
  }

  test("at-least-once delivery: a replayed batch is absorbed; a mid-commit retry lands exactly once") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").cache()
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    val probe = docs.filter(col("doc_id") % 7 === 0)
    // reference: the same sequence, no crash, no replay
    val ref = tmpDir("lsh_idx_alref")
    Dedup.initLshIndex(spark, ref)
    Dedup.minhashLshIncremental(b1, ref).count()
    val p2 = pairSet(Dedup.minhashLshIncremental(b2, ref))
    assert(p2.nonEmpty, "test premise: batch 2 must find pairs")
    val probeRef = pairSet(Dedup.minhashLshIncremental(probe, ref, append = false))

    val root = tmpDir("lsh_idx_al")
    Dedup.initLshIndex(spark, root)
    Dedup.minhashLshIncremental(b1, root).count()
    assert(pairSet(Dedup.minhashLshIncremental(b2, root)) == p2)

    // the replay of a fully committed batch: absorbed — no pairs, no
    // rows, and (the manifest upgrade) NO published version at all
    val hashRows = Dedup.lshIndexHashes(spark, root).count()
    val seq = graft.storage.IndexManifest.currentSeq(root)
    assert(pairSet(Dedup.minhashLshIncremental(b2, root)).isEmpty,
      "a replayed committed batch must be absorbed")
    assert(Dedup.lshIndexHashes(spark, root).count() == hashRows,
      "a replay must not append hash rows")
    assert(graft.storage.IndexManifest.currentSeq(root) == seq,
      "a fully-replayed batch must publish NOTHING (true no-op)")
    docs.unpersist()
  }

  test("crash before publish: nothing visible, the retry re-derives the batch; no band-row leak") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").cache()
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    val probe = docs.filter(col("doc_id") % 7 === 0)
    // reference: the same sequence, no crash
    val ref = tmpDir("lsh_idx_ref")
    Dedup.initLshIndex(spark, ref)
    val p1 = pairSet(Dedup.minhashLshIncremental(b1, ref))
    val p2ref = pairSet(Dedup.minhashLshIncremental(b2, ref))
    assert(p2ref.nonEmpty, "test premise: batch 2 must find cross pairs against batch 1")
    val probeRef = pairSet(Dedup.minhashLshIncremental(probe, ref, append = false))

    val root = tmpDir("lsh_idx_crash")
    Dedup.initLshIndex(spark, root)
    assert(pairSet(Dedup.minhashLshIncremental(b1, root)) == p1)
    val bandRows = Dedup.lshIndexBands(spark, root).count()
    Dedup.minhashLshIncremental(b2, root).count()
    // the ONLY crash window the manifest protocol has: payloads written,
    // the publish (the commit's final step) never landed — reconstructed
    // exactly by deleting the last version file
    val seq = graft.storage.IndexManifest.currentSeq(root)
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      root, "_versions", f"$seq%020d.json")))
    // the crashed batch is invisible in its ENTIRETY: bands and hashes
    // land in one commit, so the r16 "bands landed, hashes lost, retry
    // duplicates band rows forever" leak cannot exist
    assert(Dedup.lshIndexBands(spark, root).count() == bandRows,
      "a crashed commit leaked band rows into reads")
    assert(pairSet(Dedup.minhashLshIncremental(b2, root)) == p2ref,
      "the post-crash retry must re-derive the batch's pairs exactly")
    assert(Dedup.lshIndexBands(spark, root).count() ==
      Dedup.lshIndexBands(spark, ref).count(),
      "the retry must land the batch's band rows exactly once — no duplicates")
    assert(pairSet(Dedup.minhashLshIncremental(probe, root, append = false)) == probeRef,
      "the healed index must serve future probes identically to the no-crash reference")
    // the crashed attempt's payloads are orphans; vacuum reclaims them
    assert(Dedup.vacuumLshIndex(spark, root)._1 >= 1,
      "vacuum must reap the crashed attempt's payload files")
    docs.unpersist()
  }

  test("time travel: a pinned seq reads the same bands while ingest+compaction move past it") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").cache()
    val root = tmpDir("lsh_idx_tt")
    Dedup.initLshIndex(spark, root)
    Dedup.minhashLshIncremental(docs.filter(col("doc_id") % 2 === 0), root).count()
    val pin = Dedup.lshIndexSeq(root)
    def readPin() = Dedup.lshIndexBands(spark, root, asOf = Some(pin))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val want = readPin()
    assert(want.nonEmpty, "test premise: the pinned snapshot holds band rows")
    // the live index moves on: more ingest, then a compaction that
    // rewrites files — neither may disturb the pinned view (compaction
    // only ADDS files and flips the manifest; old files stay on disk
    // until vacuum)
    Dedup.minhashLshIncremental(docs.filter(col("doc_id") % 2 === 1), root).count()
    Dedup.compactLshIndex(spark, root, targetFiles = 1)
    assert(Dedup.lshIndexSeq(root) > pin, "test premise: the live index must have moved")
    assert(readPin() == want, "the pinned read changed under later commits")
    assert(Dedup.lshIndexBands(spark, root).count() > want.size,
      "test premise: the live view must see the second batch")
    // vacuum is THE operation that kills history: the pin dies loudly
    Dedup.vacuumLshIndex(spark, root)
    intercept[Exception](readPin())
    docs.unpersist()
  }

  test("a committing ingest runs in a pinned number of Spark jobs") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val root = tmpDir("lsh_idx_jobs")
    Dedup.initLshIndex(spark, root)
    Dedup.minhashLshIncremental(docs.filter(col("doc_id") % 2 === 0), root).count()
    val seq = graft.storage.IndexManifest.currentSeq(root)
    val (pairs, jobs) = withJobCount(
      Dedup.minhashLshIncremental(docs.filter(col("doc_id") % 2 === 1), root)
        .select("doc_a", "doc_b").collect())
    assert(pairs.nonEmpty, "test premise: the second batch must find pairs")
    assert(graft.storage.IndexManifest.currentSeq(root) == seq + 1)
    // signature checkpoint 2 (existing-id broadcast), writes 2, the
    // candidate collect 5; the emptiness test rides the checkpoint
    assert(jobs == 9, s"committing LSH ingest ran $jobs Spark jobs, pinned at 9")
  }
}
