package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.TextShingles
import scala.util.chaining._

/** Near-duplicate detection for training-data pipelines (SURVEY §2.10
  * [EXT], BASELINE north star). All plans are banding-join shaped: no
  * cross product ever touches the corpus, so the same plan runs at
  * 100 TB — candidate generation is an equi-join on (band, key), and
  * expensive verification only runs on candidates.
  *
  * Every dedup decision ends in connected components, and the component
  * finder is chosen by the SHAPE of the edge set (the decision table):
  *   - unstructured edges (LSH band pipelines, q55/q59) →
  *     [[nearDupClusters]], min-label propagation to a fixed point;
  *   - edges confined to a block, nodes too (q95, [[SemanticIndex]]'s
  *     per-cluster labels) → [[blockConfinedComponents]], one shuffle
  *     and an in-task union-find per block;
  *   - edges confined, nodes span blocks (q96, q98) → [[bridgeLocalRoots]]
  *     over [[blockConfinedComponents]]' local roots, a union-find over
  *     just the cross-block quotient graph.
  * All three label every node with its component's min id, so on the
  * same edges they are bit-identical wherever their shapes overlap.
  */
object Dedup {

  /** Exact dedup: sha256 text fingerprint, keep min(id) per group
    * (hash-groupBy — one shuffle on the fingerprint).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), sha2(col(textCol), 256).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))

  /** MinHash-LSH candidate pairs, verified with exact Jaccard.
    *
    * shingle(n words) → md5-based minhash signature (numPerms) → split
    * into bands of rowsPerBand → equi-join docs sharing any band key →
    * distinct candidate pairs → exact Jaccard on candidates only.
    *
    * Scale shape: explode is numBands rows/doc; the candidates are a
    * [[PairJoin.self]] on (band index, band key), pinned and hinted as
    * that doc explains, with the band keys unsplit (one block). The sigs
    * checkpoint is byte-tiny, which is exactly the case the pin is for.
    * Verification re-joins the (small) candidate set against per-doc
    * shingle sets.
    */
  def minhashLsh(docs: DataFrame, shingleLen: Int = 3, numPerms: Int = 16,
                 bands: Int = 8, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    requireBandParams(numPerms, bands)
    val hb = lshHashBands(docs, shingleLen, numPerms, bands, idCol, textCol, fan = true)
      .pipe(graft.core.Checkpoints.stable)
    val hashSets = lshHashSets(hb)
    val sigs = lshBandRows(hb)

    // band keys stay unsplit (one block everywhere): N identical docs
    // share every band key, so a hot key is still one join group that
    // emits N²/2 candidates before the dropDuplicates
    val candidates = PairJoin.self(sigs.select(col("doc_id").as("doc"), col("band"), col("key")),
        Seq("band", "key"), "doc", blocked = false)
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

    // exact Jaccard (over hash sets) only on the small candidate set
    val candA = candidates
      .join(hashSets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(hashSets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
    val uni = size(array_union(col("hs_a"), col("hs_b"))).cast("double")
    candA.select(col("doc_a"), col("doc_b"), (inter / uni).as("jaccard"))
  }

  private def requireBandParams(numPerms: Int, bands: Int): Unit =
    require(bands > 0 && numPerms > 0 && numPerms % bands == 0,
      s"numPerms ($numPerms) must be a positive multiple of bands ($bands) — " +
        "bands > numPerms would make every band key empty (an O(N²) cross " +
        "product), and a remainder would silently waste trailing perms")

  /** The distinct 60-bit shingle-HASH set per doc (array<long>,
    * ~8 B/shingle) — shingle strings are never retained or shuffled. It
    * feeds the signature build AND candidate verification (Jaccard over
    * hash sets == Jaccard over string sets under the same hash on both
    * engines); checkpointed so band joins and verify joins reuse one
    * materialization instead of recomputing shingling+md5.
    */
  /** The plan of ONE materialization of (doc_id, shingle-hash set,
    * band-key array), which each caller checkpoints: shingling + md5 +
    * the numPerms-perm signature + banding all run in a single fused
    * pass and checkpoint together — the former
    * hashSets-then-bandRows shape paid TWO sequential materialization
    * actions per pipeline (and kept two block sets alive) for the same
    * data. [[lshHashSets]]/[[lshBandRows]] are views over this: the
    * band explode is a codegen Generate over an 8-element array, cheap
    * to re-run per consumer from checkpoint blocks.
    *
    * `fan=true` floors the scan's parallelism before the shingle kernel
    * (guide §2.5 unsplittable input; identity at scale) — worth one
    * extra local exchange only for FULL-corpus builds where the kernel
    * dominates (minhashLsh: measured −0.3 s at sf0.1); the incremental
    * path passes false because its per-batch inputs are small and the
    * exchange costs more than the kernel saves (measured +0.33 s on the
    * q69 gate).
    */
  private def lshHashBands(docs: DataFrame, shingleLen: Int, numPerms: Int,
                           bands: Int, idCol: String, textCol: String,
                           fan: Boolean): DataFrame =
    (if (fan) graft.core.Scans.fanOut(docs) else docs)
      .select(col(idCol).as("doc_id"),
        graft.functions.ShingleHash64(col(textCol), shingleLen).as("hs"))
      .filter(size(col("hs")) > 0)
      // sig stays a NAMED intermediate: bandKeys references the
      // signature once per band, so inlining the minhash tree into it
      // would duplicate that tree per band key
      .withColumn("sig", TextHash.minhashFromHashes(col("hs"), numPerms))
      .withColumn("bkeys", TextHash.bandKeys(col("sig"), bands, numPerms / bands))
      .select(col("doc_id"), col("hs"), col("bkeys"))

  /** The (doc_id, hs) view of [[lshHashBands]]. */
  private def lshHashSets(hashBands: DataFrame): DataFrame =
    hashBands.select(col("doc_id"), col("hs"))

  /** The exploded (doc_id, band, key) view of [[lshHashBands]] — carries
    * ONLY ids and keys, never the hash sets.
    */
  private def lshBandRows(hashBands: DataFrame): DataFrame =
    hashBands.select(col("doc_id"),
      posexplode(col("bkeys")).as(Seq("band", "key")))

  // ---- persisted LSH band index (incremental ingest dedup) ----
  //
  // Layout under `root` (any Hadoop-visible filesystem — local, HDFS,
  // object store):
  //   meta.json  {"shingle_len":L,"num_perms":P,"bands":B}
  //   bands/     parquet (band int, key string, doc_id long)
  //   hashes/    parquet (doc_id long, hs array<long>)
  // The band table is exactly the join side minhashLsh computes per run;
  // persisting it turns whole-corpus re-dedup (O(corpus) work per batch)
  // into an append-only index: each new batch shuffles only ITS band
  // rows against the index. The shingle-hash sets are persisted too so
  // candidate verification (exact Jaccard) never touches original text.

  private val bandSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType)))

  private val hashSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("hs",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))

  import graft.storage.{IndexFile, IndexManifest, VersionLog}

  private def lshMetaOf(text: String): (Int, Int, Int) = {
    def field(k: String): Int =
      ("\"" + k + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(text)
        .getOrElse(throw new IllegalStateException(s"lsh index meta missing $k"))
        .group(1).toInt
    (field("shingle_len"), field("num_perms"), field("bands"))
  }

  /** Create an empty persisted index: publishes the band-parameter meta
    * document as manifest version 1 — a CAS, so two racing initializers
    * (or an init on an existing index) lose loudly on any FS with an
    * exactly-one-winner publish. Band parameters are immutable for the
    * life of an index (rows banded under different params must never
    * join).
    */
  def initLshIndex(spark: org.apache.spark.sql.SparkSession, root: String,
                   shingleLen: Int = 3, numPerms: Int = 16, bands: Int = 8): Unit = {
    requireBandParams(numPerms, bands)
    if (IndexManifest.exists(root))
      throw new IllegalStateException(
        s"lsh index already exists at $root - band params are immutable")
    IndexManifest.commit(root, adds = Seq.empty,
      metaJson = Some(
        s"""{"shingle_len":$shingleLen,"num_perms":$numPerms,"bands":$bands}"""),
      expectedSeq = 0L)
    ()
  }

  /** Plan over exactly the pinned state's live files of `sub` — no
    * directory listing, no partition inference, and (because commits
    * are atomic manifest publishes) no crash window in which a reader
    * can see half an append.
    */
  private def readLshSub(spark: org.apache.spark.sql.SparkSession, root: String,
                         st: graft.storage.IndexState, sub: String,
                         schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val files = st.files.iterator.filter(_.sub == sub).map(f => s"$root/${f.path}").toSeq
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).option("recursiveFileLookup", "true")
      .parquet(files: _*)
  }

  /** Write a commit payload into a fresh per-writer uuid dir and return
    * its manifest entries; nothing is visible until they are committed.
    */
  private def writeLshFlat(df: DataFrame, root: String, sub: String): Seq[IndexFile] = {
    val uuid = java.util.UUID.randomUUID().toString
    val rel = s"files/$uuid"
    df.write.parquet(s"$root/$rel")
    val local = VersionLog.localPath(root)
    Option(new java.io.File(s"$local/$rel").listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => IndexFile(sub, -1, s"$rel/${f.getName}", f.length()))
  }

  /** Snapshot read of the live band rows (band, key, doc_id); `asOf`
    * pins a published manifest seq — index time travel, the same q71
    * shape [[graft.llm.SemanticIndex.decisionsAsOf]] exposes on the
    * semantic index (valid until [[vacuumLshIndex]] reaps history).
    */
  def lshIndexBands(spark: org.apache.spark.sql.SparkSession, root: String,
                    asOf: Option[Long] = None): DataFrame =
    readLshSub(spark, root, IndexManifest.state(root, asOf), "bands", bandSchema)

  /** Snapshot read of the live hash-set rows (doc_id, hs); `asOf` as in
    * [[lshIndexBands]].
    */
  def lshIndexHashes(spark: org.apache.spark.sql.SparkSession, root: String,
                     asOf: Option[Long] = None): DataFrame =
    readLshSub(spark, root, IndexManifest.state(root, asOf), "hashes", hashSchema)

  /** Latest published manifest seq of an LSH index — the handle a
    * caller pins BEFORE more ingest/compaction lands, to replay reads
    * against via `asOf`.
    */
  def lshIndexSeq(root: String): Long = IndexManifest.currentSeq(root)

  /** Physically reclaim space (checkpoint + drop old versions + delete
    * unreferenced payloads — crashed writers' orphans and compacted-away
    * files). THE one operation that invalidates pinned reads; schedule
    * it like compaction. Returns (data files deleted, log versions
    * deleted).
    */
  def vacuumLshIndex(spark: org.apache.spark.sql.SparkSession,
                     root: String, retain: Int = 0): (Long, Long) =
    graft.storage.SeriesLease.withDirLease(root)(IndexManifest.vacuum(root, retain))

  /** Incremental near-dup: dedup a NEW batch against the persisted index
    * WITHOUT recomputing the corpus — the ingest-pipeline shape (the
    * dedup analog of the T1 watermark resume). Returns verified pairs
    * (doc_a, doc_b, jaccard), ids normalized ascending, covering
    * new-vs-index and new-vs-new; with `append=true` the batch's band
    * rows and hash sets are committed to the index afterwards IN ONE
    * ATOMIC MANIFEST PUBLISH, so incremental(batch1)..incremental(batchN)
    * over a partition of the corpus yields EXACTLY the full-rebuild pair
    * set, each pair once (spec: IncrementalLshSpec).
    *
    * Delivery contract: COMMITTING ingest is IDEMPOTENT on doc id — an
    * id already committed is absorbed (first write wins; revised text
    * under a reused id is NOT picked up), and a fully-replayed batch
    * publishes nothing at all, so at-least-once delivery (a streaming
    * foreachBatch replay, a retry after a crash) commits each doc
    * exactly once. Because bands and hashes land in one commit, there is
    * no partial-commit window: a crash before the publish leaves orphan
    * payload files (invisible; [[vacuumLshIndex]] reaps them) and the
    * retry re-derives the batch — the r16 "duplicate band rows live
    * forever after a bands-landed/hashes-lost retry" storage leak is
    * structurally gone. Dry-runs (`append=false`) stay a pure candidate
    * QUERY: they process the batch whether or not its ids are in the
    * index. Committing appends serialize through the index root's dir
    * lease AND the manifest CAS; an id must still mean the same document
    * everywhere.
    *
    * Scale shape: the work per batch grows with the index, not only
    * with the batch. The band join's b-side is `idxBands ∪ newBands`,
    * repartitioned on every ingest, so every indexed band row is read
    * and shuffled each time; the committing anti-join reads every
    * indexed doc id, and the Jaccard verification joins the candidates
    * against every indexed hash set. Commits only add files,
    * so the index on disk is never rewritten, but it is re-shuffled per
    * batch (measured: a 16× index cost 34× the shuffle bytes; probing
    * the index in place is ROADMAP item 2). Both join sides pin their
    * exchange (explicit numPartitions on the full band key) for the
    * measured byte-based-planner pathology ([[PairJoin]]): a byte-tiny
    * new batch would otherwise broadcast and serialize the bucket-pair
    * evaluation onto the index scan's partitioning.
    */
  def minhashLshIncremental(newDocs: DataFrame, root: String,
                            append: Boolean = true,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    // committing ingests serialize through the index's dir lease (two
    // unserialized appends would each MISS the other batch's cross
    // pairs — a silent under-merge, not a crash); dry-runs are pure
    // reads of a pinned manifest state and take no lease
    if (append)
      graft.storage.SeriesLease.withDirLeaseHandle(root) { h =>
        minhashLshIncrementalBody(newDocs, root, append, idCol, textCol, Some(h))
      }
    else
      minhashLshIncrementalBody(newDocs, root, append, idCol, textCol, None)
  }

  private def minhashLshIncrementalBody(newDocs: DataFrame, root: String,
                                        append: Boolean, idCol: String, textCol: String,
                                        lease: Option[graft.storage.SeriesLease.Handle]): DataFrame = {
    val spark = newDocs.sparkSession
    // state read INSIDE the critical section for committing calls; the
    // commit CAS at st.seq makes any serialization failure loud
    val st = IndexManifest.state(root)
    val (shingleLen, numPerms, bands) = lshMetaOf(st.metaJson)
    val idxBands = readLshSub(spark, root, st, "bands", bandSchema)
    val idxHashes = readLshSub(spark, root, st, "hashes", hashSchema)
    // COMMITTING idempotence: doc ids already committed are ABSORBED
    // (first write wins), keyed on the hashes table. Dry-runs are a
    // pure CANDIDATE QUERY — they process the batch regardless, so
    // probing docs that already live in the index keeps returning their
    // candidates.
    val freshDocs =
      if (!append) newDocs
      else newDocs.join(
        idxHashes.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
    // the batch's row count rides the checkpoint as an observed metric:
    // the commit's emptiness test costs no Spark job of its own
    val (newHb, hm) = graft.core.Observed(
      lshHashBands(freshDocs, shingleLen, numPerms, bands, idCol, textCol, fan = false),
      count(lit(1)).as("n"))(graft.core.Checkpoints.stable)
    val newHashes = lshHashSets(newHb)
    val newBands = lshBandRows(newHb)
      .select(col("band").cast("int").as("band"), col("key"), col("doc_id"))

    val para = spark.sparkContext.defaultParallelism
    val a = newBands.select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .repartition(para, col("band"), col("key"))
    val b = idxBands.withColumn("is_new", lit(false))
      .union(newBands.withColumn("is_new", lit(true)))
      .select(col("doc_id").as("doc_b"), col("band"), col("key"), col("is_new"))
      .repartition(para, col("band"), col("key"))
    // shuffle_hash: the co-partitioned-sides rationale of PairJoin
    val candidates = a.hint("shuffle_hash").join(b, Seq("band", "key"))
      .filter(col("doc_a") =!= col("doc_b"))
      // new-vs-new appears in both orientations — keep one; new-vs-index
      // appears once (a-side is new-only) — keep it whatever the order
      .filter(!col("is_new") || col("doc_a") < col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    val allHashes = idxHashes.union(newHashes)
    val candA = candidates
      .join(allHashes.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(allHashes.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double")
    val uni = size(array_union(col("hs_a"), col("hs_b"))).cast("double")
    val result = candA.select(col("doc_a"), col("doc_b"), (inter / uni).as("jaccard"))

    // a fully-replayed (or shingle-empty) batch commits nothing: replay
    // is a true no-op, not a version bump (a flat write of an empty
    // frame would otherwise stage a schema-only file and publish it)
    if (append && hm.getAs[Long]("n") > 0L) {
      val adds = writeLshFlat(newBands, root, "bands") ++
        writeLshFlat(newHashes, root, "hashes")
      lease.foreach(_.assertOwned()) // loud failure on a stolen lease
      IndexManifest.commit(root, adds = adds, expectedSeq = st.seq)
    }
    result
  }

  /** Compact the persisted LSH index: each incremental batch commits one
    * file set to bands and hashes, so after many batches the probe side
    * of every future dedup is a small-files scan — the same disease
    * `LakeMaintenance.compactSeries` and q70 cure for the lake. Rewrites
    * each sub clustered on the probe key ((band, key) for bands, doc_id
    * for hashes) and sorted within partitions so row groups RLE-compress
    * and min/max prune. `targetFiles` is a FLOOR, not a cap: the rewrite
    * partition count scales with the sub's bytes (~256 MB of compressed
    * input per task, sizes read from the MANIFEST, not a listing) so
    * compacting a corpus-scale index never funnels gigabytes through one
    * sort task — at small scale the output is exactly `targetFiles`
    * files; at 100 TB it is size-proportional large files, which bounds
    * the small-files count just as well (the point of compaction) while
    * every rewrite task sorts a bounded slice.
    *
    * Same single-writer contract as the append path (lease + manifest
    * CAS): run it between batches, not during one. Both subs' rewrites
    * land in ONE atomic publish that removes the replaced files; nothing
    * is renamed, nothing parked, and readers holding the prior seq keep
    * reading the old files until [[vacuumLshIndex]]. Returns
    * (filesBefore, filesAfter) live counts summed over both subs; a
    * no-op (already ≤ target) returns equal counts and publishes
    * nothing.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession, root: String,
                      targetFiles: Int = 4): (Long, Long) = {
    graft.storage.SeriesLease.withDirLeaseHandle(root) { leaseH =>
      val st = IndexManifest.state(root) // fail fast on a non-index dir

      def compactSub(sub: String, schema: org.apache.spark.sql.types.StructType,
                     clusterCols: Seq[String]): (Long, Seq[IndexFile], Seq[IndexFile]) = {
        val files = st.files.filter(_.sub == sub)
        val before = files.length.toLong
        if (before <= targetFiles) return (before, Seq.empty, Seq.empty)
        // ~256 MB of compressed input per rewrite task: bounded sort
        // memory at any index size (see the scaling note in the doc)
        val parts = math.max(targetFiles,
          (files.map(_.bytes).sum / (256L << 20)).toInt + 1)
        if (parts >= before) return (before, Seq.empty, Seq.empty) // already size-proportional
        val rewritten = readLshSub(spark, root, st, sub, schema)
          .repartition(parts, clusterCols.map(col): _*)
          .sortWithinPartitions(clusterCols.map(col): _*)
        (before, writeLshFlat(rewritten, root, sub), files)
      }

      val (b0, bAdds, bRemoves) = compactSub("bands", bandSchema, Seq("band", "key"))
      val (h0, hAdds, hRemoves) = compactSub("hashes", hashSchema, Seq("doc_id"))
      val adds = bAdds ++ hAdds
      val removes = bRemoves ++ hRemoves
      if (adds.nonEmpty || removes.nonEmpty) {
        leaseH.assertOwned() // commit point
        IndexManifest.commit(root, adds = adds, removes = removes, expectedSeq = st.seq)
      }
      (b0 + h0, b0 + h0 - removes.length + adds.length)
    }
  }


  /** SimHash fingerprints: 32-bit per doc over whitespace tokens. Pairs
    * within a Hamming radius are found by joining on byte-bands (any of
    * the 4 bytes equal ⇒ candidate — exact for radius ≤ 3 by pigeonhole
    * when radius < bands).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    // one fused pass: tokenize + md5 + 32 bit-votes per row (no fanOut:
    // the kernel is cheaper than an extra exchange — measured)
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SimHash32Expr(col(textCol)).as("simhash"))

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // 4 byte-bands are pigeonhole-complete ONLY for radius ≤ 3: with 4+
    // differing bits every band can differ and the candidate set silently
    // loses pairs — refuse rather than under-report
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs: 4 byte-bands are exact only for maxHamming <= 3, got $maxHamming")
    // tiny (id + 1 long) and feeds a self-join → materialize once
    val fp = simhash(docs, idCol, textCol).pipe(graft.core.Checkpoints.stable)
    val banded = fp.select(col("doc_id").as("doc"), col("simhash").as("fp"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 8) % 256): _*)).as(Seq("band", "key")))
    // A saturated fingerprint region (a dense corpus can put ~25% of all
    // docs into one 8-bit band value) is a hot (band, key) group, so the
    // pair join is blocked per bucket (PairJoin). Its bucket-count
    // aggregate is tiny at any corpus size (≤ 4·256 rows here,
    // ≤ bands·2^bits in general), so it is broadcast back.
    //
    // Both dedup decisions happen MAP-SIDE on the join output (fp_a and
    // fp_b are already in the row), so the pair stream needs no further
    // shuffle at all:
    //  - hamming filter: xor+popcount cuts the bucket² candidate fan-out
    //    to true near-dups;
    //  - first-matching-band emission: a hamming-0 pair matches all 4
    //    bands and would surface 4×; emitting only from the lowest
    //    matching band makes every pair unique BY CONSTRUCTION, deleting
    //    the dropDuplicates shuffle that previously re-keyed the whole
    //    (multi-band × pairs) stream. At sf1 that shuffle was ~2-4× the
    //    9.5M-pair result.
    val earlierBandMatches = (0 until 3).map { i =>
      // mirror the banding expression exactly so "matches in band i"
      // means "would have joined in band i"
      col("band") > i &&
        (shiftright(col("fp_a"), i * 8) % 256 === shiftright(col("fp_b"), i * 8) % 256)
    }.reduce(_ || _)
    PairJoin.self(banded, Seq("band", "key"), "doc", blocked = true, broadcastCounts = true)
      .withColumn("hamming", TextHash.hamming(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming && !earlierBandMatches)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("hamming"))
  }

  /** Order-sensitive rolling-hash document fingerprint (content identity
    * robust to whitespace normalization choices made upstream).
    */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextHash.rollingFingerprint(split(col(textCol), " ")).as("fingerprint"))

  /** Near-dup CLUSTERS from an unstructured candidate pair set (the LSH
    * band pipelines, q55/q59) — the step that turns pairwise similarity
    * into a dedup decision: connected components by synchronous
    * min-label propagation (label(x) ← min(label(x), min over
    * neighbors)) until a round moves no label, then cluster id =
    * component-min doc id and `is_canonical` marks the kept document.
    *
    * Each round takes the min over three label sources — own, neighbors',
    * and the label OF the current label (pointer jumping) — so r rounds
    * cover chains of length ~2^(r-1), not r: the log-diameter recipe of
    * the published hash-to-min / large-star CC algorithms. Even a
    * 10^9-node path converges in ~31 rounds.
    *
    * `maxRounds` is a premise, not a knob: when the labels after
    * `maxRounds` rounds are not a fixed point, this fails by name
    * instead of returning a half-merged component. The default is a
    * runaway bound; q55/q59 pass 4, the depth of the DuckDB oracle's
    * [[duckClusterCtes]], so whenever they pass both engines hold the
    * same fixed point.
    *
    * Determinism: rounds are synchronous (every term reads the PREVIOUS
    * round's labels), so the result is independent of execution order.
    * Convergence is a filter-count over a round's own checkpoint (see
    * [[propagate]]), probed every 2 rounds — pointer jumping overshoots
    * convergence by at most one no-op round, the labels at exit are
    * identical either way — and once past the bound. Nothing is
    * collected to the driver.
    *
    * Scale shape: edges ≪ corpus (LSH already pruned); each round is one
    * shuffle keyed by doc id over (id,label)+(edge,label)+(label,label)
    * unions; the pointer-jump join is labels-with-labels (tiny both
    * sides); lineage is truncated per round so the plan stays flat.
    */
  def nearDupClusters(pairs: DataFrame, maxRounds: Int = 40,
                      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .union(pairs.select(col(bCol).cast("long").as("x"), col(aCol).cast("long").as("y")))
      .pipe(graft.core.Checkpoints.stable)
    var labels = edges.select(col("x").as("id")).distinct()
      .withColumn("label", col("id"))
    var round = 0
    var moved = 1L
    while (moved > 0) {
      labels = propagate(edges, labels)
      round += 1
      // round maxRounds + 1 is the premise probe: it moves a label only
      // if the labels after maxRounds rounds are not a fixed point
      if (round % 2 == 0 || round > maxRounds)
        moved = labels.filter(col("label") =!= col("prev_label")).count()
      if (moved > 0 && round > maxRounds) throw new IllegalStateException(
        s"nearDupClusters: $moved labels still moving after $maxRounds rounds — " +
          "a component is deeper than this round bound covers")
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster"),
      (col("id") === col("label")).as("is_canonical"))
  }

  /** Connected components of an edge set whose edges are CONFINED to a
    * blocking key — e.g. SemDeDup's within-IVF-cluster pairs, where the
    * candidate join is keyed on the cluster so no edge can straddle two
    * blocks. Components then never span blocks, so ONE shuffle on the
    * block key + an in-task [[UnionFind]] per block computes them — no
    * O(rounds) global propagation.
    *
    * Output: (`block`, `doc_id`, `root`) — one row per (block, node),
    * root = the min id of the node's component within the block, the
    * same canonical rule as [[nearDupClusters]] at convergence, so on
    * the same edges `doc_id → root` is bit-identical to it when nodes
    * are confined too. The block stays on every row for callers that
    * route labels back to block-local storage ([[SemanticIndex]]'s
    * per-cluster label partitions) and for [[bridgeLocalRoots]].
    *
    * Task memory is O(distinct nodes in the block) longs (the union-find
    * parent map); edges STREAM through the group iterator — a block with
    * k(k+1)/2 decomposed pair-rows never materializes its edge list.
    * The block is the same bounded unit the pair join's block
    * decomposition already assumes, so any corpus the pair stage can
    * process, this stage can too.
    */
  def blockConfinedComponents(pairs: DataFrame, blockCol: String,
                              aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col(blockCol).cast("long").as("_1"),
        col(aCol).cast("long").as("_2"), col(bCol).cast("long").as("_3"))
      .as[(Long, Long, Long)]
    // MAP-SIDE CONTRACTION (the two-level CC recipe): a τ-similarity
    // graph in the dense regime carries O(|cluster|²) edges (measured
    // 536 M at sf10), but connectivity per partition is captured by a
    // SPANNING set of ≤ one edge per distinct (block, node). Running
    // the same union-find per input partition first and emitting only
    // (node → partition-local root) collapses the block shuffle from
    // edge-count to node-count rows. ANY spanning subset yields the
    // same components, and the block-level pass still unions by min
    // root, so labels stay bit-identical to the uncontracted plan —
    // partition boundaries cannot affect the result.
    val contracted = edges.mapPartitions { it =>
      val byBlock = scala.collection.mutable.LongMap.empty[UnionFind]
      it.foreach { case (blk, a, b) => byBlock.getOrElseUpdate(blk, new UnionFind).union(a, b) }
      byBlock.iterator.flatMap { case (blk, uf) => uf.roots.map { case (id, r) => (blk, id, r) } }
    }
    contracted
      .groupByKey(_._1)
      .flatMapGroups { (blk, edges) =>
        val uf = new UnionFind
        edges.foreach { case (_, a, b) => uf.union(a, b) }
        uf.roots.map { case (id, r) => (blk, id, r) }
      }
      .toDF("block", "doc_id", "root")
  }

  /** Global components from per-block LOCAL roots (`doc_id`, `root`)
    * — the shape where every EDGE is block-confined but a NODE may sit
    * in several blocks, so components chain across blocks through
    * shared nodes. q96 feeds it [[blockConfinedComponents]] over its
    * multi-probe pairs (each vector joins its nProbe clusters, pairs
    * are generated within a probe cluster); [[SemanticIndex]] feeds it
    * its PERSISTED per-cluster star labels, where the local union-find
    * ran incrementally at ingest time and only this solve remains at
    * read time. Output: (doc_id, cluster = global min-id root,
    * is_canonical).
    *
    * A node in b blocks has b local roots; the QUOTIENT graph links each
    * node's local roots, so it is bounded by Σ(blocks per node − 1),
    * tiny vs the edge set. It is solved by a driver-side [[UnionFind]]
    * when it is broadcast-small (the common case), falling back to
    * [[nearDupClusters]] past `bridgeCollectMax` links. Either way the
    * connectivity iteration runs over cross-block LINKS, never the full
    * edge set (VERDICT r13 What's-wrong #1).
    *
    * Bit-identical to [[nearDupClusters]] on the deduped union of all
    * edges: every local root is the min id of its local component, the
    * global min id m of a component is the min of every local component
    * containing it — hence itself a root and a quotient node — and
    * min-label over the quotient yields exactly m, so both plans label
    * every node with its component's min id.
    */
  def bridgeLocalRoots(local: DataFrame, bridgeCollectMax: Int = 1 << 22): DataFrame = {
    val spark = local.sparkSession
    import spark.implicits._
    // per node: all its local roots, bridged to the node's min root —
    // a node in b blocks contributes b−1 quotient edges
    val rootsPerDoc = local.groupBy(col("doc_id"))
      .agg(min(col("root")).as("r_lo"), collect_set(col("root")).as("roots"))
      .pipe(graft.core.Checkpoints.stable)
    val bridges = rootsPerDoc
      .select(col("r_lo"), explode(col("roots")).as("r"))
      .filter(col("r_lo") < col("r"))
    // broadcast-small fast path (the BloomJoin/SimilaritySearch pattern):
    // bridges hangs off the CHECKPOINTED rootsPerDoc, so take(max+1) is a
    // one-stage scan that pulls at most the bound plus a witness row — a
    // result within the bound IS the full bridge set; one extra row
    // proves overflow and routes to the distributed fixed-point without
    // the driver ever holding the full quotient graph. Under the bound
    // the rows come back as a primitive Dataset[(Long,Long)] (specialized
    // tuples, ~32 B/row ≈ 128 MB at the 4M default — not boxed Rows), and
    // the labels ship back via parallelize + createDataset so a
    // multi-million-row result rides task data, not a LocalRelation
    // embedded (and re-serialized) inside every copy of the logical plan.
    // Labels are bit-identical either way; the win is latency — the
    // fixed-point pays O(rounds) scheduling barriers even on a 10-edge
    // quotient graph (measured 2.3 s at sf0.1).
    val probe: Array[(Long, Long)] =
      bridges.select(col("r_lo"), col("r")).as[(Long, Long)]
        .take(bridgeCollectMax + 1)
    val rootLabels =
      if (probe.length <= bridgeCollectMax) {
        val uf = new UnionFind
        probe.foreach { case (a, b) => uf.union(a, b) }
        val labeled = uf.roots.toArray
        val slices = math.max(1, labeled.length / (1 << 20))
        spark.createDataset(spark.sparkContext.parallelize(labeled.toIndexedSeq, slices))
          .toDF("__root", "__glabel")
      } else
        nearDupClusters(bridges, aCol = "r_lo", bCol = "r")
          .select(col("doc_id").as("__root"), col("cluster").as("__glabel"))
    rootsPerDoc
      .join(rootLabels, col("r_lo") === col("__root"), "left")
      .select(col("doc_id"),
        coalesce(col("__glabel"), col("r_lo")).as("cluster"),
        (col("doc_id") === coalesce(col("__glabel"), col("r_lo"))).as("is_canonical"))
  }

  /** Union-find over long node ids, the one kernel behind every
    * in-memory component solve ([[blockConfinedComponents]]' map-side
    * contraction and per-block pass, [[bridgeLocalRoots]]' driver solve).
    * Union by min root: the root of a merged set is the smaller of the
    * two roots, so the min id is never linked under anything and ends up
    * the root of its whole component. `find` halves paths.
    */
  private final class UnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]

    private def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }

    def union(a: Long, b: Long): Unit = {
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }

    /** Every node with its root. The ids are snapshotted before the
      * finds: path halving mutates the map, which must not race the
      * keys iterator.
      */
    def roots: Iterator[(Long, Long)] = {
      val ids = parent.keysIterator.toArray
      ids.iterator.map(id => (id, find(id)))
    }
  }

  /** One synchronous min-label round: own label, neighbors' labels, and
    * the label of the current label (pointer jump) — all read from the
    * PREVIOUS round, so the result is execution-order independent.
    * Checkpointed: constant-depth lineage regardless of round count.
    *
    * Output carries `prev_label` (the id's label BEFORE this round)
    * through the same shuffle — the own-label branch contributes it
    * exactly once per id, the other two branches contribute null, and
    * `max` picks the one non-null — so convergence detection is a
    * filter over this round's checkpoint, not a join of two rounds.
    */
  private def propagate(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nullPrev = lit(null).cast("long").as("prev_label")
    val viaNeighbor = edges
      .join(labels.select(col("id").as("y"), col("label")), Seq("y"))
      .select(col("x").as("id"), col("label"), nullPrev)
    // pointer jump: label(x) <- label(label(x)); every label is a node
    // id present in `labels`, so the join never drops rows
    val viaPointer = labels.as("a")
      .join(labels.select(col("id").as("lid"), col("label").as("plabel")).as("b"),
        col("a.label") === col("b.lid"))
      .select(col("a.id").as("id"), col("plabel").as("label"), nullPrev)
    labels.select(col("id"), col("label"), col("label").as("prev_label"))
      .union(viaNeighbor).union(viaPointer)
      .groupBy("id").agg(min("label").as("label"), max("prev_label").as("prev_label"))
      .pipe(graft.core.Checkpoints.stable)
  }

  /** DuckDB: `rounds` synchronous min-label + pointer-jump iterations
    * over an `edges(doc_a, doc_b)` CTE — identical arithmetic to
    * [[nearDupClusters]] (same three label sources per round). Returns
    * the chained CTE text ending in a relation `lN(id, label)`.
    */
  def duckClusterCtes(rounds: Int): String = {
    val base =
      """edgesu AS MATERIALIZED (
        |  SELECT doc_a AS x, doc_b AS y FROM edges
        |  UNION ALL SELECT doc_b AS x, doc_a AS y FROM edges),
        |l0 AS MATERIALIZED (SELECT DISTINCT x AS id, x AS label FROM edgesu)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT id, MIN(label) AS label FROM (
         |    SELECT id, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.x AS id, l.label FROM edgesu e JOIN l${i - 1} l ON l.id = e.y
         |    UNION ALL
         |    SELECT a.id, b.label FROM l${i - 1} a JOIN l${i - 1} b ON b.id = a.label)
         |  GROUP BY id)""".stripMargin
    }
    (base +: iters).mkString(",\n")
  }
}
