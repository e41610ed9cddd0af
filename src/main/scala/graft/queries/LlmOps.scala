package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{Dedup, SimilaritySearch, TextHash}

/** Oracle-checked queries for the LLM-pipeline operators (BASELINE north
  * star): MinHash-LSH near-dup, SimHash, rolling fingerprints,
  * multimodal binary columns, exact/LSH embedding near-dup. The DuckDB
  * oracle SQL for the hash-based ops is GENERATED from the same
  * constants as the Spark plan (graft.llm.TextHash), so the comparison
  * is bit-exact.
  */
object LlmOps {

  /** The shared q36 pipeline CTEs (shingle-hash sets → signatures →
    * banding → verified pairs) — also the edge source for q55's
    * clustering oracle.
    */
  private[queries] val duckLshBaseCtes: String =
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id, ${TextHash.duckShingleHashes(3)} AS hs
       |  FROM documents
       |  WHERE len(string_split(text,' ')) >= 3),
       |sig AS MATERIALIZED (
       |  SELECT doc_id, hs, ${TextHash.duckMinhashFromHashes("hs", 16)} AS sig FROM sh),
       |banded AS MATERIALIZED (
       |  SELECT doc_id, UNNEST(${TextHash.duckBandKeys("sig", 8, 2)}) AS key,
       |         UNNEST(generate_series(0, 7)) AS band
       |  FROM sig)""".stripMargin

  private[queries] val duckLshCtes: String =
    s"""$duckLshBaseCtes,
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |    AND a.doc_id < b.doc_id),
       |verified AS MATERIALIZED (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.hs, sb.hs)) * 1.0 /
       |      len(list_distinct(list_concat(sa.hs, sb.hs))) AS jaccard
       |  FROM cand JOIN sh sa ON doc_a = sa.doc_id JOIN sh sb ON doc_b = sb.doc_id)""".stripMargin

  /** MinHash-LSH candidate pairs with exact-Jaccard verification
    * (16 perms, 8 bands × 2 rows). The oracle replays the identical
    * signature arithmetic in DuckDB.
    */
  val minhashLsh: Q = Q(
    "q36_minhash_lsh",
    s"""WITH $duckLshCtes
       |SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
       |FROM verified
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    Dedup.minhashLsh(Tables.documents(s, d))
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash 32-bit fingerprint per document — generated-oracle parity
    * of the bitwise voting arithmetic.
    */
  val simhashFp: Q = Q(
    "q37_simhash",
    s"""SELECT doc_id, ${TextHash.duckSimhash32("string_split(text, ' ')")} AS simhash
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.simhash(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Rolling polynomial document fingerprint (order-sensitive). */
  val docFingerprint: Q = Q(
    "q38_doc_fingerprint",
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text, ' '),
       |    t -> ${TextHash.duckMd5Long("t")} % ${TextHash.P})),
       |    (acc, h) -> (acc * 31 + h) % ${TextHash.P}) AS fingerprint
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.fingerprints(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** Multimodal binary-column ops: documents' text treated as an opaque
    * blob — byte length, sha256, md5-derived stub dimensions. The
    * decode itself is stubbed (no codecs in-container); the binary
    * plumbing is what's verified.
    */
  val multimodalMeta: Q = Q(
    "q39_multimodal_meta",
    s"""SELECT doc_id,
       |  octet_length(encode(text)) AS byte_len,
       |  sha256(text) AS content_sha,
       |  (${TextHash.duckMd5Int("text")} % 1920)::BIGINT AS stub_width,
       |  (${TextHash.duckMd5Int("text")} % 1080)::BIGINT AS stub_height
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).cast("long").as("byte_len"),
        sha2(col("text"), 256).as("content_sha"),
        (TextHash.md5Int(col("text")) % 1920).as("stub_width"),
        (TextHash.md5Int(col("text")) % 1080).as("stub_height"))
      .orderBy("doc_id")
  }

  /** Embedding near-duplicate pairs (cosine ≥ 0.2) via the PRODUCTION
    * path: hyperplane-LSH bucket equi-join — same-bucket candidates
    * only, no cross product, the plan that survives 100×. The oracle
    * replays the identical bucketing (generated from the same
    * md5-derived hyperplanes) and the identical cosine arithmetic, so
    * the hash compare is bit-exact. The exact O(N²) form
    * (SimilaritySearch.cosinePairsExact) is the recall oracle in
    * SimilaritySpec only — deliberately NOT a declared query.
    */
  val embeddingNearDup: Q = Q(
    "q43_embedding_near_dup",
    s"""WITH b AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    ${SimilaritySearch.duckBucketSql()} AS bucket,
      |    sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
      |    list_aggregate(list_transform(list_zip(a.embedding, c.embedding),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
      |    / (a.nrm * c.nrm) AS sim
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
      |SELECT id_a, id_b, ROUND(sim, 6) AS sim FROM pairs
      |WHERE sim >= 0.2
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    SimilaritySearch.cosinePairsLsh(Tables.embeddings(s, d), 0.2)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding near-duplicate pairs via the ADAPTIVE-planes production
    * path (q80): same operator as q43 but planes come from
    * `adaptivePlanes(count)` — the form that survives corpus growth
    * (bucket count scales with N; fixed planes=8 is 256 buckets
    * forever). The oracle derives the plane count from `COUNT(*)` with
    * the same integer formula and guards each plane's bit by
    * `h < planes`, so ONE static SQL replays the exact bucketing at any
    * SF — at the driver's sf0.01 (500 vectors) this runs 4 planes, at
    * sf0.1 (2 000) 5, at sf1 (20 000) 9: the gate exercises plane
    * GROWTH, not a fixed bucketing. (targetBucket, minPlanes) are
    * pinned to (64, 4) here so growth is visible at gate scale — the
    * production defaults (1024, 8) would floor every gate SF to 8
    * planes; the operator under test is identical either way.
    * maxPlanes=24 in the oracle text bounds exactness at 64·2^24 ≈ 10^9
    * vectors — far beyond any oracle-replayable fixture.
    */
  val embeddingNearDupAuto: Q = Q(
    "q80_embedding_near_dup_auto",
    s"""WITH p AS (SELECT ${SimilaritySearch.duckAdaptivePlanesSql("embeddings", targetBucket = 64, minPlanes = 4)} AS planes),
      |b AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    ${SimilaritySearch.duckBucketSqlAdaptive()} AS bucket,
      |    sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      |  FROM embeddings, p),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
      |    list_aggregate(list_transform(list_zip(a.embedding, c.embedding),
      |      q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), 'sum')
      |    / (a.nrm * c.nrm) AS sim
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
      |SELECT id_a, id_b, ROUND(sim, 6) AS sim FROM pairs
      |WHERE sim >= 0.2
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    SimilaritySearch.cosinePairsLshAuto(Tables.embeddings(s, d), 0.2,
        targetBucket = 64, minPlanes = 4,
        corpusCount = Some(Tables.rowCount(s, d, "embeddings")))
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Hyperplane-LSH bucket histogram: deterministic md5-derived integer
    * hyperplanes ⇒ identical sign bits in both engines. This verifies
    * the ANN index build; the probe path is covered by recall specs.
    */
  val lshBuckets: Q = Q(
    "q44_lsh_buckets",
    s"""SELECT ${SimilaritySearch.duckBucketSql()} AS bucket, COUNT(*) AS n
       |FROM embeddings
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin) { (s, d) =>
    SimilaritySearch.bucketize(Tables.embeddings(s, d))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** The q55/q59 sub-pipeline: LSH pairs at jaccard ≥ 0.5 → clustering
    * converged within 4 rounds. Each query builds its own — no result
    * is memoized across queries.
    */
  private[queries] def lshClusters(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val pairs = Dedup.minhashLsh(Tables.documents(s, d))
      .filter(col("jaccard") >= 0.5)
    // maxRounds = 4, the oracle's duckClusterCtes(4) depth: if a
    // component ever exceeds the diameter 4 rounds cover, fail loudly
    // (both engines would otherwise agree on identically-wrong
    // half-merged clusters). The probe costs at most one extra round
    // over the tiny (id,label) set.
    Dedup.nearDupClusters(pairs, maxRounds = 4)
  }

  /** Near-dup clustering (the dedup DECISION step): LSH pairs at
    * jaccard ≥ 0.5 → connected components by min-label + pointer-jump
    * rounds, converged within 4 (covers diameter-8 chains) → canonical
    * doc per cluster. The oracle's CTE chain runs exactly 4 rounds, so
    * both engines hold the same fixed point; a deeper chain fails by
    * name instead of differing.
    */
  val nearDupClusters: Q = Q(
    "q55_neardup_clusters",
    s"""WITH $duckLshCtes,
       |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
       |${Dedup.duckClusterCtes(4)}
       |SELECT id AS doc_id, label AS cluster, (id = label) AS is_canonical
       |FROM l4
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    lshClusters(s, d).orderBy("doc_id")
  }

  /** q69's persisted band index, built ONCE per (session, data dir):
    * initLshIndex + appending incremental passes over the "corpus"
    * slice (doc_id % 8 == 1, % 8 == 5, then % 4 in (2,3)) with a FORCED
    * [[Dedup.compactLshIndex]] mid-sequence and another before the
    * gated read — so the oracle-checked q69 pair set proves the index
    * survives compaction mid-append-sequence AND that the probe reads a
    * compacted layout, the same invariance q70 gates for the lake. The
    * first compaction must actually rewrite (each append lands multiple
    * files; `require`d), making a silently-no-op manifest rewrite a red
    * CORRECTNESS row, not a skipped branch. Every later call — including
    * every timed bench pass — runs only the production ingest path: band
    * rows for the NEW batch, equi-join against the persisted index,
    * exact-Jaccard verify on candidates. Temp roots are reaped at JVM
    * exit.
    */
  private def persistedLshRoot(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.SessionTempRoots.of(s, d, "graft_lsh_") { root =>
      Dedup.initLshIndex(s, root)
      val corpus = Tables.documents(s, d)
      // the returned (corpus-internal) pair sets are irrelevant here —
      // run them to completion for the appends. The %4==1 slice is
      // split into TWO appends (%8==1, %8==5 — both non-empty at every
      // driver SF) so each subdir holds ≥2 files however AQE coalesces
      // a single append's output: the forced compaction below can
      // never be a legitimate no-op.
      Dedup.minhashLshIncremental(corpus.filter(col("doc_id") % 8 === 1), root).count()
      Dedup.minhashLshIncremental(corpus.filter(col("doc_id") % 8 === 5), root).count()
      val (before1, after1) = Dedup.compactLshIndex(s, root, targetFiles = 1)
      require(after1 < before1,
        s"q69 premise: mid-sequence index compaction must rewrite ($before1 -> $after1 files)")
      Dedup.minhashLshIncremental(
        corpus.filter(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3), root).count()
      val (before2, after2) = Dedup.compactLshIndex(s, root, targetFiles = 1)
      require(after2 < before2,
        s"q69 premise: pre-probe index compaction must rewrite ($before2 -> $after2 files)")
    }

  /** Incremental ingest dedup (the production pipeline shape): the NEW
    * batch (doc_id % 4 == 0) is deduped against the PERSISTED band index
    * of the existing corpus (doc_id % 4 != 0) without recomputing the
    * corpus — new-vs-index plus new-vs-new verified pairs. The oracle
    * replays the identical band join in DuckDB with the same split; the
    * batch-composability invariant (incremental batches == full rebuild)
    * is spec-proven in IncrementalLshSpec.
    */
  val incrementalMinhash: Q = Q(
    "q69_incremental_minhash",
    s"""WITH $duckLshBaseCtes,
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
       |                  GREATEST(a.doc_id, b.doc_id) AS doc_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 4 = 0 AND a.doc_id <> b.doc_id
       |    AND (b.doc_id % 4 <> 0 OR a.doc_id < b.doc_id)),
       |verified AS MATERIALIZED (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.hs, sb.hs)) * 1.0 /
       |      len(list_distinct(list_concat(sa.hs, sb.hs))) AS jaccard
       |  FROM cand JOIN sh sa ON doc_a = sa.doc_id JOIN sh sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
       |FROM verified
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val root = persistedLshRoot(s, d)
    Dedup.minhashLshIncremental(
      Tables.documents(s, d).filter(col("doc_id") % 4 === 0), root, append = false)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val all: Seq[Q] = Seq(
    minhashLsh, simhashFp, docFingerprint, multimodalMeta,
    embeddingNearDup, embeddingNearDupAuto, lshBuckets, nearDupClusters,
    incrementalMinhash.gated)
}
