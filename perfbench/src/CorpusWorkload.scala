package perfbench

import graft.llm.{Dedup, SemanticIndex, SimilaritySearch}
import graft.storage.IndexManifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** corpus_index: the ingest → dedup → serve path over persisted indexes.
  *
  * Setup builds the LSH band index and the semantic IVF index over the
  * first half of the generated corpus. Each cycle then ingests the next
  * document batch into the LSH index (collecting its candidate pairs),
  * ingests the next vector batch into the semantic index (collecting its
  * decisions), and serves a top-10 search for a batch of indexed query
  * vectors. Every `CompactEvery` cycles a maintenance op compacts both
  * indexes. Outside the timed region each search is compared against
  * brute-force top-k on the same indexed set (search_recall), and each
  * document batch's candidate pairs against the generator's injected
  * near-dup pairs (llm.near_dup_recall).
  */
final class CorpusWorkload(spark: SparkSession, t: Tracer, seed: Long, data: String,
                           work: String) extends Workload {
  import spark.implicits._

  private val DocBatch = 1000
  private val VecBatch = 400
  private val Queries = 20
  private val K = 10
  private val CompactEvery = 3
  private val WarmCycles = 1
  private val Tau = 0.35

  private val lshRoot = s"$work/lsh_index"
  private val semRoot = s"$work/sem_index"
  private val rnd = new java.util.Random(seed)
  private lazy val docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
  private lazy val vecs = spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
  private lazy val nDocs = docs.count()
  private lazy val nVecs = vecs.count()
  /** (copy, source) near-dup doc pairs the generator injected. */
  private lazy val nearDups: Map[Long, Long] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/truth.json")))
    "\\[(\\d+),\\s*(\\d+)\\]".r.findAllMatchIn(txt).map(m => m.group(1).toLong -> m.group(2).toLong).toMap
  }

  private var docsDone, vecsDone = 0L
  private var recallHit, recallAll, dupFound, dupAll = 0L

  private def docSlice(lo: Long, hi: Long) = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
  private def vecSlice(lo: Long, hi: Long) = vecs.filter(col("vec_id") >= lo && col("vec_id") < hi)

  private def ingestDocs(): () => Option[String] = {
    val (lo, hi) = (docsDone, math.min(docsDone + DocBatch, nDocs))
    val pairs = t.span("llm.lsh_ingest")(
      Dedup.minhashLshIncremental(docSlice(lo, hi), lshRoot).select("doc_a", "doc_b").collect())
    docsDone = hi
    () => {
      val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      val injected = nearDups.filter { case (c, _) => c >= lo && c < hi }
      dupAll += injected.size
      dupFound += injected.count { case (c, s) => found((math.min(c, s), math.max(c, s))) }
      if (hi <= lo) Some(s"doc batch [$lo, $hi) is empty") else None
    }
  }

  private def ingestVecs(): () => Option[String] = {
    val (lo, hi) = (vecsDone, math.min(vecsDone + VecBatch, nVecs))
    val decided = t.span("llm.sem_ingest")(SemanticIndex.ingest(vecSlice(lo, hi), semRoot).count())
    vecsDone = hi
    () => if (decided < hi - lo) Some(s"vec batch [$lo, $hi): $decided decisions") else None
  }

  /** Distinct indexed vectors, collected so the search receives them as
    * a client would send them: a small local batch.
    */
  private def queryBatch(): DataFrame = {
    val ids = Iterator.continually(rnd.nextLong(vecsDone)).distinct.take(Queries).toSeq
    val rows = vecs.filter(col("vec_id").isin(ids: _*)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def search(queries: DataFrame): () => Option[String] = {
    val ann = t.span("llm.search")(SemanticIndex.searchTopK(spark, semRoot, queries, K)
      .select("q_id", "n_id").collect())
    val indexed = vecsDone
    () => {
      val exact = t.span("llm.brute_search")(SimilaritySearch.topK(vecSlice(0, indexed), queries, K)
        .select("q_id", "n_id").collect())
      val annSet = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
      recallAll += exact.length
      recallHit += exact.count(r => annSet((r.getLong(0), r.getLong(1))))
      val perQuery = ann.groupBy(_.getLong(0)).values.map(_.length)
      if (perQuery.exists(_ > K)) Some(s"search returned more than $K neighbours") else None
    }
  }

  private def compact(): () => Option[String] = {
    t.span("llm.index_compact") {
      SemanticIndex.compact(spark, semRoot)
      Dedup.compactLshIndex(spark, lshRoot)
    }
    () => None
  }

  def setup(): Unit = {
    docsDone = nDocs / 2
    vecsDone = nVecs / 2
    Dedup.initLshIndex(spark, lshRoot)
    Dedup.minhashLshIncremental(docSlice(0, docsDone), lshRoot).count()
    SemanticIndex.init(spark, semRoot, vecSlice(0, vecsDone), Tau)
    SemanticIndex.ingest(vecSlice(0, vecsDone), semRoot).count()
    nearDups
    Main.log("indexes built")
    // warm-up: untimed cycles plus a compaction, so the timed window
    // starts with every plan compiled and JIT-warm
    for (_ <- 0 until WarmCycles) { ingestDocs()(); ingestVecs()(); search(queryBatch())() }
    compact()
    recallHit = 0; recallAll = 0; dupFound = 0; dupAll = 0
    graft.core.Checkpoints.freeAll()
  }

  def cycle(c: Int): Seq[Op] = {
    val queries = t.span("bench.input")(queryBatch())
    Seq(Op("doc_ingest", () => ingestDocs()), Op("vec_ingest", () => ingestVecs()),
      Op("search", () => search(queries))) ++
      (if ((c + 1) % CompactEvery == 0) Seq(Op("maintain", () => compact())) else Nil)
  }

  def cycleKinds: Seq[String] = Seq("doc_ingest", "vec_ingest", "search")

  def counts(): Map[String, Double] = Map(
    "search_recall" -> (if (recallAll == 0) 0.0 else recallHit.toDouble / recallAll),
    "llm.near_dup_recall" -> (if (dupAll == 0) 0.0 else dupFound.toDouble / dupAll),
    "storage.lsh_index_files" -> IndexManifest.state(lshRoot).files.size.toDouble,
    "storage.sem_index_files" -> IndexManifest.state(semRoot).files.size.toDouble)
}
