package graft.llm

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import graft.SparkSpec
import graft.storage.SeriesLease
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forked-JVM ingest worker for the semantic-index race spec: a
  * complete independent engine session running a sequence of
  * [[SemanticIndex.ingest]] batches against an index root it SHARES
  * with a concurrently running sibling process — the q81/q84 unit of
  * concurrency, so no in-process lock can accidentally provide the
  * serialization; only the index's dir lease can.
  */
object SemIndexRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(root, dataDir, which, reportPath) = args
    val s = graft.core.Sessions.builder(4).getOrCreate()
    try {
      val corpus = graft.Tables.embeddings(s, dataDir)
        .select(col("vec_id"), col("embedding"))
      val batches = which match {
        case "A" => Seq(corpus.filter(col("vec_id") % 8 === 1),
          corpus.filter(col("vec_id") % 8 === 5))
        case "B" => Seq(
          corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3),
          corpus.filter(col("vec_id") % 4 === 0))
      }
      val n = batches.map(b => SemanticIndex.ingest(b, root).count()).sum
      Files.write(Paths.get(reportPath), n.toString.getBytes("UTF-8"))
    } finally s.stop()
    System.exit(0)
  }
}

/** Multi-writer discipline for the PERSISTED INDEXES (VERDICT r15
  * missing #2): the lake got SeriesLease + forked-JVM races (q81/q84/
  * q90); the semantic index and the LSH band index relied on a
  * documented single-writer contract. Now every committing ingest/
  * compact/retrain serializes through the index root's dir lease —
  * proven here by racing two REAL JVMs into one semantic index, an
  * in-process ingest-vs-compact grind, and an LSH append race, each
  * required bit-equal to serial execution; a stolen lease must be a
  * loud StolenLeaseException at the commit point.
  */
class IndexLeaseSpec extends SparkSpec {

  private val Tau = 0.35
  private val Dir = "/root/testdata/sf0.01"

  private def corpus = graft.Tables.embeddings(spark, Dir)
    .select(col("vec_id"), col("embedding"))

  private def decisionSet(df: DataFrame): Set[(Long, Int, Boolean)] =
    df.select(col("vec_id"), col("cluster").cast("int"), col("kept"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet

  /** The serial reference: same train slice, same four batches, one
    * process, one at a time.
    */
  private def serialReference(): Set[(Long, Int, Boolean)] = {
    val root = tmpDir("sem_idx_serial")
    SemanticIndex.init(spark, root, corpus.filter(col("vec_id") % 4 =!= 0), Tau)
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 1), root).count()
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 8 === 5), root).count()
    SemanticIndex.ingest(
      corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3), root).count()
    SemanticIndex.ingest(corpus.filter(col("vec_id") % 4 === 0), root).count()
    decisionSet(SemanticIndex.decisions(spark, root))
  }

  test("two real JVMs ingesting concurrently == serial execution, bit-equal") {
    val root = tmpDir("sem_idx_mw")
    SemanticIndex.init(spark, root, corpus.filter(col("vec_id") % 4 =!= 0), Tau)

    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    def spawn(which: String, report: String): Process = {
      val cmd = Seq(javaBin) ++ graft.queries.MultiWriterChild.jdk17AddOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", sys.props("java.class.path"), "graft.llm.SemIndexRaceChild",
        root, Dir, which, report)
      import scala.jdk.CollectionConverters._
      new ProcessBuilder(cmd.asJava)
        .redirectOutput(new java.io.File(s"$root.child$which.out"))
        .redirectErrorStream(true)
        .start()
    }
    val repA = s"$root.repA"; val repB = s"$root.repB"
    val (pA, pB) = (spawn("A", repA), spawn("B", repB))
    val okA = pA.waitFor(300, TimeUnit.SECONDS)
    val okB = pB.waitFor(300, TimeUnit.SECONDS)
    if (!okA) pA.destroyForcibly()
    if (!okB) pB.destroyForcibly()
    assert(okA && okB && pA.exitValue() == 0 && pB.exitValue() == 0,
      s"both writer JVMs must succeed (A=${if (okA) pA.exitValue() else "timeout"}, " +
        s"B=${if (okB) pB.exitValue() else "timeout"}); see $root.child*.out")
    assert(Files.exists(Paths.get(repA)) && Files.exists(Paths.get(repB)),
      "both children must report success")

    assert(decisionSet(SemanticIndex.decisions(spark, root)) == serialReference(),
      "concurrent cross-JVM ingests diverged from serial execution")
  }

  test("ingest racing compact in-process: decisions bit-equal to serial, no thread fails") {
    val root = tmpDir("sem_idx_race")
    SemanticIndex.init(spark, root, corpus.filter(col("vec_id") % 4 =!= 0), Tau)
    val batches = Seq(
      corpus.filter(col("vec_id") % 8 === 1),
      corpus.filter(col("vec_id") % 8 === 5),
      corpus.filter(col("vec_id") % 4 === 2 || col("vec_id") % 4 === 3),
      corpus.filter(col("vec_id") % 4 === 0))

    @volatile var ingestErr: Option[Throwable] = None
    @volatile var compactErr: Option[Throwable] = None
    @volatile var ingesting = true
    var rewrites = 0L
    val w = new Thread(() => {
      try batches.foreach(b => SemanticIndex.ingest(b, root).count())
      catch { case e: Throwable => ingestErr = Some(e) }
      finally ingesting = false
    }, "race-ingest")
    val c = new Thread(() => {
      try while (ingesting) {
        val (b, a) = SemanticIndex.compact(spark, root)
        rewrites += (b - a); Thread.sleep(10)
      } catch { case e: Throwable => compactErr = Some(e) }
    }, "race-compact")
    w.start(); c.start()
    w.join(300000); c.join(300000)
    assert(ingestErr.isEmpty, s"ingest thread failed: $ingestErr")
    assert(compactErr.isEmpty, s"compact thread failed: $compactErr")

    assert(decisionSet(SemanticIndex.decisions(spark, root)) == serialReference(),
      s"ingest-vs-compact race (rewrote $rewrites files) corrupted decisions")
  }

  test("concurrent LSH band-index appends == serial: no cross-batch pair silently missed") {
    import spark.implicits._
    // 3 groups of near-identical docs split ACROSS the two concurrent
    // batches: unserialized appends would each miss the other's half
    val mk = (id: Long, salt: String) =>
      (id, s"the quick brown fox ${id % 3} jumps over the lazy dog again and again $salt")
    val batch1 = (0L until 12L by 2).map(i => mk(i, "")).toDF("doc_id", "text")
    val batch2 = (1L until 12L by 2).map(i => mk(i, "")).toDF("doc_id", "text")

    def build(tag: String, concurrent: Boolean): Set[String] = {
      val root = tmpDir(s"lsh_lease_$tag")
      Dedup.initLshIndex(spark, root, shingleLen = 5, numPerms = 32, bands = 8)
      if (concurrent) {
        @volatile var err: Option[Throwable] = None
        val ts = Seq(batch1, batch2).zipWithIndex.map { case (b, i) =>
          new Thread(() => {
            try { Dedup.minhashLshIncremental(b, root).count(): Unit }
            catch { case e: Throwable => err = Some(e) }
          }, s"lsh-race-$i")
        }
        ts.foreach(_.start()); ts.foreach(_.join(300000))
        assert(err.isEmpty, s"an LSH append thread failed: $err")
      } else {
        Dedup.minhashLshIncremental(batch1, root).count()
        Dedup.minhashLshIncremental(batch2, root).count()
      }
      // the persisted state decides future dedup: a dry-run probe of a
      // doc near every group must see identical candidates either way
      val probe = Seq(mk(100L, "x")).toDF("doc_id", "text")
      Dedup.minhashLshIncremental(probe, root, append = false)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => s"${r.getLong(0)}-${r.getLong(1)}").toSet
    }
    val serial = build("serial", concurrent = false)
    assert(serial.nonEmpty, "test premise: the probe must find candidates")
    assert(build("conc", concurrent = true) == serial,
      "concurrent appends left different persisted state than serial")
  }

  test("a stolen dir lease is a loud StolenLeaseException at the commit point") {
    val dir = tmpDir("leased_dir")
    var leasePath: java.nio.file.Path = null
    intercept[SeriesLease.StolenLeaseException] {
      SeriesLease.withDirLeaseHandle(dir) { h =>
        leasePath = h.path
        // simulate an operator unlock + re-acquire by another holder
        Files.write(h.path, "pid=0;nonce=thief\n".getBytes("UTF-8"))
        h.assertOwned()
      }
    }
    // the release must NOT delete the thief's lease (that would admit a
    // third writer) — the new owner's file survives the old holder
    assert(Files.exists(leasePath),
      "a stolen release deleted the new owner's lease (lock-file ABA)")
    // once the thief releases, the next acquire is uncontended
    Files.deleteIfExists(leasePath)
    var ran = false
    SeriesLease.withDirLease(dir, timeoutMs = 10000) { ran = true }
    assert(ran)
  }
}
