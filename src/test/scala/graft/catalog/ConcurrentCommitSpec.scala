package graft.catalog

import graft.SparkSpec
import graft.model.ManifestEntry
import graft.storage.VersionLog
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Stress main for the cross-PROCESS commit race (no Spark, no locks):
  * publishes `count` versions, each holding `{tag}{i}`, into `logDir`
  * through the same log production commits use — blind appends
  * (`append`) or CAS commits at the current seq + 1 that retry on a lost
  * CAS (`cas`). Run as a forked JVM by ConcurrentCommitSpec — flock
  * would be process-local here, so passing proves the publish itself is
  * the synchronization.
  */
object ClaimStress {
  def main(args: Array[String]): Unit = {
    val Array(logDir, countStr, tag, implName, mode) = args
    val impl: VersionLog.PublishPrimitive = implName match {
      case "link" => VersionLog.PosixLinkPublish
      case "claim" => VersionLog.ClaimRenamePublish
      case other => throw new IllegalArgumentException(s"unknown impl $other")
    }
    val log = new VersionLog(Paths.get(logDir), "", 20, ".parquet", impl)
    (1 to countStr.toInt).foreach { i =>
      val write = (f: Path) => Files.write(f, s"$tag$i".getBytes): Unit
      mode match {
        case "append" => log.append(write)
        case "cas" =>
          def lost = try { log.cas(log.current)(write); false }
            catch { case _: VersionLog.ConcurrentCommitException => true }
          while (lost) ()
        case other => throw new IllegalArgumentException(s"unknown mode $other")
      }
    }
  }
}

/** The r5-verdict catalog-lock fix, proven at both contention scopes:
  * the commit point is an atomic create-exclusive link, so writers that
  * share NOTHING (separate JVM processes — advisory flock wouldn't even
  * be attempted by the log's publish) still produce a gapless,
  * duplicate-free seq, and full-stack concurrent addEntries in one
  * session lose no writes.
  */
class ConcurrentCommitSpec extends SparkSpec {

  private def seqsIn(logDir: String): Seq[Long] =
    Files.list(Paths.get(logDir)).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.endsWith(".parquet") => s.stripSuffix(".parquet").toLong }
      .toSeq.sorted

  /** Two forked writers, 50 versions each in `mode`: the log must hold
    * seqs 1..100, each with its own writer's content (none overwritten).
    */
  private def raceProcesses(impl: String, mode: String): Unit = {
    val logDir = Files.createTempDirectory(s"claimrace-$impl-$mode").toString
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    def spawn(tag: String) = new ProcessBuilder(
      java, "-cp", sys.props("java.class.path"),
      "graft.catalog.ClaimStress", logDir, "50", tag, impl, mode)
      .inheritIO().start()
    val (p1, p2) = (spawn("a"), spawn("b"))
    assert(p1.waitFor() == 0 && p2.waitFor() == 0)
    val seqs = seqsIn(logDir)
    assert(seqs == (1L to 100L), s"expected gapless 1..100, got ${seqs.take(5)}...${seqs.takeRight(5)} (n=${seqs.size})")
    val contents = seqs.map(s => new String(Files.readAllBytes(Paths.get(logDir, f"$s%020d.parquet"))))
    assert(contents.toSet == (1 to 50).flatMap(i => Seq(s"a$i", s"b$i")).toSet,
      "a version was overwritten or lost")
  }

  // the race must hold for EVERY primitive behind the seam — the POSIX
  // link(2) default and the link-free claim+atomic-rename impl (the
  // HDFS/no-hardlink shape)
  for (impl <- Seq("link", "claim")) {
    test(s"two writer PROCESSES interleave into a gapless duplicate-free sequence [$impl]") {
      raceProcesses(impl, "append")
    }
    test(s"two writer PROCESSES CAS-commit at current + 1 into a gapless sequence, none overwritten [$impl]") {
      raceProcesses(impl, "cas")
    }
  }

  test("ClaimRenamePublish end-to-end: a catalog on the link-free primitive behaves identically") {
    val root = Files.createTempDirectory("catclaim").toString
    val cat = new ManifestCatalog(spark, root, VersionLog.ClaimRenamePublish)
    def entry(p: String, v: String) = ManifestEntry(
      exchange = "ex", market = "m", symbol = "s", path = p, `type` = "raw",
      time_from = 0L, time_to = 1L, version = v, checksum = "c",
      created_at = 0L, script_git_hash = "g", metadata_json = "{}")
    cat.addEntry(entry("p1", "1"))
    cat.addEntry(entry("p1", "2"))
    cat.addEntry(entry("p2", "1"))
    val snap = cat.snapshot().select("path", "version").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(snap == Map("p1" -> "2", "p2" -> "1"))
    assert(cat.currentSeq() == 3L)
  }

  test("publishExclusive drives any PublishPrimitive (object-store conditional-PUT shape)") {
    // a fake primitive with conditional-PUT semantics: an in-memory
    // name set, tryPublish wins iff the name is free. Models S3
    // If-None-Match: * — proving the retry loop needs nothing from
    // POSIX (no links, no flock), only the exactly-one-winner contract.
    val taken = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val puts = new java.util.concurrent.atomic.AtomicInteger
    val fake = new VersionLog.PublishPrimitive {
      override def tryPublish(staged: Path, target: Path): Boolean = {
        puts.incrementAndGet(); taken.add(target.getFileName.toString)
      }
      override def names(dir: Path): Seq[String] = taken.asScala.toSeq
    }
    val dummy = Files.createTempFile("pubseam", ".parquet")
    val log = new VersionLog(Paths.get("/ignored"), "", 20, ".parquet", fake)
    val threads = (1 to 4).map(_ => new Thread(() =>
      (1 to 25).foreach(_ => log.publish(dummy))))
    threads.foreach(_.start()); threads.foreach(_.join())
    val seqs = taken.asScala.map(_.stripSuffix(".parquet").toLong).toSeq.sorted
    assert(seqs == (1L to 100L), s"expected gapless 1..100, got n=${seqs.size}")
    // losers retried rather than clobbered: put attempts >= 100 wins
    assert(puts.get >= 100)
  }

  test("concurrent addEntries from two threads: no lost writes, distinct seqs") {
    val root = Files.createTempDirectory("catrace").toString
    val cat1 = new ManifestCatalog(spark, root)
    val cat2 = new ManifestCatalog(spark, root)
    def entry(p: String) = ManifestEntry(
      exchange = "ex", market = "m", symbol = "s", path = p, `type` = "raw",
      time_from = 0L, time_to = 1L, version = "1", checksum = "c",
      created_at = 0L, script_git_hash = "g", metadata_json = "{}")
    val t1 = new Thread(() => (1 to 10).foreach(i => cat1.addEntry(entry(s"a$i"))))
    val t2 = new Thread(() => (1 to 10).foreach(i => cat2.addEntry(entry(s"b$i"))))
    t1.start(); t2.start(); t1.join(); t2.join()
    val snap = cat1.snapshot().select("path").collect().map(_.getString(0)).toSet
    assert(snap == ((1 to 10).map(i => s"a$i") ++ (1 to 10).map(i => s"b$i")).toSet,
      s"lost writes: ${snap.size} of 20 paths survive")
    val logDir = s"$root/_manifest/log"
    assert(seqsIn(logDir) == (1L to 20L))
  }
}
