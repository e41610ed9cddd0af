package graft.storage

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** The versioned-manifest commit protocol the persisted indexes publish
  * through (round 17: replaces the directory-rename protocol): atomic
  * single-publish commits, CAS at the writer's base seq, fold-from-
  * checkpoint reads, time travel, and vacuum's orphan reaping.
  */
class IndexManifestSpec extends SparkSpec {

  private def f(sub: String, c: Int, p: String, b: Long = 10L) =
    IndexFile(sub, c, p, b)

  private def touch(root: String, rel: String): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, "x".getBytes("UTF-8")): Unit
  }

  test("fold: adds, removes, meta replacement, latest-action-wins") {
    val root = tmpDir("idxman")
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/a/pc=1/f1.parquet")),
      metaJson = Some("""{"v":1}"""), expectedSeq = 0)
    IndexManifest.commit(root,
      adds = Seq(f("index", 2, "files/b/pc=2/f2.parquet"),
        f("labels", 1, "files/b/pc=1/l1.parquet")),
      expectedSeq = 1)
    IndexManifest.commit(root,
      adds = Seq(f("labels", 1, "files/c/pc=1/l2.parquet")),
      removes = Seq(f("labels", 1, "files/b/pc=1/l1.parquet")),
      metaJson = Some("""{"v":2}"""), expectedSeq = 2)

    val st = IndexManifest.state(root)
    assert(st.seq == 3)
    assert(st.metaJson == """{"v":2}""")
    assert(st.files.map(x => (x.sub, x.cluster, x.path)).toSet == Set(
      ("index", 1, "files/a/pc=1/f1.parquet"),
      ("index", 2, "files/b/pc=2/f2.parquet"),
      ("labels", 1, "files/c/pc=1/l2.parquet")))
  }

  test("CAS: a commit at a stale base seq fails loudly and publishes nothing") {
    val root = tmpDir("idxman_cas")
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/a/f.parquet")),
      metaJson = Some("{}"), expectedSeq = 0)
    // two writers derive from seq 1; the second publish must die
    IndexManifest.commit(root, adds = Seq(f("index", 2, "files/b/f.parquet")),
      expectedSeq = 1)
    val e = intercept[VersionLog.ConcurrentCommitException] {
      IndexManifest.commit(root, adds = Seq(f("index", 3, "files/c/f.parquet")),
        expectedSeq = 1)
    }
    assert(e.getMessage.contains("CAS lost"))
    assert(IndexManifest.currentSeq(root) == 2)
    assert(!IndexManifest.state(root).files.exists(_.path == "files/c/f.parquet"),
      "the losing commit must not be visible")
  }

  test("time travel: state(asOf) is byte-stable while later commits land") {
    val root = tmpDir("idxman_tt")
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/a/f1.parquet")),
      metaJson = Some("""{"gen":1}"""), expectedSeq = 0)
    val pin = IndexManifest.currentSeq(root)
    val pinned = IndexManifest.state(root, asOf = Some(pin))
    // a retrain-shaped commit: replace everything including meta
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/b/f2.parquet")),
      removes = Seq(f("index", 1, "files/a/f1.parquet")),
      metaJson = Some("""{"gen":2}"""), expectedSeq = pin)
    assert(IndexManifest.state(root, asOf = Some(pin)) == pinned,
      "the pinned view changed under a later commit")
    assert(IndexManifest.state(root).metaJson == """{"gen":2}""")
    assert(IndexManifest.state(root).files.map(_.path) == Seq("files/b/f2.parquet"))
  }

  test("checkpoint: folds start at the snapshot; history before it still readable until vacuum") {
    val root = tmpDir("idxman_ck")
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/a/f1.parquet")),
      metaJson = Some("{}"), expectedSeq = 0)
    IndexManifest.commit(root, adds = Seq(f("index", 2, "files/a/f2.parquet")),
      expectedSeq = 1)
    val before = IndexManifest.state(root)
    val ck = IndexManifest.checkpoint(root)
    assert(ck == 3)
    val after = IndexManifest.state(root)
    assert(after.files.toSet == before.files.toSet && after.metaJson == before.metaJson)
    // pre-checkpoint pins still fold (no physical deletion yet)
    assert(IndexManifest.state(root, asOf = Some(1)).files.map(_.path) ==
      Seq("files/a/f1.parquet"))
    // and a post-checkpoint delta applies on top of the snapshot
    IndexManifest.commit(root, adds = Seq(f("index", 3, "files/b/f3.parquet")),
      expectedSeq = 3)
    assert(IndexManifest.state(root).files.length == 3)
  }

  test("vacuum: reaps orphan payloads and old log versions, keeps every live file") {
    val root = tmpDir("idxman_vac")
    touch(root, "files/a/f1.parquet")
    touch(root, "files/b/f2.parquet")
    touch(root, "files/orphan/dead.parquet") // a crashed writer's payload
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/a/f1.parquet")),
      metaJson = Some("{}"), expectedSeq = 0)
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/b/f2.parquet")),
      removes = Seq(f("index", 1, "files/a/f1.parquet")), expectedSeq = 1)
    val (data, logs) = IndexManifest.vacuum(root)
    assert(data == 2, s"must reap the orphan and the removed file, got $data")
    assert(logs == 2, s"must reap the two pre-checkpoint log versions, got $logs")
    assert(Files.exists(Paths.get(root, "files/b/f2.parquet")), "live file deleted")
    assert(!Files.exists(Paths.get(root, "files/orphan/dead.parquet")))
    assert(!Files.exists(Paths.get(root, "files/a")), "empty payload dir not reaped")
    val st = IndexManifest.state(root)
    assert(st.files.map(_.path) == Seq("files/b/f2.parquet"))
    // the index keeps committing normally after a vacuum
    IndexManifest.commit(root, adds = Seq(f("index", 2, "files/c/f3.parquet")),
      expectedSeq = st.seq)
    assert(IndexManifest.state(root).files.length == 2)
  }

  test("vacuum(retain): the retention window stays foldable, history before it dies") {
    val root = tmpDir("idxman_vac_ret")
    (1 to 5).foreach { i => touch(root, s"files/u$i/f$i.parquet") }
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/u1/f1.parquet")),
      metaJson = Some("{}"), expectedSeq = 0)                             // seq 1
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/u2/f2.parquet")),
      expectedSeq = 1)                                                    // seq 2
    IndexManifest.commit(root, adds = Seq(f("index", 2, "files/u3/f3.parquet")),
      expectedSeq = 2)                                                    // seq 3
    IndexManifest.checkpoint(root)                                        // seq 4
    // f2 is REMOVED at seq 5: dead at head, but a seq-4 fold references
    // it — retention must keep it on disk
    IndexManifest.commit(root, adds = Seq(f("index", 1, "files/u4/f4.parquet")),
      removes = Seq(f("index", 1, "files/u2/f2.parquet")), expectedSeq = 4) // seq 5
    IndexManifest.commit(root, adds = Seq(f("index", 2, "files/u5/f5.parquet")),
      expectedSeq = 5)                                                    // seq 6
    touch(root, "files/orphan/dead.parquet")

    // the vacuum checkpoint lands at 7; retain=2 keeps seqs 5..7
    // foldable, which needs the log back to the seq-4 checkpoint
    IndexManifest.vacuum(root, retain = 2)
    assert(!Files.exists(Paths.get(root, "files/orphan/dead.parquet")),
      "orphans are reaped regardless of retention")
    intercept[Exception](IndexManifest.state(root, asOf = Some(3L)))
    val at5 = IndexManifest.state(root, asOf = Some(5L))
    assert(at5.files.map(_.path).toSet ==
      Set("files/u1/f1.parquet", "files/u3/f3.parquet", "files/u4/f4.parquet"),
      s"mid-window fold broken: ${at5.files.map(_.path)}")
    at5.files.foreach(fl => assert(Files.exists(Paths.get(root, fl.path)),
      s"retained version's file deleted: ${fl.path}"))
    assert(Files.exists(Paths.get(root, "files/u2/f2.parquet")),
      "f2 is dead at head but live in the retained seq-4 fold — must survive")
    assert(IndexManifest.state(root).files.length == 4, "head state wrong")

    // a second vacuum with retain=0 reclaims everything: the window
    // dies, the dead-at-head f2 goes with it
    IndexManifest.vacuum(root)
    assert(!Files.exists(Paths.get(root, "files/u2/f2.parquet")),
      "retain=0 must reclaim the dead mid-window file")
    intercept[Exception](IndexManifest.state(root, asOf = Some(5L)))
    assert(IndexManifest.state(root).files.length == 4,
      "the live set must survive the full vacuum")
  }

  test("golden: a fixed commit, checkpoint and vacuum sequence writes these exact version bytes") {
    val root = tmpDir("idxman_golden")
    val dir = Paths.get(root, "_versions")
    def versions(): Map[String, String] = graft.core.PathWalk.list(dir)(_.map { p =>
      p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8")
    }.toMap)
    val meta = "{\"k\":8,\"tau\":0.35,\"name\":\"é\t\"}" // a real tab, escaped as \t
    val metaLine = """{"k":"meta","json":"{\"k\":8,\"tau\":0.35,\"name\":\"é\t\"}"}""" + "\n"
    val a = """{"k":"file","sub":"index","cluster":3,"path":"files/u1/pc=3/a.parquet","bytes":120,"add":true}""" + "\n"
    val aGone = """{"k":"file","sub":"index","cluster":3,"path":"files/u1/pc=3/a.parquet","bytes":120,"add":false}""" + "\n"
    val b = """{"k":"file","sub":"labels","cluster":-1,"path":"files/u2/b.parquet","bytes":7,"add":true}""" + "\n"
    val c = """{"k":"file","sub":"index","cluster":0,"path":"files/u2/pc=0/c.parquet","bytes":64,"add":true}""" + "\n"
    val ckpt = """{"k":"checkpoint"}""" + "\n"
    touch(root, "files/u1/pc=3/a.parquet")
    touch(root, "files/u2/b.parquet")
    touch(root, "files/u2/pc=0/c.parquet")

    assert(IndexManifest.commit(root, adds = Seq(f("index", 3, "files/u1/pc=3/a.parquet", 120L)),
      metaJson = Some(meta), expectedSeq = 0) == 1)
    assert(IndexManifest.commit(root,
      adds = Seq(f("labels", -1, "files/u2/b.parquet", 7L), f("index", 0, "files/u2/pc=0/c.parquet", 64L)),
      removes = Seq(f("index", 3, "files/u1/pc=3/a.parquet", 120L)), expectedSeq = 1) == 2)
    assert(IndexManifest.checkpoint(root) == 3)
    assert(versions() == Map(
      "00000000000000000001.json" -> (metaLine + a),
      "00000000000000000002.json" -> (aGone + b + c),
      "00000000000000000003.json" -> (ckpt + metaLine + b + c)))

    assert(IndexManifest.vacuum(root) == ((1L, 3L)))
    assert(versions() == Map("00000000000000000004.json" -> (ckpt + metaLine + b + c)))
    assert(!Files.exists(Paths.get(root, "files/u1")))
  }

  test("meta text round-trips through the JSON-line encoding verbatim") {
    val root = tmpDir("idxman_meta")
    val meta = """{"tau":0.35,"iters":1,"k":8,"init_mean_sim":0.9123,""" +
      """"target_cluster_size":1024,"n_probe":2}"""
    IndexManifest.commit(root, adds = Seq.empty, metaJson = Some(meta), expectedSeq = 0)
    assert(IndexManifest.state(root).metaJson == meta)
  }
}
