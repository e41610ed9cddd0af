package graft.storage

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One live data file of a versioned index: `sub` names the logical
  * table inside the root ("index", "labels", "centroids", "bands",
  * "hashes"), `cluster` its partition key (-1 for unpartitioned subs),
  * `path` the file ROOT-RELATIVE (the index survives a root move), and
  * `bytes` its size (compaction sizing reads the manifest, never a
  * directory listing).
  */
final case class IndexFile(sub: String, cluster: Int, path: String, bytes: Long)

/** A pinned view of a versioned index: the manifest sequence it was
  * folded at, the live meta document, and the live file set.
  */
final case class IndexState(seq: Long, metaJson: String, files: Seq[IndexFile])

/** Versioned manifest commits for the persisted incremental indexes
  * (VERDICT r16 next-round #1): a [[VersionLog]] of JSON-line versions
  * under `{root}/_versions/{seq:020d}.json`, committed by CAS.
  *
  * Layout under an index `root`:
  *   - `_versions/` — each version is one COMMIT: JSON lines of file
  *     adds/removes, optionally a new meta document, optionally flagged
  *     as a checkpoint (a full live snapshot, so folds never replay the
  *     whole log).
  *   - `files/<uuid>/...` — commit payloads (parquet), written by each
  *     writer into its own fresh uuid dir BEFORE publishing. A file is
  *     live iff the folded log says so; everything else under `files/`
  *     is an orphan (a crashed writer's unpublished payload) that
  *     [[vacuum]] reaps.
  *
  * One publish makes a batch's index rows visible, swaps the affected
  * clusters' label files and (for a retrain) replaces centroids and
  * meta, all at once: a crash before it leaves nothing visible, a crash
  * after it everything. Readers fold the log at a pinned seq and plan
  * over exactly those files; maintenance only ADDS files and commits, so
  * the one operation that can invalidate a pinned read is [[vacuum]],
  * which deletes. `state(asOf = Some(seq))` is the live set the instant
  * commit `seq` published (the q71 shape, on the indexes).
  *
  * Concurrency: committing writers serialize through the index root's
  * [[SeriesLease]], and every commit is ALSO a CAS at the writer's base
  * seq, so a leasing fault (stolen lease, operator unlock) surfaces as a
  * [[VersionLog.ConcurrentCommitException]] instead of a lost update.
  *
  * Scale bound: the folded state is one entry per live FILE — at 100 TB
  * / 256 MB files that is ~400 k entries, a few tens of MB of JSON —
  * the same "catalog is tiny relative to data" trade as
  * [[graft.catalog.ManifestCatalog]]. [[checkpoint]] keeps folds O(one
  * snapshot + recent deltas) regardless of commit count.
  */
object IndexManifest {

  private val mapper = new ObjectMapper()

  private def log(root: String): VersionLog =
    new VersionLog(Paths.get(VersionLog.localPath(root), "_versions"), "", 20, ".json")

  def exists(root: String): Boolean = currentSeq(root) > 0L

  /** Highest published seq (0 for an absent/empty log). */
  def currentSeq(root: String): Long = log(root).current

  private final case class Line(kind: String, file: Option[IndexFile],
                                add: Boolean, meta: Option[String])

  private def parseLines(p: Path): (Boolean, Seq[Line]) = {
    var checkpoint = false
    val out = Seq.newBuilder[Line]
    Files.readAllLines(p, java.nio.charset.StandardCharsets.UTF_8).asScala.foreach { raw =>
      if (raw.nonEmpty) {
        val n = mapper.readTree(raw)
        n.get("k").asText() match {
          case "checkpoint" => checkpoint = true
          case "meta" => out += Line("meta", None, add = true, Some(n.get("json").asText()))
          case "file" => out += Line("file",
            Some(IndexFile(n.get("sub").asText(), n.get("cluster").asInt(),
              n.get("path").asText(), n.get("bytes").asLong())),
            n.get("add").asBoolean(), None)
          case other => throw new IllegalStateException(s"$p: unknown manifest line kind '$other'")
        }
      }
    }
    (checkpoint, out.result())
  }

  /** Fold the log into the live state as of `asOf` (default: latest).
    * Starts from the newest checkpoint ≤ the pin, replays later deltas;
    * throws if the index has no published version ≤ the pin.
    */
  def state(root: String, asOf: Option[Long] = None): IndexState = {
    val pin = asOf.getOrElse(Long.MaxValue)
    val versions = log(root)
    val seqs = versions.seqs.filter(_ <= pin)
    if (seqs.isEmpty)
      throw new IllegalStateException(
        s"no index manifest at $root" + asOf.map(s => s" as of seq $s").getOrElse("") +
          " (not an index root, or the pin predates init / postdates nothing)")
    // newest checkpoint ≤ pin: parse BACKWARD and stop at the first
    // flagged version, so a checkpointed index folds O(deltas since
    // checkpoint) files — never O(commit history)
    var replay = List.empty[(Long, (Boolean, Seq[Line]))]
    var i = seqs.length - 1
    var foundCkpt = false
    while (i >= 0 && !foundCkpt) {
      val parsed = parseLines(versions.path(seqs(i)))
      replay ::= seqs(i) -> parsed
      foundCkpt = parsed._1
      i -= 1
    }
    var meta = ""
    val live = scala.collection.mutable.LinkedHashMap.empty[(String, String), IndexFile]
    replay.foreach { case (_, (_, lines)) =>
      lines.foreach {
        case Line("meta", _, _, Some(j)) => meta = j
        case Line("file", Some(f), add, _) =>
          if (add) live.put((f.sub, f.path), f) else live.remove((f.sub, f.path))
        case _ => ()
      }
    }
    if (meta.isEmpty)
      throw new IllegalStateException(s"index manifest at $root has no meta document")
    IndexState(seqs.last, meta, live.values.toSeq)
  }

  private def render(adds: Seq[IndexFile], removes: Seq[IndexFile],
                     metaJson: Option[String], checkpoint: Boolean): Array[Byte] = {
    val sb = new StringBuilder
    if (checkpoint) sb.append("""{"k":"checkpoint"}""").append('\n')
    metaJson.foreach { j =>
      val n = mapper.createObjectNode()
      n.put("k", "meta"); n.put("json", j)
      sb.append(mapper.writeValueAsString(n)).append('\n')
    }
    def fileLine(f: IndexFile, add: Boolean): Unit = {
      val n = mapper.createObjectNode()
      n.put("k", "file"); n.put("sub", f.sub); n.put("cluster", f.cluster)
      n.put("path", f.path); n.put("bytes", f.bytes); n.put("add", add)
      sb.append(mapper.writeValueAsString(n)).append('\n')
    }
    removes.foreach(fileLine(_, add = false))
    adds.foreach(fileLine(_, add = true))
    sb.result().getBytes("UTF-8")
  }

  /** The commit point: publish one version containing `removes` then
    * `adds` (and optionally a replacement meta document) at EXACTLY
    * `expectedSeq + 1` (default: the current seq + 1), a CAS against the
    * state the writer derived its commit from. Returns the published seq.
    */
  def commit(root: String, adds: Seq[IndexFile], removes: Seq[IndexFile] = Seq.empty,
             metaJson: Option[String] = None, expectedSeq: Long = -1L,
             checkpoint: Boolean = false): Long = {
    val versions = log(root)
    val bytes = render(adds, removes, metaJson, checkpoint)
    versions.cas(if (expectedSeq >= 0) expectedSeq else versions.current)(Files.write(_, bytes))
  }

  /** Publish a checkpoint: the full live state re-stated as one version,
    * so later folds start here instead of replaying history. Run under
    * the index's dir lease (it commits). Pure metadata — no data file
    * is touched, and time travel to older seqs still works until
    * [[vacuum]].
    */
  def checkpoint(root: String): Long = {
    val st = state(root)
    commit(root, adds = st.files, metaJson = Some(st.metaJson),
      expectedSeq = st.seq, checkpoint = true)
  }

  /** Physically reclaim space: publish a checkpoint at seq N, delete
    * every older log version, and delete every file under `files/` the
    * live state at N does not reference (crashed writers' orphans and
    * files removed by compaction/retrain/label rewrites). Returns
    * (data files deleted, log versions deleted).
    *
    * THE one operation that invalidates pinned reads: time travel
    * before N dies, and a reader holding a pre-N file snapshot can fail
    * on a deleted file — the ManifestCatalog.compact caveat ("pin
    * snapshots you need before compacting"), so schedule vacuum at
    * maintenance windows like compaction. Must run under the index's
    * dir lease: a committing writer's not-yet-published payload files
    * look exactly like orphans.
    */
  def vacuum(root: String): (Long, Long) = vacuum(root, retain = 0)

  /** [[vacuum]] with an explicit TIME-TRAVEL RETENTION WINDOW: every
    * seq in [N - retain, N] (N = the fresh checkpoint) stays foldable
    * and its files stay on disk, so `state(asOf)` within the window
    * survives the vacuum — the Delta `VACUUM ... RETAIN` contract,
    * expressed in versions rather than hours because the manifest is
    * the only clock this store trusts. `retain = 0` is the classic
    * all-history reclaim.
    *
    * Mechanics: the fold of the window's OLDEST seq needs a start
    * point, so the log is kept back to the newest CHECKPOINTED version
    * ≤ (N - retain) — or the log's beginning if none — and the
    * keep-set is that base state's files plus every file ADDED by a
    * retained version (a file a mid-window fold could reference is
    * never deleted, even if dead at N).
    */
  def vacuum(root: String, retain: Int): (Long, Long) = {
    require(retain >= 0, s"retain must be >= 0, got $retain")
    val ckptSeq = checkpoint(root)
    val local = VersionLog.localPath(root)
    val versions = log(root)
    val seqs = versions.seqs
    val cut = math.max(1L, ckptSeq - retain)
    val base =
      if (retain == 0) ckptSeq
      else seqs.filter(_ <= cut).reverse
        .find(s => parseLines(versions.path(s))._1)
        .getOrElse(seqs.head)
    val keep = scala.collection.mutable.Set.empty[Path]
    state(root, asOf = Some(base)).files
      .foreach(f => keep += Paths.get(local, f.path).normalize())
    seqs.filter(_ > base).foreach { s =>
      parseLines(versions.path(s))._2.foreach {
        case Line("file", Some(f), true, _) =>
          keep += Paths.get(local, f.path).normalize()
        case _ => ()
      }
    }
    val filesDir = Paths.get(local, "files")
    var dataReaped = 0L
    if (Files.isDirectory(filesDir)) {
      val all = Files.walk(filesDir)
      try {
        // files first, then empty dirs (walk order reversed)
        val entries = all.iterator().asScala.toSeq.reverseIterator
        entries.foreach { p =>
          if (Files.isRegularFile(p) && !keep.contains(p.normalize())) {
            Files.deleteIfExists(p); dataReaped += 1
          } else if (Files.isDirectory(p) && p != filesDir) {
            val s = Files.list(p)
            val empty = try !s.iterator().hasNext finally s.close()
            if (empty) Files.deleteIfExists(p): Unit
          }
        }
      } finally all.close()
    }
    val logsReaped = seqs.count { s =>
      s < base && Files.deleteIfExists(versions.path(s))
    }.toLong
    (dataReaped, logsReaped)
  }
}
