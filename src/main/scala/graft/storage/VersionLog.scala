package graft.storage

import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.regex.Pattern

import graft.core.PathWalk

/** One directory of seq-named versions, and the commit protocol every
  * versioned log of the engine publishes through: the lake catalog
  * (`_manifest/log/{seq:020d}.parquet`, [[graft.catalog.ManifestCatalog]]),
  * the index manifests (`_versions/{seq:020d}.json`, [[IndexManifest]])
  * and the bloom artifact (`bloom.{seq:06d}.bin`, [[BloomJoin]]). Each
  * owner encodes and folds its own versions; this class owns naming,
  * staging and publishing.
  *
  *  - Naming: a version is `{prefix}{seq}{suffix}`, the seq zero-padded
  *    to `width` digits. Seqs start at 1, and 0 stands for an empty log.
  *    A name that does not parse (a stage, a claim marker) is no version.
  *  - Stage: the writer's callback fills a fresh hidden file in the
  *    stage directory, which is then fsynced before any publish, so a
  *    power loss after the publish never leaves a named but empty
  *    version. The stage is deleted afterwards, published or not: a
  *    published version is the log's own link to the bytes.
  *  - Blind append ([[append]]): publish at the next free seq. A writer
  *    that loses a seq re-lists and retries above it, so a burst of
  *    writers converges in O(burst) attempts in all, and concurrent
  *    writers, threads or processes, need no lock to produce a gapless,
  *    duplicate-free sequence. The catalog and the bloom artifact commit
  *    this way: their appends commute (the catalog ranks rows by seq).
  *  - CAS ([[cas]]): publish at exactly `base + 1`, else throw
  *    [[VersionLog.ConcurrentCommitException]], since the writer derived
  *    its version from a stale state. The index manifests commit this way.
  *  - Publish: a [[VersionLog.PublishPrimitive]] binds the complete
  *    staged bytes to one name with exactly one winner. Readers never
  *    coordinate: they list the seqs and read the versions they want.
  *
  * Object stores have neither hard links nor an atomic rename: there a
  * conditional PUT (`If-None-Match: *` on S3/GCS) is the exactly-one-winner
  * publish and a LIST of the prefix is [[VersionLog.PublishPrimitive.names]],
  * the shape of the Delta and Iceberg commit protocols. Until such a
  * primitive exists, every log root is a local path ([[VersionLog.localPath]]).
  */
final class VersionLog(val dir: Path, prefix: String, width: Int, suffix: String,
                       pub: VersionLog.PublishPrimitive = VersionLog.PosixLinkPublish,
                       stageDir: Option[Path] = None) {
  import VersionLog._

  private val Name = s"^${Pattern.quote(prefix)}(\\d+)${Pattern.quote(suffix)}$$".r

  /** Where version `seq` lives, published or not. */
  def path(seq: Long): Path = dir.resolve(prefix + s"%0${width}d".format(seq) + suffix)

  /** The seq `p` names, if it names a version. */
  def seqOf(p: Path): Option[Long] = p.getFileName.toString match {
    case Name(d) => Some(d.toLong)
    case _ => None
  }

  /** Every file in the log directory, versions or not (none if it is absent). */
  def files: Seq[Path] = pub.names(dir).map(dir.resolve)

  /** The published seqs, ascending. */
  def seqs: Seq[Long] = files.flatMap(seqOf).sorted

  /** The highest published seq, 0 for an empty log. */
  def current: Long = seqs.lastOption.getOrElse(0L)

  /** Stage `write`'s bytes and publish them at the next free seq; returns it. */
  def append(write: Path => Unit): Long = staged(write)(publish)

  /** Stage `write`'s bytes and publish them at exactly `base + 1`;
    * returns that seq, or throws if another writer holds it.
    */
  def cas(base: Long)(write: Path => Unit): Long = staged(write) { s =>
    val seq = base + 1
    if (!pub.tryPublish(s, path(seq)))
      throw new ConcurrentCommitException(s"CAS lost at $dir: seq $seq is already " +
        s"published, so the writer's base state (seq $base) is stale. Abort, re-read, re-derive.")
    seq
  }

  /** The blind-append loop over an already durable file: publish it at
    * the next free seq, re-listing after each lost seq. The file's
    * bytes never change between attempts, only the name it is offered.
    */
  def publish(staged: Path): Long = {
    var seq = current + 1
    while (!pub.tryPublish(staged, path(seq))) seq = math.max(seq + 1, current + 1)
    seq
  }

  private def staged[T](write: Path => Unit)(bind: Path => T): T = {
    val stage = Files.createDirectories(stageDir.getOrElse(dir))
      .resolve(s".stage-${java.util.UUID.randomUUID()}")
    try {
      write(stage)
      val ch = FileChannel.open(stage, StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
      bind(stage)
    } finally Files.deleteIfExists(stage): Unit
  }
}

object VersionLog {

  /** A CAS lost: another writer published at the expected seq. The
    * caller must abort, re-read and re-derive, never blind-retry.
    */
  final class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

  /** The storage's atomic publish. Contract: when writers race for one
    * target name, exactly ONE `tryPublish` returns true and the others
    * return false, never two winners and never none; a winner's target
    * then holds the staged bytes complete. The loops in [[VersionLog]]
    * supply everything else.
    */
  trait PublishPrimitive {
    /** Bind `staged`'s bytes to `target`; false iff `target` is taken.
      * A winner may consume `staged`.
      */
    def tryPublish(staged: Path, target: Path): Boolean

    /** The names in `dir`, hidden ones included; none if it is absent. */
    def names(dir: Path): Seq[String] =
      if (!Files.isDirectory(dir)) Nil
      else PathWalk.list(dir)(_.map(_.getFileName.toString).toVector)
  }

  /** link(2) fails with EEXIST when the name is taken: an atomic
    * create-exclusive that binds complete bytes, with no lock, across
    * processes. The default.
    */
  object PosixLinkPublish extends PublishPrimitive {
    override def tryPublish(staged: Path, target: Path): Boolean =
      try { Files.createLink(target, staged); true }
      catch { case _: FileAlreadyExistsException => false }
  }

  /** The link-free primitive, for filesystems without hard links (HDFS,
    * some local mounts): the winner of a name is whoever creates its
    * hidden claim marker `.{name}.claim` (O_EXCL), and the winner's
    * staged bytes then take the name by an atomic rename, so readers
    * never see a partial version. The stage must therefore live on the
    * target's filesystem.
    *
    * The claim marker is permanent: it is the winner's record. Deleting
    * it after the rename would re-open the name to a lagging writer
    * holding a stale seq, whose rename would silently replace the first
    * winner's version (a measured 34% of writes lost in
    * ConcurrentCommitSpec's forked-JVM race). The catalog's compaction
    * clears markers with the old segments, below the monotone current
    * seq. A writer that dies between claim and rename leaves one seq
    * skipped for good. Blind appends need order, not density, so they
    * step over it; a CAS at that seq can never win, so the CAS logs (the
    * index manifests) publish with [[PosixLinkPublish]].
    */
  object ClaimRenamePublish extends PublishPrimitive {
    override def tryPublish(staged: Path, target: Path): Boolean = {
      try Files.createFile(target.resolveSibling(s".${target.getFileName}.claim"))
      catch { case _: FileAlreadyExistsException => return false }
      Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
      true
    }
  }

  /** A root on the local filesystem: scheme-less, or `file:` with the
    * scheme stripped. Any other scheme throws by name rather than
    * resolving `hdfs://host/x` or `s3://b/x` into a relative local path:
    * logs, leases and index payload listings are implemented over
    * POSIX files only.
    */
  def localPath(root: String): String = {
    val scheme = new java.net.URI(root).getScheme
    if (scheme == null || scheme == "file") root.stripPrefix("file:")
    else throw new UnsupportedOperationException(s"$root: scheme '$scheme' is not a local " +
      "filesystem; versioned logs, leases and index files need POSIX files (an object " +
      "store needs a conditional-PUT VersionLog.PublishPrimitive and lock first)")
  }
}
