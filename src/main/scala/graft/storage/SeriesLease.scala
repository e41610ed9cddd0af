package graft.storage

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** Cross-process mutual exclusion for one series' read-merge-overwrite
  * critical sections (SURVEY §7.4: the maintenance-concurrency seam the
  * reference leaves to Prefect scheduling discipline —
  * `dl-datalake/src/dl_datalake/orchestration/flows.py:127-130` never
  * runs maintenance at all, so the reference cannot lose this race; an
  * engine that DOES compact under continuous ingest must serialize).
  *
  * Why a lease and not optimistic concurrency: both the merge-write
  * ([[LakeWriter.writeOhlc]]) and the compactor
  * ([[LakeMaintenance.compactSeries]]) are read-modify-OVERWRITE of the
  * same month directories, and dynamic partition overwrite has no
  * compare-and-swap — a validate-then-commit scheme would still leave
  * the commit window, and a failed validation can only retry the whole
  * (expensive) rewrite. A per-series lease makes the winner explicit
  * BEFORE the work happens; writers on different series never contend
  * (disjoint lease files — the q81 concurrency model is unchanged).
  *
  * Mechanics: one `<root>/_locks/<sha256(seriesDir)>.lease` file per
  * series, acquired by atomic create-exclusive (`Files.createFile`,
  * O_EXCL — the same primitive as [[VersionLog.ClaimRenamePublish]]) and
  * released by ownership-checked delete. The `_locks` directory is
  * underscore-prefixed, so Spark's partition discovery never sees it.
  *
  * Liveness vs safety, both handled:
  *   - A lease whose mtime is older than `staleMs` is presumed orphaned
  *     by a CRASHED holder and is stolen (delete + re-create; two
  *     stealers race the create, exactly one wins).
  *   - A LIVE holder never goes stale: a daemon heartbeat refreshes the
  *     lease mtime every `staleMs/3` while the critical section runs,
  *     so a merge-write that outlives `staleMs` (a 100 TB month rewrite
  *     can) keeps its protection — staleness marks death, not slowness.
  *   - The lease body is an owner token (pid + nonce). Release deletes
  *     the file only if it still holds OUR token, so a holder that WAS
  *     stolen from (clock skew, an operator's manual unlock) can never
  *     delete the new owner's lease (the lock-file ABA) and admit a
  *     third writer. The heartbeat re-reads the token and latches
  *     `stolen` on mismatch; write paths call [[Handle.assertOwned]]
  *     immediately before their overwrite commit, turning a lost lease
  *     into a loud [[SeriesLease.StolenLeaseException]] instead of a
  *     silent lost-update.
  *
  * Scope: filesystems where `java.nio` sees POSIX semantics — local
  * disk and NFS-style mounts (the `file:` scheme or scheme-less roots).
  * Any other scheme (hdfs://, s3a://…) is rejected loudly at acquire
  * ([[VersionLog.localPath]]):
  * HDFS would need this object re-implemented over the Hadoop
  * FileSystem API and an object store needs conditional-put or an
  * external lock service — both swap in behind the same `withLease`
  * seam.
  */
object SeriesLease {

  /** The critical section lost its lease mid-flight (see class doc). */
  final class StolenLeaseException(msg: String) extends IllegalStateException(msg)

  /** Ownership witness for one held lease. `assertOwned()` re-reads the
    * lease file and throws [[StolenLeaseException]] unless it still
    * carries this holder's token — call it immediately before a commit
    * that assumes exclusion still holds.
    */
  final class Handle private[SeriesLease] (val path: Path, token: String,
                                           describe: String) {
    @volatile private[SeriesLease] var stolenFlag = false

    private[SeriesLease] def ownedNow: Boolean =
      !stolenFlag && {
        val owned =
          try new String(Files.readAllBytes(path), "UTF-8") == token
          catch { case _: java.io.IOException => false } // deleted = lost
        if (!owned) stolenFlag = true
        owned
      }

    def assertOwned(): Unit =
      if (!ownedNow)
        throw new StolenLeaseException(
          s"series lease for $describe was stolen mid-critical-section " +
            s"($path no longer holds this holder's token) — aborting before commit")
  }

  private def leaseFile(root: String, k: SeriesKey): Path = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(LakeIO.seriesDir(root, k).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Paths.get(VersionLog.localPath(root), "_locks", s"$digest.lease")
  }

  /** Run `f` holding the series' lease. Blocks (50 ms poll) until the
    * lease is free, a stale one is stolen, or `timeoutMs` elapses.
    */
  def withLease[T](root: String, key: SeriesKey,
                   staleMs: Long = 600000L, timeoutMs: Long = 300000L)(f: => T): T =
    withLeaseHandle(root, key, staleMs, timeoutMs)(_ => f)

  /** Like [[withLease]] but passes the [[Handle]] so the critical
    * section can `assertOwned()` right before its commit point.
    */
  def withLeaseHandle[T](root: String, key: SeriesKey,
                         staleMs: Long = 600000L,
                         timeoutMs: Long = 300000L)(f: Handle => T): T = {
    val k = key.sanitized
    run(leaseFile(root, k),
      s"${k.exchange}/${k.market}/${k.symbol}/${k.`type`}/${k.period}",
      staleMs, timeoutMs)(f)
  }

  /** The same mutual exclusion keyed on an arbitrary DIRECTORY — the
    * persisted-index form (SemanticIndex roots, LSH band-index roots):
    * `ingest`/`compact`/`retrain` are read-modify-overwrite of shared
    * partition dirs exactly like a series merge-write, and "single
    * writer per index" must be enforced, not documented (VERDICT r15
    * missing #2). The lock file lives in `_locks/` NEXT TO the guarded
    * dir (never inside it: retrain RENAMES the root mid-hold, and the
    * lease must not move with it), named by the dir's sha256.
    */
  def withDirLease[T](dir: String, staleMs: Long = 600000L,
                      timeoutMs: Long = 300000L)(f: => T): T =
    withDirLeaseHandle(dir, staleMs, timeoutMs)(_ => f)

  /** [[withDirLease]] passing the [[Handle]] for commit-point
    * `assertOwned()` checks.
    */
  def withDirLeaseHandle[T](dir: String, staleMs: Long = 600000L,
                            timeoutMs: Long = 300000L)(f: Handle => T): T = {
    val p = Paths.get(VersionLog.localPath(dir)).toAbsolutePath.normalize()
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(p.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val parent = Option(p.getParent).getOrElse(
      throw new IllegalArgumentException(s"cannot lease filesystem root: $dir"))
    run(parent.resolve("_locks").resolve(s"$digest.lease"), p.toString,
      staleMs, timeoutMs)(f)
  }

  private def run[T](lease: Path, describe: String,
                     staleMs: Long, timeoutMs: Long)(f: Handle => T): T = {
    Files.createDirectories(lease.getParent)
    // pid alone is ambiguous (pids recycle; two threads in one JVM may
    // hold different series) — the nonce makes the token globally unique
    val token = s"pid=${ProcessHandle.current().pid()};" +
      s"nonce=${java.util.UUID.randomUUID()}\n"
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var acquired = false
    while (!acquired) {
      try {
        Files.write(lease, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // stale = the holder DIED (a live one heartbeats its mtime)
          val stale =
            try Files.getLastModifiedTime(lease).toMillis < System.currentTimeMillis() - staleMs
            catch { case _: java.io.IOException => false } // vanished: retry create
          if (stale) {
            try Files.deleteIfExists(lease)
            catch { case _: java.io.IOException => () } // loser of a steal race
          } else if (System.nanoTime() > deadline) {
            throw new java.util.concurrent.TimeoutException(
              s"lease for $describe not acquired within ${timeoutMs} ms ($lease)")
          } else Thread.sleep(50)
      }
    }
    val handle = new Handle(lease, token, describe)
    // Heartbeat: refresh mtime at 3× the staleness rate so a live
    // holder is never presumed dead; piggyback an ownership check so a
    // steal (operator unlock, gross clock skew) latches `stolen` within
    // one beat instead of surfacing only at the commit-point assert.
    val beatMs = math.max(50L, staleMs / 3)
    val heartbeat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted && handle.ownedNow) {
          Thread.sleep(beatMs)
          if (handle.ownedNow) {
            try Files.setLastModifiedTime(handle.path,
              FileTime.fromMillis(System.currentTimeMillis())): Unit
            catch { case _: java.io.IOException => () } // next beat retries
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"lease-heartbeat-${lease.getFileName}")
    heartbeat.setDaemon(true)
    heartbeat.start()
    try f(handle)
    finally {
      heartbeat.interrupt()
      // ownership-checked release: after a steal the file is the NEW
      // holder's lease — deleting it would admit a third writer
      try { if (handle.ownedNow) Files.deleteIfExists(lease): Unit }
      catch { case _: java.io.IOException => () }
    }
  }
}
