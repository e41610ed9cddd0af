package graft.core

import java.lang.ref.WeakReference
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy for the engine's iterative/self-joining
  * pipelines (merge-write reads-then-overwrites, LSH index reuse, Lloyd
  * rounds, label propagation).
  *
  * Default is `localCheckpoint(eager)`: executor-memory/disk resident,
  * zero configuration, right for interactive and single-node use. For
  * long cluster jobs where executor loss must not kill the lineage, set
  * `spark.graft.checkpointDir` on the session — every call then becomes
  * a RELIABLE `checkpoint(eager)` persisted to that (HDFS/S3) path, the
  * durable form at real scale. One switch, no call-site changes.
  *
  * Block hygiene: a localCheckpoint's blocks stay resident in the block
  * manager until the RDD handle is GC'd and the ContextCleaner runs —
  * in a long-lived session executing many checkpoint-heavy pipelines
  * (a bench loop, a server) that pressure grows unboundedly and can
  * stall queries. Every localCheckpoint taken here is therefore tracked
  * through a WEAK reference: [[freeAll]] drops the blocks
  * deterministically at a safe boundary, while a session that never
  * calls it keeps exactly the pre-tracking behavior (GC +
  * ContextCleaner reclaim blocks; the queue holds no strong refs and
  * prunes cleared entries as it grows).
  */
object Checkpoints {

  val DirConf = "spark.graft.checkpointDir"

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[WeakReference[RDD[_]]]()

  def stable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // idempotent: a plan that IS already a bare checkpoint/local relation
    // has no lineage to truncate — re-checkpointing it would only add a
    // materialization action and another block set (the double-stable
    // shape: a caller stabilizing an ingest return that the ingest
    // already checkpointed)
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => return df
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => return df
      case _ => ()
    }
    spark.conf.getOption(DirConf) match {
      case Some(dir) if dir.nonEmpty =>
        // idempotent: setCheckpointDir is cheap and the dir may change
        // between calls in tests
        spark.sparkContext.setCheckpointDir(dir)
        // a reliable checkpoint RECOMPUTES lineage for the write unless
        // the data is cached — persist first so each pipeline runs once,
        // then drop the cache (the checkpoint files are the truth).
        // Checkpoint dirs accumulate for the app lifetime unless
        // spark.cleaner.referenceTracking.cleanCheckpoints=true; long
        // jobs should set it alongside spark.graft.checkpointDir.
        val cached = df.persist()
        val out = cached.checkpoint(eager = true)
        cached.unpersist(blocking = false)
        out
      case _ =>
        val out = df.localCheckpoint(eager = true)
        // track the EXACT persisted RDD backing the checkpointed Dataset
        // (its analyzed plan is the LogicalRDD wrapping it) — no registry
        // diffing, so a concurrent thread's RDDs are never mis-tracked
        checkpointRddOf(out).foreach { rdd =>
          pruneCleared()
          tracked.add(new WeakReference[RDD[_]](rdd))
        }
        out
    }
  }

  private def checkpointRddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  // amortized O(1) hygiene: cleared heads are dropped on every add, so a
  // session that never calls freeAll keeps the queue bounded by its LIVE
  // checkpoint RDDs, not its lifetime total
  private def pruneCleared(): Unit = {
    var head = tracked.peek()
    while (head != null && head.get == null) {
      tracked.poll()
      head = tracked.peek()
    }
  }

  /** Drop the executor blocks of every localCheckpoint taken since the
    * last call. A localCheckpoint has NO lineage to fall back on — a
    * freed checkpoint cannot be recomputed — so only call this at a
    * boundary where every DataFrame built on prior checkpoints is fully
    * materialized and dead (between queries in a bench loop, after a
    * merge-write commits). Already-GC'd entries are skipped.
    */
  def freeAll(blocking: Boolean = false): Unit = {
    var ref = tracked.poll()
    while (ref != null) {
      val rdd = ref.get
      if (rdd != null) {
        try rdd.unpersist(blocking) catch { case _: Throwable => () }
      }
      ref = tracked.poll()
    }
  }

  /** Number of tracked (not-yet-freed, not-yet-GC'd) checkpoint RDDs —
    * test hook.
    */
  def trackedCount: Int = {
    val it = tracked.iterator()
    var n = 0
    while (it.hasNext) if (it.next().get != null) n += 1
    n
  }
}
