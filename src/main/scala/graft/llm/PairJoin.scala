package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The blocked pair join every near-duplicate operator generates its
  * candidates with: an equi-join that emits the pairs of rows sharing a
  * group. Callers keep their own scoring, filters and output columns;
  * every non-group column of the input is carried to both sides of a
  * pair, suffixed `_a` and `_b`.
  *
  * Block decomposition. A group is ONE key group to a join, so a hot
  * group (a saturated simhash band value, a dense LSH bucket, a big IVF
  * cluster) would make a single task evaluate |group|²/2 pairs serially
  * with a whole side buffered. Each row is split by id into k(group)
  * blocks (`pmod(id, k)`) and the join key is extended with the blocks:
  * a hot group becomes independently scheduled key groups, per-task
  * memory is bounded by `blockSize` rows, and the pair set is the same
  * for ANY k ≥ 1 — a wrong count costs balance, never pairs.
  *
  * Block counts: k = ceil(rows / blockSize) capped at `maxBlocks`
  * ([[blocks]]), with rows per group from one of two sources:
  *   - the self shape, when `blocked`: a per-group count aggregate in
  *     the plan, joined back. Un-hinted by default: the histogram is
  *     ~N/blockSize rows, broadcastable at test scale (AQE picks that on
  *     its own) but a multi-GB forced broadcast at 10^11 rows, where the
  *     un-hinted planner degrades to a shuffle join on the group
  *     instead. A caller whose groups take few values at any corpus size
  *     (simhash: ≤ 4·256 band values) passes `broadcastCounts`: the
  *     static planner sizes an aggregate by its input, so above the
  *     broadcast threshold an un-hinted count join shuffles the rows on
  *     the group before AQE sees how small the histogram is;
  *   - the new-vs-all shape: rows per value of the group column, known
  *     on the driver (from footers and observed metrics). A group absent
  *     from the map is one block; an empty map is one block everywhere,
  *     with no aggregate in the plan.
  * The self shape unblocked (`blocked = false`) is one block everywhere,
  * with no aggregate and no block columns.
  *
  * Self shape ([[self]]): a row in block c sits on the a-side in key
  * groups (c, c..k-1) and on the b-side in (0..c, c), so every pair of
  * blocks meets in exactly one of k(k+1)/2 key groups. Orientation:
  * same-block groups see a pair in both orientations and keep
  * `id_a < id_b`; cross-block groups see it once, in whichever id order,
  * and keep it — callers normalize with least/greatest.
  *
  * The pin and the hint (self shape). Both sides are repartitioned to
  * `defaultParallelism` on the FULL join key. Without that, a side that
  * is broadcast-small lets AQE pick a broadcast join whose probe side
  * inherits the few partitions of a tiny scan, and the whole pair
  * evaluation runs on 1-2 cores however hot the groups are (measured at
  * sf1: 40 s wall at a 1.6-core average, while 10× the data ran faster
  * because it crossed the broadcast threshold into a shuffled join). An
  * explicit numPartitions is also exempt from AQE's byte-based
  * coalescing, which would re-merge these CPU-heavy, byte-light
  * partitions. With both sides co-partitioned on the join key, the
  * `shuffle_hash` hint makes the join read them in place; un-hinted, AQE
  * converts to broadcast and pays a driver collect and re-broadcast on
  * top of the exchange already paid (the r18 before-plan). The hint
  * never changes the pair set, only the algorithm.
  *
  * New-vs-all shape ([[newVsAll]]): a batch against existing ∪ batch.
  * The existing ∪ batch side sits in one block per row and each batch
  * row replicates across its group's k blocks, so a hot group fans out
  * to k key groups. New-vs-existing surfaces once (the a-side is the
  * batch only); new-vs-new surfaces in both orientations and
  * `is_new && id_a < id_b` keeps one. No pin and no hint: the batch side
  * is batch-sized, so Catalyst broadcasts it when small — the ideal
  * plan, scanning the existing partitions in place with no corpus
  * shuffle.
  */
private[llm] object PairJoin {

  /** ceil(n / blockSize) blocks, capped at `maxBlocks`. */
  private def blocks(n: Column, blockSize: Int, maxBlocks: Int): Column =
    least(lit(maxBlocks), ceil(n / blockSize)).cast("int")

  /** The block count of `group`'s value from driver-side row counts.
    * Only groups over `blockSize` rows enter the plan (a map literal of
    * them), so the all-one-block case plans a plain `lit(1)`.
    */
  private def known(rows: Map[Int, Long], group: String,
                    blockSize: Int, maxBlocks: Int): Column = {
    val split = rows.filter(_._2 > blockSize)
    if (split.isEmpty) lit(1)
    else coalesce(blocks(try_element_at(typedLit(split), col(group)), blockSize, maxBlocks),
      lit(1))
  }

  /** Self shape: every pair of `rows` sharing the `group` columns,
    * oriented as in the object doc, with the group columns, `ci`/`cj`
    * when `blocked`, and each other column as `<c>_a` and `<c>_b`.
    */
  def self(rows: DataFrame, group: Seq[String], id: String, blocked: Boolean,
           broadcastCounts: Boolean = false,
           blockSize: Int = 1024, maxBlocks: Int = 16): DataFrame = {
    val payload = rows.columns.toSeq.filterNot(group.contains)
    def bk = {
      val counts = rows.groupBy(group.map(col): _*).agg(count(lit(1)).as("group_n"))
      rows.join(if (broadcastCounts) broadcast(counts) else counts, group)
        .withColumn("k", blocks(col("group_n"), blockSize, maxBlocks))
    }
    val key = group ++ (if (blocked) Seq("ci", "cj") else Nil)
    val para = rows.sparkSession.sparkContext.defaultParallelism
    def side(s: String, split: DataFrame => DataFrame) =
      (if (blocked) split(bk) else rows)
        .select(key.map(col) ++ payload.map(c => col(c).as(s"${c}_$s")): _*)
        .repartition(para, key.map(col): _*)
    val a = side("a", _.withColumn("ci", pmod(col(id), col("k")).cast("int"))
      .withColumn("cj", explode(sequence(col("ci"), col("k") - 1))))
    val b = side("b", _.withColumn("cj", pmod(col(id), col("k")).cast("int"))
      .withColumn("ci", explode(sequence(lit(0), col("cj")))))
    val ordered = col(s"${id}_a") < col(s"${id}_b")
    a.hint("shuffle_hash").join(b, key)
      .filter(if (blocked) col("ci") =!= col("cj") || ordered else ordered)
  }

  /** New-vs-all shape: every pair of a `batch` row with an `existing` or
    * another `batch` row in the same `group`, each pair once, with the
    * group column, `blk`, each other column as `<c>_a` (the batch row)
    * and `<c>_b`, and `is_new` (whether the b-row is from the batch).
    * `batch` and `existing` have the same columns; block counts come
    * from the driver-side `rows` per group.
    */
  def newVsAll(batch: DataFrame, existing: DataFrame, group: String, id: String,
               rows: Map[Int, Long], blockSize: Int, maxBlocks: Int): DataFrame = {
    val payload = batch.columns.toSeq.filterNot(_ == group)
    def suffixed(s: String) = payload.map(c => col(c).as(s"${c}_$s"))
    val k = known(rows, group, blockSize, maxBlocks)
    val b = existing.withColumn("is_new", lit(false))
      .unionByName(batch.withColumn("is_new", lit(true)))
      .withColumn("blk", pmod(col(id), k).cast("int"))
      .select(Seq(col(group), col("blk")) ++ suffixed("b") :+ col("is_new"): _*)
    val a = batch.withColumn("blk", explode(sequence(lit(0), k - 1)))
      .select(Seq(col(group), col("blk")) ++ suffixed("a"): _*)
    a.join(b, Seq(group, "blk"))
      .filter(col(s"${id}_a") =!= col(s"${id}_b"))
      .filter(!col("is_new") || col(s"${id}_a") < col(s"${id}_b"))
  }
}
