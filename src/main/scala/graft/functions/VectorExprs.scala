package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Codegen'd dot product over two `array<float>` columns, accumulating
  * in double left-to-right — numerically identical to
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` and
  * to DuckDB's sequential list kernels, but a tight primitive loop
  * instead of per-element interpreted lambda dispatch (SURVEY §2.10:
  * custom `Expression` with `doGenCode` for the hot path).
  *
  * Length semantics: iterates min(len(a), len(b)); embedding columns are
  * fixed-dim so lengths always match in practice.
  */
case class FloatVecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> inputs, got " +
            s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd coarse-quantizer assignment: for one `array<float>` row,
  * the id of the centroid maximizing `fdot(emb, c) / ‖c‖` (a zero ‖c‖
  * is pre-normalized to 1.0 by the caller), ties to the SMALLEST id.
  *
  * Replaces the k-way `greatest(struct(score, -k), ...)` construction
  * over k INLINED literal centroid arrays: that plan's codegen grows
  * with k and collapses to interpreted evaluation past a few dozen
  * centroids (measured ~3 µs/dot at k=196, sf10 — BASELINE.md
  * round-13), and a corpus-adaptive quantizer needs k in the hundreds
  * of thousands at 100 TB, where inlining centroids into the task
  * binary is structurally wrong. Here the centroid matrix travels as
  * ONE broadcast (k×dim floats + precomputed norms + ids), shipped
  * once per executor via the torrent machinery (the
  * [[BloomMightContain]] shape), and each row is a tight primitive
  * double-accumulation loop identical to [[FloatVecDot]]'s arithmetic.
  *
  * Tie rule matches the DuckDB oracle's `ORDER BY score DESC, cluster
  * ASC` exactly: ids are required ascending and strict `>` keeps the
  * first (smallest) id on equal scores. (The one divergence from the
  * old `greatest` plan is IEEE ±0.0: java.lang.Double.compare orders
  * -0.0 < 0.0 while this kernel — like SQL comparison in both engines —
  * treats them equal; reachable only by an all-zero embedding against
  * mixed-sign centroids.)
  *
  * NaN contract: a NaN score (NaN in the embedding or a centroid) never
  * improves on `best`, so NaN-scored centroids are SKIPPED — if every
  * score is NaN the result falls back to `ids(0)`, a real centroid id
  * (never a fabricated one). NaN embeddings are out of contract for the
  * pipelines here (norms are finite by construction); the old
  * `greatest`-plan ordered NaN largest, so behavior on such data
  * intentionally differs (ADVICE r13).
  */
case class ArgmaxCosine(child: Expression,
                        cents: Broadcast[(Array[Int], Array[Array[Float]], Array[Double])])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> input, got ${other.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmax_cosine"

  /** Called from both eval and generated code; public so the codegen
    * reference object can reach it.
    */
  def assignOf(a: Any): Int = {
    val x = a.asInstanceOf[ArrayData]
    val (ids, cs, norms) = cents.value
    var best = Double.NegativeInfinity
    var bestId = ids(0)
    var ki = 0
    while (ki < ids.length) {
      val c = cs(ki)
      val n = math.min(x.numElements(), c.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x.getFloat(i).toDouble * c(i).toDouble
        i += 1
      }
      val s = acc / norms(ki)
      if (s > best) { best = s; bestId = ids(ki) }
      ki += 1
    }
    bestId
  }

  override protected def nullSafeEval(a: Any): Any = assignOf(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argmaxCosine", this, classOf[ArgmaxCosine].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.assignOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`n` variant of [[ArgmaxCosine]]: the ids of the `n` centroids
  * with the highest `fdot(emb, c)/‖c‖`, ordered (score DESC, id ASC) —
  * bit-matching `ROW_NUMBER() OVER (ORDER BY score DESC, cluster ASC)
  * ≤ n` in the oracle. Fewer than `n` centroids returns them all. Same
  * broadcast shape, same FloatVecDot arithmetic; the selection scans
  * ids ascending and inserts on STRICT improvement, so equal scores
  * keep the smaller id first. Powers multi-probe assignment (a vector
  * near a Voronoi boundary joins its 2 nearest clusters so boundary
  * near-duplicates become candidates — vanilla IVF blocking misses them
  * by construction).
  */
case class TopNCosine(child: Expression,
                      cents: Broadcast[(Array[Int], Array[Array[Float]], Array[Double])],
                      n: Int)
  extends UnaryExpression {

  require(n >= 1, s"TopNCosine needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> input, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "topn_cosine"

  /** Called from both eval and generated code. NaN scores never insert
    * (strict `>` is false for NaN), so with NaN-poisoned input fewer
    * than `m` slots may fill — the result is TRUNCATED to the filled
    * prefix rather than padding with the slot default (id 0, which may
    * not be a real centroid id — ADVICE r13). On in-contract (finite)
    * data all m slots always fill and the truncation is a no-op.
    */
  def probesOf(a: Any): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val x = a.asInstanceOf[ArrayData]
    val (ids, cs, norms) = cents.value
    val m = math.min(n, ids.length)
    val bestS = Array.fill(m)(Double.NegativeInfinity)
    val bestId = new Array[Int](m)
    var ki = 0
    while (ki < ids.length) {
      val c = cs(ki)
      val len = math.min(x.numElements(), c.length)
      var acc = 0.0
      var i = 0
      while (i < len) {
        acc += x.getFloat(i).toDouble * c(i).toDouble
        i += 1
      }
      val s = acc / norms(ki)
      // stable insertion: strict > only, so among equal scores the
      // earlier (smaller, ids are ascending) id keeps the better rank
      var j = m
      while (j > 0 && s > bestS(j - 1)) j -= 1
      if (j < m) {
        var t = m - 1
        while (t > j) { bestS(t) = bestS(t - 1); bestId(t) = bestId(t - 1); t -= 1 }
        bestS(j) = s
        bestId(j) = ids(ki)
      }
      ki += 1
    }
    var filled = 0
    while (filled < m && bestS(filled) != Double.NegativeInfinity) filled += 1
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (filled == m) bestId else java.util.Arrays.copyOf(bestId, filled))
  }

  override protected def nullSafeEval(a: Any): Any = probesOf(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topnCosine", this, classOf[TopNCosine].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.probesOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine of one `array<float>` row against the centroid with id
  * `cluster` in the kernels' (ids, centroids, norms) broadcast: the
  * assigned-quality datum of an index assignment, priced from the same
  * broadcast the assignment kernel reads instead of a join against the
  * centroid table. [[FloatVecDot]] arithmetic over the row; the
  * centroid norm is the broadcast's (a zero norm pre-guarded to 1.0).
  * A cluster id the broadcast does not hold yields null.
  */
case class CentroidCosine(left: Expression, right: Expression,
                          cents: Broadcast[(Array[Int], Array[Array[Float]], Array[Double])])
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, int) inputs, got ${l.simpleString} / ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_cosine"

  override protected def nullSafeEval(a: Any, c: Any): Any = {
    val (ids, cs, norms) = cents.value
    val ki = java.util.Arrays.binarySearch(ids, c.asInstanceOf[Int])
    if (ki < 0) return null
    val x = a.asInstanceOf[ArrayData]
    val v = cs(ki)
    val n = math.min(x.numElements(), v.length)
    var dot = 0.0
    var xx = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      dot += xi * v(i).toDouble
      xx += xi * xi
      i += 1
    }
    dot / (math.sqrt(xx) * norms(ki))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  private def c(e: Expression): Column = Bridge.column(e)
  private def e(col: Column): Expression = Bridge.expression(col)

  /** Σ aᵢ·bᵢ in double, sequential. */
  def fdot(a: Column, b: Column): Column = c(FloatVecDot(e(a), e(b)))

  /** ‖a‖₂ = sqrt(fdot(a, a)). */
  def fnorm(a: Column): Column = sqrt(c(FloatVecDot(e(a), e(a))))

  /** Coarse-quantizer assignment against a broadcast (ids, centroids,
    * norms) triple — ids must be ascending, norms pre-guarded (0 → 1.0).
    */
  def argmaxCosine(emb: Column,
                   cents: Broadcast[(Array[Int], Array[Array[Float]], Array[Double])]): Column =
    c(ArgmaxCosine(e(emb), cents))

  /** Top-n centroid ids by cosine, (score DESC, id ASC) — multi-probe. */
  def topnCosine(emb: Column,
                 cents: Broadcast[(Array[Int], Array[Array[Float]], Array[Double])],
                 n: Int): Column =
    c(TopNCosine(e(emb), cents, n))

  /** Cosine of `emb` against the broadcast centroid `cluster` names. */
  def centroidCosine(emb: Column, cluster: Column,
                     cents: Broadcast[(Array[Int], Array[Array[Float]], Array[Double])]): Column =
    c(CentroidCosine(e(emb), e(cluster), cents))
}
