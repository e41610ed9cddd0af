package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-text access to the fused codegen kernels (SURVEY §2.10): the
  * same Catalyst Expressions the DataFrame API uses, registered under
  * stable names so `spark.sql("SELECT simhash32(body) ...")` hits the
  * identical fast path. Injected by [[graft.plans.GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Tuning arguments (shingle width, lang-id threshold) must be literals
  * — they parameterize generated code, not per-row inputs.
  */
object SqlFunctions {

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Number, _) => v.intValue
    case other => throw new IllegalArgumentException(
      s"$fn: tuning argument must be an integer literal, got $other")
  }

  private def litDouble(e: Expression, fn: String): Double = e match {
    case Literal(v: Number, _) => v.doubleValue
    // SQL decimal literals (e.g. 0.05) parse as Decimal, not Double
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: tuning argument must be a numeric literal, got $other")
  }

  /** name → (usage, builder). Defaults mirror the DataFrame-side
    * entry points (shingle width 3; lang_id min score 0.02).
    */
  private def all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("shingle_hash64",
      "shingle_hash64(text[, n]) - distinct sorted 60-bit hashes of word n-grams (default n=3)",
      args => ShingleHash64(args.head,
        if (args.size > 1) litInt(args(1), "shingle_hash64") else 3)),
    ("shingle_strings",
      "shingle_strings(text[, n]) - distinct sorted word n-gram strings (default n=3)",
      args => ShingleStrings(args.head,
        if (args.size > 1) litInt(args(1), "shingle_strings") else 3)),
    ("token_hash32",
      "token_hash32(text) - distinct sorted 32-bit token hashes",
      args => TokenHash32(args.head)),
    ("simhash32",
      "simhash32(text) - 32-bit SimHash over token hashes",
      args => SimHash32Expr(args.head)),
    ("float_vec_dot",
      "float_vec_dot(a, b) - double-accumulated dot product of two float arrays",
      args => FloatVecDot(args(0), args(1))),
    ("json_get",
      "json_get(json, key) - top-level JSON field as string (get_json_object minus the per-row parser)",
      args => JsonGetExpr(args.head, args(1) match {
        case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
        case other => throw new IllegalArgumentException(
          s"json_get: key must be a string literal, got $other")
      })),
    ("lang_id",
      "lang_id(text[, min_score]) - best-scoring language id, NULL below min_score (default 0.02)",
      args => LangIdExpr(args.head,
        if (args.size > 1) litDouble(args(1), "lang_id") else 0.02)))

  def register(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, _, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName.stripSuffix("$"), name),
        builder))
    }
}
