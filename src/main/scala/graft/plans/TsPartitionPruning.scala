package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule (SURVEY §4 / §7.3): derive `year`/`month`
  * partition predicates from `ts` range filters.
  *
  * The lake layout partitions by year/month but queries naturally filter
  * on epoch-ms `ts`; without this rule a `ts BETWEEN a AND b` filter
  * scans every month directory (exactly the reference's behavior — its
  * docs claim date-dir pruning that the code never implements,
  * `dl-datalake/src/dl_datalake/storage/reader.py:41-48`). The rule
  * rewrites
  *     Filter(ts >= L AND ts <= U, scan)
  * to additionally constrain `(year*100 + month)` to the UTC month range
  * of [L, U], which FileSourceStrategy classifies as a partition filter
  * (it references only partition columns) ⇒ month directories outside
  * the range are never listed or opened.
  *
  * Injected via [[GraftExtensions]]:
  * `spark.sql.extensions=graft.plans.GraftExtensions` (as
  * `graft.Harness bench-partitioned` sets it), or
  * `Sessions.builder(cores).withExtensions(new GraftExtensions)`.
  */
object TsPartitionPruning extends Rule[LogicalPlan] {

  /** The rule only fires on a Filter sitting directly over a scan chain
    * (Project/Filter over a leaf relation) — NOT over joins/aggregates,
    * where columns merely NAMED ts/year/month may be unrelated (e.g. a
    * calendar dimension's fiscal year) and the derived predicate would
    * silently drop rows — AND only when the leaf is a file scan whose
    * PARTITION schema actually contains year/month (a lake layout).
    * A non-lake table that merely has ts/year/month data columns (local
    * time, fiscal calendar, in-memory frame) is never rewritten: there
    * the derived UTC-month conjunct could disagree with the stored
    * values and silently drop rows, and without partition directories it
    * can't prune anything anyway.
    */
  private def isScanChain(p: LogicalPlan): Boolean = p match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          val pcols = fs.partitionSchema.fieldNames.map(_.toLowerCase).toSet
          pcols.contains("year") && pcols.contains("month")
        case _ => false
      }
    case proj: org.apache.spark.sql.catalyst.plans.logical.Project => isScanChain(proj.child)
    case f: Filter => isScanChain(f.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) if isScanChain(child) =>
      val attrs = child.output.map(a => a.name.toLowerCase -> a).toMap
      (attrs.get("ts"), attrs.get("year"), attrs.get("month")) match {
        case (Some(ts), Some(year), Some(month))
          if ts.dataType == LongType && year.dataType == IntegerType &&
            month.dataType == IntegerType && !alreadyDerived(cond) =>
          val conjuncts = splitConjuncts(cond)
          val lo = conjuncts.collectFirst {
            case GreaterThanOrEqual(a: Attribute, Literal(v: Long, LongType)) if a.semanticEquals(ts) => v
            case GreaterThan(a: Attribute, Literal(v: Long, LongType)) if a.semanticEquals(ts) => v
            case LessThanOrEqual(Literal(v: Long, LongType), a: Attribute) if a.semanticEquals(ts) => v
          }
          val hi = conjuncts.collectFirst {
            case LessThanOrEqual(a: Attribute, Literal(v: Long, LongType)) if a.semanticEquals(ts) => v
            case LessThan(a: Attribute, Literal(v: Long, LongType)) if a.semanticEquals(ts) => v
            case GreaterThanOrEqual(Literal(v: Long, LongType), a: Attribute) if a.semanticEquals(ts) => v
          }
          if (lo.isEmpty && hi.isEmpty) f
          else {
            val key = Add(Multiply(Cast(year, LongType), Literal(100L)), Cast(month, LongType))
            val derived = Seq(
              lo.map(v => GreaterThanOrEqual(key, Literal(monthKey(v)))),
              hi.map(v => LessThanOrEqual(key, Literal(monthKey(v))))
            ).flatten.reduce[Expression](And)
            Filter(And(cond, derived), child)
          }
        case _ => f
      }
  }

  /** Shared with the storage reader — see graft.core.MonthKeys (handles
    * pre-1970 epochs, which land in year=1969 partitions).
    */
  def monthKey(ms: Long): Long = graft.core.MonthKeys.monthKey(ms)

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Re-application guard: the derived conjunct's shape is
    * `(year*100+month) >= k` / `<= k` — if any conjunct already compares
    * a year-based Add/Multiply to a literal, skip.
    */
  private def alreadyDerived(cond: Expression): Boolean =
    splitConjuncts(cond).exists {
      case GreaterThanOrEqual(Add(Multiply(Cast(a: Attribute, LongType, _, _), Literal(100L, LongType), _), _, _), _) =>
        a.name.equalsIgnoreCase("year")
      case LessThanOrEqual(Add(Multiply(Cast(a: Attribute, LongType, _, _), Literal(100L, LongType), _), _, _), _) =>
        a.name.equalsIgnoreCase("year")
      case _ => false
    }
}

/** `spark.sql.extensions` entry point registering graft's optimizer
  * rules AND its SQL function surface (the fused codegen kernels).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TsPartitionPruning)
    graft.functions.SqlFunctions.register(ext)
  }
}
