package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite `time` range predicates over a feature-store
  * envelope relation (`time: timestamp` + hive `partition` column) into
  * additional `partition` predicates, so directory pruning fires even
  * for ad-hoc `spark.read.parquet(featureDir).filter($"time" ...)`
  * reads that bypass `TimeseriesStore.read` (which adds the derived
  * predicate itself — this is the same rewrite, SURVEY §4, as a
  * `Rule[LogicalPlan]`). Bounds are widened one unit per side, matching
  * the store's timezone-skew guard.
  *
  * Conservative by construction: fires only on a Filter directly over a
  * relation exposing exactly our envelope column shapes, only for
  * literal timestamp bounds, and never twice (the rewritten condition
  * references `partition`, which disables the match).
  */
object DerivePartitionFilters extends Rule[LogicalPlan] with PredicateHelper {

  /** Only the EXACT feature-store envelope qualifies: (time,
    * created_time, value, partition). Requiring the full shape keeps
    * the rule from firing on unrelated tables that merely happen to
    * have `time` and `partition` columns (where `partition` may not be
    * derived from `time` and pruning would drop correct rows).
    */
  private def isEnvelope(rel: LogicalRelation): Boolean =
    rel.output.length == 4 &&
      rel.output.exists(a => a.name == "created_time" && a.dataType == TimestampType) &&
      rel.output.exists(_.name == "value")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation) if isEnvelope(rel) =>
      val timeAttr = rel.output.find(a => a.name == "time" && a.dataType == TimestampType)
      val partAttr = rel.output.find(a => a.name == "partition" &&
        (a.dataType == StringType || a.dataType == DateType || a.dataType == IntegerType))
      (timeAttr, partAttr) match {
        case (Some(t), Some(p)) if !cond.references.contains(p) =>
          val derived = derive(splitConjunctivePredicates(cond), t, p)
          if (derived.isEmpty) f
          else Filter(derived.foldLeft(cond)(And), rel)
        case _ => f
      }
  }

  private def derive(
      preds: Seq[Expression],
      t: Attribute,
      p: Attribute): Seq[Expression] = preds.flatMap {
    case GreaterThanOrEqual(a: Attribute, Literal(us: Long, TimestampType)) if a.semanticEquals(t) =>
      Seq(GreaterThanOrEqual(p, partLit(p, us, -1)))
    case GreaterThan(a: Attribute, Literal(us: Long, TimestampType)) if a.semanticEquals(t) =>
      Seq(GreaterThanOrEqual(p, partLit(p, us, -1)))
    case LessThanOrEqual(a: Attribute, Literal(us: Long, TimestampType)) if a.semanticEquals(t) =>
      Seq(LessThanOrEqual(p, partLit(p, us, 1)))
    case LessThan(a: Attribute, Literal(us: Long, TimestampType)) if a.semanticEquals(t) =>
      Seq(LessThanOrEqual(p, partLit(p, us, 1)))
    case EqualTo(a: Attribute, Literal(us: Long, TimestampType)) if a.semanticEquals(t) =>
      Seq(GreaterThanOrEqual(p, partLit(p, us, -1)), LessThanOrEqual(p, partLit(p, us, 1)))
    // literal-first orientation — all five comparisons mirrored:
    // Catalyst does not canonicalize orientation in logical plans, so
    // `lit(ts) < col("time")` would otherwise silently skip pruning
    case LessThanOrEqual(Literal(us: Long, TimestampType), a: Attribute) if a.semanticEquals(t) =>
      Seq(GreaterThanOrEqual(p, partLit(p, us, -1)))
    case LessThan(Literal(us: Long, TimestampType), a: Attribute) if a.semanticEquals(t) =>
      Seq(GreaterThanOrEqual(p, partLit(p, us, -1)))
    case GreaterThanOrEqual(Literal(us: Long, TimestampType), a: Attribute) if a.semanticEquals(t) =>
      Seq(LessThanOrEqual(p, partLit(p, us, 1)))
    case GreaterThan(Literal(us: Long, TimestampType), a: Attribute) if a.semanticEquals(t) =>
      Seq(LessThanOrEqual(p, partLit(p, us, 1)))
    case EqualTo(Literal(us: Long, TimestampType), a: Attribute) if a.semanticEquals(t) =>
      Seq(GreaterThanOrEqual(p, partLit(p, us, -1)), LessThanOrEqual(p, partLit(p, us, 1)))
    case _ => Nil
  }

  /** Partition literal for the instant `us` micros, widened by `skew`
    * units — the bound VALUE comes from the shared
    * [[graft.store.PartitionBounds]] derivation, so this rule can never
    * drift from what `TimeseriesStore.read`/`prunePartitionValues`
    * would scan.
    */
  private def partLit(p: Attribute, us: Long, skew: Int): Literal =
    p.dataType match {
      case StringType =>
        Literal(UTF8String.fromString(
          graft.store.PartitionBounds.dateString(us, skew)), StringType)
      case DateType => // hive partition inference parses date-shaped dirs
        Literal(graft.store.PartitionBounds.date(us, skew).toEpochDay.toInt, DateType)
      case _ =>
        Literal(graft.store.PartitionBounds.year(us, skew), IntegerType)
    }
}
