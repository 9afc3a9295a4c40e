package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, IntegerLiteral, InterpretedOrdering, SortOrder, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Offset, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Completes Spark's `ConvertToLocalRelation` for pages over rows that
 * are already on the driver. That rule folds only Project, Filter and
 * Limit into a `LocalRelation`; a page (`orderBy → offset → limit →
 * select`) over a driver-resident base therefore still planned a Sort
 * (or TakeOrderedAndProject) and ran a Spark job to order a few
 * thousand rows the driver already holds.
 *
 * This rule folds a global `Sort` whose keys are deterministic and
 * evaluable, `Offset`, `GlobalLimit` and `LocalLimit` over a
 * non-streaming `LocalRelation`, then reruns `ConvertToLocalRelation`
 * until the plan stops changing. The sort uses Catalyst's own
 * [[InterpretedOrdering]] over the same `SortOrder`s, so NaN, ±0.0 and
 * null placement are Spark's. A fully folded page plans as one
 * `LocalTableScanExec`, whose `executeCollect` runs no job.
 *
 * Installed once per session by [[SearchEngine.createIndex]] through
 * `spark.experimental.extraOptimizations` (the "User Provided
 * Optimizers" batch, after Spark's own batches).
 */
object LocalPageFold extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan.transformUp {
      case Sort(order, true, LocalRelation(output, data, false, _), _)
          if order.forall(foldable) =>
        LocalRelation(output, data.sorted(new InterpretedOrdering(order, output)))
      case Offset(IntegerLiteral(n), LocalRelation(output, data, false, _)) =>
        LocalRelation(output, data.drop(n))
      case GlobalLimit(IntegerLiteral(n), LocalRelation(output, data, false, _)) =>
        LocalRelation(output, data.take(n))
      case LocalLimit(IntegerLiteral(n), LocalRelation(output, data, false, _)) =>
        LocalRelation(output, data.take(n))
    })
    if (next.fastEquals(plan)) plan else apply(next)
  }

  // the same evaluability test ConvertToLocalRelation applies to its
  // projections and filters, plus determinism (a rand() key must not be
  // evaluated once on the driver and frozen into the relation)
  private def foldable(o: SortOrder): Boolean =
    o.child.deterministic && !o.child.exists {
      case _: AttributeReference => false
      case _: Unevaluable => true
      case _ => false
    }

  /** Add the rule to `spark`'s extra optimizations unless present. */
  def install(spark: SparkSession): Unit = spark.synchronized {
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(this)) spark.experimental.extraOptimizations = extra :+ this
  }
}
