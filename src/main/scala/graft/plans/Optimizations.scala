package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{GraftFunctions, KernelExpr}

/** Domain algebraic laws applied as an optimizer rule — the fourth
  * extension surface next to the scalar Expressions, the topk/bloom
  * TypedImperativeAggregates and the as-of planner Strategy. Catalyst
  * cannot know these laws; encoding them here means composed pipelines
  * (where each stage defensively canonicalizes its input) skip redundant
  * corpus-width passes instead of paying them per stage.
  *
  * Injected via [[graft.functions.GraftExtensions]] for
  * `spark.sql.extensions=` deployments, or [[ensure]] for programmatic
  * sessions. Runs in the user-provided fixed-point batch, so arbitrarily
  * deep chains collapse.
  */
object GraftOptimizations extends Rule[LogicalPlan] {
  private val Nfc = GraftFunctions.nfcNorm.name

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // NFC canonicalization is idempotent: nfc(nfc(x)) = nfc(x)
    case KernelExpr(Nfc, Seq(inner @ KernelExpr(Nfc, _))) => inner
  }

  /** Idempotently attach to a session built without extensions. */
  def ensure(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
