package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{GraftFunctions, StemExpr}

/** Catalyst optimizer rule: Porter stemming is IDEMPOTENT
  * (stem(stem(x)) = stem(x) — the stemmer's output is always a fixpoint
  * of itself), so nested [[StemExpr]]s collapse to one. Composed
  * cleaning pipelines hit this for real: a stage that stems defensively
  * over the output of a stage that already stemmed pays the (expensive,
  * per-token) stemmer twice per row unless the plan collapses it —
  * exactly the class of rewrite Catalyst can do and a black-box UDF
  * could never express. The whole chain is stripped in one pass, so a
  * single application suffices regardless of nesting depth.
  */
object CollapseIdempotentStem extends Rule[LogicalPlan] {

  private def strip(e: Expression): Expression = e match {
    case StemExpr(c) => strip(c)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case StemExpr(inner @ StemExpr(_)) => StemExpr(strip(inner))
    }
}

/** The library's `SparkSessionExtensions` entry point — production wiring
  * is one config line, no code:
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * Injects [[CollapseIdempotentStem]] into the optimizer,
  * [[AsOfJoinStrategy]] into the planner, and every SQL function in
  * `GraftFunctions.All` (porter_stem, dot_q, dct16) into the function
  * registry. `GraftFunctions.register` remains the per-session path for
  * sessions built without this class. ExtensionsSpec drives both optimizer
  * wiring paths (a fresh session built through this class, and
  * `experimental.extraOptimizations` / `experimental.extraStrategies` on
  * an existing one); SourcesSpec loads the class reflectively, as the
  * conf does, and calls the injected functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CollapseIdempotentStem)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // ExpressionInfo's 5-arg ctor is (className, db, name, usage, extended):
    // the implementing class and a null db, so DESCRIBE FUNCTION reports
    // the real class instead of a bogus database.
    GraftFunctions.All.foreach { case (name, builder, usage, clazz) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz, null, name, usage, ""),
        builder))
    }
  }
}
