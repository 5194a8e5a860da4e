package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
  Expression, LambdaFunction, Literal, Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.expr.DotProduct

/** Optimizer rule (SURVEY.md §7.3 tier-c): rewrite the higher-order dot
  * product `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d,
  * (acc, e) -> acc + e)` into the native codegen'd [[DotProduct]].
  *
  * Why a RULE and not just the `graft_dot` function: the HOF form is
  * what the declarative layer naturally writes (`VectorOps.dot` powers
  * norms, unit-normalization, LSH plane projections and centroid
  * assignment all over the vector family), but Catalyst's higher-order
  * functions are CodegenFallback — every per-row evaluation pays
  * interpreted lambda dispatch AND materializes the zip_with
  * intermediate array. The rewrite swaps in the tight primitive loop
  * from DotProduct.doGenCode inside whole-stage codegen while keeping
  * the exact same left-to-right IEEE fold — bit-identical results
  * (DotProduct's scaladoc pins the NULL/length-mismatch equivalence,
  * and the rewrite demands literal +0.0 as the fold seed, raw bits
  * checked, because a -0.0 seed folds differently).
  *
  * Match discipline: both zip_with lambda variables must be used
  * exactly once each in the multiply (either order — IEEE multiply and
  * add are commutative per STEP; the fold ORDER is what parity needs,
  * and it is preserved), the merge lambda must be a bare two-variable
  * add, and the finish lambda must be the identity the
  * `functions.aggregate` 3-arg overload emits. Anything else — casts,
  * extra arithmetic, reused variables — does not match and keeps its
  * HOF semantics.
  *
  * Installed per-session by `GraftFunctions.register` (experimental
  * extraOptimizations, idempotent) and for SQL-conf users via
  * `GraftExtensions.injectOptimizerRule`. An A/B against the HOF form
  * takes the rule out of the session's extraOptimizations (perfbench's
  * expression probe does).
  */
object RewriteHofDot extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(l, r,
            LambdaFunction(
              Multiply(mx: NamedLambdaVariable, my: NamedLambdaVariable, _),
              Seq(zx: NamedLambdaVariable, zy: NamedLambdaVariable), _)),
          Literal(zero: Double, DoubleType),
          LambdaFunction(
            Add(aa: NamedLambdaVariable, ab: NamedLambdaVariable, _),
            Seq(ma: NamedLambdaVariable, mb: NamedLambdaVariable), _),
          LambdaFunction(fb: NamedLambdaVariable,
            Seq(fa: NamedLambdaVariable), _))
        // the Set equalities alone rule out reused variables (x*x):
        // freshly bound lambda args always have distinct exprIds, so a
        // singleton left side can never equal the two-element right
        if java.lang.Double.doubleToRawLongBits(zero) == 0L &&
          isDoubleArray(l) && isDoubleArray(r) &&
          Set(mx.exprId, my.exprId) == Set(zx.exprId, zy.exprId) &&
          Set(aa.exprId, ab.exprId) == Set(ma.exprId, mb.exprId) &&
          fb.exprId == fa.exprId =>
        DotProduct(l, r)
    }
}
