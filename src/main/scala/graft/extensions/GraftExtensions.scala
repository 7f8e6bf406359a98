package graft.extensions

import graft.functions.DotProduct
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Rewrite the composable higher-order dot product
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
  *
  * into the native codegen [[graft.functions.DotProduct]]. The HOF form is
  * what users naturally write; it is interpreted (CodegenFallback) and
  * materializes the zipped array per row. The rewrite is semantics-
  * preserving: same left-to-right double accumulation, null if either
  * array is null.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** merge lambda must be (acc, v) -> acc + v over its own two params. */
  private def isSumLambda(f: Expression): Boolean = f match {
    case LambdaFunction(Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _) =>
      Set(l.exprId, r.exprId) == Set(p1.exprId, p2.exprId)
    case _ => false
  }

  /** zip lambda must be (x, y) -> x * y over its own two params. */
  private def isMulLambda(f: Expression): Boolean = f match {
    case LambdaFunction(
        Multiply(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _) =>
      Set(l.exprId, r.exprId) == Set(p1.exprId, p2.exprId)
    case _ => false
  }

  /** finish lambda must be the identity. */
  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(p: NamedLambdaVariable), _) =>
      v.exprId == p.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(a, b, zipF), Literal(0.0, DoubleType), mergeF, finishF)
          if isDoubleArray(a) && isDoubleArray(b) &&
            isMulLambda(zipF) && isSumLambda(mergeF) && isIdentity(finishF) =>
        DotProduct(a, b)
    }
}

/** Rewrite `size(array_intersect(a, b))` over string arrays into the
  * fused no-allocation [[graft.functions.IntersectSize]] — the inner loop
  * of every set-Jaccard verification. IntersectSize is null-on-null-input;
  * under `legacySizeOfNull = true` (the non-ANSI default, size(null) = -1)
  * the rewrite wraps it in coalesce(-1) so semantics are preserved
  * exactly in both modes.
  */
object RewriteIntersectSize extends Rule[LogicalPlan] {

  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), legacy)
          if isStringArray(a) && isStringArray(b) =>
        val fused = graft.functions.IntersectSize(a, b)
        if (legacy) Coalesce(Seq(fused, Literal(-1))) else fused
    }
}

/** Session extension wiring: graft's functions, the HOF-dot /
  * intersect-size rewrites and the as-of planner strategy.
  * `graft.GraftSession.builder` installs it, so every session graft
  * builds (and each `newSession()` of it) has them from birth. Any other
  * session gets the same with `--conf spark.sql.extensions=
  * graft.extensions.GraftExtensions`, or the functions and strategy
  * (not the rewrites) with `graft.GraftSession.ensure`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.VectorFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        // the registry object, not one arbitrary expression class:
        // DESCRIBE FUNCTION on any graft_* name should point at the
        // single source of truth, not claim every function is DotProduct
        new ExpressionInfo(
          graft.functions.VectorFunctions.getClass.getName, name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    e.injectOptimizerRule(_ => RewriteHofDotProduct)
    e.injectOptimizerRule(_ => RewriteIntersectSize)
    // plans graft.plans.AsOfJoinPlan into its sort-merge SparkPlan
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
