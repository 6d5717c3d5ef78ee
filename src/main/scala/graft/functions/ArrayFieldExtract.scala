package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, GetArrayStructFields, GetStructField, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Rewrites `transform(arr, s -> s.f)` over an `array<struct>` to
  * `GetArrayStructFields(arr, f)` — the expression Spark itself builds
  * for `arr.f`. Both return null for a null array, null for a null
  * element and the field's value otherwise, and the rewrite is made
  * only when both have the same data type (`containsNull` included).
  * The higher-order form evaluates its lambda interpreted per element
  * and keeps its Project out of whole-stage codegen; the extractor is
  * codegen'd, so e.g. traj_ref's `pair_dist_stats` Project runs inside
  * the codegen'd stage.
  *
  * Only a one-argument lambda whose body is one field of its own
  * argument is rewritten: `s -> s.x + 1`, `(s, i) -> s.x`, `s -> s.p.x`
  * and a lambda reading another variable's field stay as they are.
  * Installed by [[GraftFunctions.register]] (an extra optimization) and
  * by [[graft.GraftExtensions]] (`injectOptimizerRule`). */
object ArrayFieldExtract extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) {
      case t @ ArrayTransform(arr, LambdaFunction(
          GetStructField(v: NamedLambdaVariable, ordinal, _),
          Seq(arg: NamedLambdaVariable), _)) if v.exprId == arg.exprId =>
        arr.dataType match {
          case ArrayType(st: StructType, containsNull) =>
            val field = st(ordinal)
            val g = GetArrayStructFields(arr, field, ordinal, st.length,
              containsNull || field.nullable)
            if (g.dataType == t.dataType) g else t
          case _ => t
        }
    }
}
