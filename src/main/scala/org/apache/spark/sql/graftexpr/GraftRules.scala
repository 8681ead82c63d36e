package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Optimizer rule: rewrite the PORTABLE 60-bit md5-prefix hash pattern
  *
  *   cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)
  *
  * to the codegen'd [[Md5Prefix60]] kernel (digest-bytes → long, no hex
  * round-trip, ~5 fewer string allocations per value).
  *
  * Why a rule and not just the API: the composed form is the
  * cross-engine contract (it is what the DuckDB oracle runs, and what a
  * user porting a portable SQL pipeline writes). With this rule those
  * queries silently get the fast kernel while the optimized plan remains
  * value-identical — the engine's example of the Catalyst
  * `Rule[LogicalPlan]` extension tier, injected by
  * [[GraftFunctions.registerAll]] into `experimental.extraOptimizations`.
  */
object RewriteMd5Prefix60 extends Rule[LogicalPlan] {

  private object ComposedMd5Prefix60 {
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(
          Conv(
            Substring(Md5(inner), Literal(1, IntegerType), Literal(15, IntegerType)),
            Literal(16, IntegerType), Literal(10, IntegerType), _),
          LongType, _, _) =>
        // md5() over a string input arrives here as md5(cast(x as binary))
        inner match {
          case Cast(s, _, _, _) if s.dataType == StringType => Some(s)
          case s if s.dataType == StringType => Some(s)
          case _ => None
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ComposedMd5Prefix60(s) => Md5Prefix60(s)
    }
}
