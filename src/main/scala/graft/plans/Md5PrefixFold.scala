package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule fusing the engine's spelled-out portable hash
  *
  * {{{ cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint) }}}
  *
  * into the native [[graft.functions.Md5Prefix60]] kernel (first 60
  * digest bits, no hex-string materialization, no substring, no
  * base-conversion parse — three per-row string allocations gone).
  *
  * The spelled form is the CROSS-ENGINE SPEC — every oracle replays it
  * in DuckDB — so queries keep writing it; this rule makes the
  * execution native everywhere at once (LSH planes, MinHash mixes,
  * salted shuffles, sampling gates, sketch feeds all go through this
  * one pattern). Always installed, via [[graft.GraftExtensions]]
  * (cluster-wide) or [[graft.GraftSession.install]] (driver
  * sessions); it is purely an execution
  * substitution with the spelled form's semantics, null-propagation
  * included (every matched node maps null → null), so the oracles
  * hash-match either way (measured 2.0× on the kernel, BENCH_NOTES
  * round 10).
  */
object Md5PrefixFold extends Rule[LogicalPlan] {

  private def intLit(e: Expression, v: Int): Boolean = e match {
    case Literal(x: Int, IntegerType) => x == v
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan transformAllExpressions {
      case Cast(Conv(Substring(Md5(bin), p1, l15), f16, t10, _), LongType, _, _)
          if intLit(p1, 1) && intLit(l15, 15) &&
            intLit(f16, 16) && intLit(t10, 10) =>
        graft.functions.Md5Prefix60(bin)
    }
}
