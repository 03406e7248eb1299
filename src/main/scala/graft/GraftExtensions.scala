package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extensions installer for the graft SQL surface:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * registers every custom function ([[Functions.sqlBuilders]]), the
  * as-of join strategy and the `Md5PrefixFold` rule on each new
  * SparkSession cluster-wide — no driver-side [[GraftSession.install]]
  * call needed, and the functions survive `spark.newSession()`
  * (temp-function registration does not). This is the deploy path for
  * SQL-only consumers (JDBC/Thrift, notebooks) that run no graft code;
  * driver code goes through [[GraftSession]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Functions.sqlBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.Functions", name),
        builder))
    }
    // custom operators: the native as-of join plans on every session
    // of the cluster
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // semantics-preserving native-kernel substitution for the spelled
    // portable hash (see Md5PrefixFold's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.Md5PrefixFold)
  }
}
