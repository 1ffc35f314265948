package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.Kernels

/** Session-extensions installer: makes every native kernel in
  * [[graft.functions.Kernels]] AND the library's optimizer rule
  * available to ANY session (including pure-SQL users) via
  * `--conf spark.sql.extensions=graft.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)` — the
  * only route by which the kernels reach SQL. Library code does not need
  * it: it builds the kernel expressions directly. The injected rule
  * ([[graft.plans.NoCartesianGuard]], also installable on a built
  * session with `NoCartesianGuard.install(spark)`) is opt-in by conf and
  * trivially result-invariant: it fails runaway cartesian plans at
  * optimization time, it never rewrites them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(graft.plans.NoCartesianGuard(_))
    Kernels.table.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(k.exprClass.getName, k.name), k.build))
    }
  }
}
