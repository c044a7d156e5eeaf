package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: registers the engine's native
  * expressions into the SQL function registry, so
  * `SELECT graft_dotp(a, b)` works from plain SQL.
  *
  * Every session built through [[graft.Session.builder]] enables it;
  * elsewhere set
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  * No custom `Rule[LogicalPlan]` / `SparkStrategy` is injected — stock
  * Catalyst covers every relational operator here (SURVEY.md §4); the
  * extension seam exists for the function surface only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dotp"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dotp"),
      (children: Seq[Expression]) => {
        if (children.length != 2)
          throw org.apache.spark.sql.GraftBridge.wrongNumArgs(
            "graft_dotp", expected = 2, actual = children.length)
        DotProductExpr(children(0), children(1))
      }))
  }
}
