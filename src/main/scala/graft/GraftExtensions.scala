package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{StringExpressions, VectorExpressions}

/** SparkSessionExtensions injection point: enables graft's native
  * expressions at session build time for any application via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (spark-submit --conf or SparkSession.builder.config; `GraftSession`
  * sets it). It injects each module's `sqlFunctions`, the same list the
  * modules' `register` installs on a session built without it. This is
  * also where a custom Rule[LogicalPlan] or SparkStrategy would be
  * injected if an operator ever outgrows expression + built-in
  * composition (SURVEY.md §4.2 — none needed for reference parity).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (VectorExpressions.sqlFunctions ++ StringExpressions.sqlFunctions)
      .foreach { case (name, builder) =>
        ext.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo(builder.getClass.getName, name), builder))
      }
}
