package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine SQL surface: registers the native expressions so
  * `SELECT money_norm(v)` and `LATERAL VIEW chunk(text, 20, 5)` work
  * in plain SQL, plus the kNN planner strategy and the top-k rewrite
  * rule. [[graft.core.GraftSession]] attaches it to every session;
  * outside the engine, set
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => KnnJoinStrategy)
    e.injectOptimizerRule(_ => KnnRewriteRule)
    e.injectFunction((
      FunctionIdentifier("money_norm"),
      new ExpressionInfo(classOf[MoneyNorm].getName, "money_norm"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MoneyNorm(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ArrayDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("chunk"),
      new ExpressionInfo(classOf[ChunkWords].getName, "chunk"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ChunkWords(exprs(0), exprs(1), exprs(2))))
  }
}
