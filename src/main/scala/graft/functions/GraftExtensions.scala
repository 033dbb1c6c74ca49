package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration for the engine's native functions
  * (SURVEY §7.3). Configure with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * and `graft_dot` is available in every session from birth — SQL text,
  * `expr(...)`, views — with no per-call registry mutation (the
  * `createOrReplaceTempFunction` path re-registered on every operator
  * call and logged a replace warning each time).
  *
  * It is also the engine's one session-setup point: as each session
  * builds its state (before its first query), [[graft.engine.LocalFs]]
  * installs the fork-free `file:` file system. The parser hook is only the
  * place Spark hands the session over; it returns the parser unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser { (session, parser) => graft.engine.LocalFs.setup(session); parser }
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[SquaredL2].getCanonicalName, "graft_l2sq"),
      (exprs: Seq[Expression]) => SquaredL2(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_norm_words"),
      new ExpressionInfo(classOf[NormWords].getCanonicalName, "graft_norm_words"),
      (exprs: Seq[Expression]) => NormWords(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getCanonicalName, "graft_winnow_fps"),
      (exprs: Seq[Expression]) => WinnowFps.fromArgs(exprs)))
  }
}
