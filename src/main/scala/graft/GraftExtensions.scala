package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, NfcNormalize, SpaceSaving}

/** SparkSessionExtensions entry point: makes the engine's custom Catalyst
  * expressions available to plain SQL. Activate on any cluster with
  *   spark.sql.extensions=graft.GraftExtensions
  * or a builder's `.withExtensions(new GraftExtensions)` (as
  * [[GraftSession.build]] does). For an
  * already-running session, `GraftSqlBridge.registerFunction` does the
  * same registration directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64Fp].getName,
        "graft_simhash64"),
      (exprs: Seq[Expression]) => graft.functions.SimHash64Fp(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[SpaceSaving].getName, "graft_heavy_hitters"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"graft_heavy_hitters(col, k) takes 2 arguments, got ${exprs.length}")
        val k = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_heavy_hitters(col, k): k must be an INT literal, got $other")
        }
        SpaceSaving(exprs(0), k)
      }))
    // whole-operator extension: plans graft.plans.TopKPerGroup nodes
    // (Ranking.topKPerGroup also registers this lazily per session)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // optimizer rewrite: row_number-window + rank filter → TopKPerGroup
    e.injectOptimizerRule(_ => graft.plans.RewriteRowNumberTopK)
  }
}
