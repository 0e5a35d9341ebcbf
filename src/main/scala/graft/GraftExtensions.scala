package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo}

/** Declarative library entry point: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) gets the native graft
  * expressions as SQL functions, the custom join strategies
  * (as-of + interval sweep) AND literal-independent generated code for
  * filters ([[graft.plans.ParameterizeLiterals]]) — no imperative
  * register calls. The
  * imperative paths ([[graft.functions.GraftFunctions.register]],
  * [[graft.plans.GraftAsof.ensureRegistered]],
  * [[graft.plans.GraftInterval.ensureRegistered]]) stay for sessions
  * created without extensions; all are idempotent with this.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(
        classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) =>
        graft.functions.DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[Expression]) =>
        graft.functions.NfcNormalize(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "graft_might_contain"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.catalyst
        .expressions.BloomFilterMightContain(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_hll"),
      new ExpressionInfo(
        classOf[graft.functions.HllSketch].getName, "graft_hll"),
      (exprs: Seq[Expression]) =>
        graft.functions.HllSketch(exprs.head).toAggregateExpression()))
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    ext.injectOptimizerRule(_ => graft.functions.DotProductRewrite)
    // the pre-columnar slot runs before CollapseCodegenStages, on the
    // adaptive and the non-adaptive path alike
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = graft.plans.ParameterizeLiterals
    })
  }
}
