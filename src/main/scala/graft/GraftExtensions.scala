package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarityExpr, DotProductExpr, L2SqExpr, VectorExpressions}

/** Spark extensions entry point — makes the graft native expressions
  * available to every session in a cluster the idiomatic way:
  *
  * {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions ... }}}
  *
  * Equivalent to calling `VectorExpressions.register(spark)` per session,
  * but injected at session build time so pure-SQL users (thrift server,
  * notebooks) get `graft_cosine`/`graft_dot`/`graft_l2sq` with no Scala
  * code — plus the MATERIALIZED-VIEW REWRITE optimizer rule
  * ([[graft.sql.MvRewriteRule]]): `SELECT k, sum(v) FROM t GROUP BY k`
  * is answered from a fresh subsuming view with no query change (off
  * switch: `SET spark.graft.mv.rewrite.enabled=false`; a no-op until
  * `DmlSql.setWarehouse` names a view warehouse). Sessions built
  * without extensions get the same rule via
  * [[graft.sql.MvRewrite.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(spark => new graft.sql.MvRewriteRule(spark))
    // an aggregate over a small LocalRelation folds on the driver
    ext.injectOptimizerRule(_ => graft.plans.LocalAggregateFold)
    // CBO stats bridge: manifest rowCount / min-max / NDV attach to Icebox
    // relations right before the cost-based batches (join reorder,
    // broadcast selection) — a no-op unless spark.sql.cbo.enabled
    ext.injectPreCBORule(spark => new graft.plans.IceboxStatsRule(spark))
    ext.injectFunction((
      FunctionIdentifier(VectorExpressions.CosineName),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, VectorExpressions.CosineName),
      (children: Seq[Expression]) => CosineSimilarityExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(VectorExpressions.DotName),
      new ExpressionInfo(classOf[DotProductExpr].getName, VectorExpressions.DotName),
      (children: Seq[Expression]) => DotProductExpr(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(VectorExpressions.L2Name),
      new ExpressionInfo(classOf[L2SqExpr].getName, VectorExpressions.L2Name),
      (children: Seq[Expression]) => L2SqExpr(children(0), children(1))))
  }
}
