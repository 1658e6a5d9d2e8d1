package graft

import graft.functions.{CosineExpr, JaccardExpr, JsonPathsExpr, MinHash16Expr, SimHash64Expr, TopKAgg}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`:
  * registers the native functions on every session so SQL users get
  * `graft_simhash64` / `graft_jaccard` / `graft_cosine` without any
  * driver-side code. (The operators also register them imperatively
  * via Native.register for sessions built without the config.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TransitiveClosureStrategy)
    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo("graft.functions.SimHash64Expr", "graft_simhash64"),
      exprs => SimHash64Expr(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_minhash16"),
      new ExpressionInfo("graft.functions.MinHash16Expr", "graft_minhash16"),
      exprs => MinHash16Expr(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo("graft.functions.JaccardExpr", "graft_jaccard"),
      exprs => JaccardExpr(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      new ExpressionInfo("graft.functions.CosineExpr", "graft_cosine"),
      exprs => CosineExpr(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_json_paths"),
      new ExpressionInfo("graft.functions.JsonPathsExpr", "graft_json_paths"),
      exprs => JsonPathsExpr(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      new ExpressionInfo("graft.functions.TopKAgg", "graft_topk"),
      exprs => TopKAgg(exprs(0), exprs(1), exprs(2))))
  }
}
