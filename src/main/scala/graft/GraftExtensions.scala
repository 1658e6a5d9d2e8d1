package graft

import graft.functions.Native
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`:
  * registers the native functions ([[Native.functions]]) on every
  * session so SQL users get `graft_simhash64` / `graft_jaccard` /
  * `graft_cosine` / … without any driver-side code. (The operators
  * also register them imperatively via Native.register for sessions
  * built without the config.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TransitiveClosureStrategy)
    Native.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
