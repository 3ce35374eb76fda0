package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.{DotProductRewrite, GraftFunctions}

/** Session extensions for the graft engine: every SQL function in
  * [[GraftFunctions.table]], plus the [[DotProductRewrite]] optimizer rule.
  * Graft's own mains get the functions alone, from [[GraftSession.local]].
  * Install it with `.withExtensions(new GraftExtensions)` on a session
  * builder, or with `--conf spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), builder))
    }
    // declarative HOF dot products over float arrays lower to the codegen
    // kernel automatically (see DotProductRewrite)
    ext.injectOptimizerRule(_ => DotProductRewrite)
  }
}
