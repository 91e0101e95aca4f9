package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension hook so the engine's custom SQL functions
  * ([[functions.SqlFunctions.all]]) are available in any session started
  * with `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`): the injection path for
  * clusters where code can't call [[functions.SqlFunctions.setup]] per
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    functions.SqlFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
