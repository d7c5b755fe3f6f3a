package graft

import graft.codec.GorillaDecodeExpression
import graft.functions.DotProduct
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

/** SparkSessionExtensions entry point: registers the engine's compiled
  * kernels for SQL use. Wire with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  *  - `gorilla_decode(binary)` →
  *    `array<struct<ts_epoch:bigint,value:double>>` (the generator
  *    inverse of the Gorilla encode aggregator; the encode side stays a
  *    typed `Aggregator`, graft.codec.GorillaAgg, exposed via `udaf`);
  *  - `graft_dot(array<double>, array<double>)` → double.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def register(ext: SparkSessionExtensions, name: String,
                       arity: Int)(build: Seq[Column] => Column): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[StaticInvoke].getName, name),
      (children: Seq[Expression]) => {
        require(children.size == arity, s"$name takes $arity argument(s)")
        GraftColumnBridge.expression(
          build(children.map(GraftColumnBridge.column)))
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "gorilla_decode", 1)(c => GorillaDecodeExpression(c.head))
    register(ext, "graft_dot", 2)(c => DotProduct.dot(c(0), c(1)))
  }
}
