package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled dot product of two `array<double>` columns — the inner loop
  * of every similarity path (cosine scoring, norms, LSH plane
  * projections). The built-in form
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is higher-order-function
  * work, the first case the [[Kernel]] doc names.
  *
  * Numerics: a strict sequential left-to-right fold over pairwise
  * products — bit-identical to the built-in composition it replaces
  * and to the DuckDB oracle's `list_sum(list_transform(list_zip(…)))`,
  * so every oracle stays hash-green. Arrays of unequal length multiply
  * over the common prefix (embeddings are fixed-width; the guard keeps
  * the kernel total). Null ELEMENTS are treated as 0 contribution —
  * the engine's embedding columns never contain null elements.
  */
object DotProduct {

  def product(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  def dot(a: Column, b: Column): Column =
    Kernel(this, "product", DoubleType,
      Seq(a -> ArrayType(DoubleType), b -> ArrayType(DoubleType)))
}
