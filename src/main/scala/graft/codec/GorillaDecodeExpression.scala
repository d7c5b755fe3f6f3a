package graft.codec

import graft.functions.Kernel
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Gorilla block (binary) → array<struct<ts_epoch:bigint, value:double>>
  * as a compiled [[Kernel]]: no closure-serialization or encoder
  * boundary per row (unlike a Scala UDF), registrable as the SQL
  * function `gorilla_decode`, null-propagating. One call per *block*,
  * i.e. per (series, window), not per point; decode cost is amortized
  * over the points the subsequent `explode` emits.
  */
object GorillaDecodeExpression {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("ts_epoch", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false))),
    containsNull = false)

  def decode(block: Array[Byte]): ArrayData = {
    val (ts, vs) = Gorilla.decode(block)
    val rows = new Array[Any](ts.length)
    var i = 0
    while (i < ts.length) {
      rows(i) = InternalRow(ts(i), vs(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  def apply(c: Column): Column =
    Kernel(this, "decode", schema, Seq(c -> BinaryType))
}
