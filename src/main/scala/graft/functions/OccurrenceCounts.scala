package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Non-overlapping occurrence counts of a fixed set of literal
  * substrings in ` text ` (one leading/trailing space pad), as one
  * array<long> — the stopword-scoring [[Kernel]] behind langId/quality.
  *
  * The built-in [[Portable.occurrences]] composition materializes a
  * replaced copy of the document per substring
  * (`length(replace(padded, sub, ''))`), ~20 copies per document for
  * the language/quality scorers. This kernel pads once and runs one
  * allocation-free indexOf scan per substring. Counts are identical:
  * `replace` consumes matches greedily left-to-right, exactly the
  * indexOf loop, and `(len − len(replaced)) / len(sub)` equals the
  * match count. Null text → null (the built-in chain's null
  * propagation).
  */
object OccurrenceCounts {

  /** The substrings, compared by value: independently built scorer
    * columns of one projection are `semanticEquals`, so subexpression
    * elimination evaluates the kernel once.
    */
  final case class Substrings(subs: Seq[String]) {
    require(subs.nonEmpty && subs.forall(_.nonEmpty),
      "need at least one non-empty substring")
    private[functions] val arr: Array[String] = subs.toArray
    override def toString: String = s"Substrings(n=${subs.length})"
  }

  def counts(text: UTF8String, substrings: Substrings): ArrayData = {
    val subs = substrings.arr
    val padded = " " + text.toString + " "
    val out = new Array[Long](subs.length)
    var s = 0
    while (s < subs.length) {
      val sub = subs(s)
      var c = 0L
      var from = 0
      var i = padded.indexOf(sub, from)
      while (i >= 0) {
        c += 1
        from = i + sub.length
        i = padded.indexOf(sub, from)
      }
      out(s) = c
      s += 1
    }
    new GenericArrayData(out)
  }

  def of(text: Column, subs: Seq[String]): Column =
    Kernel(this, "counts", ArrayType(LongType, containsNull = false),
      Seq(text -> StringType), consts = Seq(Substrings(subs)))
}
