package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct k-word shingles of single-space text, first-occurrence
  * order, as one compiled [[Kernel]] pass — the shingle generator
  * behind MinHash signatures and decontamination.
  *
  * Replaces `array_distinct(transform(sequence(1, greatest(n-k+1, 1)),
  * i -> concat_ws(' ', slice(w, i, k))))` with identical output: words
  * from the same regex split (single space, empties kept), one shingle
  * per start position 1..max(n−k+1, 1) (short documents yield their
  * single sub-k shingle), distincted preserving first occurrence
  * exactly like `array_distinct`. Null text → null (so `explode` drops
  * the row, like the built-in null chain).
  */
object WordShingles {

  /** The distinct shingle set itself (first-occurrence order) — shared
    * by [[shingles]] and the driver-side bench-postings build of
    * [[DecontamOverlap]], so both sides of the containment measure use
    * the exact same shingle semantics by construction.
    */
  def shingleStrings(text: UTF8String, k: Int): java.util.LinkedHashSet[String] = {
    // Spark split(text, " "): regex split, limit -1 (empties kept)
    val words = text.toString.split(" ", -1)
    val n = words.length
    val m = math.max(n - k + 1, 1)
    val seen = new java.util.LinkedHashSet[String](m * 2)
    var i = 0
    while (i < m) {
      val until = math.min(i + k, n)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < until) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  def shingles(text: UTF8String, k: Int): ArrayData = {
    val seen = shingleStrings(text, k)
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) {
      out(o) = UTF8String.fromString(it.next())
      o += 1
    }
    new GenericArrayData(out)
  }

  def of(text: Column, k: Int): Column = {
    require(k >= 1, "shingle width must be positive")
    Kernel(this, "shingles", ArrayType(StringType, containsNull = false),
      Seq(text -> StringType, lit(k) -> IntegerType))
  }
}
