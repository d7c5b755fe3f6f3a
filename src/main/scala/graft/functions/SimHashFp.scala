package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The SimHash fingerprint of one document, in-row: bit j is the sign
  * of `Σ_{distinct words w} (2·bit_j(hash60(w)) − 1)` — a compiled
  * [[Kernel]] in place of exploding every distinct word to a row and
  * re-aggregating through `bits` sum() columns.
  *
  * Values are bit-identical: the same distinct word set (regex split on
  * a single space, empties kept, first-occurrence distinct — the
  * [[WordShingles]] k=1 semantics ≡ `array_distinct(split(text, ' '))`),
  * the same [[Hash60]] word hash, `s_j >= 0` sets the bit exactly like
  * the sum-sign composition. Null text → null (the explode form
  * emitted NO rows for a null document; callers filter nulls first).
  */
object SimHashFp {

  def fingerprint(text: UTF8String, bits: Int): Long = {
    val words = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](words.length * 2)
    val sums = new Array[Long](bits)
    var i = 0
    while (i < words.length) {
      if (seen.add(words(i))) {
        val wh = Hash60.hash(UTF8String.fromString(words(i)))
        var j = 0
        while (j < bits) {
          sums(j) += (if (((wh >>> j) & 1L) == 1L) 1L else -1L)
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < bits) {
      if (sums(j) >= 0) fp += (1L << j)
      j += 1
    }
    fp
  }

  def of(text: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 60, "simhash supports 1..60 bits")
    Kernel(this, "fingerprint", LongType,
      Seq(text -> StringType, lit(bits) -> IntegerType))
  }
}
