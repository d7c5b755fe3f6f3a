package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The full MinHash signature of one document, in-row: array<long> of
  * `numHashes` values, element i = min over the document's DISTINCT
  * k-word shingles of `(hash60(shingle) % P) * a_i + b_i) % P` — a
  * compiled [[Kernel]] in place of exploding every distinct shingle to
  * a row and re-aggregating with one min() column per hash.
  *
  * Values are bit-identical to the explode+agg form: same shingle set
  * ([[WordShingles.shingles]] — the regex split / short-doc / distinct
  * semantics), same base hash ([[Hash60]] % P), same affine constants,
  * and min over the same set. Null text → null (the explode form
  * emitted NO rows for a null document, so callers filter nulls first
  * to keep the row set identical — [[graft.ops.Dedup]] does).
  */
object MinHashSig {

  private val P = Portable.MinHashP

  /** Members 0..n-1 of the [[Portable.affineConsts]] family; equal by n. */
  final case class Affine(n: Int) {
    require(n >= 1, "need at least one hash family member")
    private[functions] val as = Array.tabulate(n)(Portable.affineConsts(_)._1)
    private[functions] val bs = Array.tabulate(n)(Portable.affineConsts(_)._2)
  }

  def signature(text: UTF8String, k: Int, family: Affine): ArrayData = {
    val as = family.as
    val bs = family.bs
    val shingles = WordShingles.shingles(text, k)
    val n = as.length
    val out = new Array[Long](n)
    java.util.Arrays.fill(out, Long.MaxValue)
    var s = 0
    val m = shingles.numElements()
    while (s < m) {
      val base = Hash60.hash(shingles.getUTF8String(s)) % P
      var i = 0
      while (i < n) {
        val v = (base * as(i) + bs(i)) % P
        if (v < out(i)) out(i) = v
        i += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  def of(text: Column, k: Int, numHashes: Int): Column = {
    require(k >= 1, "shingle width must be positive")
    Kernel(this, "signature", ArrayType(LongType, containsNull = false),
      Seq(text -> StringType, lit(k) -> IntegerType),
      consts = Seq(Affine(numHashes)))
  }
}
