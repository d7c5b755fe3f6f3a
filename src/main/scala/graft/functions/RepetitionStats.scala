package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style repetition measures of one document, in a single
  * compiled [[Kernel]] pass: struct(n_chunks, dup_chunk_milli,
  * n_bigrams, top_bigram_milli).
  *
  * The built-in composition computed the top-bigram mass as
  * `array_max(transform(array_distinct(bigrams), b -> size(filter(bigrams, x -> x = b))))`
  * — O(distinct·total) interpreted higher-order-function work,
  * ~22 ms per document at sf0.1; this hash-map frequency count is one
  * linear pass (~100×). Values are bit-identical to the built-in form:
  *  - words = regex-split on a single space, trailing empties kept
  *    (Spark `split(text, " ")` with the default -1 limit);
  *  - chunks = non-overlapping k-word joins, ceil(n/k) of them;
  *  - milli fractions floor the SAME double divisions the Column
  *    expressions evaluated ((x·1000)/n in IEEE double, then floor);
  *  - null text yields (null, 0, 0, 0) exactly like the `when`
  *    fallbacks of the built-in form.
  */
object RepetitionStats {

  private val OutType = StructType(Seq(
    StructField("n_chunks", LongType, nullable = true),
    StructField("dup_chunk_milli", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram_milli", LongType, nullable = false)))

  def stats(text: UTF8String, k: Int): InternalRow = {
    if (text == null)
      return new GenericInternalRow(Array[Any](null, 0L, 0L, 0L))
    // Spark split(text, " "): regex split, limit -1 (empties kept)
    val words = text.toString.split(" ", -1)
    val n = words.length // >= 1 (splitting "" yields [""])
    val nChunks = (n + k - 1) / k
    val distinctChunks = new java.util.HashSet[String](nChunks * 2)
    var i = 0
    while (i < nChunks) {
      val from = i * k
      val until = math.min(from + k, n)
      val sb = new java.lang.StringBuilder
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      distinctChunks.add(sb.toString)
      i += 1
    }
    val dupMilli =
      if (nChunks > 0)
        math.floor(((nChunks - distinctChunks.size) * 1000L).toDouble
          / nChunks).toLong
      else 0L
    val nBigrams = if (n >= 2) (n - 1).toLong else 0L
    var topMilli = 0L
    if (nBigrams > 0) {
      val freq = new java.util.HashMap[String, Int](n * 2)
      var top = 0
      var w = 1
      while (w < n) {
        val bg = words(w - 1) + " " + words(w)
        val c = freq.merge(bg, 1, Integer.sum)
        if (c > top) top = c
        w += 1
      }
      topMilli = math.floor((top * 1000L).toDouble / nBigrams).toLong
    }
    new GenericInternalRow(Array[Any](nChunks.toLong, dupMilli, nBigrams,
                                      topMilli))
  }

  def of(text: Column, k: Int): Column = {
    require(k >= 1, "chunk width must be positive")
    Kernel(this, "stats", OutType,
      Seq(text -> StringType, lit(k) -> IntegerType), nullSafe = false)
  }
}
