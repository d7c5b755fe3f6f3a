package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document benchmark-containment scores against a CONSTANT bench
  * shingle index, in-row: `array<struct<bench_id, overlap_milli>>` of
  * every bench doc whose containment `1000·|C ∩ B| / |B|` meets the
  * threshold, ascending by bench_id.
  *
  * The bench side of decontamination is SMALL by the operator's
  * contract (the driver collects it). Holding it as a shingle →
  * posting-list index inside this [[Kernel]] lets the corpus side
  * score at scan speed: the corpus is never exploded into shingle rows
  * and no (corpus × bench) pair stream crosses an exchange.
  *
  * Semantics are identical to the explode/join/aggregate composition
  * it replaces: the shingle set is [[WordShingles.shingleStrings]] (the
  * single source of truth for both sides), `_inter` counts DISTINCT
  * corpus shingles present in the bench doc's distinct set, and
  * `overlap_milli = (_inter * 1000) DIV |B|` (both positive, so Java
  * long division ≡ the oracle's floor `//`). Null corpus text → null
  * (the explode drops the row, exactly as the old shingle explode
  * produced no rows); a doc with no qualifying bench doc → empty array
  * (explode drops it, like a join with no surviving pair).
  */
object DecontamOverlap {

  /** Nullable fields on purpose: the exploded columns keep the same
    * nullable schema the join/aggregate composition produced.
    */
  private val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("bench_id", LongType, nullable = true),
      StructField("overlap_milli", LongType, nullable = true))),
    containsNull = true)

  /** The bench docs (non-null text, ascending unique id) and their
    * shingle → posting-list index, compared by the docs they index.
    */
  final case class BenchIndex(k: Int, thresholdMilli: Long,
                              docs: Seq[(Long, String)]) {
    require(k >= 1, "shingle width must be positive")
    private[functions] val ids: Array[Long] = docs.map(_._1).toArray
    require(ids.zip(ids.drop(1)).forall { case (a, b) => a < b },
      "bench ids must be unique and ascending (the emission order)")
    private[functions] val sizes = new Array[Long](ids.length)
    private[functions] val postings: java.util.HashMap[String, Array[Int]] = {
      val lists = new java.util.HashMap[String, mutable.ArrayBuilder.ofInt]()
      for (((_, txt), idx) <- docs.zipWithIndex) {
        val set = WordShingles.shingleStrings(UTF8String.fromString(txt), k)
        sizes(idx) = set.size.toLong
        set.forEach(s =>
          lists.computeIfAbsent(s, _ => new mutable.ArrayBuilder.ofInt)
            .addOne(idx))
      }
      val out = new java.util.HashMap[String, Array[Int]](lists.size * 2)
      lists.forEach((s, b) => out.put(s, b.result()))
      out
    }
    override def toString: String =
      s"BenchIndex(k=$k, thresholdMilli=$thresholdMilli, docs=${ids.length})"
  }

  def score(text: UTF8String, index: BenchIndex): ArrayData = {
    val benchIds = index.ids
    val benchSizes = index.sizes
    val postings = index.postings
    val thresholdMilli = index.thresholdMilli
    val shingles = WordShingles.shingleStrings(text, index.k)
    val counts = new Array[Int](benchIds.length)
    val it = shingles.iterator()
    while (it.hasNext) {
      val post = postings.get(it.next())
      if (post != null) {
        var i = 0
        while (i < post.length) { counts(post(i)) += 1; i += 1 }
      }
    }
    var n = 0
    var i = 0
    while (i < counts.length) {
      if (counts(i) > 0 &&
          counts(i).toLong * 1000L / benchSizes(i) >= thresholdMilli) n += 1
      i += 1
    }
    val out = new Array[AnyRef](n)
    var o = 0
    i = 0
    while (i < counts.length) {
      if (counts(i) > 0) {
        val om = counts(i).toLong * 1000L / benchSizes(i)
        if (om >= thresholdMilli) {
          out(o) = new GenericInternalRow(
            Array[Any](benchIds(i), om)): InternalRow
          o += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Builds the bench index from driver-side (bench_id, text) rows and
    * returns the scoring column. Bench ids are group keys of the
    * containment measure, so a duplicated id is refused. Null-text
    * bench docs are skipped (they have no shingles, so nothing could
    * ever match them).
    */
  def of(corpusText: Column, k: Int, bench: Seq[(Long, String)],
         thresholdMilli: Long): Column = {
    val dups = bench.groupBy(_._1).collect { case (id, rs) if rs.size > 1 => id }
      .toSeq.sorted
    require(dups.isEmpty, s"bench ids must be unique; ${dups.size} duplicated: " +
      dups.take(20).mkString(", ") + (if (dups.size > 20) ", ..." else ""))
    val live = bench.filter(_._2 != null).sortBy(_._1)
    Kernel(this, "score", OutType, Seq(corpusText -> StringType),
      consts = Seq(BenchIndex(k, thresholdMilli, live)))
  }
}
