package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types._

/** Top-`nprobe` centroid ids of a vector against a CONSTANT codebook,
  * in `(cscore DESC, cent_id ASC)` order — the in-row coarse-quantizer
  * [[Kernel]] of the IVF paths (composed from built-ins it is one
  * inlined dot-product loop per centroid plus struct/array
  * construction in one generated method, measured ~20-60 µs/row).
  *
  * Numerics are bit-identical to the built-in composition it replaces
  * (and to the DuckDB oracle): per centroid,
  * `floor(dot(vec, centv) / (nrm * centn) * 1e9)` with the same strict
  * sequential left-to-right fold as [[DotProduct]], centroid norms
  * precomputed ONCE with the same fold (matching the constant-folded
  * `SQRT(graft_dot(lit, lit))`). Null vec / null nrm rank after every
  * real score (the window ordering's DESC NULLS LAST); ties break to
  * the smallest cent_id (the `row_number` tie-break). A NaN/±Inf score
  * (zero-norm vector — impossible for real embeddings; the round-5
  * ANSI cast would have errored) also ranks last instead of erroring.
  */
object IvfNearest {

  /** The centroids ascending by id (the tie-break order), compared by
    * value.
    */
  final case class Codebook(ids: Seq[Long], vecs: Seq[Seq[Double]]) {
    require(ids.length == vecs.length && ids.nonEmpty,
      "codebook must be non-empty with one id per vector")
    require(ids.zip(ids.tail).forall { case (a, b) => a < b },
      "codebook must be sorted by cent_id (the tie-break order)")
    private[functions] val idArr: Array[Long] = ids.toArray
    private[functions] val vecArr: Array[Array[Double]] =
      vecs.map(_.toArray).toArray
    // centroid norms: same sequential fold the constant-folded
    // SQRT(graft_dot(lit, lit)) evaluated
    private[functions] val norms: Array[Double] = vecArr.map { cv =>
      var s = 0.0
      var i = 0
      while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
      math.sqrt(s)
    }
    override def toString: String = s"Codebook(n=${ids.length})"
  }

  /** Ranks below every real cscore (|cscore| ≤ ~2^31): DESC NULLS LAST. */
  private final val Sentinel = -Long.MaxValue

  /** Top-`nprobe` cent ids by (score DESC, cent_id ASC); the codebook
    * is ascending so the strict-greater scan keeps the smallest id on
    * ties.
    */
  def top(vec: ArrayData, nrm: Double, nprobe: Int,
          book: Codebook): ArrayData = {
    val ids = book.idArr
    val vecs = book.vecArr
    val norms = book.norms
    val n = ids.length
    val scores = new Array[Long](n)
    if (vec == null) {
      java.util.Arrays.fill(scores, Sentinel)
    } else {
      var i = 0
      while (i < n) {
        val cv = vecs(i)
        val m = math.min(vec.numElements(), cv.length)
        var d = 0.0
        var j = 0
        while (j < m) {
          if (!vec.isNullAt(j)) d += vec.getDouble(j) * cv(j)
          j += 1
        }
        val c = math.floor(d / (nrm * norms(i)) * 1e9)
        scores(i) = if (java.lang.Double.isNaN(c) ||
                        java.lang.Double.isInfinite(c)) Sentinel
                    else c.toLong
        i += 1
      }
    }
    val k = math.min(nprobe, n)
    val out = new Array[Long](k)
    val taken = new Array[Boolean](n)
    var r = 0
    while (r < k) {
      var best = -1
      var bestScore = Long.MinValue
      var i = 0
      while (i < n) {
        // strictly greater keeps the earliest (smallest) cent_id on ties
        if (!taken(i) && (best < 0 || scores(i) > bestScore)) {
          best = i; bestScore = scores(i)
        }
        i += 1
      }
      taken(best) = true
      out(r) = ids(best)
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Column wrapper: top-`nprobe` cent ids for (vec, nrm). A null `nrm`
    * reaches the helper as NaN (a null primitive argument would make the
    * whole result null): every score is then NaN and ranks last, exactly
    * the null ordering.
    */
  def topCents(vec: Column, nrm: Column, cents: Seq[(Long, Array[Double])],
               nprobe: Int): Column = {
    require(nprobe >= 1, "nprobe must be positive")
    val sorted = cents.sortBy(_._1)
    Kernel(this, "top", ArrayType(LongType, containsNull = false),
      Seq(vec -> ArrayType(DoubleType),
          coalesce(nrm, lit(Double.NaN)) -> DoubleType,
          lit(nprobe) -> IntegerType),
      consts = Seq(Codebook(sorted.map(_._1), sorted.map(_._2.toSeq))),
      nullSafe = false)
  }
}
