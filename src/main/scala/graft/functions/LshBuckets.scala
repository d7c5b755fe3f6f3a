package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All `tables` random-hyperplane LSH bucket ids of a vector, as one
  * array<long> (index = table) — the key-generation [[Kernel]] of the
  * LSH similarity paths (composed from built-ins it is tables·planes
  * inlined dot-product loops in one generated method).
  *
  * Numerics are bit-identical to the built-in composition it replaces
  * (and therefore to the DuckDB oracle's baked plane constants): per
  * plane, the same strict sequential left-to-right fold as
  * [[DotProduct]] (null elements contribute 0), sign bit set iff
  * `proj >= 0` — a null vector yields 0 for every plane term exactly
  * like the `when(...).otherwise(0)` sum it replaces, and NaN
  * projections set no bit (`NaN >= 0` is false on both paths).
  */
object LshBuckets {

  /** Plane sign vectors indexed `[table * planes + p][dim]`, compared by
    * value.
    */
  final case class Planes(tables: Int, planes: Int, signs: Seq[Seq[Double]]) {
    require(tables >= 1 && planes >= 1 && planes <= 62,
      "need 1..62 planes and at least one table")
    require(signs.length == tables * planes,
      s"signs must have tables*planes rows, got ${signs.length}")
    private[functions] val arr: Array[Array[Double]] =
      signs.map(_.toArray).toArray
    override def toString: String = s"Planes(tables=$tables, planes=$planes)"
  }

  /** Bucket id per table; null vec → every projection term is 0. */
  def buckets(vec: ArrayData, family: Planes): ArrayData = {
    val tables = family.tables
    val planes = family.planes
    val signs = family.arr
    val out = new Array[Long](tables)
    if (vec != null) {
      val n = vec.numElements()
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var p = 0
        while (p < planes) {
          val s = signs(t * planes + p)
          val m = math.min(n, s.length)
          var d = 0.0
          var j = 0
          while (j < m) {
            if (!vec.isNullAt(j)) d += vec.getDouble(j) * s(j)
            j += 1
          }
          if (d >= 0) bucket += (1L << p)
          p += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Column wrapper over the deterministic md5-parity plane family
    * `planeSigns` (built by the caller so both engines share it).
    */
  def forPlanes(vec: Column, tables: Int, planes: Int,
                signs: Array[Array[Double]]): Column =
    Kernel(this, "buckets", ArrayType(LongType, containsNull = false),
      Seq(vec -> ArrayType(DoubleType)),
      consts = Seq(Planes(tables, planes, signs.map(_.toSeq).toSeq)),
      nullSafe = false)
}
