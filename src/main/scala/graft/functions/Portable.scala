package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic primitives: every function here has an
  * exact DuckDB SQL equivalent (emitted by the paired `*Sql` builder),
  * so operators built from them are oracle-checkable value-for-value.
  * All are Catalyst built-ins (codegen'd) — no UDFs.
  */
object Portable {

  /** 60-bit deterministic hash: first 15 hex digits of md5. Positive,
    * fits a BIGINT on both engines. Computed by the compiled [[Hash60]]
    * kernel — value-identical to the reference composition
    * `conv(substring(md5(c), 1, 15), 16, 10)` (and to [[hash60Sql]])
    * without the hex-render + substring + base-16 re-parse detour.
    */
  def hash60(c: Column): Column = Hash60.of(c)

  def hash60Sql(expr: String): String =
    s"CAST(concat('0x', substring(md5($expr), 1, 15)) AS BIGINT)"

  // ------------------------------------------------------------------
  // Affine MinHash permutation family over the Mersenne prime 2^31−1:
  // h_i(x) = (a_i · (hash60(x) mod P) + b_i) mod P. ONE md5 per input
  // + k integer ops, vs k md5s for the seeded-concat family — at
  // corpus scale the per-shingle hashing IS the MinHash map cost.
  // Constants derive deterministically from the family index (public
  // md5 of "a<i>"/"b<i>") and are embedded as literals in the SQL
  // mirror. Products stay < 2^62 — ANSI-overflow-safe on both engines.
  // ------------------------------------------------------------------

  val MinHashP: Long = 2147483647L // 2^31 − 1

  /** Deterministic (a_i, b_i) for family member i: a ∈ [1, P), b ∈ [0, P). */
  def affineConsts(i: Int): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Long =
      BigInt(1, md.digest(s.getBytes("UTF-8"))).toLong & Long.MaxValue
    ((h(s"a$i") % (MinHashP - 1)) + 1, h(s"b$i") % MinHashP)
  }

  /** The shared base hash: hash60(x) mod P (one md5 per input). */
  def minHashBaseSql(expr: String): String =
    s"(${hash60Sql(expr)} % $MinHashP)"

  /** Family member i applied to a precomputed base-hash column. */
  def affine(i: Int, base: Column): Column = {
    val (a, b) = affineConsts(i)
    (base * a + b) % MinHashP
  }

  def affineSql(i: Int, baseExpr: String): String = {
    val (a, b) = affineConsts(i)
    s"($baseExpr * $a + $b) % $MinHashP"
  }

  /** Occurrences of a literal substring — replace-and-measure trick,
    * identical on both engines (no regex dialect divergence).
    */
  def occurrences(c: Column, sub: String): Column =
    ((length(c) - length(replace(c, lit(sub), lit("")))) / lit(sub.length))
      .cast("long")

  def occurrencesSql(expr: String, sub: String): String = {
    val q = sub.replace("'", "''")
    s"CAST((length($expr) - length(replace($expr, '$q', ''))) / ${sub.length} AS BIGINT)"
  }

  /** Whitespace token count for single-space-separated text. */
  def tokenCount(c: Column): Column =
    (length(c) - length(replace(c, lit(" "), lit(""))) + 1).cast("long")

  def tokenCountSql(expr: String): String =
    s"CAST(length($expr) - length(replace($expr, ' ', '')) + 1 AS BIGINT)"
}
