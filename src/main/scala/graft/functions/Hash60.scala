package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The portable 60-bit md5 hash (`first 15 hex digits of md5` as a
  * BIGINT) computed directly from the digest bytes — a compiled
  * [[Kernel]] on the hottest hashing path in the engine (every MinHash
  * shingle, chunk hash, fingerprint, sampling key).
  *
  * The built-in composition `conv(substring(md5(c), 1, 15), 16, 10)`
  * renders the digest to a 32-char hex string, copies a substring and
  * re-parses it base-16 per call. The first 60 bits of the big-endian
  * digest ARE the 15-hex-digit number, so `(first 8 bytes as BE long)
  * >>> 4` is bit-identical to the conv chain (and to the DuckDB
  * oracle's `CAST(concat('0x', substring(md5(e), 1, 15)) AS BIGINT)`).
  * The MessageDigest instance is thread-cached. String inputs hash
  * their UTF-8 bytes, exactly like the implicit string→binary cast
  * under the built-in md5.
  */
object Hash60 {

  private val digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def hash(bytes: Array[Byte]): Long = {
    val d = digest.get()
    d.reset()
    val h = d.digest(bytes)
    // first 15 hex digits == first 60 bits of the big-endian digest
    (((h(0) & 0xffL) << 56) | ((h(1) & 0xffL) << 48) |
     ((h(2) & 0xffL) << 40) | ((h(3) & 0xffL) << 32) |
     ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
     ((h(6) & 0xffL) << 8)  |  (h(7) & 0xffL)) >>> 4
  }

  def hash(s: UTF8String): Long = hash(s.getBytes)

  def of(c: Column): Column =
    Kernel(this, "hash", LongType, Seq(c -> BinaryType))
}
