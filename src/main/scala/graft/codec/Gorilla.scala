package graft.codec

import scala.collection.mutable.ArrayBuffer

/** Bit-level writer, MSB-first within each byte. */
final class BitWriter(initialBytes: Int = 64) {
  private var buf = new Array[Byte](math.max(initialBytes, 8))
  private var nBits = 0

  private def ensure(moreBits: Int): Unit = {
    val needBytes = (nBits + moreBits + 7) >>> 3
    if (needBytes > buf.length) {
      val bigger = new Array[Byte](math.max(buf.length * 2, needBytes))
      System.arraycopy(buf, 0, bigger, 0, buf.length)
      buf = bigger
    }
  }

  def writeBit(b: Int): Unit = {
    ensure(1)
    if ((b & 1) != 0) buf(nBits >>> 3) = (buf(nBits >>> 3) | (0x80 >>> (nBits & 7))).toByte
    nBits += 1
  }

  /** Write the low `n` bits of `v`, most-significant first. */
  def writeBits(v: Long, n: Int): Unit = {
    ensure(n)
    var i = n - 1
    while (i >= 0) {
      if (((v >>> i) & 1L) != 0L)
        buf(nBits >>> 3) = (buf(nBits >>> 3) | (0x80 >>> (nBits & 7))).toByte
      nBits += 1
      i -= 1
    }
  }

  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, (nBits + 7) >>> 3)
}

/** Bit-level reader matching [[BitWriter]]'s layout. */
final class BitReader(bytes: Array[Byte]) {
  private var pos = 0

  def readBit(): Int = {
    val b = (bytes(pos >>> 3) >>> (7 - (pos & 7))) & 1
    pos += 1
    b
  }

  def readBits(n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 1) | readBit(); i += 1 }
    v
  }
}

/** Gorilla time-series block codec: delta-of-delta timestamps + XOR
  * floats, after Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory
  * Time Series Database", VLDB 2015 (public paper) — the compressed
  * value-block format the target spec requires per (series, window).
  *
  * The reference has no codec; its closest analog is the quantized
  * gain/offset array decode (/root/reference/src/vptstools/vpts.py:48-67),
  * which this generalizes to a lossless bit-packed block.
  *
  * Block layout:
  *   [u32 count][i64 t0][u64 rawBits(v0)][per-point: dod-code, xor-code]
  * DoD buckets ('0' | '10'+7b | '110'+9b | '1110'+12b | '1111'+64b);
  * values: '0' if XOR==0, else '1' + ('0' reuse prev leading/meaningful
  * window | '1' + 5b leadingZeros + 6b (meaningfulBits-1)) + meaningful
  * bits. Encode requires timestamps sorted ascending (callers sort).
  *
  * Lossless: decode(encode(ts, vs)) == (ts, vs) bit-for-bit (incl. NaN
  * payloads and -0.0) — property-tested with ScalaCheck.
  */
object Gorilla {

  def encode(ts: Array[Long], vs: Array[Double]): Array[Byte] = {
    require(ts.length == vs.length, "ts/vs length mismatch")
    val n = ts.length
    val w = new BitWriter(16 + n * 4)
    w.writeBits(n.toLong, 32)
    if (n == 0) return w.toBytes
    w.writeBits(ts(0), 64)
    w.writeBits(java.lang.Double.doubleToRawLongBits(vs(0)), 64)
    var prevTs = ts(0)
    var prevDelta = 0L
    var prevBits = java.lang.Double.doubleToRawLongBits(vs(0))
    var prevLead = -1
    var prevMean = 0 // meaningful bit count of the previous window
    var i = 1
    while (i < n) {
      // --- timestamp: delta-of-delta ---
      val delta = ts(i) - prevTs
      val dod = delta - prevDelta
      if (dod == 0L) w.writeBit(0)
      else if (dod >= -63 && dod <= 64) { w.writeBits(0x2, 2); w.writeBits(dod + 63, 7) }
      else if (dod >= -255 && dod <= 256) { w.writeBits(0x6, 3); w.writeBits(dod + 255, 9) }
      else if (dod >= -2047 && dod <= 2048) { w.writeBits(0xE, 4); w.writeBits(dod + 2047, 12) }
      else { w.writeBits(0xF, 4); w.writeBits(dod, 64) }
      prevDelta = delta
      prevTs = ts(i)
      // --- value: XOR ---
      val bits = java.lang.Double.doubleToRawLongBits(vs(i))
      val xor = bits ^ prevBits
      if (xor == 0L) w.writeBit(0)
      else {
        w.writeBit(1)
        val lead = java.lang.Long.numberOfLeadingZeros(xor)
        val trail = java.lang.Long.numberOfTrailingZeros(xor)
        val mean = 64 - lead - trail
        if (prevLead >= 0 && lead >= prevLead && (64 - lead - mean) >= (64 - prevLead - prevMean)) {
          // fits inside the previous window: reuse it
          w.writeBit(0)
          w.writeBits(xor >>> (64 - prevLead - prevMean), prevMean)
        } else {
          w.writeBit(1)
          // lead is clamped to the 5-bit field; the window must be
          // recomputed against the clamped lead or the decoder would
          // re-shift the meaningful bits to the wrong position
          val l = math.min(lead, 31)
          val meanW = 64 - l - trail
          w.writeBits(l.toLong, 5)
          w.writeBits((meanW - 1).toLong, 6)
          w.writeBits(xor >>> trail, meanW)
          prevLead = l
          prevMean = meanW
        }
      }
      prevBits = bits
      i += 1
    }
    w.toBytes
  }

  def decode(block: Array[Byte]): (Array[Long], Array[Double]) = {
    val r = new BitReader(block)
    val n = r.readBits(32).toInt
    val ts = new Array[Long](n)
    val vs = new Array[Double](n)
    if (n == 0) return (ts, vs)
    ts(0) = r.readBits(64)
    var prevBits = r.readBits(64)
    vs(0) = java.lang.Double.longBitsToDouble(prevBits)
    var prevTs = ts(0)
    var prevDelta = 0L
    var prevLead = 0
    var prevMean = 0
    var i = 1
    while (i < n) {
      // --- timestamp ---
      val dod =
        if (r.readBit() == 0) 0L
        else if (r.readBit() == 0) r.readBits(7) - 63
        else if (r.readBit() == 0) r.readBits(9) - 255
        else if (r.readBit() == 0) r.readBits(12) - 2047
        else r.readBits(64)
      prevDelta += dod
      prevTs += prevDelta
      ts(i) = prevTs
      // --- value ---
      if (r.readBit() == 1) {
        if (r.readBit() == 1) {
          prevLead = r.readBits(5).toInt
          prevMean = r.readBits(6).toInt + 1
        }
        val xor = r.readBits(prevMean) << (64 - prevLead - prevMean)
        prevBits ^= xor
      }
      vs(i) = java.lang.Double.longBitsToDouble(prevBits)
      i += 1
    }
    (ts, vs)
  }
}

/** Growable accumulation buffer for the encode aggregator. */
final class GorillaBuf extends Serializable {
  val ts: ArrayBuffer[Long] = ArrayBuffer.empty
  val vs: ArrayBuffer[Double] = ArrayBuffer.empty
  def add(t: Long, v: Double): this.type = { ts += t; vs += v; this }
  def absorb(o: GorillaBuf): this.type = { ts ++= o.ts; vs ++= o.vs; this }
}
