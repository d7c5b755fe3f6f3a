package graft.codec

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Spark surface of the Gorilla codec: a typed [[Aggregator]] that
  * packs all (ts, value) points of a group into one compressed binary
  * block, and the inverse generator that explodes a block back to rows.
  *
  * Points are accumulated (partial aggregation + merge work normally —
  * shuffle order does not matter) and sorted by timestamp at `finish`,
  * since delta-of-delta needs monotone timestamps. Blocks are bounded
  * by construction: one block per (series, tier-window), e.g. a 1d
  * window of 5s-cadence raw points ≈ 17k points — well within buffer
  * budget. This is the only custom aggregation machinery in the engine
  * (per the target spec: "no RDD fallback except inside the Gorilla
  * codec UDAF" — here even the codec avoids RDDs).
  */
object GorillaAgg {

  /** ts-sort is stable on (ts, value) so equal-ts points round-trip as
    * the same multiset.
    */
  val encodeAgg: Aggregator[(Long, Double), GorillaBuf, Array[Byte]] =
    new Aggregator[(Long, Double), GorillaBuf, Array[Byte]] {
      def zero: GorillaBuf = new GorillaBuf
      def reduce(b: GorillaBuf, a: (Long, Double)): GorillaBuf = b.add(a._1, a._2)
      def merge(b1: GorillaBuf, b2: GorillaBuf): GorillaBuf = b1.absorb(b2)
      def finish(b: GorillaBuf): Array[Byte] = {
        val pts = b.ts.zip(b.vs).sortBy(p => (p._1, p._2)).toArray
        Gorilla.encode(pts.map(_._1), pts.map(_._2))
      }
      def bufferEncoder: Encoder[GorillaBuf] = Encoders.kryo[GorillaBuf]
      def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }

  private implicit val tupleEnc: Encoder[(Long, Double)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)

  /** Column function: gorillaEncode(tsEpoch, value) -> binary block. */
  def gorillaEncode(ts: Column, value: Column): Column =
    udaf(encodeAgg).apply(ts, value)

  /** Column function: block -> array<struct<ts_epoch, value>>. Use with
    * `inline`/`explode` to regenerate point rows. Backed by the compiled
    * [[GorillaDecodeExpression]] kernel (no UDF encoder boundary).
    */
  def gorillaDecode(block: Column): Column =
    GorillaDecodeExpression(block)

  /** Round-trip convenience: encode per group, decode, explode back to
    * (groupCols…, ts_epoch, value) rows — the identity on the input
    * multiset; used by the `gorilla_roundtrip` correctness gate and the
    * compression specs.
    */
  def roundTrip(df: DataFrame, groupCols: Seq[String],
                tsCol: String, valueCol: String): DataFrame = {
    val enc = df.groupBy(groupCols.map(col): _*)
      .agg(gorillaEncode(col(tsCol), col(valueCol)).as("block"))
    enc.select(groupCols.map(col) :+ explode(gorillaDecode(col("block"))).as("pt"): _*)
      .select(groupCols.map(col) ++ Seq(col("pt.ts_epoch"), col("pt.value")): _*)
  }
}
