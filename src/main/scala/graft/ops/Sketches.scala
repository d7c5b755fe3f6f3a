package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reading the mergeable-sketch tier columns that [[Rollup]] builds
  * and cascades (its `urlSketch`, `valueSketch` and `hist` measures).
  *
  * The reference has no sketches (SURVEY.md §2.7); they extend the
  * tier design for the quantities a 100 TB rollup cannot keep exactly.
  * The key property is *mergeability*: the coarser tier unions the
  * finer tier's HLL sketches (register-wise max — Apache DataSketches
  * HLL via Spark's `hll_sketch_agg`/`hll_union_agg`), so
  * `estimate(union(5m sketches of a day)) == estimate(sketch(whole day))`
  * EXACTLY — union over disjoint slices reproduces the same registers.
  * A plain `approx_count_distinct` number would not re-aggregate; the
  * same holds for KLL quantile sketches (`kll_merge_agg_bigint`) and
  * the per-band histogram counts (sums).
  */
object Sketches {

  /** Materialize the distinct-url estimate column. */
  def estimated(tierDf: DataFrame): DataFrame =
    tierDf.withColumn("distinct_est", hll_sketch_estimate(col("key_hll")))
      .drop("key_hll")

  /** Materialize quantile estimates (actual elements of the bucket —
    * KLL is a rank sketch, exact while the bucket fits the sketch's
    * buffer, ~1.7% rank error beyond).
    */
  def quantEstimated(tierDf: DataFrame,
                     qs: Seq[(String, Double)] = Seq("p50" -> 0.5,
                                                     "p95" -> 0.95)): DataFrame =
    qs.foldLeft(tierDf) { case (df, (name, q)) =>
      df.withColumn(name, expr(s"kll_sketch_get_quantile_bigint(val_kll, $q)"))
    }.drop("val_kll")

  // ------------------------------------------------------------------
  // Fixed-band HISTOGRAM tier: per-bucket value distributions as K
  // per-band count columns — the EXACT mergeable aggregate (coarser
  // tiers SUM the finer tier's band counts; no approximation, no
  // sketch bytes, deterministic → safe for tier-table checksums and
  // oracle-checkable value-for-value). Log2 bands: band(v) =
  // min(floor(log2(1 + max(v,0))) but integer-exact via length of the
  // binary representation — width of `1 + max(v,0)` in bits, capped.
  // ------------------------------------------------------------------

  /** Integer-exact log2 band of a non-negative value: the bit-width of
    * v+1, capped at `bands−1`. Built-ins only (no doubles near band
    * edges), mirrored exactly in [[histBandSql]].
    */
  def histBand(v: Column, bands: Int): Column =
    least(length(conv((greatest(v, lit(0L)) + 1L).cast("string"), 10, 2)) - 1,
          lit(bands - 1)).cast("int")

  def histBandSql(expr: String, bands: Int): String =
    s"least(length(bin(greatest($expr, 0) + 1)) - 1, ${bands - 1})"
}
