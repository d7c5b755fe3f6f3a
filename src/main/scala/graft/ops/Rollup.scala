package graft.ops

import graft.core.{Flag, TierSpec}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tumbling-window rollups and the tier cascade (5m → 1h → 1d → 30d).
  *
  * Semantics generalize the reference's daily→monthly re-grouping
  * (/root/reference/src/vptstools/bin/vph5_to_vpts.py:204-212 — strip a
  * key component, re-aggregate) and its chunked partial-agg + final
  * merge (/root/reference/src/vptstools/s3.py:344-366): every measure
  * is mergeable, so a coarser tier is computed from the *finer tier*,
  * never from raw data — at 100 TB the 1h tier reads the 5m tier (288×
  * smaller), the 1d tier reads the 1h tier, etc.
  *
  * Exact measures and sketches are one kind of per-group summary here:
  * each stored [[Measure]] is defined once, as its column name, its
  * aggregate over raw rows and the aggregate that merges a finer
  * level's column. [[fromRaw]] builds the finest level of any measure
  * set; [[cascade]] merges whatever measure columns a finer level
  * carries.
  *
  * Double-valued measures are quantized to integral micros
  * (`floor(value * 1e6)`) *before* aggregation so every tier is exact
  * integer arithmetic — order-insensitive, reproducible across engines
  * and across shuffle orders (determinism requirement of SURVEY.md
  * §7.2).
  *
  * Plan shape: one hash aggregate per tier (partial → final, map-side
  * combine free from Catalyst); no joins, no windows. The groupBy keys
  * `(series, bucket)` hash-partition evenly as long as series
  * cardinality ≫ shuffle partitions; hot-series skew is handled by
  * [[fromRaw]]'s two-phase salted form.
  */
object Rollup {

  /** Epoch-aligned tumbling bucket start for a tier. */
  def bucket(epoch: Column, tier: TierSpec): Column =
    (epoch - (epoch % tier.seconds)).as("bucket_epoch")

  /** Exact integral micros of a double measure (floor: identical in
    * IEEE double on every engine, unlike half-up vs banker's rounding).
    */
  def micros(value: Column): Column = floor(value * lit(1000000L)).cast("long")

  /** One stored measure: its column `name`, its aggregate over raw rows,
    * and the aggregate that merges a finer level's `name` column into a
    * coarser level.
    */
  final case class Measure(name: String, raw: Column, merge: Column)

  private def summed(name: String, raw: Column): Measure =
    Measure(name, raw, sum(col(name)))

  /** Rows per bucket. */
  val rowCount: Measure = summed("n", count(lit(1)))

  private val sumChars = summed("sum_chars", sum(col("n_chars")))

  private def valueMeasures(gate: Column => Column): Seq[Measure] = {
    val v = gate(col("value_micros"))
    Seq(summed("sum_value_micros", sum(v)),
        Measure("min_value_micros", min(v), min(col("min_value_micros"))),
        Measure("max_value_micros", max(v), max(col("max_value_micros"))))
  }

  /** Row count, character sum and value sum/min/max over every row. */
  val values: Seq[Measure] = Seq(rowCount, sumChars) ++ valueMeasures(identity)

  /** Three-state missingness through the cascade (SURVEY §7.2):
    * per-state counts travel as plain sums (exact at every tier); value
    * measures aggregate OK rows only — NODATA carries no measurement
    * and UNDETECT is below detection, so neither may contaminate
    * sums/extrema (reference semantics: the two missing sentinels
    * round-trip raw→output untouched by aggregation, the reference's
    * tests/test_vpts.py:109-139). A bucket with zero OK
    * rows has null value measures, and null-skipping sum/min/max keep
    * that exact through every merge. Needs a tier-0 `flag` column.
    */
  val flagged: Seq[Measure] = {
    def stateCount(f: Byte, name: String) =
      summed(name, sum(when(col("flag") === f, 1L).otherwise(0L)))
    Seq(rowCount,
        stateCount(Flag.OK, "n_ok"), stateCount(Flag.NODATA, "n_nodata"),
        stateCount(Flag.UNDETECT, "n_undetect"),
        sumChars) ++ valueMeasures(when(col("flag") === Flag.OK, _))
  }

  /** Per-row invariant hash (e.g.
    * `xxhash64(WebPages.extractText(col("html")))`) folded into a
    * per-bucket `text_sha` via bit_xor — XOR is associative and
    * commutative, so every coarser tier's `text_sha` is the XOR over
    * all contributing raw rows: the byte-identical-text invariant
    * travels through the whole cascade as one 8-byte column.
    */
  def textShaOf(rowHash: Column): Measure =
    Measure("text_sha", bit_xor(rowHash), bit_xor(col("text_sha")))

  /** Widest histogram: the log2 band of a long is below 64. */
  private val MaxHistBands = 64

  /** Fixed-band histogram: `h<i>` counts the rows whose `value_micros`
    * falls in log2 band i ([[Sketches.histBand]]) — the exact mergeable
    * distribution aggregate.
    */
  def hist(bands: Int): Seq[Measure] = {
    require(bands >= 1 && bands <= MaxHistBands,
      s"histogram bands must be in 1..$MaxHistBands, got $bands")
    val b = Sketches.histBand(col("value_micros"), bands)
    (0 until bands).map(i => summed(s"h$i", sum(when(b === i, 1L).otherwise(0L))))
  }

  /** HLL sketch of distinct urls, merged by register-wise union. */
  val urlSketch: Measure =
    Measure("key_hll", hll_sketch_agg(col("url")), hll_union_agg(col("key_hll")))

  /** KLL quantile sketch of `value_micros`, merged by sketch merge. */
  val valueSketch: Measure =
    Measure("val_kll", expr("kll_sketch_agg_bigint(value_micros)"),
            expr("kll_merge_agg_bigint(val_kll)"))

  /** Every stored measure by column name — what [[cascade]] merges. */
  private lazy val byName: Map[String, Measure] =
    (flagged ++ hist(MaxHistBands) ++
      Seq(textShaOf(col("text_sha")), urlSketch, valueSketch))
      .map(m => m.name -> m).toMap

  /** Raw rows → finest level of `measures` (plus `text_sha` when
    * `textSha` is given). `pages` needs (seriesCols…, warc_epoch) and
    * the measures' inputs; `value_micros` is derived from `value`
    * unless the frame already carries it.
    *
    * `saltBuckets` switches to the skew-resistant two-phase form: phase
    * 1 aggregates (series, salt, bucket) — spreading a Zipf-head series
    * over `saltBuckets` reducers — and phase 2 merges the partials
    * grouped on the already-aligned `bucket_epoch`. Every measure is
    * mergeable, so both forms are equal (spec-pinned).
    */
  def fromRaw(pages: DataFrame, tier: TierSpec,
              seriesCols: Seq[String] = Seq("domain"),
              textSha: Option[Column] = None,
              measures: Seq[Measure] = values,
              saltBuckets: Option[Int] = None): DataFrame = {
    val all = measures ++ textSha.map(textShaOf)
    val raw = all.map(m => m.raw.as(m.name))
    val rows =
      if (pages.columns.contains("value_micros")) pages
      else pages.withColumn("value_micros", micros(col("value")))
    val (series, buckets) = (seriesCols.map(col), bucket(col("warc_epoch"), tier))
    saltBuckets match {
      case None => aggregate(rows, series :+ buckets, raw)
      case Some(k) =>
        val partials = aggregate(
          rows.withColumn("_salt", pmod(col("event_id"), lit(k))),
          series ++ Seq(col("_salt"), buckets), raw)
        merge(partials, series :+ col("bucket_epoch"), all)
    }
  }

  /** Finer level → coarser `tier`: merges every measure column the
    * finer frame carries, in its column order. Fails if it carries none.
    */
  def cascade(finer: DataFrame, tier: TierSpec,
              seriesCols: Seq[String] = Seq("domain")): DataFrame = {
    val carried = finer.columns.toSeq.flatMap(byName.get)
    require(carried.nonEmpty,
      s"cascade to ${tier.name}: no measure column among " +
        finer.columns.mkString("[", ", ", "]"))
    merge(finer, seriesCols.map(col) :+ bucket(col("bucket_epoch"), tier),
          carried)
  }

  private def merge(finer: DataFrame, keys: Seq[Column],
                    measures: Seq[Measure]): DataFrame =
    aggregate(finer, keys, measures.map(m => m.merge.as(m.name)))

  private def aggregate(df: DataFrame, keys: Seq[Column],
                        aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Derived per-bucket flag from the state counts — any tier, no extra
    * storage: observed (OK) beats below-detection (UNDETECT) beats
    * not-measured (NODATA).
    */
  def bucketFlag: Column =
    when(col("n_ok") > 0, lit(Flag.OK.toInt))
      .when(col("n_undetect") > 0, lit(Flag.UNDETECT.toInt))
      .otherwise(lit(Flag.NODATA.toInt)).cast("int")

  /** DuckDB oracle measures matching [[fromRaw]] of [[flagged]] composed
    * through any number of [[cascade]] steps.
    */
  val flagOracleMeasures: String =
    """CAST(count(*) AS BIGINT) AS n,
      |CAST(sum(CASE WHEN flag = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
      |CAST(sum(CASE WHEN flag = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nodata,
      |CAST(sum(CASE WHEN flag = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_undetect,
      |CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |CAST(sum(CASE WHEN flag = 0 THEN CAST(floor(value * 1000000) AS BIGINT) END) AS BIGINT) AS sum_value_micros,
      |CAST(min(CASE WHEN flag = 0 THEN CAST(floor(value * 1000000) AS BIGINT) END) AS BIGINT) AS min_value_micros,
      |CAST(max(CASE WHEN flag = 0 THEN CAST(floor(value * 1000000) AS BIGINT) END) AS BIGINT) AS max_value_micros""".stripMargin

  /** DuckDB oracle measure list matching [[fromRaw]] of [[values]]
    * composed through any number of [[cascade]] steps (sums of sums =
    * direct sums; casts pin BIGINT vs DuckDB's HUGEINT sum type).
    */
  val oracleMeasures: String =
    """CAST(count(*) AS BIGINT) AS n,
      |CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micros,
      |CAST(min(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS min_value_micros,
      |CAST(max(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS max_value_micros""".stripMargin

  /** DuckDB oracle: direct rollup of the webpages CTE at one tier. */
  def oracleSql(tier: TierSpec): String =
    s"""${graft.ingest.WebPages.oracleCte}
       |SELECT domain,
       |       warc_epoch - (warc_epoch % ${tier.seconds}) AS bucket_epoch,
       |       $oracleMeasures
       |FROM webpages
       |GROUP BY 1, 2""".stripMargin
}
