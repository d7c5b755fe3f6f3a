package graft.ops

import graft.core.TierSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tumbling-window rollups and the tier cascade (5m → 1h → 1d → 30d).
  *
  * Semantics generalize the reference's daily→monthly re-grouping
  * (/root/reference/src/vptstools/bin/vph5_to_vpts.py:204-212 — strip a
  * key component, re-aggregate) and its chunked partial-agg + final
  * merge (/root/reference/src/vptstools/s3.py:344-366): every measure
  * is mergeable (count/sum/min/max), so a coarser tier is computed from
  * the *finer tier*, never from raw data — at 100 TB the 1h tier reads
  * the 5m tier (288× smaller), the 1d tier reads the 1h tier, etc.
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
  * cardinality ≫ shuffle partitions; hot-series skew is handled by the
  * two-phase salted variant [[fromRawSalted]].
  */
object Rollup {

  /** Epoch-aligned tumbling bucket start for a tier. */
  def bucket(epoch: Column, tier: TierSpec): Column =
    (epoch - (epoch % tier.seconds)).as("bucket_epoch")

  /** Exact integral micros of a double measure (floor: identical in
    * IEEE double on every engine, unlike half-up vs banker's rounding).
    */
  def micros(value: Column): Column = floor(value * lit(1000000L)).cast("long")

  private val measures: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("n_chars")).as("sum_chars"),
    sum(col("value_micros")).as("sum_value_micros"),
    min(col("value_micros")).as("min_value_micros"),
    max(col("value_micros")).as("max_value_micros"))

  private val merged: Seq[Column] = Seq(
    sum(col("n")).as("n"),
    sum(col("sum_chars")).as("sum_chars"),
    sum(col("sum_value_micros")).as("sum_value_micros"),
    min(col("min_value_micros")).as("min_value_micros"),
    max(col("max_value_micros")).as("max_value_micros"))

  /** Raw web pages → finest tier. `pages` needs columns
    * (seriesCols…, warc_epoch, n_chars, value).
    *
    * `textSha`: optional per-row invariant hash (e.g.
    * `xxhash64(WebPages.extractText(col("html")))`). Folded into a
    * per-bucket `text_sha` via bit_xor — XOR is associative and
    * commutative, so every coarser tier's `text_sha` is the XOR over
    * all contributing raw rows: the byte-identical-text invariant
    * travels through the whole cascade as one 8-byte column.
    */
  def fromRaw(pages: DataFrame, tier: TierSpec,
              seriesCols: Seq[String] = Seq("domain"),
              textSha: Option[Column] = None): DataFrame = {
    val aggs = measures ++ textSha.map(c => bit_xor(c).as("text_sha")).toSeq
    pages
      .withColumn("value_micros", micros(col("value")))
      .groupBy(seriesCols.map(col) :+ bucket(col("warc_epoch"), tier): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Finer tier → coarser tier (partial-agg merge). Input must be the
    * output of [[fromRaw]] or a previous [[cascade]] step. A `text_sha`
    * column, if present, merges by XOR.
    */
  def cascade(finer: DataFrame, tier: TierSpec,
              seriesCols: Seq[String] = Seq("domain")): DataFrame = {
    val aggs =
      if (finer.columns.contains("text_sha"))
        merged :+ bit_xor(col("text_sha")).as("text_sha")
      else merged
    finer
      .groupBy(seriesCols.map(col) :+ bucket(col("bucket_epoch"), tier): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  // ------------------------------------------------------------------
  // Three-state missingness through the cascade (SURVEY §7.2)
  // ------------------------------------------------------------------

  /** Flag-aware measures: per-state counts travel as plain sums (exact
    * at every tier); value measures aggregate OK rows only — NODATA
    * carries no measurement and UNDETECT is below detection, so neither
    * may contaminate sums/extrema (reference semantics: the two missing
    * sentinels round-trip raw→output untouched by aggregation,
    * /root/reference/tests/test_vpts.py:109-139). A bucket with zero OK
    * rows has null value measures, and null-skipping sum/min/max keep
    * that exact through every merge.
    */
  private val flagMeasures: Seq[Column] = {
    import graft.core.Flag
    def cnt(f: Byte, name: String) =
      sum(when(col("flag") === f, 1L).otherwise(0L)).as(name)
    Seq(
      count(lit(1)).as("n"),
      cnt(Flag.OK, "n_ok"), cnt(Flag.NODATA, "n_nodata"),
      cnt(Flag.UNDETECT, "n_undetect"),
      sum(col("n_chars")).as("sum_chars"),
      sum(when(col("flag") === Flag.OK, col("value_micros"))).as("sum_value_micros"),
      min(when(col("flag") === Flag.OK, col("value_micros"))).as("min_value_micros"),
      max(when(col("flag") === Flag.OK, col("value_micros"))).as("max_value_micros"))
  }

  private val flagMerged: Seq[Column] = Seq(
    sum(col("n")).as("n"),
    sum(col("n_ok")).as("n_ok"),
    sum(col("n_nodata")).as("n_nodata"),
    sum(col("n_undetect")).as("n_undetect"),
    sum(col("sum_chars")).as("sum_chars"),
    sum(col("sum_value_micros")).as("sum_value_micros"),
    min(col("min_value_micros")).as("min_value_micros"),
    max(col("max_value_micros")).as("max_value_micros"))

  /** Raw pages (with a tier-0 `flag` column) → finest flagged tier. */
  def fromRawFlagged(pages: DataFrame, tier: TierSpec,
                     seriesCols: Seq[String] = Seq("domain"),
                     textSha: Option[Column] = None): DataFrame = {
    val aggs = flagMeasures ++ textSha.map(c => bit_xor(c).as("text_sha")).toSeq
    pages
      .withColumn("value_micros", micros(col("value")))
      .groupBy(seriesCols.map(col) :+ bucket(col("warc_epoch"), tier): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Finer flagged tier → coarser flagged tier. */
  def cascadeFlagged(finer: DataFrame, tier: TierSpec,
                     seriesCols: Seq[String] = Seq("domain")): DataFrame = {
    val aggs =
      if (finer.columns.contains("text_sha"))
        flagMerged :+ bit_xor(col("text_sha")).as("text_sha")
      else flagMerged
    finer
      .groupBy(seriesCols.map(col) :+ bucket(col("bucket_epoch"), tier): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Derived per-bucket flag from the state counts — any tier, no extra
    * storage: observed (OK) beats below-detection (UNDETECT) beats
    * not-measured (NODATA).
    */
  def bucketFlag: Column = {
    import graft.core.Flag
    when(col("n_ok") > 0, lit(Flag.OK.toInt))
      .when(col("n_undetect") > 0, lit(Flag.UNDETECT.toInt))
      .otherwise(lit(Flag.NODATA.toInt)).cast("int")
  }

  /** Skew-resistant flagged variant: two-phase flag-aware aggregation —
    * phase 1 over (series, salt, bucket) spreads a Zipf-head series
    * over `saltBuckets` reducers, phase 2 merges the partials. Exactly
    * equal to [[fromRawFlagged]] (all measures mergeable; XOR text_sha
    * included) — equality is spec-pinned, so the production runner can
    * flip it on for hot-domain inputs without a correctness delta.
    */
  def fromRawFlaggedSalted(pages: DataFrame, tier: TierSpec, saltBuckets: Int,
                           seriesCols: Seq[String] = Seq("domain"),
                           textSha: Option[Column] = None): DataFrame = {
    val aggs1 = flagMeasures ++ textSha.map(c => bit_xor(c).as("text_sha")).toSeq
    val salted = pages
      .withColumn("value_micros", micros(col("value")))
      .withColumn("_salt", pmod(col("event_id"), lit(saltBuckets)))
      .groupBy(seriesCols.map(col) ++
        Seq(col("_salt"), bucket(col("warc_epoch"), tier)): _*)
      .agg(aggs1.head, aggs1.tail: _*)
    val aggs2 =
      if (textSha.isDefined) flagMerged :+ bit_xor(col("text_sha")).as("text_sha")
      else flagMerged
    salted
      .groupBy(seriesCols.map(col) :+ col("bucket_epoch"): _*)
      .agg(aggs2.head, aggs2.tail: _*)
  }

  /** DuckDB oracle measures matching [[fromRawFlagged]] composed through
    * any number of [[cascadeFlagged]] steps.
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

  /** Skew-resistant variant: two-phase aggregation with a salt on the
    * series key. Phase 1 aggregates (series, salt, bucket) — spreading a
    * hot series over `saltBuckets` reducers; phase 2 merges the partials.
    * Use when one domain dominates (Zipf head at Common-Crawl scale).
    */
  def fromRawSalted(pages: DataFrame, tier: TierSpec, saltBuckets: Int,
                    seriesCols: Seq[String] = Seq("domain")): DataFrame = {
    val salted = pages
      .withColumn("value_micros", micros(col("value")))
      .withColumn("_salt", pmod(col("event_id"), lit(saltBuckets)))
      .groupBy(seriesCols.map(col) ++ Seq(col("_salt"), bucket(col("warc_epoch"), tier)): _*)
      .agg(measures.head, measures.tail: _*)
    salted
      .groupBy(seriesCols.map(col) :+ col("bucket_epoch"): _*)
      .agg(merged.head, merged.tail: _*)
  }

  /** DuckDB oracle measure list matching [[fromRaw]] composed through any
    * number of [[cascade]] steps (sums of sums = direct sums; casts pin
    * BIGINT vs DuckDB's HUGEINT sum type).
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
