package graft.fmt

import graft.core.{Flag, TierSpec}
import graft.ingest.WebPages
import graft.ops.{GapFill, Rollup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Golden-output frame: the engine's analog of the reference's daily
  * VPTS CSV (tests/data/inventory/nosta_vpts_20230311.csv) over the
  * deterministic synthetic input — used by the committed golden-file
  * byte-compare suite (the reference's filecmp e2e,
  * tests/test_vph5_to_vpts.py:45-68).
  *
  * Column order is normative (vpts_csv.py:261-264: "The order of the
  * variables matter"); all cells are rendered strings; missingness uses
  * the two v1.0 sentinels (nodata="" for gap-filled null-markers and
  * buckets whose rows are all NODATA; undetect="NaN" for buckets whose
  * only observations are below the detection threshold), derived from
  * the flagged cascade's per-state counts; `gap`/`filled` render
  * TRUE/FALSE;
  * `source_file` passes the v1 provenance regex gate.
  */
object VptsGolden {

  /** Normative column order of the golden frame. */
  val columns: Seq[String] =
    Seq("radar", "datetime", "hour", "gap", "filled", "value", "n",
        "source_file")

  /** Cut-off: first two days of the synthetic corpus. */
  val endEpoch = 1704240000L // 2024-01-03T00:00:00Z

  def frame(spark: SparkSession, sfDir: String): DataFrame = {
    // dense() references its input once (plus the 1-row bounds
    // aggregate) since the generator rewrite — no persist needed, no
    // cache handle leaks to callers
    val r1h = Rollup.cascade(
      Rollup.fromRaw(WebPages.load(spark, sfDir), TierSpec.T5m,
        measures = Rollup.flagged),
      TierSpec.T1h)
    val dense = GapFill.forwardFill(GapFill.dense(r1h, TierSpec.T1h))
      .filter(col("bucket_epoch") < endEpoch)
    // real three-state missingness from the flagged cascade: a grid gap
    // is NODATA; an observed bucket renders per its state counts
    // (observed beats below-detection beats not-measured)
    val flag3 =
      when(col("is_gap"), Flag.NODATA)
        .otherwise(Rollup.bucketFlag.cast("tinyint"))
    val bucketTs = timestamp_seconds(col("bucket_epoch"))
    val rendered = dense.select(
      col("domain").as("radar"),
      VptsCsv.iso8601(bucketTs).as("datetime"),
      hour(bucketTs).cast("string").as("hour"),
      VptsCsv.numberToBoolStr(when(col("is_gap"), 1).otherwise(0)).as("gap"),
      VptsCsv.numberToBoolStr(when(col("filled"), 1).otherwise(0)).as("filled"),
      VptsCsv.renderValue(col("sum_value_micros"), flag3).as("value"),
      VptsCsv.renderValue(col("n"), flag3).as("n"),
      VptsCsv.checkSourceFile(concat(
        col("domain"), lit("_vpts_"),
        date_format(bucketTs, "yyyyMMdd"), lit(".csv"))).as("source_file"))
    VptsCsv.sortSpec(rendered, "radar", "datetime", "hour", "source_file")
      .select(columns.map(col): _*)
  }

  /** Render to a single deterministic CSV string (header + rows) —
    * comparable byte-for-byte with the committed golden.
    */
  def csvString(spark: SparkSession, sfDir: String): String = {
    val rows = frame(spark, sfDir).collect().map(_.toSeq.map {
      case null => ""
      case s    => s.toString
    }.mkString(","))
    (columns.mkString(",") +: rows).mkString("", "\n", "\n")
  }
}
