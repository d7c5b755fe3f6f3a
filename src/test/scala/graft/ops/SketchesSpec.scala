package graft.ops

import graft.SparkSuite
import graft.core.TierSpec
import graft.ingest.WebPages
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mergeability of the HLL sketch tier: cascading unions must equal a
  * direct sketch of the whole window, register-for-register.
  */
class SketchesSpec extends AnyFunSuite with SparkSuite {

  private lazy val pages = WebPages.load(spark, sfDir).cache()
  private val urls = Seq(Rollup.urlSketch, Rollup.rowCount)

  test("cascaded sketch estimate == direct sketch estimate (lossless merge)") {
    val cascaded = Sketches.estimated(
      Rollup.cascade(
        Rollup.cascade(Rollup.fromRaw(pages, TierSpec.T5m, measures = urls),
                       TierSpec.T1h),
        TierSpec.T1d))
      .select("domain", "bucket_epoch", "distinct_est")
    val direct = Sketches.estimated(Rollup.fromRaw(pages, TierSpec.T1d, measures = urls))
      .select("domain", "bucket_epoch", "distinct_est")
    assert(cascaded.exceptAll(direct).isEmpty &&
           direct.exceptAll(cascaded).isEmpty)
  }

  test("KLL quantile tier: merged estimates exact for buffer-sized buckets, elements always") {
    val p = pages.withColumn("value_micros", Rollup.micros(col("value")))
    val merged = Sketches.quantEstimated(Rollup.cascade(
      Rollup.fromRaw(p, TierSpec.T1h,
                     measures = Seq(Rollup.valueSketch, Rollup.rowCount)),
      TierSpec.T1d))
    // exact discrete quantiles per (domain, day) for comparison
    val exact = p
      .groupBy(col("domain"), Rollup.bucket(col("warc_epoch"), TierSpec.T1d))
      .agg(count(lit(1)).as("n_exact"),
           expr("percentile_approx(value_micros, 0.5, 100000)").as("x50"),
           collect_list(col("value_micros")).as("vals"))
    val j = merged.join(exact, Seq("domain", "bucket_epoch"))
    // a KLL sketch of ≤ k=200 values retains them all: p50 must be the
    // exact discrete median for small buckets (most of sf0.001's days)
    val smallBad = j.filter(col("n") <= 200 && col("p50") =!= col("x50"))
    assert(smallBad.isEmpty, "merged KLL p50 != exact for buffer-sized buckets")
    assert(j.filter(col("n") <= 200).count() > 0, "property unexercised")
    // estimates are ELEMENTS of the bucket (rank sketch, not interpolation)
    assert(j.filter(!array_contains(col("vals"), col("p50")) ||
                    !array_contains(col("vals"), col("p95"))).isEmpty)
    // counts survive the cascade
    assert(j.filter(col("n") =!= col("n_exact")).isEmpty)
  }

  test("histogram tier: cascade equals direct exactly; band counts conserve rows") {
    val p = pages.withColumn("value_micros", Rollup.micros(col("value")))
    val direct = Rollup.fromRaw(p, TierSpec.T1d, measures = Rollup.hist(8))
    val cascaded = Rollup.cascade(
      Rollup.fromRaw(p, TierSpec.T1h, measures = Rollup.hist(8)),
      TierSpec.T1d)
    assert(cascaded.exceptAll(direct).isEmpty &&
           direct.exceptAll(cascaded).isEmpty)
    // every row lands in exactly one band
    val total = (0 until 8).map(i => sum(col(s"h$i"))).reduce(_ + _)
    assert(direct.agg(total).head().getLong(0) == p.count())
  }

  test("estimates are within 5% of exact distinct counts") {
    val est = Sketches.estimated(Rollup.fromRaw(pages, TierSpec.T1d, measures = urls))
    val exact = pages
      .groupBy(col("domain"), Rollup.bucket(col("warc_epoch"), TierSpec.T1d))
      .agg(countDistinct(col("url")).as("exact"))
    val bad = est.join(exact, Seq("domain", "bucket_epoch"))
      .filter(abs(col("distinct_est") - col("exact")) >
              col("exact") * 0.05 + lit(1))
    assert(bad.isEmpty)
  }
}
