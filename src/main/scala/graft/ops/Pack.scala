package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the last step of a training-data pipeline: lay
  * documents out contiguously in token space (ascending id order) and
  * cut fixed-length training sequences, so every document knows which
  * sequence(s) it lands in and at what offset. Deterministic (id order,
  * no RNG), integral arithmetic end-to-end.
  *
  * Output per document: `start_offset` (global token position),
  * `seq_id` / `seq_offset` (first sequence and position within it),
  * `end_seq_id` (last sequence the document touches — documents longer
  * than the remaining room span sequences, the standard
  * packed-pretraining layout).
  *
  * The core is a GLOBAL prefix sum. Two forms:
  *  - [[pack]] — one global window (`orderBy` without `partitionBy`):
  *    correct, but a single task sorts the whole corpus — fine for
  *    spot runs, wrong at scale.
  *  - [[packBucketed]] — the scale form, the same two-phase split as
  *    [[Sessionize.statsBucketed]]: a LOCAL cumulative sum per id
  *    bucket (heavy window partitioned by bucket), then per-bucket
  *    token totals (one tiny row per bucket) carried by a second
  *    window whose stream is |buckets|, and the bucket base offset
  *    added back. Spec-pinned identical to [[pack]].
  */
object Pack {

  private def layout(df: DataFrame, nTokensCol: String,
                     seqLen: Long): DataFrame =
    df.withColumn("seq_id", expr(s"start_offset DIV $seqLen"))
      .withColumn("seq_offset", col("start_offset") % seqLen)
      // a zero-token document occupies no tokens: it "touches" only its
      // start sequence (the last-token formula would undershoot seq_id
      // when start_offset sits exactly on a sequence boundary)
      .withColumn("end_seq_id",
        when(col(nTokensCol) > 0L,
          expr(s"(start_offset + $nTokensCol - 1) DIV $seqLen"))
          .otherwise(col("seq_id")))

  /** Naive global-window form (single-task sort — spot runs only). */
  def pack(df: DataFrame, idCol: String, nTokensCol: String,
           seqLen: Long): DataFrame = {
    val w = Window.orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    layout(df.withColumn("start_offset",
             coalesce(sum(col(nTokensCol)).over(w), lit(0L))),
           nTokensCol, seqLen)
  }

  /** Phase-1 bucket width derived from the id span, so phase 2's
    * single-ordered window is BOUNDED: the per-bucket totals stream has
    * `ceil(span / bucketSize) ≤ targetBuckets` rows no matter the
    * corpus size (10^12 ids at the default target → width ~1.5·10^7,
    * phase 2 sees ≤ 65536 rows — one small task, not 10^10 rows). One
    * narrow min/max agg; empty corpus → 1.
    */
  def deriveBucketSize(df: DataFrame, idCol: String,
                       targetBuckets: Long = 65536L): Long = {
    require(targetBuckets >= 1, "need at least one bucket")
    val r = df.agg(min(col(idCol).cast("long")).as("mn"),
                   max(col(idCol).cast("long")).as("mx")).head()
    if (r.isNullAt(0)) 1L
    else {
      val span = r.getLong(1) - r.getLong(0) + 1L
      math.max(1L, (span + targetBuckets - 1L) / targetBuckets)
    }
  }

  /** [[packBucketed]] with the bucket width derived by
    * [[deriveBucketSize]] — the form a pipeline should call: the
    * phase-2 stream bound holds at ANY corpus scale without retuning
    * the knob (spec-pinned).
    */
  def packBucketedAuto(df: DataFrame, idCol: String, nTokensCol: String,
                       seqLen: Long, targetBuckets: Long = 65536L): DataFrame =
    packBucketed(df, idCol, nTokensCol, seqLen,
                 deriveBucketSize(df, idCol, targetBuckets))

  /** Skew-safe two-phase form: identical output, no global sort. The
    * raw-row window partitions by (`idCol DIV bucketSize`); bucket base
    * offsets come from ONE window over the per-bucket totals stream.
    * Prefer [[packBucketedAuto]], which derives `bucketSize` so the
    * phase-2 stream stays bounded at any scale.
    */
  def packBucketed(df: DataFrame, idCol: String, nTokensCol: String,
                   seqLen: Long, bucketSize: Long): DataFrame = {
    require(bucketSize > 0, "bucket size must be positive")
    val bucketed = df.withColumn("_bkt", expr(s"$idCol DIV $bucketSize"))
    val wLocal = Window.partitionBy("_bkt").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = bucketed.withColumn("_loc",
      coalesce(sum(col(nTokensCol)).over(wLocal), lit(0L)))
    val wBase = Window.orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = bucketed.groupBy("_bkt")
      .agg(sum(col(nTokensCol)).as("_btotal"))
      .withColumn("_base", coalesce(sum(col("_btotal")).over(wBase), lit(0L)))
      .select("_bkt", "_base")
    layout(local.join(bases, Seq("_bkt"))
             .withColumn("start_offset", col("_loc") + col("_base"))
             .drop("_bkt", "_loc", "_base"),
           nTokensCol, seqLen)
  }

  /** DuckDB mirror of either form over a FROM-able `sel` exposing
    * (idCol, nTokensCol).
    */
  def packOracleSql(sel: String, idCol: String, nTokensCol: String,
                    seqLen: Long): String =
    s"""WITH d AS ($sel),
       |c AS (
       |  SELECT *,
       |         CAST(coalesce(sum($nTokensCol) OVER (ORDER BY $idCol
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS start_offset
       |  FROM d
       |)
       |SELECT *,
       |       start_offset // $seqLen AS seq_id,
       |       start_offset % $seqLen AS seq_offset,
       |       CASE WHEN $nTokensCol > 0
       |            THEN (start_offset + $nTokensCol - 1) // $seqLen
       |            ELSE start_offset // $seqLen END AS end_seq_id
       |FROM c""".stripMargin
}
