package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: consecutive events of one key belong to
  * the same session while the inter-event gap stays ≤ `gapSeconds`; a
  * larger gap opens a new session. The classic batch formulation —
  * one window per key ordered by (time, id): a `lag` marks session
  * starts, a running `sum` over the markers numbers the sessions —
  * ONE exchange + one sort, no self-join, no iteration.
  *
  * The id column is the deterministic tie-break (events at the same
  * instant sort stably and always share a session — their gap is 0).
  *
  * Scale shape: [[assign]]/[[stats]] partition the one window by key,
  * so a Zipf-head key's whole stream lands in one task; they stay as
  * the simple reference form. Production runs [[statsBucketed]], the
  * (key, time bucket) two-phase split, spec-pinned equal to [[stats]].
  */
object Sessionize {

  /** Adds `session_seq` (1-based per key, in time order). */
  def assign(df: DataFrame, keyCol: String, timeCol: String, idCol: String,
             gapSeconds: Long): DataFrame =
    assign(df, Seq(keyCol), timeCol, idCol, gapSeconds)

  /** Multi-column session key (e.g. (domain, url_bucket) at scale). */
  def assign(df: DataFrame, keyCols: Seq[String], timeCol: String,
             idCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol), col(idCol))
    val prev = lag(col(timeCol), 1).over(w)
    df.withColumn("_new",
        when(prev.isNull || col(timeCol) - prev > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_new")
  }

  /** Skew-safe per-session stats — identical rows to [[stats]], but the
    * raw-row window partitions by (key, time bucket), so a Zipf-head key
    * costs one bucket per task, never its whole stream, and the raw rows
    * never leave that phase-1 partitioning: per-LOCAL-session stats
    * aggregate under the same (key, bucket) partitioning (no exchange),
    * and only the session-level stream (one row per local session)
    * crosses the second (and last) exchange.
    *
    * The global session number falls out of ONE carry window over that
    * session stream, partitioned by key and ordered by (bucket, local
    * seq): `session_seq = row_number() - running count of merged
    * boundaries`. Equivalence with the offset form (local seq +
    * sessions in earlier buckets − merges so far): sessions in earlier
    * buckets + local seq IS the row number in that order, and a
    * boundary merges exactly when the first local session of a bucket
    * (`_ls = 1`) starts within `gapSeconds` of the previous session
    * row's last event — the previous row in this order is the last
    * session of the nearest earlier non-empty bucket, whose `_lt` is
    * that bucket's max event time. The final per-global-session merge
    * groups by (keys, session_seq) ⊇ the window's partition keys, so
    * it rides the same exchange.
    *
    * Plan shape (spec-pinned): TWO exchanges total — raw rows cross
    * only the phase-1 (key, bucket) exchange; session-level rows cross
    * the per-key carry exchange; no join, no exchange keyed on the
    * local or global session.
    *
    * Skew: the raw-row window stays bounded by (key, bucket) — a
    * Zipf-head key still costs one bucket per task in phase 1. The
    * carry window is O(local sessions) per key, aggregated before the
    * shuffle (guide §2.3); in the adversarial corner where nearly
    * every event is its own session AND one key owns the stream, that
    * approaches the raw count again. Equality with [[stats]] is
    * spec-pinned.
    */
  def statsBucketed(df: DataFrame, keyCols: Seq[String], timeCol: String,
                    idCol: String, gapSeconds: Long,
                    bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucket width must be positive")
    val keys = keyCols.map(col)
    val bucketed = df.withColumn("_bkt",
      col(timeCol) - pmod(col(timeCol), lit(bucketSeconds)))
    val w1 = Window.partitionBy(keys :+ col("_bkt"): _*)
      .orderBy(col(timeCol), col(idCol))
    val prev = lag(col(timeCol), 1).over(w1)
    val local = bucketed
      .withColumn("_new",
        when(prev.isNull || col(timeCol) - prev > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("_ls", sum(col("_new")).over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // per-local-session stats: grouping keys extend the window's
    // partition keys, so this aggregates WITHOUT a new exchange
    val localStats = local.groupBy(keys ++ Seq(col("_bkt"), col("_ls")): _*)
      .agg(count(lit(1)).as("_n"), min(col(timeCol)).as("_ft"),
           max(col(timeCol)).as("_lt"))
    // carry window over the session stream: a row with _ls = 1 opens a
    // bucket; it merges into the previous session when the inter-bucket
    // gap is within gapSeconds (chains across many narrow buckets
    // collapse correctly — every merged boundary subtracts one)
    val w2 = Window.partitionBy(keys: _*).orderBy(col("_bkt"), col("_ls"))
    val prevLt = lag(col("_lt"), 1).over(w2)
    val mergeRow =
      when(col("_ls") === 1L && prevLt.isNotNull
             && col("_ft") - prevLt <= gapSeconds, 1L)
        .otherwise(0L)
    localStats
      .withColumn("session_seq",
        row_number().over(w2).cast("long") - sum(mergeRow).over(
          w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keys :+ col("session_seq"): _*)
      .agg(sum(col("_n")).as("n_events"),
           min(col("_ft")).as("start_epoch"),
           max(col("_lt")).as("end_epoch"))
      .withColumn("duration_s", col("end_epoch") - col("start_epoch"))
  }

  /** Per-session stats: bounds, event count, duration. */
  def stats(df: DataFrame, keyCol: String, timeCol: String, idCol: String,
            gapSeconds: Long): DataFrame =
    stats(df, Seq(keyCol), timeCol, idCol, gapSeconds)

  /** Per-session stats over a multi-column session key. */
  def stats(df: DataFrame, keyCols: Seq[String], timeCol: String,
            idCol: String, gapSeconds: Long): DataFrame =
    assign(df, keyCols, timeCol, idCol, gapSeconds)
      .groupBy(keyCols.map(col) :+ col("session_seq"): _*)
      .agg(count(lit(1)).as("n_events"),
           min(col(timeCol)).as("start_epoch"),
           max(col(timeCol)).as("end_epoch"))
      .withColumn("duration_s", col("end_epoch") - col("start_epoch"))

  /** DuckDB mirror of [[stats]] over a FROM-able `sel` exposing
    * (keyCol, timeCol, idCol).
    */
  def statsOracleSql(sel: String, keyCol: String, timeCol: String,
                     idCol: String, gapSeconds: Long): String =
    s"""WITH ev AS ($sel),
       |marked AS (
       |  SELECT $keyCol, $timeCol, $idCol,
       |         CASE WHEN lag($timeCol) OVER w IS NULL
       |                OR $timeCol - lag($timeCol) OVER w > $gapSeconds
       |              THEN 1 ELSE 0 END AS newsess
       |  FROM ev
       |  WINDOW w AS (PARTITION BY $keyCol ORDER BY $timeCol, $idCol)
       |),
       |assigned AS (
       |  SELECT $keyCol, $timeCol,
       |         sum(newsess) OVER (PARTITION BY $keyCol ORDER BY $timeCol, $idCol
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM marked
       |)
       |SELECT $keyCol, CAST(session_seq AS BIGINT) AS session_seq,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       min($timeCol) AS start_epoch,
       |       max($timeCol) AS end_epoch,
       |       max($timeCol) - min($timeCol) AS duration_s
       |FROM assigned GROUP BY 1, 2""".stripMargin
}
