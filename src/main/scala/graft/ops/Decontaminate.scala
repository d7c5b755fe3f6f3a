package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag corpus documents whose k-gram
  * (word-shingle) sets overlap a benchmark/eval set above a containment
  * threshold — the standard training-data step that keeps eval questions
  * out of the training corpus.
  *
  * Containment is measured against the BENCH doc's shingle set
  * (`overlap_milli = 1000·|C ∩ B| / |B|`): a short eval question fully
  * embedded in a long web page scores 1000 even though the page's own
  * Jaccard vs the question is tiny — containment, not Jaccard, is the
  * right decontamination metric.
  *
  * Scale shape (100 TB corpus × small bench set): the bench side is
  * collected to the driver (at most [[Decontaminate.MaxBenchRows]]
  * rows; a larger bench is refused, not allowed to exhaust driver
  * memory) and compiled into an in-row shingle index; the corpus
  * streams past it at scan speed with no join and no exchange. Nothing
  * is ever quadratic in the corpus.
  */
object Decontaminate {

  /** Most bench rows [[overlap]] collects to the driver — the same
    * bound as [[Dedup.ngramJaccard]]'s input guard.
    */
  val MaxBenchRows: Int = 1000000

  /** (doc_id, bench_id, overlap_milli) pairs with containment ≥
    * `thresholdMilli`. Shingle construction is
    * [[graft.functions.WordShingles]] (distinct k-word shingles; short
    * docs yield their single sub-k shingle) — on BOTH sides, via the
    * shared `shingleStrings` helper.
    *
    * The bench side (small by the operator contract — it was already
    * collected by the driver to build a broadcast relation in the
    * join form) is collected once and compiled into the in-row
    * [[graft.functions.DecontamOverlap]] index, so the corpus streams
    * through ONE narrow scan: no corpus shingle explode, no
    * (corpus × bench) pair aggregate, no exchange at all on the corpus
    * side. Value-identical to the explode + broadcast-join + count
    * composition this replaces: `_inter` counts distinct shared
    * shingles, `(_inter * 1000) DIV |B|` is the same positive long
    * floor division as the oracle's `//`, null-text corpus rows score
    * null (explode drops them exactly like their missing shingle
    * rows), and bench ids must be unique (they are group keys in the
    * oracle form).
    *
    * Bench ids must be non-null and castable to long, and the bench
    * side may hold at most [[MaxBenchRows]] rows; either violation
    * fails with an IllegalArgumentException before any corpus work.
    */
  def overlap(corpus: DataFrame, corpusId: String, corpusText: String,
              bench: DataFrame, benchId: String, benchText: String,
              k: Int = 3, thresholdMilli: Long = 800L): DataFrame = {
    val collected = bench
      .select(col(benchId).try_cast("long"), col(benchText).cast("string"))
      .limit(MaxBenchRows + 1)
      .collect()
    require(collected.length <= MaxBenchRows,
      s"decontamination bench side has more than $MaxBenchRows rows; it " +
        "is collected to the driver to build the in-row shingle index")
    require(!collected.exists(_.isNullAt(0)),
      s"bench id column `$benchId` holds a null or non-numeric value; " +
        "bench ids must be non-null long ids")
    val benchRows = collected.map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1))).toSeq
    val scored = graft.functions.DecontamOverlap.of(
      col(corpusText), k, benchRows, thresholdMilli)
    Dedup.spread(corpus)
      .select(col(corpusId).as("doc_id"), explode(scored).as("_m"))
      .select(col("doc_id"), col("_m.bench_id").as("bench_id"),
        col("_m.overlap_milli").as("overlap_milli"))
  }

  /** DuckDB mirror of [[overlap]]. `corpusSel`/`benchSel` are FROM-able
    * subselects exposing (id, text) under the given column names.
    */
  def overlapOracleSql(corpusSel: String, corpusId: String, corpusText: String,
                       benchSel: String, benchId: String, benchText: String,
                       k: Int = 3, thresholdMilli: Long = 800L): String =
    s"""WITH cs AS (
       |  ${Dedup.shingleSetSql(s"($corpusSel) _corp", corpusId, corpusText, k)
             .replace("\n", "\n  ")}
       |),
       |bs AS (
       |  ${Dedup.shingleSetSql(s"($benchSel) _bench", benchId, benchText, k)
             .replace("\n", "\n  ")}
       |),
       |bsz AS (SELECT _id AS bench_id, count(*) AS b FROM bs GROUP BY 1),
       |inter AS (
       |  SELECT cs._id AS doc_id, bs._id AS bench_id, count(*) AS i
       |  FROM cs JOIN bs ON cs.w = bs.w
       |  GROUP BY 1, 2
       |)
       |SELECT doc_id, bench_id,
       |       CAST((i * 1000) // b AS BIGINT) AS overlap_milli
       |FROM inter JOIN bsz USING (bench_id)
       |WHERE (i * 1000) // b >= $thresholdMilli""".stripMargin
}
