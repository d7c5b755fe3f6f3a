package graft.ops

import graft.core.CurationRuleset
import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language-ID
  * (stopword n-gram heuristic), quality scoring, token counting,
  * document fingerprinting. All arithmetic is integral (milli-units)
  * so results are exact and oracle-checkable.
  *
  * No reference counterpart — these extend the engine for web-text
  * curation at Common-Crawl scale. Everything is a narrow projection
  * (no shuffle): at 100 TB these run at scan speed inside whole-stage
  * codegen.
  */
object TextStats {

  /** (lang, stopwords) table of the DEFAULT ruleset — the knobs now
    * live in the versioned [[CurationRuleset]] registry; every operator
    * below takes a ruleset (defaulting to
    * [[CurationRuleset.Default]]).
    */
  val stopwords: Seq[(String, Seq[String])] = CurationRuleset.Default.stopwords

  private def paddedSql(e: String): String = s"concat(' ', $e, ' ')"

  /** One compiled occurrence pass for EVERY language's stopwords
    * ([[graft.functions.OccurrenceCounts]]): the per-word
    * replace-and-measure composition copied the document once per
    * stopword (~20 copies/row across langId + quality). The substrings
    * compare by value, so the scorer columns of one
    * projection share a single evaluation via subexpression
    * elimination. Element order = flattened rs.stopwords order.
    */
  private def stopwordCounts(text: Column, rs: CurationRuleset): Column =
    graft.functions.OccurrenceCounts.of(text,
      rs.stopwords.flatMap { case (_, ws) => ws.map(w => s" $w ") })

  /** Stopword-hit count for one language over single-space text. */
  def langScore(text: Column, lang: String,
                rs: CurationRuleset = CurationRuleset.Default): Column = {
    val counts = stopwordCounts(text, rs)
    val flat = rs.stopwords.flatMap { case (l, ws) => ws.map(l -> _) }
    flat.zipWithIndex
      .collect { case ((l, _), i) if l == lang => element_at(counts, i + 1) }
      .reduce(_ + _)
  }

  def langScoreSql(expr: String, lang: String,
                   rs: CurationRuleset = CurationRuleset.Default): String =
    rs.stopwords.toMap.apply(lang)
      .map(w => Portable.occurrencesSql(paddedSql(expr), s" $w "))
      .mkString("(", " + ", ")")

  /** Predicted language: argmax of stopword scores, ties resolved by
    * the fixed order of [[stopwords]]; score 0 everywhere → "und"
    * (undetermined).
    */
  def langId(text: Column,
             rs: CurationRuleset = CurationRuleset.Default): Column = {
    val scored = rs.stopwords.map { case (l, _) => l -> langScore(text, l, rs) }
    val anyHit = scored.map(_._2).reduce(_ + _) > 0
    val best = scored.tail.foldLeft(when(lit(true), scored.head._1)) {
      case (acc, (l, s)) =>
        // keep earlier lang unless this one is strictly better
        when(s > scored.takeWhile(_._1 != l).map(_._2).reduce(greatest(_, _)), l)
          .otherwise(acc)
    }
    when(anyHit, best).otherwise(lit("und"))
  }

  def langIdSql(expr: String,
                rs: CurationRuleset = CurationRuleset.Default): String = {
    val scores = rs.stopwords.map { case (l, _) => l -> langScoreSql(expr, l, rs) }
    val total = scores.map(_._2).mkString(" + ")
    // mirror of langId's fold: later lang wins only if strictly greater
    // than the max of all earlier ones
    val caseBranches = scores.tail.reverse.map { case (l, s) =>
      val earlier = scores.takeWhile(_._1 != l).map(_._2)
      val earlierMax = earlier.tail.foldLeft(earlier.head)((a, b) => s"greatest($a, $b)")
      s"WHEN $s > $earlierMax THEN '$l'"
    }
    s"""CASE WHEN ($total) = 0 THEN 'und'
       |${caseBranches.mkString("\n")}
       |ELSE '${scores.head._1}' END""".stripMargin
  }

  /** Quality score in milli-units: rewards length (up to 200 tokens)
    * and stopword presence, penalizes extreme mean word length.
    * Integral end-to-end.
    */
  def qualityMilli(text: Column,
                   rs: CurationRuleset = CurationRuleset.Default): Column = {
    val t = Portable.tokenCount(text)
    val chars = length(text) - (t - 1) // chars excluding separators
    // floor-div (Spark `/` is double division; floor matches DuckDB `//`)
    val wlMilli = floor((chars * 1000L) / t).cast("long")
    val stops = rs.stopwords.map { case (l, _) => langScore(text, l, rs) }.reduce(_ + _)
    (least(t * lit(5L), lit(1000L))
      + least(stops * lit(20L), lit(200L))
      - when(wlMilli > 8000L, lit(200L)).otherwise(lit(0L))).cast("long")
  }

  def qualityMilliSql(expr: String,
                      rs: CurationRuleset = CurationRuleset.Default): String = {
    val t = Portable.tokenCountSql(expr)
    val stops = rs.stopwords.map { case (l, _) => langScoreSql(expr, l, rs) }.mkString(" + ")
    s"""CAST(least($t * 5, 1000)
       |   + least(($stops) * 20, 200)
       |   - (CASE WHEN ((length($expr) - ($t - 1)) * 1000) // $t > 8000
       |           THEN 200 ELSE 0 END) AS BIGINT)""".stripMargin
  }

  /** Document fingerprint: md5 of lowercased text (exact-dup key), plus
    * a 60-bit integer form for bucketing.
    */
  def fingerprint(text: Column): Column = md5(lower(text))
  def fingerprintSql(expr: String): String = s"md5(lower($expr))"
  def fingerprint60(text: Column): Column = Portable.hash60(lower(text))
  def fingerprint60Sql(expr: String): String = Portable.hash60Sql(s"lower($expr)")

  /** BPE-ish token count: alternation of letter runs, digit runs, and
    * single non-alphanumeric marks (the classic pre-tokenizer regex).
    */
  private val bpeRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  // regexp_count: same non-overlapping match count as
  // size(regexp_extract_all(…)) without materializing every matched
  // token string into an array first
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit(bpeRegex)).cast("long")
  def tokenCountBpeSql(expr: String): String =
    s"CAST(len(regexp_extract_all($expr, '$bpeRegex')) AS BIGINT)"

  // ------------------------------------------------------------------
  // PII scrubbing (C4/RefinedWeb-style pre-training hygiene)
  // ------------------------------------------------------------------

  /** (kind, pattern, replacement) in application order. Patterns stay
    * in the Java∩RE2 portable subset (no lookarounds, no backrefs) so
    * Spark and DuckDB scrub identically.
    */
  val piiPatterns: Seq[(String, String, String)] =
    CurationRuleset.Default.piiPatterns

  /** Replace emails / IPv4s / phone-shaped numbers with typed tokens,
    * in fixed order (an IP inside an already-scrubbed email cannot
    * re-match — order is part of the contract). Narrow codegen'd map
    * work: scrubbing 10^12 documents is scan-speed.
    */
  def scrubPii(text: Column,
               rs: CurationRuleset = CurationRuleset.Default): Column =
    rs.piiPatterns.foldLeft(text) { case (c, (_, re, tok)) =>
      regexp_replace(c, re, tok)
    }

  /** DuckDB mirror — NOTE the 'g' flag: DuckDB's regexp_replace is
    * first-match-only by default, Spark's replaces all.
    */
  def scrubPiiSql(expr: String,
                  rs: CurationRuleset = CurationRuleset.Default): String =
    rs.piiPatterns.foldLeft(expr) { case (e, (_, re, tok)) =>
      s"regexp_replace($e, '$re', '$tok', 'g')"
    }

  /** Per-kind match counts (audit channel of the scrubber) — same
    * regexp_count-over-extract_all swap as [[tokenCountBpe]].
    */
  def piiCounts(text: Column,
                rs: CurationRuleset = CurationRuleset.Default): Seq[Column] =
    rs.piiPatterns.map { case (kind, re, _) =>
      regexp_count(text, lit(re)).cast("long").as(s"n_$kind")
    }

  def piiCountsSql(expr: String,
                   rs: CurationRuleset = CurationRuleset.Default): Seq[String] =
    rs.piiPatterns.map { case (kind, re, _) =>
      s"CAST(len(regexp_extract_all($expr, '$re')) AS BIGINT) AS n_$kind"
    }

  // ------------------------------------------------------------------
  // Repetition stats (Gopher/MassiveText-style quality rules)
  // ------------------------------------------------------------------

  /** Non-overlapping `k`-word chunks of single-space text (the
    * line-granularity analog for newline-free corpora; the tail chunk
    * may be shorter).
    */
  def wordChunks(text: Column, k: Int): Column = {
    val words = split(text, " ")
    val n = size(words)
    // ceil-div via cast (Column `/` is double division); n >= 1 always
    // (split of "" is [""]), so the sequence never descends
    val nChunks = ((n + lit(k - 1)) / lit(k)).cast("int")
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(words, i * k + 1, lit(k))))
  }

  def wordChunksSql(expr: String, k: Int): String =
    s"""list_transform(
       |  generate_series(0, CAST((len(string_split($expr, ' ')) + ${k - 1}) // $k - 1 AS BIGINT)),
       |  i -> array_to_string(string_split($expr, ' ')[(i * $k + 1):(i * $k + $k)], ' '))""".stripMargin

  /** Gopher-style repetition measures, integral milli-units, all
    * computed IN-ROW (no shuffle): duplicate-chunk fraction over
    * non-overlapping `k`-word chunks, and the fraction of all bigrams
    * taken by the most frequent bigram — one compiled linear pass per
    * document ([[graft.functions.RepetitionStats]]; the built-in
    * composition's bigram mode was O(distinct·total) interpreted
    * higher-order-function work, ~22 ms/doc — see the kernel's doc).
    */
  def repetitionCols(text: Column, k: Int = 8): Seq[Column] = {
    val r = graft.functions.RepetitionStats.of(text, k)
    Seq(r.getField("n_chunks").as("n_chunks"),
        r.getField("dup_chunk_milli").as("dup_chunk_milli"),
        r.getField("n_bigrams").as("n_bigrams"),
        r.getField("top_bigram_milli").as("top_bigram_milli"))
  }

  def repetitionColsSql(expr: String, k: Int = 8): Seq[String] = {
    val chunks = wordChunksSql(expr, k).replace("\n", "\n  ")
    val nw = s"len(string_split($expr, ' '))"
    val bigrams =
      s"""list_transform(generate_series(1, CAST($nw - 1 AS BIGINT)),
         |  i -> concat(string_split($expr, ' ')[i], ' ', string_split($expr, ' ')[i + 1]))""".stripMargin
        .replace("\n", "\n  ")
    Seq(
      s"CAST(len($chunks) AS BIGINT) AS n_chunks",
      s"""CAST(CASE WHEN len($chunks) > 0
         |     THEN ((len($chunks) - len(list_distinct($chunks))) * 1000) // len($chunks)
         |     ELSE 0 END AS BIGINT) AS dup_chunk_milli""".stripMargin,
      s"CAST(len($bigrams) AS BIGINT) AS n_bigrams",
      s"""CAST(CASE WHEN len($bigrams) > 0
         |     THEN (list_max(list_transform(list_distinct($bigrams),
         |            b -> len(list_filter($bigrams, x -> x = b)))) * 1000) // len($bigrams)
         |     ELSE 0 END AS BIGINT) AS top_bigram_milli""".stripMargin)
  }

  /** Full per-document stats projection. */
  def stats(df: DataFrame, idCol: String, textCol: String,
            rs: CurationRuleset = CurationRuleset.Default): DataFrame =
    df.select(
      col(idCol),
      Portable.tokenCount(col(textCol)).as("n_tokens"),
      tokenCountBpe(col(textCol)).as("n_tokens_bpe"),
      langId(col(textCol), rs).as("lang_pred"),
      qualityMilli(col(textCol), rs).as("quality_milli"),
      fingerprint(col(textCol)).as("fp_md5"),
      fingerprint60(col(textCol)).as("fp60"))

  def statsOracleSql(fromCte: String, table: String, idCol: String,
                     textCol: String,
                     rs: CurationRuleset = CurationRuleset.Default): String =
    s"""$fromCte
       |SELECT $idCol,
       |       ${Portable.tokenCountSql(textCol)} AS n_tokens,
       |       ${tokenCountBpeSql(textCol)} AS n_tokens_bpe,
       |       ${langIdSql(textCol, rs)} AS lang_pred,
       |       ${qualityMilliSql(textCol, rs)} AS quality_milli,
       |       ${fingerprintSql(textCol)} AS fp_md5,
       |       ${fingerprint60Sql(textCol)} AS fp60
       |FROM $table""".stripMargin
}
