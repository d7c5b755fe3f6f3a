package graft.ops

import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-text corpora: exact (hash-groupBy),
  * MinHash + LSH banding, SimHash, and exact n-gram Jaccard (the
  * small-scale oracle for the approximate methods).
  *
  * Hashing is the portable md5-derived [[Portable.hash60]] family, so
  * every stage — signatures, bands, candidate pairs — is reproducible
  * in the DuckDB oracle value-for-value.
  *
  * Scale notes (100 TB): exact dedup is one hash-aggregate on a
  * fingerprint (map-side combine, no row data shuffled beyond the
  * digest). MinHash/LSH shuffles only (id, band-hash) pairs — bands act
  * as the blocking key so the self-join is per-bucket, never quadratic
  * in the corpus; skewed buckets (boilerplate pages) are explicitly
  * capped at `maxBucket` members and logged (AQE skew-splitting bounds
  * join *inputs*, not the B² pair *output*). The exact Jaccard join is
  * quadratic per shared token and exists as the correctness baseline,
  * not the scale path — and refuses oversized inputs outright.
  */
object Dedup {

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact duplicate groups by text digest: one row per distinct text,
    * keeping the minimum id as the canonical representative.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  def exactOracleSql(fromCte: String, table: String, idCol: String,
                     textCol: String): String =
    s"""$fromCte
       |SELECT md5($textCol) AS text_md5,
       |       min($idCol) AS keep_id,
       |       CAST(count(*) AS BIGINT) AS n_dupes
       |FROM $table GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Small inputs arrive as one scan split (single parquet file); the
    * expensive map-side work downstream (shingling + 16 seeded md5s
    * per shingle) would then run in one task. Spread only when the
    * input has fewer splits than the cluster has slots — a real
    * 100 TB scan already has thousands of splits and skips this.
    */
  private[ops] def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is plan metadata (no RDD materialization, unlike
    // rdd.getNumPartitions). Derived plans (no file scan underneath)
    // are NOT respread: their parallelism was already set by the
    // upstream exchange (spark.sql.shuffle.partitions ≈ slots).
    // File-backed plans respread only when the file COUNT is below the
    // slot count — a few huge files split into many tasks anyway, so
    // that case pays one redundant (bounded) shuffle rather than ever
    // serializing the expensive map work downstream.
    val files = df.inputFiles.length
    if (files > 0 && files < slots) df.repartition(slots) else df
  }

  /** Distinct k-word shingles per document as a FROM-able DuckDB
    * subselect body of (_id, w) — the oracle's form of the shingling
    * the [[graft.functions.WordShingles]] and
    * [[graft.functions.MinHashSig]] kernels run in-row (k=1 degenerates
    * to the distinct word set; a document of fewer than k words yields
    * its single sub-k shingle).
    */
  private[ops] def shingleSetSql(table: String, idCol: String, textCol: String,
                            k: Int): String =
    if (k <= 1)
      s"SELECT $idCol AS _id, unnest(list_distinct(string_split($textCol, ' '))) AS w FROM $table"
    else {
      val parts = (0 until k).map(j => s"w[i+$j]").mkString(", ")
      s"""SELECT $idCol AS _id,
         |       unnest(list_distinct(list_transform(
         |         generate_series(1, greatest(len(w) - ${k - 1}, 1)),
         |         i -> concat_ws(' ', $parts)))) AS w
         |FROM (SELECT $idCol, string_split($textCol, ' ') AS w FROM $table)""".stripMargin
    }

  /** MinHash signatures: the whole signature is a pure function of one
    * document, so it is computed IN-ROW by the compiled
    * [[graft.functions.MinHashSig]] kernel (one md5 + numHashes integer
    * ops per distinct shingle — the same affine family over the same
    * base hash). The round-5 form exploded every distinct shingle to a
    * row and re-aggregated with numHashes min() columns: per-task row
    * expansion (~50 rows/doc), a hash-agg probe per shingle row, and a
    * partial/final aggregate + exchange, all gone from the plan. Null-
    * text documents are filtered exactly like the explode form dropped
    * them (no shingle rows → no signature row). Output:
    * (_id, h0 … h{n-1}).
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleK: Int = 3): DataFrame = {
    val sig = graft.functions.MinHashSig.of(
      col(textCol), math.max(shingleK, 1), numHashes)
    spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id") +:
        (0 until numHashes).map(i => element_at(sig, i + 1).as(s"h$i")): _*)
  }

  /** LSH bands: split the signature into `bands` bands of
    * numHashes/bands rows; band hash = md5 of the joined slice. Output:
    * (_id, band, band_hash) — the blocking key stream.
    */
  def lshBands(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until r).map(j => col(s"h${b * r + j}").cast("string"))
      struct(lit(b).as("band"),
             md5(concat_ws("|", slice: _*)).as("band_hash"))
    }
    sigs.select(col("_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("_id"), col("bb.band"), col("bb.band_hash"))
  }

  /** All ordered (id_a < id_b) pairs of an ASCENDING-sorted distinct id
    * array, emitted in-row: element i pairs with every later element.
    * Bounded by the caller's bucket cap, so the array (B ids) and the
    * pair array (B²/2 structs) are both small per row.
    */
  private def orderedPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y =>
        struct(x.as("id_a"), y.as("id_b")))))

  /** Candidate near-duplicate pairs: ids sharing any LSH band bucket.
    * k-word shingles (default 3) keep band buckets selective — unigram
    * shingles over a small vocabulary collide massively (quadratic pair
    * blowup), which is a corpus property, not an LSH property.
    *
    * Skew guard: a band bucket of B members emits B²/2 pairs, and a
    * boilerplate/empty-page bucket at corpus scale is a quadratic bomb
    * AQE skew-splitting cannot bound (it splits the *input*, not the
    * join *output*). Buckets larger than `maxBucket` are dropped from
    * pairing — the cap is part of the operator contract. Members of
    * a dropped bucket still pair through their other (selective) bands,
    * and truly identical texts are the exact-dedup stage's job, not
    * LSH's.
    *
    * Plan shape: the band stream shuffles ONCE into a (band, band_hash)
    * aggregate that collects each bucket's member ids (bounded by the
    * cap — ≤ maxBucket ids per group), drops oversized buckets, and
    * emits the bucket-local pairs in-row from the sorted id array. The
    * round-5 form paid a count window (sort) plus a self-join (two
    * reads of the reused exchange, two merge sorts) over the same
    * exchange to produce the identical pair stream — bucket-grouped
    * emission is one read, zero sorts, zero joins (guide §2.3/§2.4);
    * the expensive signature pipeline still runs once, below the single
    * exchange. No persist leaks into the caller's session and no eager
    * stats action blocks the driver.
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 16, bands: Int = 4,
                 shingleK: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val b = lshBands(
      minHashSignatures(df, idCol, textCol, numHashes, shingleK),
      numHashes, bands)
    b.groupBy("band", "band_hash")
      .agg(sort_array(collect_list(col("_id"))).as("_ids"))
      .filter(size(col("_ids")) <= maxBucket)
      .select(explode(orderedPairs(col("_ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  def minHashLshOracleSql(fromCte: String, table: String, idCol: String,
                          textCol: String, numHashes: Int = 16,
                          bands: Int = 4, shingleK: Int = 3,
                          maxBucket: Int = 1000): String = {
    val r = numHashes / bands
    val minAggs = (0 until numHashes)
      .map(i => s"min(${Portable.affineSql(i, "wh")}) AS h$i")
      .mkString(",\n         ")
    val bandSelects = (0 until bands).map { b =>
      val slice = (0 until r).map(j => s"CAST(h${b * r + j} AS VARCHAR)")
      s"SELECT _id, $b AS band, md5(concat_ws('|', ${slice.mkString(", ")})) AS band_hash FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$fromCte,
       |words AS (
       |  ${shingleSetSql(table, idCol, textCol, shingleK).replace("\n", "\n  ")}
       |),
       |sigs AS (
       |  SELECT _id,
       |         $minAggs
       |  FROM (SELECT _id, ${Portable.minHashBaseSql("w")} AS wh FROM words)
       |  GROUP BY _id
       |),
       |bands AS (
       |  $bandSelects
       |),
       |keep AS (
       |  SELECT bands.* FROM bands
       |  JOIN (SELECT band, band_hash FROM bands
       |        GROUP BY 1, 2 HAVING count(*) <= $maxBucket) ok
       |    ON bands.band = ok.band AND bands.band_hash = ok.band_hash
       |)
       |SELECT DISTINCT a._id AS id_a, b._id AS id_b
       |FROM keep a JOIN keep b
       |  ON a.band = b.band AND a.band_hash = b.band_hash AND a._id < b._id""".stripMargin
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** SimHash fingerprint over the distinct word set: bit j of the
    * fingerprint is the sign of Σ_words (2·bit_j(hash60(word)) − 1).
    * `bits` ≤ 60. Output: (_id, simhash). Computed IN-ROW by the
    * compiled [[graft.functions.SimHashFp]] kernel — the round-5 form
    * exploded every distinct word and re-aggregated through `bits`
    * sum() columns (the [[minHashSignatures]] story, bit-vector
    * flavored); null-text documents are filtered exactly like the
    * explode form dropped them.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame =
    spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        graft.functions.SimHashFp.of(col(textCol), bits).as("simhash"))

  def simHashOracleSql(fromCte: String, table: String, idCol: String,
                       textCol: String, bits: Int = 16): String = {
    val sums = (0 until bits).map(j =>
      s"sum(CASE WHEN (wh // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n         ")
    val fp = (0 until bits)
      .map(j => s"(CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""$fromCte,
       |words AS (
       |  SELECT $idCol AS _id, ${Portable.hash60Sql("w")} AS wh
       |  FROM (SELECT $idCol, unnest(list_distinct(string_split($textCol, ' '))) AS w
       |        FROM $table)
       |),
       |sums AS (
       |  SELECT _id,
       |         $sums
       |  FROM words GROUP BY _id
       |)
       |SELECT _id, CAST($fp AS BIGINT) AS simhash FROM sums""".stripMargin
  }

  /** SimHash near-duplicate pairs: fingerprints within hamming distance
    * ≤ `maxHamming`, found by pigeonhole band blocking — split the
    * `bits`-bit fingerprint into `bands` equal slices; two fingerprints
    * within distance d < bands must share at least one *exact* slice,
    * so candidates are generated by an equality join on (band, slice)
    * and verified with one `bit_count(xor)` — never all-pairs.
    *
    * Scale shape: |corpus|·bands rows of (id, band, slice) shuffle;
    * slice width bits/bands sets bucket selectivity (wider slice =
    * fewer, larger-distance collisions). Requires maxHamming < bands
    * (the pigeonhole guarantee).
    */
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
                     bits: Int = 32, bands: Int = 4,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands ($maxHamming >= $bands)")
    require(bits % bands == 0, "bands must divide bits")
    // fingerprints are sums of positive powers only up to 2^59 — at 61+
    // bits the sign bit flips and Spark's arithmetic shiftright diverges
    // from the oracle's truncating // on negative values
    require(bits <= 60, s"simhash supports at most 60 bits, got $bits")
    val w = bits / bands
    val fp = simHash(df, idCol, textCol, bits)
    val slices = fp.select(col("_id"), col("simhash"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          (shiftright(col("simhash"), b * w) % (1L << w)).as("slice"))): _*))
        .as("bb"))
      .select(col("_id"), col("simhash"), col("bb.band"), col("bb.slice"))
    // self-join pair stream, NOT the minHashLsh bucket-grouped form:
    // simhash slices are UNCAPPED (and real slices skew hard — natural-
    // language fingerprints share slice values; a 5k-doc corpus already
    // grows a 2,125-member slice = 2.25M pairs from one bucket), so
    // collecting member arrays and emitting B²/2 pair structs in one
    // row allocates unboundedly where the join streams each pair
    // through codegen. Both self-join sides read ONE reused exchange.
    val l = slices.select(col("_id").as("id_a"), col("simhash").as("fp_a"),
                          col("band"), col("slice"))
    val r = slices.select(col("_id").as("id_b"), col("simhash").as("fp_b"),
                          col("band"), col("slice"))
    l.join(r, Seq("band", "slice"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  def simHashNearDupOracleSql(fromCte: String, table: String, idCol: String,
                              textCol: String, bits: Int = 32,
                              bands: Int = 4, maxHamming: Int = 3): String = {
    val w = bits / bands
    val inner = simHashOracleSql(fromCte, table, idCol, textCol, bits)
    val bandSelects = (0 until bands).map(b =>
      s"SELECT _id, simhash, $b AS band, (simhash // ${1L << (b * w)}) % ${1L << w} AS slice FROM fp")
      .mkString("\n  UNION ALL ")
    s"""WITH fp AS (
       |  ${inner.replace("\n", "\n  ")}
       |),
       |slices AS (
       |  $bandSelects
       |)
       |SELECT DISTINCT a._id AS id_a, b._id AS id_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM slices a JOIN slices b
       |  ON a.band = b.band AND a.slice = b.slice AND a._id < b._id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin
  }

  // ------------------------------------------------------------------
  // Exact n-gram (word-set) Jaccard
  // ------------------------------------------------------------------

  /** Exact word-set Jaccard ≥ threshold (milli) pairs within the same
    * `blockCol` (e.g. lang). The small-scale baseline that validates
    * the MinHash path; quadratic per shared token — and therefore
    * guarded: inputs above `maxInputRows` are refused outright (the
    * scale path is [[minHashLsh]]), so this oracle can never be
    * pointed at big data by accident.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, thresholdMilli: Long,
                   maxInputRows: Long = 1000000L): DataFrame = {
    val n = df.count()
    require(n <= maxInputRows,
      s"ngramJaccard is the quadratic small-scale baseline ($n rows > " +
        s"$maxInputRows cap); use minHashLsh at scale")
    // the token stream feeds sizes and both join sides; the join sides
    // share one reused exchange on (_blk, w), and the sizes aggregation
    // re-scans — bounded (this operator refuses large inputs above),
    // and no persist leaks into the caller's session
    val words = spread(df).select(col(idCol).as("_id"), col(blockCol).as("_blk"),
        explode(array_distinct(split(col(textCol), " "))).as("w"))
    val sizes = words.groupBy("_id").agg(count(lit(1)).as("sz"))
    val l = words.select(col("_id").as("id_a"), col("_blk"), col("w"))
    val r = words.select(col("_id").as("id_b"), col("_blk"), col("w"))
    val inter = l.join(r, Seq("_blk", "w"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard_milli",
        floor(col("inter") * 1000L / (col("sz_a") + col("sz_b") - col("inter")))
          .cast("long"))
      .filter(col("jaccard_milli") >= thresholdMilli)
      .select("id_a", "id_b", "jaccard_milli")
  }

  def ngramJaccardOracleSql(fromCte: String, table: String, idCol: String,
                            textCol: String, blockCol: String,
                            thresholdMilli: Long): String =
    s"""$fromCte,
       |words AS (
       |  SELECT $idCol AS _id, $blockCol AS _blk,
       |         unnest(list_distinct(string_split($textCol, ' '))) AS w
       |  FROM $table
       |),
       |sizes AS (SELECT _id, count(*) AS sz FROM words GROUP BY _id),
       |inter AS (
       |  SELECT a._id AS id_a, b._id AS id_b, count(*) AS inter
       |  FROM words a JOIN words b
       |    ON a._blk = b._blk AND a.w = b.w AND a._id < b._id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b,
       |       CAST((inter * 1000) // (sa.sz + sb.sz - inter) AS BIGINT) AS jaccard_milli
       |FROM inter
       |JOIN sizes sa ON sa._id = id_a
       |JOIN sizes sb ON sb._id = id_b
       |WHERE (inter * 1000) // (sa.sz + sb.sz - inter) >= $thresholdMilli""".stripMargin

  // ------------------------------------------------------------------
  // Chunk-level exact dedup (C4-style line dedup, generalized to
  // k-word chunks for newline-free text)
  // ------------------------------------------------------------------

  /** Per-document share of text chunks that also appear in ANOTHER
    * document — the boilerplate/mirror signal line-level dedup gives a
    * web corpus. Plan shape: one generator (chunks → 60-bit hashes),
    * distinct (doc, chunk-hash) pairs, a chunk-hash frequency agg
    * (partial-agg; the exchange carries distinct chunk hashes, never
    * raw text), and a join back keyed on the same hash — after
    * distinct, per-hash row count IS the distinct-document count.
    * Output: (idCol, n_chunks_distinct, n_shared, shared_milli).
    */
  def chunkShared(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dc = df.select(col(idCol).as("_id"),
        explode(TextStats.wordChunks(col(textCol), k)).as("chunk"))
      .select(col("_id"), Portable.hash60(col("chunk")).as("_ch"))
      .distinct()
    // per-hash distinct-document count as ONE count window over _ch —
    // after the distinct, rows per hash ARE the document count. The
    // round-5 form derived the same count as a separate aggregate and
    // joined it back (an extra exchange + join on the identical key);
    // the window reuses one exchange of the distinct hash stream.
    dc.withColumn("_docs",
        count(lit(1)).over(Window.partitionBy("_ch")))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_chunks_distinct"),
           sum(when(col("_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_milli",
        expr("(n_shared * 1000) DIV n_chunks_distinct"))
      .withColumnRenamed("_id", idCol)
  }

  /** DuckDB mirror of [[chunkShared]]. */
  def chunkSharedSql(fromCte: String, table: String, idCol: String,
                     textCol: String, k: Int = 8): String =
    s"""$fromCte,
       |dc AS (
       |  SELECT DISTINCT $idCol AS _id, ${Portable.hash60Sql("chunk")} AS _ch
       |  FROM (SELECT $idCol,
       |               unnest(${TextStats.wordChunksSql(textCol, k)
                 .replace("\n", "\n               ")}) AS chunk
       |        FROM $table)
       |),
       |freq AS (SELECT _ch, count(*) AS _docs FROM dc GROUP BY 1)
       |SELECT _id AS $idCol,
       |       CAST(count(*) AS BIGINT) AS n_chunks_distinct,
       |       CAST(sum(CASE WHEN _docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |       CAST((sum(CASE WHEN _docs > 1 THEN 1 ELSE 0 END) * 1000)
       |            // count(*) AS BIGINT) AS shared_milli
       |FROM dc JOIN freq USING (_ch)
       |GROUP BY 1""".stripMargin
}
