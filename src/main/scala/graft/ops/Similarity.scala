package graft.ops

import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + embedding near-dup over an embedding column
  * (`array<float>`).
  *
  * Each operation ships as an exact baseline and an LSH scale path,
  * BOTH oracle-gated:
  *  - ANN: [[bruteForceTopK]] (broadcast query set × corpus, one pass,
  *    no corpus shuffle) vs [[lshTopK]] (random-hyperplane LSH buckets
  *    from deterministic md5-derived planes; exact rank within
  *    candidates — corpus-size-linear).
  *  - near-dup pairs: [[embeddingNearDup]] (blocked all-pairs) vs
  *    [[embeddingNearDupLsh]] (bucket-local pairs, `planes` bounds the
  *    per-bucket quadratic term).
  *
  * Dot products run in double via `zip_with` + `aggregate` (sequential
  * left-to-right fold — reproducible). Ranking keys are quantized to
  * nano-units so the oracle's independently-summed doubles rank
  * identically.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns — the
    * compiled [[graft.functions.DotProduct]] kernel
    * (bit-identical to `aggregate(zip_with(a,b,_*_),0.0,_+_)`, which is
    * CodegenFallback-interpreted and was the hot path of every
    * candidate-pair stream).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank, score_nanos).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    // norms are precomputed per vector — not per (query, candidate)
    // pair, which would redo |corpus|·|queries| reductions
    val c = corpus.select(col(idCol).as("neighbor_id"),
                          asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"),
                           asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score_nanos",
        floor(dot(col("qv"), col("cv"))
          / (col("qn") * col("cn")) * lit(1e9)).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_nanos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score_nanos")
  }

  /** DuckDB oracle for [[bruteForceTopK]] with `queries = id < maxQueryId`. */
  def bruteForceOracleSql(table: String, idCol: String, vecCol: String,
                          k: Int, maxQueryId: Long): String =
    s"""WITH corpus AS (
       |  SELECT $idCol AS id, list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $table
       |),
       |pairs AS (
       |  SELECT q.id AS query_id, c.id AS neighbor_id, q.v AS qv, c.v AS cv
       |  FROM corpus q JOIN corpus c ON q.id < $maxQueryId AND q.id <> c.id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2]))
       |           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
       |              * sqrt(list_sum(list_transform(cv, x -> x * x)))) * 1e9)
       |         AS BIGINT) AS score_nanos
       |  FROM pairs
       |)
       |SELECT query_id, neighbor_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score_nanos DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin

  /** Embedding-cosine near-duplicate pairs: (a < b) with quantized
    * cosine ≥ thresholdNanos, blocked by `blockCol` — the exact
    * small-scale baseline; the open-scale path is
    * [[embeddingNearDupLsh]], which blocks by LSH bucket instead.
    * The emitted score is quantized to micros: the value is
    * part of the output contract, and a 1e-6 bin makes the chance of a
    * cross-engine floor straddle (last-ulp sum differences) negligible.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, thresholdMicros: Long): DataFrame = {
    val base = df.select(col(blockCol).as("_blk"), col(idCol),
                         asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
    val a = base.select(col("_blk"), col(idCol).as("id_a"),
                        col("v").as("va"), col("n").as("na"))
    val b = base.select(col("_blk"), col(idCol).as("id_b"),
                        col("v").as("vb"), col("n").as("nb"))
    a.join(b, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_micros",
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * lit(1e6))
          .cast("long"))
      .filter(col("cos_micros") >= thresholdMicros)
      .select("id_a", "id_b", "cos_micros")
  }

  def embeddingNearDupOracleSql(table: String, idCol: String, vecCol: String,
                                blockCol: String,
                                thresholdMicros: Long): String =
    s"""WITH base AS (
       |  SELECT $blockCol AS _blk, $idCol AS id,
       |         list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $table
       |),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
       |           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
       |              * sqrt(list_sum(list_transform(b.v, x -> x * x)))) * 1e6)
       |         AS BIGINT) AS cos_micros
       |  FROM base a JOIN base b ON a._blk = b._blk AND a.id < b.id
       |)
       |SELECT id_a, id_b, cos_micros FROM pairs
       |WHERE cos_micros >= $thresholdMicros""".stripMargin

  /** ±1.0 coefficients of plane (table, p) over `dims` dimensions. */
  def planeSigns(table: Int, p: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => if (planeSign(table, p, d)) 1.0 else -1.0)

  /** Random-hyperplane LSH bucket id for one hash table, as DuckDB SQL
    * over a list-typed column expression `v`: `planes` sign bits; plane
    * p of table t has ±1 coefficient per dimension d from the parity of
    * md5("t:p:d"), baked as literal lists. The projection is the same
    * sequential zip-fold as [[graft.functions.LshBuckets]], so the
    * oracle reproduces the floating-point sum — and hence every sign
    * bit — exactly.
    */
  def lshBucketSql(v: String, table: Int, planes: Int, dims: Int): String =
    (0 until planes).map { p =>
      val signs = planeSigns(table, p, dims)
        .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip($v, $signs), " +
        s"p -> p[1] * p[2])) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Deterministic ±1 plane coefficients (shared with tests/oracle). */
  def planeSign(table: Int, p: Int, d: Int): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$table:$p:$d".getBytes("UTF-8"))
    (md(0) & 1) == 1
  }

  /** Embedding near-duplicate pairs with LSH bucket blocking — the
    * scale path (the label-blocked [[embeddingNearDup]] is the exact
    * small-scale baseline). Candidates are vectors sharing any hash
    * table's bucket; emitted pairs carry the *exact* quantized cosine,
    * so precision is 1 by construction and only recall is approximate
    * (measured vs the unblocked exact set in the test suite; raise
    * `tables` for recall, `planes` for selectivity).
    *
    * Scale shape (100 TB): the key stream is |corpus|·tables rows of
    * (id, tbl, bucket); the self-join is bucket-local — never
    * corpus-quadratic — and expected bucket size is |corpus| / 2^planes
    * per table, so `planes` is the knob that bounds the per-bucket
    * quadratic term. Vector payloads join back by id afterwards (two
    * hash joins), keeping the wide arrays out of the pair explosion.
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          thresholdMicros: Long, tables: Int = 4,
                          planes: Int = 6, dims: Int = 64): DataFrame = {
    val base = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val keys = base
      .select(col("id"),
        posexplode(lshKeys(col("v"), tables, planes, dims)).as(Seq("tbl", "bucket")))
    val cand = keys.select(col("id").as("id_a"), col("tbl"), col("bucket"))
      .join(keys.select(col("id").as("id_b"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"),
                        col("nrm").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb"),
                        col("nrm").as("nb")), "id_b")
      .withColumn("cos_micros",
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * lit(1e6))
          .cast("long"))
      .filter(col("cos_micros") >= thresholdMicros)
      .select("id_a", "id_b", "cos_micros")
  }

  /** DuckDB SELECT of the (id, tbl, bucket) key stream over `base(id, v)`. */
  private def lshKeysSql(tables: Int, planes: Int, dims: Int): String =
    (0 until tables).map(t =>
      s"SELECT id, $t AS tbl, ${lshBucketSql("v", t, planes, dims)} AS bucket FROM base")
      .mkString("\n  UNION ALL ")

  def embeddingNearDupLshOracleSql(table: String, idCol: String,
                                   vecCol: String, thresholdMicros: Long,
                                   tables: Int = 4, planes: Int = 6,
                                   dims: Int = 64): String =
    s"""WITH base AS (
       |  SELECT $idCol AS id, list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $table
       |),
       |keys AS (
       |  ${lshKeysSql(tables, planes, dims)}
       |),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM keys a JOIN keys b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
       |),
       |pairs AS (
       |  SELECT id_a, id_b,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
       |           / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
       |              * sqrt(list_sum(list_transform(b.v, x -> x * x)))) * 1e6)
       |         AS BIGINT) AS cos_micros
       |  FROM cand JOIN base a ON a.id = cand.id_a
       |            JOIN base b ON b.id = cand.id_b
       |)
       |SELECT id_a, id_b, cos_micros FROM pairs
       |WHERE cos_micros >= $thresholdMicros""".stripMargin

  /** DuckDB oracle for [[lshTopK]] with `queries = id < maxQueryId`:
    * identical bucket keys (baked plane constants), identical candidate
    * union, exact cosine rank within candidates.
    */
  def lshTopKOracleSql(table: String, idCol: String, vecCol: String,
                       k: Int, maxQueryId: Long, planes: Int = 4,
                       tables: Int = 8, dims: Int = 64): String =
    s"""WITH base AS (
       |  SELECT $idCol AS id, list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $table
       |),
       |keys AS (
       |  ${lshKeysSql(tables, planes, dims)}
       |),
       |cand AS (
       |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
       |  FROM keys q JOIN keys c
       |    ON q.tbl = c.tbl AND q.bucket = c.bucket
       |   AND q.id < $maxQueryId AND q.id <> c.id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
       |           / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
       |              * sqrt(list_sum(list_transform(c.v, x -> x * x)))) * 1e9)
       |         AS BIGINT) AS score_nanos
       |  FROM cand JOIN base q ON q.id = cand.query_id
       |            JOIN base c ON c.id = cand.neighbor_id
       |)
       |SELECT query_id, neighbor_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score_nanos DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN
  // ------------------------------------------------------------------

  /** IVF ANN: a coarse quantizer assigns every corpus vector to its
    * nearest centroid (one inverted list per centroid); a query probes
    * its `nprobe` nearest centroids and ranks exactly within those
    * lists only. The second scale path beside [[lshTopK]], with a
    * different 100 TB shape: assignment is ONE scan × broadcast
    * (centroids), and the inverted lists ARE a partition layout — a
    * probe reads ~nprobe/nlist of the corpus (partition pruning),
    * where LSH reads hash-scattered buckets.
    *
    * Centroids are a FIXED-COUNT deterministic sample: the `nlist`
    * corpus vectors ranking first by (hash60(id), id) — |centroids| is
    * a constant knob independent of corpus size, so the centroid
    * broadcast and the per-vector argmax stay O(n·nlist) at any scale
    * (the round-3 `id % step` sampler grew the centroid set linearly
    * with the corpus — a scale-killer). The top-nlist scan plans as
    * TakeOrderedAndProject (per-partition top-k, no global sort), and
    * the same rank is a one-line CTE in DuckDB, so list assignment
    * reproduces bit-for-bit. A production deployment would optionally
    * k-means-refine these seeds; training is orthogonal to the query
    * plumbing. Affinity is nano-quantized cosine with centroid-id
    * tie-break, so argmax is engine-portable.
    */
  /** The bounded coarse-quantizer codebook: exactly `min(nlist, |corpus|)`
    * seed vectors, chosen by (hash60(id), id) rank. Exposed so specs can
    * pin |centroids| == nlist at any corpus size.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int): DataFrame =
    corpus.select(col(idCol).as("cent_id"), asDouble(col(vecCol)).as("centv"))
      .withColumn("centn", norm(col("centv")))
      .withColumn("_h", Portable.hash60(col("cent_id").cast("string")))
      .orderBy(col("_h"), col("cent_id"))
      .limit(nlist)
      .drop("_h")

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16,
              nprobe: Int = 3): DataFrame =
    ivfQuery(corpus, queries, idCol, vecCol, k, nprobe,
             collectCodebook(ivfCentroids(corpus, idCol, vecCol, nlist)))

  // ------------------------------------------------------------------
  // In-row coarse quantization (the shuffle-free assignment kernel)
  //
  // The codebook is CONSTANT-SIZE (nlist rows — a knob, never corpus-
  // proportional), so it is collected to the driver (same bounded-
  // collect class as the hashBuckets value lists) and embedded as
  // literal arrays. Nearest-centroid assignment and probe selection
  // then become narrow per-row expressions: the round-5 plan cross-
  // joined every vector against the broadcast codebook and ranked with
  // a row_number window — an Exchange of |corpus|·nlist rows CARRYING
  // THE FULL VECTORS plus two sorts, per assignment pass (guide §2.4:
  // remove shuffles outright). At 100 TB that exchange was the entire
  // cost of an assignment pass; in-row argmax makes it zero-shuffle
  // scan work. Scores and tie-breaks reproduce the window ordering
  // (cscore DESC, cent_id ASC) bit-for-bit: centroid norms constant-
  // fold through the SAME sequential-fold DotProduct the per-row plan
  // evaluated, and null scores order last like DESC NULLS LAST.
  // ------------------------------------------------------------------

  /** Driver-side codebook: (cent_id, centv), bounded by nlist. */
  private def collectCodebook(cents: DataFrame): Seq[(Long, Array[Double])] =
    cents.select(col("cent_id"), col("centv")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** In-row argmax over the codebook: the cent_id that row_number()
    * ordered by (cscore DESC, cent_id ASC) would rank first — the
    * codegen'd [[graft.functions.IvfNearest]] kernel (a built-in
    * composition of 16 literal-array dots blew the whole-stage-codegen
    * method past the JIT ceiling; see that class's doc).
    */
  private def nearestCent(vec: Column, nrm: Column,
                          cents: Seq[(Long, Array[Double])]): Column =
    element_at(graft.functions.IvfNearest.topCents(vec, nrm, cents, 1), 1)

  /** In-row top-`nprobe` centroid ids in (cscore DESC, cent_id ASC)
    * order — same kernel, k probes.
    */
  private def probeCents(vec: Column, nrm: Column,
                         cents: Seq[(Long, Array[Double])],
                         nprobe: Int): Column =
    graft.functions.IvfNearest.topCents(vec, nrm, cents, nprobe)

  /** The IVF probe path against a driver-side codebook
    * (cent_id, centv): assign corpus vectors to their nearest centroid
    * IN-ROW (no shuffle — see the kernel note above), probe each
    * query's `nprobe` nearest lists, exact rank within. The only
    * exchange left is the final rank window over candidate rows, and it
    * carries (query_id, neighbor_id, score) — vectors are projected out
    * before the exchange (guide §2.3).
    */
  private def ivfQuery(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, nprobe: Int,
                       cents: Seq[(Long, Array[Double])]): DataFrame = {
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
      .withColumn("cent_id", nearestCent(col("cv"), col("cn"), cents))
    val probes = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("cent_id",
        explode(probeCents(col("qv"), col("qn"), cents, nprobe)))
      .select("query_id", "qv", "qn", "cent_id")
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(dot(col("qv"), col("cv")) / (col("qn") * col("cn")) * lit(1e9))
          .cast("long").as("score_nanos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_nanos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score_nanos")
  }

  /** DuckDB oracle for [[ivfTopK]] with `queries = id < maxQueryId`. */
  def ivfTopKOracleSql(table: String, idCol: String, vecCol: String,
                       k: Int, maxQueryId: Long, nlist: Int = 16,
                       nprobe: Int = 3): String =
    s"""WITH base AS (
       |  SELECT $idCol AS id, list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v,
       |         sqrt(list_sum(list_transform($vecCol,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM $table
       |),
       |cents AS (
       |  SELECT id AS cent_id, v AS centv, nrm AS centn FROM base
       |  ORDER BY ${graft.functions.Portable.hash60Sql("CAST(id AS VARCHAR)")}, id
       |  LIMIT $nlist
       |),
       |aff AS (
       |  SELECT base.id, cents.cent_id,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(base.v, cents.centv),
       |                                   p -> p[1] * p[2]))
       |           / (base.nrm * cents.centn) * 1e9) AS BIGINT) AS cscore
       |  FROM base CROSS JOIN cents
       |),
       |ranked AS (
       |  SELECT id, cent_id,
       |         row_number() OVER (PARTITION BY id
       |           ORDER BY cscore DESC, cent_id) AS crk
       |  FROM aff
       |),
       |assigned AS (SELECT id, cent_id FROM ranked WHERE crk = 1),
       |probes AS (
       |  SELECT id AS query_id, cent_id FROM ranked
       |  WHERE crk <= $nprobe AND id < $maxQueryId
       |),
       |cand AS (
       |  SELECT DISTINCT probes.query_id, assigned.id AS neighbor_id
       |  FROM probes JOIN assigned ON assigned.cent_id = probes.cent_id
       |  WHERE assigned.id <> probes.query_id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
       |           / (q.nrm * c.nrm) * 1e9) AS BIGINT) AS score_nanos
       |  FROM cand JOIN base q ON q.id = cand.query_id
       |            JOIN base c ON c.id = cand.neighbor_id
       |)
       |SELECT query_id, neighbor_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score_nanos DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin

  // ------------------------------------------------------------------
  // K-means-refined IVF (Lloyd iterations over the hash-rank seeds)
  // ------------------------------------------------------------------

  /** Lloyd-refined codebook: `iters` k-means iterations over the
    * micro-quantized corpus, seeded by [[ivfCentroids]]'s hash-rank
    * sample. Every step is engine-portable so the trained codebook —
    * and therefore list assignment — reproduces bit-for-bit in DuckDB:
    * components quantized to integral micros (`floor(x·1e6)` longs),
    * per-cluster means by exact BIGINT sums + truncating integer
    * division (Spark `DIV` ≡ DuckDB `//`), affinity by nano-quantized
    * cosine with cent_id tie-break, empty clusters keep their previous
    * centroid.
    *
    * Scale shape: each iteration is ONE corpus scan × broadcast(nlist
    * centroids) — the same O(n·nlist) map work as a single assignment
    * pass — plus a (cent_id, dim) partial-agg whose exchange carries
    * ≤ nlist·dims rows. Training cost = iters assignment passes,
    * explicitly bounded; nlist stays a constant knob.
    * Output: (cent_id, cq: array&lt;long&gt;).
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int, dims: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansCodebook(corpus, idCol, vecCol, nlist, iters, dims)
      .map { case (cid, cq) => (cid, cq.toSeq) }
      .toDF("cent_id", "cq")
  }

  /** Driver-side Lloyd loop behind [[kmeansCentroids]]: the codebook is
    * nlist·dims longs — constant-size state, so it lives on the driver
    * and each iteration is ONE job: corpus scan → in-row nearest-cent
    * argmax (zero-shuffle, see the quantization kernel note) →
    * per-(cent, dim) partial-agg sum/count (the only exchange, ≤
    * nlist·dims rows after map-side combine) → collect the ≤ nlist·dims
    * means. The round-5 loop paid, PER ITERATION, a broadcast build of
    * the cents subtree, an Exchange of |corpus|·nlist vector-carrying
    * rows + two sorts for the assignment window, a second means
    * exchange, a join, and an eager localCheckpoint job. The means
    * stay Spark-computed (`s DIV cnt` collected, never re-derived in
    * Scala), so the trained codebook is bit-identical to the round-5
    * one and to the oracle's unrolled CTEs.
    */
  private[ops] def kmeansCodebook(corpus: DataFrame, idCol: String,
                                  vecCol: String, nlist: Int, iters: Int,
                                  dims: Int): Seq[(Long, Array[Long])] = {
    // `dims` drives the mean reconstruction; a row of any other width
    // would silently diverge from the DuckDB oracle (Spark's dot
    // truncates, DuckDB NULL-pads). Validated for EVERY row riding the
    // assignment pass (round-5 sampled one row via a separate probe
    // job): assert_true returns null on pass, so the filter keeps all
    // valid rows and aborts the job on the first mismatching one.
    val vecs = corpus.select(col(idCol).as("_vid"),
        transform(asDouble(col(vecCol)),
                  x => floor(x * lit(1e6)).cast("long")).as("vq"))
      .filter(assert_true(col("vq").isNull || size(col("vq")) === dims,
        concat(lit(s"dims=$dims but $vecCol has "), size(col("vq")),
               lit(" components"))).isNull)
      .withColumn("vqd", col("vq").cast("array<double>"))
      .withColumn("nv", norm(col("vqd")))
    var cents: Seq[(Long, Array[Long])] =
      ivfCentroids(corpus, idCol, vecCol, nlist)
        .select(col("cent_id"),
          transform(col("centv"), x => floor(x * lit(1e6)).cast("long"))
            .as("cq"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
    for (_ <- 0 until iters) {
      // micros-quantized dots are integer-valued doubles < 2^53: exact,
      // so the fold order is irrelevant and both engines agree
      val book = cents.map { case (cid, cq) => (cid, cq.map(_.toDouble)) }
      val means = vecs
        .select(nearestCent(col("vqd"), col("nv"), book).as("cent_id"),
                posexplode(col("vq")))
        .groupBy("cent_id", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("cnt"))
        .select(col("cent_id"), col("pos"), expr("s DIV cnt").as("m"))
        .collect()
      val byCent = means.groupBy(_.getLong(0)).map { case (cid, rows) =>
        val arr = new Array[Long](dims)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        cid -> arr
      }
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, cq) => (cid, byCent.getOrElse(cid, cq)) }
    }
    cents
  }

  /** IVF top-k over the k-means-refined codebook — same probe shape as
    * [[ivfTopK]], inverted lists from the trained centroids (the
    * production upgrade over raw seed sampling: tighter lists, better
    * recall per probe).
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nlist: Int = 16,
                     nprobe: Int = 3, iters: Int = 2,
                     dims: Int = 64): DataFrame =
    ivfQuery(corpus, queries, idCol, vecCol, k, nprobe,
      kmeansCodebook(corpus, idCol, vecCol, nlist, iters, dims)
        .map { case (cid, cq) => (cid, cq.map(_.toDouble)) })

  /** DuckDB oracle for [[ivfTopKTrained]] with `queries = id <
    * maxQueryId` — the Lloyd iterations unrolled as CTE pairs
    * (assign_i, cents_{i+1}), then the standard IVF probe tail.
    */
  def ivfKmeansOracleSql(table: String, idCol: String, vecCol: String,
                         k: Int, maxQueryId: Long, nlist: Int = 16,
                         nprobe: Int = 3, iters: Int = 2,
                         dims: Int = 64): String = {
    def d(e: String) = s"list_transform($e, x -> CAST(x AS DOUBLE))"
    def nrm(e: String) =
      s"sqrt(list_sum(list_transform($e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    def dotq(a: String, b: String) =
      s"list_sum(list_transform(list_zip(${d(a)}, ${d(b)}), p -> p[1] * p[2]))"
    val iterCtes = (0 until iters).map { i =>
      s"""asg$i AS (
         |  SELECT id, vq, cent_id,
         |         row_number() OVER (PARTITION BY id ORDER BY
         |           CAST(floor(${dotq("b.vq", "c.cq")}
         |             / (${nrm("b.vq")} * ${nrm("c.cq")}) * 1e9) AS BIGINT)
         |           DESC, cent_id) AS crk
         |  FROM base b CROSS JOIN cents$i c
         |),
         |sums$i AS (
         |  SELECT cent_id, t.i AS pos, CAST(sum(vq[t.i]) AS BIGINT) AS s,
         |         count(*) AS cnt
         |  FROM asg$i CROSS JOIN generate_series(1, $dims) AS t(i)
         |  WHERE crk = 1
         |  GROUP BY 1, 2
         |),
         |cents${i + 1} AS (
         |  SELECT c.cent_id, coalesce(n.cq, c.cq) AS cq
         |  FROM cents$i c
         |  LEFT JOIN (SELECT cent_id, list(s // cnt ORDER BY pos) AS cq
         |             FROM sums$i GROUP BY cent_id) n USING (cent_id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT $idCol AS id, list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v,
       |         ${nrm(vecCol)} AS nrm,
       |         list_transform($vecCol,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vq
       |  FROM $table
       |),
       |cents0 AS (
       |  SELECT id AS cent_id, vq AS cq FROM base
       |  ORDER BY ${graft.functions.Portable.hash60Sql("CAST(id AS VARCHAR)")}, id
       |  LIMIT $nlist
       |),
       |$iterCtes,
       |cents AS (
       |  SELECT cent_id, ${d("cq")} AS centv, ${nrm("cq")} AS centn
       |  FROM cents$iters
       |),
       |aff AS (
       |  SELECT base.id, cents.cent_id,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(base.v, cents.centv),
       |                                   p -> p[1] * p[2]))
       |           / (base.nrm * cents.centn) * 1e9) AS BIGINT) AS cscore
       |  FROM base CROSS JOIN cents
       |),
       |ranked AS (
       |  SELECT id, cent_id,
       |         row_number() OVER (PARTITION BY id
       |           ORDER BY cscore DESC, cent_id) AS crk
       |  FROM aff
       |),
       |assigned AS (SELECT id, cent_id FROM ranked WHERE crk = 1),
       |probes AS (
       |  SELECT id AS query_id, cent_id FROM ranked
       |  WHERE crk <= $nprobe AND id < $maxQueryId
       |),
       |cand AS (
       |  SELECT DISTINCT probes.query_id, assigned.id AS neighbor_id
       |  FROM probes JOIN assigned ON assigned.cent_id = probes.cent_id
       |  WHERE assigned.id <> probes.query_id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(floor(
       |           list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
       |           / (q.nrm * c.nrm) * 1e9) AS BIGINT) AS score_nanos
       |  FROM cand JOIN base q ON q.id = cand.query_id
       |            JOIN base c ON c.id = cand.neighbor_id
       |)
       |SELECT query_id, neighbor_id,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score_nanos DESC, neighbor_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k""".stripMargin
  }

  /** Per-table bucket ids of a vector as one array<long> (index =
    * table) — the compiled [[graft.functions.LshBuckets]] kernel; the
    * per-table built-in composition (tables·planes inlined plane dots)
    * blew the whole-stage-codegen method past the JIT ceiling. Callers
    * `posexplode` it into the (tbl, bucket) blocking-key stream.
    */
  private def lshKeys(vec: Column, tables: Int, planes: Int,
                      dims: Int): Column =
    graft.functions.LshBuckets.forPlanes(vec, tables, planes,
      Array.tabulate(tables * planes) { i =>
        planeSigns(i / planes, i % planes, dims).toArray
      })

  /** ANN top-k via multi-table LSH: candidates are corpus vectors
    * sharing any table's bucket with the query (multi-table union is
    * what keeps recall high on near-orthogonal data); ranking is then
    * exact cosine over candidates only. Recall vs [[bruteForceTopK]]
    * is measured in the test suite.
    *
    * Plan shape: the candidate union is generated and DEDUPED on skinny
    * (query_id, neighbor_id) id pairs only; vectors re-attach afterward
    * by id (cand and the query set broadcast — both are bounded by the
    * probe set, the operator's standing premise). The round-5 form
    * carried qv/cv/qn/cn (wide double arrays) through the
    * dropDuplicates exchange AND the rank-window exchange; now both
    * exchanges move ids and one score (guide §2.3: shuffle keys, not
    * payloads).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 4, tables: Int = 8,
              dims: Int = 64): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val cKeys = corpus.select(col(idCol).as("neighbor_id"),
      posexplode(lshKeys(asDouble(col(vecCol)), tables, planes, dims))
        .as(Seq("tbl", "bucket")))
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val qKeys = q.select(col("query_id"),
      posexplode(lshKeys(col("qv"), tables, planes, dims))
        .as(Seq("tbl", "bucket")))
    val cand = cKeys.join(broadcast(qKeys), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = c.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(dot(col("qv"), col("cv"))
          / (col("qn") * col("cn")) * lit(1e9)).cast("long").as("score_nanos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_nanos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score_nanos")
  }
}
