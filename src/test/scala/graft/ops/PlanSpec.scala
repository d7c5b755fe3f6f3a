package graft.ops

import graft.SparkSuite
import graft.core.TierSpec
import graft.ingest.WebPages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale contract. A query that
  * passes correctness but scans extra columns, skips broadcast, or
  * shuffles raw rows would silently die at 100 TB; these pin the plan
  * properties the design relies on.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("rollup joins the documents dimension via broadcast, not shuffle") {
    val p = plan(Rollup.fromRaw(WebPages.load(spark, sfDir), TierSpec.T1h))
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"))
  }

  test("rollup aggregates partially before every exchange (map-side combine)") {
    val p = plan(Rollup.cascade(
      Rollup.fromRaw(WebPages.load(spark, sfDir), TierSpec.T5m), TierSpec.T1h))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(800))
    // two aggregation levels → exactly two shuffles of group rows
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2)
  }

  test("column pruning: a narrow projection never reads html/text payloads") {
    // other suites on the shared session may have cached these parquet
    // reads with all columns; CacheManager substitution would replace
    // the scan (and its ReadSchema) with an InMemoryRelation
    spark.catalog.clearCache()
    val narrow = WebPages.load(spark, sfDir)
      .select("domain", "warc_epoch")
    val p = plan(narrow)
    val readSchemas = "ReadSchema: [^\n]*".r.findAllIn(p).toSeq
    assert(readSchemas.nonEmpty)
    assert(!readSchemas.exists(_.contains("html")),
           s"payload not pruned: $readSchemas")
    assert(!readSchemas.exists(_.contains("text")),
           s"text not pruned: $readSchemas")
  }

  test("watermark filter is pushed down to the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("ts") >= lit("2024-01-28 00:00:00").cast("timestamp"))
      .select("event_id")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
           p.take(800))
  }

  test("gap-fill is one window exchange + one generator; only the 1-row bounds broadcast") {
    val r = Rollup.fromRaw(WebPages.load(spark, sfDir), TierSpec.T1d)
    // global flavor: the sole join is the broadcast of the 1-row global
    // bounds aggregate; the dense frame is GENERATED, never built by a
    // series × grid crossJoin
    val pg = plan(GapFill.dense(r, TierSpec.T1d))
    assert(pg.contains("Generate"), pg.take(800))
    assert(pg.contains("BroadcastNestedLoopJoin") ||
           pg.contains("BroadcastExchange"), pg.take(800))
    assert(!pg.contains("SortMergeJoin") && !pg.contains("ShuffledHashJoin"),
           pg.take(800))
    // per-series flavor (the 100 TB default): gap-fill itself adds NO
    // join of any kind — one window exchange, one generator (the only
    // join in the plan is the rollup input's own dimension broadcast)
    val joins = (s: String) => "Join".r.findAllIn(s).size
    val ps = plan(GapFill.denseBySeries(r, TierSpec.T1d))
    assert(ps.contains("Generate"), ps.take(800))
    assert(joins(ps) == joins(plan(r)),
      s"denseBySeries added a join:\n${ps.take(800)}")
  }

  test("minHashLsh: bucket-grouped pair emission — no self-join, no persist") {
    // other suites on the shared session may have cached this parquet;
    // the CacheManager would substitute their InMemoryRelation into OUR
    // plan and fake a persist — drop session caches first
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // no collect(): the pre-execution adaptive plan prints the initial
    // tree once (the executed form would echo Final + Initial sections
    // and double every operator count)
    val p = plan(Dedup.minHashLsh(docs, "doc_id", "text"))
    // the in-row signature kernel feeds a single bucket aggregate that
    // emits pairs in-row: no join operator at all (the round-5
    // self-join read a reused exchange twice and sorted both sides),
    // and exactly two hash exchanges — buckets by (band, band_hash)
    // and the final pair distinct (the signature explode+agg exchange
    // is gone: signatures are a per-document expression now)
    assert(!p.contains("Join"), p.take(1200))
    assert(p.contains("static_invoke(graft.functions.MinHashSig.signature("),
      p.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(1200))
    // no persist leaks into the caller's session (other suites may
    // cache their own data on the shared session, so assert on THIS
    // plan, not on global persistent-RDD state)
    assert(!p.contains("InMemoryTableScan"), p.take(1200))
  }

  test("whole-stage codegen covers the rollup pipeline") {
    val df = Rollup.fromRaw(WebPages.load(spark, sfDir), TierSpec.T5m)
    // AQE inserts codegen stages only in the FINAL plan; collect() runs
    // THIS DataFrame's QueryExecution (count() would build its own)
    df.collect()
    val p = plan(df)
    // codegen stages print as "WholeStageCodegen (n)" or the compact
    // "*(n)" operator prefix depending on format
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(500))

    // every compiled kernel, projected over parquet, sits in a codegen
    // stage whose generated source calls the helper directly — the
    // reflective interpreted path would read `references[..].eval(`
    import graft.functions._
    import graft.codec.{Gorilla, GorillaDecodeExpression}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val t = col("text")
    val v = col("v")
    // a valid block on every row, not constant-folded away
    val block = when(col("doc_id") >= 0L,
      lit(Gorilla.encode(Array(1L, 2L), Array(0.5, 1.5))))
    val kernels: Seq[(DataFrame, org.apache.spark.sql.Column, String)] = Seq(
      (docs, Hash60.of(t), "graft.functions.Hash60.hash"),
      (docs, WordShingles.of(t, 3), "graft.functions.WordShingles.shingles"),
      (docs, MinHashSig.of(t, 3, 4), "graft.functions.MinHashSig.signature"),
      (docs, SimHashFp.of(t, 16), "graft.functions.SimHashFp.fingerprint"),
      (docs, RepetitionStats.of(t, 8), "graft.functions.RepetitionStats.stats"),
      (docs, OccurrenceCounts.of(t, Seq(" the ")),
        "graft.functions.OccurrenceCounts.counts"),
      (docs, DecontamOverlap.of(t, 3, Seq((1L, "a b c")), 500L),
        "graft.functions.DecontamOverlap.score"),
      (docs, GorillaDecodeExpression(block),
        "graft.codec.GorillaDecodeExpression.decode"),
      (emb, DotProduct.dot(v, v), "graft.functions.DotProduct.product"),
      (emb, LshBuckets.forPlanes(v, 1, 2, Array(Array(1.0), Array(-1.0))),
        "graft.functions.LshBuckets.buckets"),
      (emb, IvfNearest.topCents(v, lit(1.0), Seq((0L, Array(1.0))), 1),
        "graft.functions.IvfNearest.top"))
    for ((src, kernel, fn) <- kernels) {
      val q = src.select(kernel.as("k"))
      q.collect()
      val kp = plan(q)
      assert(("""\*\(\d+\) Project \[static_invoke\(""" +
        java.util.regex.Pattern.quote(fn + "(")).r.findFirstIn(kp).isDefined,
        s"$fn outside a codegen stage:\n$kp")
      val sources = q.queryExecution.debug.codegenToSeq().map(_._2)
      assert(sources.exists(_.contains(s"$fn(")),
        s"$fn is not a direct call in the generated code")
    }

    // equal constants built independently are one expression to
    // Catalyst, so subexpression elimination evaluates them once
    def sameKernel(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column): Unit = {
      val Seq(ea, eb) = docs.select(a.as("a"), b.as("b"))
        .queryExecution.analyzed.expressions
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child)
      assert(ea.semanticEquals(eb), s"$ea vs $eb")
    }
    sameKernel(OccurrenceCounts.of(t, Seq(" the ", " a ")),
               OccurrenceCounts.of(t, Vector(" the ", " a ")))
    sameKernel(DecontamOverlap.of(t, 3, Seq((1L, "a b c")), 500L),
               DecontamOverlap.of(t, 3, Vector((1L, "a b c")), 500L))
  }

  test("anti-join plans as a real anti join (no subquery re-scan)") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val a = ev.filter(col("event_type") === "purchase").select("user_id").distinct()
    val b = ev.filter(col("event_type") === "error").select("user_id").distinct()
    val p = plan(a.join(b, Seq("user_id"), "left_anti"))
    assert(p.contains("LeftAnti"), p.take(500))
  }

  test("flagged rollup keeps the partial-agg + two-exchange cascade shape") {
    val p = plan(Rollup.cascade(
      Rollup.fromRaw(WebPages.load(spark, sfDir), TierSpec.T5m,
        measures = Rollup.flagged),
      TierSpec.T1h))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2)
  }

  test("LSH ANN ranks via group-limit pushdown, query side broadcast") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(Similarity.lshTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5))
    // rank<=k is pushed into a WindowGroupLimit (no full candidate sort
    // survives) and the small query side broadcasts
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(p.contains("BroadcastExchange"), p.take(800))
  }

  test("IVF assignment is in-row: one skinny rank exchange, no n·nlist shuffle") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5))
    // the round-5 plan exchanged |corpus|·nlist vector-carrying rows
    // per assignment pass (crossJoin + row_number window); the in-row
    // IvfNearest kernel leaves exactly ONE exchange — the final
    // rank window over (query_id, neighbor_id, score) candidate rows
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
    assert(p.contains("static_invoke(graft.functions.IvfNearest.top("),
      p.take(1500))
    assert(p.contains("BroadcastExchange"), p.take(1500))
  }

  test("url-bucketed tables join WITHOUT a shuffle (co-located bucket join)") {
    // the north-rule bucketing contract: two tables bucketed by the
    // same key into the same bucket count join shuffle-free — at 100 TB
    // this is the difference between an exchange of the whole fact
    // table and none at all
    val pages = WebPages.load(spark, sfDir)
      .select("url", "domain", "n_chars", "warc_epoch")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    pages.write.bucketBy(8, "url").sortBy("url")
      .mode("overwrite").saveAsTable("graft_bucket_a")
    pages.select("url", "warc_epoch").write.bucketBy(8, "url").sortBy("url")
      .mode("overwrite").saveAsTable("graft_bucket_b")
    // merge hint: at test scale the planner would broadcast the tiny
    // side (also shuffle-free, but trivially); the 100 TB case is two
    // big sides, where only bucket co-location avoids the exchange
    val j = spark.table("graft_bucket_a").hint("merge")
      .join(spark.table("graft_bucket_b"), "url")
    j.collect() // finalize AQE plan
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Exchange"),
      s"bucketed join must not shuffle:\n${p.take(800)}")
  }

  test("top-k per series pushes a PARTIAL WindowGroupLimit below the exchange") {
    // rank<=k over a window must shrink map output to k rows per
    // (partition, key) BEFORE the shuffle — the built-in skew guard for
    // top-k; without it a Zipf-head series ships its whole stream
    val df = graft.SparkEntry.queries("topk_per_series")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert("WindowGroupLimit[^\n]*Partial".r.findFirstIn(p).isDefined,
      p.take(1200))
  }

  test("salted rollup phase 1 keys include the salt (skew spread)") {
    val o = optimized(Rollup.fromRaw(
      WebPages.load(spark, sfDir), TierSpec.T1h, saltBuckets = Some(8)))
    assert(o.contains("_salt"), o.take(800))
  }

  test("two-ruleset A/B queries read the corpus ONCE (no per-version scan)") {
    // evaluating an extra ruleset version must cost a projection, not a
    // second 100 TB read: one FileScan, one fp window exchange, one
    // Generate
    val qs = graft.Queries.all.toMap
    for (name <- Seq("text_scrub_rulesets", "corpus_filter_rulesets")) {
      val p = plan(qs(name).run(spark, sfDir))
      val scans = "FileScan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$name: $scans corpus scans\n${p.take(600)}")
    }
    val df = qs("corpus_filter_rulesets").run(spark, sfDir)
    val pf = plan(df)
    assert("Exchange hashpartitioning".r.findAllIn(pf).size == 1, pf.take(800))
    // the window exchange carries fingerprint + per-version structs,
    // never the text payload — checked on the shuffle's OUTPUT SCHEMA
    // (a plan-string grep only sees the partitioning expressions)
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(e => !e.output.exists(_.name == "text")),
      shuffles.map(_.output.map(_.name).mkString(",")).mkString(" | "))
  }
}
