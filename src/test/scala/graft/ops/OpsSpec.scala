package graft.ops

import graft.SparkSuite
import graft.core.{Flag, TierSpec}
import graft.ingest.WebPages
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the rollup cascade + gap-fill (the reference's §5.3
  * invariant-test style re-targeted at our grid).
  */
class OpsSpec extends AnyFunSuite with SparkSuite {

  private lazy val pages = WebPages.load(spark, sfDir).cache()
  private lazy val r5m = Rollup.fromRaw(pages, TierSpec.T5m).cache()

  test("cascade conserves counts and sums at every tier") {
    val raw = pages.count()
    val rawChars = pages.agg(sum("n_chars")).head().getLong(0)
    var finer = r5m
    for (tier <- TierSpec.cascade.tail) {
      finer = Rollup.cascade(finer, tier)
      val agg = finer.agg(sum("n"), sum("sum_chars")).head()
      assert(agg.getLong(0) == raw, s"count conservation at ${tier.name}")
      assert(agg.getLong(1) == rawChars, s"sum conservation at ${tier.name}")
    }
  }

  test("flagged cascade combine semantics: merge equals direct at every tier") {
    // the pinned contract: state counts sum; value measures are OK-only
    // and merge null-skipping — so any cascade composition equals the
    // direct flagged rollup at the same tier
    var finer = Rollup.fromRaw(pages, TierSpec.T5m, measures = Rollup.flagged)
    for (tier <- TierSpec.cascade.tail) {
      finer = Rollup.cascade(finer, tier)
      val direct = Rollup.fromRaw(pages, tier, measures = Rollup.flagged)
      assert(finer.exceptAll(direct).isEmpty && direct.exceptAll(finer).isEmpty,
        s"flagged merge != direct at ${tier.name}")
    }
  }

  test("flagged measures: NODATA/UNDETECT rows never contaminate value aggregates") {
    val flagged = Rollup.fromRaw(pages, TierSpec.T1h, measures = Rollup.flagged)
    val okOnly = Rollup.fromRaw(
      pages.filter(col("flag") === Flag.OK.toInt), TierSpec.T1h)
      .select(col("domain"), col("bucket_epoch"),
        col("sum_value_micros").as("ok_sum"),
        col("min_value_micros").as("ok_min"),
        col("max_value_micros").as("ok_max"))
    val joined = flagged.join(okOnly, Seq("domain", "bucket_epoch"))
    assert(joined.filter(
      col("sum_value_micros") =!= col("ok_sum") ||
      col("min_value_micros") =!= col("ok_min") ||
      col("max_value_micros") =!= col("ok_max")).isEmpty)
    // counts are exhaustive and disjoint
    assert(flagged.filter(
      col("n") =!= col("n_ok") + col("n_nodata") + col("n_undetect")).isEmpty)
    // a bucket with zero OK rows has null value measures
    assert(flagged.filter(col("n_ok") === 0 &&
      col("sum_value_micros").isNotNull).isEmpty)
    // and such buckets exist in the corpus (the contract is exercised)
    assert(flagged.filter(col("n_ok") === 0).count() > 0)
  }

  test("salted flagged rollup equals unsalted (with text_sha) — skew mode is free") {
    val sha = Some(xxhash64(WebPages.extractText(col("html"))))
    val plain = Rollup.fromRaw(pages, TierSpec.T1h, textSha = sha,
                               measures = Rollup.flagged)
    val salted = Rollup.fromRaw(pages, TierSpec.T1h, textSha = sha,
                                measures = Rollup.flagged, saltBuckets = Some(8))
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("salted rollup equals unsalted rollup") {
    val plain = Rollup.fromRaw(pages, TierSpec.T1h)
    val salted = Rollup.fromRaw(pages, TierSpec.T1h, saltBuckets = Some(7))
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("cascade merges only measure columns, in order, and refuses a frame with none") {
    val keysFirst = r5m.select("n", "max_value_micros", "domain", "bucket_epoch")
    assert(Rollup.cascade(keysFirst, TierSpec.T1h).columns.toSeq ==
      Seq("domain", "bucket_epoch", "n", "max_value_micros"))
    val e = intercept[IllegalArgumentException] {
      Rollup.cascade(r5m.select("domain", "bucket_epoch"), TierSpec.T1h)
    }
    assert(e.getMessage.contains("no measure column"), e.getMessage)
  }

  test("bucket starts are tier-aligned") {
    for (tier <- TierSpec.cascade) {
      val r = Rollup.fromRaw(pages, tier)
      assert(r.filter(col("bucket_epoch") % tier.seconds =!= 0).isEmpty)
    }
  }

  test("gap-fill materializes the complete fixed grid per series") {
    val dense = GapFill.dense(r5m, TierSpec.T5m)
    val bounds = r5m.agg(min("bucket_epoch"), max("bucket_epoch")).head()
    val gridLen = (bounds.getLong(1) - bounds.getLong(0)) / 300 + 1
    val nSeries = r5m.select("domain").distinct().count()
    assert(dense.count() == gridLen * nSeries)
    // the same fixed ladder for every series (reference
    // tests/test_vpts.py:141-146 analog)
    val perSeries = dense.groupBy("domain")
      .agg(countDistinct("bucket_epoch").as("nb"))
      .select("nb").distinct().collect()
    assert(perSeries.length == 1 && perSeries.head.getLong(0) == gridLen)
  }

  test("gap rows are flagged null-markers; observed rows keep measures") {
    val dense = GapFill.dense(r5m, TierSpec.T5m)
    assert(dense.filter(col("is_gap") && col("flag") =!= Flag.NODATA).isEmpty)
    assert(dense.filter(!col("is_gap") && col("flag") =!= Flag.OK).isEmpty)
    assert(dense.filter(col("is_gap") && col("n").isNotNull).isEmpty)
    assert(dense.filter(!col("is_gap") && col("n").isNull).isEmpty)
  }

  test("forward-fill carries last observation; leading gaps stay null") {
    val dense = GapFill.dense(r5m, TierSpec.T5m)
    val filled = GapFill.forwardFill(dense)
    // no nulls after a series' first observation
    val firstObs = dense.filter(!col("is_gap"))
      .groupBy("domain").agg(min("bucket_epoch").as("first_obs"))
    val bad = filled.join(firstObs, "domain")
      .filter(col("bucket_epoch") >= col("first_obs") &&
              col("ffill_value").isNull)
    assert(bad.isEmpty)
    // leading gaps have no value
    assert(filled.join(firstObs, "domain")
      .filter(col("bucket_epoch") < col("first_obs") &&
              col("ffill_value").isNotNull).isEmpty)
    // observed rows carry their own value
    assert(filled.filter(!col("is_gap") &&
      col("ffill_value") =!= col("sum_value_micros")).isEmpty)
  }

  test("profile explode: parallel arrays flatten by index, scalars replicate, ragged pads null") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(10, 20, 30), Seq("a", "b", "c")),
      (2L, Seq(40), Seq("d"))).toDF("id", "xs", "ys")
    val out = ProfileExplode.explodeParallel(df, Seq("xs", "ys"), Seq("id"))
    assert(out.columns.toSeq == Seq("id", "level_idx", "xs", "ys"))
    val rows = out.orderBy("id", "level_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.get(2), r.get(3)))
    assert(rows.toSeq == Seq((1L, 0, 10, "a"), (1L, 1, 20, "b"),
      (1L, 2, 30, "c"), (2L, 0, 40, "d")))
    // ragged arrays pad with null instead of dropping levels
    val ragged = Seq((1L, Seq(1, 2), Seq("a"))).toDF("id", "xs", "ys")
    val r2 = ProfileExplode.explodeParallel(ragged, Seq("xs", "ys"), Seq("id"))
      .orderBy("level_idx").collect()
    assert(r2.length == 2 && r2(1).isNullAt(3))
    // a profile whose arrays are all null still emits one row (outer
    // generator) — scalars are never silently dropped
    val nulls = Seq((9L, null.asInstanceOf[Seq[Int]],
                     null.asInstanceOf[Seq[String]])).toDF("id", "xs", "ys")
    val r3 = ProfileExplode.explodeParallel(nulls, Seq("xs", "ys"), Seq("id"))
      .collect()
    assert(r3.length == 1 && r3(0).getLong(0) == 9L && r3(0).isNullAt(1))
    // plan: one generator, no exchange (map-side row multiplier)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan.take(400))
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  test("as-of join: inclusive backward match, key isolation, leading nulls") {
    import spark.implicits._
    val left = Seq(("a", 5L, 1), ("a", 10L, 2), ("a", 15L, 3),
                   ("a", 25L, 4), ("b", 100L, 5))
      .toDF("k", "t", "row_id")
    val right = Seq(("a", 10L, "x1"), ("a", 20L, "x2"))
      .toDF("k", "rt", "payload")
    val out = AsofJoin.backward(left, right, Seq("k"), "t", "rt")
      .orderBy("row_id").collect()
    assert(out.map(r => Option(r.getString(3)).orNull).toSeq ==
      Seq(null, "x1", "x1", "x2", null))
    // ONE shuffle: a single window exchange, no join node
    val plan = AsofJoin.backward(left, right, Seq("k"), "t", "rt")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan.take(600))
    assert(!plan.contains("Join"), plan.take(600))
  }

  test("interpolation: linear between neighbors, exact at observed, null at edges") {
    import spark.implicits._
    // series "a": observed v=0 @ t=0 and v=300 @ t=30 with 10s buckets
    val dense = Seq(
      ("a", 0L,  Some(0L),   false),
      ("a", 10L, None,       true),
      ("a", 20L, None,       true),
      ("a", 30L, Some(300L), false),
      ("a", 40L, None,       true),   // trailing gap
      ("b", 0L,  None,       true),   // leading gap
      ("b", 10L, Some(7L),   false))
      .toDF("domain", "bucket_epoch", "sum_value_micros", "is_gap")
    val out = GapFill.interpolate(dense)
      .orderBy("domain", "bucket_epoch")
      .collect().map(r => Option(r.getAs[java.lang.Long]("interp_value")).map(_.toLong))
    assert(out.toSeq == Seq(Some(0L), Some(100L), Some(200L), Some(300L),
      None, None, Some(7L)))
  }

  test("sessionization: gap splits, tie rows share a session, stats exact") {
    import spark.implicits._
    val ev = Seq(
      (1L, 0L, 10L), (1L, 100L, 11L), (1L, 100L, 12L), // ties share
      (1L, 2000L, 13L),                                 // 1900 > 1800 → new
      (1L, 3000L, 14L),                                 // 1000 ≤ 1800 → same
      (2L, 5L, 20L))
      .toDF("user_id", "t_epoch", "event_id")
    val out = Sessionize.stats(ev, "user_id", "t_epoch", "event_id", 1800L)
      .orderBy("user_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, 3L, 0L, 100L, 100L),
      (1L, 2L, 2L, 2000L, 3000L, 1000L),
      (2L, 1L, 1L, 5L, 5L, 0L)))
    // one window exchange, no join
    val p = Sessionize.assign(ev, "user_id", "t_epoch", "event_id", 1800L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(600))
  }

  test("counter rate: positive deltas sum, resets contribute post-reset value") {
    import spark.implicits._
    // counter: 10 → 25 → 5 (reset) → 8; increases: 0, 15, 5, 3 = 23
    val ev = Seq((1L, 0L, 1L, 10L), (1L, 10L, 2L, 25L),
                 (1L, 20L, 3L, 5L), (1L, 30L, 4L, 8L),
                 (2L, 0L, 5L, 100L)) // single sample: increase 0
      .toDF("k", "t", "id", "counter")
    val inc = Rate.counterIncrease(ev, "k", "t", "id", "counter")
      .orderBy("id").collect().map(_.getAs[Long]("increase"))
    assert(inc.toSeq == Seq(0L, 15L, 5L, 3L, 0L))
    val b = Rate.perBucket(ev, "k", "t", "id", "counter", TierSpec.T5m)
      .filter(col("k") === 1L).head()
    assert(b.getAs[Long]("increase") == 23L &&
           b.getAs[Long]("n_samples") == 4L)
  }

  test("bucketed sessionization equals the one-window form at any bucket width") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // bursts + long gaps + exact-gap boundaries + ties; sessions span
    // many narrow buckets when width < gap (chained merges)
    val rows = (0 until 400).map { i =>
      val key = (i % 3).toLong
      val t = rnd.nextInt(40000).toLong
      (key, t, i.toLong)
    } ++ Seq((9L, 0L, 1000L), (9L, 1800L, 1001L), (9L, 3600L, 1002L),
             (9L, 5401L, 1003L)) // exact-gap chain then break
    val ev = rows.toDF("user_id", "t_epoch", "event_id")
    val base = Sessionize.assign(ev, "user_id", "t_epoch", "event_id", 1800L)
      .select("user_id", "t_epoch", "event_id", "session_seq")
    for (w <- Seq(450L, 1800L, 7200L, 1000000L)) {
      val b = Sessionize.assignBucketed(
          ev, "user_id", "t_epoch", "event_id", 1800L, w)
        .select("user_id", "t_epoch", "event_id", "session_seq")
      assert(b.exceptAll(base).isEmpty && base.exceptAll(b).isEmpty,
        s"bucketed(width=$w) != one-window")
    }
    // skew contract: the raw-row window partitions by (key, bucket)
    val p = Sessionize.assignBucketed(ev, "user_id", "t_epoch", "event_id",
        1800L, 450L).queryExecution.executedPlan.toString
    assert("hashpartitioning\\(user_id[^)]*_bkt".r.findFirstIn(p).isDefined,
      p.take(1200))
  }

  test("statsBucketed equals assign + raw-row session stats at any bucket width") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 400).map { i =>
      ((i % 3).toLong, rnd.nextInt(40000).toLong, i.toLong)
    } ++ Seq((9L, 0L, 1000L), (9L, 1800L, 1001L), (9L, 3600L, 1002L),
             (9L, 5401L, 1003L)) // exact-gap chain then break
    val ev = rows.toDF("user_id", "t_epoch", "event_id")
    val base = Sessionize.assign(ev, Seq("user_id"), "t_epoch", "event_id", 1800L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
           min(col("t_epoch")).as("start_epoch"),
           max(col("t_epoch")).as("end_epoch"))
      .withColumn("duration_s", col("end_epoch") - col("start_epoch"))
    for (w <- Seq(450L, 1800L, 7200L, 1000000L)) {
      val b = Sessionize.statsBucketed(
        ev, Seq("user_id"), "t_epoch", "event_id", 1800L, w)
      assert(b.schema.fieldNames.toSeq == base.schema.fieldNames.toSeq)
      assert(b.exceptAll(base).isEmpty && base.exceptAll(b).isEmpty,
        s"statsBucketed(width=$w) != assign + stats")
    }
    // plan shape: TWO exchanges total — the phase-1 (key, bucket)
    // raw-row exchange and the per-key carry exchange over the
    // session-level stream; no join, and no exchange keyed on the
    // local or global session number (the assign-then-aggregate form
    // re-shuffled the raw rows into the final per-session grouping,
    // and the offset-join form re-evaluated phase 1 in a second
    // branch and needed a third exchange after the join)
    val p = Sessionize.statsBucketed(ev, Seq("user_id"), "t_epoch",
        "event_id", 1800L, 450L)
      .queryExecution.executedPlan.toString
    assert(!"hashpartitioning\\(user_id[^)]*_ls".r.findFirstIn(p).isDefined,
      p.take(1500))
    assert(!"hashpartitioning\\(user_id[^)]*session_seq".r.findFirstIn(p).isDefined,
      p.take(1500))
    assert("hashpartitioning\\(user_id[^)]*_bkt".r.findFirstIn(p).isDefined,
      p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(1500))
  }

  test("multi-column series keys: sessionize + gap-fill over a composite key") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val ev = (0 until 300).map { i =>
      ((i % 2).toLong, (i % 3).toLong, rnd.nextInt(20000).toLong, i.toLong)
    }.toDF("k1", "k2", "t_epoch", "event_id")
    val keys = Seq("k1", "k2")
    val base = Sessionize.assign(ev, keys, "t_epoch", "event_id", 1800L)
    val bucketed = Sessionize.assignBucketed(ev, keys, "t_epoch", "event_id",
                                             1800L, 450L)
    assert(bucketed.exceptAll(base).isEmpty && base.exceptAll(bucketed).isEmpty,
      "composite-key bucketed sessionize != one-window form")
    // BOTH key columns partition the window exchange
    val p = base.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(k1[^)]*k2".r.findFirstIn(p).isDefined, p.take(900))

    val roll = ev.groupBy(col("k1"), col("k2"),
        graft.ops.Rollup.bucket(col("t_epoch"), graft.core.TierSpec.T5m))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_value_micros"))
    val dense = GapFill.denseBySeries(roll, graft.core.TierSpec.T5m, keys)
    // per-series grid: exactly (max-min)/step+1 rows per composite series
    val bad = dense.groupBy("k1", "k2")
      .agg(count(lit(1)).as("c"),
           expr("(max(bucket_epoch) - min(bucket_epoch)) DIV 300 + 1").as("want"))
      .filter(col("c") =!= col("want"))
    assert(bad.isEmpty, "composite-key per-series grid has wrong density")
    // ffill + interpolate accept the composite key; observed rows pass through
    val ff = GapFill.forwardFill(dense, "sum_value_micros", keys)
    assert(ff.filter(!col("is_gap") &&
      col("ffill_value") =!= col("sum_value_micros")).isEmpty)
    val ip = GapFill.interpolate(dense, "sum_value_micros", keys)
    assert(ip.filter(!col("is_gap") &&
      col("interp_value") =!= col("sum_value_micros")).isEmpty)
  }

  test("forward as-of join: inclusive next match, trailing nulls") {
    import spark.implicits._
    val left = Seq(("a", 5L, 1), ("a", 10L, 2), ("a", 15L, 3),
                   ("a", 25L, 4), ("b", 100L, 5))
      .toDF("k", "t", "row_id")
    val right = Seq(("a", 10L, "x1"), ("a", 20L, "x2"))
      .toDF("k", "rt", "payload")
    val out = AsofJoin.forward(left, right, Seq("k"), "t", "rt")
      .orderBy("row_id").collect()
    assert(out.map(r => Option(r.getString(3)).orNull).toSeq ==
      Seq("x1", "x1", "x2", null, null))
  }

  test("bucketed as-of join equals the one-window form at any bucket width") {
    import spark.implicits._
    val left = Seq(("a", 5L, 1), ("a", 10L, 2), ("a", 15L, 3),
                   ("a", 25L, 4), ("a", 95L, 5), ("b", 100L, 6))
      .toDF("k", "t", "row_id")
    val right = Seq(("a", 10L, "x1"), ("a", 20L, "x2"))
      .toDF("k", "rt", "payload")
    val base = AsofJoin.backward(left, right, Seq("k"), "t", "rt")
    // widths that split buckets mid-stream, cross multiple empty buckets
    // (t=95 carries x2 over buckets 30..90), and degenerate to one bucket
    for (w <- Seq(7L, 10L, 1000L)) {
      val b = AsofJoin.backwardBucketed(left, right, Seq("k"), "t", "rt", w)
      assert(b.exceptAll(base).isEmpty && base.exceptAll(b).isEmpty,
        s"bucketed(width=$w) != one-window")
    }
    // and on real data: the asof_join query inputs
    val p = WebPages.load(spark, sfDir).select("event_id", "domain", "warc_epoch")
    val sparse = Rollup.fromRaw(WebPages.load(spark, sfDir), TierSpec.T1d)
      .filter(col("n") >= 5)
      .select(col("domain"), col("bucket_epoch"),
        col("n").as("day_n"), col("sum_value_micros").as("day_sum"))
    val one = AsofJoin.backward(p, sparse, Seq("domain"), "warc_epoch", "bucket_epoch")
    val two = AsofJoin.backwardBucketed(
      p, sparse, Seq("domain"), "warc_epoch", "bucket_epoch", 2L * 86400L)
    assert(two.exceptAll(one).isEmpty && one.exceptAll(two).isEmpty)
    // skew contract: the heavy raw-row window partitions by (key, bucket)
    val plan = two.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(domain[^)]*_bkt".r.findFirstIn(plan).isDefined,
      plan.take(1200))
  }

  test("range join: containment semantics, equi-join plan (no nested loop)") {
    import spark.implicits._
    val left = Seq(("a", 5L, 1), ("a", 15L, 2), ("a", 25L, 3),
                   ("b", 15L, 4)).toDF("k", "t", "row_id")
    // [10,20) and [12,30): t=15 is in BOTH; t=25 only in the second;
    // boundary t=20 would be outside the first (end-exclusive)
    val right = Seq(("a", 10L, 20L), ("a", 12L, 30L))
      .toDF("k", "ws", "we")
    val out = RangeJoin.contains(left, right, Seq("k"), "t", "ws", "we",
                                 grainSeconds = 10L)
    val got = out.select("row_id", "ws").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((2, 10L), (2, 12L), (3, 12L)))
    // equi-join on (key, bucket): SMJ/hash join, never a nested loop
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop"), p.take(600))
  }

  test("BMP header decode: byte-level LE parse round-trips; bad magic yields null") {
    import spark.implicits._
    // multi-byte values pin the little-endian byte order (0x00010203,
    // 0x01020304); small values pin the padding
    val df = Seq((1L, 66051L, 16909060L), (2L, 1L, 1L)).toDF("id", "w", "h")
    val dec = df.select(col("id"),
        Multimodal.decodeBmp(Multimodal.syntheticBmp(col("w"), col("h"))).as("d"))
      .orderBy("id").collect()
    assert(dec(0).getStruct(1).getLong(0) == 66051L)
    assert(dec(0).getStruct(1).getLong(1) == 16909060L)
    assert(dec(0).getStruct(1).getLong(2) == 24L)
    assert(dec(1).getStruct(1).getLong(0) == 1L)
    // wrong magic ('GIF8') and truncated payloads decode to null, never throw
    val bad = Seq(Array[Byte](0x47, 0x49, 0x46, 0x38),
                  Array[Byte](0x42, 0x4D)).toDF("p")
    assert(bad.select(Multimodal.decodeBmp(col("p")).as("d"))
      .filter(col("d").isNotNull).isEmpty)
  }

  test("PNG IHDR decode: big-endian parse round-trips; bad signature yields null") {
    import spark.implicits._
    // multi-byte values pin the big-endian byte order
    val df = Seq((1L, 66051L, 16909060L), (2L, 1L, 1L)).toDF("id", "w", "h")
    val dec = df.select(col("id"),
        Multimodal.decodePng(Multimodal.syntheticPng(col("w"), col("h"))).as("d"))
      .orderBy("id").collect()
    assert(dec(0).getStruct(1).getLong(0) == 66051L)
    assert(dec(0).getStruct(1).getLong(1) == 16909060L)
    assert(dec(0).getStruct(1).getLong(2) == 8L)   // bit depth
    assert(dec(0).getStruct(1).getLong(3) == 2L)   // color type (truecolor)
    assert(dec(1).getStruct(1).getLong(0) == 1L)
    // a BMP payload and a truncated signature are not PNGs
    val notPng = df.select(
      Multimodal.decodePng(Multimodal.syntheticBmp(col("w"), col("h"))).as("d"))
    assert(notPng.filter(col("d").isNotNull).isEmpty)
  }

  test("extractFeatures routes by magic: real dims for BMP/PNG, stub only for unknown") {
    import spark.implicits._
    val df = Seq((1L, "bmp"), (2L, "png"), (3L, "txt")).toDF("id", "k")
      .withColumn("payload",
        when(col("k") === "bmp", Multimodal.syntheticBmp(lit(640L), lit(480L)))
          .when(col("k") === "png", Multimodal.syntheticPng(lit(800L), lit(600L)))
          .otherwise(encode(lit("hello world"), "UTF-8")))
    val out = Multimodal.extractFeatures(df, "id", "payload")
      .orderBy("id").collect()
    assert(out(0).getAs[String]("kind") == "bmp" &&
      out(0).getAs[Long]("width") == 640L && out(0).getAs[Long]("height") == 480L &&
      out(0).getAs[Long]("n_frames") == 1L)
    assert(out(1).getAs[String]("kind") == "png" &&
      out(1).getAs[Long]("width") == 800L && out(1).getAs[Long]("height") == 600L)
    assert(out(2).getAs[String]("kind") == "unknown" &&
      out(2).getAs[Long]("width") < 1280L)
    // the byte digest is md5 of the raw payload (spec-covered; the
    // oracle can't md5 blobs in DuckDB 1.0)
    val digest = df.select(md5(col("payload")).as("m"), col("id"))
      .orderBy("id").collect().map(_.getString(0))
    assert(out.map(_.getAs[String]("sha_md5")).sameElements(digest))
    // a top-down (negative-height) BMP reports the |pixel-row| count
    val topDown = Seq(1L).toDF("id").withColumn("payload",
      Multimodal.syntheticBmp(lit(10L), lit(4294967291L))) // -5 as uint32
    val f = Multimodal.extractFeatures(topDown, "id", "payload").head()
    assert(f.getAs[Long]("height") == 5L)
  }

  test("BMP biHeight is signed: a top-down BMP decodes to its negative height") {
    import spark.implicits._
    // -5 as a uint32 bit pattern = 4294967291; biHeight is signed per
    // BITMAPINFOHEADER, so the decode must read -5, not ~2^32
    val df = Seq((1L, 10L, 4294967291L)).toDF("id", "w", "hbits")
    val dec = df.select(
        Multimodal.decodeBmp(Multimodal.syntheticBmp(col("w"), col("hbits"))).as("d"))
      .head().getStruct(0)
    assert(dec.getLong(0) == 10L)
    assert(dec.getLong(1) == -5L, s"expected -5, got ${dec.getLong(1)}")
  }

  test("range join: degenerate (empty/inverted) intervals match nothing, never throw") {
    import spark.implicits._
    val left = Seq(("a", 15L, 1)).toDF("k", "t", "row_id")
    // empty [10,10) and inverted [30,20) alongside one real window
    val right = Seq(("a", 10L, 10L), ("a", 30L, 20L), ("a", 10L, 20L))
      .toDF("k", "ws", "we")
    val got = RangeJoin.contains(left, right, Seq("k"), "t", "ws", "we", 10L)
      .select("row_id", "ws").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((1, 10L)))
  }

  test("batched (per-partition) decode matches the Column stub bit-for-bit; no shuffle") {
    val in = pages.select(col("event_id"), col("html"))
      .filter(col("event_id") % 50L === 0L) // narrow row subset (limit() would add an exchange)
    val batched = BatchDecode.decodePartitioned(in, "event_id", "html")
    val columnar = in.select(col("event_id"),
        Multimodal.stubDecode(col("html")).as("f"))
      .select(col("event_id"), col("f.byte_len"), col("f.sha_md5"),
              col("f.width"), col("f.height"), col("f.n_frames"))
    assert(batched.exceptAll(columnar).isEmpty &&
           columnar.exceptAll(batched).isEmpty)
    // narrow: mapPartitions adds no SHUFFLE (the input subtree's own
    // dimension BroadcastExchange is allowed)
    val p = batched.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning") &&
           !p.contains("Exchange rangepartitioning") &&
           !p.contains("Exchange SinglePartition"), p.take(600))
    // frame sampling: even spacing, bounds respected
    assert(BatchDecode.sampleFrameIndices(10L, 4) == Seq(0L, 2L, 5L, 7L))
    assert(BatchDecode.sampleFrameIndices(3L, 4) == Seq(0L, 1L, 2L))
    assert(BatchDecode.sampleFrameIndices(0L, 4).isEmpty)
  }

  test("web-pages per-row invariant: text extracted from html is byte-identical") {
    assert(pages.filter(
      WebPages.extractText(col("html")) =!= col("text")).isEmpty)
    // and the html payload is non-trivial binary
    assert(pages.filter(length(col("html")) <= length(col("text"))).isEmpty)
  }
}
