package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-curation operators beyond dedup: stratified sampling and
  * benchmark decontamination.
  */
class CurationSpec extends AnyFunSuite with SparkSuite {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("stratified sample: nested quotas, deterministic, rate tracks the quota") {
    val n = docs.count()
    val s200 = Sampling.stratifiedHash(docs, "doc_id", lit(200L))
    val s500 = Sampling.stratifiedHash(docs, "doc_id", lit(500L))
    // nested: the 200‰ sample is a strict subset of the 500‰ sample
    assert(s200.join(s500, Seq("doc_id"), "left_anti").isEmpty)
    // deterministic: same rows on a repartitioned input
    val again = Sampling.stratifiedHash(docs.repartition(7), "doc_id", lit(200L))
    assert(s200.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
    // rate ≈ quota (hash-uniformity; generous tolerance at small n)
    val rate = s500.count().toDouble / n
    assert(rate > 0.35 && rate < 0.65, s"500‰ sample rate $rate")
    // quota 0 and 1000 are exact
    assert(Sampling.stratifiedHash(docs, "doc_id", lit(0L)).isEmpty)
    assert(Sampling.stratifiedHash(docs, "doc_id", lit(1000L)).count() == n)
  }

  test("exact quota: precisely min(k,|stratum|) per stratum; partial group-limit plan") {
    val q = Sampling.exactQuota(docs, Seq("lang"), "doc_id", 30)
    val sizes = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (l, n) =>
      assert(got(l) == math.min(30L, n), s"stratum $l: ${got(l)}")
    }
    // deterministic under repartition
    val again = Sampling.exactQuota(docs.repartition(5), Seq("lang"), "doc_id", 30)
    assert(q.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
    // rank filter becomes a partial group-limit below the exchange
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert("WindowGroupLimit[^\n]*Partial".r.findFirstIn(p).isDefined,
      p.take(1000))
  }

  test("mixture upsampling: integer weights exact, zero drops, fraction hits expectation") {
    import spark.implicits._
    val n = docs.count()
    // integer weights repeat exactly
    val x3 = Sampling.repeatByWeight(docs, "doc_id", lit(3000L))
    assert(x3.count() == 3 * n)
    assert(x3.groupBy("doc_id").count().filter(col("count") =!= 3L).isEmpty)
    // zero drops everything; copy_idx is 1..k
    assert(Sampling.repeatByWeight(docs, "doc_id", lit(0L)).isEmpty)
    assert(x3.select("copy_idx").distinct().orderBy("copy_idx")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // fractional part lands near expectation (hash-uniform)
    val x15 = Sampling.repeatByWeight(docs, "doc_id", lit(1500L)).count()
    assert(x15 > 1.3 * n && x15 < 1.7 * n, s"1.5x weight produced $x15 of $n")
    // plan: one Generate, no shuffle
    val p = x3.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), p.take(400))
    assert(!p.contains("Exchange"), p.take(400))
  }

  test("per-stratum quotas apply independently per stratum") {
    val quota = Sampling.quotaFor(col("lang"), Seq("en" -> 1000L), 0L)
    val sampled = Sampling.stratifiedHash(docs, "doc_id", quota)
    assert(sampled.filter(col("lang") =!= "en").isEmpty)
    assert(sampled.count() == docs.filter(col("lang") === "en").count())
  }

  test("decontaminate: containment semantics — embedded bench doc scores 1000") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "q w e r t y u i o p"),   // fully contains bench doc 10
      (2L, "q w e r x x x x x x"),   // partial overlap with bench 10
      (3L, "z z z z z z")            // no overlap
    ).toDF("doc_id", "text")
    val bench = Seq((10L, "q w e r t")).toDF("bench_id", "text")
    val out = Decontaminate.overlap(corpus, "doc_id", "text",
        bench, "bench_id", "text", k = 3, thresholdMilli = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // bench shingles: "q w e","w e r","e r t" (3 of them); doc 1 has all
    // three → 1000; doc 2 has "q w e","w e r" → 666; doc 3 none
    assert(out == Set((1L, 10L, 1000L), (2L, 10L, 666L)))
    // threshold gates
    val gated = Decontaminate.overlap(corpus, "doc_id", "text",
      bench, "bench_id", "text", k = 3, thresholdMilli = 700L)
    assert(gated.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("decontaminate: duplicate bench ids fail naming the duplicates") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val bench = Seq((7L, "a b c"), (9L, "x y z"), (7L, "b c d"))
      .toDF("bench_id", "text")
    val e = intercept[IllegalArgumentException](Decontaminate.overlap(
      corpus, "doc_id", "text", bench, "bench_id", "text"))
    assert(e.getMessage.contains("bench ids must be unique; 1 duplicated: 7"),
      e.getMessage)
  }

  test("decontaminate: a null or non-numeric bench id fails naming the column") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    for (bad <- Seq(null, "q7")) {
      val bench = Seq(("3", "a b c"), (bad, "b c d")).toDF("bid", "text")
      val e = intercept[IllegalArgumentException](Decontaminate.overlap(
        corpus, "doc_id", "text", bench, "bid", "text"))
      assert(e.getMessage.contains("bench id column `bid`") &&
        e.getMessage.contains("non-null long ids"), e.getMessage)
    }
  }

  test("decontaminate: a bench side above the row cap is refused") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val bench = spark.range(Decontaminate.MaxBenchRows + 1L)
      .select(col("id").as("bench_id"), lit(null).cast("string").as("text"))
    val e = intercept[IllegalArgumentException](Decontaminate.overlap(
      corpus, "doc_id", "text", bench, "bench_id", "text"))
    assert(e.getMessage.contains(
      s"bench side has more than ${Decontaminate.MaxBenchRows} rows"), e.getMessage)
  }

  test("incremental dedup converges to the batch run, any split, pairs disjoint per ingest") {
    val batch = Dedup.minHashLsh(docs, "doc_id", "text")
      .orderBy("id_a", "id_b").collect().toSeq

    // two different split shapes: even/odd and a 3-way chronological-ish
    val splits: Seq[Seq[org.apache.spark.sql.DataFrame]] = Seq(
      Seq(docs.filter(col("doc_id") % 2L === 0L),
          docs.filter(col("doc_id") % 2L === 1L)),
      Seq(docs.filter(col("doc_id") < 150L),
          docs.filter(col("doc_id") >= 150L && col("doc_id") < 300L),
          docs.filter(col("doc_id") >= 300L)))
    for ((increments, i) <- splits.zipWithIndex) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-incdedup-spec$i").toString
      val d = new IncrementalDedup(spark, root)
      val perIngest = increments.map(inc =>
        d.ingest(inc, "doc_id", "text").collect().map(_.toString).toSet)
      // per-ingest pair sets are DISJOINT (each pair discovered exactly
      // once, at its later member's ingest)
      for (Seq(a, b) <- perIngest.combinations(2))
        assert((a intersect b).isEmpty, s"split $i: overlapping ingest pair sets")
      // and their union equals the batch run
      val inc = d.pairs().orderBy("id_a", "id_b").collect().toSeq
      assert(inc == batch, s"split $i: incremental != batch " +
        s"(${inc.size} vs ${batch.size} pairs)")
    }
  }

  test("incremental dedup ingest replay is idempotent (I5): no duplicate bands or pairs") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-replay").toString
    val d = new IncrementalDedup(spark, root)
    val inc1 = docs.filter(col("doc_id") % 2L === 0L)
    d.ingest(inc1, "doc_id", "text")
    val before = d.pairs().collect().map(_.toString).toSet
    val bandsBefore = d.corpusBands().count()
    // replay the SAME increment (crash-then-retry): must be a no-op
    val replay = d.ingest(inc1, "doc_id", "text")
    assert(replay.isEmpty, "replayed ingest emitted pairs")
    assert(d.corpusBands().count() == bandsBefore, "replay duplicated bands")
    assert(d.pairs().collect().map(_.toString).toSet == before)
    // and the pipeline still converges after the real second increment
    d.ingest(docs.filter(col("doc_id") % 2L === 1L), "doc_id", "text")
    val batch = Dedup.minHashLsh(docs, "doc_id", "text")
    assert(d.pairs().exceptAll(batch).isEmpty &&
           batch.exceptAll(d.pairs()).isEmpty)
  }

  test("incremental dedup plan: corpus band table is filtered by a broadcast, not shuffled") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-plan").toString
    val d = new IncrementalDedup(spark, root)
    d.ingest(docs.filter(col("doc_id") % 2L === 0L), "doc_id", "text")
    // capture the pairing plan of a second ingest by reproducing its
    // read path: corpus ⋈ broadcast(increment buckets)
    val inc = d.corpusBands().filter(col("ingest_seq") === 0L)
    val touched = d.corpusBands()
      .join(broadcast(inc.select("band", "band_hash").distinct()),
            Seq("band", "band_hash"))
    val p = touched.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("incremental dedup heals a crashed half-ingest (bands committed, pairs not)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-heal").toString
    val d = new IncrementalDedup(spark, root)
    d.ingest(docs.filter(col("doc_id") % 2L === 0L), "doc_id", "text")
    val pairTable = new graft.table.TierTable(s"$root/pairs", spark)
    val preCrash = pairTable.currentSnapshotId.get
    d.ingest(docs.filter(col("doc_id") % 2L === 1L), "doc_id", "text")
    // simulate the crash window: the band commit survived, the pair
    // commit did not — roll the pair table back to its pre-ingest
    // snapshot. Without healing, a replay would skip the second
    // increment's ids as already-known and its pairs would be lost
    // forever.
    pairTable.rollbackTo(preCrash)
    val d2 = new IncrementalDedup(spark, root)
    val batch = Dedup.minHashLsh(docs, "doc_id", "text")
    assert(d2.pairs().exceptAll(batch).isEmpty &&
           batch.exceptAll(d2.pairs()).isEmpty,
      "healed pair table diverged from the batch run")
  }

  test("replay guard prunes to range-overlapping band partitions (no corpus scan)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-prune").toString
    val d = new IncrementalDedup(spark, root)
    d.ingest(docs.filter(col("doc_id") < 100L), "doc_id", "text")
    d.ingest(docs.filter(col("doc_id") >= 100L && col("doc_id") < 200L),
             "doc_id", "text")
    // a disjoint-range increment reads ZERO band partitions — the
    // ingest path contains no full band-table scan
    assert(d.overlappingBandSeqs(Some((500L, 600L))).isEmpty)
    // an overlapping range selects exactly the covering partition
    assert(d.overlappingBandSeqs(Some((150L, 160L))) == Set("1"))
    assert(d.overlappingBandSeqs(Some((50L, 160L))) == Set("0", "1"))
    // unknown range (non-integral ids) falls back to every partition
    assert(d.overlappingBandSeqs(None) == Set("0", "1"))
    // and the pruned guard still dedups a genuinely replayed overlap
    val before = d.corpusBands().count()
    d.ingest(docs.filter(col("doc_id") >= 100L && col("doc_id") < 200L),
             "doc_id", "text")
    assert(d.corpusBands().count() == before, "replay duplicated bands")
  }

  test("band table is band_hash-bucketed: witness scans read only touched buckets' files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-bucket").toString
    val d = new IncrementalDedup(spark, root, hashBuckets = 8)
    d.ingest(docs.filter(col("doc_id") % 2L === 0L), "doc_id", "text")
    d.ingest(docs.filter(col("doc_id") % 2L === 1L), "doc_id", "text")
    // physical layout: every band data file lives under a band_bucket=
    // sub-directory of its ingest partition
    def parquetFiles(): Seq[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/bands/data"))
      try walk.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally walk.close()
    }
    val all = parquetFiles()
    assert(all.nonEmpty && all.forall(_.contains("band_bucket=")), all.take(3))
    // the shared pruned-read path (used by witnessesFor per ingest and
    // pairs()'s final-size pass): reading one bucket must scan exactly
    // that bucket's files — partition-directory pruning, not a
    // post-scan filter
    val bucket = d.corpusBands().select("band_bucket").distinct()
      .orderBy("band_bucket").head().getLong(0)
    val pruned = d.prunedBandScan(Set("0", "1"), Seq(bucket))
    pruned.collect()
    val finalPlan = pruned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = finalPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, finalPlan.toString.take(500))
    assert(scans.exists(_.partitionFilters.exists(_.toString.contains("band_bucket"))),
      "bucket predicate did not reach the scan's partition filters")
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val bucketFiles = all.count(_.contains(s"band_bucket=$bucket/"))
    assert(filesRead == bucketFiles && filesRead < all.size,
      s"read $filesRead files; bucket has $bucketFiles of ${all.size} total")
    // and correctness is unchanged by the layout: convergence to batch
    val batch = Dedup.minHashLsh(docs, "doc_id", "text")
    assert(d.pairs().exceptAll(batch).isEmpty &&
           batch.exceptAll(d.pairs()).isEmpty)
  }

  test("pairs()/ingest on a corpus with no duplicates: empty result, no crash") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-nodup").toString
    val d = new IncrementalDedup(spark, root)
    // pairs() before any ingest: empty, not IllegalStateException
    assert(d.pairs().isEmpty)
    // two ingests with unique texts → witness partitions all explicitly
    // empty; pairs() must return the legitimate empty set
    // every word carries the doc id → per-doc shingle sets are fully
    // disjoint → distinct signatures, no LSH bucket collisions
    val uniq = (0L until 40L)
      .map(i => (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
      .toDF("doc_id", "text")
    d.ingest(uniq.filter(col("doc_id") < 20L), "doc_id", "text")
    d.ingest(uniq.filter(col("doc_id") >= 20L), "doc_id", "text")
    assert(d.pairs().isEmpty)
    // first-ever ingest of an EMPTY increment: no bands at all, still no
    // crash, and a later real ingest proceeds normally
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-incdedup-empty1st").toString
    val d2 = new IncrementalDedup(spark, root2)
    assert(d2.ingest(uniq.filter(lit(false)), "doc_id", "text").isEmpty)
    assert(d2.pairs().isEmpty)
    d2.ingest(docs, "doc_id", "text")
    val batch = Dedup.minHashLsh(docs, "doc_id", "text")
    assert(d2.pairs().exceptAll(batch).isEmpty &&
           batch.exceptAll(d2.pairs()).isEmpty)
  }

  test("dedup knobs are pinned on disk: reopening with different config fails fast") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-cfg").toString
    val d = new IncrementalDedup(spark, root, hashBuckets = 8)
    d.ingest(docs.filter(col("doc_id") < 50L), "doc_id", "text")
    // identical knobs reopen fine and still work
    assert(new IncrementalDedup(spark, root, hashBuckets = 8)
      .corpusBands().count() > 0)
    // a different bucket modulus (stored band_bucket values would
    // mismatch) or signature shape (incomparable hashes) fails fast
    // instead of silently losing pairs
    intercept[IllegalArgumentException] {
      new IncrementalDedup(spark, root, hashBuckets = 16)
    }
    intercept[IllegalArgumentException] {
      new IncrementalDedup(spark, root, numHashes = 8, hashBuckets = 8)
    }
  }

  test("dedup config is compared field by field; a missing knob is named") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-incdedup-cfgjson").toString
    new IncrementalDedup(spark, root, hashBuckets = 8)
    val cfg = Paths.get(s"$root/DEDUP_CONFIG")
    assert(Files.readString(cfg) ==
      """{"num_hashes":16,"bands":4,"shingle_k":3,"hash_buckets":8}""")
    // the same knobs in another key order and layout still match
    Files.writeString(cfg,
      "{ \"hash_buckets\": 8, \"shingle_k\": 3,\n  \"bands\": 4, \"num_hashes\": 16 }")
    new IncrementalDedup(spark, root, hashBuckets = 8)
    intercept[IllegalArgumentException] {
      new IncrementalDedup(spark, root, hashBuckets = 16)
    }
    Files.writeString(cfg, """{"num_hashes":16,"bands":4,"hash_buckets":8}""")
    val e = intercept[IllegalStateException] {
      new IncrementalDedup(spark, root, hashBuckets = 8)
    }
    assert(e.getMessage.contains("\"shingle_k\""), e.getMessage)
  }

  test("corrupt pair-table manifest fails pairs() loudly, never as 'no duplicates'") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-incdedup-corrupt").toString
    val d = new IncrementalDedup(spark, root)
    d.ingest(docs.filter(col("doc_id") < 100L), "doc_id", "text")
    // bump the pair manifest to an unsupported future format — the
    // legitimately-empty fallback must NOT swallow this
    val cur = Files.readString(Paths.get(s"$root/pairs/CURRENT")).trim
    val mf = Paths.get(s"$root/pairs/manifests/manifest-$cur.json")
    Files.writeString(mf, Files.readString(mf)
      .replaceFirst("\"format\":\\d+", "\"format\":99"))
    val e = intercept[IllegalStateException] {
      new IncrementalDedup(spark, root).pairs()
    }
    assert(e.getMessage.contains("format"), e.getMessage)
  }

  test("retention + compaction: pairs() equals the batch run over the surviving corpus") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-expire").toString
    val d = new IncrementalDedup(spark, root)
    d.ingest(docs.filter(col("doc_id") < 150L), "doc_id", "text")
    d.ingest(docs.filter(col("doc_id") >= 150L && col("doc_id") < 300L),
             "doc_id", "text")
    d.ingest(docs.filter(col("doc_id") >= 300L), "doc_id", "text")
    val dropped = d.expire(seq => seq >= 1L)
    assert(dropped == Set("0"), s"dropped $dropped")
    val surviving = docs.filter(col("doc_id") >= 150L)
    val batch = Dedup.minHashLsh(surviving, "doc_id", "text")
    assert(d.pairs().exceptAll(batch).isEmpty &&
           batch.exceptAll(d.pairs()).isEmpty,
      "post-retention pairs() diverged from batch over survivors")
    assert(d.corpusBands().select("ingest_seq").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("cap crossed mid-stream: pairs() still equals batch (final-size mask)") {
    import spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, "same text for every doc in the bucket"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-incdedup-cap").toString
    val d = new IncrementalDedup(spark, root, maxBucket = 3)
    d.ingest(mk(Seq(1L, 2L)), "doc_id", "text") // bucket size 2: recorded
    assert(d.pairs().count() == 1)
    d.ingest(mk(Seq(3L, 4L, 5L)), "doc_id", "text") // size 5 > cap
    // batch with the same cap drops the over-cap bucket ENTIRELY; the
    // recorded (1,2) witness must be masked by the final-size filter
    assert(Dedup.minHashLsh(mk(Seq(1L, 2L, 3L, 4L, 5L)), "doc_id", "text",
                            maxBucket = 3).isEmpty)
    assert(d.pairs().isEmpty, "pre-cap witness leaked past the final-size mask")
  }

  test("connected components: chains, cliques, isolated pairs — min-id labels") {
    import spark.implicits._
    // a 40-node chain (worst case for plain propagation — pointer
    // jumping must converge well under maxIter=25 rounds), a clique,
    // an isolated pair, and a self-loop
    val chain = (1L until 40L).map(i => (i, i + 1))
    val clique = Seq((100L, 101L), (100L, 102L), (101L, 102L))
    val rest = Seq((200L, 201L), (300L, 300L))
    val pairs = (chain ++ clique ++ rest).toDF("id_a", "id_b")
    val got = Components.connected(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 40L).foreach(v => assert(got(v) == 1L, s"chain node $v"))
    Seq(100L, 101L, 102L).foreach(v => assert(got(v) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L && got(300L) == 300L)
    // no persist leaks out of the operator
    assert(spark.sparkContext.getPersistentRDDs.values
      .forall(r => !Option(r.name).exists(_.contains("edges"))))
  }

  test("connected components agree with union-find on random graphs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val nNodes = 5 + rnd.nextInt(20)
      val nEdges = 1 + rnd.nextInt(2 * nNodes)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(v => v -> find(v)).toMap
      val got = Components.connected(
          edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find roots are component minima here (always merge into
      // the smaller root), so the label maps must be identical
      assert(got == expected, s"trial $trial: $edges")
    }
  }

  test("z-order key: bijective interleave; z-sort clusters both dimensions") {
    import graft.functions.ZOrder
    import spark.implicits._
    val pts = (for { x <- 0L until 32L; y <- 0L until 32L } yield (x, y))
      .toDF("x", "y")
    val z = pts.select(col("x"), col("y"),
      ZOrder.zValue(col("x"), col("y"), 16).as("z"))
    // bijection: deinterleave inverts exactly
    assert(z.filter(
      ZOrder.deinterleave(col("z"), 0, 16) =!= col("x") ||
      ZOrder.deinterleave(col("z"), 1, 16) =!= col("y")).isEmpty)
    // locality: split the z-sorted 32×32 grid into 16 equal runs
    // ("files"); each run must span far less than the full range of
    // BOTH dimensions (a lexicographic sort spans the full y range in
    // every x-run) — the property that makes 2-D file pruning work
    val runs = z.orderBy("z").collect().grouped(64).toSeq
    val spans = runs.map { r =>
      val (xs, ys) = (r.map(_.getLong(0)), r.map(_.getLong(1)))
      (xs.max - xs.min, ys.max - ys.min)
    }
    assert(spans.forall { case (sx, sy) => sx <= 8 && sy <= 8 },
      s"z-runs span too much: $spans")
  }

  test("decontaminate plan: in-row scoring — no join, no corpus shingle explode") {
    val bench = docs.filter(col("doc_id") % 50L === 0L)
      .select(col("doc_id").as("bench_id"), col("text"))
    val df = Decontaminate.overlap(docs, "doc_id", "text",
      bench, "bench_id", "text")
    val p = df.queryExecution.executedPlan.toString
    // the bench index rides inside the kernel (it was the broadcast
    // side before); the corpus crosses NO join and NO aggregation —
    // the only Generate explodes the per-doc qualifying pairs
    assert(!p.contains("Join"), p.take(800))
    assert(!p.contains("HashAggregate"), p.take(800))
    assert(p.contains("static_invoke(graft.functions.DecontamOverlap.score("),
      p.take(800))
  }
}
