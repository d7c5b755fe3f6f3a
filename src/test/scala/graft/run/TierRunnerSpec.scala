package graft.run

import java.nio.file.Files

import graft.SparkSuite
import graft.core.TierSpec
import graft.ingest.WebPages
import graft.ops.Rollup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental cascade == full recompute; resume skips committed
  * partitions; manifests carry lineage.
  */
class TierRunnerSpec extends AnyFunSuite with SparkSuite {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-tier").toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two incremental ingests converge to the full-recompute rollup") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    val first = pages.filter(col("warc_ts") < cut)
    val second = pages.filter(col("warc_ts") >= cut)

    val d1 = runner.ingest(first)
    val m1 = runner.run("r1", d1)
    assert(m1.okCount > 0)

    val d2 = runner.ingest(second)
    val m2 = runner.run("r2", d2)
    assert(m2.okCount > 0)

    // Every tier must equal a from-scratch rollup of the full input.
    val full5m = Rollup.fromRaw(pages, TierSpec.T5m, measures = Rollup.flagged)
    val full1h = Rollup.cascade(full5m, TierSpec.T1h)
    val full1d = Rollup.cascade(full1h, TierSpec.T1d)
    val full30d = Rollup.cascade(full1d, TierSpec.T30d)
    val cols = Seq("domain", "bucket_epoch", "n", "sum_chars",
                   "sum_value_micros", "min_value_micros", "max_value_micros")
      .map(col)

    assert(sortedRows(runner.tier(TierSpec.T5m).select(cols: _*)) ==
           sortedRows(full5m.select(cols: _*)))
    assert(sortedRows(runner.tier(TierSpec.T1h).select(cols: _*)) ==
           sortedRows(full1h.select(cols: _*)))
    assert(sortedRows(runner.tier(TierSpec.T1d).select(cols: _*)) ==
           sortedRows(full1d.select(cols: _*)))
    assert(sortedRows(runner.tier(TierSpec.T30d).select(cols: _*)) ==
           sortedRows(full30d.select(cols: _*)))
  }

  test("late data re-ingest recomputes the touched day only, still exact") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val day = lit("2024-01-05 00:00:00").cast("timestamp")
    val nextDay = lit("2024-01-06 00:00:00").cast("timestamp")
    // initial load misses half of Jan 5
    val initial = pages.filter(
      !(col("warc_ts") >= day && col("warc_ts") < nextDay &&
        col("event_id") % 2 === 0))
    val late = pages.filter(
      col("warc_ts") >= day && col("warc_ts") < nextDay &&
      col("event_id") % 2 === 0)

    runner.run("r1", runner.ingest(initial))
    val touched = runner.ingest(late)
    assert(touched == Set((1704412800L).toString)) // 2024-01-05 epoch day
    runner.run("r2", touched)

    val full1d = Rollup.cascade(
      Rollup.cascade(Rollup.fromRaw(pages, TierSpec.T5m, measures = Rollup.flagged),
                     TierSpec.T1h),
      TierSpec.T1d)
    val cols = Seq("domain", "bucket_epoch", "n", "sum_chars",
                   "sum_value_micros", "min_value_micros", "max_value_micros")
      .map(col)
    assert(sortedRows(runner.tier(TierSpec.T1d).select(cols: _*)) ==
           sortedRows(full1d.select(cols: _*)))
  }

  test("sketch tiers ride the watermark: touched days recomputed, others carried forward") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    runner.run("s1", runner.ingest(pages.filter(col("warc_ts") < cut)))
    val histBefore = new graft.table.TierTable(s"$root/hist_1d", spark)
      .currentManifest.get.partitions
    val touched = runner.ingest(pages.filter(col("warc_ts") >= cut))
    val m2 = runner.run("s2", touched)
    // the second run recomputed ONLY the touched days for every sketch
    // stage (I1 watermark), and each stage committed ok
    for (key <- Seq("hist_1h", "hist_1d", "hll_1h", "hll_1d",
                    "kll_1h", "kll_1d")) {
      val ents = m2.entries.filter(_.tier == key)
      assert(ents.map(_.partition).toSet == touched, s"$key recompute set")
      assert(ents.forall(_.status == "ok"), s"$key statuses")
    }
    // the 30d sketch levels recompute whole touched 30d buckets, like
    // the value cascade's 30d branch
    val t30 = touched.map(d =>
      (d.toLong - (d.toLong % TierSpec.T30d.seconds)).toString)
    for (key <- Seq("hist_30d", "hll_30d", "kll_30d")) {
      val ents = m2.entries.filter(_.tier == key)
      assert(ents.map(_.partition).toSet == t30, s"$key recompute set")
      assert(ents.forall(_.status == "ok"), s"$key statuses")
    }
    // untouched day partitions carried forward byte-identically (same
    // path, same checksum — no rewrite, I2 copy-on-write)
    val histAfter = new graft.table.TierTable(s"$root/hist_1d", spark)
      .currentManifest.get.partitions
    val untouched = histBefore.keySet -- touched
    assert(untouched.nonEmpty)
    untouched.foreach { k =>
      assert(histAfter(k) == histBefore(k), s"day $k was rewritten")
    }
    // and the maintained 1d histogram equals the direct full-data one
    val p = pages.withColumn("value_micros", Rollup.micros(col("value")))
    val direct = Rollup.cascade(
      Rollup.fromRaw(p, TierSpec.T1h, measures = Rollup.hist(8)),
      TierSpec.T1d)
    val cols = (Seq("domain", "bucket_epoch") ++ (0 until 8).map(i => s"h$i"))
      .map(col)
    assert(sortedRows(runner.histTier(TierSpec.T1d).select(cols: _*)) ==
           sortedRows(direct.select(cols: _*)))
    // HLL ladder: maintained estimate within ±5% of exact per (domain, day)
    val est = graft.ops.Sketches.estimated(runner.hllTier(TierSpec.T1d))
    val exact = pages.groupBy(col("domain"),
        Rollup.bucket(col("warc_epoch"), TierSpec.T1d))
      .agg(countDistinct(col("url")).as("ex"))
    val bad = est.join(exact, Seq("domain", "bucket_epoch"))
      .filter(abs(col("distinct_est") - col("ex")) > col("ex") * 0.05 + 1)
      .count()
    assert(bad == 0, s"$bad (domain, day) estimates off by >5%")
  }

  test("sketch retention: the day-scale knob never touches 30d buckets") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    runner.run("r1", runner.ingest(WebPages.load(spark, sfDir)))
    val hist30 = new graft.table.TierTable(s"$root/hist_30d", spark)
    val before = hist30.partitionKeys
    assert(before.nonEmpty)
    // an aggressive day-scale horizon trims the 1h/1d ladders but MUST
    // NOT reach the coarsest level (every 30d bucket but the newest
    // would be >= 30 days old and silently destroyed)
    val dropped = runner.applyRetention(Map.empty, keepSketchDays = Some(1))
    assert(dropped.keySet.intersect(Set("hist_30d", "hll_30d", "kll_30d")).isEmpty)
    assert(dropped("hist_1d").nonEmpty) // the fine ladder did age out
    assert(hist30.partitionKeys == before, "30d sketch history was dropped")
    // the 30d level ages out only under its own knob
    val d30 = runner.applyRetention(Map.empty, keepSketch30dDays = Some(0))
    assert(d30("hist_30d").size == before.size - 1) // keeps newest bucket only
  }

  test("resume skips partitions already committed ok") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val days = runner.ingest(pages)
    val m1 = runner.run("r1", days)
    val fresh = m1.entries.count(e => e.status == "ok" && e.rows >= 0)
    assert(fresh > 0)
    // replay of the same run id: everything resumed, nothing rewritten
    val m2 = runner.run("r1", days)
    assert(m2.entries.forall(e => e.status == "ok" && e.rows == -1L))
    // EVERY stage re-records its resumed partitions (the checkpoint is
    // rewritten whole — dropped entries would force a rebuild next time)
    assert(m2.entries.exists(_.tier == "blocks"))
    assert(m2.entries.map(_.tier).toSet == m1.entries.map(_.tier).toSet)
    // a third resume still skips everything
    val m3 = runner.run("r1", days)
    assert(m3.entries.forall(e => e.status == "ok" && e.rows == -1L))
  }

  test("text_sha invariant travels the cascade: tier XOR equals direct XOR") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    runner.run("r1", runner.ingest(pages))
    val direct = {
      val t5m = Rollup.fromRaw(pages, TierSpec.T5m,
        textSha = Some(xxhash64(WebPages.extractText(col("html")))),
        measures = Rollup.flagged)
      Rollup.cascade(Rollup.cascade(t5m, TierSpec.T1h), TierSpec.T1d)
        .select("domain", "bucket_epoch", "text_sha")
    }
    val fromTiers = runner.tier(TierSpec.T1d)
      .select("domain", "bucket_epoch", "text_sha")
    assert(sortedRows(fromTiers) == sortedRows(direct))
  }

  test("snapshot read is ONE scan node; pruned read lists only requested partitions") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    // two snapshots so partitions live under different snap=<k> dirs
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    runner.run("r1", runner.ingest(pages.filter(col("warc_ts") < cut)))
    runner.run("r2", runner.ingest(pages.filter(col("warc_ts") >= cut)))
    val tbl = new graft.table.TierTable(s"$root/tier_1d", spark)
    assert(tbl.partitionKeys.size > 10)

    def scanCount(df: org.apache.spark.sql.DataFrame): Int =
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).size
    // full read: one multi-path scan, NOT one union branch per partition
    assert(scanCount(tbl.read()) == 1)
    // pruned read: a single partition requested → a single partition read
    val one = tbl.partitionKeys.toSeq.sorted.head
    val pruned = tbl.read(Set(one))
    assert(scanCount(pruned) == 1)
    assert(pruned.select("day_epoch").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(one.toLong))
  }

  test("empty recompute result deletes the partition's old contents") {
    val root = tmpRoot()
    val tbl = new graft.table.TierTable(s"$root/t", spark).init()
    import spark.implicits._
    val two = Seq((1L, "a"), (2L, "b")).toDF("day_epoch", "v")
    tbl.commitOverwrite(two, "day_epoch",
      Map("1" -> graft.table.PartitionLineage(0, "ok"),
          "2" -> graft.table.PartitionLineage(0, "ok")))
    // recompute of day 2 produces zero rows: must NOT carry day 2 forward
    val onlyOne = Seq((1L, "a2")).toDF("day_epoch", "v")
    val m = tbl.commitOverwrite(onlyOne, "day_epoch",
      Map("1" -> graft.table.PartitionLineage(1, "ok"),
          "2" -> graft.table.PartitionLineage(1, "ok")))
    assert(m.partitions("2").rows == 0 && m.partitions("2").path.isEmpty)
    assert(tbl.read().select("v").collect().map(_.getString(0)).toSeq
      == Seq("a2"))
    // a pruned read of ONLY the explicitly-empty partition is a
    // legitimate empty result (schema intact), not an error
    val empty = tbl.read(Set("2"))
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("v", "day_epoch"))
  }

  test("ingest replay is idempotent (crash between commit and checkpoint)") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    runner.run("r0", runner.ingest(pages.filter(col("warc_ts") < cut)))
    val inc = pages.filter(col("warc_ts") >= cut)
    val d1 = runner.ingest(inc)
    val rows1 = runner.rawRows
    runner.ingest(inc) // replay of the identical increment
    assert(runner.rawRows == rows1,
      "replayed increment must not duplicate raw rows")
    runner.run("r1", d1)
    val full1d = Rollup.cascade(
      Rollup.cascade(Rollup.fromRaw(pages, TierSpec.T5m, measures = Rollup.flagged),
                     TierSpec.T1h),
      TierSpec.T1d)
    val cols = Seq("domain", "bucket_epoch", "n", "sum_value_micros").map(col)
    assert(sortedRows(runner.tier(TierSpec.T1d).select(cols: _*)) ==
           sortedRows(full1d.select(cols: _*)))
  }

  test("tier-commit failure skips downstream tiers, never rebuilds from stale data") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    // drop a column the 5m rollup needs: the 5m commit fails at analysis
    val m = runner.run("r1", runner.ingest(pages.drop("value")))
    val byTier = m.entries.groupBy(_.tier).view.mapValues(_.map(_.status).toSet)
    assert(byTier("5m").forall(_.startsWith("error:")), byTier.toMap.toString)
    // the entry names its cause: the exception and the missing column
    assert(byTier("5m").forall(st =>
      st.matches("error:\\w*AnalysisException: .*") && st.contains("`value`")),
      byTier("5m").toString)
    for (t <- Seq("1h", "1d", "30d", "blocks"))
      assert(byTier(t) == Set("skipped:upstream_failed"),
        s"$t: ${byTier(t)}")
    // the checkpoint manifest was still written (no unhandled crash)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/checkpoints/run-r1.json")))
  }

  test("partial resume recomputes only the stages missing from the checkpoint") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val days = runner.ingest(WebPages.load(spark, sfDir))
    val m1 = runner.run("r1", days)
    val (before1d, before30d) =
      (sortedRows(runner.tier(TierSpec.T1d)), sortedRows(runner.tier(TierSpec.T30d)))
    // a run that died after the 1h commit: its checkpoint has no 1d/30d
    val ckpt = java.nio.file.Paths.get(s"$root/checkpoints/run-r1.json")
    java.nio.file.Files.writeString(ckpt,
      m1.copy(entries = m1.entries.filterNot(e => Set("1d", "30d")(e.tier))).toJson)
    val m2 = runner.run("r1", days)
    def tierEntries(t: String) = m2.entries.filter(_.tier == t)
    for (t <- Seq("5m", "1h"))
      assert(tierEntries(t).nonEmpty && tierEntries(t).forall(_.rows == -1L),
        s"$t not resumed")
    for (t <- Seq("1d", "30d"))
      assert(tierEntries(t).nonEmpty &&
        tierEntries(t).forall(e => e.status == "ok" && e.rows >= 0), s"$t not recomputed")
    assert(sortedRows(runner.tier(TierSpec.T1d)) == before1d)
    assert(sortedRows(runner.tier(TierSpec.T30d)) == before30d)
  }

  test("full-rebuild mode recomputes every day partition (modified-days-ago=0 analog)") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    // incremental history, then a full rebuild under a fresh run id
    runner.run("r1", runner.ingest(pages.filter(col("warc_ts") < cut)))
    runner.run("r2", runner.ingest(pages.filter(col("warc_ts") >= cut)))
    val m = runner.rebuildAll("full")
    assert(m.entries.forall(e => e.status == "ok" && e.rows >= 0),
      "rebuild must recompute (not resume) every partition")
    val full1d = Rollup.cascade(
      Rollup.cascade(Rollup.fromRaw(pages, TierSpec.T5m, measures = Rollup.flagged),
                     TierSpec.T1h),
      TierSpec.T1d)
    val cols = Seq("domain", "bucket_epoch", "n", "n_ok", "sum_value_micros").map(col)
    assert(sortedRows(runner.tier(TierSpec.T1d).select(cols: _*)) ==
           sortedRows(full1d.select(cols: _*)))
  }

  test("per-tier retention ages out old 5m partitions; coarser tiers keep history") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir) // 31 days of data
    runner.run("r1", runner.ingest(pages))
    val t5m = new graft.table.TierTable(s"$root/tier_5m", spark)
    val before = t5m.partitionKeys.map(_.toLong)
    assert(before.size > 20)

    val dropped = runner.applyRetention(
      Map(TierSpec.T5m -> 7), keepSnapshots = 1)
    val after = t5m.partitionKeys.map(_.toLong)
    val cutoff = before.max - 7L * 86400L
    assert(after == before.filter(_ >= cutoff))
    assert(dropped("5m").map(_.toLong) == before.filter(_ < cutoff))
    // the retained data still reads, coarser tiers untouched
    assert(t5m.read().count() > 0)
    assert(runner.tier(TierSpec.T1d).count() > 0)

    // history expired: one manifest left; every remaining snapshot dir
    // is referenced by it
    val manifests = new java.io.File(s"$root/tier_5m/manifests").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(manifests.length == 1)
    val referenced = t5m.currentManifest.get.partitions.values
      .filter(_.path.nonEmpty).map(_.path.split("/")(1)).toSet
    val dirs = new java.io.File(s"$root/tier_5m/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.subsetOf(referenced),
      s"unreferenced snapshot dirs not reclaimed: ${dirs -- referenced}")
  }

  test("retention covers the blocks and raw tables on their own horizons") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    runner.run("r1", runner.ingest(WebPages.load(spark, sfDir)))
    val blocks = new graft.table.TierTable(s"$root/blocks_5m", spark)
    val raw = new graft.table.TierTable(s"$root/tier_raw", spark)
    val blocksBefore = blocks.partitionKeys.map(_.toLong)
    val rawBefore = raw.partitionKeys.map(_.toLong)
    assert(blocksBefore.size > 20 && rawBefore.size > 20)

    val dropped = runner.applyRetention(Map.empty, keepSnapshots = 1,
      keepBlockDays = Some(7), keepRawDays = Some(14))
    val bCut = blocksBefore.max - 7L * 86400L
    val rCut = rawBefore.max - 14L * 86400L
    assert(blocks.partitionKeys.map(_.toLong) == blocksBefore.filter(_ >= bCut))
    assert(raw.partitionKeys.map(_.toLong) == rawBefore.filter(_ >= rCut))
    assert(dropped("blocks").map(_.toLong) == blocksBefore.filter(_ < bCut))
    assert(dropped("raw").map(_.toLong) == rawBefore.filter(_ < rCut))
    // surviving blocks still decode
    assert(runner.decodedBlocks().count() > 0)
  }

  test("compactPartitions: fewer files, identical rows and checksums") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    runner.run("r1", runner.ingest(WebPages.load(spark, sfDir)))
    val t5m = new graft.table.TierTable(s"$root/tier_5m", spark)
    val before = t5m.currentManifest.get
    val keys = t5m.partitionKeys.take(5)

    def fileCount(m: graft.table.Manifest, k: String): Int =
      new java.io.File(s"$root/tier_5m/${m.partitions(k).path}")
        .listFiles().count(_.getName.endsWith(".parquet"))

    val after = t5m.compactPartitions(keys, filesPerPartition = 1)
    for (k <- keys) {
      assert(fileCount(after, k) == 1, s"partition $k not compacted")
      // content untouched: rows + order-insensitive checksum identical
      assert(after.partitions(k).rows == before.partitions(k).rows)
      assert(after.partitions(k).checksum == before.partitions(k).checksum,
        s"compaction changed partition $k's content checksum")
      assert(after.partitions(k).lineage.exists(_.status == "compacted"))
    }
    // untouched partitions carried forward verbatim
    for (k <- t5m.partitionKeys -- keys)
      assert(after.partitions(k) == before.partitions(k))
    // the table still reads end-to-end
    assert(t5m.read().count() == before.totalRows)

    // filesPerPartition > 1: bounded above, content still identical
    val after2 = t5m.compactPartitions(keys, filesPerPartition = 2)
    for (k <- keys) {
      val files = fileCount(after2, k)
      assert(files >= 1 && files <= 2, s"partition $k: $files files")
      assert(after2.partitions(k).rows == before.partitions(k).rows)
      assert(after2.partitions(k).checksum == before.partitions(k).checksum)
    }
  }

  test("raw z-order maintenance: content intact, files prune on bucket AND time-of-day") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val days = runner.ingest(pages)
    runner.run("z1", days)
    val rawTable = new graft.table.TierTable(s"$root/tier_raw", spark)
    val before = rawTable.currentManifest.get.partitions
    runner.compactRawZOrder(days, filesPerPartition = 8)
    // content-neutral: per-day rows + order-insensitive checksums
    val after = rawTable.currentManifest.get.partitions
    days.foreach { d =>
      assert(after(d).rows == before(d).rows &&
             after(d).checksum == before(d).checksum, s"day $d content changed")
    }
    // per-file boxes of ONE day prune on both clustering dimensions
    val day = days.map(_.toLong).min
    val one = rawTable.read(Set(day.toString))
      .withColumn("hour", ((col("warc_epoch") % 86400L) / 3600L).cast("long"))
    val boxes = one.groupBy(input_file_name().as("f"))
      .agg(min("url_bucket").as("bmn"), max("url_bucket").as("bmx"),
           min("hour").as("hmn"), max("hour").as("hmx"))
      .collect()
    val total = boxes.length
    assert(total >= 4, s"only $total files after z-compaction")
    val bCand = boxes.count(r => r.getLong(1) <= 3L && r.getLong(2) >= 3L)
    val hCand = boxes.count(r => r.getLong(3) <= 4L && r.getLong(4) >= 3L)
    assert(bCand <= total * 3 / 4, s"url_bucket=3 hits $bCand of $total files")
    assert(hCand <= total * 3 / 4, s"hours 3-4 hit $hCand of $total files")
    // the maintained table still drives the cascade: a full rebuild
    // from the compacted raw equals the pre-compaction 1d tier
    val before1d = sortedRows(runner.tier(TierSpec.T1d))
    runner.rebuildAll("z2")
    assert(sortedRows(runner.tier(TierSpec.T1d)) == before1d)
  }

  test("skew mode (saltBuckets) produces identical tiers to the default runner") {
    val pages = WebPages.load(spark, sfDir)
      .filter(col("warc_epoch") < 1704672000L) // first 7 days: keep it quick
    val a = new TierRunner(spark, tmpRoot())
    val b = new TierRunner(spark, tmpRoot(), saltBuckets = Some(8))
    a.run("r", a.ingest(pages))
    b.run("r", b.ingest(pages))
    for (t <- Seq(TierSpec.T5m, TierSpec.T1d)) {
      val ca = a.tier(t).drop("day_epoch")
      val cb = b.tier(t).drop("day_epoch")
      assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
        s"salted runner diverged at ${t.name}")
    }
  }

  test("TierMain e2e: the spark-submit entry ingests, cascades, checkpoints") {
    // getOrCreate inside main reuses the suite session (one context per
    // JVM) — exactly how spark-submit hands it an existing session
    val root = tmpRoot()
    TierMain.main(Array(sfDir, root, "e2e", "2024-01-20 00:00:00"))
    val ckpt = java.nio.file.Paths.get(s"$root/checkpoints/run-e2e.json")
    assert(java.nio.file.Files.exists(ckpt))
    val statuses = RunManifest.parseStatuses(
      java.nio.file.Files.readString(ckpt))
    assert(statuses.nonEmpty && statuses.values.forall(_ == "ok"))
    // watermark mode ingested only the tail days
    val t1d = new graft.table.TierTable(s"$root/tier_1d", spark)
    assert(t1d.partitionKeys.map(_.toLong).min >= 1705708800L) // 2024-01-20
    assert(t1d.read().count() > 0)
    // retention arg: a second full run with an aggressive 5m ladder
    // ("-" watermark = full ingest) ages out old 5m days, keeps 1d
    val root2 = tmpRoot()
    TierMain.main(Array(sfDir, root2, "e2e2", "-", "5m=2"))
    val t5m = new graft.table.TierTable(s"$root2/tier_5m", spark)
    val t1d2 = new graft.table.TierTable(s"$root2/tier_1d", spark)
    val keys5 = t5m.partitionKeys.map(_.toLong)
    assert(keys5.nonEmpty &&
      keys5.min >= keys5.max - 2L * 86400L, "5m ladder not aged out")
    assert(t1d2.partitionKeys.size > t5m.partitionKeys.size)
  }

  test("manifest records lineage and round-trips through JSON") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val pages = WebPages.load(spark, sfDir)
    val m = runner.run("r1", runner.ingest(pages),
                       rulesetVersion = graft.core.CurationRuleset.V2.version)
    val parsed = RunManifest.parseStatuses(m.toJson)
    assert(parsed.nonEmpty && parsed.values.forall(_ == "ok"))
    // the curation-ruleset version the run executed under is recorded
    // in the checkpoint (audit trail for knob iterations)
    assert(m.toJson.contains(""""ruleset":"v2.0""""))
    val ckpt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/checkpoints/run-r1.json"))
    assert(ckpt.contains(""""ruleset":"v2.0""""))
    // tier table manifest carries per-partition lineage
    val t5m = new graft.table.TierTable(s"$root/tier_5m", spark)
    val tm = t5m.currentManifest.get
    assert(tm.partitions.nonEmpty)
    assert(tm.partitions.values.forall(p =>
      p.lineage.exists(_.status == "ok") && p.rows > 0))
    // format version is stamped and round-trips
    assert(tm.toJson.contains(s""""format":${graft.table.Manifest.FormatVersion}"""))
    assert(graft.table.Manifest.fromJson(tm.toJson) == tm)
  }

  test("run-manifest statuses holding quotes and backslashes round-trip") {
    val status = """error:X: path "C:\tmp\a" has a \" inside"""
    val m = RunManifest("r\"1", 3L, Seq(
      RunEntry("5m", "1", 0L, status, 5L), RunEntry("1h", "1", -1L, "ok", 0L)))
    assert(RunManifest.parseStatuses(m.toJson) == Map("5m/1" -> status, "1h/1" -> "ok"))
    // a failure's status is one line, so it stays one JSON string
    val e = new RuntimeException("wrapper",
      new IllegalStateException("root \"cause\"\nsecond line"))
    assert(RunManifest.errorStatus(e) ==
      "error:RuntimeException: root \"cause\"")
  }

  test("run checkpoint is versioned: format 1 is its first field") {
    val m = RunManifest("r1", 0L, Seq(RunEntry("5m", "1", 2L, "ok", 3L)), "v1.0")
    assert(m.toJson ==
      """{"format":1,"run_id":"r1","input_snapshot":0,"ruleset":"v1.0",""" +
      """"partitions":[{"tier":"5m","partition":"1","rows":2,"status":"ok","elapsed_ms":3}]}""")
  }

  test("an unversioned run checkpoint (written before versioning) still resumes") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val days = runner.ingest(WebPages.load(spark, sfDir))
    val m1 = runner.run("r1", days)
    val ckpt = java.nio.file.Paths.get(s"$root/checkpoints/run-r1.json")
    val unversioned = m1.toJson.replaceFirst("^\\{\"format\":1,", "{")
    assert(unversioned.startsWith("{\"run_id\":"))
    java.nio.file.Files.writeString(ckpt, unversioned)
    val m2 = runner.run("r1", days)
    assert(m2.entries.nonEmpty && m2.entries.forall(e => e.status == "ok" && e.rows == -1L))
  }

  test("a run checkpoint of an unsupported format fails naming the version") {
    val json = """{"format":7,"run_id":"r1","input_snapshot":0,"ruleset":"v1.0","partitions":[]}"""
    val e = intercept[IllegalStateException](RunManifest.parseStatuses(json))
    assert(e.getMessage.contains("format 7"), e.getMessage)
  }

  test("rollback repoints CURRENT; post-rollback commits never collide; expiry keeps current") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    val tbl = new graft.table.TierTable(s"$root/t", spark).init()
    import spark.implicits._
    def frame(v: Long) = Seq((1L, v), (2L, v)).toDF("day_epoch", "x")
    tbl.commitOverwrite(frame(10L), "day_epoch") // snap 0
    tbl.commitOverwrite(frame(20L), "day_epoch") // snap 1
    tbl.commitOverwrite(frame(30L), "day_epoch") // snap 2
    tbl.rollbackTo(1L)
    assert(tbl.currentSnapshotId.contains(1L))
    assert(tbl.read().select("x").distinct().head().getLong(0) == 20L)
    // a new commit branches PAST the abandoned snapshot 2
    val m = tbl.commitOverwrite(frame(40L), "day_epoch")
    assert(m.snapshot == 3L && m.parent.contains(1L))
    // roll back again, then expire aggressively: the current (old)
    // snapshot must survive
    tbl.rollbackTo(1L)
    tbl.expireSnapshots(keepLast = 1)
    assert(tbl.currentSnapshotId.contains(1L))
    assert(tbl.read().select("x").distinct().head().getLong(0) == 20L)
    intercept[IllegalArgumentException] { tbl.rollbackTo(99L) }
  }

  test("legacy (unversioned) manifest fails fast at open, never mis-plans") {
    // a pre-v2 manifest has no format field and a data/s<k> layout —
    // opening it must be an explicit error, not spurious diffs or a
    // NumberFormatException deep inside expireSnapshots
    val legacy = """{"snapshot":3,"parent":2,"timestamp_ms":1,""" +
      """"partition_col":"day_epoch","partitions":""" +
      """{"0":{"path":"data/s3/0","rows":5,"checksum":7}}}"""
    val e = intercept[IllegalStateException] {
      graft.table.Manifest.fromJson(legacy)
    }
    assert(e.getMessage.contains("unversioned"))
    val future = legacy.replace("{\"snapshot\"", "{\"format\":99,\"snapshot\"")
    val e2 = intercept[IllegalStateException] {
      graft.table.Manifest.fromJson(future)
    }
    assert(e2.getMessage.contains("99"))
  }

  /** The run's stages in order: checkpoint keys old checkpoints resume by. */
  private val StageKeys = Seq("5m", "1h", "1d", "30d", "blocks",
    "hist_1h", "hll_1h", "kll_1h", "hist_1d", "hll_1d", "kll_1d",
    "hist_30d", "hll_30d", "kll_30d")

  /** One clean sf0.001 ingest+run, shared by the checks that only read it. */
  private lazy val cleanRun: (String, RunManifest) = {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    (root, runner.run("r1", runner.ingest(WebPages.load(spark, sfDir))))
  }

  private def checkpointOrder(root: String, runId: String): Seq[(String, String)] =
    graft.core.Json.parse(
        Files.readString(java.nio.file.Paths.get(s"$root/checkpoints/run-$runId.json")), "ckpt")
      .elements("partitions").map(e => (e.str("tier"), e.str("partition")))

  test("stage contract: 14 stage keys in run order, each committing its own table directory") {
    val (root, m) = cleanRun
    assert(m.entries.map(_.tier).distinct == StageKeys)
    val dirs = Map("5m" -> "tier_5m", "1h" -> "tier_1h", "1d" -> "tier_1d",
      "30d" -> "tier_30d", "blocks" -> "blocks_5m") ++
      StageKeys.drop(5).map(k => k -> k)
    assert(new java.io.File(root).list().toSet == dirs.values.toSet ++ Set("tier_raw", "checkpoints"))
    for ((key, dir) <- dirs) {
      val parts = new graft.table.TierTable(s"$root/$dir", spark).currentManifest.get.partitions
      val ents = m.entries.filter(_.tier == key)
      assert(ents.nonEmpty && parts.keySet == ents.map(_.partition).toSet, key)
      assert(ents.forall(e => e.status == "ok" && parts(e.partition).rows == e.rows), key)
    }
  }

  test("checkpoint entries are ordered by stage, then by partition in numeric order") {
    val (root, m) = cleanRun
    assert(m.entries.count(_.tier == "5m") >= 5)
    val key = (e: RunEntry) => (StageKeys.indexOf(e.tier), e.partition.toLong)
    assert(m.entries.map(key) == m.entries.map(key).sorted)
    assert(checkpointOrder(root, "r1") == m.entries.map(e => (e.tier, e.partition)))
    // a resumed rerun lists the same entries in the same order
    val again = new TierRunner(spark, root).run("r1", m.entries.filter(_.tier == "5m")
      .map(_.partition).toSet)
    assert(again.entries.map(e => (e.tier, e.partition)) == m.entries.map(e => (e.tier, e.partition)))
    assert(again.entries.forall(_.rows == -1L))
  }

  test("a crash between stages resumes every stage committed before it") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val days = runner.ingest(WebPages.load(spark, sfDir))
    runner.afterStage = key =>
      if (key == "1d") throw new Error(s"simulated crash after $key")
    intercept[Error](runner.run("r1", days))
    assert(checkpointOrder(root, "r1").map(_._1).distinct == Seq("5m", "1h", "1d"))
    runner.afterStage = _ => ()
    val m = runner.run("r1", days)
    assert(m.entries.map(_.tier).distinct == StageKeys)
    for ((key, es) <- m.entries.groupBy(_.tier)) {
      assert(es.forall(_.status == "ok"), key)
      if (Set("5m", "1h", "1d")(key)) assert(es.forall(_.rows == -1L), s"$key not resumed")
      else assert(es.forall(_.rows >= 0), s"$key not recomputed")
    }
  }

  test("a crash mid-rerun keeps the earlier attempt's ok entries in the checkpoint") {
    val root = tmpRoot()
    val runner = new TierRunner(spark, root)
    val days = runner.ingest(WebPages.load(spark, sfDir))
    val m1 = runner.run("r1", days)
    runner.afterStage = key =>
      if (key == "5m") throw new Error(s"simulated crash after $key")
    intercept[Error](runner.run("r1", days))
    assert(checkpointOrder(root, "r1") == m1.entries.map(e => (e.tier, e.partition)))
    runner.afterStage = _ => ()
    val m2 = runner.run("r1", days)
    assert(m2.entries.size == m1.entries.size)
    assert(m2.entries.forall(e => e.status == "ok" && e.rows == -1L))
  }
}
