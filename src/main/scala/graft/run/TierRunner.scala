package graft.run

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.core.TierSpec
import graft.ops.Rollup
import graft.table.{PartitionLineage, TierTable}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental tier-cascade runner: raw web pages → 5m → 1h → 1d → 30d
  * tier tables, maintained as incrementally-merged snapshots.
  *
  * Semantics (reference mapping):
  *  - I1 watermark: an incremental run recomputes only the day-buckets
  *    whose raw input changed (here: the days present in the new input
  *    increment), like `--modified-days-ago`
  *    (/root/reference/src/vptstools/bin/vph5_to_vpts.py:44-51,120-144).
  *  - I2 late data: recompute-the-partition, not merge-the-delta —
  *    each touched day partition of each tier is rebuilt from the
  *    finer tier and committed copy-on-write
  *    (vph5_to_vpts.py:153-202).
  *  - I3 failure isolation: per-partition try/catch with a status row
  *    in the run manifest (vph5_to_vpts.py:198-201).
  *  - K4 lineage: each run writes a checkpoint manifest recording per
  *    partition {input snapshot id, bucket id, row count, checksum,
  *    status} (vpts.py:320-343 descriptor, generalized).
  *  - I5/resume: a rerun of the same run id skips partitions already
  *    committed ok (idempotent replays).
  *
  * Partition column: the 1d bucket (`day_epoch`) at every tier — day
  * is the natural recompute unit (matches the reference's daily files)
  * and divides all tier widths except 30d, whose buckets are rebuilt
  * from any touched member day.
  */
final class TierRunner(spark: SparkSession, root: String,
                       saltBuckets: Option[Int] = None) {

  private def tableFor(tier: TierSpec): TierTable =
    new TierTable(s"$root/tier_${tier.name}", spark).init()

  /** Start of the width-aligned bucket containing a day partition key —
    * the ONE definition of coarse-bucket membership shared by the value
    * cascade's 30d tier and the sketch ladders' 30d levels (a
    * divergence here would silently desynchronize them).
    */
  private def bucketStart(day: String, widthSeconds: Long): String =
    (day.toLong - (day.toLong % widthSeconds)).toString

  /** Day partitions of `tbl` that are members of the given width-aligned
    * buckets. */
  private def memberDays(tbl: TierTable, buckets: Set[String],
                         widthSeconds: Long): Set[String] =
    tbl.partitionKeys.filter(d => buckets.contains(bucketStart(d, widthSeconds)))

  private val rawTable = new TierTable(s"$root/tier_raw", spark).init()
  private val blocksTable = new TierTable(s"$root/blocks_5m", spark).init()

  // continuous-aggregate sketch tiers, maintained through the SAME
  // watermark/lineage machinery as the rollup cascade (VERDICT r4 #3):
  // an exact mergeable histogram ladder (per-band sums), an HLL
  // distinct-url ladder (register union) and a KLL quantile ladder
  // (sketch merge), each at 1h→1d→30d — a distinct-count or
  // distribution query over years of data reads a day-partitioned
  // sketch tier, never raw
  private val HistBands = 8
  /** The three ladders share one finest-level pass over these measures;
    * each ladder's table keeps its own columns of it. */
  private val sketchMeasures =
    Rollup.hist(HistBands) ++ Seq(Rollup.urlSketch, Rollup.valueSketch, Rollup.rowCount)
  private val sketchLadders: Seq[(String, Seq[String])] = Seq(
    "hist" -> Rollup.hist(HistBands).map(_.name),
    "hll" -> Seq(Rollup.urlSketch.name, Rollup.rowCount.name),
    "kll" -> Seq(Rollup.valueSketch.name, Rollup.rowCount.name))
  private val sketchTiers = Seq(TierSpec.T1h, TierSpec.T1d, TierSpec.T30d)
  /** Stage key and table directory of a (ladder, tier), e.g. `hll_1d`. */
  private def sketchKey(ladder: String, t: TierSpec): String = s"${ladder}_${t.name}"
  private val sketchTables: Map[String, TierTable] =
    (for ((ladder, _) <- sketchLadders; t <- sketchTiers)
      yield sketchKey(ladder, t) ->
        new TierTable(s"$root/${sketchKey(ladder, t)}", spark).init()).toMap

  /** Append a raw increment (new web pages) as a new raw snapshot,
    * partitioned by day. Returns the set of touched day partitions.
    *
    * Replay-safe: the copy-on-write merge anti-joins existing rows of
    * the touched days against the increment's `dedupKey` (default:
    * `event_id`, the fetch identity), so the increment *replaces* any
    * prior rows with the same key — re-running a crashed ingest (raw
    * snapshot committed, checkpoint not yet written) is a no-op
    * instead of doubling the touched days' rows.
    */
  def ingest(pages: DataFrame,
             dedupKey: Seq[String] = Seq("event_id")): Set[String] = {
    val withDay = pages.withColumn("day_epoch",
      (col("warc_epoch") - (col("warc_epoch") % TierSpec.T1d.seconds)))
    // copy-on-write by day: merge the increment with existing rows of
    // the touched days so a day partition is always complete
    val touchedDays = withDay.select("day_epoch").distinct()
      .collect().map(_.getLong(0).toString).toSet
    val existingDays = rawTable.partitionKeys intersect touchedDays
    val merged =
      if (existingDays.isEmpty) withDay
      else rawTable.read(existingDays)
        .join(withDay.select(dedupKey.map(col): _*).distinct(),
              dedupKey, "left_anti")
        .unionByName(withDay)
    // explicit clustering: one task (→ one file) per (day, url-bucket),
    // so downstream same-bucket reads/joins are co-located
    val clustered =
      if (merged.columns.contains("url_bucket"))
        merged.repartition(col("day_epoch"), col("url_bucket"))
      else merged
    rawTable.commitOverwrite(clustered, "day_epoch")
    touchedDays
  }

  /** Total rows in the current raw snapshot (manifest metadata, no scan). */
  def rawRows: Long = rawTable.currentManifest.map(_.totalRows).getOrElse(0L)

  /** Run the cascade incrementally for the given touched day
    * partitions; write a checkpoint manifest under `runId`. Resumable:
    * partitions marked ok in an existing manifest for `runId` are
    * skipped.
    */
  def run(runId: String, touchedDays: Set[String],
          rulesetVersion: String =
            graft.core.CurationRuleset.Default.version): RunManifest = {
    // the recorded version must RESOLVE — a typo'd version written into
    // the checkpoint would defeat the reproduce/audit contract
    graft.core.CurationRuleset(rulesetVersion)
    val ckptPath = Paths.get(s"$root/checkpoints/run-$runId.json")
    Files.createDirectories(ckptPath.getParent)
    val previous: Map[String, String] =
      if (Files.exists(ckptPath))
        RunManifest.parseStatuses(Files.readString(ckptPath))
      else Map.empty

    val inputSnapshot = rawTable.currentSnapshotId.getOrElse(
      throw new IllegalStateException("no raw snapshot ingested"))

    val entries = Vector.newBuilder[RunEntry]

    // Dependency-aware failure isolation: if a stage's commit (or its
    // snapshot read) fails, every stage downstream of it is recorded as
    // skipped:upstream_failed rather than silently rebuilt from the
    // previous (stale) snapshot and marked ok with lineage pointing at
    // the new input — the checkpoint manifest must never misrepresent
    // which tables reflect the current input.
    val failed = scala.collection.mutable.Set[String]()

    // The one stage harness for every table a run maintains: resume-
    // skip, dependency-aware failure isolation, one copy-on-write
    // commit, per-partition lineage + metrics.
    def runStage(key: String, upstream: Option[String],
                 table: TierTable,
                 partitions: Set[String] = touchedDays)
                (compute: Set[String] => DataFrame): Unit = {
      val already = partitions.filter(p =>
        previous.get(s"$key/$p").contains("ok"))
      val todo = partitions -- already
      // resumed partitions must be re-recorded: the checkpoint is
      // rewritten whole, and dropping them would make the NEXT resume
      // rebuild every partition of this stage
      already.foreach(p => entries += RunEntry(key, p, -1L, "ok", 0L))
      val t0 = System.nanoTime()
      def elapsedMs: Long = (System.nanoTime() - t0) / 1000000L
      if (todo.isEmpty) return
      if (upstream.exists(failed.contains)) {
        failed += key
        todo.foreach(p => entries += RunEntry(key, p, 0L, "skipped:upstream_failed", 0L))
      } else try {
        val lineage = todo.map(p =>
          p -> PartitionLineage(inputSnapshot, "ok")).toMap
        val m = table.commitOverwrite(compute(todo), "day_epoch", lineage)
        val ms = elapsedMs
        todo.foreach { p =>
          entries += RunEntry(key, p,
            m.partitions.get(p).map(_.rows).getOrElse(0L), "ok", ms)
        }
      } catch {
        case e: Exception =>
          failed += key
          val status = RunManifest.errorStatus(e)
          todo.foreach(p => entries += RunEntry(key, p, 0L, status, elapsedMs))
      }
    }

    // Day is the partition unit of every table below 30d; a 30d level
    // rebuilds whole 30d buckets from every member day of a touched
    // bucket still present in the finer table.
    def partitionsAt(tier: TierSpec): Set[String] =
      if (tier.seconds <= TierSpec.T1d.seconds) touchedDays
      else touchedDays.map(bucketStart(_, tier.seconds))
    def finerRows(finer: TierTable, tier: TierSpec, todo: Set[String]): DataFrame =
      finer.read(
        if (tier.seconds <= TierSpec.T1d.seconds) todo
        else memberDays(finer, todo, tier.seconds))
    def dayOf(c: Column): Column = c - (c % TierSpec.T1d.seconds)

    // ---- value cascade: 5m from the touched raw days, each coarser
    // tier by MERGE of the finer tier. Flagged measures: three-state
    // missingness (OK/NODATA/UNDETECT counts, OK-only value aggregates)
    // travels the whole production cascade. text_sha: the byte-
    // identical-text invariant, hashed from the html payload per raw row
    // and XOR-folded up every tier. saltBuckets (skew mode for Zipf-head
    // domains) switches 5m to the two-phase salted aggregation —
    // spec-pinned equal.
    runStage(TierSpec.T5m.name, None, tableFor(TierSpec.T5m)) { todo =>
      Rollup.fromRaw(rawTable.read(todo), TierSpec.T5m,
          textSha = Some(xxhash64(graft.ingest.WebPages.extractText(col("html")))),
          measures = Rollup.flagged, saltBuckets = saltBuckets)
        .withColumn("day_epoch", dayOf(col("bucket_epoch")))
    }
    for ((finer, tier) <- TierSpec.cascade.zip(TierSpec.cascade.tail))
      runStage(tier.name, Some(finer.name), tableFor(tier), partitionsAt(tier)) { todo =>
        Rollup.cascade(finerRows(tableFor(finer), tier, todo), tier)
          .withColumn("day_epoch",
            if (tier.seconds <= TierSpec.T1d.seconds) dayOf(col("bucket_epoch"))
            else col("bucket_epoch"))
      }

    // ---- Gorilla value blocks: one compressed binary block per
    // (series, day) over the 5m points (north-star binary column) ----
    // THREE-STATE blocks: the value channel encodes every bucket
    // (NaN where zero OK rows — the bit pattern Gorilla-XORs like
    // any other double and decode maps back to null), and three
    // parallel count channels carry the OK/NODATA/UNDETECT bucket
    // states through the codec round-trip exactly as they travel
    // the rollup cascade. All four channels share one ts grid per
    // (series, day), so decode re-aligns them positionally.
    runStage("blocks", Some(TierSpec.T5m.name), blocksTable) { todo =>
      val t5m = tableFor(TierSpec.T5m).read(todo)
      def enc(v: Column) =
        graft.codec.GorillaAgg.gorillaEncode(col("bucket_epoch"), v)
      t5m.groupBy(col("domain"), col("day_epoch"))
        .agg(
          enc(coalesce(col("sum_value_micros").cast("double"),
                       lit(Double.NaN))).as("block"),
          enc(col("n_ok").cast("double")).as("ok_block"),
          enc(col("n_nodata").cast("double")).as("nodata_block"),
          enc(col("n_undetect").cast("double")).as("undetect_block"))
    }

    // ---- Sketch ladders: finest level from the touched raw days, the
    // coarser levels by MERGE of the finer tier (per-band sums / HLL
    // register union / KLL merge) — never a raw re-scan, so I1/I2
    // watermark recompute and late-data partition rebuilds work exactly
    // as for the value cascade.
    // The three finest-level ladders share one grouping key, so ONE
    // raw pass (one scan + one shuffle, built lazily and only if some
    // 1h stage actually has work) feeds all three commits; each stage
    // still fails/resumes independently. Run-scoped persist,
    // unpersisted below.
    var sketch1h: Option[DataFrame] = None
    def sketch1hFrame: DataFrame = sketch1h.getOrElse {
      val f = Rollup.fromRaw(rawTable.read(touchedDays), TierSpec.T1h,
          measures = sketchMeasures)
        .withColumn("day_epoch", dayOf(col("bucket_epoch")))
        .persist()
      sketch1h = Some(f)
      f
    }
    try {
      for ((ladder, cols) <- sketchLadders) {
        val key = sketchKey(ladder, TierSpec.T1h)
        runStage(key, None, sketchTables(key)) { todo =>
          sketch1hFrame
            .filter(col("day_epoch").isin(todo.map(_.toLong).toSeq: _*))
            .select(("domain" +: "bucket_epoch" +: cols :+ "day_epoch").map(col): _*)
        }
      }
    } finally sketch1h.foreach(_.unpersist())
    for ((finer, tier) <- sketchTiers.zip(sketchTiers.tail);
         (ladder, _) <- sketchLadders) {
      val (key, finerKey) = (sketchKey(ladder, tier), sketchKey(ladder, finer))
      runStage(key, Some(finerKey), sketchTables(key), partitionsAt(tier)) { todo =>
        Rollup.cascade(finerRows(sketchTables(finerKey), tier, todo), tier)
          .withColumn("day_epoch", col("bucket_epoch"))
      }
    }

    val manifest = RunManifest(runId, inputSnapshot, entries.result(),
                               rulesetVersion)
    val tmp = ckptPath.resolveSibling(s".run-$runId.json.tmp")
    Files.writeString(tmp, manifest.toJson)
    Files.move(tmp, ckptPath, StandardCopyOption.ATOMIC_MOVE,
               StandardCopyOption.REPLACE_EXISTING)
    manifest
  }

  /** Full-rebuild mode — the reference's `--modified-days-ago 0`
    * full-run analog (vph5_to_vpts.py:44-51): recompute every raw day
    * partition through the whole cascade under a fresh run id.
    */
  def rebuildAll(runId: String): RunManifest = run(runId, rawTable.partitionKeys)

  /** Per-tier retention: drop day partitions older than
    * `keepDays(tier)` days behind the newest day present in that tier
    * (the finest tier ages out first — the whole point of the ladder:
    * 5m kept days, 1h kept months, 30d kept forever). Manifest-only
    * (no data rewrite); unreferenced snapshot directories are
    * reclaimed immediately via [[TierTable.expireSnapshots]]. Returns
    * the dropped partition keys per tier.
    */
  def applyRetention(keepDays: Map[TierSpec, Int],
                     keepSnapshots: Int = 2,
                     keepBlockDays: Option[Int] = None,
                     keepRawDays: Option[Int] = None,
                     keepSketchDays: Option[Int] = None,
                     keepSketch30dDays: Option[Int] = None): Map[String, Set[String]] = {
    val tiers = keepDays.map { case (t, days) =>
      t.name -> dropOld(tableFor(t), days, keepSnapshots)
    }
    // the Gorilla block table, the raw day table, and the sketch
    // ladders age out on their own horizons (blocks usually share the
    // 5m tier's; raw is the replay/backfill buffer) — all
    // day-partitioned, same manifest-only mechanism
    def sketches(days: Option[Int], tiers: Seq[TierSpec]) =
      for (d <- days.toSeq; (ladder, _) <- sketchLadders; t <- tiers)
        yield sketchKey(ladder, t) ->
          dropOld(sketchTables(sketchKey(ladder, t)), d, keepSnapshots)
    val extra =
      keepBlockDays.map(d => "blocks" -> dropOld(blocksTable, d, keepSnapshots)) ++
      keepRawDays.map(d => "raw" -> dropOld(rawTable, d, keepSnapshots)) ++
      sketches(keepSketchDays, sketchTiers.init) ++
      // the COARSEST sketch level outlives the finer ones (the whole
      // point of the ladder) — it ages out only under its own knob,
      // never under the day-scale keepSketchDays, which would drop
      // every 30d bucket but the newest
      sketches(keepSketch30dDays, Seq(TierSpec.T30d))
    tiers ++ extra
  }

  private def dropOld(tbl: TierTable, days: Int,
                      keepSnapshots: Int): Set[String] = {
    val keys = tbl.partitionKeys.map(_.toLong)
    if (keys.isEmpty) Set.empty[String]
    else {
      val cutoff = keys.max - days.toLong * TierSpec.T1d.seconds
      val d = tbl.commitRetention(_.toLong >= cutoff)
      tbl.expireSnapshots(keepSnapshots)
      d
    }
  }

  /** Z-order file maintenance for the raw day table — the north rule's
    * "url-hash bucketing + warc_ts range partitioning" reflected in
    * FILE layout, not just directory layout: each touched day's files
    * are rewritten as contiguous runs of z(url_bucket, hour-of-day),
    * so a scan filtered on a url bucket OR a sub-day time range prunes
    * most files by parquet column stats (the Iceberg
    * rewrite-data-files(zorder) maintenance step, run after ingest
    * settles, e.g. behind the late-data horizon). Content-neutral:
    * per-day rows and checksums unchanged (spec-pinned).
    */
  def compactRawZOrder(days: Set[String],
                       filesPerPartition: Int = 8): Unit = {
    // Dimensions of COMPARABLE bit width, or the interleave degenerates:
    // url_bucket is 4 bits (0..15); pairing it with minute-of-day
    // (11 bits) would leave minute's top 7 bits alone at the top of
    // every z value — a pure time sort, no bucket clustering. Hour-of-
    // day (5 bits, 0..23) keeps both dimensions in play; within an
    // (hour, bucket) cell, warc_epoch stays contiguous enough for
    // parquet column stats to prune sub-hour time predicates too.
    rawTable.compactPartitionsZOrder(days,
      col("url_bucket"),
      ((col("warc_epoch") % TierSpec.T1d.seconds) / 3600L).cast("long"),
      bits = 5, filesPerPartition = filesPerPartition)
  }

  /** Read a tier's current snapshot. */
  def tier(t: TierSpec): DataFrame = tableFor(t).read()

  /** Read the exact histogram sketch tier (1h/1d/30d bands ladder). */
  def histTier(t: TierSpec): DataFrame = sketchTier("hist", t)

  /** Read the HLL distinct-url sketch tier (1h/1d/30d ladder). */
  def hllTier(t: TierSpec): DataFrame = sketchTier("hll", t)

  /** Read the KLL quantile sketch tier (1h/1d/30d ladder). */
  def kllTier(t: TierSpec): DataFrame = sketchTier("kll", t)

  private def sketchTier(ladder: String, t: TierSpec): DataFrame =
    sketchTables.getOrElse(sketchKey(ladder, t),
      throw new IllegalArgumentException(s"no $ladder tier at ${t.name}")).read()

  /** Read the per-(series, day) Gorilla value blocks. */
  def blocks(): DataFrame = blocksTable.read()

  /** Decode the block table back to (domain, bucket_epoch, value,
    * n_ok, n_nodata, n_undetect) points — the generator inverse of the
    * four-channel block encode. The channels were encoded from one ts
    * grid per (series, day), so one `arrays_zip` re-aligns them
    * positionally (Gorilla decode returns ts-sorted points); the value
    * channel's NaN sentinel (bucket with zero OK rows) maps back to
    * null, mirroring the cascade's null-skipping OK-only sums.
    */
  def decodedBlocks(): DataFrame = {
    import graft.codec.GorillaAgg.gorillaDecode
    blocks()
      .select(col("domain"),
        gorillaDecode(col("block")).as("va"),
        gorillaDecode(col("ok_block")).as("oa"),
        gorillaDecode(col("nodata_block")).as("na"),
        gorillaDecode(col("undetect_block")).as("ua"))
      .select(col("domain"),
        explode(arrays_zip(col("va"), col("oa"), col("na"), col("ua")))
          .as("pt"))
      .select(col("domain"),
        col("pt.va.ts_epoch").as("bucket_epoch"),
        when(isnan(col("pt.va.value")), lit(null))
          .otherwise(col("pt.va.value")).as("value"),
        col("pt.oa.value").cast("long").as("n_ok"),
        col("pt.na.value").cast("long").as("n_nodata"),
        col("pt.ua.value").cast("long").as("n_undetect"))
  }
}

/** One (tier, partition) record of a run: lineage status + metrics
  * (row count; wall-clock of the tier commit that produced it —
  * resumed/skipped partitions carry 0).
  */
final case class RunEntry(tier: String, partition: String, rows: Long,
                          status: String, elapsedMs: Long)

/** Checkpoint manifest of one tier run: per (tier, partition) lineage
  * + metrics, plus the curation-ruleset version the run executed under
  * (the auditable config surface — [[graft.core.CurationRuleset]]).
  * JSON format is hand-rolled (no external deps) and parsed back only
  * for resume status.
  */
final case class RunManifest(runId: String, inputSnapshot: Long,
                             entries: Seq[RunEntry],
                             rulesetVersion: String =
                               graft.core.CurationRuleset.Default.version) {
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val parts = entries.map { e =>
      s"""{"tier":${q(e.tier)},"partition":${q(e.partition)},"rows":${e.rows},""" +
        s""""status":${q(e.status)},"elapsed_ms":${e.elapsedMs}}"""
    }.mkString("[", ",", "]")
    s"""{"run_id":${q(runId)},"input_snapshot":$inputSnapshot,""" +
      s""""ruleset":${q(rulesetVersion)},"partitions":$parts}"""
  }
  def okCount: Int = entries.count(_.status == "ok")
}

object RunManifest {
  /** Status of a failed stage: `error:<SimpleName>: <root-cause
    * message>`, the message cut to its first non-blank line with
    * control characters blanked, so the entry stays one JSON line.
    */
  def errorStatus(e: Throwable): String = {
    val root = org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
    val msg = Option(root.getMessage).toSeq
      .flatMap(_.linesIterator.map(_.trim)).find(_.nonEmpty).getOrElse("")
    s"error:${e.getClass.getSimpleName}: ${msg.replaceAll("\\p{Cntrl}", " ")}"
  }

  /** partition-status map "tier/partition" -> status. */
  def parseStatuses(json: String): Map[String, String] = {
    val str = "\"((?:[^\"\\\\]|\\\\.)*)\""
    val re = ("\\{\"tier\":" + str + ",\"partition\":" + str + "," +
      "\"rows\":(-?\\d+),\"status\":" + str + "(?:,\"elapsed_ms\":(-?\\d+))?\\}").r
    def unescape(s: String) = s.replaceAll("\\\\(.)", "$1")
    re.findAllMatchIn(json).map(m =>
      s"${unescape(m.group(1))}/${unescape(m.group(2))}" -> unescape(m.group(4))).toMap
  }
}
