package graft.run

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CancellationException, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import graft.core.{Json, TierSpec}
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
  *
  * Schedule: a run's stages form a DAG by their upstream tables — after
  * raw, five independent chains (5m→{1h→1d→30d, blocks} and the hist/
  * hll/kll ladders 1h→1d→30d). Each stage commits as soon as its
  * upstream has, so several Spark jobs run at once; the stages still
  * RETIRE (checkpoint written, `afterStage` called) one at a time in
  * list order, so the checkpoint, resume and upstream_failed semantics
  * are those of a sequential run.
  */
final class TierRunner(spark: SparkSession, root: String,
                       saltBuckets: Option[Int] = None) {
  import TierRunner._
  import TierSpec.{T1d, T1h, T30d, T5m}

  /** The value cascade's finest level: flagged measures (three-state
    * missingness) plus `text_sha`, the byte-identical-text invariant
    * XOR-folded up every tier. saltBuckets (skew mode for Zipf-head
    * domains) makes it the two-phase salted aggregation — spec-pinned
    * equal. */
  private val valuePass = new RawPass(T5m,
    Rollup.flagged :+ Rollup.textShaOf(xxhash64(graft.ingest.WebPages.extractText(col("html")))),
    saltBuckets)

  // Sketch ladders at 1h→1d→30d — an exact histogram (per-band sums),
  // HLL distinct urls (register union), KLL quantiles (sketch merge):
  // a distinct-count or distribution query over years of data reads a
  // day-partitioned sketch tier, never raw. The three finest levels
  // share one grouping key, so ONE raw pass feeds all three commits.
  private val HistBands = 8
  private val sketchPass = new RawPass(T1h,
    Rollup.hist(HistBands) ++ Seq(Rollup.urlSketch, Rollup.valueSketch, Rollup.rowCount))
  private val sketchStages = Seq(
    Stage("hist_1h", "hist_1h", T1h, None, FromRaw(sketchPass, Rollup.hist(HistBands))),
    Stage("hll_1h", "hll_1h", T1h, None, FromRaw(sketchPass, Seq(Rollup.urlSketch, Rollup.rowCount))),
    Stage("kll_1h", "kll_1h", T1h, None, FromRaw(sketchPass, Seq(Rollup.valueSketch, Rollup.rowCount))),
    Stage("hist_1d", "hist_1d", T1d, Some("hist_1h"), Merge),
    Stage("hll_1d", "hll_1d", T1d, Some("hll_1h"), Merge),
    Stage("kll_1d", "kll_1d", T1d, Some("kll_1h"), Merge),
    Stage("hist_30d", "hist_30d", T30d, Some("hist_1d"), Merge),
    Stage("hll_30d", "hll_30d", T30d, Some("hll_1d"), Merge),
    Stage("kll_30d", "kll_30d", T30d, Some("kll_1d"), Merge))

  /** Every stage of a run, in run order: the value cascade (5m from
    * raw, each coarser tier by MERGE of the finer one), the Gorilla
    * blocks over 5m, then the sketch ladders. Keys are the checkpoint's
    * stage names (an old checkpoint resumes only by them); directories
    * are the tables' names under `root`.
    */
  private val stages: Seq[Stage] = Seq(
    Stage("5m", "tier_5m", T5m, None, FromRaw(valuePass, valuePass.measures)),
    Stage("1h", "tier_1h", T1h, Some("5m"), Merge),
    Stage("1d", "tier_1d", T1d, Some("1h"), Merge),
    Stage("30d", "tier_30d", T30d, Some("1d"), Merge),
    Stage("blocks", "blocks_5m", T5m, Some("5m"), Encode)) ++ sketchStages

  /** The raw day table and every stage's table, by stage key. */
  private val tables: Map[String, TierTable] =
    (("raw" -> "tier_raw") +: stages.map(s => s.key -> s.dir)).map { case (key, dir) =>
      key -> new TierTable(s"$root/$dir", spark).init()
    }.toMap
  private val rawTable = tables("raw")

  private def table(key: String): TierTable = tables.getOrElse(key,
    throw new IllegalArgumentException(s"no $key table in $root"))

  /** Crash-injection point for specs: runs after each stage's
    * checkpoint is written. */
  private[run] var afterStage: String => Unit = _ => ()

  /** Start of the width-aligned bucket containing a day partition key —
    * the ONE definition of coarse-bucket membership for every 30d level. */
  private def bucketStart(day: String, widthSeconds: Long): String =
    (day.toLong - (day.toLong % widthSeconds)).toString

  /** Partition key of a row at `tier`: the day of its bucket, or the
    * bucket itself from 1d up (already day-aligned; a 30d bucket is its
    * own partition). */
  private def dayEpoch(tier: TierSpec): Column =
    if (tier.seconds >= T1d.seconds) col("bucket_epoch")
    else col("bucket_epoch") - (col("bucket_epoch") % T1d.seconds)

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
    * partitions; write a checkpoint manifest under `runId` after every
    * stage, in stage order. Resumable: partitions marked ok in an
    * existing manifest for `runId` are skipped. Stages commit
    * concurrently as the DAG allows, each Spark job tagged
    * `tierrun:<runId>` (the id URL-encoded) and `stage:<key>`.
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

    val entries = scala.collection.mutable.ArrayBuffer[RunEntry]()

    // Day is the partition unit of every table below 30d; a 30d level
    // rebuilds whole 30d buckets from every member day of a touched
    // bucket still present in the finer table.
    def partitionsAt(tier: TierSpec): Set[String] =
      if (tier.seconds <= T1d.seconds) touchedDays
      else touchedDays.map(bucketStart(_, tier.seconds))
    def finerRows(finer: TierTable, tier: TierSpec, todo: Set[String]): DataFrame =
      finer.read(
        if (tier.seconds <= T1d.seconds) todo
        else finer.partitionKeys.filter(d => todo(bucketStart(d, tier.seconds))))

    // A raw pass read by several stages is aggregated once over every
    // touched day — lazily, by whichever of them starts first, only if
    // one has work — and persisted until its last reader retires; each
    // reader keeps its own days and columns, and still fails/resumes on
    // its own. The map is shared by the stage threads: every access
    // holds its lock.
    val readers = stages.collect { case s @ Stage(_, _, _, _, FromRaw(p, _)) => p -> s.key }
    val shared = readers.groupBy(_._1).filter(_._2.size > 1).keySet
    val persisted = scala.collection.mutable.Map[RawPass, DataFrame]()
    def fromRaw(p: RawPass, days: Set[String]): DataFrame =
      Rollup.fromRaw(rawTable.read(days), p.tier, measures = p.measures,
          saltBuckets = p.saltBuckets)
        .withColumn("day_epoch", dayEpoch(p.tier))

    def rows(s: Stage, todo: Set[String]): DataFrame = s.build match {
      case FromRaw(p, ms) if shared(p) =>
        persisted.synchronized(persisted.getOrElseUpdate(p, fromRaw(p, touchedDays).persist()))
          .filter(col("day_epoch").isin(todo.map(_.toLong).toSeq: _*))
          .select(("domain" +: "bucket_epoch" +: ms.map(_.name) :+ "day_epoch").map(col): _*)
      case FromRaw(p, _) => fromRaw(p, todo)
      case Merge =>
        Rollup.cascade(finerRows(table(s.upstream.get), s.tier, todo), s.tier)
          .withColumn("day_epoch", dayEpoch(s.tier))
      case Encode =>
        // THREE-STATE blocks, one per (series, day) over the 5m points:
        // the value channel (NaN where a bucket has zero OK rows; decode
        // maps it back to null) plus OK/NODATA/UNDETECT count channels,
        // all on one ts grid, so decode re-aligns them positionally.
        def enc(v: Column) =
          graft.codec.GorillaAgg.gorillaEncode(col("bucket_epoch"), v)
        table(s.upstream.get).read(todo)
          .groupBy(col("domain"), col("day_epoch"))
          .agg(
            enc(coalesce(col("sum_value_micros").cast("double"),
                         lit(Double.NaN))).as("block"),
            enc(col("n_ok").cast("double")).as("ok_block"),
            enc(col("n_nodata").cast("double")).as("nodata_block"),
            enc(col("n_undetect").cast("double")).as("undetect_block"))
    }

    // ok partitions of the previous checkpoint by stage: a checkpoint
    // keeps those of the stages not yet rerun, so a crash mid-rerun
    // never forgets what an earlier attempt committed
    val previousOk = previous.toSeq.collect { case (k, "ok") => k.splitAt(k.lastIndexOf('/')) }
      .groupMap(_._1)(_._2.tail)

    // The one stage harness for every table a run maintains, called once
    // its upstream's outcome is known: resume-skip, dependency-aware
    // failure isolation, one copy-on-write commit, per-partition lineage
    // + metrics. If the upstream's commit (or its snapshot read) failed
    // or was itself skipped, the stage is recorded as
    // skipped:upstream_failed rather than silently rebuilt from the
    // previous (stale) snapshot and marked ok with lineage pointing at
    // the new input — the checkpoint manifest must never misrepresent
    // which tables reflect the current input.
    def commit(s: Stage, upstreamOk: Boolean): Outcome = {
      val partitions = partitionsAt(s.tier)
      val already = partitions.filter(p => previous.get(s"${s.key}/$p").contains("ok"))
      val todo = partitions -- already
      val t0 = System.nanoTime()
      def elapsedMs: Long = (System.nanoTime() - t0) / 1000000L
      val (done, ok) =
        if (todo.isEmpty) (Nil, true)
        else if (!upstreamOk)
          (todo.toSeq.map(RunEntry(s.key, _, 0L, "skipped:upstream_failed", 0L)), false)
        else try {
          val lineage = todo.map(p => p -> PartitionLineage(inputSnapshot, "ok")).toMap
          val m = table(s.key).commitOverwrite(rows(s, todo), "day_epoch", lineage)
          val ms = elapsedMs
          (todo.toSeq.map(p =>
            RunEntry(s.key, p, m.partitions.get(p).map(_.rows).getOrElse(0L), "ok", ms)), true)
        } catch {
          case e: Exception =>
            val status = RunManifest.errorStatus(e)
            (todo.toSeq.map(RunEntry(s.key, _, 0L, status, elapsedMs)), false)
        }
      // resumed partitions are re-recorded, or the NEXT resume would
      // rebuild them
      Outcome((already.toSeq.map(RunEntry(s.key, _, -1L, "ok", 0L)) ++ done)
        .sortBy(_.partition.toLong), ok)
    }

    // The stages run as a DAG: each one starts on its own thread of a
    // per-run pool as soon as its upstream's outcome is known, so the
    // five chains commit side by side and FIFO scheduling fills the
    // slots one stage's fixed costs leave idle. The threads are
    // started here, so they inherit the caller's Spark local properties
    // (and no SQL execution id); every job of a stage carries the job
    // tags `tierrun:<runId>` and `stage:<key>`. A job tag may not hold
    // ',', so the run id goes into its tag URL-encoded.
    val sc = spark.sparkContext
    val runTag = "tierrun:" + URLEncoder.encode(runId, StandardCharsets.UTF_8)
    @volatile var aborted = false
    val threads = scala.collection.mutable.ArrayBuffer[Thread]()
    val pool = new ThreadPoolExecutor(stages.size, stages.size, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"tierrun-$runId-${threads.size}")
        t.setDaemon(true)
        threads += t
        t
      })
    pool.prestartAllCoreThreads()
    val outcomes = stages.foldLeft(Map.empty[String, Future[Outcome]]) { (started, s) =>
      val outcome = Promise[Outcome]()
      val tags = Set(runTag, s"stage:${s.key}")
      pool.execute { () =>
        outcome.complete(try {
          val upstreamOk = s.upstream.forall(u => Await.result(started(u), Duration.Inf).ok)
          if (aborted) throw new CancellationException(s"run $runId aborted")
          sc.addJobTags(tags)
          try Success(commit(s, upstreamOk))
          finally sc.removeJobTags(tags)
        } catch { case t: Throwable => Failure(t) })
      }
      started + (s.key -> outcome.future)
    }

    // Stages retire in list order on this thread: the checkpoint after
    // each one lists exactly the stages retired so far, as a sequential
    // run would write it.
    def retire(s: Stage, later: Seq[Stage]): Unit = {
      entries ++= Await.result(outcomes(s.key), Duration.Inf).entries
      persisted.synchronized {
        readers.toMap.collect { case (p, last) if last == s.key => p }
          .foreach(persisted.remove(_).foreach(_.unpersist()))
      }
      val carried = for (l <- later; p <- previousOk.getOrElse(l.key, Nil).sortBy(_.toLong))
        yield RunEntry(l.key, p, -1L, "ok", 0L)
      val tmp = ckptPath.resolveSibling(s".run-$runId.json.tmp")
      Files.writeString(tmp,
        RunManifest(runId, inputSnapshot, entries.toSeq ++ carried, rulesetVersion).toJson)
      Files.move(tmp, ckptPath, StandardCopyOption.ATOMIC_MOVE,
                 StandardCopyOption.REPLACE_EXISTING)
      afterStage(s.key)
    }

    // A stage that threw a non-Exception, or a failed retirement (the
    // checkpoint write, afterStage), aborts the run: a stage still
    // waiting on its upstream does not start, and the run's jobs active
    // at that moment are cancelled. A commit already past that point may
    // still submit and finish its write, so `run` rethrows only once
    // every stage has finished — it never returns while one of its
    // commits is still writing.
    try for (s +: later <- stages.tails) retire(s, later)
    catch {
      case t: Throwable =>
        aborted = true
        sc.cancelJobsWithTag(runTag, s"run $runId aborted")
        outcomes.values.foreach(Await.ready(_, Duration.Inf))
        throw t
    } finally {
      pool.shutdown()
      threads.foreach(_.join())
      persisted.synchronized(persisted.values.foreach(_.unpersist()))
    }
    RunManifest(runId, inputSnapshot, entries.toSeq, rulesetVersion)
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
    // blocks, raw and the sketch ladders age out on their own horizons
    // (blocks usually share 5m's; raw is the replay/backfill buffer).
    // The COARSEST sketch level ages out only under its own knob: the
    // day-scale keepSketchDays would drop every 30d bucket but the newest.
    val horizons = keepDays.toSeq.map { case (t, days) => t.name -> Option(days) } ++
      Seq("blocks" -> keepBlockDays, "raw" -> keepRawDays) ++
      sketchStages.map(s => s.key -> (if (s.tier == T30d) keepSketch30dDays else keepSketchDays))
    horizons.collect { case (key, Some(days)) =>
      key -> dropOld(table(key), days, keepSnapshots)
    }.toMap
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
  def tier(t: TierSpec): DataFrame = table(t.name).read()

  /** Read the exact histogram sketch tier (1h/1d/30d bands ladder). */
  def histTier(t: TierSpec): DataFrame = table(s"hist_${t.name}").read()

  /** Read the HLL distinct-url sketch tier (1h/1d/30d ladder). */
  def hllTier(t: TierSpec): DataFrame = table(s"hll_${t.name}").read()

  /** Read the KLL quantile sketch tier (1h/1d/30d ladder). */
  def kllTier(t: TierSpec): DataFrame = table(s"kll_${t.name}").read()

  /** Read the per-(series, day) Gorilla value blocks. */
  def blocks(): DataFrame = table("blocks").read()

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

private object TierRunner {

  /** One aggregation of the touched raw rows at `tier` into `measures`
    * (reference identity: stages naming the same pass share it). */
  final class RawPass(val tier: TierSpec, val measures: Seq[Rollup.Measure],
                      val saltBuckets: Option[Int] = None)

  /** How a stage builds the rows of the partitions it recomputes. */
  sealed trait Build
  /** Finest level: the `measures` columns of a raw pass. */
  final case class FromRaw(pass: RawPass, measures: Seq[Rollup.Measure]) extends Build
  /** `Rollup.cascade` merge of the upstream table's rows. */
  case object Merge extends Build
  /** Gorilla block encode of the upstream 5m table. */
  case object Encode extends Build

  /** One table a run maintains: its checkpoint key, its directory under
    * the runner's root, its tier, the stage it is built from (None: the
    * raw table) and how its rows are built. */
  final case class Stage(key: String, dir: String, tier: TierSpec,
                         upstream: Option[String], build: Build)

  /** What a stage left for its retirement and its downstream stages:
    * its checkpoint entries, and whether its table now reflects the
    * run's input (false: it failed or was skipped). */
  final case class Outcome(entries: Seq[RunEntry], ok: Boolean)
}

/** One (stage, partition) record of a run: lineage status + metrics
  * (row count; wall-clock of the stage commit that produced it, timed
  * from when its upstream stage finished). Stages commit concurrently,
  * so their times overlap and their sum can exceed the run's wall time.
  * A resumed partition (ok in the run's earlier checkpoint) carries
  * rows −1 and elapsed 0; a skipped one rows 0 and elapsed 0.
  */
final case class RunEntry(tier: String, partition: String, rows: Long,
                          status: String, elapsedMs: Long)

/** Checkpoint manifest of one tier run: per (tier, partition) lineage
  * + metrics, plus the curation-ruleset version the run executed under
  * (the auditable config surface — [[graft.core.CurationRuleset]]).
  * Parsed back only for resume status.
  */
final case class RunManifest(runId: String, inputSnapshot: Long,
                             entries: Seq[RunEntry],
                             rulesetVersion: String =
                               graft.core.CurationRuleset.Default.version) {
  def toJson: String = {
    val o = Json.obj().put("format", RunManifest.FormatVersion)
      .put("run_id", runId).put("input_snapshot", inputSnapshot)
      .put("ruleset", rulesetVersion)
    val parts = o.putArray("partitions")
    entries.foreach { e =>
      parts.addObject().put("tier", e.tier).put("partition", e.partition)
        .put("rows", e.rows).put("status", e.status)
        .put("elapsed_ms", e.elapsedMs)
    }
    Json.write(o)
  }
  def okCount: Int = entries.count(_.status == "ok")
}

object RunManifest {
  /** Checkpoint format version. A checkpoint without the field was
    * written before versioning, in format 1's layout, and still
    * resumes; any other version fails naming it.
    */
  val FormatVersion: Long = 1L

  /** Status of a failed stage: `error:<SimpleName>: <root-cause
    * message>`, the message cut to its first non-blank line.
    */
  def errorStatus(e: Throwable): String = {
    val root = org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
    val msg = Option(root.getMessage).toSeq
      .flatMap(_.linesIterator.map(_.trim)).find(_.nonEmpty).getOrElse("")
    s"error:${e.getClass.getSimpleName}: $msg"
  }

  /** partition-status map "tier/partition" -> status. */
  def parseStatuses(json: String): Map[String, String] = {
    val m = Json.parse(json, "run checkpoint")
    m.optLong("format").filter(_ != FormatVersion).foreach { v =>
      throw new IllegalStateException(
        s"run checkpoint format $v not in supported {$FormatVersion}")
    }
    m.elements("partitions").map(e =>
      s"${e.str("tier")}/${e.str("partition")}" -> e.str("status")).toMap
  }
}
