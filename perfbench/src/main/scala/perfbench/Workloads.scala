package perfbench

import scala.collection.mutable

import graft.Bench
import graft.core.TierSpec
import graft.ops.{GapFill, Rollup, Sketches}
import graft.run.{RunManifest, TierRunner}
import graft.table.TierTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload needs from the benchmark loop. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val input: String,
                val work: String, val seed: Long) {
  /** Output checks: name → failure message (None = passed). */
  val checks = mutable.ArrayBuffer[(String, Option[String])]()
  /** Non-ok manifest entries and manifest entries seen. */
  var entriesFailed, entriesSeen = 0L
  val info = mutable.LinkedHashMap[String, Any]()

  def check(name: String)(cond: => Boolean, detail: => String = ""): Unit = {
    val r = try { if (cond) None else Some(s"$name failed $detail".trim) }
            catch { case e: Exception => Some(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    checks += name -> r
    r.foreach(m => System.err.println(s"[perfbench] CHECK FAILED: $m"))
  }

  def entries(m: RunManifest): Unit = {
    entriesSeen += m.entries.size
    entriesFailed += m.entries.count(_.status != "ok")
  }
}

/** One benchmark operation's outcome. `layer` holds its per-layer
  * values (traced runs only).
  */
final class OpRec(val id: Int, var kind: String) {
  var seconds = 0.0
  var rows = 0L
  var ok = true
  val layer = mutable.Map[String, Double]()
}

/** A workload: set-up (timed as set-up), a closed-loop operation, and
  * checks after the loop. All checks run outside operation timing.
  */
trait Workload {
  /** Input the operations consume, for store_bytes_per_input_byte. */
  def inputBytes: Long
  def setup(): Unit
  /** Untimed preparation after set-up: derived inputs, exact answers. */
  def prepare(): Unit = ()
  /** Operations the loop runs even past the deadline. */
  def minOps: Int = 1
  /** Operations op_p50_s and op_tail_s are taken over. */
  def latencyOps(ops: Seq[OpRec]): Seq[OpRec] = ops
  /** Operations rows_per_s is taken over. */
  def throughputOps(ops: Seq[OpRec]): Seq[OpRec] = ops
  /** Run operation `rec.id`; fill in its rows (and kind). */
  def step(rec: OpRec): Unit
  def after(ops: Seq[OpRec]): Unit
  /** Bytes stored per input byte, for the end-to-end metric. */
  def storeRatio: Double
}

object Workloads {
  /** Replication factor of `Bench.replicatedPages` for every workload. */
  val R = 1
  /** Late-data increments `gen.py` writes; operations cycle through them. */
  val Increments = 8

  /** Retention ladder of the full build: 5m keeps a week, 1h two weeks,
    * sketches below 30d two weeks; old snapshots are expired.
    */
  def retain(runner: TierRunner): Map[String, Set[String]] =
    runner.applyRetention(Map(TierSpec.T5m -> 7, TierSpec.T1h -> 14),
      keepSnapshots = 1, keepBlockDays = Some(7), keepSketchDays = Some(14))

  def pages(c: Ctx): DataFrame = Bench.replicatedPages(c.spark, c.input, R)

  /** (rows, html+text bytes, xor of xxhash64(text)) of an input. */
  def inputStats(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(octet_length(col("html")) + octet_length(col("text"))),
      bit_xor(xxhash64(col("text")))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def table(root: String, name: String, c: Ctx) = new TierTable(s"$root/$name", c.spark)

  /** Traced per-op bookkeeping around a TierRunner operation. */
  def traced[A](c: Ctx, rec: OpRec, root: String)(body: => A): A = {
    if (!c.tracer.enabled) return body
    val before = Store.files(root)
    val a = body
    rec.layer ++= Layers.written(before, Store.files(root))
    rec.layer ++= Layers.store(Store.usage(root))
    a
  }

  def apply(name: String, c: Ctx): Workload = name match {
    case "write" => new Write(c)
    case "read" => new Read(c)
    case "cascade" => new CascadeRef(c)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

import Workloads._

/** The production write path in one run: operation 0 is a cold,
  * TierMain-shaped build (ingest the whole input, run the cascade, apply
  * the retention ladder) on a fresh table root; every later operation
  * ingests one seeded late-data increment (replayed event ids plus new
  * events of one day) and runs the cascade for the touched day.
  *
  * The build's retention step is timed as a second segment of
  * operation 0 after the increments and the incremental == full
  * recompute check: applied before them, it ages out 1d sketch days
  * that an increment's 30d bucket rebuild then no longer merges (see
  * README.md), and the increments are meant to run on the table the
  * ingest and run leave.
  */
final class Write(c: Ctx) extends Workload {
  private val root = s"${c.work}/write"
  private lazy val runner = new TierRunner(c.spark, root)
  private var in: (Long, Long, Long) = (0L, 0L, 0L)
  private var stored = 0.0
  def inputBytes: Long = in._2

  def setup(): Unit = ()

  /** The build, then at least two increments. */
  override def minOps: Int = 3
  override def latencyOps(ops: Seq[OpRec]): Seq[OpRec] = ops.filter(_.kind == "increment")
  override def throughputOps(ops: Seq[OpRec]): Seq[OpRec] = ops.filter(_.kind == "build")

  def step(rec: OpRec): Unit = if (rec.id == 0) build(rec) else increment(rec)

  private def build(rec: OpRec): Unit = {
    rec.kind = "build"
    traced(c, rec, root) {
      val m = c.tracer.op(rec.id) {
        val days = c.tracer.span("run.ingest")(runner.ingest(pages(c)))
        c.tracer.span("run.run")(runner.run("build", days))
      }
      rec.layer ++= Layers.manifest(m)
      c.entries(m)
      in = inputStats(pages(c))
      rec.rows = in._1
      // checks on the freshly built tiers
      c.check("5m counts sum to input rows") {
        table(root, "tier_5m", c).read()
          .agg(sum(col("n_ok") + col("n_nodata") + col("n_undetect"))).head().getLong(0) == in._1
      }
      c.check("30d text_sha xor equals input text hash xor") {
        table(root, "tier_30d", c).read().agg(bit_xor(col("text_sha"))).head().getLong(0) == in._3
      }
    }
  }

  /** The build's retention step: a second segment of operation 0. */
  private def retention(build: OpRec): Unit = {
    c.tracer.op(build.id)(c.tracer.span("run.retention")(retain(runner)))
    build.seconds = c.tracer.opSeconds(build.id)
    stored = Store.usage(root).totalBytes.toDouble / in._2
    c.check("retention keeps the newest 8 days of 5m") {
      table(root, "tier_5m", c).partitionKeys.size == 8
    }
  }

  /** Increment i is a raw input directory of its own, loaded the way
    * `TierMain` loads one.
    */
  private def incDir(i: Int) = s"${c.input}/late/inc-${i % Increments}"

  private def increment(rec: OpRec): Unit = {
    rec.kind = "increment"
    val m = traced(c, rec, root) {
      c.tracer.op(rec.id) {
        val pages = c.tracer.span("ingest.load")(
          graft.ingest.WebPages.load(c.spark, incDir(rec.id - 1)))
        val days = c.tracer.span("run.ingest")(runner.ingest(pages))
        c.tracer.span("run.run")(runner.run(s"late-${rec.id}", days))
      }
    }
    rec.rows = c.spark.read.parquet(s"${incDir(rec.id - 1)}/events.parquet").count()
    rec.layer ++= Layers.manifest(m)
    c.entries(m)
  }

  def after(ops: Seq[OpRec]): Unit = {
    c.info("input_rows") = in._1
    c.info("increment_rows") = ops.find(_.kind == "increment").map(_.rows).getOrElse(0L)
    val raw = table(root, "tier_raw", c)
    def rawSums() = raw.currentManifest.get.partitions.map { case (k, p) => k -> (p.rows, p.checksum) }
    val before = rawSums()
    runner.ingest(graft.ingest.WebPages.load(c.spark, incDir(ops.size - 2)))
    c.check("replaying an increment leaves raw rows unchanged")(rawSums() == before)

    // incremental == full recompute; a full rebuild costs about a warm
    // build, so only traced runs pay for it
    if (c.tracer.enabled) {
      val tables = Seq("tier_5m", "tier_1h", "tier_1d", "tier_30d", "blocks_5m",
                       "hist_1h", "hist_1d", "hist_30d")
      def sums() = tables.map(t => t -> table(root, t, c).currentManifest.get.partitions
        .map { case (k, p) => k -> (p.rows, p.checksum) }).toMap
      val incremental = sums()
      c.entries(runner.rebuildAll("rebuild"))
      val rebuilt = sums()
      tables.foreach { t =>
        val diff = incremental(t).keys.filter(k => rebuilt(t).get(k) != incremental(t).get(k))
        c.check(s"rebuildAll leaves $t unchanged")(diff.isEmpty, s"partitions ${diff.take(3).mkString(",")}")
      }
    }
    if (ops.head.ok) retention(ops.head)
  }

  def storeRatio: Double = stored
}

/** Reference, not a benchmark workload: `Bench.cascadeRun` (the
  * in-memory, unflagged cascade `graft.Bench` times) on the write
  * workload's input, so the gap to the production path is recorded on
  * the same box. Operation 0 is cold like the write workload's build.
  */
final class CascadeRef(c: Ctx) extends Workload {
  private var in: (Long, Long, Long) = (0L, 0L, 0L)
  def inputBytes: Long = in._2
  def setup(): Unit = ()
  override def minOps: Int = 3
  def step(rec: OpRec): Unit = {
    c.spark.catalog.clearCache()
    val (points, _) = c.tracer.op(rec.id)(c.tracer.span("bench.cascade_run")(Bench.cascadeRun(pages(c))))
    if (in._1 == 0L) in = inputStats(pages(c))
    rec.rows = in._1
    c.check("cascade produced points")(points > 0)
  }
  def after(ops: Seq[OpRec]): Unit = c.info("input_rows") = in._1
  def storeRatio: Double = 0.0
}

/** Each operation is one round of twelve read queries in a seeded
  * order: five tier queries (through `TierTable.read` of the partitions
  * they need, then the ops/codec function, collected) and the seven
  * curation queries of the registry (written to the `noop` sink). A
  * round sums twelve short queries, so its time is steadier than any one
  * query's; each query is a span of its own for the per-layer medians.
  * The table is built from a fixed 10-day input, so it depends only on
  * the code and `run.py` keeps it between runs of one build; set-up
  * builds it when it is absent, then runs every kind once as warm-up
  * (the curation queries as counts, which the oracle check uses).
  * The loop runs at least two rounds.
  */
final class Read(c: Ctx) extends Workload {
  private val root = s"${c.work}/query"
  private lazy val runner = new TierRunner(c.spark, root)
  private lazy val t5m = table(root, "tier_5m", c)
  private lazy val t1h = table(root, "tier_1h", c)
  private lazy val hll1d = table(root, "hll_1d", c)
  private lazy val kll30d = table(root, "kll_30d", c)
  private val rng = new scala.util.Random(c.seed)
  private var in: (Long, Long, Long) = (0L, 0L, 0L)
  private var domains = IndexedSeq.empty[String]
  private var days = IndexedSeq.empty[Long]
  // exact answers, computed once after set-up
  private var rows5m = Map.empty[(String, Long), Seq[Row]]
  private var rows1h = Map.empty[(String, Long), Int]
  private var distinct = Map.empty[(String, Long), Long]
  private var values30d = Map.empty[(String, Long), Array[Long]]
  private val counts = mutable.LinkedHashMap[String, Long]()
  private val queries = graft.SparkEntry.queries
  def inputBytes: Long = in._2

  val tierKinds = IndexedSeq("series_5m", "series_1h_ffill", "distinct_1d", "quantile_30d", "block_decode")
  val curateKeys = IndexedSeq("dedup_minhash", "dedup_simhash_pairs", "decontaminate",
    "text_quality_rep", "corpus_filter_rulesets", "ann_lsh_topk", "ann_ivf_topk")
  val kinds = tierKinds.map("query." + _) ++ curateKeys.map("curate." + _)
  private val Day = TierSpec.T1d.seconds
  private val Month = TierSpec.T30d.seconds
  private val cols5m = Seq("bucket_epoch", "n", "n_ok", "n_nodata", "n_undetect", "sum_value_micros")

  override def minOps: Int = 2

  def setup(): Unit = {
    val restored = java.nio.file.Files.exists(java.nio.file.Paths.get(root, "tier_5m", "CURRENT"))
    c.info("base_table") = if (restored) "restored" else "built"
    if (!restored) c.entries(runner.run("base", runner.ingest(pages(c))))
    domains = t5m.read().select("domain").distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    days = t5m.partitionKeys.map(_.toLong).toSeq.sorted.toIndexedSeq
    // warm-up: every kind once (the curation queries as the counts the
    // oracle check uses)
    tierKinds.foreach(k => query(k, domains.head, days.head))
    curateKeys.foreach(k => counts(k) = queries(k)(c.spark, c.input).count())
  }

  private def noop(key: String): Unit =
    queries(key)(c.spark, c.input).write.format("noop").mode("overwrite").save()

  override def prepare(): Unit = {
    in = inputStats(pages(c))
    val p = pages(c)
    val day = col("warc_epoch") - col("warc_epoch") % Day
    distinct = p.groupBy(col("domain"), day.as("d")).agg(countDistinct("url"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    values30d = p.select(col("domain"), (col("warc_epoch") - col("warc_epoch") % Month).as("m"),
        Rollup.micros(col("value")).as("v"))
      .collect().groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).sorted }
    rows5m = t5m.read().select((col("domain") +: cols5m.map(col)): _*).collect()
      .groupBy(r => (r.getString(0), r.getLong(1) - r.getLong(1) % Day))
      .map { case (k, rs) => k -> rs.toSeq.sortBy(_.getLong(1)) }
    rows1h = t1h.read().select(col("domain"), col("bucket_epoch")).collect()
      .groupBy(r => (r.getString(0), r.getLong(1) - r.getLong(1) % Month))
      .map { case (k, rs) => k -> rs.length }
  }

  /** One tier query: read the partitions it needs, apply the ops/codec
    * function, collect.
    */
  private def query(kind: String, dom: String, day: Long): Array[Row] = {
    val t = c.tracer
    val month = day - day % Month
    val df = kind match {
      case "series_5m" =>
        val r = t.span("table.read")(t5m.read(Set(day.toString)))
        t.span("ops.gapfill")(GapFill.denseBySeries(r.filter(col("domain") === dom), TierSpec.T5m))
      case "series_1h_ffill" =>
        val parts = t1h.partitionKeys.filter(k => k.toLong - k.toLong % Month == month)
        val r = t.span("table.read")(t1h.read(parts))
        t.span("ops.gapfill")(GapFill.forwardFill(GapFill.denseBySeries(r, TierSpec.T1h)))
      case "distinct_1d" =>
        val r = t.span("table.read")(hll1d.read(Set(day.toString)))
        t.span("ops.sketch")(Sketches.estimated(r))
      case "quantile_30d" =>
        val r = t.span("table.read")(kll30d.read(Set(month.toString)))
        t.span("ops.sketch")(Sketches.quantEstimated(r))
      case "block_decode" =>
        t.span("codec.decode")(runner.decodedBlocks()
          .filter(col("domain") === dom && col("bucket_epoch") >= day &&
                  col("bucket_epoch") < day + Day))
    }
    t.span("exec.collect")(df.collect())
  }

  def step(rec: OpRec): Unit = {
    val answers = mutable.ArrayBuffer[(String, String, Long, Array[Row])]()
    c.tracer.op(rec.id) {
      rng.shuffle(kinds).foreach { kind =>
        c.tracer.span(kind) {
          kind.split('.') match {
            case Array("query", q) =>
              val dom = domains(rng.nextInt(domains.size))
              val day = days(rng.nextInt(days.size))
              answers += ((q, dom, day, query(q, dom, day)))
            case Array("curate", key) =>
              c.tracer.span("exec.noop_write")(noop(key))
              rec.rows += counts(key)
          }
        }
      }
    }
    answers.foreach { case (q, dom, day, rows) =>
      rec.rows += rows.length
      checkAnswer(q, dom, day, day - day % Month, rows)
    }
  }

  private def checkAnswer(kind: String, dom: String, day: Long, month: Long, rows: Array[Row]): Unit =
    kind match {
      case "series_5m" =>
        val want = rows5m.getOrElse((dom, day), Nil)
        val obs = rows.filter(r => !r.getAs[Boolean]("is_gap"))
        def key(r: Row) = cols5m.map(n => String.valueOf(r.getAs[Any](n))).mkString("|")
        c.check("gap-fill non-gap rows equal 5m rows") {
          obs.map(key).sorted.toSeq == want.map(key).sorted
        }
        c.check("5m grid length") {
          val bs = want.map(_.getLong(1))
          rows.length == (if (bs.isEmpty) 0 else ((bs.max - bs.min) / TierSpec.T5m.seconds + 1).toInt)
        }
      case "series_1h_ffill" =>
        val byDom = rows.groupBy(_.getAs[String]("domain"))
        c.check("1h grid length and observed rows") {
          byDom.forall { case (d, rs) =>
            val bs = rs.map(_.getAs[Long]("bucket_epoch"))
            rs.length == (bs.max - bs.min) / TierSpec.T1h.seconds + 1 &&
              rs.count(r => !r.getAs[Boolean]("is_gap")) == rows1h.getOrElse((d, month), -1)
          }
        }
      case "distinct_1d" =>
        c.check("HLL distinct within 5% of exact") {
          rows.forall { r =>
            val exact = distinct((r.getAs[String]("domain"), r.getAs[Long]("bucket_epoch")))
            math.abs(r.getAs[Long]("distinct_est") - exact) <= 0.05 * exact + 1
          }
        }
      case "quantile_30d" =>
        c.check("KLL quantiles within 3% rank of exact") {
          rows.forall { r =>
            val vs = values30d((r.getAs[String]("domain"), r.getAs[Long]("bucket_epoch")))
            Seq("p50" -> 0.5, "p95" -> 0.95).forall { case (n, q) =>
              // any rank the returned value occupies may answer q
              val v = r.getAs[Long](n)
              val lo = vs.indexWhere(_ >= v)
              val hi = vs.lastIndexWhere(_ <= v) + 1
              lo.toDouble / vs.length - 0.03 <= q && q <= hi.toDouble / vs.length + 0.03
            }
          }
        }
      case "block_decode" =>
        val want = rows5m.getOrElse((dom, day), Nil).map { r =>
          val v = r.getAs[Any]("sum_value_micros")
          Seq(r.getLong(1), if (v == null) null else v.asInstanceOf[Long].toDouble,
              r.getAs[Long]("n_ok"), r.getAs[Long]("n_nodata"), r.getAs[Long]("n_undetect")).mkString("|")
        }.sorted
        val got = rows.map(r => Seq(r.getAs[Long]("bucket_epoch"), r.getAs[Any]("value"),
          r.getAs[Long]("n_ok"), r.getAs[Long]("n_nodata"), r.getAs[Long]("n_undetect")).mkString("|")).sorted
        c.check("decoded blocks equal 5m rows")(got.toSeq == want)
    }

  def after(ops: Seq[OpRec]): Unit = {
    c.info("input_rows") = in._1
    c.info("curate_counts") = counts
    c.info("oracle_sql") = curateKeys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
  }

  def storeRatio: Double = Store.usage(root).totalBytes.toDouble / in._2
}
