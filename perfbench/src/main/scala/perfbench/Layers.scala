package perfbench

import graft.run.RunManifest

/** Per-operation layer metrics, computed from the tracer's spans, the
  * Spark listener, the `RunManifest` a run returns and a file listing of
  * the table root taken before and after the operation.
  */
object Layers {

  /** Layer metrics reported for a build operation, as build.<name>. */
  val BuildMetrics = Seq(
    "run.ingest_s", "run.run_s", "run.retention_s", "run.tier_5m_s", "run.sketch_1h_s",
    "run.blocks_s", "run.commits", "table.stats_task_s", "table.write_task_s",
    "table.files_written", "table.bytes_written", "exec.task_s", "exec.cpu_s",
    "exec.gc_s", "exec.offcpu_ratio", "exec.slot_idle_ratio", "exec.driver_only_s",
    "exec.shuffle_write_bytes")

  /** Which commit step a SQL execution belongs to, by the call site
    * Spark records as the execution's description. `TierTable`'s
    * `commitOverwrite` runs a stats `collect` and a `parquet` write.
    */
  def classify(desc: String): String = {
    val CallSite = """^(\w+) at (\w+)\.scala:\d+.*""".r
    desc match {
      case CallSite("collect", "TierTable") => "stats"
      case CallSite("parquet", "TierTable") => "write"
      case _ => "other"
    }
  }

  /** exec.* and the job-class metrics of operation `op`. */
  def exec(t: Tracer, op: Int, cores: Int): Map[String, Double] = {
    val r = t.recorder
    r.synchronized {
      val stages = r.stages.values.filter(s => s.completedMs > 0 && t.opOf(s.span) == op).toSeq
      val jobs = r.jobs.values.filter(j => t.opOf(j.span) == op).toSeq
      def cls(e: Long) = classify(r.execDesc.getOrElse(e, ""))
      val wall = t.opSeconds(op)
      val taskS = stages.map(_.runMs).sum / 1e3
      val cpuS = stages.map(_.cpuNs).sum / 1e9
      val segs = t.spans.filter(s => s.name == Tracer.Op && s.op == op)
      // driver-only time: op time during which no Spark job was running
      val covered = segs.map { s =>
        val iv = jobs.filter(_.endMs >= 0)
          .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var (cov, end) = (0L, Long.MinValue)
        iv.foreach { case (a, b) =>
          if (a > end) { cov += b - a; end = b }
          else if (b > end) { cov += b - end; end = b }
        }
        cov
      }.sum / 1e3
      val worst = stages.maxByOption(s => s.completedMs - s.submittedMs)
      def jobsOf(c: String) = jobs.count(j => cls(j.execId) == c).toDouble
      def taskOf(c: String) = stages.filter(s => cls(s.execId) == c).map(_.runMs).sum / 1e3
      val ingestSpans = t.spans.filter(s => s.op == op && s.name == "run.ingest").map(_.id).toSet
      Map(
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> stages.size.toDouble,
        "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
        "exec.task_s" -> taskS,
        "exec.cpu_s" -> cpuS,
        "exec.gc_s" -> stages.map(_.gcMs).sum / 1e3,
        "exec.offcpu_ratio" -> (if (taskS > 0) 1.0 - cpuS / taskS else 0.0),
        "exec.slot_idle_ratio" -> (if (wall > 0) 1.0 - taskS / (wall * cores) else 0.0),
        "exec.driver_only_s" -> math.max(wall - covered, 0.0),
        "exec.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1e3,
        "exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
        "exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
        "exec.input_bytes" -> stages.map(_.input).sum.toDouble,
        "exec.task_skew" -> worst.map(_.skew).getOrElse(0.0),
        "table.stats_jobs" -> jobsOf("stats"),
        "table.stats_task_s" -> taskOf("stats"),
        "table.write_jobs" -> jobsOf("write"),
        "table.write_task_s" -> taskOf("write"),
        "run.ingest_jobs" -> jobs.count(j => ingestSpans.contains(j.span)).toDouble)
    }
  }

  /** Seconds per layer span name within operation `op`, and the share of
    * op time no layer span covers.
    */
  def spans(t: Tracer, op: Int): Map[String, Double] = {
    val segIds = t.spans.filter(s => s.name == Tracer.Op && s.op == op).map(_.id).toSet
    val top = t.spans.filter(s => segIds.contains(s.parent))
    val wall = t.opSeconds(op)
    val byName = t.spans.filter(s => s.op == op && s.name != Tracer.Op)
      .groupBy(_.name).map { case (n, ss) => s"$n${if (n.endsWith("_s")) "" else "_s"}" -> ss.map(_.seconds).sum }
    byName + ("trace.unattributed_ratio" ->
      (if (wall > 0) math.max(1.0 - top.map(_.seconds).sum / wall, 0.0) else 0.0))
  }

  /** Self time per span name over the whole run: duration minus the
    * part covered by child spans. Written to the trace file.
    */
  def selfTimes(t: Tracer): Map[String, Map[String, Double]] = {
    val children = t.spans.groupBy(_.parent)
    t.spans.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(_.seconds).sum
      val self = ss.map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
      n -> Map("count" -> ss.size.toDouble, "total_s" -> total, "self_s" -> self)
    }
  }

  /** run.* from a run's manifest. `elapsed_ms` is one commit's wall time
    * copied onto every partition of that stage, so it is taken once per
    * stage key, never summed over partitions.
    */
  def manifest(m: RunManifest): Map[String, Double] = {
    val perStage = m.entries.groupBy(_.tier).map { case (k, es) => k -> es.map(_.elapsedMs).max / 1e3 }
    def st(keys: String*) = keys.map(perStage.getOrElse(_, 0.0)).sum
    Map(
      "run.tier_5m_s" -> st("5m"),
      "run.tier_1h_s" -> st("1h"),
      "run.tier_1d_s" -> st("1d"),
      "run.tier_30d_s" -> st("30d"),
      "run.blocks_s" -> st("blocks"),
      "run.sketch_1h_s" -> st("hist_1h", "hll_1h", "kll_1h"),
      "run.sketch_1d_s" -> st("hist_1d", "hll_1d", "kll_1d"),
      "run.sketch_30d_s" -> st("hist_30d", "hll_30d", "kll_30d"),
      "run.entries_ok_ratio" ->
        (if (m.entries.isEmpty) 0.0 else m.okCount.toDouble / m.entries.size))
  }

  /** Files an operation added under the table root. */
  def written(before: Map[String, Long], after: Map[String, Long]): Map[String, Double] = {
    val added = after.filter { case (f, _) => !before.contains(f) }
    val data = added.filter(_._1.endsWith(".parquet"))
    Map(
      "run.commits" -> added.keys.count(f =>
        f.contains("/manifests/manifest-") && f.endsWith(".json")).toDouble,
      "table.files_written" -> data.size.toDouble,
      "table.bytes_written" -> data.values.sum.toDouble)
  }

  def store(u: StoreUsage): Map[String, Double] = Map(
    "table.live_bytes" -> u.liveBytes.toDouble,
    "table.live_files" -> u.liveFiles.toDouble,
    "table.dead_bytes" -> u.deadBytes.toDouble)
}
