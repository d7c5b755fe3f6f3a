package graft.run

import graft.ingest.WebPages
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point for a tier run:
  *
  * {{{
  * spark-submit --class graft.run.TierMain <jar> \
  *   <sfDir> <tableRoot> <runId> [watermarkIso] [retentionSpec]
  * }}}
  *
  * Ingests the tier-0 web pages (optionally only rows with
  * `warc_ts >= watermarkIso` — the incremental/modified-since mode,
  * reference `--modified-days-ago` analog), runs the 5m→30d cascade for
  * the touched day partitions, and prints the run's checkpoint manifest
  * JSON to stdout. An optional `retentionSpec` ("5m=14,1h=90,1d=730" —
  * keep-days per tier, unlisted tiers keep everything) applies the
  * retention ladder after the run (manifest-only expiry + snapshot dir
  * reclamation). Master/executor topology comes from spark-submit —
  * nothing is hardcoded here, so the same jar runs local[N] or a real
  * multi-executor cluster. Pass "-" as watermarkIso to skip it while
  * giving a retentionSpec.
  */
object TierMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: TierMain <sfDir> <tableRoot> <runId> [watermarkIso] [retentionSpec]")
    val Array(sfDir, tableRoot, runId) = args.take(3)
    val watermark = args.lift(3).filterNot(_ == "-")
    val retention: Map[graft.core.TierSpec, Int] =
      args.lift(4).map(_.split(",").map { kv =>
        val Array(t, d) = kv.split("=")
        val tier = graft.core.TierSpec.cascade.find(_.name == t).getOrElse(
          throw new IllegalArgumentException(s"unknown tier in retentionSpec: $t"))
        tier -> d.toInt
      }.toMap).getOrElse(Map.empty)

    // only stop a session this main created — embedding callers (tests,
    // notebooks) keep theirs
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val builder = SparkSession.builder()
      .appName(s"graft-tier-$runId")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    // topology comes from spark-submit; SPARK_MASTER is the sandbox
    // fallback for `sbt runMain` (no spark-submit wrapper)
    val spark = sys.env.get("SPARK_MASTER")
      .fold(builder)(builder.master)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val all = WebPages.load(spark, sfDir)
    val increment = watermark match {
      case Some(w) => all.filter(col("warc_ts") >= lit(w).cast("timestamp"))
      case None    => all
    }
    val runner = new TierRunner(spark, tableRoot)
    val touched = runner.ingest(increment)
    val manifest = runner.run(runId, touched)
    // the run's checkpoint manifest (per-partition lineage + metrics)
    println(manifest.toJson)
    if (retention.nonEmpty) {
      val dropped = runner.applyRetention(retention)
      val o = graft.core.Json.obj()
      val counts = o.putObject("retention_dropped")
      dropped.foreach { case (t, ks) => counts.put(t, ks.size) }
      println(graft.core.Json.write(o))
    }
    if (!preExisting) spark.stop()
  }
}
