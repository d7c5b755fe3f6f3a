package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver for one workload run. `run.py` builds the classpath,
  * generates the seeded inputs and starts this main:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --input <dir> --work <dir> --out <result.json>
  * }}}
  *
  * The session is built the way `graft.run.TierMain` builds it (AQE on,
  * UTC, no coalescing override) on `local[nproc]`, with shuffle
  * partitions at nproc as a spark-submit deployment of that master would
  * set them. The result file holds the end-to-end metrics, the
  * per-layer metrics (traced runs), the checks and the run
  * configuration; traced runs also write the spans next to it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors

    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.app.name" -> s"perfbench-$name",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, trace)
    val c = new Ctx(spark, tracer, a("input"), work, seed)
    val w = Workloads(name, c)

    w.setup()
    // set-up time counts from JVM start: session start, warm-up and the
    // initial build of the workloads that have one
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    w.prepare()

    val ops = mutable.ArrayBuffer[OpRec]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (ops.size < w.minOps || System.nanoTime() < deadline) {
      val rec = new OpRec(ops.size, name)
      try w.step(rec)
      catch {
        case e: Exception =>
          rec.ok = false
          System.err.println(s"[perfbench] operation ${rec.id} threw: $e")
      }
      rec.seconds = tracer.opSeconds(rec.id)
      ops += rec
    }
    w.after(ops.toSeq)

    val okOps = ops.filter(_.ok).toSeq
    val latency = w.latencyOps(okOps)
    val secs = latency.map(_.seconds)
    val (tailPct, tailS) = Stats.tail(secs)
    // median of the operations' rates, so one slow operation moves it
    // no more than it moves op_p50_s
    val rates = w.throughputOps(okOps).filter(_.seconds > 0).map(r => r.rows / r.seconds)
    val e2e = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> Stats.median(rates),
      "op_p50_s" -> Stats.median(secs),
      "op_tail_s" -> tailS,
      "store_bytes_per_input_byte" -> w.storeRatio,
      "peak_rss_mb" -> Store.peakRssMb())

    val perLayer = mutable.Map[String, Double]()
    if (trace) {
      tracer.drain()
      okOps.foreach { r =>
        r.layer ++= Layers.exec(tracer, r.id, cores)
        r.layer ++= Layers.spans(tracer, r.id)
      }
      // per-layer values are medians over the operations the latency
      // metrics are taken over that use the layer; a build operation
      // reports as build.*
      latency.flatMap(_.layer.keys).distinct.foreach { k =>
        perLayer(k) = Stats.median(latency.flatMap(_.layer.get(k)))
      }
      okOps.filter(_.kind == "build").foreach { b =>
        Layers.BuildMetrics.foreach(k => perLayer(s"build.$k") = b.layer.getOrElse(k, 0.0))
      }
      perLayer("trace.unattributed_ratio") =
        okOps.map(_.layer.getOrElse("trace.unattributed_ratio", 0.0)).maxOption.getOrElse(0.0)
    }

    val failedChecks = c.checks.flatMap(_._2)
    val failedOps = ops.count(!_.ok)
    val attempted = ops.size + c.checks.size + c.entriesSeen
    val failed = failedOps + failedChecks.size + c.entriesFailed
    c.info("failed_ratio") = failed.toDouble / attempted
    c.info("op_tail_percentile") = tailPct
    c.info("op_samples") = secs.size
    c.info("op_kinds") = okOps.groupBy(_.kind).map { case (k, v) => k -> v.size }
    c.info("config") = (conf.toMap ++ Map(
      "seed" -> seed.toString, "seconds" -> seconds.toString, "cores" -> cores.toString,
      "driver_max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "replicate" -> Workloads.R.toString, "input_bytes" -> w.inputBytes.toString,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version))

    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "failures" -> (failedChecks.toSeq ++
        (if (failedOps > 0) Seq(s"$failedOps operations threw") else Nil) ++
        (if (c.entriesFailed > 0) Seq(s"${c.entriesFailed} manifest entries not ok") else Nil)),
      "e2e" -> e2e, "per_layer" -> perLayer, "info" -> c.info,
      "ops" -> ops.map(r => Map("id" -> r.id, "kind" -> r.kind, "seconds" -> r.seconds,
                                "rows" -> r.rows, "ok" -> r.ok)))
    Files.writeString(Paths.get(a("out")), Json(result))
    if (trace) Files.writeString(Paths.get(a("out").stripSuffix(".json") + "-spans.json"), Json(Map(
      "self_times" -> Layers.selfTimes(tracer),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)),
      "ops" -> okOps.map(r => Map("id" -> r.id, "kind" -> r.kind, "layers" -> r.layer)))))
    spark.stop()
  }
}
