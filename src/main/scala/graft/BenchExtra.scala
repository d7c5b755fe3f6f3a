package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (NOT part of the driver
  * contract — `graft.Bench` stays the frozen measured surface).
  *
  * Modes (first arg):
  *  - `time [names…]`    — per-query best-of-N seconds with the exact
  *    Bench methodology (count() action, cache-clear + GC between
  *    samples), printed one line per query. Isolates a query without
  *    paying for the whole bench sweep.
  *  - `noop [names…]`    — same timing but with the noop sink (guide
  *    §1.4): every column of every row computed and discarded, so
  *    count-pruning can't hide per-column work.
  *  - `explain <outDir> [names…]` — dump `.explain("formatted")` for
  *    each query to `<outDir>/<name>.txt` (the plans/r06 evidence).
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SAMPLES
  * (default 2, matching Bench's best-of-2).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val samples = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "2").toInt
    val spark = localSession(cpus.toInt)
    val qmap = SparkEntry.queries

    mode match {
      case "explain" =>
        val outDir = args(1)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val names =
          if (args.length > 2) args.drop(2).toSeq else Bench.benchQueries
        for (n <- names) {
          val df = qmap(n)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$n.txt"),
            plan.getBytes("UTF-8"))
          println(s"wrote $outDir/$n.txt")
        }

      case m @ ("time" | "noop") =>
        val names = if (args.length > 1) args.drop(1).toSeq else Bench.benchQueries
        // warm up codegen/JIT once at tiny scale, like Bench's cascade warmup
        names.foreach { n =>
          try {
            if (m == "noop")
              qmap(n)(spark, "/root/testdata/sf0.001")
                .write.format("noop").mode("overwrite").save()
            else qmap(n)(spark, "/root/testdata/sf0.001").count()
          } catch { case _: Throwable => () }
        }
        val results = names.map { n =>
          val ts = Seq.fill(samples) {
            spark.catalog.clearCache()
            System.gc()
            spark.sparkContext.setJobDescription(s"benchextra: $n")
            val t0 = System.nanoTime()
            try {
              if (m == "noop")
                qmap(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
              else qmap(n)(spark, sfDir).count()
            } catch { case e: Throwable => println(s"ERR $n: $e") }
            (System.nanoTime() - t0) / 1e9
          }
          n -> ts.min
        }
        results.foreach { case (n, t) => println(f"$n%-28s $t%.3f") }
        println(f"TOTAL ${results.map(_._2).sum}%.3f")

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  /** The local session of the measurement mains (this one and
    * [[ScalingBench]]): `local[cores]`, one shuffle partition per core,
    * AQE on with partition coalescing off, UTC, no UI.
    */
  def localSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing sizes post-shuffle partitions from the PRE-explode
      // map output (tiny) and would serialize the 100-2000x replication
      // explode into one task
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
