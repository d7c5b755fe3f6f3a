package graft

import org.apache.spark.sql.SparkSession

/** Two-cluster-size scaling evidence (BASELINE.md): the same tier
  * cascade on the same deterministic input at local[N] and local[4N],
  * reporting points/sec at both and the throughput scaling efficiency
  * `(tN / t4N) / 4`.
  *
  * Each parallelism level runs in its own SparkSession (the previous
  * one fully stopped); `iters` runs per level, best-of to damp JVM
  * noise. Usage: runMain graft.ScalingBench [n] [sfDir] [replicate]
  * [iters].
  */
object ScalingBench {

  private def bestRun(spark: SparkSession, sfDir: String, rep: Int,
                      iters: Int): (Long, Double) = {
    // warm-up at tiny scale: codegen + class-loading
    Bench.cascadeRun(graft.ingest.WebPages.load(spark, "/root/testdata/sf0.001"))
    val runs = (1 to iters).map { _ =>
      Bench.cascadeRun(Bench.replicatedPages(spark, sfDir, rep))
    }
    runs.minBy(_._2)
  }

  def main(args: Array[String]): Unit = {
    // args: [nList] [sfDir] [replicate] [iters] — nList like "2,4"
    // runs the pairs (2→8) and (4→16); each pair is N vs 4N cores.
    val ns = args.lift(0).getOrElse("2,4").split(",").map(_.trim.toInt).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(2).map(_.toInt).getOrElse(20)
    val iters = args.lift(3).map(_.toInt).getOrElse(3)

    def phase(cores: Int): (Long, Double) = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s = BenchExtra.localSession(cores)
      // the master is a SparkContext property: verify we really got the
      // requested core count (a live context would silently win)
      require(s.sparkContext.master == s"local[$cores]",
        s"stale SparkContext: ${s.sparkContext.master} != local[$cores]")
      val r = bestRun(s, sfDir, rep, iters)
      // fully stop the context — a later builder would otherwise reuse
      // it and silently ignore the new master
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      r
    }

    // Two alternating passes over every level (L1..Lk, L1..Lk),
    // best-of per level: all levels run with equally-warm JIT — a
    // single ascending order systematically flatters later levels.
    val levels = ns.flatMap(n => Seq(n, 4 * n)).distinct.sorted
    val pass1 = levels.map(l => l -> phase(l)).toMap
    val pass2 = levels.map(l => l -> phase(l)).toMap
    val best = levels.map(l =>
      l -> (if (pass1(l)._2 <= pass2(l)._2) pass1(l) else pass2(l))).toMap
    val points = best(levels.head)._1

    // SMT annotation: local[k] above the physical-core count shares
    // hyperthreads — those levels measure SMT contention, not the
    // engine's scaling. availableProcessors counts hardware threads;
    // the physical-core count is read from the sysfs topology (distinct
    // (package, core) pairs), overridable via GRAFT_PHYSICAL_CORES, with
    // a 2-way-SMT guess only as the last resort.
    val hwThreads = Runtime.getRuntime.availableProcessors()
    val physCores = sys.env.get("GRAFT_PHYSICAL_CORES").map(_.toInt).getOrElse {
      try {
        import java.nio.file.{Files, Paths}
        val cpuDir = new java.io.File("/sys/devices/system/cpu")
        val cores = cpuDir.listFiles().toSeq
          .filter(_.getName.matches("cpu\\d+"))
          .flatMap { d =>
            val core = Paths.get(d.getPath, "topology", "core_id")
            val pkg = Paths.get(d.getPath, "topology", "physical_package_id")
            if (Files.exists(core) && Files.exists(pkg))
              Some((Files.readString(pkg).trim, Files.readString(core).trim))
            else None
          }.toSet
        if (cores.nonEmpty) cores.size else hwThreads / 2
      } catch { case _: Exception => hwThreads / 2 }
    }

    val pairsJson = ns.map { n =>
      val (tN, t4N) = (best(n)._2, best(4 * n)._2)
      val eff = (tN / t4N) / 4.0
      val physical = 4 * n <= physCores
      f"""{"n_cores":$n,"cores_4n":${4 * n},"sec_n":$tN%.3f,"sec_4n":$t4N%.3f,""" +
        f""""points_per_sec_n":${points / tN}%.1f,"points_per_sec_4n":${points / t4N}%.1f,""" +
        f""""efficiency":$eff%.3f,"within_physical_cores":$physical}"""
    }.mkString("[", ",", "]")
    val headline = {
      // the authoritative number: the largest pair fully inside the
      // physical cores (above it, SMT caps speedup at ~1.4-1.5x)
      val phys = ns.filter(n => 4 * n <= physCores)
      val n = (if (phys.nonEmpty) phys else ns).max
      (best(n)._2 / best(4 * n)._2) / 4.0
    }
    println(
      f"""{"metric":"scaling_efficiency","value":$headline%.3f,"unit":"ratio",""" +
      f""""points":$points,"physical_cores":$physCores,"hw_threads":$hwThreads,""" +
      f""""pairs":$pairsJson,"sf":"$sfDir","replicate":$rep,""" +
      """"note":"pairs with within_physical_cores=false run into 2-way SMT thread sharing; the headline value is the largest fully-physical pair"}""")
  }
}
