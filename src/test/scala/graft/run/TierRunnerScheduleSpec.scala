package graft.run

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.ingest.WebPages
import org.apache.spark.{TaskContext, TaskFaults}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The run's concurrent schedule: stages commit as the DAG allows, every
  * job is labelled with its run and stage, and an aborted run stops its
  * jobs and threads before it throws.
  */
class TierRunnerScheduleSpec extends AnyFunSuite with SparkSuite {

  private final case class Job(tags: Set[String], props: java.util.Properties,
                               start: Long, var end: Long = Long.MaxValue)

  private val jobs = mutable.Map[Int, Job]()

  /** The jobs the listener of the running [[jobsOf]] has seen start. */
  private def started(): Map[Int, Job] = jobs.synchronized(jobs.toMap)

  /** Every job started while `body` runs, by id, read once the listener
    * bus has delivered all of their events. */
  private def jobsOf(body: => Unit): Map[Int, Job] = {
    val sc = spark.sparkContext
    jobs.synchronized(jobs.clear())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val tags = Option(e.properties.getProperty("spark.job.tags")).toSet
          .flatMap((t: String) => t.split(',').filter(_.nonEmpty))
        jobs(e.jobId) = Job(tags, e.properties, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    }
    TaskFaults.drainListeners(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      TaskFaults.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    started()
  }

  private def poolThreads(runId: String): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"tierrun-$runId-"))

  private val ValueChain = Set("5m", "1h", "1d", "30d")
  private val Sketch = "(hist|hll|kll)_.*".r

  test("a run's jobs carry its tags and the caller's properties; chains overlap") {
    // a ',' may not appear in a job tag: the run id is encoded in it
    val root = Files.createTempDirectory("graft-sched").toString
    val runner = new TierRunner(spark, root)
    val days = runner.ingest(WebPages.load(spark, sfDir))
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.caller", "probe")
    val jobs =
      try jobsOf(runner.run("r,1", days))
      finally sc.setLocalProperty("graft.spec.caller", null)
    assert(jobs.nonEmpty)
    for ((id, j) <- jobs) {
      assert(j.tags("tierrun:r%2C1"), s"job $id: ${j.tags}")
      assert(j.tags.count(_.startsWith("stage:")) == 1, s"job $id: ${j.tags}")
      assert(j.props.getProperty("graft.spec.caller") == "probe", s"job $id")
    }
    def stage(j: Job) = j.tags.collectFirst { case t if t.startsWith("stage:") => t.drop(6) }.get
    val value = jobs.values.filter(j => ValueChain(stage(j)))
    val sketch = jobs.values.filter(j => Sketch.matches(stage(j)))
    assert(value.nonEmpty && sketch.nonEmpty)
    assert(sketch.exists(s => value.exists(v => s.start < v.end && v.start < s.end)),
      "no sketch-stage job overlapped a value-chain job")
    assert(poolThreads("r,1").isEmpty)
  }

  test("afterStage throwing mid-run cancels the run's jobs by tag; a rerun completes") {
    val root = Files.createTempDirectory("graft-sched").toString
    val runner = new TierRunner(spark, root)
    val days = runner.ingest(WebPages.load(spark, sfDir))
    val sc = spark.sparkContext
    var inFlight = false
    // A job under the run's tag that only a cancel ends before its 60 s
    // are up: it pins that the abort cancels the run's jobs by tag.
    @volatile var sentinelError: Option[Throwable] = None
    val sentinel = new Thread(() => {
      sc.addJobTag("tierrun:r1")
      sc.setLocalProperty("graft.spec.sentinel", "1")
      try sc.parallelize(Seq(1), 1).foreach { _ =>
        val ctx = TaskContext.get()
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(10)
      } catch { case e: Throwable => sentinelError = Some(e) }
    })
    def sentinelActive(jobs: Map[Int, Job]): Boolean =
      jobs.values.exists(j => j.props.getProperty("graft.spec.sentinel") == "1")
    runner.afterStage = key =>
      if (key == "5m") {
        // wait until a sibling stage's job is running, start the
        // sentinel, then crash once it runs
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!inFlight && System.nanoTime() < deadline) {
          inFlight = sc.statusTracker.getActiveJobIds.nonEmpty
          if (!inFlight) Thread.sleep(5)
        }
        sentinel.start()
        while (!sentinelActive(started()) && System.nanoTime() < deadline) Thread.sleep(5)
        throw new Error(s"simulated crash after $key")
      }
    val jobs = jobsOf(intercept[Error](runner.run("r1", days)))
    sentinel.join()
    assert(inFlight, "no sibling stage was in flight when 5m retired")
    assert(sentinelActive(jobs), "the sentinel job never started")
    assert(sentinelError.exists(_.getMessage.contains("run r1 aborted")), sentinelError)
    // every job the run started has ended (its end event is posted
    // before the job's caller returns)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(poolThreads("r1").isEmpty)
    val reserves = Files.walk(Paths.get(root)).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith(".reserve-")).toSeq
    assert(reserves.isEmpty, reserves)
    val ckpt = RunManifest.parseStatuses(Files.readString(Paths.get(s"$root/checkpoints/run-r1.json")))
    assert(ckpt.keySet.map(k => k.take(k.lastIndexOf('/'))) == Set("5m"))
    runner.afterStage = _ => ()
    val m = runner.run("r1", days)
    assert(m.entries.map(_.tier).distinct.size == 14)
    assert(m.entries.forall(_.status == "ok"), m.entries.filter(_.status != "ok"))
  }
}
