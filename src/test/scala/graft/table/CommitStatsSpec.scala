package graft.table

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import graft.ingest.WebPages
import graft.run.TierRunner
import org.apache.spark.TaskFaults
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectMetricsExec, CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The per-partition rows and checksum a commit records come from a
  * `Dataset.observe` on its parquet write. These specs pin that they
  * equal the definition they replaced (count and XOR of xxhash64 over
  * name-sorted columns, per partition), that a retried task of the
  * write stage is counted once, that the observation stays in the
  * write's result stage, and that a commit whose stats never arrive
  * fails before publishing.
  */
class CommitStatsSpec extends AnyFunSuite with SparkSuite {

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** The stats definition, recomputed by a separate aggregate. */
  private def recompute(df: DataFrame, p: String): Map[String, (Long, Long)] = {
    val hashCols = df.columns.sorted.map(c => s"`$c`").mkString(",")
    df.groupBy(col(p).cast("string"))
      .agg(count(lit(1)), expr(s"bit_xor(xxhash64($hashCols))"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  private def recorded(m: Manifest): Map[String, (Long, Long)] =
    m.partitions.collect { case (k, e) if e.path.nonEmpty => k -> ((e.rows, e.checksum)) }

  /** 600 rows over 5 day partitions, with nulls, doubles and strings;
    * the final repartition puts an exchange under the write.
    */
  private def input(): DataFrame = {
    import spark.implicits._
    (0L until 600L)
      .map(i => (i % 5L, s"name-$i", if (i % 7L == 0L) None else Some(i * 0.25), i))
      .toDF("day_epoch", "name", "value", "id")
      .repartition(3)
  }

  /** Input and read-back both agree with the recorded stats. */
  private def assertSameStats(t: TierTable, df: DataFrame, p: String): Unit = {
    val m = t.currentManifest.get
    val want = recompute(df, p)
    assert(want.size > 1 && want.values.forall(_._1 > 0))
    assert(recorded(m) == want)
    assert(recompute(t.read(), p) == want)
  }

  test("stats equal the groupBy definition: plain table") {
    val t = new TierTable(tmpRoot("stats-plain"), spark).init()
    t.commitOverwrite(input(), "day_epoch")
    assertSameStats(t, input(), "day_epoch")
  }

  test("stats equal the groupBy definition: bucketed table") {
    val t = new TierTable(tmpRoot("stats-bucketed"), spark).init()
    val df = input().withColumn("b", pmod(col("id"), lit(4L)))
    t.commitOverwrite(df, "day_epoch", bucketCol = Some("b"))
    assertSameStats(t, df, "day_epoch")
  }

  test("stats equal the groupBy definition: TierRunner.ingest raw commit") {
    val root = tmpRoot("stats-raw")
    val pages = WebPages.load(spark, sfDir)
    val touched = new TierRunner(spark, root).ingest(pages)
    val raw = new TierTable(Paths.get(root, "tier_raw").toString, spark)
    assert(recorded(raw.currentManifest.get).keySet == touched)
    assert(raw.currentManifest.get.totalRows == pages.count())
    assertSameStats(raw, raw.read(), "day_epoch")
  }

  test("a lineage partition that produced no rows is an explicit empty entry") {
    val t = new TierTable(tmpRoot("stats-empty"), spark).init()
    t.commitOverwrite(input(), "day_epoch")
    val lineage = Seq("1", "3", "9").map(_ -> PartitionLineage(0L, "ok")).toMap
    val some = input().filter(col("day_epoch").isin(1L, 3L))
    val m = t.commitOverwrite(some, "day_epoch", lineage)
    assert(recorded(m) -- Set("0", "2", "4") == recompute(some, "day_epoch"))
    assert(m.partitions("9") == PartitionEntry("", 0L, 0L, lineage.get("9")))
    // an input with no rows at all still completes its observation
    val none = t.commitOverwrite(input().filter(lit(false)), "day_epoch",
                                 Map("2" -> PartitionLineage(1L, "ok")))
    assert(none.partitions("2") == PartitionEntry("", 0L, 0L, Some(PartitionLineage(1L, "ok"))))
    assert(recorded(none).keySet == Set("0", "1", "3", "4"))
  }

  /** The input behind a shuffle, with a pass-through UDF in the write
    * stage that fails one task once when [[TaskFaults]] is armed.
    */
  private def faultable(): DataFrame = {
    val probe = udf { (id: Long) => TaskFaults.failOnceOnShuffleRead(id == 300L); id }
    input().groupBy("day_epoch", "id").agg(max("name").as("name"), max("value").as("value"))
      .withColumn("id", probe(col("id")))
  }

  test("a fetch-failed task of the write stage is retried and counted once") {
    val clean = new TierTable(tmpRoot("retry-clean"), spark).init()
      .commitOverwrite(faultable(), "day_epoch")

    val fetchFailures = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason.isInstanceOf[org.apache.spark.FetchFailed]) fetchFailures.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val retried =
      try {
        TaskFaults.arm()
        val m = new TierTable(tmpRoot("retry-faulted"), spark).init()
          .commitOverwrite(faultable(), "day_epoch")
        TaskFaults.drainListeners(spark.sparkContext)
        m
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(!TaskFaults.pending, "the fault never fired")
    assert(fetchFailures.get == 1)
    assert(recorded(retried) == recorded(clean))
    assert(recorded(retried) == recompute(faultable(), "day_epoch"))
  }

  test("plan pin: no exchange between the write command and the observation") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      new TierTable(tmpRoot("plan-pin"), spark).init().commitOverwrite(faultable(), "day_epoch")
      TaskFaults.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
      if (p.isInstanceOf[CollectMetricsExec]) Some(List(p))
      else children(p).iterator.flatMap(pathTo).nextOption().map(p :: _)
    def isExchange(p: SparkPlan): Boolean = p match {
      case _: Exchange | _: ReusedExchangeExec | _: QueryStageExec => true
      case _ => false
    }

    def below(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(below)
    val writes = plans.asScala.toSeq.flatMap(below).filter(_.isInstanceOf[DataWritingCommandExec])
    assert(writes.size == 1, writes.map(_.treeString).mkString("\n"))
    val path = pathTo(writes.head).getOrElse(fail(writes.head.treeString))
    assert(!path.exists(isExchange), writes.head.treeString)
    // the pin is not vacuous: the input's exchange sits below the observation
    assert(below(path.last).exists(isExchange), writes.head.treeString)
  }

  test("stats that never arrive fail the commit naming the table; nothing is published") {
    val root = tmpRoot("no-stats")
    val t = new TierTable(root, spark).init()
    val first = t.commitOverwrite(input(), "day_epoch")
    t.observedStats = _ => None
    val e = intercept[IllegalStateException](t.commitOverwrite(input(), "day_epoch"))
    assert(e.getMessage.contains(root) && e.getMessage.contains("snapshot 1"), e.getMessage)
    assert(t.currentSnapshotId.contains(first.snapshot))
    val names = scala.util.Using.resource(Files.list(Paths.get(root, "manifests")))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)
    assert(names == Set(s"manifest-${first.snapshot}.json"), names)
  }
}
