package graft.table

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.spark.TaskFaults
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The read contract of the schema a manifest records: a read is given
  * that schema, so defining one starts no Spark job; an all-empty
  * selection is an empty relation of it; and a commit may not write
  * rows of another schema beside data of the old one.
  */
class TierTableReadSpec extends AnyFunSuite with SparkSuite {

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** Rows of `days` day partitions, two per day, with a string and a
    * binary column beside the long ones.
    */
  private def days(n: Int) = {
    import spark.implicits._
    (0 until n * 2).map(i => (i / 2L, i.toLong, s"s$i", Array[Byte](i.toByte)))
      .toDF("day_epoch", "v", "name", "raw")
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TaskFaults.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      TaskFaults.drainListeners(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def manifestNames(root: String): Set[String] =
    scala.util.Using.resource(Files.list(Paths.get(root, "manifests")))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)

  test("defining a read starts no Spark job; the recorded schema types it") {
    // 32 partitions: Spark lists up to this many paths on the driver
    val t = new TierTable(tmpRoot("read-nojob"), spark).init()
    val m = t.commitOverwrite(days(32), "day_epoch")
    assert(m.schema.fieldNames.toSeq == Seq("v", "name", "raw", "day_epoch"))
    assert(m.schema.forall(_.nullable) && m.schema("day_epoch").dataType == LongType)
    val ((all, some), jobs) = jobsDuring((t.read(), t.read(Set("3", "7", "31"))))
    assert(jobs == 0, s"$jobs Spark job(s) ran before any action")
    assert(all.schema == m.schema && some.schema == m.schema)
    assert(all.count() == 64L)
    assert(some.select("day_epoch").distinct().collect().map(_.getLong(0)).toSet ==
      Set(3L, 7L, 31L))
    // the schema survives the manifest's JSON round-trip
    assert(t.currentManifest.get.schema == m.schema)
  }

  test("an all-empty pruned read is an empty relation of the recorded schema, opening no file") {
    val t = new TierTable(tmpRoot("read-empty"), spark).init()
    t.commitOverwrite(days(2), "day_epoch")
    // day 5 recomputed to nothing: an explicit empty partition
    val m = t.commitOverwrite(days(6).filter(col("day_epoch") === 99L), "day_epoch",
      Map("5" -> PartitionLineage(0L, "ok")))
    assert(m.partitions("5").path.isEmpty)
    val ((df, rows), jobs) = jobsDuring {
      val df = t.read(Set("5", "42"))
      (df, df.collect())
    }
    assert(rows.isEmpty && jobs == 0, s"$jobs job(s)")
    assert(df.inputFiles.isEmpty)
    assert(df.schema == m.schema && df.schema == t.read().schema)
  }

  test("a commit writing rows of another column type fails before publish, reserving nothing") {
    val root = tmpRoot("read-schema-change")
    val t = new TierTable(root, spark).init()
    val first = t.commitOverwrite(days(2), "day_epoch")
    val changed = days(1).withColumn("v", col("v").cast(StringType))
    val e = intercept[IllegalStateException](t.commitOverwrite(changed, "day_epoch"))
    assert(e.getMessage.contains("v STRING") && e.getMessage.contains("v BIGINT"),
      e.getMessage)
    assert(t.currentSnapshotId.contains(first.snapshot))
    assert(manifestNames(root) == Set(s"manifest-${first.snapshot}.json"))
    // a commit that writes no rows keeps its parent's schema, whatever
    // its frame's types
    val empty = t.commitOverwrite(changed.filter(lit(false)), "day_epoch",
      Map("0" -> PartitionLineage(first.snapshot, "ok")))
    assert(empty.schema == first.schema)
    // nullability alone is no change, nor is column order: the parent's
    // order stays, and the reordered partition reads back by name
    val nullable = days(1).withColumn("v", when(col("v") >= 0L, col("v")))
    assert(nullable.schema("v").nullable && !days(1).schema("v").nullable)
    assert(t.commitOverwrite(nullable, "day_epoch").schema == first.schema)
    val reordered = days(2).filter(col("day_epoch") === 1L).select("name", "day_epoch", "raw", "v")
    assert(t.commitOverwrite(reordered, "day_epoch").schema == first.schema)
    assert(t.read().orderBy("v").collect().map(_.get(1)).toSeq == Seq("s0", "s1", "s2", "s3"))
  }
}
