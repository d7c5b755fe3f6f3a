package graft.codec

import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-side codec surface: native decode expression, SQL
  * registration via GraftExtensions, aggregator round-trip under
  * repartitioning, compression ratio on stored blocks.
  */
class GorillaSparkSpec extends AnyFunSuite with SparkSuite {

  test("udaf encode + native decode expression round-trips a DataFrame") {
    import spark.implicits._
    val pts = (0 until 1000)
      .map(i => (i % 7L, 1700000000L + 300L * i, 20.0 + (i % 13)))
      .toDF("series", "ts_epoch", "value")
    val back = GorillaAgg.roundTrip(pts.repartition(11), Seq("series"),
                                    "ts_epoch", "value")
    assert(back.count() == 1000)
    assert(pts.exceptAll(back).isEmpty &&
           back.exceptAll(pts.select("series", "ts_epoch", "value")).isEmpty)
  }

  test("gorilla_decode is registered as a SQL function by GraftExtensions") {
    // getOrCreate would silently return the shared suite session (and
    // ignore withExtensions) while a default session exists — detach it
    // first so this builder really creates an isolated session.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      val block = Gorilla.encode(Array(100L, 400L, 700L), Array(1.5, 1.5, 2.5))
      Seq(Tuple1(block)).toDF("block").createOrReplaceTempView("blocks")
      val rows = s2.sql(
        """SELECT pt.ts_epoch, pt.value
          |FROM blocks LATERAL VIEW explode(gorilla_decode(block)) t AS pt
          |ORDER BY pt.ts_epoch""".stripMargin).collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
             Seq((100L, 1.5), (400L, 1.5), (700L, 2.5)))
      // the other registered kernel: graft_dot(array<double>, array<double>)
      Seq((Array(1.0, 2.0, 4.0), Array(3.0, 0.5, 0.25)))
        .toDF("a", "b").createOrReplaceTempView("vecs")
      assert(s2.sql("SELECT graft_dot(a, b) FROM vecs").head().getDouble(0) == 5.0)
    } finally {
      // do NOT stop s2: it shares the one SparkContext per JVM with the
      // suite session — stopping it would kill every later test. Just
      // restore the shared session as default/active.
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("decode expression propagates null blocks") {
    import spark.implicits._
    val df = Seq(Tuple1(null: Array[Byte])).toDF("block")
    val out = df.select(GorillaAgg.gorillaDecode(col("block")).as("pts"))
      .collect()
    assert(out.head.isNullAt(0))
  }

  test("stored blocks compress regular series well below raw size") {
    import spark.implicits._
    val n = 2880 // one day of 30s cadence
    val pts = (0 until n)
      .map(i => (1L, 1700000000L + 30L * i, 100.0 + (i % 5)))
      .toDF("series", "ts_epoch", "value")
    val block = pts.groupBy("series")
      .agg(GorillaAgg.gorillaEncode(col("ts_epoch"), col("value")).as("b"))
      .select(length(col("b"))).head().getInt(0)
    assert(block < n * 16 / 5, s"block $block bytes vs raw ${n * 16}")
  }
}
