package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: the flagship smoke, registry consistency,
  * and oracle/query key alignment (a typo'd key would silently drop a
  * correctness check).
  */
class QueriesSpec extends AnyFunSuite with SparkSuite {

  test("flagship entry returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a registered query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("registry keys are unique and all queries carry an oracle") {
    val names = Queries.all.map(_._1)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    val noOracle = Queries.all.collect { case (n, QueryDef(_, None)) => n }
    assert(noOracle.isEmpty,
      s"queries without oracle (weaker rows-only check): $noOracle")
  }

  test("bench query list only references registered queries") {
    val qs = SparkEntry.queries.keySet
    val missing = Bench.benchQueries.filterNot(qs.contains)
    assert(missing.isEmpty, s"bench references unknown queries: $missing")
  }

  test("every bench query runs on sf0.001 (Bench times a failure as a sample)") {
    val failed = Bench.benchQueries.flatMap { name =>
      spark.catalog.clearCache()
      try { SparkEntry.queries(name)(spark, sfDir).count(); None }
      catch { case e: Exception => Some(s"$name: $e") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}
