package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every SparkEntry query runs and returns rows on sf0.001, its physical
  * plan has no unpartitioned WindowExec, and every oracle key has a
  * matching query (driver-contract invariants). */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("oracleSql keys ⊆ queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      val funnels = PlanWalk.unpartitionedWindows(df.queryExecution.executedPlan)
      assert(funnels.isEmpty, s"$name has an unpartitioned WindowExec: " +
        funnels.map(_.windowExpression.mkString(", ")).mkString("; "))
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
