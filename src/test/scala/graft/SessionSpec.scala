package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The test session is built by [[Session.local]], so it runs under the
  * mains' conf set. */
class SessionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("the test session carries the session factory's conf") {
    // a fresh session of the same context resolves graft_dot through the
    // extension alone (there is no other install path), and the
    // extension's optimizer rule is injected exactly once
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
    assert(fresh.sessionState.optimizer.extendedOperatorOptimizationRules
      .count(_ eq graft.plans.RewriteLiteralAlternationRLike) == 1)

    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // AQE's coalesce floor stays at Spark's 1 MB default: a session-wide
    // cut was measured and rejected (see Session's doc)
    assert(spark.sessionState.conf.getConf(
      SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) == 1024L * 1024L)
  }
}
