package graft

import org.scalatest.funsuite.AnyFunSuite

/** The test-side job counter itself: every job a block starts is counted,
  * including one Spark starts with no stages. */
class JobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a job over zero partitions is counted under the no-stages placeholder") {
    val sc = spark.sparkContext
    val jobs = JobCount.during(spark)(sc.emptyRDD[Int].collect())
    assert(jobs.count == 1, s"jobs: ${jobs.jobs}")
    assert(jobs.finalStages == Seq(JobCount.NoStages))

    // a job with stages keeps its result stage's name
    val one = JobCount.during(spark)(sc.parallelize(Seq(1), 1).collect())
    assert(one.count == 1 && one.finalStages.head.startsWith("collect at JobCountSpec.scala"))
  }
}
