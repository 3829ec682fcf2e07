package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump must name every query that threw: `Verify.main`
  * exits 1 on a non-empty list, so a partial dump never passes as green. */
class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q(f: SparkSession => DataFrame): (SparkSession, String) => DataFrame =
    (s, _) => f(s)

  test("dump writes the passing queries and lists the failing ones in failed.txt") {
    val out = Files.createTempDirectory("graft_verify").toString
    val failed = Verify.dump(spark, "unused", out, Seq(
      "ok" -> q(_.range(2).toDF()),
      "throws" -> q(_ => throw new IllegalStateException("no plan")),
      "bad_column" -> q(_.range(1).selectExpr("no_such_column"))), nThreads = 2)
    assert(failed == Seq("bad_column", "throws"))
    assert(Files.readString(Paths.get(out, "failed.txt")) == "bad_column\nthrows\n")
    assert(spark.read.parquet(s"$out/ok").count() == 2L)

    // a clean run leaves an empty list, not the previous run's
    assert(Verify.dump(spark, "unused", out, Seq("ok" -> q(_.range(3).toDF())), 1).isEmpty)
    assert(Files.readString(Paths.get(out, "failed.txt")).isEmpty)
  }
}
