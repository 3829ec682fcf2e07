package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. The names of the
  * queries that threw go to failed.txt (one a line, empty when none), and
  * the run exits 1 if there are any, so a partial dump never reads as a
  * passing gate. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    // optional comma-separated query filter for local iteration (same
    // convention as Bench); the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val nThreads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (n, _) => only.forall(_.contains(n)) },
      nThreads)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The query → oracle SQL map as one JSON object. Jackson escapes the
    * quotes, backslashes and control chars (tabs, CRs) of builder-authored
    * SQL, which would otherwise break the oracle's `json.load`. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(sql.asJava)

  /** Writes each query's result to `outDir/<name>` and the sorted names of
    * the queries that threw to `outDir/failed.txt`; returns those names.
    *
    * Overlaps independent dumps: queries write disjoint
    * directories and share nothing, so a small pool lets the next query's
    * plan/build fill the tail of the previous one's write — results are
    * byte-identical (each query is its own deterministic sorted dump), only
    * the gate's wall drops. The pool stays small: enough to back-fill
    * stragglers, not enough to thrash executor memory. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          queries: Seq[(String, (SparkSession, String) => DataFrame)],
                          nThreads: Int): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futs = queries.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed.add(name)
        }
      }
    }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    val names = failed.toArray(Array.empty[String]).toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/failed.txt"), names.map(_ + "\n").mkString)
    names
  }
}
