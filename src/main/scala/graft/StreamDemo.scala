package graft

import java.nio.file.{Files, Paths}

/** Streaming demo: event-time tumbling-window aggregation over the events
  * table via Structured Streaming, compared against the batch twin (q19).
  * Usage: runMain graft.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Session.local()

    // file-stream sources need a directory: link the single-file table in
    val streamDir = Files.createTempDirectory("graft_stream_demo")
    Files.createSymbolicLink(streamDir.resolve("events.parquet"),
      Paths.get(s"$sfDir/events.parquet"))

    val snapshot = graft.stream.WindowedCounts.runToSnapshot(spark, streamDir.toString)
    val batch = graft.queries.ExprQueries.q19TumblingWindow(spark, sfDir)
    println(s"stream_buckets=${snapshot.count()}")
    println(s"batch_buckets=${batch.count()}")
    snapshot.orderBy("bucket", "event_type").show(5, truncate = false)
    spark.stop()
  }
}
