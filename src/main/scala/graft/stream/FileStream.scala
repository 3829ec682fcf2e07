package graft.stream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

/** The skeleton every `graft.stream` operator shares: a parquet file-stream
  * source, the `Trigger.AvailableNow` drain (the analog of the reference's
  * one-run-per-ObjectCreated trigger: process every file present, then
  * stop), and the per-micro-batch sinks built on it. Operators keep only
  * their own per-batch logic.
  */
object FileStream {

  /** Parquet file stream over `dir` with a known `schema`;
    * `maxFilesPerTrigger = Some(1)` gives per-file micro-batches. */
  def parquet(spark: SparkSession, dir: String, schema: StructType,
              maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** [[parquet]] with the schema inferred once from the files already in
    * `dir` (a file stream cannot infer its own). */
  def parquet(spark: SparkSession, dir: String,
              maxFilesPerTrigger: Option[Int]): DataFrame =
    parquet(spark, dir, spark.read.parquet(dir).schema, maxFilesPerTrigger)

  /** The events table as a file stream with `ts` as TIMESTAMP: nanos read
    * as long (`nanosAsLong`) become micros, exactly like
    * [[graft.util.Tables.load]]; any other physical type is cast. */
  def events(spark: SparkSession, dir: String,
             maxFilesPerTrigger: Option[Int]): DataFrame = {
    val raw = parquet(spark, dir, maxFilesPerTrigger)
    raw.withColumn("ts",
      if (raw.schema("ts").dataType == LongType) expr("timestamp_micros(ts div 1000)")
      else col("ts").cast("timestamp"))
  }

  /** Process all input available now, then return. */
  def drain(writer: DataStreamWriter[_]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** [[drain]] `stream` into the in-memory table `queryName` and return
    * that table. */
  def toMemory(stream: Dataset[_], queryName: String, outputMode: String): DataFrame = {
    drain(stream.writeStream.outputMode(outputMode).format("memory").queryName(queryName))
    stream.sparkSession.table(queryName)
  }

  /** [[drain]] `source` through `body`, called once per NON-empty
    * micro-batch with its batch id; returns how many batches it ran on.
    * `checkpointDir` makes the set of processed files durable, so a
    * re-run picks up only files that arrived since. */
  def foreachBatch(source: DataFrame, queryName: Option[String] = None,
                   checkpointDir: Option[String] = None)(
      body: (DataFrame, Long) => Unit): Int = {
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = source.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        batches.incrementAndGet()
        body(batch, batchId)
      }
    }
    val named: DataStreamWriter[Row] = queryName.fold(writer)(writer.queryName)
    drain(checkpointDir.fold(named)(named.option("checkpointLocation", _)))
    batches.get()
  }

  /** The union of `op` over every non-empty micro-batch, each result
    * materialized as it is made (a foreachBatch frame is only valid within
    * its micro-batch). With no rows at all — a legitimate state: an
    * upstream writer committed empty files — the result is `empty`, which
    * callers build with their own operator over [[emptyLike]] so its
    * schema cannot drift from the per-batch one. */
  def unionBatches(source: DataFrame, empty: => DataFrame,
                   queryName: Option[String] = None,
                   checkpointDir: Option[String] = None)(
      op: (DataFrame, Long) => DataFrame): DataFrame = {
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    foreachBatch(source, queryName, checkpointDir) { (batch, batchId) =>
      parts.add(op(batch, batchId).localCheckpoint(true))
    }
    parts.asScala.reduceOption(_ unionByName _).getOrElse(empty)
  }

  /** A row-less batch frame with `df`'s schema. */
  def emptyLike(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), df.schema)
}
