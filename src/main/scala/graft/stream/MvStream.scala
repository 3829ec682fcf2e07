package graft.stream

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.ext.Mv
import graft.util.TableDir

/** Continuous materialized-view maintenance: each micro-batch of fact rows
  * is partial-aggregated and merged into a parquet-backed aggregate view
  * via [[Mv.mergeAggregates]] — the streaming twin of the q92 batch
  * refresh (a lakehouse continuous aggregate).
  *
  * Exactly-once: unlike SCD2's idempotent merge, SUM/COUNT merges double-
  * count on re-delivery, so the view carries the last applied batch id in a
  * `_LAST_BATCH` marker INSIDE the state directory — published by the same
  * atomic rename as the data, so state and marker can never diverge. A
  * crash-replayed batch (same id) is detected and skipped; parquet readers
  * ignore `_`-prefixed files.
  *
  * Scale shape: per batch, one map-side-combined partial aggregate of ONLY
  * the new rows plus one O(groups)+O(groups) merge — the fact history is
  * never rescanned.
  */
object MvStream {

  /** Process every fact file currently in `factsDir` (parquet, schema
    * `schema`), folding `partial(batch)` into the view at `viewDir`.
    * `partial` must produce the view's exact schema (keys + summable
    * partials). `maxFilesPerTrigger = Some(1)` gives per-file batches —
    * the deterministic-replay configuration the spec exercises. */
  def runAvailableNow(spark: SparkSession, factsDir: String,
                      schema: StructType, viewDir: String,
                      checkpointDir: String, keys: Seq[String],
                      partial: DataFrame => DataFrame,
                      maxFilesPerTrigger: Option[Int] = None,
                      merge: Option[(DataFrame, DataFrame) => DataFrame] = None): Unit = {
    FileStream.foreachBatch(FileStream.parquet(spark, factsDir, schema, maxFilesPerTrigger),
        checkpointDir = Some(checkpointDir)) { (batch, batchId) =>
      applyBatch(spark, viewDir, partial(batch), keys, batchId, merge)
    }
  }

  /** Fold one batch partial into the view; a batch id at or below the
    * view's `_LAST_BATCH` marker is a crash re-delivery and is skipped.
    *
    * `merge` defaults to the SUM-partial fold ([[Mv.mergeAggregates]] on
    * `keys`) — the continuous-aggregate contract. A non-SUM mergeable
    * state (a KMV sketch's k-min set union, a MAX-register fold) supplies
    * its own (base, delta) => merged; the exactly-once marker, atomic
    * publish and crash rollback are merge-agnostic and shared. */
  def applyBatch(spark: SparkSession, viewDir: String, partial: DataFrame,
                 keys: Seq[String], batchId: Long,
                 merge: Option[(DataFrame, DataFrame) => DataFrame] = None): Unit = {
    if (lastApplied(spark, viewDir).exists(_ >= batchId)) return
    val mergeFn = merge.getOrElse(Mv.mergeAggregates(_: DataFrame, _: DataFrame, keys))
    val merged = readView(spark, viewDir).map(mergeFn(_, partial))
      .getOrElse(partial)
    // stage data + marker together, then swap them in (TableDir.publish):
    // the merge reads the state it replaces
    val (fs, p) = rolledBack(spark, viewDir)
    val (staged, aside) = TableDir.siblings(p, "mv")
    merged.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    val out = fs.create(new Path(staged, "_LAST_BATCH"), true)
    try out.write(batchId.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    TableDir.publish(fs, p, staged, aside)
  }

  // Every read first rolls an interrupted swap back (TableDir.rollBack): a
  // consistent (state, marker) pair one batch behind, which the engine
  // re-delivers and the merge re-applies.
  private def rolledBack(spark: SparkSession, viewDir: String) = {
    val p = new Path(viewDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staged, aside) = TableDir.siblings(p, "mv")
    TableDir.rollBack(fs, p, staged, aside)
    (fs, p)
  }

  def readView(spark: SparkSession, viewDir: String): Option[DataFrame] = {
    val (fs, p) = rolledBack(spark, viewDir)
    if (fs.exists(p)) Some(spark.read.parquet(viewDir)) else None
  }

  def lastApplied(spark: SparkSession, viewDir: String): Option[Long] = {
    val (fs, p) = rolledBack(spark, viewDir)
    val marker = new Path(p, "_LAST_BATCH")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }
}
