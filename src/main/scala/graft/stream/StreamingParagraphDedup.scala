package graft.stream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ext.Dedup

import scala.annotation.unused

/** Streaming paragraph dedup — the streaming twin of the batch CCNet-style
  * block dedup ([[graft.ext.Dedup.paragraphDedup]], q177): documents arrive
  * in micro-batches, every 20-word block is checked against per-block-hash
  * state, and only the FIRST occurrence of each block survives.
  *
  * Semantics contract (pinned by IncrementalSpec streamed ≡ batch): when
  * arrival order follows the batch keeper order (ascending (doc, position)
  * — the [[StreamingDedup]] ingest contract), the streamed keep decisions
  * equal the batch operator's global min(struct(doc, position)) keeper
  * exactly, and the per-doc report (block count, removals, kept-text md5)
  * is the SAME rollup code ([[Dedup.rollupParagraphBlocks]] — shared, so
  * the two reports can never drift). Within one micro-batch the keeper is
  * the batch-local minimum, so a batch boundary never changes a verdict.
  * ACROSS micro-batches the rule is keep-FIRST-ARRIVAL: an existing keeper
  * is never displaced, so even when the ingest contract is violated (a
  * later batch carries a smaller (doc, bi) for a seen block) the output
  * holds exactly ONE kept=true row per block hash — the violation shows up
  * as a keeper that differs from batch's global min, never as a duplicate
  * kept row (IncrementalSpec pins this with a descending two-file stream).
  *
  * Scale design: block slicing is the shared map-side builder
  * ([[Dedup.wordBlocks]] — no streaming fork of the batch kernel); the
  * only shuffle is the groupByKey on the 32-hex block hash — the same key
  * the batch keeper aggregation shuffles on. State per hash is ONE
  * (doc, position) pair, watermark-bounded: a block hash quiet past
  * `watermarkDelay` evicts, so state holds the horizon's blocks, never the
  * corpus's (suppression beyond the horizon belongs to the batch
  * operator — the StreamingNearDup trade, stated, not hidden).
  */
object StreamingParagraphDedup {

  /** Keep-first per block hash. State = the reigning (doc, bi) keeper. */
  private def keepFn(stateTtlMs: Long)(
      @unused hash: String, rows: Iterator[Row],
      state: GroupState[(Long, Long)]): Iterator[(Long, Long, String, Boolean)] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val batch = rows.toSeq
      // row layout: (doc_id, bi, block, _h, _arrival)
      val members = batch.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val batchMin = members.map(m => (m._1, m._2)).min
      // Pure keep-FIRST-ARRIVAL (ADVICE r14): once a keeper has been
      // emitted kept=true in an earlier micro-batch it stays keeper —
      // adopting a later, smaller-keyed arrival would emit a SECOND
      // kept=true row for the same block hash (the prior one is already
      // in the output and append mode cannot retract it). Under the
      // ascending-(doc, bi) ingest contract prior ≤ batchMin always, so
      // first-arrival and global-min coincide and streamed ≡ batch holds;
      // on a contract violation the invariant "exactly one kept row per
      // block hash" now survives instead of silently breaking.
      val keeper = state.getOption.getOrElse(batchMin)
      state.update(keeper)
      val maxEvent = batch.map(_.getTimestamp(4).getTime).max
      state.setTimeoutTimestamp(maxEvent + stateTtlMs)
      members.iterator.map { case (d, b, t) =>
        (d, b, t, (d, b) == keeper)
      }
    }
  }

  /** Ingest a parquet document stream (AvailableNow) and return the same
    * per-doc dedup report the batch operator emits over the union of all
    * micro-batches. */
  def runToSnapshot(spark: SparkSession, docsDir: String,
                    queryName: String = "stream_paradedup",
                    blockWords: Int = 20,
                    watermarkDelay: String = "1 hour",
                    stateTtlMs: Long = 3600L * 1000,
                    maxFilesPerTrigger: Option[Int] = None,
                    eventTimeCol: Option[String] = None): DataFrame = {
    import spark.implicits._
    val raw = FileStream.parquet(spark, docsDir, maxFilesPerTrigger)
    val clock = eventTimeCol.map(c => col(c).cast("timestamp"))
      .getOrElse(current_timestamp())
    val blocks = Dedup.wordBlocks(raw, "doc_id", "text", blockWords)
      .withColumn("_h", md5(col("block").cast("binary")))
      .withColumn("_arrival", clock)
      .withWatermark("_arrival", watermarkDelay)
      .select(col("doc_id"), col("bi").cast("long").as("bi"), col("block"),
        col("_h"), col("_arrival"))
    val marked = blocks
      .groupByKey(_.getString(3))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(keepFn(stateTtlMs) _)
      .toDF("doc_id", "bi", "block", "_kept")
    Dedup.rollupParagraphBlocks(FileStream.toMemory(marked, queryName, "append"))
  }
}
