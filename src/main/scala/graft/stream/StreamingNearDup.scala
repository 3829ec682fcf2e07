package graft.stream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ext.Dedup

import scala.annotation.unused

/** Streaming NEAR-dup ingest — the streaming twin of the batch cross-corpus
  * LSH operator ([[graft.ext.Dedup.crossCorpusCandidates]], q90): every new
  * crawl micro-batch is checked against ALL prior batches' MinHash
  * signatures, by keeping per-band-key state of previously seen doc ids.
  *
  * Semantics contract (pinned by IncrementalSpec streamed ≡ batch): a doc in
  * micro-batch B_i emits a candidate pair (new_id, ref_id) for every
  * PRIOR-batch doc (B_1..B_{i-1}) sharing an LSH band — exactly
  * `crossCorpusCandidates(B_i, B_1 ∪ … ∪ B_{i-1})` — and never pairs
  * against its own batch (the batch operator's no-self-pairing rule;
  * within-batch pairs belong to the batch self-join, not ingest).
  *
  * Scale design: signatures and band keys are map-side kernel projections
  * (the batch path's exact code — [[Dedup.minhashSignature]] +
  * [[Dedup.bandKeys]], shared so the two can never drift); the only shuffle
  * is the groupByKey on the 32-hex band key, the same key the batch join
  * shuffles on. State per band is the doc-id list of its members —
  * watermark-bounded: a band group that stays quiet past `watermarkDelay`
  * times out and is evicted, so state holds the HORIZON's bands, never the
  * corpus's (the [[StreamingDedup]] trade: suppression/pairing beyond the
  * horizon belongs to the batch operator).
  *
  * Eviction clock: pass `eventTimeCol` (a timestamp column of the source)
  * to make the watermark — and hence the horizon — true EVENT time, so a
  * replay of historical data evicts exactly as the live run did. Without
  * it the watermark column falls back to `current_timestamp()` at ingest,
  * i.e. PROCESSING time: correct pairing either way (pairing never reads
  * the clock), but on a replay all batches share one wall-clock arrival,
  * so nothing ages out mid-replay — the horizon is "since ingest", not
  * "since the document's own timestamp".
  */
object StreamingNearDup {

  /** Per-band pairing against prior-batch members. `stateTtlMs` must be the
    * millisecond equivalent of `watermarkDelay`. */
  private def pairFn(stateTtlMs: Long)(
      @unused band: String, rows: Iterator[Row],
      state: GroupState[Seq[Long]]): Iterator[(Long, Long)] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val batch = rows.toSeq
      val prior = state.getOption.getOrElse(Seq.empty)
      val ids = batch.map(_.getLong(0)).distinct
      val out = for (n <- ids; r <- prior) yield (n, r)
      state.update((prior ++ ids).distinct)
      // evict the whole band once the watermark passes its last activity +
      // TTL; EventTimeTimeout keys the clock to the stream's watermark so
      // replays behave identically
      val maxEvent = batch.map(_.getTimestamp(2).getTime).max
      state.setTimeoutTimestamp(maxEvent + stateTtlMs)
      out.iterator
    }
  }

  /** Ingest a parquet document stream (AvailableNow) and emit, per
    * micro-batch, the candidate near-dup pairs of that batch against all
    * prior batches. Returns the distinct (new_id, ref_id) snapshot —
    * column-compatible with the batch q90 operator. */
  def runToSnapshot(spark: SparkSession, docsDir: String,
                    queryName: String = "stream_neardup",
                    watermarkDelay: String = "1 hour",
                    stateTtlMs: Long = 3600L * 1000,
                    maxFilesPerTrigger: Option[Int] = None,
                    numHashes: Int = 8, bands: Int = 2,
                    eventTimeCol: Option[String] = None): DataFrame = {
    import spark.implicits._
    val raw = FileStream.parquet(spark, docsDir, maxFilesPerTrigger)
    // event-time watermark when the source carries one; processing-time
    // (ingest wall clock) fallback otherwise — see the eviction-clock note.
    // The clock column rides through the SHARED signature/band projections
    // via carryCols (no streaming fork of the batch kernels, no
    // stream-stream re-join).
    val clock = eventTimeCol.map(c => col(c).cast("timestamp"))
      .getOrElse(current_timestamp())
    val sig = Dedup.minhashSignature(raw.withColumn("_arrival", clock),
      "doc_id", "text", numHashes, carryCols = Seq("_arrival"))
    val banded = Dedup.bandKeys(sig, "doc_id", numHashes, bands,
        carryCols = Seq("_arrival"))
      .withWatermark("_arrival", watermarkDelay)
    val pairs = banded
      .groupByKey(_.getString(1)) // band column of (doc_id, band, _arrival)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        pairFn(stateTtlMs) _)
      .toDF("new_id", "ref_id")
    // one emission per SHARED band — collapse to the batch operator's
    // distinct-pair contract
    FileStream.toMemory(pairs, queryName, "append")
      .select(col("new_id"), col("ref_id")).distinct()
  }
}
