package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Sketch

/** Streaming HyperLogLog — the streaming twin of the batch cardinality
  * rollup ([[graft.ext.Sketch.hllRollup]], q150): registers are maintained
  * ACROSS micro-batches by a native streaming max-aggregation, so a
  * continuously-ingested corpus always has an up-to-date distinct-count
  * estimate without re-reading history — the incremental-maintenance story
  * the sketch family exists for.
  *
  * Semantics contract (pinned by IncrementalSpec streamed ≡ batch): after
  * consuming micro-batches B_1..B_n, the register snapshot — and therefore
  * every per-scope estimate — equals the batch rollup over B_1 ∪ … ∪ B_n
  * exactly. That is the register max-merge law doing the work: max is
  * associative, commutative and idempotent, so ANY batch split or arrival
  * order folds to the same registers (no watermark needed for correctness,
  * unlike the pair-emitting [[StreamingNearDup]]).
  *
  * Scale design: the hash → (bucket, rank) projection is the batch path's
  * exact code ([[Sketch.hllRanked]], shared so the two can never drift) and
  * runs map-side; the streaming aggregation's state is BOUNDED at
  * groups·64 six-bit registers — the one shape where Complete output mode
  * is the right answer at any scale (the state IS the sketch; there is
  * nothing to evict). The global row and the estimator run on the
  * groups·64-row snapshot after the stream drains. */
object StreamingHll {

  /** Ingest a parquet table stream (AvailableNow) and return the per-scope
    * HLL estimate snapshot — (scope, n_zero_registers, hll_estimate),
    * column-compatible with the sketch side of the batch q150 operator. */
  def runToSnapshot(spark: SparkSession, tableDir: String,
                    groupCol: String, valueCol: String,
                    queryName: String = "stream_hll",
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val hashed = FileStream.parquet(spark, tableDir, maxFilesPerTrigger).select(
      coalesce(col(groupCol).cast("string"), lit(Sketch.NullGroup)).as(groupCol),
      Sketch.hllHash(col(valueCol)).as("_h"))
    val regs = Sketch.hllRanked(hashed)
      .groupBy(col(groupCol), col("_bucket"))
      .agg(max(col("_rho")).as("_rho"))
    // complete mode: bounded key space, the state IS the sketch
    val snapshot = FileStream.toMemory(regs, queryName, "complete")
      .select(col(groupCol), col("_bucket"), col("_rho"))
    val global = snapshot.groupBy(col("_bucket")).agg(max(col("_rho")).as("_rho"))
      .withColumn(groupCol, lit(Sketch.AllGroups))
    Sketch.hllEstimateFromRegisters(
        snapshot.unionByName(global.select(col(groupCol), col("_bucket"), col("_rho"))),
        groupCol)
      .select(col(groupCol).as("scope"), col("n_zero_registers"), col("hll_estimate"))
  }
}
