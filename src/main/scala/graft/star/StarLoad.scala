package graft.star

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.etl.Silver
import graft.schema.Schemas

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.util.Exec

/** The warehouse load, end-to-end (reference `load_lambda/main.py:83-113` +
  * `update_dims.sql`): staging truncate-insert (U3), then the 11-statement
  * star population in dependency order (SURVEY.md §3.3) — independent simple
  * dims → city (needs state) → make → model (needs make) → vehicle (needs 4
  * dims, upsert U2) → fact (needs everything, insert-only U1).
  *
  * The reference's single Postgres transaction becomes write ordering over
  * idempotent steps (U1 anti-join / U2 keyed upsert make re-runs safe —
  * SURVEY.md §4). The load never touches session conf, so it is safe to run
  * next to other queries on a shared session.
  */
object StarLoad {

  // dedicated pool, NOT ExecutionContext.global — see graft.util.Exec
  private implicit val ec: ExecutionContext = Exec.loadEc

  /** U3 + P5 + A4 (L:84-107): the 45 warehouse columns, keep-newest per
    * auction_id, PERSISTED (MEMORY_AND_DISK) — every load step reads this
    * frame, never the staging TABLE back. */
  private def stagedFrame(processed: DataFrame): DataFrame =
    Silver.keepNewest(processed.select(Schemas.insertColumns.map(col): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Full star load from a processed/silver frame. `staging` is cached for
    * the duration — all 11 load steps scan it, and at warehouse scale
    * re-reading the staging table per step is the dominant repeated cost.
    *
    * The dim phase is TWO fused passes: the seven single-key dims (six
    * simple + make) in one staging scan ([[Dims.loadSimpleDimsFused]]),
    * then city + model, the two compound-key dims, in a second
    * ([[Dims.loadCompoundDimsFused]], which must see the just-loaded make
    * dim). The vehicle + fact tail follows; the staging TABLE dump overlaps
    * only that tail.
    *
    * In local mode the load is bound by driver round-trips, not data. A
    * repeat load through the same [[Warehouse]] runs no schema-inference
    * job (schemas are remembered per table), appends only the dims that
    * gained rows (an unchanged dim keeps its cached frame and high-water
    * mark), and republishes vehicle_dim whole as one unpartitioned table,
    * so reading it back starts no file-listing job. */
  def run(wh: Warehouse, processed: DataFrame): Unit = {
    StateSeed.ensureSeeded(wh)
    val staging = stagedFrame(processed)
    try {
      // the dim phase runs first and alone: its first action fills the
      // staging cache. Spark's block cache has no per-partition compute
      // lock, so jobs started on a cold cache each recompute the
      // keepNewest window (measured 2× load wall time at local[32]); the
      // staging dump therefore starts only once the cache is warm
      Dims.loadSimpleDimsFused(wh, staging)
      Dims.loadCompoundDimsFused(wh, staging)
      // the staging TABLE dump (U3 semantics) overlaps the vehicle+fact
      // tail; every load step reads the cached frame, never the table
      val stagingWrite = Future(wh.overwrite("staging", staging))
      // the fact's vehicle resolution consumes the merged in-memory frame
      // (see Facts.mergedVehicleDim) while the vehicle_dim rewrite streams
      // to disk
      val (mergedVehicle, prevMax) = Facts.mergedVehicleDim(wh, staging)
      val vehicleWrite = Future(Facts.writeVehicleDim(wh, mergedVehicle, prevMax))
      Facts.insertAuctionFact(wh, staging, Some(mergedVehicle))
      Await.result(vehicleWrite, Duration.Inf)
      Await.result(stagingWrite, Duration.Inf)
    } finally {
      staging.unpersist()
      ()
    }
  }
}
