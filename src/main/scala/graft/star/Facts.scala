package graft.star

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** vehicle_dim (J3 + U2 upsert) and auction_fact (J4 + U1 insert-only) —
  * reference `update_dims.sql` Q:118-223. All dim lookups are broadcast
  * equi-joins over pre-normalized keys.
  */
object Facts {

  /** The J3 4-way dim resolution feeding vehicle_dim (Q:147-157). */
  def resolveVehicleAttrs(wh: Warehouse, staging: DataFrame): DataFrame = {
    val makeDim = wh.readCached("vehicle_make_dim")
      .select(trim(col("make")).as("_mk"), col("id").as("make_id"))
    val modelDim = wh.readCached("vehicle_model_dim")
      .select(col("model").as("_md"), col("make_id").as("_md_make_id"), col("id").as("model_id"))
    val bodyDim = wh.readCached("body_style_dim")
      .select(col("body_style").as("_bs"), col("id").as("body_style_id"))
    val transDim = wh.readCached("transmission_dim")
      .select(col("transmission").as("_tr"), col("id").as("transmission_id"))
    val driveDim = wh.readCached("drivetrain_dim")
      .select(col("drivetrain").as("_dr"), col("id").as("drivetrain_id"))
    staging
      .join(broadcast(makeDim), trim(col("make")) === col("_mk"), "left")
      .join(broadcast(modelDim),
        trim(col("model")) === col("_md") && col("make_id") === col("_md_make_id"), "left")
      .join(broadcast(bodyDim), trim(lower(col("body_style"))) === col("_bs"), "left")
      .join(broadcast(transDim), trim(lower(col("transmission_type"))) === col("_tr"), "left")
      .join(broadcast(driveDim), trim(upper(col("drivetrain"))) === col("_dr"), "left")
      .select(
        trim(col("vin")).as("vin"),
        col("auction_id"),
        col("make_id"), col("model_id"), col("body_style_id"),
        col("manufacture_year"), col("mileage"), col("engine"),
        col("transmission_id"), col("gears").as("gear_count"), col("drivetrain_id"),
        col("exterior_color"), col("interior_color"),
        col("title_status_cleaned").as("title_status"), col("title_state"),
        col("equipment_count"), col("mod_count"), col("flaw_count"),
        col("service_count"), col("included_items_count"))
  }

  /** U2 (Q:158-177): upsert on (vin, auction_id) — incoming wins on all
    * attributes, the existing row keeps its vehicle_id (Postgres ON CONFLICT
    * DO UPDATE preserves the PK). New rows get max(existing)+row_number.
    * [[StarLoad.run]] applies it as this merge + [[writeVehicleDim]].
    *
    * Scale shape: the incoming rows merge with the whole table, and
    * [[writeVehicleDim]] republishes it whole, so a load costs O(table). A
    * hash-bucketed layout that rewrote only the buckets holding incoming
    * keys pruned nothing at real batch sizes (1,150 keys leave a given one
    * of 64 buckets untouched with probability ≈ 1e-8) and cost a listing
    * job and a serial 64-file write per load. The `maxId` scalar agg scans
    * one column of the dim (column-pruned); fresh-key id assignment is a
    * range-shuffled sort + `zipWithIndex` (see [[assignFreshIds]]) —
    * parallel even when the fresh set is the whole fact table (initial bulk
    * load).
    *
    * Builds (and checkpoints) the merged table — every key's final row with
    * its final vehicle_id. The fact load joins this frame
    * ([[resolveFact]]), so [[StarLoad.run]] overlaps the table write
    * ([[writeVehicleDim]]) with the fact resolution instead of waiting for
    * the write and re-reading the table from disk. Returns (merged, previous
    * max vehicle_id). */
  private[graft] def mergedVehicleDim(wh: Warehouse, staging: DataFrame): (DataFrame, Long) = {
    val keys = Seq("vin", "auction_id")
    val incoming = resolveVehicleAttrs(wh, staging).withColumn("_inc", lit(1))
    // ONE read of the table feeds both the merge and the max-id fallback
    val existingDim = wh.readIfExists("vehicle_dim")
    val withIds = existingDim match {
      case None => incoming.drop("_inc")
        .withColumn("vehicle_id", lit(null).cast("long"))
      case Some(existing) =>
        val attrs = incoming.columns.filterNot(c => keys.contains(c) || c == "_inc")
        // by name: a table still in the old `_bucket=N` layout drops its
        // partition column here, and this load's write flattens it
        val old = existing.select((keys ++ attrs :+ "vehicle_id").map(col): _*)
          .withColumn("_inc", lit(0))
        val union = incoming.withColumn("vehicle_id", lit(null).cast("long"))
          .unionByName(old)
        // incoming-wins merge as ONE map-side-combinable aggregation: per
        // key (≤ 2 rows: one staged, one existing — staging is keep-newest
        // per auction_id and the table is key-unique) take the higher-_inc
        // row's attributes and the EXISTING row's vehicle_id (the PK
        // survives, ON CONFLICT DO UPDATE semantics). groupBy groups NULL
        // keys together — exactly the null-safe (<=>) matching the old
        // window + id-recovery join needed; this shape is one shuffle
        // instead of window-shuffle + join.
        union.groupBy(keys.map(col): _*)
          .agg(
            max_by(struct(attrs.map(col): _*), col("_inc")).as("_r"),
            max(when(col("_inc") === 0, col("vehicle_id"))).as("vehicle_id"))
          .select(keys.map(col) ++
            attrs.map(c => col(s"_r.$c").as(c)) :+ col("vehicle_id"): _*)
    }
    // high-water mark: known from the previous load's write observation
    // ([[writeVehicleDim]]) when this Warehouse instance did it — otherwise
    // one column-pruned scalar scan
    val maxId = existingDim
      .map(t => wh.cachedMaxId("vehicle_dim")(
        t.agg(coalesce(max(col("vehicle_id")), lit(0L))).head().getLong(0)))
      .getOrElse(0L)
    // ONE materialization (eager localCheckpoint) feeds everything below:
    // the keyed/fresh split, the id-assignment sort+zipWithIndex, and the
    // final write all read executor-local blocks instead of re-running the
    // resolution joins — and the checkpoint cuts lineage to vehicle_dim
    // before the write replaces it.
    val snapped = withIds.localCheckpoint()
    val keyed = snapped.filter(col("vehicle_id").isNotNull)
    val fresh = assignFreshIds(snapped.filter(col("vehicle_id").isNull), maxId)
    (keyed.unionByName(fresh), maxId)
  }

  /** The U2 write for [[mergedVehicleDim]]'s output: the whole table,
    * republished by [[Warehouse.overwrite]] (stage, then swap, with crash
    * roll-back). An Observation on the write records the new max vehicle_id
    * (fresh ids are assigned above the old global max, so max(prevMax, max
    * over merged) is the table's new high-water mark) — the NEXT
    * incremental load skips its max-id scan entirely. */
  private[graft] def writeVehicleDim(wh: Warehouse, merged: DataFrame,
                                     prevMax: Long): Unit = {
    val obs = org.apache.spark.sql.Observation()
    wh.overwrite("vehicle_dim", merged.observe(obs, max(col("vehicle_id")).as("m")))
    val m = Option(obs.get("m")).collect { case l: Long => l }.getOrElse(0L)
    wh.recordMaxId("vehicle_dim", math.max(prevMax, m))
  }

  /** Deterministic DISTRIBUTED fresh-id assignment: a range-shuffled global
    * sort on the natural keys, then `zipWithIndex` + maxId offset — the exact
    * total order `row_number() OVER (ORDER BY vin, auction_id)` yields, with
    * no single-partition WindowExec. On an initial bulk load the fresh set IS
    * the whole fact table, so every fresh key funnelling through one window
    * task would be the scale-killer; zipWithIndex instead costs one extra
    * (parallel, cheap) job to count per-partition sizes and keeps every
    * stage partitioned. Reference semantics: `update_dims.sql`:158-167
    * (serial nextval over ordered distinct candidates). */
  private[graft] def assignFreshIds(fresh: DataFrame, maxId: Long): DataFrame =
    Ids.assignSequentialIds(fresh.drop("vehicle_id"),
      Seq("vin", "auction_id"), "vehicle_id", maxId)

  /** J4 + U1 (Q:181-223): the 6-way star join resolving every surrogate key,
    * insert-only on auction_id. auction_time: the reference round-trips
    * epoch-millis (`TO_TIMESTAMP(auction_date/1000)`, E18); we keep
    * TimestampType end-to-end so it is auction_date unchanged.
    *
    * Join shape: the five lookup dims are broadcast-hinted; vehicle_dim is
    * NOT — it is one row per staged (vin, auction_id), i.e. fact-scale, so
    * its resolution must be free to shuffle on the key (AQE still broadcasts
    * it at small SF where it fits; PlanShapeSpec pins the degradation). */
  private[graft] def resolveFact(wh: Warehouse, staging: DataFrame,
                                 vehicleDim: Option[DataFrame] = None): DataFrame = {
    val vd = vehicleDim.getOrElse(wh.read("vehicle_dim"))
      .select(col("vin").as("_vvin"), col("auction_id").as("_vaid"), col("vehicle_id"))
    val asd = wh.readCached("auction_status_dim").select(col("status").as("_as"), col("id").as("auction_status_id"))
    val rsd = wh.readCached("reserve_status_dim").select(col("status").as("_rs"), col("id").as("reserve_status_id"))
    val sd = wh.readCached("state_dim").select(col("state_abbr").as("_sa"), col("id").as("auction_state"))
    val cd = wh.readCached("city_dim")
      .select(col("city_name").as("_cn"), col("state_id").as("_cs"), col("id").as("auction_city"))
    val std = wh.readCached("seller_type_dim").select(col("seller_type").as("_st"), col("id").as("seller_type_id"))

    staging.filter(col("auction_id").isNotNull)
      .join(vd,
        trim(col("vin")) === col("_vvin") && col("auction_id") === col("_vaid"), "left")
      .join(broadcast(asd), trim(lower(col("auction_status"))) === col("_as"), "left")
      .join(broadcast(rsd), trim(lower(col("reserve_status"))) === col("_rs"), "left")
      .join(broadcast(sd), trim(upper(col("title_state"))) === col("_sa"), "left")
      .join(broadcast(cd),
        trim(col("city")) === col("_cn") && col("auction_state") === col("_cs"), "left")
      .join(broadcast(std), trim(lower(col("seller_type"))) === col("_st"), "left")
      .select(
        col("auction_id"),
        col("auction_date").as("auction_time"),
        col("vehicle_id"),
        col("auction_status_id").as("auction_status"),
        col("reserve_status_id").as("reserve_status"),
        col("auction_state"),
        col("auction_city"),
        col("seller_type_id").as("seller_type"),
        col("view_count"), col("watcher_count"), col("bid_count"),
        col("max_bid"), col("min_bid"), col("mean_bid"), col("median_bid"),
        col("bid_range"), col("bids"),
        col("highlight_count"), col("video_count"),
        col("auction_title"), col("auction_subtitle"), col("auction_url"))
  }

  /** `vehicleDim`: an in-memory sufficient join side (all currently-staged
    * keys) from [[mergedVehicleDim]]; None reads the table from disk. */
  def insertAuctionFact(wh: Warehouse, staging: DataFrame,
                        vehicleDim: Option[DataFrame] = None): Long = {
    val resolved = resolveFact(wh, staging, vehicleDim)
    val newRows = wh.readIfExists("auction_fact") match {
      case Some(f) => resolved.join(f.select("auction_id"), Seq("auction_id"), "left_anti")
      case None => resolved
    }
    // count + append fused into one action (Observation on the write plan):
    // the 6-way resolution + anti-join run exactly once, unpersisted
    wh.appendCounted("auction_fact", newRows)
  }
}
