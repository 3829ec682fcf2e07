package graft.star

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.CleanExprs.normKey

/** The per-dim load chains (reference `update_dims.sql` Q:8-114), one
  * DISTINCT + anti-join + id assignment + append per dim. The fused passes
  * in [[Dims]] replace them in the load; they are kept here as the
  * reference those passes must reproduce (StarLoadSpec "fused dim loads ≡
  * per-dim loads") and for the U1 property (PropertySpec).
  *
  * Scale note: the insert-only pattern is a `left_anti` join against the
  * existing dim — broadcast when small; fresh ids come from the distributed
  * sort+zipWithIndex shape ([[Ids.assignSequentialIds]]), so even a
  * pathological dim (city_dim on a dirty corpus) never funnels through a
  * single-partition window.
  */
object PerDimLoads {


  /** U1: append `candidates` (distinct, non-null key tuples) that aren't in
    * `table` yet, with surrogate ids. Returns rows appended. */
  def insertOnlyNew(wh: Warehouse, table: String, candidates: DataFrame,
                    keys: Seq[String], idCol: String = "id"): Long = {
    val existing = wh.readIfExistsCached(table)
    val newRows = existing match {
      case Some(e) =>
        // NULL-SAFE anti-join (<=>): compound dim keys carry nulls (city
        // with unknown state, model with missing make). A plain key-list
        // anti-join never matches NULL = NULL, so every incremental load
        // would re-insert each null-keyed row under a fresh id — shifting
        // every later surrogate id (caught at sf0.1: 19 duplicated
        // (model, NULL) pairs after q49's second load). The DuckDB oracle
        // was already IS NOT DISTINCT FROM.
        val ex = e.select(keys.map(c => col(c).as(s"_e_$c")): _*)
        candidates.join(broadcast(ex),
          keys.map(k => col(k) <=> col(s"_e_$k")).reduce(_ && _), "left_anti")
      case None => candidates
    }
    val maxId: Long = existing match {
      case Some(e) => wh.cachedMaxId(table)(
        e.agg(coalesce(max(col(idCol)), lit(0L)).as("m")).head().getLong(0))
      case None => 0L
    }
    // count + append fused into one action (Observation on the write plan);
    // the anti-join's shuffle map stages are shared between zipWithIndex's
    // size job and the write (stage reuse), so it still runs exactly once
    val assigned = Ids.assignSequentialIds(newRows, keys, idCol, maxId)
      .select((idCol +: keys).map(col): _*)
    val appended = wh.appendCounted(table, assigned)
    wh.recordMaxId(table, maxId + appended)
    appended
  }

  /** A1+U1: the six single-column dims (Q:8-69). mode per reference:
    * lower for status/reserve/body/seller/transmission, upper for
    * drivetrain. */
  def loadSimpleDim(wh: Warehouse, staging: DataFrame, table: String,
                    srcCol: String, keyName: String, mode: String = "lower"): Long = {
    val candidates = staging
      .filter(col(srcCol).isNotNull)
      .select(normKey(col(srcCol), mode).as(keyName))
      .distinct()
    insertOnlyNew(wh, table, candidates, Seq(keyName))
  }

  /** city_dim (Q:73-86): DISTINCT (trim(city), state_id) via the J1
    * disjunctive state lookup (scale-safe rewrite, [[Joins]]). */
  def loadCityDim(wh: Warehouse, staging: DataFrame): Long = {
    val withState = Joins.disjunctiveLeftRewrite(
      staging.filter(col("city").isNotNull)
        .select(trim(col("city")).as("city_name"), col("title_state")),
      wh.readCached("state_dim"), col("title_state"))
    val candidates = withState.select(col("city_name"), col("state_id")).distinct()
    insertOnlyNew(wh, table = "city_dim", candidates, keys = Seq("city_name", "state_id"))
  }

  /** vehicle_make_dim (Q:92-100). */
  def loadMakeDim(wh: Warehouse, staging: DataFrame): Long = {
    val candidates = staging.filter(col("make").isNotNull)
      .select(trim(col("make")).as("make")).distinct()
    insertOnlyNew(wh, "vehicle_make_dim", candidates, Seq("make"))
  }

  /** vehicle_model_dim (Q:104-114): J2 — normalize the make key BEFORE the
    * join so it stays an equi-join (broadcast-hash, not BNLJ). */
  def loadModelDim(wh: Warehouse, staging: DataFrame): Long = {
    val makeDim = wh.readCached("vehicle_make_dim")
      .select(trim(col("make")).as("_mk"), col("id").as("make_id"))
    val candidates = staging.filter(col("model").isNotNull)
      .select(trim(col("model")).as("model"), trim(col("make")).as("_mk"))
      .join(broadcast(makeDim), Seq("_mk"), "left")
      .select(col("model"), col("make_id"))
      .distinct()
    insertOnlyNew(wh, "vehicle_model_dim", candidates, Seq("model", "make_id"))
  }

  /** The Q:8-69 simple-dim batch, in reference order. */
  def loadAllSimple(wh: Warehouse, staging: DataFrame): Unit = {
    loadSimpleDim(wh, staging, "auction_status_dim", "auction_status", "status")
    loadSimpleDim(wh, staging, "reserve_status_dim", "reserve_status", "status")
    loadSimpleDim(wh, staging, "body_style_dim", "body_style", "body_style")
    loadSimpleDim(wh, staging, "seller_type_dim", "seller_type", "seller_type")
    loadSimpleDim(wh, staging, "drivetrain_dim", "drivetrain", "drivetrain", mode = "upper")
    loadSimpleDim(wh, staging, "transmission_dim", "transmission_type", "transmission")
  }
}
