package graft.star

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.CleanExprs.normKey

/** Dimension loads (reference `update_dims.sql` Q:8-114): DISTINCT over a
  * normalized key (A1/A2), insert-only-new (U1, `ON CONFLICT DO NOTHING`),
  * surrogate ids continued from the existing max — `row_number` over the new
  * keys plus max(existing id), never `monotonically_increasing_id`
  * (SURVEY.md §7.5 #5: ids must be stable across incremental loads).
  *
  * Scale note: the insert-only pattern is a `left_anti` join against the
  * existing dim — broadcast when small; fresh ids come from the distributed
  * sort+zipWithIndex shape ([[Ids.assignSequentialIds]]), so even a
  * pathological dim (city_dim on a dirty corpus) never funnels through a
  * single-partition window.
  */
object Dims {

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

  /** (table, staging column, dim key column, normKey mode) for every
    * single-string-key dim — the six Q:8-69 simple dims plus
    * vehicle_make_dim (Q:92-100, mode "none" = trim only). */
  val SimpleDimSpecs: Seq[(String, String, String, String)] = Seq(
    ("auction_status_dim", "auction_status", "status", "lower"),
    ("reserve_status_dim", "reserve_status", "status", "lower"),
    ("body_style_dim", "body_style", "body_style", "lower"),
    ("seller_type_dim", "seller_type", "seller_type", "lower"),
    ("drivetrain_dim", "drivetrain", "drivetrain", "upper"),
    ("transmission_dim", "transmission_type", "transmission", "lower"),
    ("vehicle_make_dim", "make", "make", "none"))

  /** A fused dim's delta is appended only when it has rows, or when the
    * table does not exist yet (the empty append creates it with its schema).
    * Skipping an empty append keeps the dim's read cache and high-water mark
    * valid and adds no empty part file per load — the Parquet counterpart of
    * an `ON CONFLICT DO NOTHING` upsert that finds nothing new. */
  private def needsAppend(wh: Warehouse, table: String, counts: Map[String, Long]): Boolean =
    counts.getOrElse(table, 0L) > 0 || !wh.exists(table)

  /** The seven single-key dim loads FUSED into one pass: one staging scan
    * produces every (dim, key) candidate (explode of a 7-struct array —
    * map-side, no extra shuffle width), one DISTINCT, one broadcast
    * anti-join against the tagged union of the existing dims, one
    * dim-partitioned row_number for ids, then one concurrent wave of
    * appends of the cached delta frame — one per dim that gained rows.
    *
    * Replaces seven independent DISTINCT+anti-join+zipWithIndex+append
    * chains (~2-3 driver actions and a full staging scan EACH): at
    * warehouse scale the staging scan dominates and runs ONCE here; in
    * local/bench mode the action count drops ~14 → 1-8 (the fused
    * count/collect plus one tiny cached write per changed dim). Ids are
    * identical to the per-dim path: row_number over the same per-dim key
    * order, offset by the same per-dim max — the window is partitioned by
    * dim (never the single-partition no-partition form). Per-dim semantics
    * unchanged from [[loadSimpleDim]]/[[insertOnlyNew]] (reference
    * `update_dims.sql`:8-100).
    * Returns rows appended per table. */
  def loadSimpleDimsFused(wh: Warehouse, staging: DataFrame): Map[String, Long] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // dedicated pool, NOT ExecutionContext.global — see graft.util.Exec
    implicit val ec: scala.concurrent.ExecutionContext = graft.util.Exec.loadEc
    val specs = SimpleDimSpecs
    // candidates: normKey is null-preserving in both directions, so
    // filtering the normalized key ≡ the per-dim source-col isNotNull filter
    val entries = specs.map { case (table, src, _, mode) =>
      struct(lit(table).as("_dim"), normKey(col(src), mode).as("_key")) }
    val tagged = staging
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e._dim").as("_dim"), col("e._key").as("_key"))
      .filter(col("_key").isNotNull)
      .distinct()
    // existing keys+ids, tagged and unioned — each dim is tiny and cached
    val existing = specs.flatMap { case (table, _, key, _) =>
      wh.readIfExistsCached(table).map(df => df.select(
        lit(table).as("_dim"), col(key).as("_key"), col("id").as("_id"))) }
    // simple-dim keys are never null (candidates are isNotNull-filtered and
    // existing rows were once candidates), so the plain equi anti-join is
    // exactly the null-safe one here
    val newRows = existing.reduceOption(_ unionByName _) match {
      case Some(ex) =>
        tagged.join(broadcast(ex.select(col("_dim"), col("_key"))),
          Seq("_dim", "_key"), "left_anti")
      case None => tagged
    }
    // per-dim id offsets: cached high-water marks where known; ALL misses
    // computed in one fused max-agg action instead of one scalar agg each
    val missing = specs.collect {
      case (table, _, key, _) if wh.exists(table) && wh.peekMaxId(table).isEmpty =>
        (table, key) }
    if (missing.nonEmpty) {
      val ex = missing.map { case (table, key) =>
        wh.readCached(table).select(lit(table).as("_dim"), col("id").as("_id")) }
      ex.reduce(_ unionByName _)
        .groupBy(col("_dim")).agg(coalesce(max(col("_id")), lit(0L)).as("m"))
        .collect()
        .foreach(r => wh.recordMaxId(r.getString(0), r.getLong(1)))
      // a table can exist with zero rows (empty append) — groupBy yields no
      // row for it; record 0 so the offset lookup below never recomputes
      missing.foreach { case (t, _) =>
        if (wh.peekMaxId(t).isEmpty) wh.recordMaxId(t, 0L) }
    }
    val offsets = specs.map { case (table, _, _, _) =>
      table -> (if (wh.exists(table)) wh.cachedMaxId(table)(0L) else 0L) }.toMap
    val offExpr = specs.map { case (table, _, _, _) =>
      when(col("_dim") === table, lit(offsets(table))) }.reduce(coalesce(_, _))
    // BOUNDED-KEY CONTRACT: this window funnels each dim's NEW keys through
    // one task per dim — deliberate and safe ONLY because dim key domains
    // are vocabulary-sized (makes, transmissions, statuses… ≤ tens of
    // thousands by construction), so the per-task row count is bounded
    // regardless of fact volume. Do NOT reuse this id-assignment shape for
    // a corpus-scale key domain — that needs zipWithIndex-style per-
    // partition offsets instead.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_dim")).orderBy(col("_key").asc_nulls_last)
    val assigned = newRows
      .withColumn("id", row_number().over(w).cast("long") + offExpr)
      .persist()
    try {
      // ONE action materializes the fused delta and yields per-dim counts
      val counts = assigned.groupBy(col("_dim")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // appends of the now-cached tiny delta, concurrently; empty deltas
      // of existing dims are skipped (see needsAppend)
      val wave = specs.filter { case (table, _, _, _) => needsAppend(wh, table, counts) }
        .map { case (table, _, keyName, _) => Future {
          wh.append(table, assigned.filter(col("_dim") === table)
            .select(col("id"), col("_key").as(keyName)))
          // append invalidated the high-water mark; re-record the known value
          wh.recordMaxId(table, offsets(table) + counts.getOrElse(table, 0L))
        } }
      Await.result(Future.sequence(wave), Duration.Inf)
      specs.map { case (table, _, _, _) =>
        table -> counts.getOrElse(table, 0L) }.toMap
    } finally {
      assigned.unpersist()
      ()
    }
  }

  /** city_dim + vehicle_model_dim FUSED the same way: both are DISTINCT
    * over a (string, nullable-long) compound key whose long side comes from
    * a broadcast lookup (state for city — the J1 disjunctive rewrite; make
    * for model), so one staging scan carries both lookups and explodes both
    * candidate structs. Must run AFTER [[loadSimpleDimsFused]] (model ids
    * resolve against the just-loaded make dim). The anti-join is null-safe
    * on the long key (city with unknown state / model with missing make —
    * the U1 `<=>` semantics); ids replay each dim's
    * `row_number OVER (ORDER BY k1 ASC NULLS LAST, k2 ASC NULLS LAST)`.
    * Reference `update_dims.sql`:73-86 (city), :104-114 (model). */
  def loadCompoundDimsFused(wh: Warehouse, staging: DataFrame): Map[String, Long] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // dedicated pool, NOT ExecutionContext.global — see graft.util.Exec
    implicit val ec: scala.concurrent.ExecutionContext = graft.util.Exec.loadEc
    val specs = Seq(("city_dim", "city_name", "state_id"),
      ("vehicle_model_dim", "model", "make_id"))
    val withState = Joins.disjunctiveLeftRewrite(
      staging.select(col("city"), col("title_state"), col("model"), col("make")),
      wh.readCached("state_dim"), col("title_state"))
    val withLookups = wh.readIfExistsCached("vehicle_make_dim") match {
      case Some(mk) => withState.join(
        broadcast(mk.select(trim(col("make")).as("_mk"), col("id").as("_make_id"))),
        trim(col("make")) === col("_mk"), "left")
      case None => withState.withColumn("_make_id", lit(null).cast("long"))
    }
    val entries = Seq(
      struct(lit("city_dim").as("_dim"), trim(col("city")).as("_k1"),
        col("state_id").as("_k2")),
      struct(lit("vehicle_model_dim").as("_dim"), trim(col("model")).as("_k1"),
        col("_make_id").as("_k2")))
    val tagged = withLookups.select(explode(array(entries: _*)).as("e"))
      .select(col("e._dim").as("_dim"), col("e._k1").as("_k1"), col("e._k2").as("_k2"))
      .filter(col("_k1").isNotNull) // ≡ the per-dim source-col isNotNull filter
      .distinct()
    val existing = specs.flatMap { case (table, k1, k2) =>
      wh.readIfExistsCached(table).map(df => df.select(
        lit(table).as("_dim"), col(k1).as("_k1"), col(k2).as("_k2"),
        col("id").as("_id"))) }
    val newRows = existing.reduceOption(_ unionByName _) match {
      case Some(ex) =>
        tagged.as("c").join(broadcast(ex.as("e")),
          col("c._dim") === col("e._dim") && col("c._k1") <=> col("e._k1") &&
            col("c._k2") <=> col("e._k2"), "left_anti")
      case None => tagged
    }
    val missing = specs.collect {
      case (table, _, _) if wh.exists(table) && wh.peekMaxId(table).isEmpty => table }
    if (missing.nonEmpty) {
      missing.map(t => wh.readCached(t).select(lit(t).as("_dim"), col("id").as("_id")))
        .reduce(_ unionByName _)
        .groupBy(col("_dim")).agg(coalesce(max(col("_id")), lit(0L)).as("m"))
        .collect()
        .foreach(r => wh.recordMaxId(r.getString(0), r.getLong(1)))
      missing.foreach(t => if (wh.peekMaxId(t).isEmpty) wh.recordMaxId(t, 0L))
    }
    val offsets = specs.map { case (table, _, _) =>
      table -> (if (wh.exists(table)) wh.cachedMaxId(table)(0L) else 0L) }.toMap
    val offExpr = specs.map { case (table, _, _) =>
      when(col("_dim") === table, lit(offsets(table))) }.reduce(coalesce(_, _))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_dim"))
      .orderBy(col("_k1").asc_nulls_last, col("_k2").asc_nulls_last)
    val assigned = newRows
      .withColumn("id", row_number().over(w).cast("long") + offExpr)
      .persist()
    try {
      val counts = assigned.groupBy(col("_dim")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wave = specs.filter { case (table, _, _) => needsAppend(wh, table, counts) }
        .map { case (table, k1, k2) => Future {
          wh.append(table, assigned.filter(col("_dim") === table)
            .select(col("id"), col("_k1").as(k1), col("_k2").as(k2)))
          wh.recordMaxId(table, offsets(table) + counts.getOrElse(table, 0L))
        } }
      Await.result(Future.sequence(wave), Duration.Inf)
      specs.map { case (table, _, _) =>
        table -> counts.getOrElse(table, 0L) }.toMap
    } finally {
      assigned.unpersist()
      ()
    }
  }
}
