package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-entity time-series window operators over an event stream: offsets
  * (lag/lead), bounded moving aggregates, and running totals — the feature
  * branch of any event-sourced training pipeline (per-user activity
  * features, per-device rolling telemetry).
  *
  * Numeric discipline: every SUM runs over `DECIMAL(18,2)` (the value cast
  * rounds half-away-from-zero from the exact binary double in both Spark and
  * the oracle engine), so running totals are EXACT and independent of
  * accumulation order — a float running sum over a long partition is neither
  * (and DuckDB's segment-tree window sums associate differently from Spark's
  * sequential frames). The final cast back to double is exact for any total
  * under 2^53 cents.
  *
  * Scale shape: ONE hash-shuffle on the partition key feeds every window in
  * the projection (all frames share the same `(partitionBy, orderBy)` spec,
  * so Catalyst plans a single WindowExec, single sort). No per-row joins, no
  * self-join-per-offset — the relational anti-pattern this operator
  * replaces.
  */
object TimeSeries {

  /** lag/lead + 3-row moving sum + running total + per-entity row index for
    * `valueCol`, partitioned by `partCol`, ordered by (`tsCol`, `idCol`) —
    * the id tie-break makes the order total, so every output column is
    * deterministic. Offsets default (not NULL) at partition edges: sentinel
    * -1.0 keeps the frame oracle-comparable (NULL hashing differs across
    * compare harnesses). */
  def movingStats(events: DataFrame, partCol: String, tsCol: String,
                  idCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(col(tsCol), col(idCol))
    val dec = col(valueCol).cast("decimal(18,2)")
    events.select(
      col(idCol), col(partCol), col(tsCol), col(valueCol),
      lag(col(valueCol), 1, -1.0).over(w).as("prev_value"),
      lead(col(valueCol), 1, -1.0).over(w).as("next_value"),
      row_number().over(w).cast("long").as("rn"),
      sum(dec).over(w.rowsBetween(-2, 0)).cast("double").as("mov_sum3"),
      sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double").as("cum_sum"))
  }

  /** Rolling anomaly flags with EXACT integer arithmetic: over a trailing
    * `frameRows`-row frame on `centsCol` (an integer-scaled measure), flag
    * rows where (x − mean)² > kSq · var (population variance). The float
    * form of that test is engine-hostile — window sums associate differently
    * (segment trees vs sequential frames) and the flag flips on the last
    * ulp near the boundary — so the test is algebraically cleared of
    * divisions: with S = Σx, Q = Σx², n the frame count,
    *
    *   (x − S/n)² > kSq·(Q/n − S²/n²)  ⇔  (n·x − S)² > kSq·(n·Q − S²)
    *
    * evaluated in DECIMAL(38,0) (the oracle uses HUGEINT) — every engine
    * gets the same booleans for any |x| up to ~10⁹ at frame 7.
    *
    * Scale shape: one WindowExec. The series is a per-key aggregate (e.g.
    * daily totals), so the window keys on a non-foldable constant (q63
    * idiom) — calendar-bounded input, never O(facts). */
  def rollingAnomalyFlags(df: DataFrame, orderCol: String, centsCol: String,
                          frameRows: Int = 7, kSq: Int = 4): DataFrame = {
    val one = substring(col(orderCol).cast("string"), 0, 0)
    val w = Window.partitionBy(one).orderBy(col(orderCol))
      .rowsBetween(-(frameRows - 1), 0)
    val c = col(centsCol).cast("decimal(38,0)")
    val s = sum(c).over(w)
    val q = sum((c * c).cast("decimal(38,0)")).over(w)
    val n = count(lit(1)).over(w).cast("decimal(38,0)")
    val lhs = (n * c - s) * (n * c - s)
    val rhs = lit(kSq).cast("decimal(38,0)") * (n * q - s * s)
    df.select(col(orderCol), col(centsCol),
      n.cast("long").as("n_window"),
      (lhs > rhs).as("is_anomaly"))
  }
}
