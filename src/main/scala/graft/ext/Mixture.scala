package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mix budget allocation: capped proportional (water-filling)
  * distribution of a token budget across domains.
  *
  * The problem every data-mixture recipe ends at: spend budget B across
  * domains proportionally to configured weights w_d, except no domain can
  * contribute more than it HAS (cap_d tokens available). The classical
  * solution is water-filling: alloc_d = min(cap_d, λ·w_d) with the water
  * level λ chosen so the allocations sum to B — small domains saturate at
  * their cap, the freed budget redistributes over the rest.
  *
  * The relational spelling (no iteration): sort domains by saturation
  * order r_d = cap_d/w_d ascending — the saturated set is always a prefix
  * of that order — and find the FIRST domain whose cap exceeds its
  * proportional share of the budget remaining after all earlier caps:
  *
  *   cut = min { i : cap_i · Σ_{j≥i} w_j > (B − Σ_{j<i} cap_j) · w_i }
  *
  * Domains before the cut saturate (alloc = cap); domains from the cut on
  * share the remaining budget proportionally, floored to integers:
  * alloc = w_d·R div W_rem with R, W_rem the remaining budget/weight at
  * the cut. For d past the cut, r_d ≥ r_cut > λ guarantees the floored
  * share stays below cap_d. No cut ⇒ B ≥ Σcap and every domain saturates
  * (the leftover budget is simply unspent).
  *
  * Determinism: the sort key is one IEEE division (bit-identical in any
  * engine) with the domain as tiebreak; the cut test and the allocations
  * are exact integer arithmetic in DECIMAL(38,0) (≡ DuckDB HUGEINT), so
  * products like cap·Σw can't overflow at 100 TB token counts.
  *
  * Scale shape: the windows run over the DOMAIN table — bounded by the
  * mixture configuration (tens to thousands of rows), never by the
  * corpus — on one partition (the non-foldable constant-key idiom, see
  * NOTES on [[Sampling.prioritySample]]); the corpus-scale work (building
  * per-domain caps) happens upstream in an ordinary aggregation.
  */
object Mixture {

  /** Allocate `budget` over `domains` (one row per domain: an id, an
    * integral weight > 0, an integral cap ≥ 0). Adds `alloc` (tokens
    * granted) and `saturated` (1 = capped at its inventory). */
  def waterFill(domains: DataFrame, domainCol: String, weightCol: String,
                capCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val wholeKey = substring(col(domainCol).cast("string"), 0, 0)
    val ord = Window.partitionBy(wholeKey)
      .orderBy((col(capCol).cast("double") / col(weightCol).cast("double")).asc,
        col(domainCol).asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(wholeKey)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    domains
      .withColumn("_i", row_number().over(ord))
      .withColumn("_pcap", sum(col(capCol)).over(run) - col(capCol))
      .withColumn("_pw", sum(col(weightCol)).over(run) - col(weightCol))
      .withColumn("_wtot", sum(col(weightCol)).over(whole))
      .withColumn("_fail", when(expr(
        s"CAST($capCol AS DECIMAL(38,0)) * CAST(_wtot - _pw AS DECIMAL(38,0)) > " +
          s"CAST(${budget}L - _pcap AS DECIMAL(38,0)) * CAST($weightCol AS DECIMAL(38,0))"),
        col("_i")))
      .withColumn("_cut", min(col("_fail")).over(whole))
      // R and W_rem read off the cut row (exactly one row matches _cut)
      .withColumn("_rcut",
        min(when(col("_i") === col("_cut"), col("_pcap"))).over(whole))
      .withColumn("_wcut",
        min(when(col("_i") === col("_cut"), col("_pw"))).over(whole))
      .select(col(domainCol), col(weightCol), col(capCol),
        when(col("_cut").isNull || col("_i") < col("_cut"), col(capCol))
          .otherwise(least(col(capCol), expr(
            s"CAST(${budget}L - _rcut AS DECIMAL(38,0)) * CAST($weightCol AS DECIMAL(38,0))" +
              s" div CAST(_wtot - _wcut AS DECIMAL(38,0))")))
          .cast("long").as("alloc"),
        (col("_cut").isNull || col("_i") < col("_cut")).cast("int")
          .as("saturated"))
  }

  /** Mixture CONCENTRATION audit — the diagnostic read before [[waterFill]]
    * re-balances anything: how dominated is the corpus by its biggest
    * groups? Three standard indices, all exact integer basis points so
    * every engine agrees bit-for-bit:
    *
    *   - SIMPSON (Simpson '49): Σ n_i(n_i−1) / (N(N−1)) — the probability
    *     two documents drawn without replacement share a group (10000 =
    *     monoculture, →0 = perfectly spread);
    *   - HHI (Herfindahl–Hirschman): Σ n_i² / N² — the antitrust
    *     concentration measure, share-weighted average share;
    *   - GINI: with groups ranked ascending by size (ties broken by name —
    *     Σ i·n_i is tie-order invariant, so the rank window is
    *     deterministic), (2·Σ i·n_i − (G+1)·N) / (G·N) — inequality of
    *     the size distribution (0 = all groups equal).
    *
    * Returns one row per group (scope, n_docs, share_bp) plus the
    * `__all__` summary row carrying the three indices. NULL group keys
    * fold to `__null__` (the kmvRollup convention); callers with a
    * literal `__all__`/`__null__` group value must rename first.
    *
    * Scale shape: ONE corpus-scale map-side-combined aggregation; every
    * window and rollup after it runs over the G-row group table (bounded
    * by the group-key domain), partitioned on the wholeKey constant so
    * the plan carries no unpartitioned corpus window. */
  def concentrationAudit(df: DataFrame, groupCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val groups = df
      .groupBy(coalesce(col(groupCol).cast("string"), lit("__null__")).as("scope"))
      .agg(count(lit(1)).as("n_docs"))
    val wholeKey = substring(col("scope"), 0, 0)
    val ord = Window.partitionBy(wholeKey)
      .orderBy(col("n_docs").asc, col("scope").asc)
    val whole = Window.partitionBy(wholeKey)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val g = groups
      .withColumn("_i", row_number().over(ord))
      .withColumn("_n", sum(col("n_docs")).over(whole))
    val perGroup = g.select(
      col("scope"), col("n_docs"),
      expr("(n_docs * 10000) div _n").as("share_bp"),
      lit(null).cast("long").as("simpson_bp"),
      lit(null).cast("long").as("gini_bp"),
      lit(null).cast("long").as("hhi_bp"))
    val all = g.groupBy().agg(
        sum(col("n_docs")).cast(dec).as("N"),
        count(lit(1)).cast(dec).as("G"),
        sum(col("n_docs").cast(dec) * (col("n_docs") - 1).cast(dec)).as("s2"),
        sum(col("n_docs").cast(dec) * col("n_docs").cast(dec)).as("sq"),
        sum(col("_i").cast(dec) * col("n_docs").cast(dec)).as("iw"))
      .select(
        lit("__all__").as("scope"),
        col("N").cast("long").as("n_docs"),
        lit(10000L).as("share_bp"),
        when(col("N") > 1, expr("(s2 * 10000) div (N * (N - 1))")).as("simpson_bp"),
        expr("((2 * iw - (G + 1) * N) * 10000) div (G * N)").as("gini_bp"),
        expr("(sq * 10000) div (N * N)").as("hhi_bp"))
    perGroup.unionByName(all)
  }
}
