package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join — an operator Spark lacks natively. Composed from
  * built-ins (preference tier (a), SURVEY.md §4): union both sides tagged,
  * one window pass per key ordered by time carries the last right-side row
  * forward, then keep the left rows. One shuffle on the key, no range
  * explosion — the formulation that survives 100 TB (vs. the naive
  * inequality join's BroadcastNestedLoop).
  */
object AsOf {

  /** For each left row, attach the most recent right row with
    * right.ts <= left.ts (backward as-of) per key. Right payload columns are
    * emitted with prefix `asof_`. Left rows with no prior right row keep
    * nulls (ASOF LEFT JOIN semantics). */
  def asOfJoinBackward(left: DataFrame, right: DataFrame, key: String,
                       tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val lTagged = left.withColumn("_src", lit(1))
    val rTagged = right.select(
      (col(key) +: col(tsCol).as("_r_ts") +: payloadCols.map(c => col(c).as(s"_r_$c"))): _*)
      .withColumn(tsCol, col("_r_ts"))
      .withColumn("_src", lit(0))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // right rows sort before left on ts ties (_src 0 < 1) → inclusive <=
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol).asc, col("_src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (("_r_ts", "asof_ts") +: payloadCols.map(c => (s"_r_$c", s"asof_$c")))
      .foldLeft(unioned) { case (df, (src, dst)) =>
        df.withColumn(dst, last(col(src), ignoreNulls = true).over(w))
      }
    carried.filter(col("_src") === 1)
      .drop((("_src" +: "_r_ts" +: payloadCols.map(c => s"_r_$c")): _*))
  }
}
