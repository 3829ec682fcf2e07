package graft.star

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Deterministic DISTRIBUTED sequential-id assignment: a range-shuffled
  * global sort on the natural keys, then `zipWithIndex` + offset — the exact
  * total order `row_number() OVER (ORDER BY keys ASC NULLS LAST)` yields,
  * with no single-partition WindowExec. Used by the fact-scale fresh-key
  * path ([[Facts.assignFreshIds]]) and the corpus shuffle
  * ([[graft.ext.Sampling.deterministicShuffle]]): the window form funnels
  * its input through one task and warns; this shape stays partitioned at
  * any cardinality. `zipWithIndex` costs one extra partition-size job, but
  * its shuffle map stages are shared with the consuming write job (Spark
  * stage reuse), so the input plan still executes once. Reference
  * semantics: `update_dims.sql`:8-223 (serial nextval over ordered distinct
  * candidates).
  */
object Ids {

  /** Append `idCol` = maxId + 1, maxId + 2, … over `df` sorted by `keys`
    * (asc nulls last). `df` must not already contain `idCol`. */
  def assignSequentialIds(df: DataFrame, keys: Seq[String], idCol: String,
                          maxId: Long): DataFrame = {
    val sorted = df.orderBy(keys.map(c => col(c).asc_nulls_last): _*)
    val schema = sorted.schema.add(idCol, LongType)
    val withIdx = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (maxId + i + 1L))
    }
    sorted.sparkSession.createDataFrame(withIdx, schema)
  }
}
