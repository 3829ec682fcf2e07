package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Stateful-streaming per-user running totals via `flatMapGroupsWithState`
  * — the incremental twin of the batch time-series features (q65,
  * [[graft.ext.TimeSeries.movingStats]]'s `rn`/`cum_sum` columns), for
  * feature pipelines that must serve "events so far" without a batch
  * recompute.
  *
  * Scale design — state is O(1) per user (a row count and a running total
  * in exact integer cents), never O(events). Money arithmetic replays the
  * batch operator's `cast(value as decimal(18,2))` digit-for-digit:
  * the exact binary double is rounded HALF_UP to cents on entry, and all
  * accumulation is Long addition — associative, overflow-checked, equal to
  * the batch DECIMAL sum on any arrival schedule.
  *
  * Ordering semantics, precisely: events are sorted by (ts, event_id)
  * WITHIN each micro-batch (so intra-batch disorder is repaired), and
  * accumulate in arrival order ACROSS batches. Batch/stream equivalence
  * therefore holds when per-user arrival respects event-time order at
  * batch granularity — the file-ordered replay/backfill case. A straggler
  * arriving after later events still updates the total (a running total
  * has no principled drop rule), it just numbers later; the spec pins the
  * ordered case exactly.
  */
object RunningTotals {

  case class Ev(event_id: Long, user_id: Long, ts: Timestamp, value: Double)
  case class Out(event_id: Long, user_id: Long, rn: Long, cum_sum: Double)
  /** Running state: events seen + exact total in cents. */
  case class Tot(rn: Long, cents: Long)

  /** The batch operator's decimal(18,2) cast, replayed exactly: HALF_UP on
    * the exact binary expansion of the double. */
  private[stream] def toCents(v: Double): Long =
    new java.math.BigDecimal(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  private def step(userId: Long, evs: Iterator[Ev],
                   state: org.apache.spark.sql.streaming.GroupState[Tot]): Iterator[Out] = {
    val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var Tot(rn, cents) = state.getOption.getOrElse(Tot(0L, 0L))
    val out = sorted.map { e =>
      rn += 1
      cents = Math.addExact(cents, toCents(e.value))
      Out(e.event_id, userId, rn, cents / 100.0)
    }
    state.update(Tot(rn, cents))
    out.iterator
  }

  /** Run the running-total stream over a parquet events dir (AvailableNow)
    * into an in-memory table; returns the emitted per-event rows. */
  def runToSnapshot(spark: SparkSession, eventsDir: String,
                    queryName: String = "running_totals",
                    maxFilesPerTrigger: Option[Int] = None): Dataset[Out] = {
    import spark.implicits._
    val events = FileStream.events(spark, eventsDir, maxFilesPerTrigger)
      .select(col("event_id"), col("user_id"), col("ts"), col("value")).as[Ev]
    FileStream.toMemory(events.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step),
      queryName, "append").as[Out]
  }
}
