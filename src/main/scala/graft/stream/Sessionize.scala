package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.star.Warehouse

/** Stateful-streaming sessionization via `flatMapGroupsWithState` — the
  * custom-state tier of Structured Streaming (SURVEY.md §2.9 / builder
  * spec). Batch twin: q41 (AdvancedJoinQueries.q41Sessionize); the spec
  * asserts both produce identical sessions.
  *
  * Scale design — state is O(1) per user, never O(events): only the OPEN
  * session's (sid, start, last, n) tuple plus the session counter live in
  * `GroupState`. Sessions close either inline (a same-user event past the
  * gap) or via event-time timeout once the watermark passes last+gap; a
  * closed session is emitted and its event data dropped from state. After a
  * gap timeout only the counter survives (so session numbering stays
  * monotonic for late-returning users) with a second, much longer TTL
  * timeout that evicts the counter, leaving a 3-long restart tombstone:
  * the epoch. Session ids are `epoch * 2^32 + counter`, so a user
  * returning after a TTL eviction restarts counting under the NEXT epoch
  * and downstream stores keyed on (user_id, session_id) never see their
  * ancient sessions overwritten. Epoch 0 ids are plain counters — the
  * batch twin's numbering — and an epoch only appears after 30 days of
  * idleness, so batch/stream equivalence is unaffected. The tombstone
  * means per-user state never drops to zero bytes; it is bounded by
  * distinct users ever seen (24 bytes each), the price of durable-key
  * uniqueness — a deployment that prefers full eviction restores
  * `state.remove()` there and re-accepts the collision.
  *
  * Late events, precisely: an event inside the open session's span ±gap
  * folds into it (extending `session_start` backwards at most one gap —
  * exactly what the batch twin does); an event OLDER than the open session's
  * start by more than the gap can no longer join any session (its neighbours
  * were closed and evicted), so it is emitted as its own already-closed
  * straggler session rather than silently stretching the open one across a
  * gap. Events later than the watermark delay never reach the state function
  * at all — Spark drops them.
  */
object Sessionize {

  case class Ev(user_id: Long, ts: Timestamp)
  case class Session(user_id: Long, session_id: Long, n_events: Long,
                     session_start: Timestamp, session_end: Timestamp)

  /** Open-session tuple — the only per-event-derived state kept. Carries its
    * own session id: straggler sessions (see above) may be assigned LATER
    * ids while the open session keeps the id it already emitted under. */
  case class OpenSess(sid: Long, start: Long, last: Long, n: Long)

  /** Per-user state: highest session COUNTER assigned in the current epoch,
    * the open session (if any), and the restart epoch (incremented each time
    * the counter TTL evicts this user). Fixed-size regardless of event
    * count. Emitted session ids are [[mkSid]](epoch, counter). */
  case class SessState(sid: Long, open: Option[OpenSess], epoch: Long = 0L)

  /** Session-id namespace stride between restart epochs: ids are
    * `epoch * 2^32 + counter`, plain counters in epoch 0. 2^32 sessions per
    * epoch per user and epochs only advance after [[CounterTtlMs]] of
    * idleness — neither side can realistically overflow. */
  val EpochStride: Long = 1L << 32

  private def mkSid(epoch: Long, counter: Long): Long = epoch * EpochStride + counter

  val GapMs: Long = 30L * 60 * 1000

  /** How long an idle user's bare session counter is retained after the gap
    * timeout; when this TTL fires the user's state is removed entirely
    * (session numbering restarts only for users idle this long). */
  val CounterTtlMs: Long = 30L * 24 * 3600 * 1000

  /** Reference batch semantics: gap-split sessions of a sorted ts list —
    * used by q41's oracle-checked batch twin and by property tests. */
  def sessionsOf(userId: Long, timesMs: Seq[Long]): Seq[Session] = {
    val sorted = timesMs.sorted
    if (sorted.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var sid = 0L
    var start = sorted.head
    var prev = sorted.head
    var n = 0L
    def close(end: Long): Unit = {
      sid += 1
      out += Session(userId, sid, n, new Timestamp(start), new Timestamp(end))
    }
    sorted.foreach { t =>
      if (t - prev > GapMs) {
        close(prev)
        start = t
        n = 0L
      }
      n += 1
      prev = t
    }
    close(prev)
    out.toSeq
  }

  /** The state-transition function (package-visible for direct unit tests
    * via `TestGroupState`). Emits every session whose membership changed
    * this invocation — closed sessions finally, the open session with its
    * running totals (Update mode: downstream upserts on (user, session_id)). */
  private[graft] def update(userId: Long, events: Iterator[Ev],
                            state: GroupState[SessState]): Iterator[Session] = {
    def emit(o: OpenSess): Session =
      Session(userId, o.sid, o.n, new Timestamp(o.start), new Timestamp(o.last))
    // timeouts must be strictly ahead of the watermark or Spark rejects them
    def armTimeout(atMs: Long): Unit =
      state.setTimeoutTimestamp(math.max(atMs, state.getCurrentWatermarkMs() + 1))

    if (state.hasTimedOut) {
      val s = state.get
      s.open match {
        case Some(o) =>
          // gap timeout: the open session is now closed; evict its data,
          // keep only the counter (with its own TTL) for stable numbering
          state.update(SessState(s.sid, None, s.epoch))
          armTimeout(o.last + CounterTtlMs)
          Iterator(emit(o))
        case None =>
          // counter TTL expired: evict the counter, keep only the restart
          // tombstone (no timeout — it persists) so the user's next epoch
          // issues ids that cannot collide with any already emitted
          state.update(SessState(0L, None, s.epoch + 1))
          Iterator.empty
      }
    } else {
      // bounded by the micro-batch (never the user's history)
      val times = events.map(_.ts.getTime).toArray.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      val s0 = state.getOption.getOrElse(SessState(0L, None))
      var sid = s0.sid // raw counter; emitted ids go through mkSid
      var open = s0.open
      // cross-batch stragglers older than the open session by more than the
      // gap: their would-be neighbours are closed and evicted, so gap-split
      // them among themselves and emit them already-closed under FRESH ids
      // (the open session keeps the id it may already have emitted under;
      // id order ≠ time order for stragglers, by construction)
      val (stragglers, current) = open match {
        case Some(o) => times.partition(_ < o.start - GapMs)
        case None => (Array.empty[Long], times)
      }
      var i = 0
      while (i < stragglers.length) {
        var j = i
        while (j + 1 < stragglers.length && stragglers(j + 1) - stragglers(j) <= GapMs) j += 1
        sid += 1
        out += Session(userId, mkSid(s0.epoch, sid), (j - i + 1).toLong,
          new Timestamp(stragglers(i)), new Timestamp(stragglers(j)))
        i = j + 1
      }
      current.foreach { t =>
        open match {
          case Some(o) if t - o.last > GapMs =>
            out += emit(o) // closed by an in-batch gap
            sid += 1
            open = Some(OpenSess(mkSid(s0.epoch, sid), t, t, 1L))
          case Some(o) =>
            open = Some(o.copy(start = math.min(o.start, t),
              last = math.max(o.last, t), n = o.n + 1L))
          case None =>
            sid += 1
            open = Some(OpenSess(mkSid(s0.epoch, sid), t, t, 1L))
        }
      }
      open match {
        case Some(o) =>
          state.update(SessState(sid, open, s0.epoch))
          armTimeout(o.last + GapMs)
          out += emit(o) // running totals of the still-open session
        case None => // batch carried no events (shouldn't happen outside timeout)
      }
      out.iterator
    }
  }

  /** Number of hash buckets the sessions table is partitioned into on disk:
    * a user's bucket is a pure function of user_id, so each micro-batch
    * reads and rewrites only the buckets its users fall in. (vehicle_dim
    * is one table instead: a star-load batch touches every one of 64
    * buckets, see [[graft.star.Facts.mergedVehicleDim]].) */
  val SessionBuckets = 64

  private def sessionBucket(userId: Column): Column =
    pmod(hash(userId), lit(SessionBuckets))

  /** Keyed upsert of one micro-batch of session emissions: incoming wins on
    * (user_id, session_id); only buckets containing incoming users are read
    * (partition-pruned semi join) and rewritten (dynamic partition
    * overwrite). Entirely executor-side — no driver collect. */
  def upsertSessions(wh: Warehouse, table: String, batch: DataFrame): Unit = {
    val inc = batch.select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start"), col("session_end"))
      .withColumn("_bucket", sessionBucket(col("user_id")))
    val merged = wh.readIfExists(table) match {
      case None => inc
      case Some(existing) =>
        val affected = inc.select("_bucket").distinct()
        val hit = existing.join(broadcast(affected), Seq("_bucket"), "left_semi")
        val kept = hit.join(inc.select("user_id", "session_id"),
          Seq("user_id", "session_id"), "left_anti")
        inc.unionByName(kept)
    }
    wh.overwritePartitions(table, merged, "_bucket")
  }

  private def sessionStream(spark: SparkSession, eventsDir: String,
                            watermarkDelay: String,
                            maxFilesPerTrigger: Option[Int]): Dataset[Session] = {
    import spark.implicits._
    val events = FileStream.events(spark, eventsDir, maxFilesPerTrigger)
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[Ev]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming sessionization over a parquet file stream of events
    * (AvailableNow) into warehouse table `table` — the production sink
    * shape: every Update-mode emission is upserted on (user_id, session_id)
    * via [[upsertSessions]], so re-emissions of a growing open session
    * replace their prior row, correct across any number of micro-batches
    * (`maxFilesPerTrigger` exercises this in IncrementalSpec).
    *
    * `watermarkDelay` bounds how late an event may be; the default is
    * generous so finite test data is never dropped. */
  def runToWarehouse(spark: SparkSession, eventsDir: String, wh: Warehouse,
                     table: String = "sessions",
                     queryName: String = "sessions",
                     watermarkDelay: String = "30 days",
                     maxFilesPerTrigger: Option[Int] = None): Unit = {
    val sessions = sessionStream(spark, eventsDir, watermarkDelay, maxFilesPerTrigger)
    FileStream.drain(sessions.toDF().writeStream
      .outputMode("update")
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, _: Long) => upsertSessions(wh, table, batch) })
  }

  /** [[runToWarehouse]] into a fresh temp warehouse, returning the final
    * sessions table — the test/demo convenience entry point. The snapshot IS
    * the keyed table read back; nothing is collected to the driver. */
  def runToSnapshot(spark: SparkSession, eventsDir: String,
                    queryName: String = "sessions",
                    watermarkDelay: String = "30 days",
                    maxFilesPerTrigger: Option[Int] = None): Dataset[Session] = {
    import spark.implicits._
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_sessions_wh").toString)
    runToWarehouse(spark, eventsDir, wh, "sessions", queryName,
      watermarkDelay, maxFilesPerTrigger)
    wh.readIfExists("sessions")
      .map(_.select("user_id", "session_id", "n_events", "session_start", "session_end")
        .as[Session])
      .getOrElse(spark.emptyDataset[Session])
  }
}
