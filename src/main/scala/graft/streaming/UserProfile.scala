package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.LongType

/** Per-user running profile on Spark 4's arbitrary-state API
  * (`transformWithState` / `StatefulProcessor`) — the engine's one
  * keyed-state form, with individually-evolvable state variables
  * instead of one opaque case-class blob.
  *
  * Semantics mirror the reference's per-app running counters (the
  * stats plane counts events per origin forever, stats.go:64-95):
  * for every user, a running event count, an exact cents sum (the
  * double `value` is scaled to integer cents BEFORE entering state —
  * no float accumulation drift across batches), and a per-type count
  * map. Because every update is an integer add, the cross-batch
  * fixpoint is bit-identical to the batch aggregate whatever the
  * micro-batch boundaries — the invariant `TransformWithStateSpec`
  * pins.
  *
  * State layout (scale posture): one `ValueState[(Long, Long)]`
  * (16 bytes) plus a `MapState[String, Long]` keyed by the small
  * event-type dictionary — per-user state is O(|types|), the state
  * store partitions by user hash exactly like the shuffle that feeds
  * it, and TTL is left to the caller's retention policy (TTLConfig
  * is plumbed through so an idle-user expiry is a one-line change).
  * Requires the RocksDB state-store provider (transformWithState's
  * backing store in Spark 4).
  */
object UserProfile {

  case class In(user_id: Long, event_type: String, cents: Long)
  case class Out(user_id: Long, n: Long, cents: Long, purchases: Long)

  class Processor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, In, Out] {
    @transient private var totals: ValueState[(Long, Long)] = _
    @transient private var byType: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), ttl)
      byType = getHandle.getMapState[String, Long](
        "byType", Encoders.STRING, Encoders.scalaLong, ttl)
    }

    override def handleInputRows(key: Long, rows: Iterator[In],
        timerValues: TimerValues): Iterator[Out] = {
      var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { e =>
        n += 1
        cents += e.cents
        val prev = if (byType.containsKey(e.event_type)) byType.getValue(e.event_type) else 0L
        byType.updateValue(e.event_type, prev + 1)
      }
      totals.update((n, cents))
      val purchases = if (byType.containsKey("purchase")) byType.getValue("purchase") else 0L
      Iterator.single(Out(key, n, cents, purchases))
    }
  }

  /** The streaming profile over an events stream (any source with
    * `user_id`, `event_type`, `value`). Update-mode output: one row
    * per touched user per micro-batch carrying the running totals. */
  def profiles(events: Dataset[org.apache.spark.sql.Row]): Dataset[Out] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast(LongType).as("user_id"),
        col("event_type"),
        // exact integer cents: ROUND(value*100) BEFORE state, one
        // deterministic double op per row (round, not truncate —
        // 0.29 is the double 28.999999999999996 after *100, and a
        // bare cast would lose a cent), never a float running sum
        (round(col("value") * 100)).cast(LongType).as("cents"))
      .as[In]
      .groupByKey(_.user_id)
      .transformWithState(new Processor(), TimeMode.None(), OutputMode.Update())
  }

  case class Stamped(user_id: Long, ts_ms: Long)
  case class Closed(user_id: Long, n: Long, first_ms: Long, last_ms: Long)

  /** Idle-session closure on EVENT-TIME TIMERS — the piece
    * `session_window` can't give you: arbitrary logic at expiry (a
    * tombstone row, a side-effect, state handoff), not just a closed
    * aggregate. Each input re-arms the user's single timer to
    * lastSeen + gap; when the watermark passes it, the session row is
    * emitted ONCE and state is cleared — so state size tracks ACTIVE
    * users only, the property that lets this run forever at 100 TB/day
    * (the q33 batch sessionizer holds the whole history; this holds
    * the working set). */
  class IdleSessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Stamped, Closed] {
    @transient private var st: ValueState[(Long, Long, Long)] = _ // n, first, last

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("session",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Stamped],
        timerValues: TimerValues): Iterator[Closed] = {
      var (n, first, last) =
        if (st.exists()) st.get() else (0L, Long.MaxValue, Long.MinValue)
      rows.foreach { e =>
        n += 1
        first = math.min(first, e.ts_ms)
        last = math.max(last, e.ts_ms)
      }
      st.update((n, first, last))
      // one live timer per key: re-arm to the new idle deadline
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Closed] = {
      val out = if (st.exists()) {
        val (n, first, last) = st.get()
        Iterator.single(Closed(key, n, first, last))
      } else Iterator.empty
      st.clear()
      out
    }
  }

  /** Closed idle sessions over a watermarked events stream: rows only
    * when a user has been silent past `gap` (append semantics). */
  def idleSessions(events: Dataset[org.apache.spark.sql.Row], gapMs: Long,
      watermark: String = "1 second"): Dataset[Closed] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast(LongType).as("user_id"),
        (unix_micros(col("ts")) / 1000).cast(LongType).as("ts_ms"))
      .as[Stamped]
      .groupByKey(_.user_id)
      .transformWithState(new IdleSessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
