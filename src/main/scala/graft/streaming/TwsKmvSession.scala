package graft.streaming

import graft.functions.TextHash
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** SESSION-windowed KMV sketch on the Spark 4 `transformWithState`
  * API — the other real streaming window shape next to the tumbling
  * windows (r16): "distinct items per user SESSION", where a session
  * closes when the user goes quiet for `gapSeconds`.
  *
  * One state row per OPEN session per user: the session's start
  * second (the session's identity — `user|start` needs no counter
  * state, so a closed session's state can be dropped outright), the
  * latest event second, and the session's k-min hash set (≤ k longs —
  * the KMV bound, so state is open_sessions × k no matter how long
  * the stream runs; TwsKmvSessionSpec pins the state-row bound). A
  * session closes either INLINE (a later event of the same fold
  * exceeds the gap) or
  * by per-key event-time TIMER once the watermark passes
  * lastSec + gap — `StreamingEtl.sessionCommit`'s close design with a
  * sketch instead of a tree buffer. Each closed session emits exactly
  * one sketch row; the estimate finalizes outside the stream with the
  * shared KMV integer formula.
  *
  * The item hash is [[TextHash.mix64]]∘[[TextHash.fnv1a64]] masked to
  * 63 bits — the SAME kernel the Catalyst `mixed63` path evaluates
  * (the expressions delegate to TextHash), so the stream's sketch
  * rows are bit-identical to the batch twin's.
  *
  * ORDERING CONTRACT (r17 ADVICE): bit-parity with the globally
  * sorted batch sessionizer holds when each key's events arrive in
  * event-time order ACROSS micro-batches (within a batch the
  * processor sorts). The watermark delay admits cross-batch late
  * events; for those the processor degrades SAFELY rather than
  * exactly: `lastSec` never regresses (a late event folds its item
  * into the open session's sketch but cannot pull the frontier back,
  * so a following in-order event can never falsely split the
  * session), and `sessionStart` — the session's identity — is never
  * lowered (the batch twin, seeing the same late event in sorted
  * order, may assign an earlier start second; an already-open
  * stream session cannot retract its identity). A late event older
  * than the open session's start thus joins that session instead of
  * extending it backwards — sketch contents stay a superset-merge,
  * session boundaries stay watermark-consistent, but start seconds
  * can diverge from the batch twin under out-of-order input. The
  * shipped entries stage per-key
  * time-ordered slices, where parity is exact.
  */
case class KmvSessEvent(user_id: Long, event_id: Long, item: String,
    ts: Long, event_time: java.sql.Timestamp)

case class KmvSessState(sessionStart: Long, lastSec: Long,
    hs: Array[Long], maxEventMs: Long, timerAt: Long)

case class KmvSessOut(user_id: Long, session_start: Long,
    kth_min_hash: Long, k_used: Long)

class KmvSessionProcessor(gapSeconds: Long, k: Int)
    extends StatefulProcessor[Long, KmvSessEvent, KmvSessOut] {

  @transient private var st: ValueState[KmvSessState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[KmvSessState]("kmvsess",
      Encoders.product[KmvSessState], TTLConfig.NONE)

  private def h63(item: String): Long =
    TextHash.mix64(TextHash.fnv1a64(item)) & Long.MaxValue

  private def emit(key: Long, s: KmvSessState): KmvSessOut =
    KmvSessOut(key, s.sessionStart, s.hs.max, s.hs.length.toLong)

  override def handleInputRows(key: Long, rows: Iterator[KmvSessEvent],
      tv: TimerValues): Iterator[KmvSessOut] = {
    // sessionization is order-sensitive: fold in event-time order
    // (ties by event_id — the batch twin's window order)
    val sorted = rows.toArray.sortBy(e => (e.ts, e.event_id))
    var cur = if (st.exists()) st.get()
      else KmvSessState(Long.MinValue, Long.MinValue, Array.empty,
        Long.MinValue, Long.MinValue)
    val closed = scala.collection.mutable.ArrayBuffer.empty[KmvSessOut]
    var maxEventMs = cur.maxEventMs
    for (e <- sorted) {
      if (e.event_time != null)
        maxEventMs = math.max(maxEventMs, e.event_time.getTime)
      if (cur.lastSec != Long.MinValue && e.ts - cur.lastSec > gapSeconds) {
        closed += emit(key, cur)
        cur = KmvSessState(Long.MinValue, Long.MinValue, Array.empty,
          maxEventMs, cur.timerAt)
      }
      val start = if (cur.sessionStart == Long.MinValue) e.ts
        else cur.sessionStart
      val h = h63(e.item)
      val hs = if (cur.hs.contains(h)) cur.hs
        else (cur.hs :+ h).sorted.take(k)
      // regression guard (see the class doc's ordering contract): a
      // cross-batch LATE event folds into the open session but must
      // not pull lastSec back — a regressed frontier would let the
      // next in-order event falsely split the session
      cur = cur.copy(sessionStart = start,
        lastSec = math.max(cur.lastSec, e.ts), hs = hs)
    }
    // one live timer per open session, re-armed so it fires
    // gapSeconds after the LATEST event (the sessionCommit pattern —
    // maxEventMs persisted so a later low-ts batch can't regress it)
    val base = if (maxEventMs == Long.MinValue)
      tv.getCurrentWatermarkInMs() else maxEventMs
    val at = math.max(base + gapSeconds * 1000L,
      tv.getCurrentWatermarkInMs() + 1L)
    if (cur.timerAt != at) {
      if (cur.timerAt != Long.MinValue) getHandle.deleteTimer(cur.timerAt)
      getHandle.registerTimer(at)
    }
    st.update(cur.copy(maxEventMs = maxEventMs, timerAt = at))
    closed.iterator
  }

  override def handleExpiredTimer(key: Long, tv: TimerValues,
      expired: ExpiredTimerInfo): Iterator[KmvSessOut] = {
    val out = if (st.exists() && st.get().hs.nonEmpty)
      Iterator.single(emit(key, st.get()))
    else Iterator.empty
    st.clear()
    out
  }
}

object TwsKmvSession {

  /** Requires the RocksDB state store provider (the
    * `transformWithState` operator's contract). Input must carry an
    * `event_time` timestamp column; the watermark gates the session
    * timers. */
  def sessionSketch(events: Dataset[KmvSessEvent], gapSeconds: Long,
      k: Int, watermarkDelay: String = "10 seconds")
      : Dataset[KmvSessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("event_time", watermarkDelay)
      .as[KmvSessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new KmvSessionProcessor(gapSeconds, k),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
