package graft.streaming

import graft.functions.TextHash
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** SESSION-windowed sketches on the Spark 4 `transformWithState` API —
  * the other real streaming window shape next to the tumbling windows
  * (r16): "distinct items per user SESSION" (KMV) and "hot items per
  * user session" (CMS, r18 VERDICT #8), where a session closes when
  * the user goes quiet for `gapSeconds`.
  *
  * One state row per OPEN session per user: the session's start
  * second (the session's identity — `user|start` needs no counter
  * state, so a closed session's state can be dropped outright), the
  * latest event second and the session's sketch, so state is
  * open_sessions × sketch size no matter how long the stream runs
  * (TwsSessionSpec pins the state-row bound). A session closes either
  * INLINE (a later event of the same fold exceeds the gap) or by
  * per-key event-time TIMER once the watermark passes lastSec + gap —
  * `StreamingEtl.sessionCommit`'s close design with a sketch instead
  * of a tree buffer. Each closed session emits its sketch rows once;
  * the estimate finalizes outside the stream.
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
  * shipped entries stage per-key time-ordered slices, where parity
  * is exact.
  */
case class KmvSessEvent(user_id: Long, event_id: Long, item: String,
    ts: Long, event_time: java.sql.Timestamp)

/** One open session: `sessionStart` is Long.MinValue until its first
  * event. `maxEventMs` and `timerAt` carry the timer across folds. */
case class GapSession[S](sessionStart: Long, lastSec: Long, sketch: S,
    maxEventMs: Long, timerAt: Long)

/** The per-session sketch a [[GapSessionProcessor]] carries. */
trait SessionSketch[S, O] extends Serializable {
  def stateEncoder: Encoder[GapSession[S]]
  def empty: S
  def add(sketch: S, item: String): S
  /** The rows a closed session emits. */
  def rows(user: Long, sessionStart: Long, sketch: S): Seq[O]
}

/** The gap-session fold, shared by every session sketch. */
class GapSessionProcessor[S, O](gapSeconds: Long,
    sketch: SessionSketch[S, O])
    extends StatefulProcessor[Long, KmvSessEvent, O] {

  @transient private var st: ValueState[GapSession[S]] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[GapSession[S]]("session",
      sketch.stateEncoder, TTLConfig.NONE)

  private def open(maxEventMs: Long, timerAt: Long) =
    GapSession(Long.MinValue, Long.MinValue, sketch.empty, maxEventMs,
      timerAt)

  override def handleInputRows(key: Long, rows: Iterator[KmvSessEvent],
      tv: TimerValues): Iterator[O] = {
    // sessionization is order-sensitive: fold in event-time order
    // (ties by event_id — the batch twin's window order)
    val sorted = rows.toArray.sortBy(e => (e.ts, e.event_id))
    var cur = if (st.exists()) st.get()
      else open(Long.MinValue, Long.MinValue)
    val closed = scala.collection.mutable.ArrayBuffer.empty[O]
    var maxEventMs = cur.maxEventMs
    for (e <- sorted) {
      if (e.event_time != null)
        maxEventMs = math.max(maxEventMs, e.event_time.getTime)
      if (cur.lastSec != Long.MinValue && e.ts - cur.lastSec > gapSeconds) {
        closed ++= sketch.rows(key, cur.sessionStart, cur.sketch)
        cur = open(maxEventMs, cur.timerAt)
      }
      val start = if (cur.sessionStart == Long.MinValue) e.ts
        else cur.sessionStart
      // regression guard (see the ordering contract): a cross-batch
      // LATE event folds into the open session but must not pull
      // lastSec back — a regressed frontier would let the next
      // in-order event falsely split the session
      cur = cur.copy(sessionStart = start,
        lastSec = math.max(cur.lastSec, e.ts),
        sketch = sketch.add(cur.sketch, e.item))
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
      expired: ExpiredTimerInfo): Iterator[O] = {
    val out = if (st.exists() && st.get().sessionStart != Long.MinValue)
      sketch.rows(key, st.get().sessionStart, st.get().sketch)
    else Nil
    st.clear()
    out.iterator
  }
}

object GapSessionProcessor {
  /** The session stream of `sketch` over `events`. Requires the RocksDB
    * state store provider (the `transformWithState` operator's
    * contract). Input must carry an `event_time` timestamp column; the
    * watermark gates the session timers. */
  def stream[S, O: Encoder](events: Dataset[KmvSessEvent],
      gapSeconds: Long, sketch: SessionSketch[S, O],
      watermarkDelay: String): Dataset[O] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("event_time", watermarkDelay)
      .as[KmvSessEvent]
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionProcessor(gapSeconds, sketch),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

case class KmvSessOut(user_id: Long, session_start: Long,
    kth_min_hash: Long, k_used: Long)

/** The session's k-min hash set (≤ k longs, sorted). The item hash is
  * [[TextHash.mix64]]∘[[TextHash.fnv1a64]] masked to 63 bits — the
  * SAME kernel the Catalyst `mixed63` path evaluates (the expressions
  * delegate to TextHash), so the stream's sketch rows are
  * bit-identical to the batch twin's; the estimate finalizes with the
  * shared KMV integer formula. */
case class KmvSessionSketch(k: Int)
    extends SessionSketch[Array[Long], KmvSessOut] {
  def stateEncoder = Encoders.product[GapSession[Array[Long]]]
  def empty = Array.empty[Long]
  def add(hs: Array[Long], item: String) = {
    val h = TextHash.mix64(TextHash.fnv1a64(item)) & Long.MaxValue
    if (hs.contains(h)) hs else (hs :+ h).sorted.take(k)
  }
  def rows(user: Long, sessionStart: Long, hs: Array[Long]) =
    Seq(KmvSessOut(user, sessionStart, hs.max, hs.length.toLong))
}

case class CmsSessOut(user_id: Long, session_start: Long, cell: Long,
    cnt: Long)

/** Sparse CMS counter cells, `cell` sorted ascending, `cnt` aligned. */
case class CmsCells(cell: Array[Long], cnt: Array[Long])

/** The session's SPARSE CMS cells — (i·width + bucket) → count, ≤
  * depth · min(distinct items, width) entries. The bucket hash is
  * plain [[TextHash.fnv1a64]] of `i ++ item` masked to 63 bits mod
  * width — bit-identical to the Catalyst `cmsBuckets` kernel, so
  * stream cells == batch cells cell-for-cell. The probe finalizes
  * OUTSIDE the stream against exact top candidates (the
  * [[graft.llm.SketchOps.cmsTopCandidatesKeyed]] demo-twin pattern —
  * production would feed candidates from the stream or a sample). */
case class CmsSessionSketch(depth: Int, width: Int)
    extends SessionSketch[CmsCells, CmsSessOut] {
  def stateEncoder = Encoders.product[GapSession[CmsCells]]
  def empty = CmsCells(Array.empty, Array.empty)
  def add(cs: CmsCells, item: String) =
    (0 until depth).foldLeft(cs) { (acc, i) =>
      val c = i.toLong * width +
        (TextHash.fnv1a64(s"$i$item") & Long.MaxValue) % width
      val at = java.util.Arrays.binarySearch(acc.cell, c)
      if (at >= 0) acc.copy(cnt = acc.cnt.updated(at, acc.cnt(at) + 1L))
      else CmsCells(acc.cell.patch(-at - 1, Seq(c), 0),
        acc.cnt.patch(-at - 1, Seq(1L), 0))
    }
  def rows(user: Long, sessionStart: Long, cs: CmsCells) =
    cs.cell.toSeq.zip(cs.cnt).map { case (c, n) =>
      CmsSessOut(user, sessionStart, c, n) }
}

object TwsKmvSession {
  def sessionSketch(events: Dataset[KmvSessEvent], gapSeconds: Long,
      k: Int, watermarkDelay: String = "10 seconds")
      : Dataset[KmvSessOut] =
    GapSessionProcessor.stream(events, gapSeconds, KmvSessionSketch(k),
      watermarkDelay)(Encoders.product[KmvSessOut])
}

object TwsCmsSession {
  def sessionCounters(events: Dataset[KmvSessEvent], gapSeconds: Long,
      depth: Int, width: Int, watermarkDelay: String = "10 seconds")
      : Dataset[CmsSessOut] =
    GapSessionProcessor.stream(events, gapSeconds,
      CmsSessionSketch(depth, width), watermarkDelay)(
      Encoders.product[CmsSessOut])
}
