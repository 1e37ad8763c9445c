package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries._

/** As-of and interval joins: keyed and global as-of, the as-of and
  * stream-stream interval-join replays, and the range join.
  */
private[graft] object JoinEntries {

  // ---------------------------------------------------------------
  // As-of joins: per-user latest 'view' for every other event (keyed,
  // relational window form) and the latest global 'signup' checkpoint
  // for every event (unkeyed — the custom range-partitioned operator).
  // Oracles are DuckDB's native ASOF LEFT JOIN; state timestamps are
  // deduplicated so the at-or-before pick is unique.
  // ---------------------------------------------------------------
  private val asofKeyed: Q = (s, dir) => {
    val ev = events(s, dir).select("event_id", "user_id", "event_type", "sec")
    val probes = ev.filter(col("event_type") =!= "view")
      .select("event_id", "user_id", "sec")
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "sec").agg(max("event_id").as("view_id"))
      .withColumn("view_sec", col("sec"))
    graft.operators.AsofJoin.keyed(probes, views,
      Seq("user_id"), "sec", Seq("view_id", "view_sec"))
  }
  private val asofKeyedOracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |probes AS (SELECT event_id, user_id, sec FROM ev WHERE event_type <> 'view'),
      |views AS (
      |  SELECT user_id, sec, max(event_id) AS view_id, sec AS view_sec
      |  FROM ev WHERE event_type = 'view' GROUP BY user_id, sec)
      |SELECT p.user_id, p.sec, p.event_id,
      |       v.view_id AS asof_view_id, v.view_sec AS asof_view_sec
      |FROM probes p ASOF LEFT JOIN views v
      |  ON p.user_id = v.user_id AND p.sec >= v.sec""".stripMargin

  private val asofGlobal: Q = (s, dir) => {
    val ev = events(s, dir).select("event_id", "user_id", "event_type", "sec")
    val probes = ev.select("event_id", "user_id", "sec")
    val states = ev.filter(col("event_type") === "signup")
      .groupBy("sec").agg(max("event_id").as("signup_id"))
      .withColumn("signup_sec", col("sec"))
    graft.operators.AsofJoin.global(probes, states,
      "sec", Seq("signup_id", "signup_sec"))
  }
  private val asofGlobalOracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |states AS (
      |  SELECT sec, max(event_id) AS signup_id, sec AS signup_sec
      |  FROM ev WHERE event_type = 'signup' GROUP BY sec)
      |SELECT p.sec, p.event_id, p.user_id,
      |       s2.signup_id AS asof_signup_id, s2.signup_sec AS asof_signup_sec
      |FROM ev p ASOF LEFT JOIN states s2 ON p.sec >= s2.sec""".stripMargin

  /** Time-sliced (key, tag, id, ts, event_time) replay dir for the
    * streaming event entries — 3 data slices + 2 far-future state
    * sentinels, staged ONCE per corpus fingerprint: the
    * slices are a deterministic function of the corpus (floor
    * decomposition in SCALE_STREAM_r12.md — each micro-batch costs
    * ~0.5 s of store/commit machinery at the bench config, and in
    * production the stream arrives from a topic with no slice-writing
    * step to charge per run). Shared by q_asof_stream and the native
    * stream-stream interval join entry. A different slice count is a
    * layout change: bump the _v literal.
    */
  private def asofSlicesDir(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_asof_slices_v1", dir,
        Seq("events")) { tmp =>
      val spark2 = s
      import spark2.implicits._
      def withTime(df: DataFrame) = df.select(col("key"), col("tag"),
        col("id"), col("ts"), col("ts").cast("timestamp").as("event_time"))
      val ev = withTime(events(s, dir).select(
          col("user_id").as("key"),
          when(col("event_type") === "signup", 0).otherwise(1).as("tag"),
          col("event_id").as("id"), col("sec").as("ts"))
        .groupBy("key", "tag", "ts").agg(max("id").as("id")))
      graft.sources.Staging.stageSlices(ev, "ts", 3, tmp)
      graft.sources.Staging.appendSentinels(tmp, "ts", 3) { (k, ts) =>
        withTime(Seq((-1L, 0, -k.toLong, ts)).toDF("key", "tag", "id", "ts"))
      }
    }

  // As-of join, STREAMING form: TwsAsof driven as a real time-sliced
  // file stream (RocksDB state, per-key timers, watermark-gated probe
  // resolution) over the events corpus. Probe/state rows are deduped
  // to unique (key, tag, ts) so tie resolution cannot differ between
  // arrival order and plan order; two far-future state sentinels close
  // the stream (first advances the watermark past every real probe,
  // second gives the timers a batch to fire in). The flushed output is
  // exactly the batch as-of — hash-compared against DuckDB's native
  // ASOF LEFT JOIN, the same oracle family as q_asof_keyed.
  // State partitions size-gated off the staged slices (4 at sf0.1 —
  // r20 sweep, SCALE_STREAM_r20.md: 4.3-5.6 → 3.4-3.7 s). Changelog
  // checkpointing measured neutral at this state size (its win is
  // large-state maintenance) — off.
  private val asofStream: Q = (s, dir) => {
    val spark2 = s
    import spark2.implicits._
    // 2 files/trigger groups the 5 replay files [s0,s1][s2,sent1]
    // [sent2] (r20, the interval joins' precedent): every semantic
    // the stream proves survives — cross-batch matching (batch-2
    // probes hit batch-1 states), a mid-stream watermark advance,
    // and a batch after the advance for the timers to fire in
    // (sent1's advance is visible in sent2's batch) — at 3 trigger
    // floors instead of 5. Paired sweep at sf0.1: 8.0-10.5 →
    // 5.0-5.9 s (same session; rows/hashes identical).
    replay(s, asofSlicesDir(s, dir)) { in =>
      graft.streaming.TwsAsof.asofKeyed(in.as[graft.streaming.AsofInput]).toDF()
    }.filter(col("key") >= 0)
      .select("key", "probe_id", "probe_ts", "state_id", "state_ts")
  }
  private val asofStreamOracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |probes AS (
      |  SELECT user_id AS key, sec AS probe_ts, max(event_id) AS probe_id
      |  FROM ev WHERE event_type <> 'signup' GROUP BY 1, 2),
      |states AS (
      |  SELECT user_id AS key, sec AS state_ts, max(event_id) AS state_id
      |  FROM ev WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT p.key, p.probe_id, p.probe_ts, s.state_id, s.state_ts
      |FROM probes p ASOF LEFT JOIN states s
      |  ON p.key = s.key AND p.probe_ts >= s.state_ts""".stripMargin

  // NATIVE stream-stream interval join (Spark's built-in symmetric
  // hash join with watermark-bounded state — no custom operator):
  // probe events inner-join signup states of the same key whose time
  // falls in [probe - 1h, probe], over the same time-sliced replay
  // dir as q_asof_stream. Determinism does not depend on the
  // watermark: inner-join rows emit the moment both sides have
  // arrived, and the time-RANGE condition is what lets Spark evict
  // state (a state row is dropped only once the global watermark
  // proves no future probe can still reach back to it — with
  // time-ordered slices every eligible probe has arrived by then, so
  // the flushed output equals the batch join exactly). The range
  // condition is also the 100 TB story: without it a stream-stream
  // join holds both streams forever; with it state is bounded by one
  // window of each side per key.
  private val streamIntervalJoin: Q = (s, dir) =>
    streamIntervalJoinImpl(s, dir, outer = false)

  // LEFT OUTER variant — the semantically hard half of the native
  // operator (what an enrichment pipeline runs when the state side
  // may be absent): probes with NO signup in [probe - 1h, probe]
  // emit null-padded. Emission timing: a matched row emits the
  // moment both sides have arrived (same as inner), but a NULL row
  // emits only when the operator can PROVE no match can still
  // arrive — i.e. when the probe row is evicted because the global
  // watermark passed the latest s_time that could reach it (p_time,
  // from the range condition). Watermark updates are visible one
  // batch later, so completeness needs (a) BOTH side watermarks to
  // pass every real event time — the far-future sentinels therefore
  // ride BOTH streams here (key < 0, filtered from output), not just
  // the state side as in the inner entry where no eviction-triggered
  // emission exists — and (b) a batch AFTER the advance for eviction
  // to run in: sentinel 1 advances, sentinel 2's batch evicts. With
  // time-ordered slices every state row a probe could match arrived
  // before the watermark passed it, so the flushed output equals the
  // batch LEFT JOIN exactly (oracled below, nulls included).
  private val streamIntervalJoinOuter: Q = (s, dir) =>
    streamIntervalJoinImpl(s, dir, outer = true)

  // State format v3 (single store with virtual column families,
  // RocksDB-only — the Spark 4 production format for stream-stream
  // joins) replaces the v2 layout's FOUR store instances per
  // partition (left/right x keyToNumValues/keyWithIndexToValue): one
  // open + commit per partition per micro-batch instead of four.
  // Measured (r20 sweep, SCALE_STREAM_r20.md): inner 4.7→3.3 s at 8
  // partitions, 2.5 s with the size gate's 4; outer 5.1→3.0 s. The
  // checkpoint is fresh per run, so no cross-version state compat
  // applies. State partitions are size-gated off the staged slices,
  // changelog off (neutral at this state size); the entry
  // streams a DETERMINISTIC key subset (key % 8 = 0): this is an
  // operator-coverage entry (native join == exact batch oracle), not
  // a flagship-throughput one, and the subset preserves every
  // semantic the oracle checks — cross-batch matching included
  // (probes in batch 2+ hit states stored in batch 1)
  private def streamIntervalJoinImpl(s: SparkSession, dir: String,
      outer: Boolean): DataFrame =
    replay(s, asofSlicesDir(s, dir), joinFormatVersion = 3) { stream =>
      // outer: the sentinels (key < 0) must reach BOTH watermark nodes
      // (see streamIntervalJoinOuter) — they carry tag 0, so they are
      // injected into the probe filter too and dropped from the output
      val sentinel = if (outer) col("key") < 0 else lit(false)
      val sub = stream.filter(col("key") % 8 === 0 || sentinel)
      val probes = sub.filter(col("tag") === 1 || sentinel)
        .select(col("key"), col("id").as("probe_id"), col("ts").as("probe_ts"),
          col("event_time").as("p_time"))
        .withWatermark("p_time", "3600 seconds")
      val states = sub.filter(col("tag") === 0)
        .select(col("key").as("s_key"), col("id").as("state_id"),
          col("ts").as("state_ts"), col("event_time").as("s_time"))
        .withWatermark("s_time", "3600 seconds")
      probes.join(states,
          col("key") === col("s_key") &&
            col("s_time") >= col("p_time") - expr("INTERVAL 3600 SECONDS") &&
            col("s_time") <= col("p_time"),
          if (outer) "leftOuter" else "inner")
        .select(col("key"), col("probe_id"), col("probe_ts"),
          col("state_id"), col("state_ts"))
    }.filter(col("key") >= 0)
  private val streamIntervalJoinOracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |probes AS (
      |  SELECT user_id AS key, sec AS probe_ts, max(event_id) AS probe_id
      |  FROM ev WHERE event_type <> 'signup' AND user_id % 8 = 0 GROUP BY 1, 2),
      |states AS (
      |  SELECT user_id AS key, sec AS state_ts, max(event_id) AS state_id
      |  FROM ev WHERE event_type = 'signup' AND user_id % 8 = 0 GROUP BY 1, 2)
      |SELECT p.key, p.probe_id, p.probe_ts, s.state_id, s.state_ts
      |FROM probes p JOIN states s ON p.key = s.key
      |  AND s.state_ts BETWEEN p.probe_ts - 3600 AND p.probe_ts""".stripMargin
  private val streamIntervalJoinOuterOracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |probes AS (
      |  SELECT user_id AS key, sec AS probe_ts, max(event_id) AS probe_id
      |  FROM ev WHERE event_type <> 'signup' AND user_id % 8 = 0 GROUP BY 1, 2),
      |states AS (
      |  SELECT user_id AS key, sec AS state_ts, max(event_id) AS state_id
      |  FROM ev WHERE event_type = 'signup' AND user_id % 8 = 0 GROUP BY 1, 2)
      |SELECT p.key, p.probe_id, p.probe_ts, s.state_id, s.state_ts
      |FROM probes p LEFT JOIN states s ON p.key = s.key
      |  AND s.state_ts BETWEEN p.probe_ts - 3600 AND p.probe_ts""".stripMargin

  // Bucketed point-in-interval join: overlapping per-order intervals
  // probed by per-lineitem points — the equi-join on time buckets
  // replaces the quadratic theta-join plan. Oracle is DuckDB's native
  // range join (IEJoin).
  private val rangeJoin: Q = (s, dir) => {
    val intervals = t(s, dir, "orders").select(
      col("o_orderkey").as("iv_id"),
      (col("o_orderkey") * 4).as("iv_start"),
      (col("o_orderkey") * 4 + col("o_custkey") % 50 + 1).as("iv_end"))
    val probes = t(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("p_id"),
      (col("l_orderkey") * 4 + col("l_linenumber")).as("pts"))
    // width auto-derived from the median interval length (~25 here)
    graft.operators.RangeJoin.pointInInterval(
        probes, intervals, "pts", "iv_start", "iv_end")
      .select("p_id", "pts", "iv_id", "iv_start", "iv_end")
  }
  private val rangeJoinOracle =
    """WITH iv AS (
      |  SELECT o_orderkey AS iv_id, o_orderkey*4 AS iv_start,
      |         o_orderkey*4 + o_custkey % 50 + 1 AS iv_end
      |  FROM orders),
      |p AS (
      |  SELECT l_orderkey*10 + l_linenumber AS p_id,
      |         l_orderkey*4 + l_linenumber AS pts
      |  FROM lineitem)
      |SELECT p_id, pts, iv_id, iv_start, iv_end
      |FROM p JOIN iv ON pts >= iv_start AND pts < iv_end""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_asof_keyed", asofKeyed, asofKeyedOracle),
    Entry("q_asof_stream", asofStream, asofStreamOracle, stream = true),
    Entry("q_stream_interval_join", streamIntervalJoin, streamIntervalJoinOracle, stream = true),
    Entry("q_stream_interval_join_outer", streamIntervalJoinOuter, streamIntervalJoinOuterOracle, stream = true),
    Entry("q_asof_global", asofGlobal, asofGlobalOracle),
    Entry("q_range_join", rangeJoin, rangeJoinOracle),
  )
}
