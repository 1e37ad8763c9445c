package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Queries._

/** Sketches: KMV / CMS / quantile sketches in batch, windowed, session and
  * streaming form, plus the table profile.
  */
private[graft] object SketchEntries {

  // Sketch-based distinct gauge (HLL++): approximate distinct users
  // per event type — the kind of cardinality telemetry a 100 TB
  // pipeline keeps where exact distinct would be a full shuffle of
  // keys. Sketch estimates are engine-specific, so the raw estimate
  // can't hash-compare; the oracle surface is the ERROR-BOUND
  // assertion instead: the exact count (computed here only for the
  // oracle; the production gauge is sketch-only) plus a within-5%
  // flag that DuckDB pins to 1 — the hash matches iff every group's
  // estimate is inside the bound (rsd=0.02 → 5% ≈ 2.5σ).
  // Two-stage form instead of one agg mixing countDistinct with the
  // sketch: the mixed form plans an Expand that pushes every row
  // through the aggregation twice (once per distinct-group, once for
  // the plain count). Pre-aggregating to (event_type, user_id) pairs
  // makes the exact count a plain count, and the HLL sketch is
  // insertion-idempotent, so running it over the deduplicated pairs
  // yields the IDENTICAL estimate — one pass over the data, and the
  // second shuffle carries only the distinct pairs.
  private val oApproxDistinct: Q = (s, dir) =>
    events(s, dir).groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("exact_users"),
        sum(col("n")).as("n_events"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.05).cast("int").as("within_5pct"))
  private val oApproxDistinctOracle =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  count(*) AS n_events, CAST(1 AS INT) AS within_5pct
      |FROM events GROUP BY 1""".stripMargin

  // KMV DISTINCT SKETCH (k-minimum values, k=128): distinct USERS per
  // event_type (the documents corpus has a 31-word vocabulary — too
  // small to exercise a sketch; the events user domain is 15/150/1500
  // per type across SFs, so sf0.001 exercises the exact-passthrough
  // branch and sf0.01/0.1 the full-sketch estimator, the same
  // cross-SF branch coverage as the filtered-ANN gate) plus a
  // __merged__ row whose sketch is the MERGE of the per-group
  // sketches (k smallest of their union, computed from
  // the sketch rows — never by rescanning tokens: the composability a
  // 100 TB per-shard catalog relies on). Engine-exact end to end —
  // 63-bit FNV hashes, window rank, integer-division estimate — unlike
  // the HLL++ gauge (q_o_approx_distinct), whose sketch is partition-
  // order-dependent and only tolerance-checked. The exact distinct
  // count rides along as the verification twin. Both formula branches
  // (sketch-full estimate vs small-group exact passthrough) are
  // exercised across SFs wherever a source has < k distinct tokens.
  private val sketchKmvDistinct: Q = (s, dir) =>
    graft.llm.SketchOps.kmvDistinct(
      events(s, dir).select(col("event_type"),
        col("user_id").cast("string").as("term")),
      "event_type", "term")
  private val sketchKmvDistinctOracle = {
    s"""WITH st AS (
      |  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS term
      |  FROM events),
      |dt AS (SELECT DISTINCT source, term FROM st),
      |z AS (SELECT source, (${FnvOracleSql.fnvStrPublic("term")}) AS z0 FROM dt),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source"))},
      |hh AS (SELECT DISTINCT source,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |rn AS (
      |  SELECT source, h,
      |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n_exact
      |  FROM hh),
      |kmin AS (SELECT * FROM rn WHERE rn <= 128),
      |per AS (
      |  SELECT source, n_exact, max(h) AS kth_min_hash,
      |         CAST(count(*) AS BIGINT) AS k_used
      |  FROM kmin GROUP BY 1, 2),
      |mk AS (SELECT h FROM (SELECT DISTINCT h FROM kmin) ORDER BY h LIMIT 128),
      |mh AS (SELECT max(h) AS kth_min_hash, CAST(count(*) AS BIGINT) AS k_used
      |       FROM mk),
      |me AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
      |       FROM (SELECT DISTINCT h FROM hh)),
      |unioned AS (
      |  SELECT source, n_exact, kth_min_hash, k_used FROM per
      |  UNION ALL
      |  SELECT '__merged__', me.n_exact, mh.kth_min_hash, mh.k_used
      |  FROM me, mh)
      |SELECT source, n_exact, kth_min_hash, k_used,
      |  CAST(CASE WHEN k_used < 128 THEN n_exact
      |       ELSE (9223372036854775807 // greatest(kth_min_hash, 1)) * 127 END AS BIGINT)
      |    AS kmv_est
      |FROM unioned""".stripMargin
  }

  // COUNT-MIN HEAVY HITTERS (depth 4 × width 1024): integer counter
  // sketch over the events user-id stream (1500 users over 1024
  // buckets at sf0.1 — real collisions, so the estimate genuinely
  // overshoots; the only shuffle is counter-sized — the key stream
  // map-combines onto ≤ 4096 keys), point-queried for the exact
  // top-20 heaviest users. cms_est >= exact_tf
  // always (CMS never underestimates); the exact aggregate is the
  // demo's verification twin — production feeds candidates from the
  // stream or a sample, never the full vocabulary aggregate. Hash row
  // i = FNV-1a64 of the ASCII digit of i prefixed to the term,
  // mirrored literally in the oracle's four counter CTEs.
  // KMV SKETCH AS A STREAM: the events corpus replayed as 3 time-
  // sliced micro-batches; each batch's k-min sketch (SketchOps.kmvKmin
  // — the SAME core as the batch entry) is merged into the carried
  // state with kmvMerge (k smallest of the union), so the state
  // between batches is EXACTLY the sketch — ≤ k rows per group, the
  // bounded-state property that lets a stream maintain running
  // cardinality forever. The ORACLE is the whole-corpus sketch
  // (no n_exact column: the stream never held the full distinct set),
  // so sketch mergeability across micro-batches — merge(sketch(A),
  // sketch(B)) == sketch(A ∪ B) — is itself the hash-compared
  // surface.
  private def kmvSlicesStaged(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_kmv_slices_v1", dir,
        Seq("events")) { tmp =>
      val ev = events(s, dir).select(col("event_type"),
        col("user_id").cast("string").as("term"), col("sec").as("ts"))
      graft.sources.Staging.stageSlices(ev, "ts", 3, tmp)
    }
  private val sketchKmvStream: Q = (s, dir) => {
    // SmallPin: every per-trigger fold action is over sketch-sized frames
    withConf(s, SmallPin: _*) {
      val k = 128
      // sketch-sized carried state held in memory between triggers
      // instead of a parquet write+re-read per batch
      val state = foldBatches(s, kmvSlicesStaged(s, dir))(
        graft.llm.SketchOps.kmvKmin(_, "event_type", "term", k))(
        graft.llm.SketchOps.kmvMerge(_, _, k))
      graft.llm.SketchOps.kmvEstimate(state, k)
    }
  }
  private val sketchKmvStreamOracle = {
    s"""WITH st AS (
      |  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS term
      |  FROM events),
      |dt AS (SELECT DISTINCT source, term FROM st),
      |z AS (SELECT source, (${FnvOracleSql.fnvStrPublic("term")}) AS z0 FROM dt),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source"))},
      |hh AS (SELECT DISTINCT source,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |rn AS (
      |  SELECT source, h,
      |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM hh),
      |kmin AS (SELECT source, h FROM rn WHERE rn <= 128),
      |per AS (
      |  SELECT source, max(h) AS kth_min_hash,
      |         CAST(count(*) AS BIGINT) AS k_used
      |  FROM kmin GROUP BY 1),
      |mk AS (SELECT h FROM (SELECT DISTINCT h FROM kmin) ORDER BY h LIMIT 128),
      |mh AS (SELECT max(h) AS kth_min_hash, CAST(count(*) AS BIGINT) AS k_used
      |       FROM mk),
      |unioned AS (
      |  SELECT source, kth_min_hash, k_used FROM per
      |  UNION ALL
      |  SELECT '__merged__', kth_min_hash, k_used FROM mh)
      |SELECT source, kth_min_hash, k_used,
      |  CAST(CASE WHEN k_used < 128 THEN k_used
      |       ELSE (9223372036854775807 // greatest(kth_min_hash, 1)) * 127 END AS BIGINT)
      |    AS kmv_est
      |FROM unioned""".stripMargin
  }

  // WINDOWED KMV (tumbling 1-week windows): the per-window catalog
  // question — "distinct users per week per event type" — which the
  // global sketch can't answer. The window start rides INSIDE the
  // sketch group key (windowStart|group), so the existing kernels
  // (rank/merge/estimate) apply unchanged; k = 32 so the sketch
  // genuinely estimates at sf0.01+ (≈150 users/group) and passes
  // through exact below it. The __merged__ row is KEPT: merging every
  // window's sketch reproduces the GLOBAL k-min sketch — the rollup
  // identity is in the hash-compared output.
  private val sketchKmvWindowed: Q = (s, dir) => {
    val S = graft.llm.SketchOps
    val df = events(s, dir)
      .select(col("event_type"), col("user_id").cast("string").as("term"),
        col("sec"))
      .withColumn("wsrc", S.windowedKey(col("sec"), 604800L, col("event_type")))
    S.splitWindowedKey(S.kmvDistinct(df, "wsrc", "term", 32))
      .select("window_start", "source", "n_exact", "kth_min_hash",
        "k_used", "kmv_est")
  }
  private def kmvWindowedOracle(withExact: Boolean) = {
    val exactCol = if (withExact) "n_exact, " else ""
    val exactCte = if (withExact)
      """rne AS (
        |  SELECT source, h,
        |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n_exact
        |  FROM hh),
        |per AS (
        |  SELECT source, n_exact, max(h) AS kth_min_hash,
        |         CAST(count(*) AS BIGINT) AS k_used
        |  FROM rne WHERE rn <= 32 GROUP BY 1, 2),
        |me AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
        |       FROM (SELECT DISTINCT h FROM hh)),
        |unioned AS (
        |  SELECT source, n_exact, kth_min_hash, k_used FROM per
        |  UNION ALL
        |  SELECT '__merged__', me.n_exact, mh.kth_min_hash, mh.k_used
        |  FROM me, mh)""".stripMargin
    else
      """rne AS (
        |  SELECT source, h,
        |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM hh),
        |per AS (
        |  SELECT source, max(h) AS kth_min_hash,
        |         CAST(count(*) AS BIGINT) AS k_used
        |  FROM rne WHERE rn <= 32 GROUP BY 1),
        |unioned AS (
        |  SELECT source, kth_min_hash, k_used FROM per
        |  UNION ALL
        |  SELECT '__merged__', kth_min_hash, k_used FROM mh)""".stripMargin
    val estBase = if (withExact) "n_exact" else "k_used"
    s"""WITH ev AS (
      |  SELECT event_type, CAST(user_id AS VARCHAR) AS term,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |st AS (
      |  SELECT CAST(sec - sec % 604800 AS VARCHAR) || '|' || event_type
      |           AS source,
      |         term
      |  FROM ev),
      |dt AS (SELECT DISTINCT source, term FROM st),
      |z AS (SELECT source, (${FnvOracleSql.fnvStrPublic("term")}) AS z0 FROM dt),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source"))},
      |hh AS (SELECT DISTINCT source,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |km AS (SELECT source, h FROM (
      |         SELECT source, h,
      |           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |         FROM hh) WHERE rn <= 32),
      |mk AS (SELECT h FROM (SELECT DISTINCT h FROM km) ORDER BY h LIMIT 32),
      |mh AS (SELECT max(h) AS kth_min_hash, CAST(count(*) AS BIGINT) AS k_used
      |       FROM mk),
      |$exactCte
      |SELECT CASE WHEN source = '__merged__' THEN NULL
      |       ELSE CAST(string_split(source, '|')[1] AS BIGINT) END
      |         AS window_start,
      |  CASE WHEN source = '__merged__' THEN source
      |       ELSE substring(source, strpos(source, '|') + 1) END AS source,
      |  ${exactCol}kth_min_hash, k_used,
      |  CAST(CASE WHEN k_used < 32 THEN $estBase
      |       ELSE (9223372036854775807 // greatest(kth_min_hash, 1)) * 31
      |       END AS BIGINT) AS kmv_est
      |FROM unioned""".stripMargin
  }
  private val sketchKmvWindowedOracle = kmvWindowedOracle(withExact = true)

  // WINDOWED CMS HEAVY HITTERS — the frequency half of the windowed
  // family ("hot keys per hour"): per weekly window, a 4×1024 counter
  // frame (merges cellwise per (window, i, bucket); a stream's state
  // is open_windows × depth·width cells, evicting by window_start —
  // the same close-and-emit story the windowed KMV stream measures),
  // point-queried for each window's exact top-3 users. cms_est >=
  // exact_tf always, per window.
  private val sketchCmsWindowed: Q = (s, dir) => {
    val S = graft.llm.SketchOps
    val (depth, width) = (4, 1024)
    val ev = events(s, dir).select(
      col("user_id").cast("string").as("term"), col("sec"))
    S.cmsProbeWindowed(
      S.cmsCountersWindowed(ev, "term", "sec", 604800L, depth, width),
      S.cmsTopCandidatesWindowed(ev, "term", "sec", 604800L, 3),
      depth, width)
  }
  private val sketchCmsWindowedOracle = {
    def hb(i: Int) =
      s"CAST((${FnvOracleSql.fnvStrPublic(s"('$i' || term)")}) & " +
        s"9223372036854775807::HUGEINT AS BIGINT) % 1024"
    val counters = (0 until 4).map(i =>
      s"""c$i AS (
         |  SELECT window_start, ${hb(i)} AS bucket,
         |         CAST(sum(tf) AS BIGINT) AS cnt
         |  FROM tf0 GROUP BY 1, 2)""".stripMargin).mkString(",\n")
    s"""WITH ev AS (
      |  SELECT CAST(user_id AS VARCHAR) AS term,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |st AS (SELECT sec - sec % 604800 AS window_start, term FROM ev),
      |tf0 AS (SELECT window_start, term, CAST(count(*) AS BIGINT) AS tf
      |        FROM st GROUP BY 1, 2),
      |$counters,
      |top AS (
      |  SELECT window_start, term, tf AS exact_tf,
      |    ${hb(0)} AS b0, ${hb(1)} AS b1, ${hb(2)} AS b2, ${hb(3)} AS b3
      |  FROM tf0
      |  QUALIFY row_number() OVER (PARTITION BY window_start
      |    ORDER BY tf DESC, term) <= 3)
      |SELECT t.window_start, t.term, t.exact_tf,
      |       least(x0.cnt, x1.cnt, x2.cnt, x3.cnt) AS cms_est
      |FROM top t
      |JOIN c0 x0 ON x0.window_start = t.window_start AND x0.bucket = t.b0
      |JOIN c1 x1 ON x1.window_start = t.window_start AND x1.bucket = t.b1
      |JOIN c2 x2 ON x2.window_start = t.window_start AND x2.bucket = t.b2
      |JOIN c3 x3 ON x3.window_start = t.window_start AND x3.bucket = t.b3""".stripMargin
  }

  // WINDOWED CMS AS A STREAM — the frequency twin of
  // q_sketch_kmv_window_stream, same replay dir and the same
  // single-write eviction design: per batch the windowed counter
  // frame merges into the carried state by cellwise addition per
  // (window, i, bucket), the watermark closes passed windows (their
  // cells written once with the closed flag, filtered out of the next
  // carried state — keys never reappear under time-ordered replay),
  // so state is open_windows × depth·width cells at any stream
  // length. Output — and therefore the oracle — is IDENTICAL to
  // q_sketch_cms_windowed: windowed counter mergeability + eviction
  // losing nothing is the hash-compared surface.
  private val sketchCmsWindowStream: Q = (s, dir) => {
    // SmallPin: every per-trigger fold action is over counter-sized frames
    withConf(s, SmallPin: _*) {
      val (depth, width, win) = (4, 1024, 604800L)
      val S = graft.llm.SketchOps
      // in-memory carried state between triggers — see the kmv
      // window stream
      val counters = foldWindows(s, kmvSlicesStaged(s, dir), win,
          col("window_start"))(
        S.cmsCountersWindowed(_, "term", "ts", win, depth, width)) {
        (p, bc) => p.unionByName(bc)
          .groupBy("window_start", "i", "bucket")
          .agg(sum("cnt").as("cnt"))
      }
      // candidates from the batch side — the verification twin, the
      // q_sketch_cms_stream precedent
      val ev = events(s, dir).select(
        col("user_id").cast("string").as("term"), col("sec"))
      S.cmsProbeWindowed(counters,
        S.cmsTopCandidatesWindowed(ev, "term", "sec", win, 3), depth,
        width)
    }
  }

  // WINDOWED KMV AS A STREAM with WATERMARK EVICTION — the shape a
  // real pipeline runs ("distinct users per week", forever): per
  // micro-batch the windowed sketch merges into the carried state,
  // the event-time watermark (max ts seen; the replay slices are
  // time-ordered) CLOSES windows whose end has passed — their sketch
  // rows are emitted once and DROPPED from the carried state, so the
  // state is open_windows × groups × k rows no matter how long the
  // stream runs (the global sketch streams carry one sketch forever;
  // this is the form whose state doesn't grow with the window
  // count). Emitted ∪ open is estimate-identical to the batch
  // windowed form — the oracle is the batch oracle minus the exact
  // twin (the stream never held the full distinct set).
  private val sketchKmvWindowStream: Q = (s, dir) => {
    // SmallPin: every per-trigger fold action is over sketch-sized frames
    withConf(s, SmallPin: _*) {
      val (k, win) = (32, 604800L)
      val S = graft.llm.SketchOps
      // per batch, ONE state materialize carrying the `closed` flag
      // (foldWindows): the emit-once contract holds with exactly TWO
      // jobs per batch (the watermark scalar + the state checkpoint)
      // instead of the recompute-per-consumer shape (wm/isEmpty/
      // emit-write/open-write each re-running the merge). State is
      // held in memory between triggers, not round-tripped through
      // parquet.
      val all = foldWindows(s, kmvSlicesStaged(s, dir), win,
          substring_index(col("source"), "|", 1).cast("long"))(b =>
        S.kmvKmin(b.withColumn("wsrc",
            S.windowedKey(col("ts"), win, col("event_type"))),
          "wsrc", "term", k))(S.kmvMerge(_, _, k))
      S.splitWindowedKey(S.kmvEstimate(all, k))
        .select("window_start", "source", "kth_min_hash", "k_used",
          "kmv_est")
    }
  }
  private val sketchKmvWindowStreamOracle = kmvWindowedOracle(withExact = false)

  // Staged time-ordered replay slices for the windowed QUANTILE
  // stream: (event_type, event_id, quantized value, ts) — the
  // kmvSlicesStaged shape with the value column the quantile sample
  // ranks (that dir carries only the distinct-count projection).
  private def quantileSlicesStaged(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_quantile_slices_v1", dir,
        Seq("events")) { tmp =>
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 1000).cast("long").as("v"),
          col("sec").as("ts"))
      graft.sources.Staging.stageSlices(ev, "ts", 3, tmp)
    }

  // WINDOWED QUANTILES AS A STREAM — the third stream twin completing
  // the windowed family (KMV/CMS landed r16; VERDICT r16 #2): the
  // bottom-k-by-hash row sample merges EXACTLY like KMV (the bottom-k
  // of a union of bottom-k sets is the bottom-k of the union), so the
  // watermark-eviction design lifts unchanged — per batch the
  // windowed sample (quantileSample over the windowStart|group
  // composite key) merges into the carried state (quantileMerge), the
  // watermark closes passed windows (written once with the closed
  // flag, filtered out of the next carried state), so state is
  // open_windows × groups × k rows at ANY stream length (scenario 11,
  // SCALE_STREAM_r17.md). Output is the estimate tier of
  // q_sketch_quantile_windowed — the stream never held the full
  // per-window value sets, so there is no exact twin to emit; the
  // oracle is the batch windowed oracle minus its exact columns, and
  // cross-batch sample mergeability is the hash-compared surface.
  private val sketchQuantileWindowStream: Q = (s, dir) => {
    // SmallPin: every per-trigger fold action is over sketch-sized frames
    withConf(s, SmallPin: _*) {
      val (k, win) = (64, 604800L)
      val S = graft.llm.SketchOps
      // in-memory carried state between triggers — see the kmv
      // window stream
      val all = foldWindows(s, quantileSlicesStaged(s, dir), win,
          substring_index(col("source"), "|", 1).cast("long"))(b =>
        S.quantileSample(b.withColumn("wsrc",
            S.windowedKey(col("ts"), win, col("event_type"))),
          "wsrc", "event_id", col("v"), k))(S.quantileMerge(_, _, k))
      S.splitWindowedKey(S.quantileEstimate(all, Seq(50, 90)))
        .select("window_start", "source", "sample_n", "q50_est",
          "q90_est")
    }
  }
  /** The `ev` … `sk` CTEs both weekly-window quantile oracles share:
    * per (week, event_type) source, the 64 value samples of least
    * hash, sorted. */
  private val quantileWindowSampleCtes =
    s"""WITH ev AS (
      |  SELECT event_type, CAST(event_id AS VARCHAR) AS term,
      |         CAST(floor(value * 1000) AS BIGINT) AS v,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events WHERE value IS NOT NULL),
      |st AS (
      |  SELECT CAST(sec - sec % 604800 AS VARCHAR) || '|' || event_type
      |           AS source,
      |         term, v
      |  FROM ev),
      |z AS (SELECT source, v, (${FnvOracleSql.fnvStrPublic("term")}) AS z0
      |      FROM st),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source", "v"))},
      |hh AS (SELECT DISTINCT source, v,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |rn AS (
      |  SELECT source, v,
      |         row_number() OVER (PARTITION BY source ORDER BY h, v) AS rn
      |  FROM hh),
      |samp AS (SELECT source, v FROM rn WHERE rn <= 64),
      |sk AS (SELECT source, list_sort(list(v)) AS sv FROM samp GROUP BY 1)""".stripMargin

  private val sketchQuantileWindowStreamOracle = quantileWindowSampleCtes +
    """
      |SELECT CAST(string_split(source, '|')[1] AS BIGINT) AS window_start,
      |  substring(source, strpos(source, '|') + 1) AS source,
      |  CAST(len(sv) AS BIGINT) AS sample_n,
      |  sv[(len(sv) - 1) * 50 // 100 + 1] AS q50_est,
      |  sv[(len(sv) - 1) * 90 // 100 + 1] AS q90_est
      |FROM sk""".stripMargin

  // SESSION-windowed KMV (VERDICT r16 #5): tumbling windows landed
  // r16; the other real streaming window shape is the SESSION — here
  // "distinct items per user session" (item = event_id mod 50, a
  // 50-item catalog; sessions split at a >3-day gap, which at the
  // driver corpora yields 60-70-event sessions whose ~45 distinct
  // items genuinely exceed k = 32 — both estimator branches run at
  // every SF). The session key is user|session_start (min sec of the
  // session — identity without a counter, which is what lets the
  // stream twin drop closed-session state outright), and the sketch
  // kernels apply UNCHANGED over that composite key: the same
  // windowed-family composition as q_sketch_kmv_windowed with the
  // window id coming from the g1 sessionizer instead of floor
  // arithmetic. kmvDistinct's __merged__ row rides along = the
  // all-sessions distinct rollup.
  /** Attach the `user|session_start` composite sketch key (the g1
    * gap sessionizer, >`gap`-second splits) to an events projection —
    * shared by the session-windowed sketch family. */
  private def withSessionKey(ev: DataFrame, gap: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    ev.withColumn("prev", lag("sec", 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull || col("sec") - col("prev") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("session_start",
        min("sec").over(Window.partitionBy("user_id", "session_id")))
      .withColumn("src", concat(col("user_id").cast("string"), lit("|"),
        col("session_start").cast("string")))
  }
  // withSmallShuffle: the sessionize windows + sketch tiers exchange
  // ~100k narrow rows (a few MB) — 32-way partitioning is dispatch
  // overhead at this volume, the withSmallShuffle story at the
  // events-corpus scale (the sf1 rehearsal drove the same kernels at
  // 1M rows through the stream twin's own DOP)
  private val sketchKmvSession: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("events")) {
    val sess = withSessionKey(events(s, dir).select(col("event_id"),
        col("user_id"), col("sec"))
      .withColumn("item", (col("event_id") % 50).cast("string")), 259200L)
    graft.llm.SketchOps.kmvDistinct(sess, "src", "item", 32)
  }
  /** The g1 gap sessionizer in SQL over an `ev` CTE of (event_id,
    * user_id, sec, …): a gap over 3 days opens a session. The `flags`
    * and `sess` CTEs the session-sketch oracles share. */
  private val sessionCtes =
    """flags AS (
      |  SELECT *,
      |    CASE WHEN lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 259200 THEN 1 ELSE 0 END
      |      AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY sec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM flags),
      |""".stripMargin

  private def kmvSessionOracle(withExact: Boolean): String = {
    val exactCol = if (withExact) "n_exact, " else ""
    val estBase = if (withExact) "n_exact" else "k_used"
    val merged = if (withExact)
      """
        |  UNION ALL
        |  SELECT '__merged__', me.n_exact, mh.kth_min_hash, mh.k_used
        |  FROM me, mh""".stripMargin
    else ""
    val perExact = if (withExact) "n_exact, " else ""
    s"""WITH ev AS (
      |  SELECT event_id, user_id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |${sessionCtes}st AS (
      |  SELECT CAST(user_id AS VARCHAR) || '|' ||
      |           CAST(min(sec) OVER (PARTITION BY user_id, session_id)
      |                AS VARCHAR) AS source,
      |         CAST(event_id % 50 AS VARCHAR) AS term
      |  FROM sess),
      |dt AS (SELECT DISTINCT source, term FROM st),
      |z AS (SELECT source, (${FnvOracleSql.fnvStrPublic("term")}) AS z0
      |      FROM dt),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source"))},
      |hh AS (SELECT DISTINCT source,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |rn AS (
      |  SELECT source, h,
      |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n_exact
      |  FROM hh),
      |kmin AS (SELECT * FROM rn WHERE rn <= 32),
      |per AS (
      |  SELECT source, n_exact, max(h) AS kth_min_hash,
      |         CAST(count(*) AS BIGINT) AS k_used
      |  FROM kmin GROUP BY 1, 2),
      |mk AS (SELECT h FROM (SELECT DISTINCT h FROM kmin) ORDER BY h LIMIT 32),
      |mh AS (SELECT max(h) AS kth_min_hash, CAST(count(*) AS BIGINT) AS k_used
      |       FROM mk),
      |me AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
      |       FROM (SELECT DISTINCT h FROM hh)),
      |unioned AS (
      |  SELECT source, ${perExact}kth_min_hash, k_used FROM per$merged)
      |SELECT source, ${exactCol}kth_min_hash, k_used,
      |  CAST(CASE WHEN k_used < 32 THEN $estBase
      |       ELSE (9223372036854775807 // greatest(kth_min_hash, 1)) * 31
      |       END AS BIGINT) AS kmv_est
      |FROM unioned""".stripMargin
  }
  private val sketchKmvSessionOracle = kmvSessionOracle(withExact = true)

  // Staged time-ordered replay slices for the SESSION sketch stream:
  // (user_id, event_id, item, ts, event_time) in 3 slices plus the
  // two far-future sentinels the TWS stream entries use (the first
  // advances the watermark past every real session's close timer, the
  // second gives the timers a batch to fire in; sentinel user -1 is
  // filtered from the output).
  private def sessionSlicesStaged(s: SparkSession, dir: String): String = {
    val spark2 = s
    import spark2.implicits._
    graft.sources.Staging.staged("graft_session_slices_v1", dir,
        Seq("events")) { tmp =>
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
          (col("event_id") % 50).cast("string").as("item"),
          col("sec").as("ts"))
        .withColumn("event_time", col("ts").cast("timestamp"))
      graft.sources.Staging.stageSlices(ev, "ts", 3, tmp)
      graft.sources.Staging.appendSentinels(tmp, "ts", 3) { (k, ts) =>
        Seq((-1L, -k.toLong, "s", ts)).toDF("user_id", "event_id", "item", "ts")
          .withColumn("event_time", col("ts").cast("timestamp"))
      }
    }
  }

  // SESSIONIZED KMV AS A REAL STREAM — TwsKmvSession: one RocksDB
  // state row per OPEN session (session_start is the identity, so
  // closed sessions drop their state outright — no counter survives),
  // per-key event-time timers close a session gapSeconds after its
  // latest event, inline closes handle multiple sessions inside one
  // batch. Emits one sketch row per closed session; the estimate
  // finalizes with the shared KMV integer formula. Oracle = the batch
  // session oracle minus the exact twin and the __merged__ rollup
  // (the stream never held the distinct sets and emits per-session
  // rows only): gap-close parity between the TWS machinery and the
  // batch window sessionizer is the hash-compared surface.
  // State partitions size-gated (4 at sf0.1, r20 sweep,
  // SCALE_STREAM_r20.md: 3.7-4.3 → 3.2 s); changelog measured neutral
  // at this state size — off.
  private val sketchKmvSessionStream: Q = (s, dir) => {
    val spark2 = s
    import spark2.implicits._
    // 2 files/trigger: [s0,s1][s2,sent1][sent2] — sessions spanning
    // batch boundaries, inline closes, the watermark advance and
    // the timer-fire batch all survive at 3 trigger floors instead
    // of 5 (see asofStream)
    replay(s, sessionSlicesStaged(s, dir)) { in =>
      graft.streaming.TwsKmvSession.sessionSketch(
        in.as[graft.streaming.KmvSessEvent], 259200L, 32).toDF()
    }.filter(col("user_id") >= 0)
      .select(
        concat(col("user_id").cast("string"), lit("|"),
          col("session_start").cast("string")).as("source"),
        col("kth_min_hash"), col("k_used"),
        when(col("k_used") < 32, col("k_used"))
          .otherwise(expr(
            "(9223372036854775807 DIV greatest(kth_min_hash, 1)) * 31"))
          .as("kmv_est"))
  }
  private val sketchKmvSessionStreamOracle =
    kmvSessionOracle(withExact = false)

  // SESSION-windowed QUANTILES — the quantile member of the session
  // family ("p90 value inside a user session"): the bottom-k row
  // sample rides the SAME user|session_start composite key as the
  // session KMV — sample kernel, merge, and estimator unchanged (the
  // windowed-quantile composition with the window id coming from the
  // g1 gap sessionizer instead of floor arithmetic). k = 32: full
  // >3-day-gap sessions hold ~60-88 value events so they genuinely
  // estimate, sparse sessions exercise the exact passthrough. The
  // per-session frequency question is deliberately NOT sketched — a
  // ≤90-event session needs no counter frame — so the session column
  // of the family is cardinality + quantiles. Sessions are defined
  // over the value-carrying events (value IS NOT NULL, mirrored);
  // the exact order statistics ride along as the twin.
  private val sketchQuantileSession: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("events")) {
    val S = graft.llm.SketchOps
    val sess = withSessionKey(events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("sec"),
        floor(col("value") * 1000).cast("long").as("v")), 259200L)
    val est = S.quantileEstimate(
      S.quantileSample(sess, "src", "event_id", col("v"), 32),
      Seq(50, 90))
    val exact = sess.groupBy(col("src").as("source"))
      .agg(sort_array(collect_list(col("v"))).as("ev2"))
      .select(col("source"), size(col("ev2")).cast("long").as("exact_n"),
        expr("element_at(ev2, CAST((CAST(size(ev2) AS BIGINT) - 1) * 50 DIV 100 AS INT) + 1)")
          .as("q50_exact"),
        expr("element_at(ev2, CAST((CAST(size(ev2) AS BIGINT) - 1) * 90 DIV 100 AS INT) + 1)")
          .as("q90_exact"))
    est.join(exact, "source")
  }
  private val sketchQuantileSessionOracle = {
    s"""WITH ev AS (
      |  SELECT event_id, user_id,
      |         CAST(floor(value * 1000) AS BIGINT) AS v,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events WHERE value IS NOT NULL),
      |${sessionCtes}st AS (
      |  SELECT CAST(user_id AS VARCHAR) || '|' ||
      |           CAST(min(sec) OVER (PARTITION BY user_id, session_id)
      |                AS VARCHAR) AS source,
      |         CAST(event_id AS VARCHAR) AS term, v
      |  FROM sess),
      |z AS (SELECT source, v, (${FnvOracleSql.fnvStrPublic("term")}) AS z0
      |      FROM st),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source", "v"))},
      |hh AS (SELECT DISTINCT source, v,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |rn AS (
      |  SELECT source, v,
      |         row_number() OVER (PARTITION BY source ORDER BY h, v) AS rn
      |  FROM hh),
      |samp AS (SELECT source, v FROM rn WHERE rn <= 32),
      |sk AS (SELECT source, list_sort(list(v)) AS sv FROM samp GROUP BY 1),
      |ex AS (SELECT source, list_sort(list(v)) AS ev2 FROM st GROUP BY 1)
      |SELECT s.source,
      |  CAST(len(sv) AS BIGINT) AS sample_n,
      |  sv[(len(sv) - 1) * 50 // 100 + 1] AS q50_est,
      |  sv[(len(sv) - 1) * 90 // 100 + 1] AS q90_est,
      |  CAST(len(ev2) AS BIGINT) AS exact_n,
      |  ev2[(len(ev2) - 1) * 50 // 100 + 1] AS q50_exact,
      |  ev2[(len(ev2) - 1) * 90 // 100 + 1] AS q90_exact
      |FROM sk s JOIN ex e ON s.source = e.source""".stripMargin
  }

  // SESSION-windowed CMS (r18 VERDICT #8) — the frequency leg
  // completing the session-sketch family: "hot items per user
  // session" over the SAME user|session_start composite key as the
  // session KMV/quantile forms. The keyed kernels
  // (SketchOps.cmsCountersKeyed / cmsTopCandidatesKeyed /
  // cmsProbeKeyed) are the windowed-CMS composition with the window
  // id coming from the g1 gap sessionizer instead of floor
  // arithmetic; state in the stream twin is open_sessions ×
  // ≤ depth·width cells, and closed sessions evict outright.
  private val sketchCmsSession: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("events")) {
    val S = graft.llm.SketchOps
    val (depth, width) = (4, 1024)
    val sess = withSessionKey(events(s, dir).select(col("event_id"),
        col("user_id"), col("sec"))
      .withColumn("item", (col("event_id") % 50).cast("string")), 259200L)
      .select(col("src"), col("item"))
    S.cmsProbeKeyed(
      S.cmsCountersKeyed(sess, "src", "item", depth, width),
      S.cmsTopCandidatesKeyed(sess, "src", "item", 3), depth, width)
  }
  private val sketchCmsSessionOracle = {
    def hb(i: Int) =
      s"CAST((${FnvOracleSql.fnvStrPublic(s"('$i' || term)")}) & " +
        s"9223372036854775807::HUGEINT AS BIGINT) % 1024"
    val counters = (0 until 4).map(i =>
      s"""c$i AS (
         |  SELECT source, ${hb(i)} AS bucket,
         |         CAST(sum(tf) AS BIGINT) AS cnt
         |  FROM tf0 GROUP BY 1, 2)""".stripMargin).mkString(",\n")
    s"""WITH ev AS (
      |  SELECT event_id, user_id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |${sessionCtes}st AS (
      |  SELECT CAST(user_id AS VARCHAR) || '|' ||
      |           CAST(min(sec) OVER (PARTITION BY user_id, session_id)
      |                AS VARCHAR) AS source,
      |         CAST(event_id % 50 AS VARCHAR) AS term
      |  FROM sess),
      |tf0 AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
      |        FROM st GROUP BY 1, 2),
      |$counters,
      |top AS (
      |  SELECT source, term, tf AS exact_tf,
      |    ${hb(0)} AS b0, ${hb(1)} AS b1, ${hb(2)} AS b2, ${hb(3)} AS b3
      |  FROM tf0
      |  QUALIFY row_number() OVER (PARTITION BY source
      |    ORDER BY tf DESC, term) <= 3)
      |SELECT t.source, t.term, t.exact_tf,
      |       least(x0.cnt, x1.cnt, x2.cnt, x3.cnt) AS cms_est
      |FROM top t
      |JOIN c0 x0 ON x0.source = t.source AND x0.bucket = t.b0
      |JOIN c1 x1 ON x1.source = t.source AND x1.bucket = t.b1
      |JOIN c2 x2 ON x2.source = t.source AND x2.bucket = t.b2
      |JOIN c3 x3 ON x3.source = t.source AND x3.bucket = t.b3""".stripMargin
  }

  // SESSION CMS AS A STREAM — TwsCmsSession (the KmvSessionProcessor
  // generalized: sparse counter cells instead of the k-min set as the
  // per-open-session state, ≤ depth·min(items, width) entries). Each
  // closed session emits its cells once; the probe finalizes outside
  // the stream against the batch side's exact top candidates (the
  // cmsTopCandidatesKeyed demo-twin contract), so output — and
  // therefore the oracle — is IDENTICAL to q_sketch_cms_session:
  // stream cells == batch cells cell-for-cell is the hash-compared
  // surface.
  // State partitions size-gated (4 at sf0.1, r20 sweep,
  // SCALE_STREAM_r20.md: 4.9-5.8 → 4.0-4.8 s); changelog measured
  // neutral at this state size — off.
  private val sketchCmsSessionStream: Q = (s, dir) => {
    val spark2 = s
    import spark2.implicits._
    val S = graft.llm.SketchOps
    val (depth, width) = (4, 1024)
    // 2 files/trigger — see sketchKmvSessionStream
    val counters = replay(s, sessionSlicesStaged(s, dir)) { in =>
      graft.streaming.TwsCmsSession.sessionCounters(
        in.as[graft.streaming.KmvSessEvent], 259200L, depth, width).toDF()
    }.filter(col("user_id") >= 0)
      .select(
        concat(col("user_id").cast("string"), lit("|"),
          col("session_start").cast("string")).as("source"),
        expr(s"CAST(cell DIV $width AS INT)").as("i"),
        (col("cell") % width).as("bucket"), col("cnt"))
    val sessBatch = withSessionKey(events(s, dir)
      .select(col("event_id"), col("user_id"), col("sec"))
      .withColumn("item", (col("event_id") % 50).cast("string")),
      259200L).select(col("src"), col("item"))
    S.cmsProbeKeyed(counters,
      S.cmsTopCandidatesKeyed(sessBatch, "src", "item", 3),
      depth, width)
  }

  // CMS AS A STREAM (the frequency twin of q_sketch_kmv_stream, same
  // replay dir): each micro-batch's counter frame (SketchOps.
  // cmsCounters — the SAME core as the batch entry) merges into the
  // carried state by CELLWISE ADDITION (cmsMerge), so the between-
  // batch state is the fixed ≤ depth·width counter frame at any
  // stream volume. The final probe reads the merged counters; the
  // exact top-20 candidates come from the batch side as the
  // verification twin. Output — and therefore the oracle — is
  // IDENTICAL to q_sketch_cms_heavy: counter mergeability across
  // micro-batches is the hash-compared surface.
  private val sketchCmsStream: Q = (s, dir) => {
    // SmallPin: every per-trigger fold action is over counter-sized frames
    withConf(s, SmallPin: _*) {
      val (depth, width, topK) = (4, 1024, 20)
      // counter-sized carried state held in memory between triggers
      // instead of a parquet write+re-read per batch
      val state = foldBatches(s, kmvSlicesStaged(s, dir))(
        graft.llm.SketchOps.cmsCounters(_, "term", depth, width))(
        graft.llm.SketchOps.cmsMerge)
      val candidates = graft.llm.SketchOps.cmsTopCandidates(
        events(s, dir).select(col("user_id").cast("string").as("term")),
        "term", topK)
      graft.llm.SketchOps.cmsProbe(state, candidates, depth, width)
    }
  }

  private val sketchCmsHeavy: Q = (s, dir) =>
    graft.llm.SketchOps.cmsHeavyHitters(
      events(s, dir).select(col("user_id").cast("string").as("term")),
      "term")
  private val sketchCmsHeavyOracle = {
    def hb(i: Int) =
      s"CAST((${FnvOracleSql.fnvStrPublic(s"('$i' || term)")}) & " +
        s"9223372036854775807::HUGEINT AS BIGINT) % 1024"
    val counters = (0 until 4).map(i =>
      s"""c$i AS (
         |  SELECT ${hb(i)} AS bucket, CAST(sum(tf) AS BIGINT) AS cnt
         |  FROM tf0 GROUP BY 1)""".stripMargin).mkString(",\n")
    s"""WITH st AS (
      |  SELECT CAST(user_id AS VARCHAR) AS term FROM events),
      |tf0 AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
      |        FROM st GROUP BY 1),
      |$counters,
      |top AS (
      |  SELECT term, tf AS exact_tf,
      |    ${hb(0)} AS b0, ${hb(1)} AS b1, ${hb(2)} AS b2, ${hb(3)} AS b3
      |  FROM tf0
      |  QUALIFY row_number() OVER (ORDER BY tf DESC, term) <= 20)
      |SELECT t.term, t.exact_tf,
      |       least(x0.cnt, x1.cnt, x2.cnt, x3.cnt) AS cms_est
      |FROM top t
      |JOIN c0 x0 ON x0.bucket = t.b0
      |JOIN c1 x1 ON x1.bucket = t.b1
      |JOIN c2 x2 ON x2.bucket = t.b2
      |JOIN c3 x3 ON x3.bucket = t.b3""".stripMargin
  }

  // QUANTILE SKETCH (bottom-k-by-hash uniform row sample, k=128):
  // per-event_type q50/q90 of the integer-quantized value column,
  // estimated from the k rows with the smallest splitmix-finalized
  // key hash — a deterministic uniform sample that merges exactly
  // like KMV (bottom-k of a union of bottom-k sets). Completes the
  // mergeable-summary family: cardinality (KMV), frequency (CMS),
  // quantiles (this). The exact quantiles over the full group ride
  // along as the verification twin; every arithmetic step (hash,
  // rank, lower-interpolation index (n-1)·q DIV 100) is integer and
  // mirrored in the oracle, so estimates hash-compare, not just
  // tolerance-check (contrast q_o_approx_quantiles' Greenwald-Khanna
  // gauge, which is partition-order-dependent).
  private val sketchQuantile: Q = (s, dir) => {
    val ev = events(s, dir)
      .filter(col("value").isNotNull) // collect_list drops nulls, list() keeps them
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 1000).cast("long").as("v"))
    val est = graft.llm.SketchOps.quantileEstimate(
      graft.llm.SketchOps.quantileSample(ev, "event_type", "event_id",
        col("v"), 128), Seq(50, 90))
    val exact = ev.groupBy(col("event_type").as("source"))
      .agg(sort_array(collect_list(col("v"))).as("ev2"))
      .select(col("source"), size(col("ev2")).cast("long").as("exact_n"),
        expr("element_at(ev2, CAST((CAST(size(ev2) AS BIGINT) - 1) * 50 DIV 100 AS INT) + 1)")
          .as("q50_exact"),
        expr("element_at(ev2, CAST((CAST(size(ev2) AS BIGINT) - 1) * 90 DIV 100 AS INT) + 1)")
          .as("q90_exact"))
    est.join(exact, "source")
  }
  private val sketchQuantileOracle = {
    s"""WITH st AS (
      |  SELECT event_type AS source, CAST(event_id AS VARCHAR) AS term,
      |         CAST(floor(value * 1000) AS BIGINT) AS v
      |  FROM events WHERE value IS NOT NULL),
      |z AS (SELECT source, v, (${FnvOracleSql.fnvStrPublic("term")}) AS z0
      |      FROM st),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source", "v"))},
      |hh AS (SELECT DISTINCT source, v,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |rn AS (
      |  SELECT source, v,
      |         row_number() OVER (PARTITION BY source ORDER BY h, v) AS rn
      |  FROM hh),
      |samp AS (SELECT source, v FROM rn WHERE rn <= 128),
      |sk AS (SELECT source, list_sort(list(v)) AS sv FROM samp GROUP BY 1),
      |ex AS (SELECT source, list_sort(list(v)) AS ev2 FROM st GROUP BY 1)
      |SELECT s.source,
      |  CAST(len(sv) AS BIGINT) AS sample_n,
      |  sv[(len(sv) - 1) * 50 // 100 + 1] AS q50_est,
      |  sv[(len(sv) - 1) * 90 // 100 + 1] AS q90_est,
      |  CAST(len(ev2) AS BIGINT) AS exact_n,
      |  ev2[(len(ev2) - 1) * 50 // 100 + 1] AS q50_exact,
      |  ev2[(len(ev2) - 1) * 90 // 100 + 1] AS q90_exact
      |FROM sk s JOIN ex e ON s.source = e.source""".stripMargin
  }

  // WINDOWED QUANTILES — the third member of the windowed family
  // (cardinality / frequency / quantiles, one per catalog question):
  // per weekly window and event type, q50/q90 of the quantized value
  // from the bottom-k-by-hash row sample, the window start riding in
  // the composite sketch key exactly as the windowed KMV/CMS do —
  // the sample kernel, merge, and estimator apply unchanged. k = 64
  // so sf0.01+ windows genuinely estimate (≈400 values/group) and
  // sf0.001's sparse windows exercise the exact passthrough; the
  // exact windowed order statistics ride along as the twin.
  private val sketchQuantileWindowed: Q = (s, dir) => {
    val S = graft.llm.SketchOps
    val ev = events(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("sec"),
        floor(col("value") * 1000).cast("long").as("v"))
      .withColumn("wsrc",
        S.windowedKey(col("sec"), 604800L, col("event_type")))
    val est = S.quantileEstimate(
      S.quantileSample(ev, "wsrc", "event_id", col("v"), 64), Seq(50, 90))
    val exact = ev.groupBy(col("wsrc").as("source"))
      .agg(sort_array(collect_list(col("v"))).as("ev2"))
      .select(col("source"), size(col("ev2")).cast("long").as("exact_n"),
        expr("element_at(ev2, CAST((CAST(size(ev2) AS BIGINT) - 1) * 50 DIV 100 AS INT) + 1)")
          .as("q50_exact"),
        expr("element_at(ev2, CAST((CAST(size(ev2) AS BIGINT) - 1) * 90 DIV 100 AS INT) + 1)")
          .as("q90_exact"))
    S.splitWindowedKey(est.join(exact, "source"))
      .select("window_start", "source", "sample_n", "q50_est", "q90_est",
        "exact_n", "q50_exact", "q90_exact")
  }
  private val sketchQuantileWindowedOracle = quantileWindowSampleCtes +
    """,
      |ex AS (SELECT source, list_sort(list(v)) AS ev2 FROM st GROUP BY 1)
      |SELECT CAST(string_split(s.source, '|')[1] AS BIGINT) AS window_start,
      |  substring(s.source, strpos(s.source, '|') + 1) AS source,
      |  CAST(len(sv) AS BIGINT) AS sample_n,
      |  sv[(len(sv) - 1) * 50 // 100 + 1] AS q50_est,
      |  sv[(len(sv) - 1) * 90 // 100 + 1] AS q90_est,
      |  CAST(len(ev2) AS BIGINT) AS exact_n,
      |  ev2[(len(ev2) - 1) * 50 // 100 + 1] AS q50_exact,
      |  ev2[(len(ev2) - 1) * 90 // 100 + 1] AS q90_exact
      |FROM sk s JOIN ex e ON s.source = e.source""".stripMargin

  // KMV SET OPERATIONS (Beyer et al. SIGMOD'07): for every pair of
  // event_types, estimate how many distinct USERS the two types SHARE
  // (and each side's exclusive count) from the k-min sketches ALONE —
  // the union sketch of a pair is the k smallest of the two k-min
  // sets, ρ = the fraction of it present in both sides, and
  // |A∩B| ≈ ρ·est(|A∪B|). This upgrades q_llm_source_overlap's
  // Jaccard-shaped answer to actual shared-cardinality numbers — the
  // question a dedup or decontamination budget asks. The exact
  // pairwise union/intersection counts ride along as the verification
  // twin; every step (hash, rank, membership flags, DIV-first
  // integer estimate) is mirrored in the oracle, so the estimates
  // hash-compare. Across SFs both estimator branches run: sf0.001's
  // 15-user domain exercises the exact passthrough (k_used < k),
  // sf0.01/0.1 the full-sketch ρ-scaled form.
  private val sketchKmvIntersect: Q = (s, dir) =>
    graft.llm.SketchOps.kmvSetOpsWithExact(
      events(s, dir).select(col("event_type"),
        col("user_id").cast("string").as("term")),
      "event_type", "term")
  private val sketchKmvIntersectOracle = {
    s"""WITH st AS (
      |  SELECT event_type AS source, CAST(user_id AS VARCHAR) AS term
      |  FROM events),
      |dt AS (SELECT DISTINCT source, term FROM st),
      |z AS (SELECT source, (${FnvOracleSql.fnvStrPublic("term")}) AS z0 FROM dt),
      |${FnvOracleSql.mix64Ctes("q", "z", Seq("source"))},
      |hh AS MATERIALIZED (SELECT DISTINCT source,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM qf),
      |rn AS (
      |  SELECT source, h,
      |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM hh),
      |kmin AS MATERIALIZED (SELECT source, h FROM rn WHERE rn <= 128),
      |pairs AS MATERIALIZED (
      |  SELECT a.source AS src_a, b.source AS src_b
      |  FROM (SELECT DISTINCT source FROM hh) a,
      |       (SELECT DISTINCT source FROM hh) b
      |  WHERE a.source < b.source),
      |ph AS (
      |  SELECT p.src_a, p.src_b, k.h,
      |         max(CASE WHEN k.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
      |         max(CASE WHEN k.source = p.src_b THEN 1 ELSE 0 END) AS in_b
      |  FROM pairs p JOIN kmin k
      |    ON k.source = p.src_a OR k.source = p.src_b
      |  GROUP BY 1, 2, 3),
      |us AS (
      |  SELECT * FROM (
      |    SELECT src_a, src_b, h, in_a, in_b,
      |           row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
      |    FROM ph) WHERE rn <= 128),
      |agg AS (
      |  SELECT src_a, src_b,
      |         CAST(count(*) AS BIGINT) AS k_used,
      |         max(h) AS kth_min_hash,
      |         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS inter_cnt,
      |         CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a_only_cnt,
      |         CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b_only_cnt
      |  FROM us GROUP BY 1, 2),
      |est AS (
      |  SELECT *,
      |    CAST(CASE WHEN k_used < 128 THEN k_used
      |         ELSE (9223372036854775807 // greatest(kth_min_hash, 1)) * 127 END
      |      AS BIGINT) AS union_est
      |  FROM agg),
      |tex AS (
      |  SELECT p.src_a, p.src_b, x.h,
      |         max(CASE WHEN x.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
      |         max(CASE WHEN x.source = p.src_b THEN 1 ELSE 0 END) AS in_b
      |  FROM pairs p JOIN hh x
      |    ON x.source = p.src_a OR x.source = p.src_b
      |  GROUP BY 1, 2, 3),
      |ex AS (
      |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS exact_union,
      |         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
      |  FROM tex GROUP BY 1, 2)
      |SELECT e.src_a, e.src_b, e.k_used, e.kth_min_hash, e.inter_cnt,
      |  e.a_only_cnt, e.b_only_cnt, e.union_est,
      |  CAST(CASE WHEN e.k_used < 128 THEN e.inter_cnt
      |       ELSE (e.union_est // 128) * e.inter_cnt END AS BIGINT) AS inter_est,
      |  CAST(CASE WHEN e.k_used < 128 THEN e.a_only_cnt
      |       ELSE (e.union_est // 128) * e.a_only_cnt END AS BIGINT) AS diff_a_est,
      |  CAST(CASE WHEN e.k_used < 128 THEN e.b_only_cnt
      |       ELSE (e.union_est // 128) * e.b_only_cnt END AS BIGINT) AS diff_b_est,
      |  x.exact_union, x.exact_inter
      |FROM est e JOIN ex x ON e.src_a = x.src_a AND e.src_b = x.src_b""".stripMargin
  }

  // CMS JOIN-SIZE ESTIMATE (Cormode & Muthukrishnan 2005 §4.2): "how
  // big is lineitem ⋈ orders on orderkey?" answered from two 4×1024
  // counter sketches — min over hash rows of the bucketwise inner
  // product, NEVER an underestimate, collision overshoot real at
  // sf0.1 (150k keys over 1024 buckets). The cost-based-planner
  // question a 100 TB engine asks before committing to a join plan,
  // answered from two constant-size summaries without scanning
  // either table at decision time; the exact join cardinality rides
  // along as the verification twin. Integer end to end, mirrored in
  // the oracle's per-row counter CTEs.
  private val sketchCmsJoinSize: Q = (s, dir) => {
    val (depth, width) = (4, 1024)
    val la = t(s, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("term"))
    val ob = t(s, dir, "orders")
      .select(col("o_orderkey").cast("string").as("term"))
    val est = graft.llm.SketchOps.cmsJoinSize(
      graft.llm.SketchOps.cmsCounters(la, "term", depth, width),
      graft.llm.SketchOps.cmsCounters(ob, "term", depth, width), depth)
    val exact = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("exact_join_size"))
    est.crossJoin(exact)
  }
  private val sketchCmsJoinSizeOracle = {
    def hb(i: Int) =
      s"CAST((${FnvOracleSql.fnvStrPublic(s"('$i' || term)")}) & " +
        s"9223372036854775807::HUGEINT AS BIGINT) % 1024"
    val counters = (0 until 4).flatMap(i => Seq(
      s"""a$i AS (SELECT ${hb(i)} AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt FROM la GROUP BY 1)""".stripMargin,
      s"""b$i AS (SELECT ${hb(i)} AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt FROM ob GROUP BY 1)""".stripMargin))
      .mkString(",\n")
    // HUGEINT headroom on the inner product — mirrors the engine's
    // DECIMAL(38,0) widening (bucketwise products overflow BIGINT at
    // the table sizes the estimator targets)
    val ips = (0 until 4).map(i =>
      s"coalesce((SELECT CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS BIGINT) " +
        s"FROM a$i a JOIN b$i b USING (bucket)), 0)").mkString(", ")
    s"""WITH la AS (SELECT CAST(l_orderkey AS VARCHAR) AS term FROM lineitem),
      |ob AS (SELECT CAST(o_orderkey AS VARCHAR) AS term FROM orders),
      |$counters
      |SELECT least($ips) AS join_size_est,
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
      |   JOIN orders o ON l.l_orderkey = o.o_orderkey) AS exact_join_size""".stripMargin
  }

  // ONE-PASS TABLE PROFILER — the capstone composing the mergeable
  // sketch family the way a 100 TB catalog service uses it: ONE scan
  // of events (PlanShapeSpec pins zero file scans in the final plan —
  // everything derives from the checkpointed stacked projection)
  // profiles user_id / event_type / value(×1000) at once. Per column:
  // row + null counts, exact distinct (twin), the KMV estimate off
  // the SHARED splitmix term hash, CMS point estimates for the exact
  // top-3 values (one counter frame for all columns, colname prefixed
  // into the key — multi-tenant sketch-service shape), and for
  // numeric columns both the bottom-k row-sample quantile estimate
  // (all columns draw the SAME row sample — row_h hashed once per
  // input row, before the stack) and the exact histogram order
  // statistic. Every estimate integer, mirrored in the oracle,
  // hash-compared.
  // SmallPin: everything past the checkpointed one-pass stack
  // is cardinality-sized (the sf0.1 histogram is 19k rows) — 32-way
  // exchanges through the ~12 assembly stages were pure task-dispatch
  // overhead (r17 VERDICT #1; COVERAGE.md's round-16 floor attribution
  // decomposes the wall: one data pass + salted sample + a fixed
  // assembly floor)
  private val profileTableQ: Q = (s, dir) => {
    // DOP 8: every post-scan reduction here is cardinality-sized, so
    // extra shuffle partitions are pure task dispatch (a 16-way
    // probe at sf1 read 40% SLOWER than 8 — r19); the data pass's
    // map width is scan-split-bound, not shuffle-bound, so this does
    // not throttle the hashing pass.
    // AQE off for the assembly: every post-hist frame is
    // cardinality-sized and already partition-pinned, so AQE's
    // per-stage job re-planning is pure fixed cost here
    // profileTable materializes internally (assembly localCheckpoint
    // + post-hoc sample guard), so the whole run sits inside the
    // pinned scope — no second checkpoint needed
    withConf(s, SmallPin: _*)(profileTableInner(s, dir))
  }
  private def profileTableInner(s: SparkSession, dir: String) = {
    val qv = floor(col("value") * 1000).cast("long")
    graft.llm.SketchOps.profileTable(events(s, dir), col("event_id"),
      Seq(
        ("user_id", col("user_id"), Some(col("user_id"))),
        ("event_type", col("event_type"), None),
        ("value", qv, Some(qv))))
  }
  private val profileTableOracle = {
    def hb(i: Int, e: String) =
      s"CAST((${FnvOracleSql.fnvStrPublic(s"('$i' || $e)")}) & " +
        s"9223372036854775807::HUGEINT AS BIGINT) % 1024"
    val counters = (0 until 4).map(i =>
      s"""c$i AS (
         |  SELECT ${hb(i, "pterm")} AS bucket,
         |         CAST(sum(cnt) AS BIGINT) AS ccnt
         |  FROM pt GROUP BY 1)""".stripMargin).mkString(",\n")
    val probeJoins = (0 until 4).map(i =>
      s"LEFT JOIN c$i x$i ON x$i.bucket = t.b$i").mkString("\n")
    val probeLeast = (0 until 4).map(i => s"coalesce(x$i.ccnt, 0)")
      .mkString("least(", ", ", ")")
    val topBuckets = (0 until 4).map(i => s"${hb(i, "pterm")} AS b$i")
      .mkString(", ")
    s"""WITH base AS (
      |  SELECT CAST(event_id AS VARCHAR) AS rk,
      |         CAST(user_id AS VARCHAR) AS s_user,
      |         CAST(user_id AS BIGINT) AS v_user,
      |         event_type AS s_type,
      |         CASE WHEN value IS NULL THEN NULL
      |              ELSE CAST(floor(value * 1000) AS BIGINT) END AS v_value
      |  FROM events),
      |rz AS (SELECT rk, s_user, v_user, s_type, v_value,
      |         (${FnvOracleSql.fnvStrPublic("rk")}) AS z0 FROM base),
      |${FnvOracleSql.mix64Ctes("r", "rz",
            Seq("s_user", "v_user", "s_type", "v_value"))},
      |rh AS MATERIALIZED (SELECT s_user, v_user, s_type, v_value,
      |        CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS row_h
      |      FROM rf),
      |tall AS MATERIALIZED (
      |  SELECT row_h, 'user_id' AS colname, s_user AS term, v_user AS v,
      |         TRUE AS is_num FROM rh
      |  UNION ALL
      |  SELECT row_h, 'event_type', s_type, NULL, FALSE FROM rh
      |  UNION ALL
      |  SELECT row_h, 'value', CAST(v_value AS VARCHAR), v_value, TRUE
      |  FROM rh),
      |hist AS MATERIALIZED (
      |  SELECT colname, term, v, is_num, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tall GROUP BY 1, 2, 3, 4),
      |stats AS (
      |  SELECT colname, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN term IS NULL THEN cnt ELSE 0 END) AS BIGINT)
      |      AS null_cnt,
      |    CAST(count(DISTINCT term) AS BIGINT)
      |      AS n_distinct
      |  FROM hist GROUP BY 1),
      |dterm AS (SELECT DISTINCT colname, term FROM hist
      |          WHERE term IS NOT NULL),
      |tz AS (SELECT colname, term,
      |         (${FnvOracleSql.fnvStrPublic("term")}) AS z0 FROM dterm),
      |${FnvOracleSql.mix64Ctes("t", "tz", Seq("colname", "term"))},
      |th AS (SELECT DISTINCT colname,
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM tf),
      |krn AS (
      |  SELECT colname, h,
      |         row_number() OVER (PARTITION BY colname ORDER BY h) AS rn
      |  FROM th),
      |kmv AS (
      |  SELECT colname, max(h) AS kth_min_hash,
      |         CAST(count(*) AS BIGINT) AS k_used
      |  FROM krn WHERE rn <= 128 GROUP BY 1),
      |kmve AS (
      |  SELECT colname, kth_min_hash, k_used,
      |    CAST(CASE WHEN k_used < 128 THEN k_used
      |         ELSE (9223372036854775807 // greatest(kth_min_hash, 1)) * 127
      |         END AS BIGINT) AS kmv_est
      |  FROM kmv),
      |pt AS MATERIALIZED (
      |  SELECT colname, term, cnt, colname || '|' || term AS pterm
      |  FROM hist WHERE term IS NOT NULL),
      |$counters,
      |topv AS (
      |  SELECT colname, term, cnt, rnk, $topBuckets
      |  FROM (SELECT colname, term, cnt, pterm,
      |          row_number() OVER (PARTITION BY colname
      |            ORDER BY cnt DESC, term ASC) AS rnk
      |        FROM pt)
      |  WHERE rnk <= 3),
      |probed AS (
      |  SELECT t.colname, t.term, t.cnt, t.rnk, $probeLeast AS cms_est
      |  FROM topv t
      |$probeJoins),
      |topagg AS (
      |  SELECT colname,
      |    string_agg(term, ',' ORDER BY rnk) AS top_terms,
      |    string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY rnk) AS top_exact,
      |    string_agg(CAST(cms_est AS VARCHAR), ',' ORDER BY rnk) AS top_cms
      |  FROM probed GROUP BY 1),
      |qs AS (SELECT DISTINCT colname, row_h, v FROM tall
      |       WHERE is_num AND v IS NOT NULL),
      |qrn AS (
      |  SELECT colname, v,
      |         row_number() OVER (PARTITION BY colname ORDER BY row_h, v)
      |           AS rn
      |  FROM qs),
      |qsamp AS (SELECT colname, list_sort(list(v)) AS sv
      |          FROM qrn WHERE rn <= 128 GROUP BY 1),
      |qest AS (
      |  SELECT colname, CAST(len(sv) AS BIGINT) AS sample_n,
      |    sv[(len(sv) - 1) * 50 // 100 + 1] AS q50_est,
      |    sv[(len(sv) - 1) * 90 // 100 + 1] AS q90_est
      |  FROM qsamp),
      |vh AS (SELECT colname, v, CAST(sum(cnt) AS BIGINT) AS vcnt
      |       FROM hist WHERE v IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT colname, v,
      |    CAST(sum(vcnt) OVER (PARTITION BY colname ORDER BY v) AS BIGINT)
      |      AS cum,
      |    CAST(sum(vcnt) OVER (PARTITION BY colname) AS BIGINT) AS n
      |  FROM vh),
      |qx AS (
      |  SELECT colname,
      |    min(CASE WHEN cum >= (n - 1) * 50 // 100 + 1 THEN v END)
      |      AS q50_exact,
      |    min(CASE WHEN cum >= (n - 1) * 90 // 100 + 1 THEN v END)
      |      AS q90_exact
      |  FROM cum GROUP BY 1)
      |SELECT s.colname, s.n_rows, s.null_cnt, s.n_distinct,
      |  k.kth_min_hash, k.k_used, k.kmv_est,
      |  t.top_terms, t.top_exact, t.top_cms,
      |  q.sample_n, q.q50_est, q.q90_est, x.q50_exact, x.q90_exact
      |FROM stats s
      |LEFT JOIN kmve k USING (colname)
      |LEFT JOIN topagg t USING (colname)
      |LEFT JOIN qest q USING (colname)
      |LEFT JOIN qx x USING (colname)""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q_o_approx_distinct", oApproxDistinct, oApproxDistinctOracle),
    Entry("q_sketch_kmv_distinct", sketchKmvDistinct, sketchKmvDistinctOracle),
    Entry("q_sketch_kmv_intersect", sketchKmvIntersect, sketchKmvIntersectOracle),
    Entry("q_sketch_kmv_stream", sketchKmvStream, sketchKmvStreamOracle, stream = true),
    Entry("q_sketch_kmv_windowed", sketchKmvWindowed, sketchKmvWindowedOracle),
    Entry("q_sketch_kmv_window_stream", sketchKmvWindowStream, sketchKmvWindowStreamOracle, stream = true),
    Entry("q_sketch_cms_windowed", sketchCmsWindowed, sketchCmsWindowedOracle),
    Entry("q_sketch_cms_window_stream", sketchCmsWindowStream, sketchCmsWindowedOracle, stream = true),
    Entry("q_sketch_quantile_windowed", sketchQuantileWindowed, sketchQuantileWindowedOracle),
    Entry("q_sketch_quantile_window_stream", sketchQuantileWindowStream, sketchQuantileWindowStreamOracle, stream = true),
    Entry("q_sketch_kmv_session", sketchKmvSession, sketchKmvSessionOracle),
    Entry("q_sketch_kmv_session_stream", sketchKmvSessionStream, sketchKmvSessionStreamOracle, stream = true),
    Entry("q_sketch_quantile_session", sketchQuantileSession, sketchQuantileSessionOracle),
    Entry("q_sketch_cms_session", sketchCmsSession, sketchCmsSessionOracle),
    Entry("q_sketch_cms_session_stream", sketchCmsSessionStream, sketchCmsSessionOracle, stream = true),
    Entry("q_sketch_cms_heavy", sketchCmsHeavy, sketchCmsHeavyOracle),
    Entry("q_sketch_cms_join_size", sketchCmsJoinSize, sketchCmsJoinSizeOracle),
    Entry("q_sketch_cms_stream", sketchCmsStream, sketchCmsHeavyOracle, stream = true),
    Entry("q_sketch_quantile", sketchQuantile, sketchQuantileOracle),
    Entry("q_profile_table", profileTableQ, profileTableOracle),
  )
}
