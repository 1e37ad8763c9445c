package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable, engine-exact cardinality / frequency sketches — the
  * fixed-size summaries a 100 TB corpus catalog maintains where exact
  * per-key aggregation is unaffordable or unmergeable across shards.
  * Both operate on a generic KEY STREAM (one string key per row — a
  * user id, a token from an exploded text column, a URL host...):
  *
  *  - [[kmvDistinct]]: k-minimum-values distinct estimator
  *    (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 — the unbiased
  *    (k−1)/h_k form). Unlike Spark's HLL++ `approx_count_distinct`
  *    (whose sketch is partition-order-dependent — the catalog's
  *    q_o_approx_distinct gauge is only tolerance-checked), KMV over
  *    a deterministic 63-bit FNV hash is bit-reproducible across
  *    engines AND mergeable by construction: the k smallest of a
  *    union of per-shard k-min sets is the k smallest of the union.
  *  - [[cmsHeavyHitters]]: Count-Min sketch (Cormode & Muthukrishnan
  *    2005) — depth×width integer counters, point query = min over
  *    the depth rows, NEVER an underestimate. Counters merge by
  *    cellwise addition, and the build's only shuffle is
  *    counter-sized (map-side combine onto ≤ depth·width keys), so a
  *    web-scale key stream reduces to a constant-size frame.
  *
  * Both use the portable FNV-1a64 kernel ([[graft.functions.TextHash]])
  * masked to the non-negative 63-bit domain, so every hash, rank and
  * estimate hash-compares against the DuckDB oracle (FnvOracleSql's
  * ASCII-corpus constraint applies — digits, as in a stringified id
  * column, always satisfy it).
  */
object SketchOps {

  private val Max63 = Long.MaxValue // 2^63 - 1: the hash domain bound

  /** Low-bit hash (CMS bucket masks): plain FNV — its low bits are
    * well mixed (the classifier's `fnv & 4095` bucketing precedent).
    */
  private def h63(c: Column) =
    graft.functions.LlmFunctions.fnv64(c).bitwiseAND(lit(Max63))

  /** Order-statistic hash (KMV's kth-min): FNV finalized with
    * splitmix64. Raw FNV-1a of SHORT SEQUENTIAL keys is measurably
    * non-uniform in its high bits — a u0..u799 key set estimated 378
    * distinct of 800 true (53% low, 4+ standard errors) before the
    * finalizer and 819 after — so anything that reads the hash as a
    * uniform [0, 2^63) draw must mix first.
    */
  private def mixed63(c: Column) =
    graft.functions.LlmFunctions.mix64(
      graft.functions.LlmFunctions.fnv64(c)).bitwiseAND(lit(Max63))

  /** Per-`groupCol` distinct-`termCol` estimate via a k-minimum-values
    * sketch, plus one `__merged__` row whose sketch is the MERGE of
    * the per-group sketches (k smallest of their union — computed
    * from the group-level k-min rows, never by rescanning the stream:
    * the property that makes per-shard sketches composable at 100 TB).
    *
    * Output per group: `n_exact` (the exact distinct-hash count — the
    * verification twin this demo carries; production keeps only the
    * sketch), `kth_min_hash`, `k_used` (min(k, n_exact) — a sketch
    * holding everything IS the exact answer), and `kmv_est` =
    * `(2^63−1 DIV h_k)·(k−1)` when the sketch is full, else
    * `n_exact`. Integer-division-first keeps every step in BIGINT for
    * both engines (the ±k/h_k rounding this costs is far inside the
    * estimator's own O(D/√k) error).
    *
    * Scale shape: ONE shuffle on the group key (distinct + window
    * rank + windowed exact count all cluster on it); the merge tier
    * consumes groups×k rows.
    */
  /** The (source, h) distinct-hash frame both tiers build on. NULL
    * keys are dropped, not hashed: a null hash would sort FIRST in
    * Spark's ascending window but LAST in DuckDB's — the one spot
    * where the engines' defaults disagree — and a null key has no
    * meaningful cardinality contribution anyway.
    */
  private def hashFrame(df: DataFrame, groupCol: String,
      termCol: String): DataFrame =
    df.filter(col(termCol).isNotNull)
      .select(col(groupCol).as("source"), mixed63(col(termCol)).as("h"))
      .distinct()

  /** Per-group k smallest hashes. `salted = true` runs the
    * [[profileSample]]-style TWO-PHASE rank (r20): phase 1 ranks
    * within (source, h mod 64) — 64 parallel partial sorts — and
    * phase 2 ranks the ≤ 64·k survivors. The salted branch takes the
    * distinct (source, h) rows itself, so a row in the global bottom-k
    * is in its salt group's bottom-k a fortiori and the selected row
    * set is IDENTICAL to the one-window form over distinct input
    * (hashFrame and kmvMerge dedup before the unsalted form). The
    * salted form wins where the per-group input is cardinality-sized
    * and the rank would otherwise serialize one n-row sort per column
    * — the stats finalize, which a streaming re-planner pays per
    * micro-batch.
    * The sketch kernels (k-min folds over ≤ k·batches rows) keep the
    * single window: their inputs are sketch-sized and the extra
    * phase is a pure stage floor (measured +0.2-0.3 s on the batch
    * kmv entries, r20 bench). */
  private def kminOfHashed(hashed: DataFrame, k: Int,
      salted: Boolean = false): DataFrame = {
    val pre = if (!salted) hashed else
      hashed.distinct().withColumn("_salt", pmod(col("h"), lit(64L)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source", "_salt").orderBy("h")))
        .filter(col("rn") <= k).drop("rn", "_salt")
    pre.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Per-group k-minimum-hash SKETCH frame — ≤ k rows per group, the
    * bounded state a stream carries between batches. */
  def kmvKmin(df: DataFrame, groupCol: String, termCol: String,
      k: Int): DataFrame =
    kminOfHashed(hashFrame(df, groupCol, termCol), k)

  /** Merge two k-min sketch frames: the k smallest of the union — the
    * lossless, order-insensitive composition that makes per-shard /
    * per-micro-batch sketches sum to the whole-stream sketch. */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    kminOfHashed(a.unionByName(b).distinct(), k)

  /** Finalize a k-min sketch frame into per-group estimate rows plus
    * the `__merged__` row (sketching the union of the groups, built
    * from the sketch rows alone — never a rescan). A sketch with
    * `k_used < k` holds EVERY distinct hash, so its exact count IS
    * `k_used` and the estimate passes it through.
    */
  def kmvEstimate(kmin: DataFrame, k: Int): DataFrame = {
    val perGroup = kmin.groupBy("source")
      .agg(max("h").as("kth_min_hash"), count(lit(1)).as("k_used"))
    val merged = kmin.select("h").distinct()
      .orderBy("h").limit(k)
      .agg(max("h").as("kth_min_hash"), count(lit(1)).as("k_used"))
      .select(lit("__merged__").as("source"), col("kth_min_hash"),
        col("k_used"))
    perGroup.select(col("source"), col("kth_min_hash"), col("k_used"))
      .unionByName(merged)
      .withColumn("kmv_est",
        when(col("k_used") < k, col("k_used"))
          // greatest(·, 1): if h_k were exactly 0 (probability
          // ~k·2^-63) Spark's DIV yields NULL while DuckDB's //
          // raises — the guard (mirrored in the oracle) pins both
          // engines to the same degenerate answer
          .otherwise(expr(s"($Max63 DIV greatest(kth_min_hash, 1)) * ${k - 1}")))
  }

  def kmvDistinct(df: DataFrame, groupCol: String, termCol: String,
      k: Int = 128): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    // materialized once: three consumers (sketch rank, per-group
    // exact, merged exact) would each re-plan the distinct — column
    // pruning specializes textually-identical subtrees, so exchange
    // reuse never deduplicates them. The frame is cardinality-sized
    // (distinct (group, hash)), the same scale as the exact
    // verification twin this demo form inherently carries.
    val hashed = hashFrame(df, groupCol, termCol).localCheckpoint()
    // exact distinct counts — the verification twin the demo carries
    // next to the estimate (production keeps only the sketch)
    val exact = hashed.groupBy("source").agg(count(lit(1)).as("n_exact"))
      .unionByName(hashed.select("h").distinct()
        .agg(count(lit(1)).as("n_exact"))
        .select(lit("__merged__").as("source"), col("n_exact")))
    kmvEstimate(kminOfHashed(hashed, k), k)
      .join(exact, Seq("source"))
      .select(col("source"), col("n_exact"), col("kth_min_hash"),
        col("k_used"), col("kmv_est"))
  }

  /** Pairwise SET-OPERATION estimates from per-group k-min sketches
    * (the K-min synopsis estimator of Beyer et al., SIGMOD'07): for
    * every unordered source pair (src_a < src_b), build the pair's
    * UNION sketch L = k smallest of L_a ∪ L_b FROM THE SKETCH ROWS
    * ALONE (never a rescan of the key stream), then estimate
    *
    *  - `union_est`  = the usual (k−1)/h_k over L,
    *  - `inter_est`  = |{h ∈ L : h ∈ L_a ∧ h ∈ L_b}| · union_est / k
    *    — "how many distinct users do A and B SHARE", the question a
    *    dedup or decontamination budget actually asks (the Jaccard
    *    matrix of q_llm_source_overlap answers it only in similarity
    *    form),
    *  - `diff_a_est` / `diff_b_est` from the one-sided counts.
    *
    * SOUND because the kth smallest of L_a ∪ L_b is ≤ min(h_k(a),
    * h_k(b)) (each side alone contributes k values below its own
    * h_k), so every h ∈ L that belongs to A ∩ B necessarily appears
    * in BOTH k-min sets — membership is never truncated away. When
    * the union sketch is NOT full (k_used < k) both inputs are
    * complete hash sets and every estimate passes through EXACT —
    * the same passthrough contract as [[kmvEstimate]].
    *
    * Integer arithmetic: `(union_est DIV k) · cnt` (division first —
    * cnt ≤ k keeps the product far from overflow even when a tiny
    * h_k inflates union_est; the ≤ k·k absolute error this costs is
    * noise against the estimator's own O(|A∪B|/√k)), mirrored
    * literally in the oracle.
    *
    * Scale shape: the input is the SKETCH frame (≤ k rows/group), so
    * the pair explosion is groups²·k — catalog-sized, never
    * data-sized; one window + one aggregate per pair, all clustered
    * on the pair key.
    */
  /** Per unordered source pair (src_a < src_b), every hash present in
    * either side's (source, h) frame with its membership flags — the
    * construction BOTH the sketch tier and the exact twin rank or
    * count over (shared so a pairing/tie-rule fix cannot make the
    * estimate and its verification twin silently diverge). The pair
    * frame is groups × groups — source-catalog-sized, never
    * key-stream-sized. */
  private def pairMembership(hashes: DataFrame): DataFrame = {
    val sources = hashes.select("source").distinct()
    sources.toDF("src_a")
      .crossJoin(sources.toDF("src_b"))
      .filter(col("src_a") < col("src_b"))
      .withColumn("side_src", explode(array(col("src_a"), col("src_b"))))
      .join(hashes.withColumnRenamed("source", "side_src"), Seq("side_src"))
      .groupBy("src_a", "src_b", "h").agg(
        max(when(col("side_src") === col("src_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("side_src") === col("src_b"), 1).otherwise(0)).as("in_b"))
  }

  def kmvSetOps(kmin: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    val unionSketch = pairMembership(kmin)
      .withColumn("rn", row_number().over(
        Window.partitionBy("src_a", "src_b").orderBy("h")))
      .filter(col("rn") <= k)
    unionSketch.groupBy("src_a", "src_b").agg(
        count(lit(1)).as("k_used"),
        max("h").as("kth_min_hash"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("inter_cnt"),
        sum(when(col("in_a") === 1 && col("in_b") === 0, 1L)
          .otherwise(0L)).as("a_only_cnt"),
        sum(when(col("in_a") === 0 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("b_only_cnt"))
      .withColumn("union_est",
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"($Max63 DIV greatest(kth_min_hash, 1)) * ${k - 1}")))
      .withColumn("inter_est",
        when(col("k_used") < k, col("inter_cnt"))
          .otherwise(expr(s"(union_est DIV $k) * inter_cnt")))
      .withColumn("diff_a_est",
        when(col("k_used") < k, col("a_only_cnt"))
          .otherwise(expr(s"(union_est DIV $k) * a_only_cnt")))
      .withColumn("diff_b_est",
        when(col("k_used") < k, col("b_only_cnt"))
          .otherwise(expr(s"(union_est DIV $k) * b_only_cnt")))
  }

  /** [[kmvSetOps]] over a raw key stream, with the EXACT pairwise
    * union/intersection distinct counts joined on as the demo's
    * verification twin (production keeps only the sketches — the
    * exact tier rescans the distinct-hash frame per pair). */
  def kmvSetOpsWithExact(df: DataFrame, groupCol: String,
      termCol: String, k: Int = 128): DataFrame = {
    val hashed = hashFrame(df, groupCol, termCol).localCheckpoint()
    val est = kmvSetOps(kminOfHashed(hashed, k), k)
    val exact = pairMembership(hashed)
      .groupBy("src_a", "src_b").agg(
        count(lit(1)).as("exact_union"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("exact_inter"))
    est.join(exact, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("k_used"),
        col("kth_min_hash"), col("inter_cnt"), col("a_only_cnt"),
        col("b_only_cnt"), col("union_est"), col("inter_est"),
        col("diff_a_est"), col("diff_b_est"), col("exact_union"),
        col("exact_inter"))
  }

  /** Count-Min heavy hitters: build a `depth`×`width` integer counter
    * sketch over the key stream (each row contributes `weightCol`,
    * default 1), then report — for the exact top-`topK` keys (the
    * verification twin; production feeds candidates from the stream
    * itself or a sample, never the full key-domain aggregate) — the
    * exact total next to the sketch's point estimate (min over the
    * depth rows). CMS guarantees `cms_est >= exact_tf` always, with
    * overshoot bounded by the colliding mass per row.
    *
    * Hash row i uses the FNV-1a64 of the key prefixed with the ASCII
    * digit of i — depth independent functions from one portable
    * kernel, mirrored literally in the oracle.
    *
    * Scale shape: the build's shuffle is counter-sized (groupBy
    * (row, bucket) with map-side combine onto ≤ depth·width keys —
    * the key stream never shuffles); the candidate probe joins
    * topK·depth rows against the tiny counter frame.
    */
  // ------------------------------------------------------------------
  // Quantile sketch: bottom-k-by-hash uniform row sample. The k rows
  // with the smallest mixed63(key) per group are a deterministic
  // uniform sample (the hash order is independent of the values), so
  // any order statistic of the sample estimates the group's — and the
  // sample merges EXACTLY like KMV: the bottom-k of a union of
  // per-shard bottom-k sets is the bottom-k of the union. Cardinality
  // (KMV), frequency (CMS), quantiles (this) — one mergeable,
  // engine-exact summary per question a 100 TB catalog asks.
  // ------------------------------------------------------------------

  /** The (source, h, v) bottom-k sample frame — ≤ k rows per group,
    * the bounded state a stream or shard carries. `keyCol` is cast to
    * string and hashed with the splitmix-finalized FNV (order
    * statistics need the mixed high bits — see [[kmvDistinct]]); ties
    * on h break by v so the frame is a set. Null keys dropped (the
    * kmvDistinct contract). */
  def quantileSample(df: DataFrame, groupCol: String, keyCol: String,
      valueCol: Column, k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    // deduped so the sample frame is a SET — the same contract
    // quantileMerge's distinct() enforces; without this, duplicate
    // (group, key, value) input rows would make
    // merge(sample(A), sample(B)) != sample(A ∪ B). The dedup rides
    // the rank window's own partitioning: ordered by (h, v),
    // duplicates are ADJACENT, so a lag comparison removes them
    // without the extra exchange a distinct() would add (measured
    // +0.5 s in-suite), and the re-rank after the filter reuses the
    // same hash(source) distribution.
    val hashed = df.filter(col(keyCol).isNotNull)
      .select(col(groupCol).as("source"),
        mixed63(col(keyCol).cast("string")).as("h"),
        valueCol.cast("long").as("v"))
    val w = Window.partitionBy("source").orderBy("h", "v")
    hashed
      .withColumn("dup",
        coalesce(lag(struct(col("h"), col("v")), 1).over(w) ===
          struct(col("h"), col("v")), lit(false)))
      .filter(!col("dup")).drop("dup")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Merge two bottom-k sample frames: the k smallest (h, v) of the
    * union per group. */
  def quantileMerge(a: DataFrame, b: DataFrame, k: Int): DataFrame =
    a.unionByName(b).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h", "v")))
      .filter(col("rn") <= k).drop("rn")

  /** Per-group quantile estimates from a sample frame: for each q in
    * `quantiles` (percent), the value at 1-based index
    * `(n-1)·q DIV 100 + 1` of the sorted sample values — the exact
    * lower-interpolation order statistic, integer arithmetic only. */
  def quantileEstimate(sample: DataFrame,
      quantiles: Seq[Int]): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0 && q <= 100))
    val agg = sample.groupBy("source")
      .agg(sort_array(collect_list(col("v"))).as("sv"))
    val qCols = quantiles.map(q => expr(
      s"element_at(sv, CAST((CAST(size(sv) AS BIGINT) - 1) * $q DIV 100 AS INT) + 1)")
      .as(s"q${q}_est"))
    agg.select((col("source") +: size(col("sv")).cast("long").as("sample_n")
      +: qCols): _*)
  }
  // ------------------------------------------------------------------
  // One-pass table profiler: the capstone composing the mergeable
  // family the way a 100 TB catalog service would — ONE scan of the
  // table feeds, per profiled column: row/null counts, exact distinct
  // (the demo twin), the KMV distinct estimate, CMS point estimates
  // for the exact top values, and quantiles (bottom-k row-sample
  // estimate + the exact histogram order statistic) for numeric
  // columns.
  // ------------------------------------------------------------------

  /** Profile `columns` of `df` in ONE data pass.
    *
    * `columns` = (name, stringForm, Some(numericForm) for numeric
    * cols); `rowKey` is a unique row id (the quantile sample's hash
    * key). The scan is paid exactly once: the stacked projection
    * (row_h, colname, term, h, v) is localCheckpoint'd and every
    * consumer reads the checkpoint — PlanShapeSpec pins that the
    * final plan contains NO file scan. Hashes are computed once and
    * SHARED: `h` (the splitmix-finalized term hash) serves both the
    * per-column KMV sketch and the exact-distinct twin; `row_h` (the
    * row-key hash) is computed once per INPUT row before the stack,
    * so all numeric columns draw the SAME uniform row sample. The
    * second checkpoint (`hist`, the exact per-value histogram) is
    * cardinality-sized and feeds stats / KMV / CMS / top-k / exact
    * quantiles without recomputing the reduction per consumer.
    *
    * Scale shape: one wide scan, one explode (×|columns|), one
    * map-side-combinable reduction to the per-value histogram; the
    * sketch tiers then work on cardinality-sized or k-sized frames.
    * At 100 TB the checkpointed projection is the profiler's working
    * set — narrow (4 columns) and columnar, the same staging a
    * production profiler writes before fan-out.
    */
  def profileTable(df: DataFrame, rowKey: Column,
      columns: Seq[(String, Column, Option[Column])], k: Int = 128,
      depth: Int = 4, width: Int = 1024, topK: Int = 3): DataFrame = {
    // TWO substantive jobs, not six (r18 VERDICT #1 — the entry's
    // residual wall was five actions × the per-job floor over a
    // 0.25 s stick, not data):
    //   JOB 1 — the numeric-count collect below. Computing it runs
    //     the full-width pass (stack → reduce → cache `hist` →
    //     ≤|columns|-row aggregate), so the histogram build and the
    //     sample thresholds land in one action (persist(), unlike
    //     the old eager localCheckpoint + hist.count() pair,
    //     materializes as a side effect of the first consumer).
    //   JOB 2 — the assembly localCheckpoint: pruned sample + every
    //     tier over the cached colname-partitioned histogram. The
    //     sample branch re-reads ONLY the pruned numeric columns +
    //     row key from the source (column-pruned scan): caching the
    //     ×|columns| stacked frame for it cost more than the narrow
    //     rescan at every measured scale (sf0.1/sf1, r19 — a
    //     columnar cache write of 3n rows vs a 2-3 column scan), and
    //     at cluster scale the same trade holds wherever the source
    //     is columnar.
    // The pruned sample's exactness guard is POST-HOC: instead of
    // checkpointing the sample and collecting its per-column counts
    // as two extra actions, read `sample_n` off the |columns|-row
    // checkpointed profile (a task-local collect) and recompute via
    // the salted path iff any numeric column came up short of
    // min(k, n) — probability ≈ e^-3k per column, and the rare
    // recompute is strictly the pre-r18 plan.
    val tall = stackedProjection(df, rowKey, columns,
      minParts = Int.MaxValue)
    // the sample branch's rescan: numeric columns only, and (almost)
    // unspread — its threshold filter drops all but ~8k·|columns|
    // rows right after the stack, so a pre-widening shuffle would
    // move the whole source to feed a map-only filter; minParts = 4
    // only rescues the degenerate 1-2-split demo scan from running
    // the hash+filter serially
    val tallNarrow = stackedProjection(df, rowKey,
      columns.filter(_._3.isDefined), minParts = 4)
    val hist = tall.groupBy("colname", "term", "h", "v", "is_num")
      .agg(count(lit(1)).as("cnt"))
      .repartition(col("colname"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dbg = sys.env.contains("SPARK_GRAFT_PROFILE_DEBUG")
      var t0 = System.nanoTime()
      def lap(tag: String): Unit = if (dbg) {
        println(f"  [profile] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
        t0 = System.nanoTime()
      }
      val counts = hist.filter(col("is_num") && col("v").isNotNull)
        .groupBy("colname").agg(sum("cnt").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      lap("counts collect (job 1)")
      val samp = if (counts.isEmpty) profileSample(tall, k)
        else prunedSample(tallNarrow, counts, k)
      val asm = profileFromState(hist, samp, k, depth, width, topK)
      lap("assembly plan build")
      val prof = asm.localCheckpoint()
      lap("assembly execute (job 2)")
      val sampleN = prof.select("colname", "sample_n").collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
      val short = counts.exists { case (src, n) =>
        sampleN.getOrElse(src, 0L) < math.min(k.toLong, n) }
      if (!short) prof
      else profileFromState(hist, profileSample(tall, k), k, depth,
        width, topK).localCheckpoint()
    } finally hist.unpersist()
  }

  /** The profiler's two checkpointed working frames — `tall` (the ONE
    * pass over the source: stacked (row_h, colname, term, h, v)) and
    * `hist` (the cardinality-sized per-value histogram). Shared by
    * [[profileTable]] and [[tableStats]] so the stats artifact pays
    * the same single scan the profile does. */
  /** The one-pass stacked projection (row_h, colname, term, v,
    * is_num, h) — shared by [[profileFrames]] (which checkpoints it)
    * and [[histFrame]] (which reduces it lazily). `spread`
    * repartitions an under-partitioned scan before the ×|columns|
    * explode — right for the profiler's materialized pass, pure
    * overhead for a micro-batch fold. */
  private def stackedProjection(df: DataFrame, rowKey: Column,
      columns: Seq[(String, Column, Option[Column])],
      minParts: Int): DataFrame = {
    require(columns.nonEmpty)
    val stacked = columns.map { case (name, s, numOpt) =>
      struct(lit(name).as("colname"), s.cast("string").as("term"),
        numOpt.map(_.cast("long")).getOrElse(lit(null).cast("long")).as("v"),
        lit(numOpt.isDefined).as("is_num"))
    }
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base = if (minParts > 0 && df.rdd.getNumPartitions <
        math.min(minParts, par))
      df.repartition(par) else df
    base
      .select(mixed63(rowKey.cast("string")).as("row_h"),
        explode(array(stacked: _*)).as("c"))
      .select(col("row_h"), col("c.colname").as("colname"),
        col("c.term").as("term"), col("c.v").as("v"),
        col("c.is_num").as("is_num"))
      .withColumn("h", when(col("term").isNotNull, mixed63(col("term"))))
  }

  /** The histogram REDUCTION alone, LAZY — the streaming profiler's
    * per-batch fold unit: a micro-batch fold consumes the histogram
    * exactly once (histMerge + state write), so [[profileFrames]]'s
    * materialization (tall checkpoint + partitioned cache, built for
    * the multi-consumer profile assembly) would only add jobs per
    * trigger. One map-combined aggregation when the fold writes. */
  def histFrame(df: DataFrame, rowKey: Column,
      columns: Seq[(String, Column, Option[Column])]): DataFrame =
    stackedProjection(df, rowKey, columns, minParts = 0)
      .groupBy("colname", "term", "h", "v", "is_num")
      .agg(count(lit(1)).as("cnt"))

  private[graft] def profileFrames(df: DataFrame, rowKey: Column,
      columns: Seq[(String, Column, Option[Column])])
      : (DataFrame, DataFrame) = {
    // spread an under-partitioned scan before the ×|columns| explode:
    // a demo-scale table often arrives as ONE parquet split, which
    // would run the whole stacking pass — and every later consumer of
    // the checkpoint — on a single task. At production scale the scan
    // is already wide (maxPartitionBytes) and this branch is a no-op,
    // so the spread costs nothing where it isn't needed.
    val tall = stackedProjection(df, rowKey, columns,
      minParts = Int.MaxValue)
      .localCheckpoint() // THE one pass over the source
    // exact per-value histogram — cardinality-sized, the reduction
    // every non-sample consumer shares. Materialized as a CACHED
    // frame pre-partitioned on colname (not a localCheckpoint, which
    // drops outputPartitioning): ~10 of the assembly's tiers group or
    // window on colname(-prefixed) keys, and a partitioning-carrying
    // relation lets every one of them skip its exchange — the r17
    // q_profile_table wall was almost entirely these catalog-sized
    // exchanges' fixed stage cost, not data (COVERAGE.md round-16 rows).
    val hist = tall.groupBy("colname", "term", "h", "v", "is_num")
      .agg(count(lit(1)).as("cnt"))
      .repartition(col("colname"))
      .persist()
    hist.count() // materialize eagerly (the checkpoint semantics)
    registerPinned(hist)
    (tall, hist)
  }

  /** Histogram frames [[profileFrames]] has persist()ed and handed
    * out — they back lazy [[TableStats]] frames of unknown caller
    * lifetime, so they can't be unpersisted at build scope the way
    * [[profileTable]]'s internal pair is. Registered here so a
    * long-lived session reclaims them with the rest of the shared
    * caches ([[graft.Queries.clearCaches]] calls
    * [[releasePinnedFrames]]) instead of pinning one cached frame per
    * profiled table forever (r18 ADVICE). */
  private val pinnedHists =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (org.apache.spark.sql.SparkSession, DataFrame)]()
  private def registerPinned(df: DataFrame): Unit =
    pinnedHists.add((df.sparkSession, df))
  def releasePinnedFrames(): Unit = {
    var e = pinnedHists.poll()
    while (e != null) {
      if (!e._1.sparkContext.isStopped) e._2.unpersist()
      e = pinnedHists.poll()
    }
  }

  /** The profiler's SECOND state frame: the bottom-k row sample per
    * numeric column, extracted from the one-pass stacked frame — ≤ k
    * rows per column, and it merges with [[quantileMerge]] (bottom-k
    * of a union of bottom-ks), so a STREAMING profiler carries
    * (histogram, sample) between micro-batches and folds each with
    * its own merge (StreamRehearsal scenario 10 measures the fold at
    * sf1).
    *
    * Extraction is a SALTED TWO-PHASE rank (r17 VERDICT #1 — the
    * old distinct-then-global-window shape shuffled the column twice
    * and funneled each column's full sort onto ONE reducer): phase 1
    * ranks within (column, h mod 64) — 64 parallel sorts of n/64
    * rows; a pair's duplicates share its salt, so `dense_rank ≤ k`
    * keeps every distinct pair that could reach the global bottom-k
    * (a pair globally in the bottom-k is in its salt group's
    * distinct bottom-k a fortiori) — and phase 2 dedups + ranks the
    * ≤ 64·k survivors per column. One data-sized exchange instead of
    * two, no serial n-row sort, identical output by construction. */
  private[graft] def profileSample(tall: DataFrame, k: Int): DataFrame = {
    val nums = tall.filter(col("is_num") && col("v").isNotNull)
      .select(col("colname").as("source"), col("row_h").as("h"), col("v"))
    val phase1 = nums
      .withColumn("_salt", pmod(col("h"), lit(64L)))
      .withColumn("dr", dense_rank().over(
        Window.partitionBy("source", "_salt").orderBy("h", "v")))
      .filter(col("dr") <= k).drop("dr", "_salt")
    phase1.distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h", "v")))
      .filter(col("rn") <= k).drop("rn")
  }

  /** [[profileSample]] when the materialized histogram is at hand
    * (the batch profiler's case): `row_h` is a uniform 63-bit hash,
    * so an n-row column's k smallest (h, v) pairs live under
    * h < 2^63·(8k/n) except with vanishing probability — the
    * per-column counts come FREE from the cached histogram
    * (≤|columns|-row aggregate, not a data scan), a map-only filter
    * keeps ~8k candidates per column, and the rank runs on those.
    * Exactness is guarded, not assumed: if any column's pruned
    * bottom-k comes up short of min(k, n) — the only way pruning can
    * have cut a true member — the unpruned salted path recomputes.
    * The guard is a measured driver scalar over the checkpointed
    * ≤ k·|columns|-row result (the skew-gate shape); the fallback
    * probability is ≈ P[Binomial(n, 8k/n) < k] ≈ e^-3k. */
  private[graft] def profileSampleFromHist(tall: DataFrame, hist: DataFrame,
      k: Int): DataFrame = {
    val counts = hist.filter(col("is_num") && col("v").isNotNull)
      .groupBy("colname").agg(sum("cnt").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return profileSample(tall, k)
    val pruned = prunedSample(tall, counts, k).localCheckpoint()
    val got = pruned.groupBy("source").agg(count(lit(1)).as("got"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val short = counts.exists { case (src, n) =>
      got.getOrElse(src, 0L) < math.min(k.toLong, n) }
    if (short) profileSample(tall, k) else pruned
  }

  /** The LAZY pruned-sample plan — the map-only threshold filter plus
    * the (now ~8k·|columns|-row) rank, with the per-column thresholds
    * baked in as a literal CASE from the already-collected counts. No
    * action of its own: [[profileTable]] runs the guard post-hoc on
    * the assembled profile, [[profileSampleFromHist]] checkpoints and
    * guards it directly. */
  private def prunedSample(tall: DataFrame, counts: Map[String, Long],
      k: Int): DataFrame = {
    val slack = 8L * k
    def thresholdOf(n: Long): Long =
      if (n <= slack) Long.MaxValue
      else (BigInt(Long.MaxValue) * slack / n).min(BigInt(Long.MaxValue))
        .toLong
    val thr = counts.toSeq.foldLeft(lit(Long.MaxValue)) {
      case (acc, (src, n)) =>
        when(col("colname") === src, lit(thresholdOf(n))).otherwise(acc)
    }
    tall
      .filter(col("is_num") && col("v").isNotNull && col("row_h") < thr)
      .select(col("colname").as("source"), col("row_h").as("h"), col("v"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h", "v")))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Merge two per-value histogram frames by cellwise count addition —
    * the profiler's between-batch fold. State stays CARDINALITY-sized
    * (one row per distinct (column, value)), never stream-sized. */
  def histMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("colname", "term", "h", "v", "is_num")
      .agg(sum("cnt").as("cnt"))

  /** Assemble the profile from the two STATE frames — what both the
    * batch profiler and a streaming table-stats service finalize
    * from; [[tableStatsFromHist]] shares the histogram half, so the
    * stream's carried state IS the stats artifact's input. */
  private[graft] def profileFromState(hist: DataFrame, samp: DataFrame,
      k: Int, depth: Int, width: Int, topK: Int): DataFrame = {
    val nn = hist.filter(col("term").isNotNull)

    // ONE WINDOWED PASS over the colname-partitioned histogram
    // replaces the r18 five-tier union (stats + kmv + top-rank +
    // value-cumsum + order-stat, each its own aggregate subtree):
    // every per-column statistic below is a rank or running sum the
    // SAME cached frame can carry as a window column, so the
    // stats/KMV/exact-quantile tiers collapse into one
    // groupBy("colname") over the windowed frame — the entry's
    // driver-side analysis and stage count were half its residual
    // wall over a sub-second DuckDB stick (r18 VERDICT #1). All
    // windows partition by colname, so none adds an exchange over
    // the cache's partitioning; values are IDENTICAL to the tiered
    // form (the oracle mirrors the tier semantics unchanged):
    //  - hr: dense_rank over h  == rank among DISTINCT hashes (ties
    //    collapse), so max(h | hr<=k) is the KMV kth-min and
    //    max(hr) the distinct-hash count.
    //  - dr_term: dense_rank over term == countDistinct(term).
    //  - cum: RANGE-framed running sum over v (ties included) ==
    //    the per-value cumulative histogram, read only at
    //    (term, v)-non-null rows; nq is the per-column total the
    //    order-statistic threshold needs.
    val wByH = Window.partitionBy("colname")
      .orderBy(col("h").asc_nulls_last)
    val wByTerm = Window.partitionBy("colname")
      .orderBy(col("term").asc_nulls_last)
    val wByV = Window.partitionBy("colname")
      .orderBy(col("v").asc_nulls_last)
    val wCol = Window.partitionBy("colname")
    val qcnt = when(col("term").isNotNull && col("v").isNotNull,
      col("cnt")).otherwise(0L)
    // one select, not a withColumn chain: each withColumn re-analyzes
    // the growing plan — ~0.1-0.2 s of driver time per entry run on
    // a plan this wide
    val pre = hist.select(col("*"),
      dense_rank().over(wByH).as("hr"),
      dense_rank().over(wByTerm).as("dr_term"),
      sum(qcnt).over(wByV).as("cum"),
      sum(qcnt).over(wCol).as("nq"))
    def qThr(p: Int) = expr(s"(nq - 1) * $p DIV 100 + 1")
    def qExact(p: Int) =
      min(when(col("term").isNotNull && col("v").isNotNull &&
        col("cum") >= qThr(p), col("v")))
    val onH = when(col("term").isNotNull, col("h"))
    val main = pre.groupBy("colname").agg(
      sum("cnt").as("n_rows"),
      sum(when(col("term").isNull, col("cnt")).otherwise(0L)).as("null_cnt"),
      coalesce(max(when(col("term").isNotNull, col("dr_term"))),
        lit(0)).cast("long").as("n_distinct"),
      max(when(col("hr") <= k && onH.isNotNull, col("h")))
        .as("kth_min_hash"),
      least(lit(k), max(when(onH.isNotNull, col("hr"))))
        .cast("long").as("k_used"),
      qExact(50).as("q50_exact"), qExact(90).as("q90_exact"))
    .withColumn("kmv_est",
      when(col("k_used").isNull, lit(null).cast("long"))
        .when(col("k_used") < k, col("k_used"))
        .otherwise(expr(
          s"($Max63 DIV greatest(kth_min_hash, 1)) * ${k - 1}")))

    // CMS tier: one counter frame for ALL columns — the colname is
    // prefixed into the hashed key, so columns share the depth×width
    // counter space exactly as multi-tenant sketch services do; the
    // build is weighted by the histogram counts (cellwise identical
    // to counting the raw stream)
    val pterm = concat(col("colname"), lit("|"), col("term"))
    val counters = nn
      .select(col("cnt"),
        posexplode(cmsBuckets(pterm, depth, width)).as(Seq("i", "bucket")))
      .groupBy("i", "bucket").agg(sum("cnt").as("ccnt"))
    val top = nn.withColumn("rnk", row_number().over(
        Window.partitionBy("colname")
          .orderBy(col("cnt").desc, col("term").asc)))
      .filter(col("rnk") <= topK)
    // shuffle_hash, not broadcast: a BroadcastExchange is its own
    // build JOB per run (non-AQE), and both sides here are counter-
    // sized — the in-job exchange is cheaper than the job floor
    val probed = top
      .select(col("colname"), col("term"), col("cnt"), col("rnk"),
        posexplode(cmsBuckets(pterm, depth, width)).as(Seq("i", "bucket")))
      .join(counters.hint("shuffle_hash"), Seq("i", "bucket"), "left")
      .groupBy("colname", "term", "cnt", "rnk")
      .agg(min(coalesce(col("ccnt"), lit(0L))).as("cms_est"))
    def orderedCsv(value: Column) = concat_ws(",",
      transform(array_sort(collect_list(struct(col("rnk"),
        value.cast("string").as("s")))), x => x("s")))
    val topAgg = probed.groupBy("colname").agg(
      orderedCsv(col("term")).as("top_terms"),
      orderedCsv(col("cnt")).as("top_exact"),
      orderedCsv(col("cms_est")).as("top_cms"))

    // sample-quantile tier (numeric columns): the bottom-k sample
    // state ([[profileSample]] — rows by the SHARED row-key hash) →
    // sample estimate; the exact order-statistic twin rides the
    // fused `main` aggregate above
    val qest = quantileEstimate(samp, Seq(50, 90))
      .select(col("source").as("colname"), col("sample_n"),
        col("q50_est"), col("q90_est"))

    // assemble by UNION + one per-column fold instead of left joins:
    // each metric column is produced by exactly one branch, so max()
    // picks the single non-null per (colname, column) and the result
    // is identical to the join — but joins cost a BroadcastExchange
    // build JOB each (r17 VERDICT #1). Three branches since r19's
    // window fusion (main = stats+KMV+exact-quantiles in one
    // aggregate); every branch's colnames derive from the same hist,
    // so the grouped row set equals main's.
    val metricCols = Seq(
      "n_rows" -> "long", "null_cnt" -> "long", "n_distinct" -> "long",
      "kth_min_hash" -> "long", "k_used" -> "long", "kmv_est" -> "long",
      "top_terms" -> "string", "top_exact" -> "string",
      "top_cms" -> "string", "sample_n" -> "long", "q50_est" -> "long",
      "q90_est" -> "long", "q50_exact" -> "long", "q90_exact" -> "long")
    def pad(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(col("colname") +: metricCols.map { case (n, t) =>
        (if (have(n)) col(n).cast(t) else lit(null).cast(t)).as(n)
      }: _*)
    }
    Seq(main, topAgg, qest).map(pad)
      .reduce(_.unionByName(_))
      .groupBy("colname")
      .agg(metricCols.map { case (n, _) => max(col(n)).as(n) }.head,
        metricCols.map { case (n, _) => max(col(n)).as(n) }.tail: _*)
  }

  /** Per-column RAW-term CMS counter frames (colname, i, bucket, cnt)
    * from a profiler histogram. UNLIKE the profile's own internal
    * counter frame (which prefixes the colname into the hashed key so
    * all columns can share one depth×width space), these hash the raw
    * term — so two TABLES' counter frames for a join column are
    * hash-compatible and [[cmsJoinSize]] can estimate their join
    * cardinality from the persisted artifacts alone. ≤ cols·depth·width
    * rows: constant-size, the join-planning half of the stats artifact.
    */
  private[graft] def rawColumnCounters(hist: DataFrame, depth: Int,
      width: Int): DataFrame =
    hist.filter(col("term").isNotNull)
      .select(col("colname"), col("cnt"),
        posexplode(cmsBuckets(col("term"), depth, width))
          .as(Seq("i", "bucket")))
      .groupBy("colname", "i", "bucket").agg(sum("cnt").as("cnt"))

  // ------------------------------------------------------------------
  // WINDOWED sketches: the per-window catalog question ("distinct
  // users per day", "hot keys per hour") that a single global sketch
  // cannot answer. Design: the tumbling-window START rides INSIDE the
  // sketch group key (`<windowStart>|<group>`), so every existing
  // kernel — rank, merge, estimate — applies UNCHANGED, a stream's
  // carried state is (open windows × groups) × the same per-sketch
  // bound, and closed windows are evictable by a prefix filter on the
  // state frame (watermark-close-and-emit — the stream twin does
  // exactly that). Merging every window's sketch reproduces the
  // GLOBAL sketch (k smallest of the union of unions), so the
  // windowed form's `__merged__` row IS the all-time answer.
  // ------------------------------------------------------------------

  /** Tumbling-window start of an epoch-seconds column:
    * `sec - sec % window` with `%` truncating toward zero — the SAME
    * remainder semantics as the DuckDB/ANSI `%` the windowed oracles
    * use, so engine and oracle assign identical windows for EVERY
    * epoch second, negative pre-1970 timestamps included (a pmod/
    * floor form would diverge there — r16 ADVICE). */
  def windowStart(tsSec: Column, windowSec: Long): Column = {
    require(windowSec > 0)
    tsSec.cast("long") - tsSec.cast("long") % lit(windowSec)
  }

  /** The composite windowed sketch key: `<windowStart>|<group>`. */
  def windowedKey(tsSec: Column, windowSec: Long, groupCol: Column): Column =
    concat(windowStart(tsSec, windowSec).cast("string"), lit("|"), groupCol)

  /** Split a sketch frame's composite `source` back into
    * (`window_start`, `source`); the `__merged__` row (the all-time
    * rollup) keeps a null window. */
  def splitWindowedKey(df: DataFrame): DataFrame = df
    .withColumn("window_start", when(col("source") =!= "__merged__",
      substring_index(col("source"), "|", 1).cast("long")))
    .withColumn("source", when(col("source") === "__merged__", col("source"))
      .otherwise(expr("substring(source, instr(source, '|') + 1)")))

  /** The frequency half of the windowed family: per tumbling window,
    * a (i, bucket) counter frame — "hot keys per hour". Merges
    * cellwise per (window_start, i, bucket), so a stream's state is
    * open_windows × depth·width cells and closed windows evict by a
    * window_start filter (the same close-and-emit story the windowed
    * KMV stream demonstrates). */
  def cmsCountersWindowed(df: DataFrame, termCol: String, tsCol: String,
      windowSec: Long, depth: Int, width: Int): DataFrame =
    df.filter(col(termCol).isNotNull)
      .select(windowStart(col(tsCol), windowSec).as("window_start"),
        posexplode(cmsBuckets(col(termCol), depth, width))
          .as(Seq("i", "bucket")))
      .groupBy("window_start", "i", "bucket").agg(count(lit(1)).as("cnt"))

  /** Exact per-window top-`topK` keys — the windowed verification
    * twin (production feeds candidates from the stream or a sample). */
  def cmsTopCandidatesWindowed(df: DataFrame, termCol: String,
      tsCol: String, windowSec: Long, topK: Int): DataFrame =
    df.filter(col(termCol).isNotNull)
      .select(windowStart(col(tsCol), windowSec).as("window_start"),
        col(termCol).as("term"))
      .groupBy("window_start", "term").agg(count(lit(1)).as("exact_tf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("window_start")
          .orderBy(col("exact_tf").desc, col("term").asc)))
      .filter(col("rnk") <= topK).drop("rnk")

  /** Point-query per-window candidates against a windowed counter
    * frame — min over depth rows within the candidate's window; the
    * cmsProbe zero-for-missing contract carries over. */
  def cmsProbeWindowed(counters: DataFrame, candidates: DataFrame,
      depth: Int, width: Int): DataFrame =
    candidates.select(col("window_start"), col("term"), col("exact_tf"),
        posexplode(cmsBuckets(col("term"), depth, width))
          .as(Seq("i", "bucket")))
      .join(counters, Seq("window_start", "i", "bucket"), "left")
      .groupBy("window_start", "term", "exact_tf")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  // ------------------------------------------------------------------
  // KEYED (session) CMS — the frequency leg of the session-sketch
  // family (r18 VERDICT #8: KMV and quantile had sessionized forms,
  // CMS didn't). Same composition as the windowed family, with an
  // ARBITRARY composite key column (the g1 gap sessionizer's
  // `user|session_start`) instead of the tumbling-window start: every
  // kernel — build, merge (cellwise addition per (key, i, bucket)),
  // probe — applies unchanged, a stream's carried state is
  // open_sessions × ≤ depth·width cells, and a closed session's cells
  // evict outright (the session key is its identity; no counter
  // needed — the session-KMV design).
  // ------------------------------------------------------------------

  /** Per-key (i, bucket, cnt) counter frames — "hot items per user
    * session" when keyed by the sessionizer's composite key. */
  def cmsCountersKeyed(df: DataFrame, keyCol: String, termCol: String,
      depth: Int, width: Int): DataFrame =
    df.filter(col(termCol).isNotNull)
      .select(col(keyCol).as("source"),
        posexplode(cmsBuckets(col(termCol), depth, width))
          .as(Seq("i", "bucket")))
      .groupBy("source", "i", "bucket").agg(count(lit(1)).as("cnt"))

  /** Exact per-key top-`topK` terms — the keyed verification twin
    * (production feeds candidates from the stream or a sample). */
  def cmsTopCandidatesKeyed(df: DataFrame, keyCol: String,
      termCol: String, topK: Int): DataFrame =
    df.filter(col(termCol).isNotNull)
      .select(col(keyCol).as("source"), col(termCol).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("exact_tf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("exact_tf").desc, col("term").asc)))
      .filter(col("rnk") <= topK).drop("rnk")

  /** Point-query per-key candidates against a keyed counter frame —
    * min over depth rows within the candidate's key. */
  def cmsProbeKeyed(counters: DataFrame, candidates: DataFrame,
      depth: Int, width: Int): DataFrame =
    candidates.select(col("source"), col("term"), col("exact_tf"),
        posexplode(cmsBuckets(col("term"), depth, width))
          .as(Seq("i", "bucket")))
      .join(counters, Seq("source", "i", "bucket"), "left")
      .groupBy("source", "term", "exact_tf")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  // ------------------------------------------------------------------
  // TABLE-STATS ARTIFACT — the profiler persisted for PLANNING (the
  // sixth persistence seam). Round 15 shipped the estimators a
  // cost-based layer needs (KMV cardinality, CMS hot keys,
  // cmsJoinSize) but every join gate still measured LIVE with a scan
  // of its input; this artifact closes that loop: profile a table
  // ONCE (the profiler's single pass), persist the per-column
  // planning stats plus raw-term counter frames, and let
  // [[graft.operators.Scale.statsJoinDecision]] read THEM at plan
  // time — a catalog lookup, never a data scan.
  // ------------------------------------------------------------------

  /** A table's persisted planning statistics.
    *
    *  - `cols`: one row per profiled column — exact `n_rows` /
    *    `null_cnt` / `n_distinct`, the exact hottest term and its
    *    count (`hot_term`, `hot_cnt` — the skew gate's numerator,
    *    computed once at build time from the cardinality-sized
    *    histogram), `hot_bound` (a CMS-only upper bound on ANY single
    *    key's frequency — see [[tableStats]]), and the KMV sketch
    *    fields (`kth_min_hash`, `k_used`, `kmv_est`).
    *  - `counters`: per-column RAW-term CMS counter frames
    *    ([[rawColumnCounters]]) — hash-compatible across tables, so
    *    two artifacts answer "how big is A ⋈ B on this key?" via
    *    [[cmsJoinSize]] without touching either table.
    *
    * Both frames are catalog-sized (≤ |columns| and
    * ≤ |columns|·depth·width rows) — the artifact is a few KB no
    * matter how large the profiled table.
    */
  case class TableStats(cols: DataFrame, counters: DataFrame)

  /** Build a [[TableStats]] artifact in the profiler's ONE data pass
    * ([[profileFrames]] — `rowKey` is the profiler's shared sample
    * key; the stats tiers don't consume it, but sharing the frame
    * means a caller computing both the profile and the stats pays a
    * single scan).
    *
    * `hot_bound` is derived from the counter frame ALONE:
    * min over hash rows i of (max bucket count in row i). For every
    * key x, its CMS point estimate min_i c(i, h_i(x)) is bounded by
    * min_i max_b c(i, b) (pointwise domination survives the min), and
    * the point estimate never underestimates — so `hot_bound` is a
    * sound upper bound on the hottest key's true frequency, available
    * even to a consumer holding only the counters. The exact
    * `hot_cnt` rides along because the build has the histogram anyway;
    * the gate uses the exact value and the spec pins
    * `hot_bound >= hot_cnt`.
    */
  def tableStats(df: DataFrame, rowKey: Column,
      columns: Seq[(String, Column, Option[Column])], k: Int = 128,
      depth: Int = 4, width: Int = 1024): TableStats =
    tableStatsFromHist(profileFrames(df, rowKey, columns)._2, k, depth,
      width)

  /** [[tableStats]] from an already-built histogram frame — the
    * always-on form: a STREAMING profiler folds its histogram state
    * per micro-batch ([[histMerge]]) and finalizes the stats artifact
    * from the carried state whenever a planner wants fresh stats
    * (StreamRehearsal scenario 10 pins stream-folded == batch-built). */
  def tableStatsFromHist(hist: DataFrame, k: Int = 128,
      depth: Int = 4, width: Int = 1024): TableStats = {
    val nn = hist.filter(col("term").isNotNull)
    val base = hist.groupBy("colname").agg(
      sum("cnt").as("n_rows"),
      sum(when(col("term").isNull, col("cnt")).otherwise(0L)).as("null_cnt"),
      countDistinct(col("term")).as("n_distinct"))
    // exact hottest term per column, collapsed per TERM first (the
    // profiler's n_distinct caveat: a term can span several (term, v)
    // hist rows when numericForm is not a function of stringForm);
    // term-asc tie-break for determinism
    val tf = nn.groupBy("colname", "term").agg(sum("cnt").as("cnt"))
    val hot = tf.withColumn("rnk", row_number().over(
        Window.partitionBy("colname").orderBy(col("cnt").desc, col("term").asc)))
      .filter(col("rnk") === 1)
      .select(col("colname"), col("term").as("hot_term"),
        col("cnt").as("hot_cnt"))
    val kmv = kmvEstimate(kminOfHashed(
        nn.select(col("colname").as("source"), col("h")), k,
        salted = true), k)
      .filter(col("source") =!= "__merged__")
      .select(col("source").as("colname"), col("kth_min_hash"),
        col("k_used"), col("kmv_est"))
    val counters = rawColumnCounters(hist, depth, width)
    val hotBound = counters.groupBy("colname", "i")
      .agg(max("cnt").as("rowmax"))
      .groupBy("colname").agg(min("rowmax").as("hot_bound"))
    // assemble by UNION + one per-column fold instead of left joins
    // (the profileFromState r17 pattern): every branch is ≤ |columns|
    // rows with metric columns produced by exactly ONE branch, so
    // max() picks the single non-null per (colname, metric) and the
    // result is identical to the joins — which the static planner
    // (no size estimates for aggregate subtrees, AQE off inside the
    // small-shuffle scopes) planned as three sort-merge joins, two
    // exchanges + sorts EACH, over 3-row frames. A streaming
    // re-planner pays this assembly per micro-batch. Branch colnames
    // all derive from the same hist and hot/kmv/hotBound group only
    // term-non-null rows ⊆ base's colnames, so the folded row set
    // equals base's (the left side of the old joins).
    val metricCols = Seq(
      "n_rows" -> "long", "null_cnt" -> "long", "n_distinct" -> "long",
      "hot_term" -> "string", "hot_cnt" -> "long", "hot_bound" -> "long",
      "kth_min_hash" -> "long", "k_used" -> "long", "kmv_est" -> "long")
    def pad(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(col("colname") +: metricCols.map { case (n, t) =>
        (if (have(n)) col(n).cast(t) else lit(null).cast(t)).as(n)
      }: _*)
    }
    val cols = pad(base)
      .unionByName(pad(hot))
      .unionByName(pad(kmv))
      .unionByName(pad(hotBound))
      .groupBy("colname")
      .agg(max("n_rows").as("n_rows"), max("null_cnt").as("null_cnt"),
        max("n_distinct").as("n_distinct"), max("hot_term").as("hot_term"),
        max("hot_cnt").as("hot_cnt"), max("hot_bound").as("hot_bound"),
        max("kth_min_hash").as("kth_min_hash"), max("k_used").as("k_used"),
        max("kmv_est").as("kmv_est"))
      .select(col("colname"), col("n_rows"), col("null_cnt"),
        col("n_distinct"), col("hot_term"), col("hot_cnt"),
        col("hot_bound"), col("kth_min_hash"), col("k_used"),
        col("kmv_est"))
    TableStats(cols, counters)
  }

  /** Derive the stats artifact of a FILTERED projection of a profiled
    * table from the parent's persisted HISTOGRAM state alone — no
    * scan, no staged artifact for the filtered table (r18 VERDICT #4:
    * the DP regimes staged dsel1/dsel2 as separately-profiled tables,
    * which no ad-hoc user would do, while the parent's per-value
    * histogram already holds every count an equality / range / mod
    * predicate on the profiled column needs).
    *
    * `pred` receives the column's TERM (its profiled string form —
    * cast inside the predicate for numeric comparisons); `rename`
    * labels the derived single-column table's column. Because the
    * histogram is the EXACT per-value reduction, filtering its rows
    * commutes with profiling the filtered table: the derived
    * stats/counters/KMV rows are IDENTICAL to a from-scratch
    * [[tableStats]] of the filtered projection (StatsGateSpec pins
    * this cell-for-cell; the q_scale_stats_derived_dp entry REQUIREs
    * the derived-stats DP plan equal the staged-artifact plan).
    * Only the filter column itself is derivable — pricing a predicate
    * on column A for joins on column B would need a 2-D histogram the
    * artifact deliberately doesn't carry. */
  def filteredTableStats(hist: DataFrame, colname: String,
      rename: String, pred: Column => Column, k: Int = 128,
      depth: Int = 4, width: Int = 1024): TableStats =
    tableStatsFromHist(
      hist.filter(col("colname") === colname && pred(col("term")))
        .withColumn("colname", lit(rename)),
      k, depth, width)

  /** Persist a [[TableStats]] artifact under `path` — `cols/` and
    * `counters/` through the model seam's single-part layout (both
    * halves are catalog-sized), plus a top-level `_SUCCESS` once both
    * are complete, written through the Hadoop FileSystem API
    * (filesystem-agnostic — the saveIvfIndex precedent). */
  def saveTableStats(ts: TableStats, path: String): Unit = {
    Quantizers.saveModel(ts.cols, s"$path/cols")
    Quantizers.saveModel(ts.counters, s"$path/counters")
    graft.sources.Staging.touchMarker(path)
  }

  /** Load an artifact persisted by [[saveTableStats]]. Integer stats
    * round-trip parquet exactly, so planning from the loaded artifact
    * equals planning from the in-session frames (ModelSeamSpec). */
  def loadTableStats(spark: org.apache.spark.sql.SparkSession,
      path: String): TableStats =
    TableStats(spark.read.parquet(s"$path/cols"),
      spark.read.parquet(s"$path/counters"))

  /** Persist a stats artifact TOGETHER with its histogram state
    * (`hist/` — the foldable half an in-place update needs;
    * [[saveTableStats]] stays the catalog-sized form for consumers
    * that rebuild instead). The histogram is CARDINALITY-sized (one
    * row per distinct (column, value)) — the banded-projection size
    * class, not the catalog's — which is the price of updatability. */
  def saveTableStatsWithHist(hist: DataFrame, path: String,
      k: Int = 128, depth: Int = 4, width: Int = 1024): Unit = {
    val ts = tableStatsFromHist(hist, k, depth, width)
    Quantizers.saveModel(ts.cols, s"$path/cols")
    Quantizers.saveModel(ts.counters, s"$path/counters")
    hist.write.mode("overwrite").parquet(s"$path/hist")
    graft.sources.Staging.touchMarker(path)
  }

  /** INCREMENTAL stats update — the table APPENDS between full
    * profiles: fold the batch's histogram frame into the persisted
    * one ([[histMerge]] — exact cellwise count addition, so the
    * refreshed artifact is IDENTICAL to a from-scratch rebuild over
    * the grown table; the IVF gated-append story with an exact merge
    * instead of a drift tradeoff) and re-finalize `cols/` +
    * `counters/` from the merged state. Update cost is batch-hist +
    * carried-hist sized, never a rescan of the table. Same
    * crash contract as the gated append: the marker drops during the
    * rewrite, so a torn update reads as incomplete. */
  def updateTableStats(spark: org.apache.spark.sql.SparkSession,
      path: String, batchHist: DataFrame, k: Int = 128, depth: Int = 4,
      width: Int = 1024): Unit = {
    // localCheckpoint: the refold OVERWRITES the hist/ dir its own
    // input lineage reads — materialize first
    val merged = histMerge(spark.read.parquet(s"$path/hist"), batchHist)
      .localCheckpoint()
    graft.sources.Staging.withMarkerDropped(path) {
      saveTableStatsWithHist(merged, path, k, depth, width)
    }
  }

  private def cmsBuckets(term: Column, depth: Int, width: Int) =
    array((0 until depth).map(i =>
      h63(concat(lit(i.toString), term)) % lit(width.toLong)): _*)

  /** The (i, bucket, cnt) counter frame — ≤ depth·width rows, the
    * fixed-size state a stream carries between batches. Null keys
    * dropped (same contract as kmvDistinct). */
  def cmsCounters(df: DataFrame, termCol: String, depth: Int,
      width: Int): DataFrame =
    df.filter(col(termCol).isNotNull)
      .select(posexplode(cmsBuckets(col(termCol), depth, width))
        .as(Seq("i", "bucket")))
      .groupBy("i", "bucket").agg(count(lit(1)).as("cnt"))

  /** Merge two counter frames: cellwise addition — the composition
    * that makes per-shard / per-micro-batch counters sum to the
    * whole-stream sketch. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("i", "bucket").agg(sum("cnt").as("cnt"))

  /** Point-query `candidates` (term, exact_tf) against a counter
    * frame: estimate = min over the depth rows. LEFT join + coalesce:
    * a probe key whose (i, bucket) cell holds no counter row has a
    * zero counter — the correct CMS point estimate for a never-seen
    * key is 0, not a silently-dropped candidate. */
  def cmsProbe(counters: DataFrame, candidates: DataFrame, depth: Int,
      width: Int): DataFrame =
    candidates.select(col("term"), col("exact_tf"),
        posexplode(cmsBuckets(col("term"), depth, width))
          .as(Seq("i", "bucket")))
      .join(counters, Seq("i", "bucket"), "left")
      .groupBy("term", "exact_tf")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  /** JOIN-SIZE estimate from two counter frames built with the SAME
    * depth×width and hash functions (the inner-product estimator of
    * Cormode & Muthukrishnan 2005 §4.2): for each hash row i the
    * bucketwise inner product Σ_b cA(i,b)·cB(i,b) equals the true
    * join size Σ_k fA(k)·fB(k) PLUS non-negative collision mass, so
    * `min` over the depth rows NEVER underestimates — the question a
    * cost-based planner asks ("how big is A ⋈ B on this key?")
    * answered from two constant-size summaries without touching
    * either table. A row with no shared cells means a zero inner
    * product, so a missing row pins the estimate to 0.
    *
    * Scale shape: the input frames are ≤ depth·width rows each; the
    * estimate is one tiny join + two aggregates over counter-sized
    * data — independent of both tables' sizes by construction.
    */
  def cmsJoinSize(a: DataFrame, b: DataFrame, depth: Int): DataFrame = {
    // inner product in DECIMAL(38,0): two ~1e9-count tables make
    // bucketwise products ~1e18 and their sum crosses Long.MaxValue at
    // exactly the scales this estimator targets — under non-ANSI Spark
    // a Long sum would wrap SILENTLY and break the never-underestimates
    // guarantee. Decimal headroom (the oracle mirrors it with HUGEINT)
    // keeps the estimate exact to 38 digits; the final cast back to
    // BIGINT is safe whenever the true join size itself fits a Long.
    val ip = a.withColumnRenamed("cnt", "ca")
      .join(b.withColumnRenamed("cnt", "cb"), Seq("i", "bucket"))
      .groupBy("i").agg(
        sum(col("ca").cast("decimal(19,0)") * col("cb").cast("decimal(19,0)"))
          .as("ip"))
    ip.agg(min("ip").as("min_ip"), count(lit(1)).as("rows"))
      .select(when(col("rows") < depth, lit(0L))
        .otherwise(col("min_ip").cast("long"))
        .as("join_size_est"))
  }

  /** Exact top-K keys with their totals — the candidate set and the
    * demo's verification twin. Materialized eagerly: a projection
    * between orderBy().limit() and its consumer would degrade
    * TakeOrderedAndProject into a full sort, and the posexplode probe
    * is such a projection. */
  def cmsTopCandidates(df: DataFrame, termCol: String,
      topK: Int): DataFrame =
    df.filter(col(termCol).isNotNull)
      .select(col(termCol).as("term"))
      .groupBy("term").agg(count(lit(1)).as("exact_tf"))
      .orderBy(col("exact_tf").desc, col("term").asc).limit(topK)
      .localCheckpoint()

  def cmsHeavyHitters(df: DataFrame, termCol: String, depth: Int = 4,
      width: Int = 1024, topK: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 10, s"depth must be in [1,10], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    cmsProbe(cmsCounters(df, termCol, depth, width),
      cmsTopCandidates(df, termCol, topK), depth, width)
  }
}
