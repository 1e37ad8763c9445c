package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: skew-resistant aggregation and the partitioned
  * bronze layer.
  */
object Scale {

  /** Per-row round-robin salt in [0, salts): `mono_id mod salts`.
    * `monotonically_increasing_id` is `partition_id << 33 + ordinal`,
    * so the modulus round-robins WITHIN each partition — a hot key's
    * rows spread evenly over all `salts` reducers even when the rows
    * are byte-identical (the spam-contract case), which no
    * content-derived hash can do: identical rows hash identically
    * and land on one reducer, silently defeating the mitigation in
    * exactly the degenerate case it targets.
    *
    * Determinism: the ordinal is stable ONLY when the upstream
    * partition order is itself deterministic (e.g. directly over a
    * file scan, where a recomputed partition replays the same rows
    * in the same order). Spark's indeterminate-stage rollback keys
    * off RDD `DeterministicLevel`, which SQL nondeterministic
    * expressions do NOT set — on a fetch failure only the missing
    * map outputs are recomputed, and if this salt's input is itself
    * downstream of a shuffle, the replayed partition can deliver
    * rows in a different order, assign different salts, and let two
    * reducers see inconsistent views of the same map output.
    * [[saltedJoin]] is correct under ANY per-row salt assignment
    * (consistency across retries doesn't matter — every big-side
    * row meets exactly one copy of each match whatever salt it
    * draws); [[saltedSum]]'s phase-1 partials need a CONSISTENT
    * assignment, so it must not be applied directly downstream of a
    * shuffle — salt over the deterministic source, or
    * `sortWithinPartitions` on a deterministic key first to pin the
    * ordinal. [[saltedSum]] enforces this itself: when its input plan
    * contains a shuffle-planning operator it injects the pin before
    * salting (see `plansAShuffle`).
    */
  private[graft] def rowSalt(salts: Int): Column =
    pmod(monotonically_increasing_id(), lit(salts.toLong))

  /** Two-phase salted aggregation for skewed grouping keys: phase 1
    * aggregates on (key, salt) — spreading a hot key over `salts`
    * reducers — phase 2 merges the partials per key. Correct for any
    * algebraic aggregate (sum/count/min/max) under any per-row salt
    * assignment; results are identical to a direct groupBy, only the
    * shuffle distribution changes. The salt is the round-robin
    * [[rowSalt]] (see there for the identical-rows and determinism
    * story — shared with [[saltedJoin]]).
    *
    * AQE's skew-join splitting handles joins; this is the groupBy-side
    * lever for when one key holds a disproportionate share of rows
    * (e.g. a spam contract emitting millions of traces).
    */
  /** True when `df`'s optimized plan contains an operator that plans
    * to a shuffle (join/aggregate/window/repartition/global sort/…)
    * — the situation where a fetch-failure retry can replay a
    * partition in a different row order and hand [[rowSalt]]
    * inconsistent ordinals. Over-approximates (a partial-only
    * aggregate also matches): the false-positive cost is one
    * per-partition sort, the false-negative cost is silently wrong
    * sums, so erring wide is the only safe direction.
    */
  private def plansAShuffle(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort | _: GlobalLimit |
          _: RepartitionOperation | _: Distinct | _: Deduplicate => true
      case _ => false
    }
  }

  def saltedSum(df: DataFrame, keyCols: Seq[String], valueCol: String,
      resultName: String, salts: Int = 16): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // Retry-consistency guard (the [[rowSalt]] determinism contract,
    // enforced instead of merely documented): when the input plan has
    // a shuffle boundary beneath the salt, pin the per-partition row
    // order with a sortWithinPartitions on every salt-relevant column
    // — rows tying on (keys, value) are interchangeable for the
    // partial sums, so the pinned assignment is deterministic up to
    // rows the aggregate can't distinguish. Scan-rooted inputs (the
    // common case, where replay order is already deterministic) skip
    // the sort.
    val pinned =
      if (plansAShuffle(df))
        df.sortWithinPartitions((keyCols :+ valueCol).map(col): _*)
      else df
    val salted = pinned.withColumn("_salt", rowSalt(salts))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("_salt")): _*)
      .agg(sum(col(valueCol)).as("_partial"))
    partial.groupBy(keyCols.map(col): _*)
      .agg(sum(col("_partial")).as(resultName))
  }

  /** Salted replicate join for a skewed join key, for engines/configs
    * where AQE's runtime skew-split isn't available (or the skew is in
    * the FIRST shuffle, before AQE has statistics): the small side is
    * replicated `salts`× (explode over the salt range) and the big
    * side tags each row with the round-robin [[rowSalt]], so a hot
    * key's rows — including byte-identical duplicates — spread over
    * `salts` reducers instead of one. Results are identical to the
    * plain equi-join — every big-side row still meets exactly one
    * copy of each matching small-side row, whatever salt it drew.
    *
    * Never a random(): the ordinal salt is partition-stable (see
    * [[rowSalt]] for the retry semantics Spark applies). Cost: the
    * small side's shuffle volume × salts; use for genuinely small
    * dims that still can't be broadcast (or where the hot key would
    * spill a single reducer at 100 TB).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, salts: Int = 16): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    val bigSalted = big.withColumn("_salt", rowSalt(salts))
    val smallSalted = small.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    bigSalted.join(smallSalted,
        bigSalted(bigKey) === smallSalted(smallKey) &&
          bigSalted("_salt") === smallSalted("_salt"))
      .drop("_salt")
  }

  /** The skew gate's measurement: (hottest key's row count, total
    * rows) of `df[key]` in ONE map-combined aggregate. Skew-safe by
    * construction — partial aggregation collapses the hot key to one
    * partial PER PARTITION before the shuffle, so the probe's shuffle
    * is ≤ |distinct keys|·|partitions| rows no matter how hot the
    * key; the scan is pruned to the key column.
    */
  def hotKeyShare(df: DataFrame, key: String): (Long, Long) = {
    // NULL keys are excluded: an inner equi-join null-filters them
    // before the shuffle (Catalyst inserts IsNotNull on join keys), so
    // a null-heavy big side causes no reducer skew and must not trip
    // the gate into paying the salted premium
    val st = df.filter(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .agg(max("cnt").as("mx"), sum("cnt").as("n")).head()
    if (st.isNullAt(0)) (0L, 0L) else (st.getLong(0), st.getLong(1))
  }

  /** Skew-GATED join — [[saltedJoin]] made self-gating, so callers
    * don't pay the salted plan's deliberate premium (small side
    * ×salts, wider shuffle key; measured 2-5× on unskewed
    * corpora) blind: one measured [[hotKeyShare]] probe over the big
    * side decides. If the hottest key owns ≥ hotNum/hotDen of the
    * rows (default 1/5), the salted plan's skew immunity wins
    * (2.7-3× at a planted 90%-hot key with AQE skew handling and
    * broadcast off; COVERAGE.md round-14 salted-join attribution); below it the plain equi-join is strictly better.
    * A measured count, not a stats gate — the same reasoning as the
    * filtered-ANN gate: CBO-less Catalyst has no per-key frequency
    * statistics to consult, and AQE's skew split only helps AFTER a
    * first shuffle has produced stats. Both branches return identical
    * results (ScaleSpec pins the flip differentially), so the gate is
    * a pure plan choice.
    */
  def skewGatedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, salts: Int = 16, hotNum: Long = 1,
      hotDen: Long = 5): DataFrame = {
    require(hotNum > 0 && hotDen > 0)
    val (mx, n) = hotKeyShare(big, bigKey)
    if (n > 0 && mx * hotDen >= n * hotNum)
      saltedJoin(big, small, bigKey, smallKey, salts)
    else
      big.join(small, big(bigKey) === small(smallKey))
  }

  /** One join column's planning stats, read back as driver scalars
    * from a persisted [[graft.llm.SketchOps.TableStats]] artifact.
    * The read is a `.head()` on a ≤|columns|-row single-part frame —
    * a catalog lookup, NOT a data scan: this is what replaces
    * [[hotKeyShare]]'s full key-column probe at plan time (the r15
    * verdict's last asserted-not-measured cost — at 100 TB a planner
    * reads persisted stats; COVERAGE.md's r16 row records the drop).
    */
  case class KeyStats(nRows: Long, nullCnt: Long, nDistinct: Long,
      hotCnt: Long, hotBound: Long, kmvEst: Long) {
    /** Rows that survive an inner equi-join's implicit IsNotNull —
      * the [[hotKeyShare]] denominator. */
    def nonNull: Long = nRows - nullCnt
  }

  def keyStats(ts: graft.llm.SketchOps.TableStats,
      colname: String): KeyStats = {
    val rows = ts.cols.filter(col("colname") === colname)
      .select("n_rows", "null_cnt", "n_distinct", "hot_cnt", "hot_bound",
        "kmv_est")
      .collect()
    require(rows.nonEmpty, s"no stats row for column '$colname'")
    val r = rows.head
    def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    KeyStats(g(0), g(1), g(2), g(3), g(4), g(5))
  }

  /** The decision a stats-backed join planner records: the branch it
    * picked, the CMS inner-product join-size BOUND it sized reducers
    * from, the textbook NDV estimate it recorded next to it, and the
    * reducer count. */
  case class JoinDecision(branch: String, joinSizeBound: Long,
      ndvEst: Long, numParts: Int)

  /** Pick a join plan from PERSISTED statistics — the consumer the
    * sketch family was built for. [[skewGatedJoin]] measures its gate
    * live (a full key-column scan per decision — correct, but at
    * 100 TB a planner reads the table catalog instead); this reads
    * two [[KeyStats]] rows and two counter frames, all
    * catalog-sized, and never touches either table before the join
    * itself. Decision tree, in plan-quality order:
    *
    *  1. `small.nRows <= broadcastRows` → `"broadcast"`: a broadcast
    *     hash join has NO shuffle, so it is immune to key skew — it
    *     dominates salting whenever the small side fits (exact
    *     n_rows, not an estimate: the artifact has it).
    *  2. hottest big-side key owns ≥ hotNum/hotDen of the non-null
    *     rows (`hot_cnt`, exact from the artifact — so this decision
    *     EQUALS the live [[hotKeyShare]] gate's, which StatsGateSpec
    *     pins; `hot_bound` is the CMS-only fallback a counters-only
    *     consumer would use, conservative in the safe direction) →
    *     `"salted"`.
    *  3. otherwise `"shuffle"`, with the reducer count sized from the
    *     join-size bound: [[graft.llm.SketchOps.cmsJoinSize]] over
    *     the two persisted counter frames never underestimates, so
    *     `numParts = ceil(bound / rowsPerPartition)` errs toward more
    *     partitions — the memory-safe direction. The textbook NDV
    *     formula rows_a·rows_b / max(ndv) (Spark CBO's own join
    *     estimate, here from the persisted KMV cardinalities) is an
    *     EXPECTATION under uniformity, not a bound — recorded in the
    *     decision for observability, never used to shrink the plan.
    */
  /** The CMS inner-product join-size bound computed DRIVER-SIDE from
    * collected counter cells — the planner's form of
    * [[graft.llm.SketchOps.cmsJoinSize]] (StatsGateSpec pins the two
    * equal). The counter frames are ≤ depth·width rows by
    * construction, so a planner collects them once and answers in
    * microseconds; the frame form's three tiny Spark jobs cost ~1 s
    * of fixed scheduling per decision (measured r16, COVERAGE.md) —
    * fine for a catalog entry, wrong for a planner making a decision
    * per join. Same semantics: min over hash rows of the bucketwise
    * inner product; a row with no shared cells pins the bound to 0.
    */
  private[graft] def joinSizeBoundBig(a: Map[(Int, Long), Long],
      b: Map[(Int, Long), Long], depth: Int): BigInt =
    (0 until depth).map { i =>
      a.iterator.collect { case ((`i`, bk), ca) =>
        BigInt(ca) * BigInt(b.getOrElse((i, bk), 0L))
      }.sum
    }.min

  private[graft] def joinSizeBoundLocal(a: Map[(Int, Long), Long],
      b: Map[(Int, Long), Long], depth: Int): Long =
    joinSizeBoundBig(a, b, depth).min(BigInt(Long.MaxValue)).toLong

  private[graft] def collectCounters(counters: DataFrame): Map[(Int, Long), Long] =
    counters.select(col("i").cast("int"), col("bucket"), col("cnt"))
      .collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap

  def statsJoinDecision(bigStats: KeyStats, smallStats: KeyStats,
      bigCounters: DataFrame, smallCounters: DataFrame, depth: Int = 4,
      broadcastRows: Long = 10000, hotNum: Long = 1, hotDen: Long = 5,
      rowsPerPartition: Long = 4000000L, maxParts: Int = 2048)
      : JoinDecision =
    // counter-sized work: ≤ depth·width cells per side, collected and
    // reduced driver-side (see [[joinSizeBoundLocal]])
    statsJoinDecisionLocal(bigStats, smallStats,
      collectCounters(bigCounters), collectCounters(smallCounters), depth,
      broadcastRows, hotNum, hotDen, rowsPerPartition, maxParts)

  /** [[statsJoinDecision]] over ALREADY-COLLECTED counter maps — the
    * form a planner making many decisions uses (collect each table's
    * counter frame once, decide per candidate join in microseconds;
    * [[statsJoinOrder]] is such a caller). */
  def statsJoinDecisionLocal(bigStats: KeyStats, smallStats: KeyStats,
      bigCounters: Map[(Int, Long), Long],
      smallCounters: Map[(Int, Long), Long], depth: Int = 4,
      broadcastRows: Long = 10000, hotNum: Long = 1, hotDen: Long = 5,
      rowsPerPartition: Long = 4000000L, maxParts: Int = 2048)
      : JoinDecision = {
    require(hotNum > 0 && hotDen > 0 && rowsPerPartition > 0)
    // DOP sizing takes the TIGHTEST of three SOUND upper bounds (the
    // min of sound upper bounds is sound): the CMS inner product —
    // tight under skew, but carrying collision slack that grows with
    // corpus density over the fixed-width frame (measured ~146× on a
    // 150k-key column over width 1024) — and the two hot-product
    // bounds |A|·maxmult(B) / |B|·maxmult(A), which are tight for
    // key-joins (a 6M ⋈ 1.5M orderkey join bounds at 6M rows instead
    // of the CMS's collision-inflated 8.8B, so the reducer count
    // stops over-splitting at 10× — the r17 scale probe's finding).
    val bound = joinSizeBoundBig(bigCounters, smallCounters, depth)
      .min(BigInt(bigStats.nonNull) * math.max(smallStats.hotCnt, 1L))
      .min(BigInt(smallStats.nonNull) * math.max(bigStats.hotCnt, 1L))
      .min(BigInt(Long.MaxValue)).toLong
    val ndv = math.max(math.max(bigStats.kmvEst, smallStats.kmvEst), 1L)
    val ndvEst = (BigInt(bigStats.nonNull) * BigInt(smallStats.nonNull) / ndv)
      .min(BigInt(Long.MaxValue)).toLong
    val branch =
      if (smallStats.nRows <= broadcastRows) "broadcast"
      else if (BigInt(bigStats.hotCnt) * hotDen >=
          BigInt(bigStats.nonNull) * hotNum) "salted"
      else "shuffle"
    // ceil without the (bound + rpp - 1) addition — bound can sit at
    // Long.MaxValue (the BigInt clamp above), where the textbook ceil
    // form overflows negative and would yield numParts = 1
    val numParts = math.max(1L, math.min(maxParts.toLong,
      bound / rowsPerPartition +
        (if (bound % rowsPerPartition > 0) 1L else 0L))).toInt
    JoinDecision(branch, bound, ndvEst, numParts)
  }

  /** Execute the join a [[statsJoinDecision]] picked. All branches
    * return identical results (inner equi-join, big columns then
    * small columns) — the decision is a pure plan choice, which is
    * what lets one plain-SQL oracle pin every branch. On the shuffle
    * branch, when the stats-derived reducer count exceeds the
    * session default, both sides are explicitly hash-partitioned to
    * it on the join key — the two exchanges are reused by the join
    * (co-partitioned children), so the DOP choice costs no extra
    * shuffle. */
  def statsGatedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, decision: JoinDecision,
      salts: Int = 16): DataFrame = decision.branch match {
    case "broadcast" =>
      big.join(broadcast(small), big(bigKey) === small(smallKey))
    case "salted" =>
      saltedJoin(big, small, bigKey, smallKey, salts)
    case _ =>
      val base = big.sparkSession.sessionState.conf.numShufflePartitions
      if (decision.numParts > base) {
        val b = big.repartition(decision.numParts, col(bigKey))
        val sm = small.repartition(decision.numParts, col(smallKey))
        b.join(sm, b(bigKey) === sm(smallKey))
      } else big.join(small, big(bigKey) === small(smallKey))
  }

  // ------------------------------------------------------------------
  // MULTI-JOIN ORDER PLANNING from the persisted stats artifacts —
  // the next planner rung above [[statsJoinDecision]] (which picks ONE
  // join's strategy): pick the ORDER of a 3-4-table join chain from
  // the same catalog-sized state, then execute each left-deep step
  // through [[statsGatedJoin]]. Everything at decision time is
  // driver-side arithmetic over collected counter maps (≤ depth·width
  // cells per column) — no table is touched before the joins run.
  // ------------------------------------------------------------------

  /** One table as the order planner sees it: per-join-column
    * [[KeyStats]] and collected counter maps. Build with
    * [[planTable]] from a persisted [[graft.llm.SketchOps.TableStats]]
    * artifact. */
  case class PlanTable(name: String, stats: Map[String, KeyStats],
      counters: Map[String, Map[(Int, Long), Long]]) {
    /** The max-multiplicity this table can contribute when OTHER
      * tables' rows join "through" it: no row elsewhere can match
      * more than the hottest key's count on any of this table's join
      * columns. The max over columns is taken (rather than tracking
      * which edge the join tree actually uses) — sound for every
      * tree, and exact whenever the table joins on a single column. */
    def maxMult: Long = math.max(1L, stats.values.map(_.hotCnt).max)
  }

  /** Read the planner's state for `keys` of one table out of a stats
    * artifact: one KeyStats row and one collected counter map per
    * column — all catalog-sized (the counter frame is ≤ depth·width
    * cells by construction), so a planner holds every table's
    * PlanTable in driver memory no matter how large the tables. */
  def planTable(ts: graft.llm.SketchOps.TableStats, name: String,
      keys: Seq[String]): PlanTable =
    planTablesFromStats(ts, Seq((name, keys))).head

  /** Build PlanTables for several (name, keys) slices of ONE stats
    * artifact in exactly ONE job: the cols frame and the counter
    * frame (both catalog-sized) are tagged, unioned and collected
    * TOGETHER, then sliced driver-side. The per-column
    * filter-and-collect form paid one fixed job floor per key, and
    * the r19 two-collect form still paid two floors per re-plan —
    * which a streaming re-planner pays PER MICRO-BATCH over an
    * unmaterialized [[graft.llm.SketchOps.tableStatsFromHist]] chain
    * (the fold state), re-running the whole multi-aggregate assembly
    * each time. Values are identical to the per-column form: the
    * collect is the same two frames, only unioned and sliced after
    * the fact. */
  def planTablesFromStats(ts: graft.llm.SketchOps.TableStats,
      specs: Seq[(String, Seq[String])]): Seq[PlanTable] = {
    val colsTagged = ts.cols.select(lit(0).as("kind"), col("colname"),
      col("n_rows").as("v1"), col("null_cnt").as("v2"),
      col("n_distinct").as("v3"), col("hot_cnt").as("v4"),
      col("hot_bound").as("v5"), col("kmv_est").as("v6"))
    val ctrTagged = ts.counters.select(lit(1).as("kind"), col("colname"),
      col("i").cast("long").as("v1"), col("bucket").as("v2"),
      col("cnt").as("v3"), lit(0L).as("v4"), lit(0L).as("v5"),
      lit(0L).as("v6"))
    val rows = colsTagged.unionByName(ctrTagged).collect()
    def g(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) 0L else r.getLong(i)
    val statsBy = rows.filter(_.getInt(0) == 0).map { r =>
      r.getString(1) -> KeyStats(g(r, 2), g(r, 3), g(r, 4), g(r, 5),
        g(r, 6), g(r, 7))
    }.toMap
    val countersBy = rows.filter(_.getInt(0) == 1)
      .groupBy(_.getString(1)).map { case (cn, rs) =>
        cn -> rs.map(r =>
          ((r.getLong(2).toInt, r.getLong(3)), r.getLong(4))).toMap
      }
    specs.map { case (name, keys) =>
      keys.foreach(k => require(statsBy.contains(k),
        s"no stats row for column '$k'"))
      PlanTable(name,
        keys.map(k => k -> statsBy(k)).toMap,
        keys.map(k => k -> countersBy.getOrElse(k,
          Map.empty[(Int, Long), Long])).toMap)
    }
  }

  /** An equi-join predicate between two named tables. */
  case class JoinEdge(tableA: String, keyA: String, tableB: String,
      keyB: String)

  /** One executed step of a chosen left-deep order: `table` joins the
    * current intermediate via `carrier` (the already-included table
    * holding the join column), with the composed intermediate-size
    * bound and the per-step [[JoinDecision]]. */
  case class OrderStep(table: String, carrier: String, carrierKey: String,
      tableKey: String, stepBound: Long, decision: JoinDecision)

  /** The planner's verdict: the chosen left-deep order, its per-step
    * bounds/decisions, and the total intermediate-size bound it
    * minimized. */
  case class JoinOrderDecision(order: Seq[String], steps: Seq[OrderStep],
      totalBound: Long) {
    def orderString: String = order.mkString(",")
  }

  private def clampLong(x: BigInt): Long =
    x.min(BigInt(Long.MaxValue)).toLong

  /** Pick the left-deep ORDER of a multi-table equi-join chain from
    * persisted statistics alone — the decision a cost-based layer
    * makes right after choosing per-join strategies, here from
    * exactly the same artifacts ([[graft.llm.SketchOps.TableStats]]
    * via [[planTable]]).
    *
    * Enumeration: all left-deep orders (permutations of `tables`,
    * generated in input order — ties in the bound resolve to the
    * FIRST enumerated order, so the written order wins ties) in which
    * every table after the first connects to the already-included set
    * through an edge in `edges` (input order decides when several
    * connect). 3-4 tables → ≤ 24 orders, each bounded in
    * microseconds; the n! growth is why real optimizers switch to DP
    * past ~6 tables, not a concern at this rung.
    *
    * Bounding a step that joins table T via carrier S (S already
    * included, predicate S.kS = T.kT): the CMS inner-product bound
    * [[joinSizeBoundBig]] over the two PERSISTED counter frames never
    * underestimates |S ⋈ T|, and the intermediate's frequency vector
    * on kS is cellwise ≤ (Π max-mult of the OTHER included tables) ×
    * S's own frame — each S row is replicated at most that many times
    * (every other table matches it through one tree edge, each
    * bounded by that table's hottest join-key count). So
    *
    *   |I ⋈ T|  ≤  Π_{k ∈ I, k ≠ S} maxMult(k) ·
    *               joinSizeBound(counters(S, kS), counters(T, kT))
    *
    * — sound for every join tree, exact when multiplicities are
    * constant (StatsGateSpec pins both directions). The order's cost
    * is the SUM of its intermediate bounds (the classic C_out
    * objective); the min-cost order wins.
    *
    * Each step of the winning order also gets its
    * [[statsJoinDecisionLocal]] strategy call, with the intermediate
    * side's stats COMPOSED the same way: n_rows from the previous
    * step's bound, hot count scaled by the same multiplier, carrier's
    * NDV/KMV carried through (a join can only drop key values).
    * Decision cost is independent of table sizes by construction —
    * Measured flat at 10× (r17, COVERAGE.md).
    */
  def statsJoinOrder(tables: Seq[PlanTable], edges: Seq[JoinEdge],
      depth: Int = 4, broadcastRows: Long = 10000, hotNum: Long = 1,
      hotDen: Long = 5, rowsPerPartition: Long = 4000000L,
      maxParts: Int = 2048): JoinOrderDecision = {
    require(tables.size >= 2, "need at least two tables to order")
    require(tables.map(_.name).distinct.size == tables.size,
      "table names must be unique")
    val byName = tables.map(t => t.name -> t).toMap
    edges.foreach { e =>
      require(byName.contains(e.tableA) && byName.contains(e.tableB),
        s"edge $e references an unknown table")
      require(byName(e.tableA).counters.contains(e.keyA) &&
        byName(e.tableB).counters.contains(e.keyB),
        s"edge $e references an unprofiled column")
    }
    // first edge (input order) connecting t to the included set →
    // (carrier, carrierKey, tableKey)
    def connecting(included: Seq[String],
        t: String): Option[(String, String, String)] =
      edges.collectFirst {
        case JoinEdge(a, ka, b, kb) if a == t && included.contains(b) =>
          (b, kb, ka)
        case JoinEdge(a, ka, b, kb) if b == t && included.contains(a) =>
          (a, ka, kb)
      }
    def perms(remaining: Seq[String], acc: Seq[String]): Seq[Seq[String]] =
      if (remaining.isEmpty) Seq(acc)
      else remaining.flatMap(t =>
        perms(remaining.filterNot(_ == t), acc :+ t))
    // (total bound, per-step (carrier, cKey, tKey, stepBound)) or None
    // when the order is disconnected at some step
    def boundOf(order: Seq[String])
        : Option[(BigInt, Seq[(String, String, String, BigInt)])] = {
      val steps = Seq.newBuilder[(String, String, String, BigInt)]
      var included = Seq(order.head)
      var total = BigInt(0)
      for (t <- order.tail) connecting(included, t) match {
        case None => return None
        case Some((carrier, cKey, tKey)) =>
          val multOthers = included.filterNot(_ == carrier)
            .map(n => BigInt(byName(n).maxMult)).product
          val sb = multOthers * joinSizeBoundBig(
            byName(carrier).counters(cKey), byName(t).counters(tKey), depth)
          steps += ((carrier, cKey, tKey, sb))
          total += sb
          included :+= t
      }
      Some((total, steps.result()))
    }
    val candidates = perms(tables.map(_.name), Seq.empty)
      .flatMap(p => boundOf(p).map(p -> _))
    require(candidates.nonEmpty, "no connected left-deep order exists")
    val (order, (total, rawSteps)) = candidates.minBy(_._2._1)
    // strategy call per step of the winner, with composed
    // intermediate-side stats (first step: the base table's own)
    var included = Seq(order.head)
    var prevBound = BigInt(-1)
    val steps = rawSteps.zip(order.tail).map {
      case ((carrier, cKey, tKey, sb), t) =>
        val cs = byName(carrier).stats(cKey)
        val m = included.filterNot(_ == carrier)
          .map(n => BigInt(byName(n).maxMult)).product
        val bigStats =
          if (included.size == 1) cs
          else KeyStats(nRows = clampLong(prevBound), nullCnt = 0L,
            nDistinct = cs.nDistinct, hotCnt = clampLong(m * cs.hotCnt),
            hotBound = clampLong(m * cs.hotBound), kmvEst = cs.kmvEst)
        val bigCounters =
          if (included.size == 1) byName(carrier).counters(cKey)
          else byName(carrier).counters(cKey)
            .map { case (cell, c) => cell -> clampLong(m * c) }
        val d = statsJoinDecisionLocal(bigStats, byName(t).stats(tKey),
          bigCounters, byName(t).counters(tKey), depth, broadcastRows,
          hotNum, hotDen, rowsPerPartition, maxParts)
        included :+= t
        prevBound = sb
        OrderStep(t, carrier, cKey, tKey, clampLong(sb), d)
    }
    JoinOrderDecision(order, steps, clampLong(total))
  }

  // ------------------------------------------------------------------
  // SELINGER-DP ORDERING (r17 VERDICT #3) — the rung above
  // [[statsJoinOrder]]'s left-deep permutation scan: memoized
  // best-plan-per-connected-subset over the same persisted artifacts,
  // BUSHY shapes allowed. Two upgrades over the left-deep rung:
  //
  //  1. Enumeration: classic subset DP — for every connected table
  //     subset, the best plan is the cheapest way to join two
  //     connected, edge-adjacent sub-plans. Left-deep trees are the
  //     special case where one side is a single table, so by
  //     construction dpBound ≤ every left-deep order's bound under
  //     the same cost model (StatsGateSpec pins it).
  //  2. A TIGHTER (still sound) step bound. Joining intermediates
  //     I_L (carrier S, key kS) and I_R (carrier T, key kT):
  //       - one I_R row matches ≤ multPerKey(L,S,kS) :=
  //         Π_{L∖S} maxMult · hot(S.kS) rows of I_L (each other L
  //         table multiplies through one tree edge, then the bridge
  //         key itself matches at most S's hottest kS count), so
  //         |I| ≤ bound(I_R) · multPerKey(L,S,kS) — and symmetric;
  //       - the CMS composition of the left-deep rung still holds:
  //         |I| ≤ Π_{L∖S} maxMult · Π_{R∖T} maxMult · cms(S.kS,T.kT).
  //     The step bound is the min of the three — min of sound upper
  //     bounds is sound (the r17 DOP-fix rule), and the two new
  //     product terms are what credit a SELECTIVE branch: a small
  //     sub-plan bound caps every later step that joins through it,
  //     which the base-counter CMS form cannot see. This is what
  //     lets a bushy plan price below every left-deep order on a
  //     star with two reducing branches (the staged dp regime).
  //
  // Cost = C_out over the step bounds, leaves free. Ties resolve to
  // the FIRST enumerated plan (ascending subset masks, the standard
  // descending-submask loop, tables in input order) — fully
  // deterministic, so a chosen shape string is safe to pin as an
  // oracle literal once checked SF-invariant.
  // ------------------------------------------------------------------

  /** A DP plan node: either a base table or a join of two sub-plans
    * via the bridge (carrierL.keyL = carrierR.keyR). `stepBound` is
    * this node's intermediate-size bound; `decision` the per-step
    * strategy call (right side is the probe/broadcast side — the DP
    * orients the smaller-bounded side right). `extraEdges` are
    * further equi-predicates between the two sides (cyclic join
    * graphs), applied as post-join filters — same result set, the
    * bound stays sound (filters only shrink). */
  sealed trait DpPlan {
    def tables: Set[String]
    def shapeString: String
    def bound: BigInt
    def cost: BigInt
  }
  case class DpLeaf(name: String, rows: Long) extends DpPlan {
    def tables: Set[String] = Set(name)
    def shapeString: String = name
    def bound: BigInt = BigInt(rows)
    def cost: BigInt = BigInt(0)
  }
  case class DpJoin(left: DpPlan, right: DpPlan, carrierL: String,
      keyL: String, carrierR: String, keyR: String,
      extraEdges: Seq[JoinEdge], stepBound: BigInt,
      decision: JoinDecision) extends DpPlan {
    def tables: Set[String] = left.tables ++ right.tables
    def shapeString: String =
      s"(${left.shapeString},${right.shapeString})"
    def bound: BigInt = stepBound
    def cost: BigInt = left.cost + right.cost + stepBound
  }

  /** The DP verdict: the chosen (possibly bushy) plan, its C_out
    * bound total, and the best LEFT-DEEP total under the SAME cost
    * model — `bushyWin` says the DP found a strictly cheaper bushy
    * shape than any left-deep order. */
  case class JoinOrderDpDecision(plan: DpPlan, totalBound: Long,
      bestLeftDeepBound: Long) {
    def shapeString: String = plan.shapeString
    def bushyWin: Boolean = BigInt(totalBound) < BigInt(bestLeftDeepBound)
  }

  def statsJoinOrderDp(tables: Seq[PlanTable], edges: Seq[JoinEdge],
      depth: Int = 4, broadcastRows: Long = 10000, hotNum: Long = 1,
      hotDen: Long = 5, rowsPerPartition: Long = 4000000L,
      maxParts: Int = 2048): JoinOrderDpDecision = {
    require(tables.size >= 2, "need at least two tables to order")
    require(tables.size <= 16, "subset DP supports up to 16 tables")
    require(tables.map(_.name).distinct.size == tables.size,
      "table names must be unique")
    val byName = tables.map(t => t.name -> t).toMap
    edges.foreach { e =>
      require(byName.contains(e.tableA) && byName.contains(e.tableB),
        s"edge $e references an unknown table")
      require(byName(e.tableA).counters.contains(e.keyA) &&
        byName(e.tableB).counters.contains(e.keyB),
        s"edge $e references an unprofiled column")
    }
    val names = tables.map(_.name).toIndexedSeq
    def rowsOf(n: String): Long = {
      val ks = byName(n).stats.values
      // every column's n_rows is the same table's row count; any
      // representative works, take the max for safety
      math.max(1L, ks.map(_.nRows).max)
    }
    def multAll(side: Set[String], carrier: String): BigInt =
      side.toSeq.filterNot(_ == carrier).sorted
        .map(n => BigInt(byName(n).maxMult)).product
    // edges crossing a (L, R) bipartition, oriented L-side first,
    // in input order
    def crossing(l: Set[String], r: Set[String]): Seq[(String, String, String, String)] =
      edges.collect {
        case JoinEdge(a, ka, b, kb) if l(a) && r(b) => (a, ka, b, kb)
        case JoinEdge(a, ka, b, kb) if l(b) && r(a) => (b, kb, a, ka)
      }
    def hotOf(t: String, k: String): BigInt =
      BigInt(math.max(1L, byName(t).stats(k).hotCnt))
    def stepBoundOf(l: DpPlan, r: DpPlan, s: String, kS: String,
        t: String, kT: String): BigInt = {
      val cms = multAll(l.tables, s) * multAll(r.tables, t) *
        joinSizeBoundBig(byName(s).counters(kS), byName(t).counters(kT),
          depth)
      val viaL = r.bound * multAll(l.tables, s) * hotOf(s, kS)
      val viaR = l.bound * multAll(r.tables, t) * hotOf(t, kT)
      cms.min(viaL).min(viaR)
    }
    // per-step strategy call with composed stats, the statsJoinOrder
    // composition generalized to a composed side on BOTH ends
    def composedStats(p: DpPlan, carrier: String, key: String)
        : (KeyStats, Map[(Int, Long), Long]) = {
      val cs = byName(carrier).stats(key)
      p match {
        case _: DpLeaf => (cs, byName(carrier).counters(key))
        case _ =>
          val m = multAll(p.tables, carrier)
          (KeyStats(nRows = clampLong(p.bound), nullCnt = 0L,
            nDistinct = cs.nDistinct, hotCnt = clampLong(m * cs.hotCnt),
            hotBound = clampLong(m * cs.hotBound), kmvEst = cs.kmvEst),
            byName(carrier).counters(key)
              .map { case (c, v) => c -> clampLong(m * v) })
      }
    }
    def mkJoin(l: DpPlan, r: DpPlan): Option[DpJoin] = {
      val cross = crossing(l.tables, r.tables)
      if (cross.isEmpty) return None
      // orient the smaller-bounded side RIGHT (the broadcast/probe
      // side); strict < so ties keep the canonical (L, R)
      val (big, small) = if (r.bound > l.bound) (r, l) else (l, r)
      val oriented = crossing(big.tables, small.tables)
      val (s, kS, t, kT) = oriented.head
      val extra = oriented.tail.map { case (a, ka, b, kb) =>
        JoinEdge(a, ka, b, kb) }
      val sb = stepBoundOf(big, small, s, kS, t, kT)
      val (bs, bc) = composedStats(big, s, kS)
      val (ss, sc) = composedStats(small, t, kT)
      val d = statsJoinDecisionLocal(bs, ss, bc, sc, depth, broadcastRows,
        hotNum, hotDen, rowsPerPartition, maxParts)
      Some(DpJoin(big, small, s, kS, t, kT, extra, sb, d))
    }
    val n = names.size
    val full = (1 << n) - 1
    val dp = new Array[DpPlan](full + 1)
    for (i <- 0 until n)
      dp(1 << i) = DpLeaf(names(i), rowsOf(names(i)))
    for (mask <- 3 to full; if Integer.bitCount(mask) >= 2) {
      val low = mask & -mask
      var best: DpPlan = null
      // canonical split enumeration: left side contains the lowest
      // table; descending submask order (the standard loop) is itself
      // deterministic, which pins tie resolution
      var sub = (mask - 1) & mask
      while (sub != 0) {
        if ((sub & low) != 0) {
          val l = dp(sub); val r = dp(mask ^ sub)
          if (l != null && r != null) mkJoin(l, r).foreach { j =>
            if (best == null || j.cost < best.cost) best = j
          }
        }
        sub = (sub - 1) & mask
      }
      dp(mask) = best // null when the subset is disconnected
    }
    require(dp(full) != null, "no connected join tree exists")
    // best LEFT-DEEP under the same cost model: restrict the DP to
    // singleton right sides
    val ld = new Array[BigInt](full + 1)
    val ldPlan = new Array[DpPlan](full + 1)
    for (i <- 0 until n) {
      ld(1 << i) = BigInt(0)
      ldPlan(1 << i) = dp(1 << i)
    }
    for (mask <- 3 to full; if Integer.bitCount(mask) >= 2) {
      var best: BigInt = null
      for (i <- 0 until n; if (mask & (1 << i)) != 0) {
        val rest = mask ^ (1 << i)
        if (ld(rest) != null)
          mkJoin(ldPlan(rest), dp(1 << i)).foreach { j =>
            val c = ld(rest) + j.stepBound
            if (best == null || c < best) { best = c; ldPlan(mask) = j }
          }
      }
      ld(mask) = best
    }
    require(ld(full) != null, "no connected left-deep order exists")
    JoinOrderDpDecision(dp(full), clampLong(dp(full).cost),
      clampLong(ld(full)))
  }

  /** Execute a [[statsJoinOrderDp]] plan tree over the named inputs:
    * inner equi-joins bottom-up, each through [[statsGatedJoin]] with
    * the DP's per-step strategy; extra crossing edges (cyclic graphs)
    * apply as post-join equality filters — identical result set, so
    * one plain-SQL oracle pins rows AND the shape string. Column
    * names must be unique across the joined tables. */
  def executeJoinTree(dfs: Map[String, DataFrame], plan: DpPlan,
      salts: Int = 16): DataFrame = plan match {
    case DpLeaf(name, _) => dfs(name)
    case DpJoin(l, r, _, kL, _, kR, extra, _, d) =>
      val joined = statsGatedJoin(executeJoinTree(dfs, l, salts),
        executeJoinTree(dfs, r, salts), kL, kR, d, salts)
      extra.foldLeft(joined)((df, e) =>
        df.filter(col(e.keyA) === col(e.keyB)))
  }

  /** Execute a [[statsJoinOrder]] verdict over the named inputs:
    * start from the order's base table and fold each step through
    * [[statsGatedJoin]] (the per-step strategy was already decided
    * from the artifacts). Inner equi-joins only, so the result set is
    * order-invariant — which is what lets one plain-SQL oracle pin
    * the whole plan AND the chosen order string. Column names must be
    * unique across the joined tables (the demo corpus's TPC-H
    * prefixes guarantee it). */
  def executeJoinOrder(dfs: Map[String, DataFrame],
      decision: JoinOrderDecision, salts: Int = 16): DataFrame =
    decision.steps.foldLeft(dfs(decision.order.head)) { (cur, st) =>
      statsGatedJoin(cur, dfs(st.table), st.carrierKey, st.tableKey,
        st.decision, salts)
    }

  /** Bronze writer: partitions raw traces by (chain_id, block day) so
    * incremental jobs and per-chain backfills prune at the directory
    * level — at 100 TB a day-of-one-chain query touches its slice
    * only. Verified by [[graft.ScaleSpec]] via PartitionFilters in the
    * physical plan.
    */
  def writeBronze(traces: DataFrame, path: String): Unit =
    traces
      .withColumn("block_date",
        to_date(coalesce(col("block_timestamp"), lit(0L)).cast("timestamp")))
      .write
      .partitionBy("chain_id", "block_date")
      .mode("overwrite")
      .parquet(path)

  def readBronze(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
