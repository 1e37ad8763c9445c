package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries._

/** The stats planner: staged table-stats artifacts, stats-gated joins,
  * Selinger join ordering and its streaming re-planners.
  */
private[graft] object StatsEntries {

  // TABLE-STATS ARTIFACTS — the SIXTH persistence seam, and the
  // consumer the sketch family was built for (VERDICT r15 next-round
  // #1): per-table planning stats (exact row/null/distinct counts +
  // the hottest key, the KMV cardinality sketch, raw-term CMS counter
  // frames) profiled ONCE per corpus fingerprint in the profiler's
  // single pass and PERSISTED; the stats-gated join below reads THESE
  // at plan time — a catalog lookup — instead of live-scanning its
  // inputs the way skewGatedJoin's hotKeyShare probe must (the "one
  // remaining 100 TB honesty gap": correct, but a full key-column
  // scan per gate decision; COVERAGE.md's r16 probe-cost row records
  // the drop). Staged
  // through the shared seam contract (tableKey fingerprint +
  // stageOnce: atomic publish, _SUCCESS, never rebuilt). The planted
  // 90%-hot demo tables get their OWN artifacts — a planner profiles
  // the table it will actually join.
  private def statsHot(c: Column) = when(c % 10 =!= 0, lit(1L)).otherwise(c)
  private def statsArtifactStaged(s: SparkSession, dir: String): String =
    // _v4: the DP regime's star corpus (orders2 re-keyed on custkey,
    // the two selective order dims); _v3: customer carries BOTH join
    // columns (c_custkey, c_nationkey) for the 4-table chain; _v2
    // added orders' second column and the customer/region/
    // nation(n_regionkey) artifacts — the join-ORDER planner needs
    // every column a chain joins on (the seam contract's
    // layout-change rule: bump the version literal)
    graft.sources.Staging.staged("graft_table_stats_v4", dir, Seq("lineitem",
        "orders", "customer", "supplier", "nation", "region")) { tmp =>
      val S = graft.llm.SketchOps
      def one(name: String, df: DataFrame, rowKey: Column,
          keyCols: String*): Unit =
        S.saveTableStats(
          S.tableStats(df, rowKey,
            keyCols.map(k => (k, col(k), Option.empty[Column])).toSeq),
          s"$tmp/$name")
      one("lineitem", t(s, dir, "lineitem"),
        concat_ws("|", col("l_orderkey"), col("l_linenumber")),
        "l_orderkey")
      one("orders", t(s, dir, "orders"), col("o_orderkey"),
        "o_orderkey", "o_custkey")
      one("customer", t(s, dir, "customer"), col("c_custkey"),
        "c_custkey", "c_nationkey")
      one("supplier", t(s, dir, "supplier"), col("s_suppkey"),
        "s_nationkey")
      one("nation", t(s, dir, "nation"), col("n_nationkey"),
        "n_nationkey", "n_regionkey")
      one("region", t(s, dir, "region"), col("r_regionkey"),
        "r_regionkey")
      one("hot_lineitem",
        t(s, dir, "lineitem")
          .withColumn("l_orderkey", statsHot(col("l_orderkey"))),
        concat_ws("|", col("l_orderkey"), col("l_linenumber")),
        "l_orderkey")
      one("hot_orders",
        t(s, dir, "orders")
          .withColumn("o_orderkey", statsHot(col("o_orderkey")))
          .groupBy("o_orderkey").agg(min("o_custkey").as("o_custkey")),
        col("o_orderkey"), "o_orderkey")
      // the DP star regime's derived tables (q_scale_stats_join
      // _order_dp): a second custkey-keyed fact and two selective
      // order dims — the shape where a bushy plan prices below
      // every left-deep order
      one("orders2", t(s, dir, "orders")
          .select(col("o_custkey").as("o2_custkey"),
            col("o_orderkey").as("o2_orderkey")),
        col("o2_orderkey"), "o2_custkey", "o2_orderkey")
      one("dsel1", t(s, dir, "orders")
          .filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey").as("d1_key")),
        col("d1_key"), "d1_key")
      one("dsel2", t(s, dir, "orders")
          .filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey").as("d2_key")),
        col("d2_key"), "d2_key")
    }

  // THE ARTIFACT CONTENT, oracled through the seam: the entry loads
  // the PERSISTED lineitem stats (never rebuilds — stageOnce) and the
  // oracle recomputes every field from the raw table: exact
  // counts, the hottest key under the (cnt DESC, term ASC) tie rule,
  // the CMS row-max frequency bound (min over hash rows of that
  // row's max bucket), and the KMV tier (shared splitmix hash,
  // DIV-first estimate). Hash-green here means the persisted planning
  // stats are bit-correct — the foundation the gate decisions rest on.
  private val scaleStatsArtifact: Q = (s, dir) => {
    graft.llm.SketchOps.loadTableStats(s,
      s"${statsArtifactStaged(s, dir)}/lineitem").cols
  }
  private val scaleStatsArtifactOracle = {
    def hb(i: Int) =
      s"CAST((${FnvOracleSql.fnvStrPublic(s"('$i' || term)")}) & " +
        s"9223372036854775807::HUGEINT AS BIGINT) % 1024"
    val counters = (0 until 4).map(i =>
      s"""c$i AS (SELECT ${hb(i)} AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt FROM terms GROUP BY 1)""".stripMargin)
      .mkString(",\n")
    val rowmaxes = (0 until 4).map(i =>
      s"(SELECT max(cnt) FROM c$i)").mkString("least(", ", ", ")")
    s"""WITH terms AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS term FROM lineitem
      |  WHERE l_orderkey IS NOT NULL),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS null_cnt,
      |    CAST(count(DISTINCT CAST(l_orderkey AS VARCHAR)) AS BIGINT)
      |      AS n_distinct
      |  FROM lineitem),
      |freq AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
      |       FROM terms GROUP BY 1),
      |hot AS (SELECT term AS hot_term, cnt AS hot_cnt FROM freq
      |        ORDER BY cnt DESC, term ASC LIMIT 1),
      |$counters,
      |dterm AS (SELECT DISTINCT term FROM terms),
      |tz AS (SELECT term, (${FnvOracleSql.fnvStrPublic("term")}) AS z0
      |       FROM dterm),
      |${FnvOracleSql.mix64Ctes("t", "tz", Seq("term"))},
      |th AS (SELECT DISTINCT
      |         CAST(h & 9223372036854775807::HUGEINT AS BIGINT) AS h
      |       FROM tf),
      |krn AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM th),
      |kmv AS (SELECT max(h) AS kth_min_hash,
      |          CAST(count(*) AS BIGINT) AS k_used
      |        FROM krn WHERE rn <= 128)
      |SELECT 'l_orderkey' AS colname, s.n_rows, s.null_cnt, s.n_distinct,
      |  hot.hot_term, hot.hot_cnt, $rowmaxes AS hot_bound,
      |  k.kth_min_hash, k.k_used,
      |  CAST(CASE WHEN k.k_used < 128 THEN k.k_used
      |       ELSE (9223372036854775807 // greatest(k.kth_min_hash, 1)) * 127
      |       END AS BIGINT) AS kmv_est
      |FROM stats s, hot, kmv k""".stripMargin
  }

  // INCREMENTAL STATS-ARTIFACT UPDATE — the sixth seam's append
  // story (the IVF gated-append shape with an EXACT merge instead of
  // a drift tradeoff): the persisted artifact is built over 75% of
  // lineitem's rows with its histogram state kept alongside
  // (saveTableStatsWithHist), then the remaining 25% folds in through
  // SketchOps.updateTableStats — histMerge is exact cellwise count
  // addition, so the refreshed artifact is IDENTICAL to a
  // from-scratch rebuild over the whole table. The ORACLE IS
  // q_scale_stats_artifact's full-table recomputation, so
  // "update-in-place == rebuild" is the hash-compared surface; update
  // cost is histogram-sized, never a table rescan.
  private def statsUpdatedArtifactStaged(s: SparkSession,
      dir: String): String =
    graft.sources.Staging.staged("graft_stats_upd_v1", dir,
        Seq("lineitem")) { tmp =>
      val S = graft.llm.SketchOps
      val li = t(s, dir, "lineitem")
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      val cols = Seq(("l_orderkey", col("l_orderkey"),
        Option.empty[Column]))
      S.saveTableStatsWithHist(S.histFrame(
        li.filter(col("l_linenumber") % 4 =!= 0), rowKey, cols), tmp)
      S.updateTableStats(s, tmp, S.histFrame(
        li.filter(col("l_linenumber") % 4 === 0), rowKey, cols))
    }
  private val scaleStatsUpdate: Q = (s, dir) =>
    graft.llm.SketchOps.loadTableStats(s,
      statsUpdatedArtifactStaged(s, dir)).cols

  // STATS-GATED JOIN — the capstone: broadcast vs shuffle vs salted
  // picked from the PERSISTED artifacts (Scale.statsJoinDecision —
  // exact small-side rows for the broadcast pick, the exact persisted
  // hot-key share for the salted pick, cmsJoinSize over the two
  // persisted counter frames for reducer sizing, the KMV/NDV textbook
  // estimate recorded alongside), never a scan of either input at
  // decision time. Three regimes, each landing on a DIFFERENT branch
  // at every driver SF, and the branch string is IN the
  // hash-compared output — a mis-decision is a correctness failure,
  // not a silent plan regression:
  //   dim_enrich: supplier ⋈ nation (25 rows, every SF) → broadcast
  //   uniform:    lineitem ⋈ orders (hottest key ≪ 20%) → shuffle
  //   hot:        the planted 90%-hot mapping of the same join → salted
  // broadcastRows = 100 is the demo's SF-invariance constant: above
  // the 25-row dims, below the smallest orders slice the driver runs
  // (1 500 at sf0.001). Results are branch-invariant, so one
  // plain-SQL oracle pins all three regimes AND their branch labels.
  private val scaleStatsGatedJoin: Q = (s, dir) => {
    val root = statsArtifactStaged(s, dir)
    val S = graft.llm.SketchOps
    val Sc = graft.operators.Scale
    def stats(name: String, key: String) = {
      val ts = S.loadTableStats(s, s"$root/$name")
      (Sc.keyStats(ts, key),
        ts.counters.filter(col("colname") === key).drop("colname"))
    }
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      floor(col("l_quantity")).cast("long").as("qty"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val hotLi = li.withColumn("l_orderkey", statsHot(col("l_orderkey")))
    val hotOrd = ord.withColumn("o_orderkey", statsHot(col("o_orderkey")))
      .groupBy("o_orderkey").agg(min("o_custkey").as("o_custkey"))
    val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
    def run(regime: String, big: DataFrame, small: DataFrame,
        bigKey: String, smallKey: String, bigName: String,
        smallName: String, sumLeft: Column, sumRight: Column) = {
      val (bs, bc) = stats(bigName, bigKey)
      val (ss, sc) = stats(smallName, smallKey)
      val d = Sc.statsJoinDecision(bs, ss, bc, sc, broadcastRows = 100)
      Sc.statsGatedJoin(big, small, bigKey, smallKey, d)
        .agg(count(lit(1)).as("n_rows"), sum(sumLeft).as("sum_left"),
          sum(sumRight).as("sum_right"))
        .select(lit(regime).as("regime"), lit(d.branch).as("branch"),
          col("n_rows"), col("sum_left"), col("sum_right"))
    }
    run("dim_enrich", sup, nat, "s_nationkey", "n_nationkey",
        "supplier", "nation", col("s_suppkey"), col("n_regionkey"))
      .unionByName(run("uniform", li, ord, "l_orderkey", "o_orderkey",
        "lineitem", "orders", col("qty"), col("o_custkey")))
      .unionByName(run("hot", hotLi, hotOrd, "l_orderkey", "o_orderkey",
        "hot_lineitem", "hot_orders", col("qty"), col("o_custkey")))
  }
  private val scaleStatsGatedJoinOracle =
    """WITH li AS (SELECT l_orderkey,
      |              CAST(floor(l_quantity) AS BIGINT) AS qty
      |            FROM lineitem),
      |hli AS (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1
      |               ELSE l_orderkey END AS k, qty FROM li),
      |hord AS (SELECT CASE WHEN o_orderkey % 10 <> 0 THEN 1
      |                ELSE o_orderkey END AS k,
      |                min(o_custkey) AS o_custkey
      |         FROM orders GROUP BY 1)
      |SELECT 'dim_enrich' AS regime, 'broadcast' AS branch,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(s_suppkey) AS BIGINT) AS sum_left,
      |       CAST(sum(n_regionkey) AS BIGINT) AS sum_right
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |UNION ALL
      |SELECT 'uniform', 'shuffle', CAST(count(*) AS BIGINT),
      |       CAST(sum(l.qty) AS BIGINT), CAST(sum(o.o_custkey) AS BIGINT)
      |FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |UNION ALL
      |SELECT 'hot', 'salted', CAST(count(*) AS BIGINT),
      |       CAST(sum(l.qty) AS BIGINT), CAST(sum(o.o_custkey) AS BIGINT)
      |FROM hli l JOIN hord o ON l.k = o.k""".stripMargin

  // MULTI-JOIN ORDER PLANNING — the rung above the stats-gated join
  // (VERDICT r16 next-round #1): Scale.statsJoinOrder enumerates
  // every connected left-deep order of a 3-table chain, bounds each
  // intermediate from the PERSISTED artifacts alone (the CMS
  // inner-product join bound, composed across steps by scaling the
  // carrier's counter frame with the other tables' max-multiplicity —
  // sound for every tree, StatsGateSpec pins it), picks the min-total
  // order, and executes it via statsGatedJoin per step. The CHOSEN
  // ORDER STRING is in the hash-compared output (the branch-string
  // precedent), so a mis-ordering is a correctness failure:
  //   fact_chain: written lineitem ⋈ orders ⋈ customer — the planner
  //     REORDERS to orders,customer,lineitem (bound(ord⋈cust) ≈
  //     |orders| beats bound(li⋈ord) ≈ |lineitem| at every SF; ties
  //     between the two orders-first enumerations resolve to the
  //     first enumerated);
  //   dim_chain: written nation ⋈ region ⋈ supplier — already
  //     optimal (bound(nat⋈reg) = 25 rows), the planner KEEPS it.
  // Inner equi-joins are order-invariant, so one plain-SQL oracle
  // pins the result rows AND both order strings as literals.
  private val scaleStatsJoinOrder: Q = (s, dir) => {
    val root = statsArtifactStaged(s, dir)
    val S = graft.llm.SketchOps
    val Sc = graft.operators.Scale
    // all three regimes' catalog state in ONE union read (two jobs)
    warmPlanTables(s, root, Seq(
      ("lineitem", Seq("l_orderkey")),
      ("orders", Seq("o_orderkey", "o_custkey")),
      ("customer", Seq("c_custkey")),
      ("customer", Seq("c_custkey", "c_nationkey")),
      ("nation", Seq("n_nationkey", "n_regionkey")),
      ("nation", Seq("n_nationkey")),
      ("region", Seq("r_regionkey")),
      ("supplier", Seq("s_nationkey"))))
    def pt(name: String, keys: String*) =
      planTableCached(s, root, name, keys.toSeq)
    def run(regime: String, tables: Seq[Sc.PlanTable],
        edges: Seq[Sc.JoinEdge], dfs: Map[String, DataFrame],
        sumA: Column, sumB: Column) = {
      val d = Sc.statsJoinOrder(tables, edges, broadcastRows = 100)
      Sc.executeJoinOrder(dfs, d)
        .agg(count(lit(1)).as("n_rows"), sum(sumA).as("sum_a"),
          sum(sumB).as("sum_b"))
        .select(lit(regime).as("regime"),
          lit(d.orderString).as("join_order"), col("n_rows"),
          col("sum_a"), col("sum_b"))
    }
    run("fact_chain",
      Seq(pt("lineitem", "l_orderkey"),
        pt("orders", "o_orderkey", "o_custkey"),
        pt("customer", "c_custkey")),
      Seq(Sc.JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        Sc.JoinEdge("orders", "o_custkey", "customer", "c_custkey")),
      Map(
        "lineitem" -> t(s, dir, "lineitem").select(col("l_orderkey"),
          floor(col("l_quantity")).cast("long").as("qty")),
        "orders" -> t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        "customer" -> t(s, dir, "customer").select("c_custkey",
          "c_nationkey")),
      col("qty"), col("c_nationkey"))
      .unionByName(run("dim_chain",
        Seq(pt("nation", "n_nationkey", "n_regionkey"),
          pt("region", "r_regionkey"),
          pt("supplier", "s_nationkey")),
        Seq(Sc.JoinEdge("nation", "n_regionkey", "region", "r_regionkey"),
          Sc.JoinEdge("supplier", "s_nationkey", "nation", "n_nationkey")),
        Map(
          "nation" -> t(s, dir, "nation").select("n_nationkey",
            "n_regionkey"),
          "region" -> t(s, dir, "region").select("r_regionkey"),
          "supplier" -> t(s, dir, "supplier").select("s_suppkey",
            "s_nationkey")),
        col("s_suppkey"), col("n_regionkey")))
      // 4-table chain (composition depth 3): the written fact-first
      // order is KEPT here — every order that includes customer before
      // the last join pays its c_nationkey max-multiplicity (≈ |cust|/25
      // customers behind the hottest nation) as the scaling factor on
      // all later bounds, which dwarfs the |lineitem|-first cost the
      // 3-table regime reorders away. The planner sees that from the
      // persisted hot counts alone — the m-factor composition at work.
      .unionByName(run("fact_chain4",
        Seq(pt("lineitem", "l_orderkey"),
          pt("orders", "o_orderkey", "o_custkey"),
          pt("customer", "c_custkey", "c_nationkey"),
          pt("nation", "n_nationkey")),
        Seq(Sc.JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
          Sc.JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
          Sc.JoinEdge("customer", "c_nationkey", "nation",
            "n_nationkey")),
        Map(
          "lineitem" -> t(s, dir, "lineitem").select(col("l_orderkey"),
            floor(col("l_quantity")).cast("long").as("qty")),
          "orders" -> t(s, dir, "orders").select("o_orderkey",
            "o_custkey"),
          "customer" -> t(s, dir, "customer").select("c_custkey",
            "c_nationkey"),
          "nation" -> t(s, dir, "nation").select("n_nationkey",
            "n_regionkey")),
        col("qty"), col("n_regionkey")))
  }
  private val scaleStatsJoinOrderOracle =
    """SELECT 'fact_chain' AS regime,
      |       'orders,customer,lineitem' AS join_order,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
      |         AS sum_a,
      |       CAST(sum(c_nationkey) AS BIGINT) AS sum_b
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |UNION ALL
      |SELECT 'dim_chain', 'nation,region,supplier',
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(s_suppkey) AS BIGINT),
      |       CAST(sum(n_regionkey) AS BIGINT)
      |FROM nation
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN supplier ON s_nationkey = n_nationkey
      |UNION ALL
      |SELECT 'fact_chain4', 'lineitem,orders,customer,nation',
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT),
      |       CAST(sum(n_regionkey) AS BIGINT)
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  // SELINGER-DP JOIN ORDERING (r18, VERDICT r17 #3) — the rung above
  // the left-deep permutation scan: Scale.statsJoinOrderDp memoizes
  // the best plan per connected table subset over the SAME persisted
  // artifacts, bushy shapes allowed, with the tighter min-composition
  // step bound (a sub-plan's size bound caps every later step that
  // joins through it — the selectivity credit the left-deep CMS
  // composition cannot express). Two regimes, the CHOSEN SHAPE STRING
  // and the bushy-win flag in the hash-compared output:
  //   dp_star:  customer hub with TWO reducing branches (orders ⋈ a
  //     1%-selective order dim; a custkey-keyed orders clone ⋈ a
  //     2%-selective dim) — the DP prices the bushy
  //     ((orders2,dsel2),(customer,(orders,dsel1))) strictly below
  //     every left-deep order (1.7x at every SF: each branch's small
  //     bound caps the bridge steps, which any left-deep order must
  //     pay unreduced on one side);
  //   dp_chain: the 3-table fact chain — the DP AGREES with the
  //     left-deep rung (dp == best-left-deep bound, shape
  //     (lineitem,(orders,customer))), so the new rung degrades to
  //     the old one when bushy buys nothing.
  // Inner equi-joins are shape-invariant, so one plain-SQL oracle
  // pins the result rows AND both shape literals (empirically
  // SF-invariant at all three driver SFs before pinning).
  private val scaleStatsJoinOrderDp: Q = (s, dir) => {
    val root = statsArtifactStaged(s, dir)
    val S = graft.llm.SketchOps
    val Sc = graft.operators.Scale
    // both regimes' catalog state in ONE union read (two jobs)
    warmPlanTables(s, root, Seq(
      ("orders", Seq("o_orderkey", "o_custkey")),
      ("dsel1", Seq("d1_key")),
      ("customer", Seq("c_custkey")),
      ("orders2", Seq("o2_custkey", "o2_orderkey")),
      ("dsel2", Seq("d2_key")),
      ("lineitem", Seq("l_orderkey"))))
    def pt(name: String, keys: String*) =
      planTableCached(s, root, name, keys.toSeq)
    def run(regime: String, tables: Seq[Sc.PlanTable],
        edges: Seq[Sc.JoinEdge], dfs: Map[String, DataFrame],
        sumA: Column, sumB: Column) = {
      val d = Sc.statsJoinOrderDp(tables, edges, broadcastRows = 100)
      Sc.executeJoinTree(dfs, d.plan)
        .agg(count(lit(1)).as("n_rows"), sum(sumA).as("sum_a"),
          sum(sumB).as("sum_b"))
        .select(lit(regime).as("regime"),
          lit(d.shapeString).as("shape"),
          lit(if (d.bushyWin) 1 else 0).as("bushy_win"),
          col("n_rows"), col("sum_a"), col("sum_b"))
    }
    val ord = t(s, dir, "orders")
    run("dp_star",
      Seq(pt("orders", "o_orderkey", "o_custkey"),
        pt("dsel1", "d1_key"),
        pt("customer", "c_custkey"),
        pt("orders2", "o2_custkey", "o2_orderkey"),
        pt("dsel2", "d2_key")),
      Seq(Sc.JoinEdge("orders", "o_orderkey", "dsel1", "d1_key"),
        Sc.JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
        Sc.JoinEdge("orders2", "o2_custkey", "customer", "c_custkey"),
        Sc.JoinEdge("orders2", "o2_orderkey", "dsel2", "d2_key")),
      Map(
        "orders" -> ord.select("o_orderkey", "o_custkey"),
        "dsel1" -> ord.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey").as("d1_key")),
        "customer" -> t(s, dir, "customer").select("c_custkey"),
        "orders2" -> ord.select(col("o_custkey").as("o2_custkey"),
          col("o_orderkey").as("o2_orderkey")),
        "dsel2" -> ord.filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey").as("d2_key"))),
      col("o_orderkey"), col("o2_orderkey"))
      .unionByName(run("dp_chain",
        Seq(pt("lineitem", "l_orderkey"),
          pt("orders", "o_orderkey", "o_custkey"),
          pt("customer", "c_custkey")),
        Seq(Sc.JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
          Sc.JoinEdge("orders", "o_custkey", "customer", "c_custkey")),
        Map(
          "lineitem" -> t(s, dir, "lineitem").select(col("l_orderkey"),
            floor(col("l_quantity")).cast("long").as("qty")),
          "orders" -> t(s, dir, "orders").select("o_orderkey",
            "o_custkey"),
          "customer" -> t(s, dir, "customer").select("c_custkey",
            "c_nationkey")),
        col("qty"), col("c_nationkey")))
  }
  private val scaleStatsJoinOrderDpOracle =
    """WITH d1 AS (SELECT o_orderkey AS d1_key FROM orders
      |            WHERE o_orderkey % 100 = 0),
      |d2 AS (SELECT o_orderkey AS d2_key FROM orders
      |       WHERE o_orderkey % 50 = 0),
      |o2 AS (SELECT o_custkey AS o2_custkey, o_orderkey AS o2_orderkey
      |       FROM orders)
      |SELECT 'dp_star' AS regime,
      |       '((orders2,dsel2),(customer,(orders,dsel1)))' AS shape,
      |       1 AS bushy_win,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(o_orderkey) AS BIGINT) AS sum_a,
      |       CAST(sum(o2_orderkey) AS BIGINT) AS sum_b
      |FROM orders
      |JOIN d1 ON o_orderkey = d1_key
      |JOIN customer ON o_custkey = c_custkey
      |JOIN o2 ON o2_custkey = c_custkey
      |JOIN d2 ON o2_orderkey = d2_key
      |UNION ALL
      |SELECT 'dp_chain', '(lineitem,(orders,customer))', 0,
      |       CAST(count(*) AS BIGINT),
      |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT),
      |       CAST(sum(c_nationkey) AS BIGINT)
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  // DERIVED-NOT-STAGED FILTERED DIMS (r18 VERDICT #4): the DP star
  // regime above stages dsel1/dsel2 as separately-profiled artifacts
  // — a pre-planning step no ad-hoc user performs. The parent
  // orders histogram (persisted once, saveTableStatsWithHist) already
  // holds the exact per-value counts, so the planner DERIVES each
  // filtered dim's PlanTable at plan time
  // (SketchOps.filteredTableStats — filter the histogram rows,
  // re-finalize; exact because the histogram is the exact per-value
  // reduction, so filtering commutes with profiling). The entry is
  // the differential: it REQUIREs the derived PlanTables EQUAL the
  // staged ones cell-for-cell AND the derived-stats DP plan EQUAL the
  // staged-artifact plan, executes the derived plan, and puts the
  // derived dims' row counts in the hash-compared output next to the
  // oracle's own filtered counts.
  private def ordersHistStaged(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_stats_ordhist_v1", dir,
        Seq("orders")) { tmp =>
      val S = graft.llm.SketchOps
      S.saveTableStatsWithHist(S.histFrame(t(s, dir, "orders"),
        col("o_orderkey"),
        Seq(("o_orderkey", col("o_orderkey"), Option.empty[Column]))),
        tmp)
    }
  private val scaleStatsDerivedDp: Q = (s, dir) => {
    val root = statsArtifactStaged(s, dir)
    val S = graft.llm.SketchOps
    val Sc = graft.operators.Scale
    // the staged comparison set's catalog state in ONE union read
    warmPlanTables(s, root, Seq(
      ("dsel1", Seq("d1_key")),
      ("dsel2", Seq("d2_key")),
      ("orders", Seq("o_orderkey", "o_custkey")),
      ("customer", Seq("c_custkey")),
      ("orders2", Seq("o2_custkey", "o2_orderkey"))))
    // DOP 8 + AQE off for the in-entry derivation collects (the
    // q_profile_table precedent): the parent histogram and both
    // derived finalize chains are cardinality-sized, so wide
    // exchanges and AQE's per-stage jobs are fixed cost only; the
    // returned star join plans lazily and executes after the scope
    // restores the session conf
    withConf(s, SmallPin: _*) {
      // the parent histogram: cardinality-sized, read once; BOTH dims
      // derive from it in ONE finalize pass — the two filtered+renamed
      // sub-histograms have disjoint colnames, so their union feeds a
      // single tableStatsFromHist whose per-colname aggregates are the
      // two independent derivations, and planTablesFromStats slices the
      // result in one collect (the per-dim planTable form paid four
      // collects, each re-running the whole finalize chain)
      val hist = s.read.parquet(s"${ordersHistStaged(s, dir)}/hist")
      def filteredRenamed(colKey: String, m: Int) =
        hist.filter(col("colname") === "o_orderkey" &&
          col("term").cast("long") % m === 0)
          .withColumn("colname", lit(colKey))
      def staged(name: String, keys: String*) =
        planTableCached(s, root, name, keys.toSeq)
      val Seq(d1, d2) = Sc.planTablesFromStats(
        S.tableStatsFromHist(
          filteredRenamed("d1_key", 100)
            .unionByName(filteredRenamed("d2_key", 50))),
        Seq(("dsel1", Seq("d1_key")), ("dsel2", Seq("d2_key"))))
      val d1S = staged("dsel1", "d1_key")
      val d2S = staged("dsel2", "d2_key")
      // the derivation is EXACT, not approximately compatible
      require(d1 == d1S, s"derived dsel1 stats $d1 != staged $d1S")
      require(d2 == d2S, s"derived dsel2 stats $d2 != staged $d2S")
      val shared = Map(
        "orders" -> staged("orders", "o_orderkey", "o_custkey"),
        "customer" -> staged("customer", "c_custkey"),
        "orders2" -> staged("orders2", "o2_custkey", "o2_orderkey"))
      val edges = Seq(
        Sc.JoinEdge("orders", "o_orderkey", "dsel1", "d1_key"),
        Sc.JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
        Sc.JoinEdge("orders2", "o2_custkey", "customer", "c_custkey"),
        Sc.JoinEdge("orders2", "o2_orderkey", "dsel2", "d2_key"))
      def dp(dd1: Sc.PlanTable, dd2: Sc.PlanTable) =
        Sc.statsJoinOrderDp(
          Seq(shared("orders"), dd1, shared("customer"),
            shared("orders2"), dd2), edges, broadcastRows = 100)
      val d = dp(d1, d2)
      val dStaged = dp(d1S, d2S)
      require(d == dStaged,
        s"derived-stats plan $d != staged-artifact plan $dStaged")
      // ONE orders scan feeds all four orders-derived join inputs (r19
      // VERDICT #4: the executed star joined orders, orders2, dsel1 and
      // dsel2 as four separate parquet scans of the same table): the
      // 2-column projection is materialized once (localCheckpoint, a
      // scan+project job — no shuffle) and the three projections +two
      // filters re-read blocks. Values are scan-vs-rescan identical.
      val ord = checkpointWithDump(
        t(s, dir, "orders").select("o_orderkey", "o_custkey"))
      val dfs = Map(
        "orders" -> ord,
        "dsel1" -> ord.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey").as("d1_key")),
        "customer" -> t(s, dir, "customer").select("c_custkey"),
        "orders2" -> ord.select(col("o_custkey").as("o2_custkey"),
          col("o_orderkey").as("o2_orderkey")),
        "dsel2" -> ord.filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey").as("d2_key")))
      Sc.executeJoinTree(dfs, d.plan)
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_a"),
          sum("o2_orderkey").as("sum_b"))
        .select(lit("derived_dims").as("regime"),
          lit(d.shapeString).as("shape"),
          lit(if (d.bushyWin) 1 else 0).as("bushy_win"),
          lit(d1.stats("d1_key").nRows).as("d1_rows"),
          lit(d2.stats("d2_key").nRows).as("d2_rows"),
          col("n_rows"), col("sum_a"), col("sum_b"))
    }
  }
  private val scaleStatsDerivedDpOracle =
    """WITH d1 AS (SELECT o_orderkey AS d1_key FROM orders
      |            WHERE o_orderkey % 100 = 0),
      |d2 AS (SELECT o_orderkey AS d2_key FROM orders
      |       WHERE o_orderkey % 50 = 0),
      |o2 AS (SELECT o_custkey AS o2_custkey, o_orderkey AS o2_orderkey
      |       FROM orders)
      |SELECT 'derived_dims' AS regime,
      |       '((orders2,dsel2),(customer,(orders,dsel1)))' AS shape,
      |       1 AS bushy_win,
      |       (SELECT CAST(count(*) AS BIGINT) FROM d1) AS d1_rows,
      |       (SELECT CAST(count(*) AS BIGINT) FROM d2) AS d2_rows,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(o_orderkey) AS BIGINT) AS sum_a,
      |       CAST(sum(o2_orderkey) AS BIGINT) AS sum_b
      |FROM orders
      |JOIN d1 ON o_orderkey = d1_key
      |JOIN customer ON o_custkey = c_custkey
      |JOIN o2 ON o2_custkey = c_custkey
      |JOIN d2 ON o2_orderkey = d2_key""".stripMargin

  // STREAM-FOLDED STATS → JOIN DECISION, end-to-end (VERDICT r16 #6):
  // the profiler's histogram folds across micro-batches (histMerge,
  // cardinality-sized state) into the SAME table-stats artifact the
  // batch build produces (MergeableSketchSpec "streaming profiler"
  // pins it); this
  // entry closes the loop inside ONE catalog entry — the always-on
  // stats service making a real plan decision. lineitem replays as 3
  // micro-batches, each batch's histogram frame merges into the
  // carried state; at stream end the artifact finalizes
  // (tableStatsFromHist) and Scale.statsJoinDecision plans
  // lineitem ⋈ orders from the FOLDED stats (orders' side from the
  // persisted v2 artifact). The entry REQUIREs the folded decision
  // equal the decision from the persisted batch-built lineitem
  // artifact — stream-folded == batch-built is enforced at every run,
  // not just in the spec — then executes the join through
  // statsGatedJoin with the branch string in the hash-compared
  // output (shuffle at every SF: lineitem's hottest key ≪ 20%).
  private def lineitemSlicesStaged(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_li_slices_v1", dir,
        Seq("lineitem")) { tmp =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      graft.sources.Staging.stageSlices(li, "l_orderkey", 3, tmp)
    }
  private val scaleStatsStreamGate: Q = (s, dir) => {
    val S = graft.llm.SketchOps
    val Sc = graft.operators.Scale
    // SmallPin (the q_profile_table precedent): every
    // in-entry action — fold writes, finalize collects — runs over
    // cardinality-sized frames, where AQE's job-per-stage re-planning
    // is pure fixed cost; the returned join executes after the scope
    // restores the session conf, so it keeps AQE
    withConf(s, SmallPin: _*) {
      // carried state is the cardinality-sized histogram, held as an
      // in-memory frame between triggers instead of a parquet
      // write-then-re-read per batch (r19 VERDICT #7): one materialize
      // job per trigger either way, but no parquet encode/decode or FS
      // round-trip, and the next batch's merge reads blocks instead of
      // files. State stays distributed — a driver-held copy would be
      // data-scale at production volumes.
      val cols = Seq(("l_orderkey", col("l_orderkey"),
        Option.empty[Column]))
      val rowKey = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      // per-batch fold unit — one job per trigger when the merged state
      // checkpoints (profileFrames' materialization is for the
      // multi-consumer profile assembly, not a fold)
      val state = foldBatches(s, lineitemSlicesStaged(s, dir))(
        S.histFrame(_, rowKey, cols))(S.histMerge)
      val root = statsArtifactStaged(s, dir)
      warmPlanTables(s, root, Seq(
        ("orders", Seq("o_orderkey", "o_custkey")),
        ("lineitem", Seq("l_orderkey"))))
      // finalize the folded artifact into a PlanTable in ONE collect
      // (planTablesFromStats); the batch/orders sides come from the
      // shared PlanTable cache over the immutable staged artifacts —
      // the old per-column keyStats + per-frame counter collects paid
      // six job floors per decide over the same catalog-sized state
      val foldedPt = Sc.planTablesFromStats(S.tableStatsFromHist(state),
        Seq(("lineitem", Seq("l_orderkey")))).head
      val ordPt = planTableCached(s, root, "orders",
        Seq("o_orderkey", "o_custkey"))
      def decide(liPt: Sc.PlanTable) = Sc.statsJoinDecisionLocal(
        liPt.stats("l_orderkey"), ordPt.stats("o_orderkey"),
        liPt.counters("l_orderkey"), ordPt.counters("o_orderkey"),
        broadcastRows = 100)
      val d = decide(foldedPt)
      // the always-on service must agree with the batch-built artifact
      val dBatch = decide(
        planTableCached(s, root, "lineitem", Seq("l_orderkey")))
      require(d == dBatch,
        s"stream-folded decision $d != batch-built decision $dBatch")
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      Sc.statsGatedJoin(li, ord, "l_orderkey", "o_orderkey", d)
        .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
          sum("o_custkey").as("sum_cust"))
        .select(lit("stream_folded").as("regime"),
          lit(d.branch).as("branch"), col("n_rows"), col("sum_qty"),
          col("sum_cust"))
    }
  }
  private val scaleStatsStreamGateOracle =
    """SELECT 'stream_folded' AS regime, 'shuffle' AS branch,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
      |         AS sum_qty,
      |       CAST(sum(o.o_custkey) AS BIGINT) AS sum_cust
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin

  // TWO-SIDED STREAM-FOLDED PLANNING (r18, VERDICT r17 #6):
  // q_scale_stats_stream_gate folds ONE table's profiler and reads
  // the other side persisted; here BOTH fact sides of the 3-table
  // chain (lineitem AND orders) replay as one tagged 3-slice stream,
  // each micro-batch folds BOTH histograms (two cardinality-sized
  // state frames), and the planner RE-PLANS per batch — strategy AND
  // order, Scale.statsJoinOrder over the two folded artifacts plus
  // the persisted customer artifact. The entry REQUIREs the final
  // folded decision (order string + every per-step strategy) equal
  // the decision from the persisted batch-built artifacts, counts
  // the re-plans (one per slice), and executes the final plan with
  // the order string in the hash-compared output. Mid-stream plans
  // come from prefix-exact stats: MergeableSketchSpec "streaming
  // profiler" pins the folded histogram equal to the whole prefix's
  // at every batch.
  private def liOrdSlicesStaged(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_liord_slices_v1", dir,
        Seq("lineitem", "orders")) { tmp =>
      // one tagged frame sliced on the shared orderkey range, so
      // every slice carries BOTH tables' rows (the always-on
      // profiler sees both sides grow together)
      val li = t(s, dir, "lineitem")
        .select(lit("lineitem").as("tbl"), col("l_orderkey").as("a"),
          col("l_linenumber").cast("long").as("b"))
      val ord = t(s, dir, "orders")
        .select(lit("orders").as("tbl"), col("o_orderkey").as("a"),
          col("o_custkey").cast("long").as("b"))
      graft.sources.Staging.stageSlices(li.unionByName(ord), "a", 3, tmp)
    }
  private val scaleStatsStreamOrder: Q = (s, dir) => {
    val S = graft.llm.SketchOps
    val Sc = graft.operators.Scale
    // SmallPin — same rationale as the stream gate:
    // every per-batch fold/re-plan action is over cardinality-sized
    // state, and AQE split each into a cascade of per-stage jobs
    // (measured: 156 jobs per run before, dominated by fixed job
    // floors); the returned 3-table join executes after the scope
    withConf(s, SmallPin: _*) {
      val watch = liOrdSlicesStaged(s, dir)
      val root = statsArtifactStaged(s, dir)
      warmPlanTables(s, root, Seq(
        ("customer", Seq("c_custkey")),
        ("lineitem", Seq("l_orderkey")),
        ("orders", Seq("o_orderkey", "o_custkey"))))
      val custPt = planTableCached(s, root, "customer", Seq("c_custkey"))
      val edges = Seq(
        Sc.JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        Sc.JoinEdge("orders", "o_custkey", "customer", "c_custkey"))
      // the per-batch re-plan goes through the DP rung (r18 VERDICT
      // #3: statsJoinOrderDp existed but the always-on path still
      // called the left-deep statsJoinOrder) — full subset DP over
      // the folded artifacts every batch; on this 3-table chain the
      // DP's optimum degenerates to the left-deep shape, so the
      // pinned plan literal is the left-deep order in tree form
      // (empirically SF-invariant: sf0.001/0.01/0.1 and the sf1
      // rehearsal all resolve to the same shape)
      def planPts(liPt: Sc.PlanTable, ordPt: Sc.PlanTable) =
        Sc.statsJoinOrderDp(Seq(liPt, ordPt, custPt), edges,
          broadcastRows = 100)
      // carried state held as an in-memory frame between triggers
      // instead of a parquet write-then-re-read per batch (r19 VERDICT
      // #7) — one materialize job per trigger either way, but the
      // per-batch re-plan and the next merge read blocks, not files.
      // Distributed, never driver-held: the histogram is
      // cardinality-sized.
      var plans = Vector.empty[Sc.JoinOrderDpDecision]
      // ONE unioned fold per batch: the two sides' histogram frames
      // share a schema and DISJOINT colnames, so the cellwise merge
      // keyed on (colname, term, …) folds each side independently
      // inside a single state materialize — one job per trigger where
      // the split-state form paid two
      foldBatches(s, watch) { b =>
        S.histFrame(
          b.filter(col("tbl") === "lineitem")
            .select(col("a").as("l_orderkey"), col("b").as("l_linenumber")),
          concat_ws("|", col("l_orderkey"), col("l_linenumber")),
          Seq(("l_orderkey", col("l_orderkey"), None)))
          .unionByName(S.histFrame(
            b.filter(col("tbl") === "orders")
              .select(col("a").as("o_orderkey"), col("b").as("o_custkey")),
            col("o_orderkey"),
            Seq(("o_orderkey", col("o_orderkey"), None),
              ("o_custkey", col("o_custkey"), None))))
      }(S.histMerge, { merged =>
        // the always-on planner RE-PLANS from the carried state after
        // every fold — order AND per-step strategy; both sides'
        // PlanTables slice out of ONE finalized artifact in one
        // collect (planTablesFromStats), not one job per column per
        // side
        val pts = Sc.planTablesFromStats(
          S.tableStatsFromHist(merged),
          Seq(("lineitem", Seq("l_orderkey")),
            ("orders", Seq("o_orderkey", "o_custkey"))))
        plans :+= planPts(pts(0), pts(1))
      })
      val d = plans.last
      // the always-on service must agree with the batch-built
      // artifacts on the WHOLE plan — order and every step's strategy
      // (the batch side reads the same immutable staged artifacts the
      // other planner entries do, through the shared PlanTable cache)
      val dBatch = planPts(
        planTableCached(s, root, "lineitem", Seq("l_orderkey")),
        planTableCached(s, root, "orders", Seq("o_orderkey", "o_custkey")))
      require(d == dBatch,
        s"stream-folded plan $d != batch-built plan $dBatch")
      val dfs = Map(
        "lineitem" -> t(s, dir, "lineitem").select(col("l_orderkey"),
          floor(col("l_quantity")).cast("long").as("qty")),
        "orders" -> t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        "customer" -> t(s, dir, "customer").select("c_custkey",
          "c_nationkey"))
      Sc.executeJoinTree(dfs, d.plan)
        .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
          sum("c_nationkey").as("sum_nat"))
        .select(lit("stream_folded_order").as("regime"),
          lit(d.shapeString).as("join_order"),
          lit(plans.size).as("n_replans"), col("n_rows"), col("sum_qty"),
          col("sum_nat"))
    }
  }
  private val scaleStatsStreamOrderOracle =
    """SELECT 'stream_folded_order' AS regime,
      |       '(lineitem,(orders,customer))' AS join_order,
      |       3 AS n_replans,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
      |         AS sum_qty,
      |       CAST(sum(c_nationkey) AS BIGINT) AS sum_nat
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_scale_stats_artifact", scaleStatsArtifact, scaleStatsArtifactOracle),
    Entry("q_scale_stats_update", scaleStatsUpdate, scaleStatsArtifactOracle),
    Entry("q_scale_stats_gated_join", scaleStatsGatedJoin, scaleStatsGatedJoinOracle),
    Entry("q_scale_stats_join_order", scaleStatsJoinOrder, scaleStatsJoinOrderOracle),
    Entry("q_scale_stats_join_order_dp", scaleStatsJoinOrderDp, scaleStatsJoinOrderDpOracle),
    Entry("q_scale_stats_derived_dp", scaleStatsDerivedDp, scaleStatsDerivedDpOracle),
    Entry("q_scale_stats_stream_gate", scaleStatsStreamGate, scaleStatsStreamGateOracle, stream = true),
    Entry("q_scale_stats_stream_order", scaleStatsStreamOrder, scaleStatsStreamOrderOracle, stream = true),
  )
}
