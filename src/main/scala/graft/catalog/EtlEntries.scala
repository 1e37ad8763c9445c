package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Queries._

/** The trace-ETL family: the flagship commit (batch and streaming), the
  * G1/A/J/D/P/F/O operators it decomposes into, and the keccak / EIP-55
  * vectors.
  */
private[graft] object EtlEntries {

  // ---------------------------------------------------------------
  // G1: sessionization (gap > 1800 s starts a new session)
  // ---------------------------------------------------------------
  private val g1Sessionize: Q = (s, dir) => {
    val ev = events(s, dir).select("event_id", "user_id", "sec")
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    ev.withColumn("prev", lag("sec", 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"),
        max("event_id").as("last_event"))
  }
  private val g1Oracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
      |), flags AS (
      |  SELECT *,
      |    CASE WHEN lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), sess AS (
      |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flags
      |)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(event_id) AS first_event, max(event_id) AS last_event
      |FROM sess GROUP BY 1, 2""".stripMargin

  // G1 via the built-in session_window (the Structured-Streaming-ready
  // form). Boundary semantics: Spark merges an event landing EXACTLY
  // at the previous session's end (next_start <= prev_end), so a new
  // session starts only when the gap strictly exceeds 1800 s
  private val g1SessionWindow: Q = (s, dir) => {
    val ev = events(s, dir)
      .select(col("event_id"), col("user_id"), col("sec").cast("timestamp").as("evt"))
    ev.groupBy(col("user_id"), session_window(col("evt"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"), col("first_event"))
  }
  private val g1SessionWindowOracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
      |), flags AS (
      |  SELECT *, CASE WHEN lag(sec) OVER w IS NULL
      |         OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), sess AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flags
      |)
      |SELECT user_id, min(sec) AS session_start, max(sec) + 1800 AS session_end,
      |       count(*) AS n_events, min(event_id) AS first_event
      |FROM sess GROUP BY user_id, sid""".stripMargin

  // ---------------------------------------------------------------
  // A1: call_tree — count per (tx, to, from)
  // ---------------------------------------------------------------
  private val a1CallTree: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .groupBy("l_orderkey", "l_suppkey", "l_partkey")
      .agg(count(lit(1)).as("cnt"))
  private val a1Oracle =
    "SELECT l_orderkey, l_suppkey, l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1,2,3"

  // A2: gas_tree — summed gas per edge
  private val a2GasTree: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(qty(col("l_quantity"))).as("sum_qty"))
  private val a2Oracle =
    "SELECT l_suppkey, l_partkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty FROM lineitem GROUP BY 1,2"

  // A3: signature_tree — selector set per callee. The set column has a
  // 3-value domain (A/N/R), so presence flags + a null-skipping
  // concat_ws replace the collect_set: a codegen'd HashAggregate of 3
  // ints instead of an ObjectHashAggregate building an ArrayBuffer per
  // group (~600k groups at sf0.1 — measured 1.9 s → 0.6 s). The
  // arbitrary-domain set collect stays exercised where it is real:
  // the fused commit's signature sets (q_etl_transactions/contracts).
  private val a3SignatureTree: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .groupBy("l_orderkey", "l_suppkey")
      .agg(
        max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("hasA"),
        max(when(col("l_returnflag") === "N", 1).otherwise(0)).as("hasN"),
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("hasR"))
      .select(col("l_orderkey"), col("l_suppkey"),
        concat_ws(",",
          when(col("hasA") === 1, lit("A")),
          when(col("hasN") === 1, lit("N")),
          when(col("hasR") === 1, lit("R"))).as("sigs"))
  private val a3Oracle =
    "SELECT l_orderkey, l_suppkey, coalesce(array_to_string(list_sort(list(DISTINCT l_returnflag)), ','), '') AS sigs FROM lineitem GROUP BY 1,2"

  // A4: pairing input-size multiset per caller (list, not set)
  private val a4PairingSizes: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_orderkey")
      .agg(csv(sort_array(collect_list(qty(col("l_quantity"))))).as("sizes"))
  private val a4Oracle =
    """SELECT l_orderkey, coalesce(array_to_string(list_sort(list(CAST(floor(l_quantity) AS BIGINT))), ','), '') AS sizes
      |FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1""".stripMargin

  // A5: recovered-address set (filtered collect_set)
  private val a5RecoverSet: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .filter(col("l_quantity") < 10)
      .groupBy("l_orderkey")
      .agg(csv(array_sort(collect_set(col("l_linestatus")))).as("statuses"))
  private val a5Oracle =
    """SELECT l_orderkey, coalesce(array_to_string(list_sort(list(DISTINCT l_linestatus)), ','), '') AS statuses
      |FROM lineitem WHERE l_quantity < 10 GROUP BY 1""".stripMargin

  // A6: first_trace — root row per group via min_by
  private val a6FirstTrace: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .groupBy("l_orderkey")
      .agg(min_by(col("l_partkey"),
          col("l_linenumber") * 1000000L + col("l_partkey")).as("first_part"),
        min(col("l_linenumber")).as("root_line"))
  private val a6Oracle =
    """SELECT l_orderkey, min_by(l_partkey, l_linenumber * 1000000 + l_partkey) AS first_part,
      |       min(l_linenumber) AS root_line FROM lineitem GROUP BY 1""".stripMargin

  // A7: per-tx conditional precompile counts
  private val a7PrecompileCounts: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .groupBy("l_orderkey")
      .agg(
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_r"),
        sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("n_n"))
  private val a7Oracle =
    """SELECT l_orderkey,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
      |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_n
      |FROM lineitem GROUP BY 1""".stripMargin

  // A8: two-level flatten of per-caller lists to tx level
  private val a8FlattenSizes: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(collect_list(qty(col("l_quantity"))).as("per_supp"))
      .groupBy("l_orderkey")
      .agg(csv(sort_array(flatten(collect_list(col("per_supp"))))).as("all_sizes"))
  private val a8Oracle =
    """SELECT l_orderkey, coalesce(array_to_string(list_sort(list(CAST(floor(l_quantity) AS BIGINT))), ','), '') AS all_sizes
      |FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1""".stripMargin

  // A9: degree-scoped gas. The degree membership (any R row) and the
  // per-caller out-gas share the (orderkey, suppkey) key, so one
  // conditional aggregate replaces the distinct + aggregate + join
  // cascade — 2 exchanges instead of 3 + a join, same rows. (The
  // join-shaped decomposition lives in TraceEtlRelational.)
  private val a9DegreeGas: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(qty(col("l_quantity"))).as("g"),
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("in_deg"))
      .filter(col("in_deg") === 1)
      .groupBy("l_orderkey")
      .agg(sum("g").as("deg_gas"))
  private val a9Oracle =
    """WITH deg AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
      |outg AS (SELECT l_orderkey, l_suppkey, sum(CAST(floor(l_quantity) AS BIGINT)) AS g
      |         FROM lineitem GROUP BY 1, 2)
      |SELECT d.l_orderkey AS l_orderkey, CAST(sum(g) AS BIGINT) AS deg_gas
      |FROM deg d JOIN outg o ON d.l_orderkey = o.l_orderkey AND d.l_suppkey = o.l_suppkey
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // J1: commit filter (left-semi join)
  // ---------------------------------------------------------------
  private val j1CommitFilter: Q = (s, dir) => {
    val zk = lineitemEdges(s, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey")).distinct()
    t(s, dir, "orders").join(zk, Seq("o_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus")
  }
  private val j1Oracle =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')""".stripMargin

  // J2: first-degree callers + what they called (2-value domain after
  // the R/A filter — presence flags keep the agg codegen'd, see A3)
  private val j2FirstDegree: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(
        max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("hasA"),
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("hasR"))
      .select(col("l_orderkey"), col("l_suppkey"),
        concat_ws(",",
          when(col("hasA") === 1, lit("A")),
          when(col("hasR") === 1, lit("R"))).as("call"))
  private val j2Oracle =
    """SELECT l_orderkey, l_suppkey, coalesce(array_to_string(list_sort(list(DISTINCT l_returnflag)), ','), '') AS call
      |FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1, 2""".stripMargin

  // J3: second-degree (2-hop self-join) + EOA anti-filter
  private def edgesDf(s: SparkSession, dir: String): DataFrame =
    lineitemEdges(s, dir).select(
      col("l_orderkey").as("ok"),
      (col("l_partkey") % 100).as("src"),
      col("l_suppkey").as("dst"),
      col("l_returnflag").as("fl"))
  /** First-degree membership set (ok, src) — the distinct that j3, j4
    * and j6 each rebuilt; one shuffle, computed once per corpus.
    */
  private[graft] def firstDegSet(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "firstdeg") {
      // the distinct rides the edge cache's hash(ok) partitioning
      // (group keys ⊇ partition key), so this whole build is
      // exchange-free and the cached frame stays ok-partitioned
      edgesDf(s, dir).filter(col("fl") === "R").select("ok", "src").distinct()
    }
  /** The same membership set folded to ONE bounded array per tx —
    * `src` has a 100-value domain, so each set is ≤ 100 longs. The
    * j3/j4/j6 membership joins probe THIS frame on the single key
    * `ok` + an `array_contains` filter instead of the two-key
    * (ok, dst)=(ok, src) equi-join: with
    * `spark.sql.requireAllClusterKeysForCoPartition` at its (safe)
    * default, the two-key form refused the existing hash(ok)
    * co-partitioning and re-shuffled the EDGE side by (ok, dst) on
    * every run — measured 3 full-corpus exchanges per j3 run at sf1;
    * the single-key form covers ALL the join's cluster keys, so every
    * downstream join/distinct/aggregate rides hash(ok) exchange-FREE.
    */
  private[graft] def firstDegSets(s: SparkSession, dir: String): DataFrame =
    cachedFrame(s, dir, "firstdegsets") {
      firstDegSet(s, dir).groupBy("ok")
        .agg(collect_set(col("src")).as("fset"))
    }
  private val j3SecondDegree: Q = (s, dir) => {
    val e = edgesDf(s, dir)
    val second = e.join(firstDegSets(s, dir), Seq("ok"))
      .filter(array_contains(col("fset"), col("dst")))
      .select(col("ok"), col("src")).distinct()
    val eoa = e.groupBy("ok").agg(min("src").as("eoa"))
    second.join(eoa, Seq("ok")).filter(col("src") =!= col("eoa")).select("ok", "src")
  }
  private val j3Sql =
    """WITH e AS (SELECT l_orderkey AS ok, l_partkey % 100 AS src, l_suppkey AS dst,
      |                  l_returnflag AS fl FROM lineitem),
      |frst AS (SELECT DISTINCT ok, src FROM e WHERE fl = 'R'),
      |scnd AS (SELECT DISTINCT e.ok AS ok, e.src AS src
      |         FROM e JOIN frst f ON e.ok = f.ok AND e.dst = f.src),
      |eoa AS (SELECT ok, min(src) AS eoa FROM e GROUP BY 1)
      |SELECT s.ok AS ok, s.src AS src FROM scnd s JOIN eoa x ON s.ok = x.ok
      |WHERE s.src <> x.eoa""".stripMargin

  // J4: degree-tagged union (double membership allowed)
  private val j4DegreeUnion: Q = (s, dir) => {
    val e = edgesDf(s, dir)
    val first = firstDegSet(s, dir).withColumn("degree", lit(0))
    val second = e.join(firstDegSets(s, dir), Seq("ok"))
      .filter(array_contains(col("fset"), col("dst")))
      .select(col("ok"), col("src")).distinct()
      .withColumn("degree", lit(1))
    first.unionByName(second)
  }
  private val j4Oracle =
    """WITH e AS (SELECT l_orderkey AS ok, l_partkey % 100 AS src, l_suppkey AS dst,
      |                  l_returnflag AS fl FROM lineitem),
      |frst AS (SELECT DISTINCT ok, src FROM e WHERE fl = 'R'),
      |scnd AS (SELECT DISTINCT e.ok AS ok, e.src AS src
      |         FROM e JOIN frst f ON e.ok = f.ok AND e.dst = f.src)
      |SELECT ok, src, 0 AS degree FROM frst
      |UNION ALL SELECT ok, src, 1 AS degree FROM scnd""".stripMargin

  // J5: contract enrichment. All three legs (membership, signature
  // set, filtered count) group on the same (orderkey, suppkey) key, so
  // one conditional aggregate replaces the 3-aggregate + 2-left-join
  // cascade — 1 exchange instead of 3, identical output (the membership
  // row always contributes to the sig group, so the old coalesce
  // defaults were only reachable for cnt). Join-shaped decomposition:
  // TraceEtlRelational.
  // the l_linestatus set has a 2-value domain (F/O) — presence flags
  // instead of collect_set keep the whole agg codegen'd (see A3)
  private val j5Enrichment: Q = (s, dir) =>
    lineitemEdges(s, dir)
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("addr"))
      .agg(
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("is_contract"),
        max(when(col("l_linestatus") === "F", 1).otherwise(0)).as("hasF"),
        max(when(col("l_linestatus") === "O", 1).otherwise(0)).as("hasO"),
        sum(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("n_cnt"))
      .filter(col("is_contract") === 1)
      .select(col("ok"), col("addr"),
        concat_ws(",",
          when(col("hasF") === 1, lit("F")),
          when(col("hasO") === 1, lit("O"))).as("sigs"),
        col("n_cnt").as("cnt"))
  private val j5Oracle =
    """WITH c AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS addr
      |           FROM lineitem WHERE l_returnflag = 'R'),
      |sigs AS (SELECT l_orderkey AS ok, l_suppkey AS addr,
      |                list_sort(list(DISTINCT l_linestatus)) AS sigs
      |         FROM lineitem GROUP BY 1, 2),
      |cnts AS (SELECT l_orderkey AS ok, l_suppkey AS addr, count(*) AS cnt
      |         FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1, 2)
      |SELECT c.ok AS ok, c.addr AS addr,
      |       coalesce(array_to_string(s.sigs, ','), '') AS sigs,
      |       CAST(coalesce(n.cnt, 0) AS BIGINT) AS cnt
      |FROM c LEFT JOIN sigs s ON c.ok = s.ok AND c.addr = s.addr
      |       LEFT JOIN cnts n ON c.ok = n.ok AND c.addr = n.addr""".stripMargin

  // J6: closest-address fallback (second if non-empty else first)
  private val j6Closest: Q = (s, dir) => {
    val e = edgesDf(s, dir)
    val first = e.filter(col("fl") === "R").groupBy("ok")
      .agg(array_sort(collect_set(col("src"))).as("first_arr"))
    val secondRows = e.join(firstDegSets(s, dir), Seq("ok"))
      .filter(array_contains(col("fset"), col("dst")))
      .select(col("ok"), col("src"))
    val second = secondRows.groupBy("ok")
      .agg(array_sort(collect_set(col("src"))).as("second_arr"))
    first.join(second, Seq("ok"), "left")
      .select(col("ok"),
        csv(when(size(coalesce(col("second_arr"), array())) > 0, col("second_arr"))
          .otherwise(col("first_arr"))).as("closest"))
  }
  private val j6Oracle =
    """WITH e AS (SELECT l_orderkey AS ok, l_partkey % 100 AS src, l_suppkey AS dst,
      |                  l_returnflag AS fl FROM lineitem),
      |frst AS (SELECT ok, list_sort(list(DISTINCT src)) AS first_arr
      |         FROM e WHERE fl = 'R' GROUP BY 1),
      |fset AS (SELECT DISTINCT ok, src FROM e WHERE fl = 'R'),
      |scnd AS (SELECT e.ok AS ok, list_sort(list(DISTINCT e.src)) AS second_arr
      |         FROM e JOIN fset f ON e.ok = f.ok AND e.dst = f.src GROUP BY 1)
      |SELECT f.ok AS ok,
      |       coalesce(array_to_string(
      |         CASE WHEN len(coalesce(s.second_arr, CAST([] AS BIGINT[]))) > 0
      |              THEN s.second_arr ELSE f.first_arr END, ','), '') AS closest
      |FROM frst f LEFT JOIN scnd s ON f.ok = s.ok""".stripMargin

  // ---------------------------------------------------------------
  // D1/D2: keep-last / keep-first dedup via window row_number
  // ---------------------------------------------------------------
  private def dedup(s: SparkSession, dir: String, desc_ : Boolean): DataFrame = {
    val ev = events(s, dir)
      .select("event_id", "user_id", "event_type", "sec")
    val ord = if (desc_) Seq(col("sec").desc, col("event_id").desc)
    else Seq(col("sec").asc, col("event_id").asc)
    val w = Window.partitionBy("user_id", "event_type").orderBy(ord: _*)
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("event_id", "user_id", "event_type", "sec")
  }
  private val d1KeepLast: Q = (s, dir) => dedup(s, dir, desc_ = true)
  private val d1Oracle =
    """SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |FROM events QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC) = 1""".stripMargin
  private val d2KeepFirst: Q = (s, dir) => dedup(s, dir, desc_ = false)
  private val d2Oracle =
    """SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |FROM events QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC) = 1""".stripMargin

  // ---------------------------------------------------------------
  // P-ops: scalar projections
  // ---------------------------------------------------------------
  private val p1JsonDecode: Q = (s, dir) =>
    events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
  private val p1Oracle =
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events"

  private val p2U256Cast: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        // verify surface: lossless decimal STRING — a DECIMAL(38,0)
        // wider than 18 digits degrades to float64 in the verifier's
        // pandas bridge, so the U256 round-trips as its string shadow
        (col("l_orderkey").cast("decimal(38,0)") *
          lit("1000000000000000000").cast("decimal(19,0)"))
          .cast("decimal(38,0)").cast("string").as("wei"))
  private val p2Oracle =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(CAST(l_orderkey AS DECIMAL(38,0)) * CAST('1000000000000000000' AS DECIMAL(19,0))
      |       AS DECIMAL(38,0)) AS VARCHAR) AS wei
      |FROM lineitem""".stripMargin

  private val p6Selector: Q = (s, dir) =>
    t(s, dir, "part").select(col("p_partkey"),
      when(length(col("p_name")) > 4, substring(col("p_name"), 1, 4))
        .otherwise("0000").as("sel"))
  private val p6Oracle =
    """SELECT p_partkey, CASE WHEN length(p_name) > 4 THEN substr(p_name, 1, 4)
      |ELSE '0000' END AS sel FROM part""".stripMargin

  private val p7SelectorMasked: Q = (s, dir) =>
    t(s, dir, "part").select(col("p_partkey"),
      when(col("p_brand").isin("Brand#11", "Brand#22"), "0000")
        .when(length(col("p_name")) > 4, substring(col("p_name"), 1, 4))
        .otherwise("0000").as("sel"))
  private val p7Oracle =
    """SELECT p_partkey, CASE WHEN p_brand IN ('Brand#11', 'Brand#22') THEN '0000'
      |WHEN length(p_name) > 4 THEN substr(p_name, 1, 4) ELSE '0000' END AS sel
      |FROM part""".stripMargin

  private val p8Recover: Q = (s, dir) =>
    t(s, dir, "part").select(col("p_partkey"),
      when(length(col("p_name")) < 12, "zero")
        .otherwise(substring(col("p_name"), 5, 8)).as("addr"))
  private val p8Oracle =
    """SELECT p_partkey, CASE WHEN length(p_name) < 12 THEN 'zero'
      |ELSE substr(p_name, 5, 8) END AS addr FROM part""".stripMargin

  private val p10Predicate: Q = (s, dir) =>
    t(s, dir, "part").filter(col("p_brand").isin("Brand#11", "Brand#33"))
      .select("p_partkey", "p_brand")
  private val p10Oracle =
    "SELECT p_partkey, p_brand FROM part WHERE p_brand IN ('Brand#11', 'Brand#33')"

  // F2: positional fan-out, 1-based index quirk
  private val f2Fanout: Q = (s, dir) =>
    t(s, dir, "part")
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
      .select(col("p_partkey"), (col("pos") + 1).as("idx"), col("col").as("word"))
  private val f2Oracle =
    """SELECT p_partkey, CAST(i AS INT) AS idx, ws[i] AS word
      |FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part),
      |     LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) t""".stripMargin

  // F1: recursive call-frame flatten over a staged table of JSON frame
  // trees (one callTracer payload per order — staged once per JVM like
  // the trace bronze: real payloads land once, every consumer reads
  // the staged table), flatten it, verify node counts/depths
  private[graft] def frameTrees(s: SparkSession, dir: String): DataFrame = {
    // cache key carries a fingerprint of the source file (length +
    // mtime) so a regenerated dataset at the same path invalidates the
    // staging dir; publication is atomic-rename (Staging.stageOnce) so
    // concurrent first callers — even across JVMs — can't interleave
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val fp = java.lang.Long.toHexString(src.length() * 31L + src.lastModified())
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_") + "_" + fp
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_trees_$key"
    if (!graft.sources.Staging.hasMarker(s"$path")) {
      graft.sources.Staging.stageOnce(path) { tmp =>
        val li = t(s, dir, "lineitem")
        val child = struct(
          concat(lit("0x"), lpad(lower(hex(col("l_suppkey"))), 40, "0")).as("from"),
          concat(lit("0x"), lpad(lower(hex(col("l_partkey"))), 40, "0")).as("to"),
          concat(lit("0x"), lower(hex(qty(col("l_quantity"))))).as("gasUsed"),
          lit("CALL").as("type"))
        li.groupBy("l_orderkey")
          .agg(collect_list(child).as("kids"))
          .select(col("l_orderkey"),
            to_json(struct(
              lit("0x" + "00" * 20).as("from"),
              lit("0x" + "11" * 20).as("to"),
              lit("CALL").as("type"),
              col("kids").as("calls"))).as("tree_json"))
          .write.mode("overwrite").parquet(tmp)
      }
    }
    s.read.parquet(path)
  }
  private val f1Flatten: Q = (s, dir) => {
    val spark2 = s
    import spark2.implicits._
    graft.operators.Flatten.flattenFrames(frameTrees(s, dir), "l_orderkey", "tree_json")
      .map { case (k, f) => (k, f.trace_address.length) }
      .toDF("ok", "depth")
      .groupBy("ok")
      .agg(count(lit(1)).as("n_nodes"), max(col("depth")).as("max_depth"))
  }
  private val f1Oracle =
    "SELECT l_orderkey AS ok, count(*) + 1 AS n_nodes, 1 AS max_depth FROM lineitem GROUP BY 1"

  // P3: trace normalizer — lowercase addresses, root flag, call filter
  private val p3Normalize: Q = (s, dir) => {
    val traces = graft.sources.SyntheticTraces.bronze(s, dir)
    graft.operators.TraceEtl.normalize(traces)
      .filter(col("is_root"))
      .select("chain_id", "transaction_hash", "from_address", "is_root")
  }
  private val p3Oracle =
    """SELECT 1 + o_orderkey % 3 AS chain_id,
      |  '0x' || lpad(lower(hex(o_orderkey)), 64, '0') AS transaction_hash,
      |  lower('0x' || lpad(lower(hex(o_custkey + 1000000)), 40, '0')) AS from_address,
      |  TRUE AS is_root
      |FROM orders""".stripMargin

  // P5: block normalizer — JSON decode with pending-drop + defaults.
  // Reads the staged raw-JSON block corpus (encode paid once, like the
  // trace bronze) so the measured path is the decode that exists in
  // production. Every 10th block is "pending" (no hash) → dropped.
  private val p5BlockDecode: Q = (s, dir) => {
    val raw = graft.sources.SyntheticTraces.blocksBronze(s, dir)
      .filter(col("re_emit") === 0).select("value")
    graft.sources.Ingest.decodeBlocks(raw, chainId = 3)
      .select("chain_id", "number", "timestamp", "hash", "transaction_count", "gas_used", "miner")
  }
  private val p5Oracle =
    """SELECT CAST(3 AS BIGINT) AS chain_id, o_orderkey AS number, o_orderkey + 1000 AS timestamp,
      |  '0x' || lpad(lower(hex(o_orderkey)), 64, '0') AS hash,
      |  0 AS transaction_count,
      |  CAST(trunc(o_totalprice) AS BIGINT) % 1000 AS gas_used,
      |  '0x0000000000000000000000000000000000000000' AS miner
      |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin

  // Full blocks path: JSON decode (P5) with pending-drop + re-emitted
  // blocks deduped keep-LAST per (chain, number) — the final table
  // state the reference's ON CONFLICT DO UPDATE overwrite converges to
  // (etl_result.rs:267-281 + D1 dedup).
  private val etlBlocks: Q = (s, dir) => {
    // staged raw corpus includes the ~14% reorg/update re-emissions
    // with newer timestamps (see SyntheticTraces.blocksBronze)
    val raw = graft.sources.SyntheticTraces.blocksBronze(s, dir).select("value")
    val decoded = graft.sources.Ingest.decodeBlocks(raw, chainId = 3)
    val w = Window.partitionBy("chain_id", "number")
      .orderBy(col("timestamp").desc)
    decoded.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("chain_id", "number", "timestamp", "hash", "gas_used")
  }
  private val etlBlocksOracle =
    """WITH raw AS (
      |  SELECT o_orderkey AS number, o_orderkey + 1000 AS timestamp,
      |    CAST(trunc(o_totalprice) AS BIGINT) % 1000 AS gas_used, o_orderkey % 10 AS pend
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey + 1005,
      |    (CAST(trunc(o_totalprice) AS BIGINT) + 1) % 1000, o_orderkey % 10
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT CAST(3 AS BIGINT) AS chain_id, number, timestamp,
      |  '0x' || lpad(lower(hex(number)), 64, '0') AS hash, gas_used
      |FROM raw WHERE pend <> 0
      |QUALIFY row_number() OVER (PARTITION BY number ORDER BY timestamp DESC) = 1""".stripMargin

  // D3: cross-batch seen-set — which contract keys exist
  private val d3SeenSet: Q = (s, dir) => {
    val contracts = docsT(s, dir)
      .select(col("lang").as("chain_id"), col("source").as("address"),
        array(col("lang")).as("function_signatures"))
    graft.streaming.StreamingEtl.dedupContracts(contracts)
      .select("chain_id", "address")
  }
  private val d3Oracle =
    "SELECT DISTINCT lang AS chain_id, source AS address FROM documents"

  // O1/O2: latest-per-group gauges
  private val o1Latest: Q = (s, dir) =>
    t(s, dir, "lineitem").groupBy(col("l_returnflag").as("chain"))
      .agg(max("l_orderkey").as("latest"))
  private val o1Oracle =
    "SELECT l_returnflag AS chain, max(l_orderkey) AS latest FROM lineitem GROUP BY 1"

  private val o2LatestTx: Q = (s, dir) =>
    t(s, dir, "orders").as("o")
      .join(t(s, dir, "lineitem").as("l"), col("o.o_orderkey") === col("l.l_orderkey"))
      .groupBy(col("o.o_orderstatus").as("chain"))
      .agg(max(col("l.l_orderkey")).as("latest"))
  private val o2Oracle =
    """SELECT o_orderstatus AS chain, max(l_orderkey) AS latest
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // P9 + custom expressions + full pipeline: rows-only (no SQL oracle;
  // semantics covered by ScalaTest golden/differential specs)
  // ---------------------------------------------------------------
  // P9 / keccak over the PUBLISHED test vectors (Ethereum empty-hash +
  // the standard "abc" keccak vector; EIP-55's four canonical
  // addresses in lower- AND upper-case input forms): the oracle
  // compares against the spec constants, so the Catalyst expressions
  // are verified end-to-end even though DuckDB has no keccak.
  // Table-scale hashing stays exercised by KeccakSpec and the
  // checksummed-upsert sink path.
  private val Eip55Vectors = Seq(
    "0x5aaeb6053f3e94c9b9a09f33669435e7ef1beaed" -> "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed",
    "0xfb6916095ca1df60bb79ce92ce3ea74c37c5d359" -> "0xfB6916095ca1df60bB79Ce92cE3Ea74c37c5d359",
    "0xdbf03b407c01e7cd3cbea99509d93f8dddc8c6fb" -> "0xdbF03B407c01E7cD3CBea99509d93f8DDDC8C6FB",
    "0xd1220a0cf47c7b9be7a2e6ba89f429762e7b9adb" -> "0xD1220A0cf47c7B9Be7A2E6BA89F429762e7b9aDb",
  )

  private val p9Checksum: Q = (s, dir) => {
    graft.functions.GraftFunctions.register(s)
    val spark2 = s
    import spark2.implicits._
    val in = Eip55Vectors.map(_._1).zipWithIndex.flatMap { case (a, i) =>
      Seq((i.toLong * 2, a), (i.toLong * 2 + 1, "0x" + a.drop(2).toUpperCase))
    }
    in.toDF("id", "addr").select(col("id"),
      graft.functions.GraftFunctions.checksum_address(col("addr")).as("checksummed"))
  }
  private val p9ChecksumOracle = Eip55Vectors.map(_._2).zipWithIndex.flatMap {
    case (want, i) => Seq(s"SELECT CAST(${i * 2} AS BIGINT) AS id, '$want' AS checksummed",
      s"SELECT CAST(${i * 2 + 1} AS BIGINT), '$want'")
  }.mkString("\nUNION ALL ")

  private val keccakHex: Q = (s, dir) => {
    graft.functions.GraftFunctions.register(s)
    val spark2 = s
    import spark2.implicits._
    Seq((1L, ""), (2L, "abc")).toDF("id", "msg")
      .select(col("id"),
        graft.functions.GraftFunctions.keccak256_hex(col("msg")).as("digest"))
  }
  private val keccakHexOracle =
    """SELECT CAST(1 AS BIGINT) AS id,
      |  'c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470' AS digest
      |UNION ALL SELECT CAST(2 AS BIGINT),
      |  '4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45'""".stripMargin

  /** The flagship's STREAMING form promoted into the correctness
    * surface: the reference's production path (Kafka → sessionize →
    * commit → sink) driven as a real time-sliced file stream through
    * StreamingEtl.sessionCommit (flatMapGroupsWithState, event-time
    * watermark, per-tx TreeBuf state), its committed transactions
    * hash-compared against the SAME full DuckDB commit replica as
    * q_etl_transactions. Two far-future sentinel traces close the
    * stream (watermark advance + a batch for the timers); sentinel
    * keys never commit and are filtered defensively.
    */
  // Config chosen by measurement (SCALE_STREAM_r09.md): RocksDB +
  // changelog checkpointing is the measured default — the production
  // config (changelog uploads per-batch deltas instead of full
  // snapshots, so per-batch state maintenance stays flat as state
  // grows; a 1000-executor deployment runs exactly this provider),
  // with trackTotalNumberOfRows off (see withStreamStore; rehearsals
  // that assert state-row bounds run their own sessions with tracking
  // left on). State partitions are SIZE-GATED off the staged input
  // volume with a floor of 8: the r9/r10 sweeps measured the 8→16
  // crossover moving with volume — 8 beats 16 at sf0.1 (every
  // provider), 16/32 beat 8 decisively at sf1 AND sf3
  // (SCALE_STREAM_r10.md:55-71) — because per-store fixed cost
  // amortizes once each store holds enough sessions.
  // 3 replay slices by floor decomposition (SCALE_STREAM_r12.md):
  // the empty-batch machinery floor is ~0.45-0.5 s per micro-batch
  // (trigger plan + flatMapGroupsWithState pass + 8x RocksDB commit +
  // changelog upload + sink commit), so each extra replay slice buys
  // realism at a fixed ~0.5 s bill the reference never pays — it
  // buffers until queue-empty and flushes ONCE (main.rs:105-121).
  // 3 data slices keep the semantics the stream must prove (sessions
  // spanning batch boundaries, mid-stream watermark advance, sentinel
  // close-out: 5 micro-batches total) at 5 floor units instead of 10;
  // StreamRehearsal still drives 20-slice replays for load rehearsal.
  // 2 files per trigger (r20, VERDICT r19 #5): groups the 5 replay
  // files [s0,s1][s2,sent1][sent2] — everything the stream proves
  // survives (sessions span the s1|s2 batch boundary, the watermark
  // advances mid-stream between batches, sent1's advance is visible
  // in sent2's batch so the timers still get their firing batch) at
  // 3 trigger floors instead of 5. Paired sweep: 18.4-22.5 →
  // 16.3-17.5 s under contention, ~1 s on the idle box; rows/hashes
  // identical at every SF gate.
  private val etlStreamTransactions: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    val spark2 = s
    import spark2.implicits._
    val nSlices = 3
    // One-time sliced-replay staging per (corpus fingerprint,
    // nSlices): the slice files and their far-future sentinels are a
    // deterministic function of the bronze corpus, so they stage
    // once under tmpdir exactly like bronze itself — in production
    // the stream arrives from Kafka and no slice-writing step
    // exists; re-paying the slice write inside every measured run
    // charged the entry ~3 s of harness cost (floor table,
    // SCALE_STREAM_r12.md). Only the per-run output/checkpoint dirs
    // stay under the session temp dir.
    val watch = s"${System.getProperty("java.io.tmpdir")}/graft_stream_slices_v1_" +
      graft.sources.SyntheticTraces.corpusKey(dir) + s"_n$nSlices"
    if (!graft.sources.Staging.hasMarker(s"$watch")) {
      graft.sources.Staging.stageOnce(watch) { tmp =>
        // null event-time flows through as 0, exactly sessionCommit's
        // coalesce — keeps this entry byte-equal to the batch path and
        // its oracle on corpora that do emit null timestamps (nulls land
        // in slice 0, first micro-batch, so the watermark never drops them)
        val norm = graft.operators.TraceEtl
          .normalize(graft.sources.SyntheticTraces.bronze(s, dir))
          .filter(col("transaction_hash").isNotNull)
          .withColumn("block_timestamp", coalesce(col("block_timestamp"), lit(0L)))
        StreamRehearsal.stageSlices(norm.toDF(), "block_timestamp", nSlices,
          s"$tmp/stage", tmp)
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$tmp/stage"))
        val mx = s.read.parquet(tmp).agg(max("block_timestamp")).head().getLong(0)
        Seq(
          (nSlices, graft.model.TraceRow(1L, "0xsentinel1", Some(0), Some("0xa"),
            Some("0xb"), None, Some("0x00"), None, Some(1L), is_root = true,
            Some(1L), Some(mx + 1000000L), Some("0xb"), None)),
          (nSlices + 1, graft.model.TraceRow(1L, "0xsentinel2", Some(0), Some("0xa"),
            Some("0xb"), None, Some("0x00"), None, Some(1L), is_root = true,
            Some(1L), Some(mx + 2000000L), Some("0xb"), None)),
        ).foreach { case (i, row) =>
          Seq(row).toDS().withColumn("_slice", lit(i))
            .write.partitionBy("_slice").mode("overwrite").parquet(s"$tmp/sent_$i")
          StreamRehearsal.moveSlices(s"$tmp/sent_$i", tmp, 0)
          org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$tmp/sent_$i"))
        }
        // stageOnce's completeness marker (Spark wrote its _SUCCESS
        // into the since-deleted stage/sent dirs, not here)
        graft.sources.Staging.touchMarker(tmp)
      }
    }
    withStreamStore(s, streamPartitionsFor(s, watch, floor = 8),
        changelog = true) {
      val work = graft.sources.Staging.sessionTempDir("graft_stream_etl")
      val stream = s.readStream.schema(s.read.parquet(watch).schema)
        .option("maxFilesPerTrigger", 2).parquet(watch)
        .as[graft.model.TraceRow]
      val q = graft.streaming.StreamingEtl.sessionCommit(stream, gapSeconds = 1L)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$work/out").option("checkpointLocation", s"$work/ck")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(s"$work/out")
        .filter(col("transaction").isNotNull &&
          !col("transaction.transaction_hash").startsWith("0xsentinel"))
        .select("transaction.*")
        .withColumn("closest_address", csv(col("closest_address")))
        .withColumn("ec_pairing_input_sizes", csv(col("ec_pairing_input_sizes")))
        .withColumn("ec_recover_addresses", csv(col("ec_recover_addresses")))
    }
  }

  private val etlTransactions: Q = (s, dir) => {
    val (txs, _) = graft.operators.TraceEtl.split(commits(s, dir))
    // arrays → sorted CSV for the verify surface (library callers get
    // the typed Dataset[TransactionOut] with real array columns)
    txs.toDF()
      .withColumn("closest_address", csv(col("closest_address")))
      .withColumn("ec_pairing_input_sizes", csv(col("ec_pairing_input_sizes")))
      .withColumn("ec_recover_addresses", csv(col("ec_recover_addresses")))
  }

  private val etlContracts: Q = (s, dir) => {
    val (_, cs) = graft.operators.TraceEtl.split(commits(s, dir))
    cs.toDF()
      .withColumn("function_signatures", csv(col("function_signatures")))
      .withColumn("ec_pairing_input_sizes", csv(col("ec_pairing_input_sizes")))
      .withColumn("call", csv(col("call")))
  }

  val entries: Seq[Entry] = Seq(
    Entry("q_g1_sessionize", g1Sessionize, g1Oracle),
    Entry("q_g1_session_window", g1SessionWindow, g1SessionWindowOracle),
    Entry("q_a1_call_tree", a1CallTree, a1Oracle),
    Entry("q_a2_gas_tree", a2GasTree, a2Oracle),
    Entry("q_a3_signature_tree", a3SignatureTree, a3Oracle),
    Entry("q_a4_pairing_sizes", a4PairingSizes, a4Oracle),
    Entry("q_a5_recover_set", a5RecoverSet, a5Oracle),
    Entry("q_a6_first_trace", a6FirstTrace, a6Oracle),
    Entry("q_a7_precompile_counts", a7PrecompileCounts, a7Oracle),
    Entry("q_a8_flatten_sizes", a8FlattenSizes, a8Oracle),
    Entry("q_a9_degree_gas", a9DegreeGas, a9Oracle),
    Entry("q_j1_commit_filter", j1CommitFilter, j1Oracle),
    Entry("q_j2_first_degree", j2FirstDegree, j2Oracle),
    Entry("q_j3_second_degree", j3SecondDegree, j3Sql),
    Entry("q_j4_degree_union", j4DegreeUnion, j4Oracle),
    Entry("q_j5_enrichment", j5Enrichment, j5Oracle),
    Entry("q_j6_closest", j6Closest, j6Oracle),
    Entry("q_d1_dedup_keep_last", d1KeepLast, d1Oracle),
    Entry("q_d2_dedup_keep_first", d2KeepFirst, d2Oracle),
    Entry("q_p1_json_decode", p1JsonDecode, p1Oracle),
    Entry("q_p2_u256_cast", p2U256Cast, p2Oracle),
    Entry("q_p6_selector", p6Selector, p6Oracle),
    Entry("q_p7_selector_masked", p7SelectorMasked, p7Oracle),
    Entry("q_p8_recover", p8Recover, p8Oracle),
    Entry("q_p10_precompile_pred", p10Predicate, p10Oracle),
    Entry("q_f1_flatten", f1Flatten, f1Oracle),
    Entry("q_f2_fanout", f2Fanout, f2Oracle),
    Entry("q_p3_normalize", p3Normalize, p3Oracle),
    Entry("q_p5_block_decode", p5BlockDecode, p5Oracle),
    Entry("q_d3_seen_set", d3SeenSet, d3Oracle),
    Entry("q_o1_latest_block", o1Latest, o1Oracle),
    Entry("q_o2_latest_tx_block", o2LatestTx, o2Oracle),
    Entry("q_p9_checksum", p9Checksum, p9ChecksumOracle),
    Entry("q_keccak256", keccakHex, keccakHexOracle),
    Entry("q_etl_transactions", etlTransactions, EtlOracleSql.transactions),
    Entry("q_etl_stream_transactions", etlStreamTransactions, EtlOracleSql.transactions, stream = true),
    Entry("q_etl_contracts", etlContracts, EtlOracleSql.contracts),
    Entry("q_etl_blocks", etlBlocks, etlBlocksOracle),
  )
}
