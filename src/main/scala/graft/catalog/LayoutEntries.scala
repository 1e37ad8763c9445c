package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries._

/** Layout and skew: Z-order / Hilbert layouts and compaction, salted
  * aggregation and join, and the size-gated join.
  */
private[graft] object LayoutEntries {

  // Z-order (Morton) clustering key over two frequently-filtered
  // lineitem dimensions — the lakehouse layout lever: files written in
  // z-value order carry tight min/max footer stats on BOTH columns,
  // so either predicate alone prunes files at the scan (LayoutSpec
  // pins the span bound; this entry pins the code itself bit-for-bit
  // against an oracle built from the same interleave rule).
  private val layoutZorder: Q = (s, dir) => {
    val pts = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_partkey").as("x"), col("l_suppkey").as("y"))
    pts.withColumn("zval",
      graft.operators.Layout.zValue(Seq(col("x"), col("y")), bits = 16))
  }
  private val layoutZorderOracle: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
    }
    s"""WITH pts AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey AS x, l_suppkey AS y
       |  FROM lineitem)
       |SELECT l_orderkey, l_linenumber, x, y,
       |       ${terms.mkString(" | ")} AS zval
       |FROM pts""".stripMargin
  }

  // Hilbert-curve clustering key over the same two dimensions — the
  // tighter-locality twin of q_layout_zorder. The oracle unrolls the
  // xy2d bit walk (reflect/swap per scale) as one CTE per bit with
  // stage-numbered columns, so every step is plain integer CASE logic
  // DuckDB evaluates exactly.
  private val layoutHilbert: Q = (s, dir) => {
    val pts = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_partkey").as("x"), col("l_suppkey").as("y"))
    pts.withColumn("hval",
      graft.operators.Layout.hilbertValue(col("x"), col("y"), bits = 16))
  }
  private val layoutHilbertOracle: String = {
    val bits = 16
    val n = 1L << bits
    val stages = (0 until bits).map { i =>
      val s = 1L << (bits - 1 - i)
      val rx = s"(CASE WHEN (hx$i & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (hy$i & $s) > 0 THEN 1 ELSE 0 END)"
      s"""h${i + 1} AS (
         |  SELECT l_orderkey, l_linenumber, x, y,
         |    CASE WHEN (hy$i & $s) = 0
         |      THEN (CASE WHEN (hx$i & $s) > 0 THEN ${n - 1} - hy$i ELSE hy$i END)
         |      ELSE hx$i END AS hx${i + 1},
         |    CASE WHEN (hy$i & $s) = 0
         |      THEN (CASE WHEN (hx$i & $s) > 0 THEN ${n - 1} - hx$i ELSE hx$i END)
         |      ELSE hy$i END AS hy${i + 1},
         |    hd$i + $s * $s * xor(3 * $rx, $ry) AS hd${i + 1}
         |  FROM h$i)""".stripMargin
    }
    s"""WITH pts AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey AS x, l_suppkey AS y
       |  FROM lineitem),
       |h0 AS (
       |  SELECT l_orderkey, l_linenumber, x, y,
       |         x & ${n - 1} AS hx0, y & ${n - 1} AS hy0, CAST(0 AS BIGINT) AS hd0
       |  FROM pts),
       |${stages.mkString(",\n")}
       |SELECT l_orderkey, l_linenumber, x, y, hd$bits AS hval FROM h$bits""".stripMargin
  }

  // 3-D Hilbert clustering key (Skilling transform) over three
  // lineitem dimensions — the d>2 generalization of q_layout_hilbert.
  // The oracle unrolls Skilling's AxesToTranspose exactly: per scale
  // q, the sequential invert/exchange sub-steps run as one CTE each
  // (every t staged through its own column — DuckDB does no CSE),
  // then Gray encode, the trailing-axis correction word, and the
  // final transposed-bit interleave as a 24-term OR, so every value
  // hash-compares bit-for-bit.
  private val layoutHilbert3d: Q = (s, dir) => {
    val pts = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_partkey").as("x"), col("l_suppkey").as("y"),
      (col("l_orderkey") % 251).as("z"))
    pts.withColumn("hval",
      graft.operators.Layout.hilbertValue3(col("x"), col("y"), col("z"),
        bits = 8))
  }
  private val layoutHilbert3dOracle: String = {
    val bits = 8
    val mask = (1L << bits) - 1
    val keep = "l_orderkey, l_linenumber, x, y, z"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    var idx = 0
    var cur = "s0"
    def emit(cols: String): Unit = {
      idx += 1
      ctes += s"s$idx AS (\n  SELECT $keep, $cols\n  FROM $cur)"
      cur = s"s$idx"
    }
    // inverse undo: q = 2^(bits-1) .. 2; per q the i-loop runs
    // sequentially — i = 0 touches only a; i >= 1 exchanges (a, w)
    // through a staged t word (t = p-invert in the THEN branch so `a`
    // unconditionally xors t)
    for (qi <- (bits - 1) to 1 by -1) {
      val q = 1L << qi
      val p = q - 1
      emit(s"CASE WHEN (a & $q) <> 0 THEN xor(a, $p) ELSE a END AS a, b, c")
      emit(s"a, b, c, CASE WHEN (b & $q) <> 0 THEN $p ELSE xor(a, b) & $p END AS t")
      emit(s"xor(a, t) AS a, CASE WHEN (b & $q) <> 0 THEN b ELSE xor(b, t) END AS b, c")
      emit(s"a, b, c, CASE WHEN (c & $q) <> 0 THEN $p ELSE xor(a, c) & $p END AS t")
      emit(s"xor(a, t) AS a, b, CASE WHEN (c & $q) <> 0 THEN c ELSE xor(c, t) END AS c")
    }
    // Gray encode (sequential), then the trailing-axis correction word
    emit("a, xor(b, a) AS b, c")
    emit("a, b, xor(c, b) AS c")
    val tTerms = ((bits - 1) to 1 by -1).map { qi =>
      val q = 1L << qi
      s"(CASE WHEN (c & $q) <> 0 THEN ${q - 1} ELSE 0 END)"
    }
    emit(s"a, b, c, ${tTerms.reduce((l, r) => s"xor($l, $r)")} AS t")
    emit("xor(a, t) AS a, xor(b, t) AS b, xor(c, t) AS c")
    // transposed-bit interleave: bit j of axis i -> position j*3+(2-i)
    val hTerms = for {
      j <- 0 until bits
      (w, i) <- Seq("a", "b", "c").zipWithIndex
    } yield s"(((${w} >> $j) & 1) << ${j * 3 + (2 - i)})"
    s"""WITH pts AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey AS x, l_suppkey AS y,
       |         l_orderkey % 251 AS z
       |  FROM lineitem),
       |s0 AS (
       |  SELECT $keep, x & $mask AS a, y & $mask AS b, z & $mask AS c
       |  FROM pts),
       |${ctes.mkString(",\n")}
       |SELECT $keep, ${hTerms.mkString(" | ")} AS hval FROM $cur""".stripMargin
  }

  // Small-file compaction planning over a deterministic synthetic
  // manifest (group/path/bytes derived from orders): one window pass
  // assigns each file to a ~target-sized merge bin. The operator runs
  // over any real file listing the same way; the synthetic manifest
  // exists so DuckDB can replicate the plan exactly.
  private val layoutCompaction: Q = (s, dir) => {
    val manifest = t(s, dir, "orders").select(
      col("o_orderstatus").as("group"),
      lpad(col("o_orderkey").cast("string"), 10, "0").as("path"),
      (col("o_orderkey") % 997 + 1).as("bytes"))
    graft.operators.Layout.compactionPlan(manifest, targetBytes = 50000L)
      .withColumnRenamed("group", "file_group")
  }
  private val layoutCompactionOracle =
    """WITH m AS (
      |  SELECT o_orderstatus AS file_group,
      |         lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS path,
      |         o_orderkey % 997 + 1 AS bytes
      |  FROM orders),
      |b AS (
      |  SELECT file_group, path, bytes,
      |         CAST(floor(COALESCE(SUM(bytes) OVER (
      |           PARTITION BY file_group ORDER BY path
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           / 50000) AS BIGINT) AS bin
      |  FROM m)
      |SELECT file_group, path, bytes, bin,
      |       CAST(SUM(bytes) OVER (PARTITION BY file_group, bin) AS BIGINT) AS bin_bytes
      |FROM b""".stripMargin

  // Compaction EXECUTION: orders is staged as a real small-file
  // layout (one parquet file per (status, zero-padded orderkey%8
  // bucket)), a manifest is built from the actual listing with
  // row-count weights, and compactBins stream-merges each planned
  // bin into one file. The result — per-(group, bin) row count +
  // content checksum over the COMPACTED files — is reproducible in
  // SQL because the manifest is a deterministic function of orders:
  // the oracle re-derives the same weights, the same lexicographic
  // file order (the padded bucket is the path's deciding segment),
  // and the same greedy binning.
  private def compactExecRoot(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/orders.parquet")
    val fp = java.lang.Long.toHexString(src.length() * 31L + src.lastModified())
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_") + "_" + fp
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_compact_$key"
    if (!graft.sources.Staging.hasMarker(s"$root/src")) {
      graft.sources.Staging.stageOnce(s"$root/src") { tmp =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus").as("grp"),
            lpad((col("o_orderkey") % 8).cast("string"), 2, "0").as("b"))
          .repartition(col("grp"), col("b"))
          .write.partitionBy("grp", "b").parquet(tmp)
      }
    }
    root
  }
  private val layoutCompactExec: Q = (s, dir) => {
    val root = compactExecRoot(s, dir)
    val manifest = s.read.parquet(s"$root/src")
      .withColumn("path", input_file_name())
      .groupBy("path").agg(count(lit(1)).as("bytes"))
      .withColumn("group", regexp_extract(col("path"), "grp=([^/]+)", 1))
    val out = graft.operators.Layout.compactBins(
      manifest, targetBytes = 500L, s"$root/out")
    out.groupBy(col("group").as("grp"), col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("o_orderkey") * 31 + col("o_custkey")) % 1000003).as("chk"))
  }
  private val layoutCompactExecOracle =
    """WITH f AS (
      |  SELECT o_orderstatus AS grp,
      |         lpad(CAST(o_orderkey % 8 AS VARCHAR), 2, '0') AS b,
      |         COUNT(*) AS w,
      |         CAST(SUM((o_orderkey * 31 + o_custkey) % 1000003) AS BIGINT) AS chk
      |  FROM orders GROUP BY 1, 2),
      |binned AS (
      |  SELECT grp, b, w, chk,
      |         CAST(COALESCE(SUM(w) OVER (PARTITION BY grp ORDER BY b
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS BIGINT) // 500 AS bin
      |  FROM f)
      |SELECT grp, bin, CAST(SUM(w) AS BIGINT) AS n_rows,
      |       CAST(SUM(chk) AS BIGINT) AS chk
      |FROM binned GROUP BY 1, 2""".stripMargin

  // Two-phase salted aggregation (Scale.saltedSum): the groupBy-side
  // skew lever — a hot key's rows spread over `salts` reducers in
  // phase 1, phase 2 merges the per-salt partials. Output is
  // bit-identical to the direct groupBy the oracle runs; only the
  // shuffle distribution differs.
  private val scaleSaltedAgg: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(
      col("l_returnflag"), col("l_linestatus"),
      floor(col("l_quantity")).cast("long").as("qty"))
    graft.operators.Scale.saltedSum(
      li, Seq("l_returnflag", "l_linestatus"), "qty", "total_qty", salts = 32)
  }
  private val scaleSaltedAggOracle =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  // Salted replicate join (Scale.saltedJoin): the join-side skew lever
  // for when the hot key sits in the FIRST shuffle (before AQE has
  // stats) — small side replicated ×salts, big side tagged with a
  // content-derived salt. Bit-identical to the plain equi-join the
  // oracle runs.
  private val scaleSaltedJoin: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      floor(col("l_quantity")).cast("long").as("qty"))
    val ord = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    graft.operators.Scale.saltedJoin(li, ord, "l_orderkey", "o_orderkey",
        salts = 8)
      .select("l_orderkey", "l_linenumber", "qty", "o_custkey", "o_orderstatus")
  }
  private val scaleSaltedJoinOracle =
    """SELECT l.l_orderkey, l.l_linenumber,
      |       CAST(floor(l.l_quantity) AS BIGINT) AS qty,
      |       o.o_custkey, o.o_orderstatus
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin

  // SKEW-GATED join (Scale.skewGatedJoin): the salted operator made
  // self-gating — one measured map-combined hot-key-share probe over
  // the big side picks plain vs salted (the filtered-ANN
  // measured-scalar pattern: CBO-less Catalyst has no per-key
  // frequency stats, and AQE's skew split only fires AFTER a first
  // shuffle exists). The entry drives BOTH regimes through the gate:
  // lineitem as-is (hottest orderkey ≪ 20% → plain branch) and a
  // planted 90%-hot mapping of the same join (→ salted ×16), each
  // reduced to regime-level aggregates. Results are branch-invariant,
  // so one plain-SQL oracle pins both; ScaleSpec pins that the plan
  // really flips.
  private val scaleGatedJoin: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), floor(col("l_quantity")).cast("long").as("qty"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    def hot(c: Column) = when(c % 10 =!= 0, lit(1L)).otherwise(c)
    val hotLi = li.withColumn("l_orderkey", hot(col("l_orderkey")))
    // dedup per mapped key so the planted join stays 1:N (min = the
    // deterministic representative, mirrored in the oracle)
    val hotOrd = ord.withColumn("o_orderkey", hot(col("o_orderkey")))
      .groupBy("o_orderkey").agg(min("o_custkey").as("o_custkey"))
    def agg(j: DataFrame, regime: String) =
      j.agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"),
          sum("o_custkey").as("sum_cust"))
        .select(lit(regime).as("regime"), col("n_rows"), col("sum_qty"),
          col("sum_cust"))
    agg(graft.operators.Scale.skewGatedJoin(li, ord, "l_orderkey",
        "o_orderkey", salts = 16), "uniform")
      .unionByName(agg(graft.operators.Scale.skewGatedJoin(hotLi, hotOrd,
        "l_orderkey", "o_orderkey", salts = 16), "hot"))
  }
  private val scaleGatedJoinOracle =
    """WITH li AS (SELECT l_orderkey,
      |              CAST(floor(l_quantity) AS BIGINT) AS qty
      |            FROM lineitem),
      |hli AS (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 1
      |               ELSE l_orderkey END AS k, qty FROM li),
      |hord AS (SELECT CASE WHEN o_orderkey % 10 <> 0 THEN 1
      |                ELSE o_orderkey END AS k,
      |                min(o_custkey) AS o_custkey
      |         FROM orders GROUP BY 1)
      |SELECT 'uniform' AS regime, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(l.qty) AS BIGINT) AS sum_qty,
      |       CAST(sum(o.o_custkey) AS BIGINT) AS sum_cust
      |FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |UNION ALL
      |SELECT 'hot', CAST(count(*) AS BIGINT),
      |       CAST(sum(l.qty) AS BIGINT), CAST(sum(o.o_custkey) AS BIGINT)
      |FROM hli l JOIN hord o ON l.k = o.k""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_layout_zorder", layoutZorder, layoutZorderOracle),
    Entry("q_layout_hilbert", layoutHilbert, layoutHilbertOracle),
    Entry("q_layout_hilbert3d", layoutHilbert3d, layoutHilbert3dOracle),
    Entry("q_layout_compaction", layoutCompaction, layoutCompactionOracle),
    Entry("q_layout_compact_exec", layoutCompactExec, layoutCompactExecOracle),
    Entry("q_scale_salted_agg", scaleSaltedAgg, scaleSaltedAggOracle),
    Entry("q_scale_salted_join", scaleSaltedJoin, scaleSaltedJoinOracle),
    Entry("q_scale_gated_join", scaleGatedJoin, scaleGatedJoinOracle),
  )
}
