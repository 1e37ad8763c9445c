package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the Pregel-shaped
  * workloads (rank propagation) done Spark-first: each superstep is
  * one join-aggregate over the edge frame, so Catalyst plans it, AQE
  * sizes it, and nothing ever leaves the cluster. Connected
  * components (large-star/small-star) live in
  * [[graft.llm.DedupOps.nearDupClusters]]; this hosts the
  * fixed-iteration value-propagation family.
  */
object GraphOps {

  /** Which path the most recent [[pageRank]] call took (true =
    * per-superstep materialization). Observability for specs and the
    * scale rehearsal; not part of the API contract.
    */
  @volatile private[graft] var lastMaterialized: Boolean = false

  /** Fixed-iteration PageRank in exact integer fixed-point: ranks are
    * scaled longs (initial rank = `scale`, i.e. 1.0), damping 0.85 is
    * the exact integer form `(r * 850) DIV (1000 * outdeg)` per edge,
    * and each node's next rank is `0.15·scale + Σ contributions` —
    * every operation is integral, so results are bit-identical across
    * engines, partitionings, and run counts (a double-arithmetic
    * PageRank can't be oracle-compared; this one can).
    *
    * Shuffle shape (distributed path): edges are shuffled ONCE total — hash-partitioned
    * by src, then deduped and out-degree-counted (a COUNT window over
    * the same partitioning) exchange-free. The iterated state is the CONTRIBUTION frame
    * `c_t(id) = Σ incoming contributions`, not the rank frame: ranks
    * are implicit (`r_t = 0.15·scale + c_t`, absent id ⇒ c = 0), the
    * t=0 rank is the constant `scale` so the first superstep is a
    * plain aggregate with NO join, and the full node set is joined
    * exactly once at the very end to surface sink-only/isolated
    * nodes. Each superstep therefore moves only one node-sized frame
    * through one join (into the src-partitioned edge frame) + one
    * partial-merge aggregate — at 100 TB the per-iteration cost is
    * the same join-agg the session already pays for any grouped
    * query, × a small fixed iteration count.
    *
    * Dangling nodes (no out-edges) contribute nothing — their mass
    * leaks, matching the reference's fixed-iteration form. Sink-only
    * nodes hold the base rank.
    *
    * Size-gated execution: iterating frames must not re-derive their
    * whole prefix DAG, but every distributed formulation of the
    * supersteps pays per-execution fixed costs (stage scheduling,
    * broadcast barriers, a shared-edge-frame cache build) that
    * dominate on small graphs — the r10 fused composed plan measured
    * ~1.1-2.3 s at sf0.1 where the whole computation is ~2M integer
    * ops. So below the gate (Catalyst size estimate of the edge frame
    * ≤ `materializeAboveBytes`) the operator runs as a SINGLE-TASK
    * in-memory kernel: `coalesce(1)` (narrow — no exchange) feeds one
    * `mapPartitions` task that dedups, degree-counts and runs all
    * supersteps imperatively, in the exact same integer arithmetic —
    * bit-identical to the distributed path (pinned by the gate-flip
    * and randomized-differential specs), ~0.8 s flat at sf0.1 with no
    * warm-up cliff. Same collapse-when-tiny philosophy as the as-of
    * join's broadcast+binary-search path and the dedup-cluster
    * driver union-find: below the gate single-node IS the optimal
    * plan, and the distributed path stays the only path above it.
    * `coalesce(1)` over a multi-hundred-GB frame would be a
    * scale-killer — that is exactly what the size gate exists to
    * prevent, and the materialized path is gate-rehearsed (sf10
    * engages it; SCALE_STREAM_r10.md). Two caveats, shared by all
    * three variants: (1) the gate TRUSTS Catalyst's size estimate —
    * a selective filter over default column stats can underestimate
    * badly; callers feeding a filtered edge frame should pass an
    * explicit `materializeAboveBytes` (0 forces the distributed
    * path), the same trust-the-estimate contract as the as-of
    * broadcast gate — with [[Kernel.MaxKernelRows]] as the runtime
    * backstop: a task fed vastly more rows than any in-gate estimate
    * implies aborts with a clear message instead of grinding into a
    * single-task OOM. (2) Both gate outcomes return the same eager
    * contract: the kernel result is `localCheckpoint(eager = true)`d
    * at call time (cheap by definition below the gate), so callers
    * straddling the gate see one lifetime semantics — a
    * self-contained frame, computed once.
    *
    * Above the gate, each superstep is eagerly `localCheckpoint`ed
    * (lineage truncated, plan stays one step deep) and the previous
    * iterate's blocks are released deterministically via the
    * checkpoint-aware shim (plain `unpersist()` is a no-op on
    * checkpointed Datasets). Trade: checkpoint blocks are not
    * recomputable — an executor loss restarts the rank job; a 100 TB
    * deployment running many supersteps should reliable-checkpoint
    * every N iterations instead. Same measure-then-pick shape as the
    * commit filter's size-gated broadcast and the dedup-cluster gate.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L,
      materializeAboveBytes: Long = 64L << 20): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    import org.apache.spark.storage.StorageLevel
    val edgeBytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    val materialize = edgeBytes > BigInt(materializeAboveBytes)
    lastMaterialized = materialize
    val shuffleParts =
      edges.sparkSession.sessionState.conf.numShufflePartitions
    val srcWin = org.apache.spark.sql.expressions.Window.partitionBy("src")
    def eCast = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // big path: partition by SRC — dedup runs exchange-free on the
    // key subset, the degree comes from a COUNT window over the same
    // partitioning (a local sort, no self-join), and each superstep
    // shuffles only the contribution rows into groupBy(dst).
    // MEMORY_AND_DISK persist — recomputable on block loss, which
    // matters once the edge frame is the 100 TB side. The
    // inner-join-on-src shape the window replaces also dropped
    // null-src edges from the contribution feed; the explicit filter
    // keeps that contract.
    lazy val eDeg = eCast
      .repartition(shuffleParts, col("src"))
      .dropDuplicates("src", "dst")
      .filter(col("src").isNotNull)
      .withColumn("d", count(lit(1)).over(srcWin))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node set off the raw input: two branches + distinct (the edge
    // frame excludes null-src rows, so it can't source the node set)
    lazy val nodesRaw = edges.select(col(srcCol).cast("long").as("id"))
      .union(edges.select(col(dstCol).cast("long").as("id"))).distinct()
    def nodes = nodesRaw
    val base = (scale * 150L) / 1000L

    // superstep on the implicit-rank form: rank(src) at step t is
    // base + c_t(src) (c absent ⇒ 0), so the next contribution frame
    // is one join + one aggregate over the prepped edge frame.
    def nextContribs(c: DataFrame): DataFrame = {
      val vExpr = expr(s"((${base}L + coalesce(s, 0L)) * 850) DIV (1000 * d)")
      eDeg.join(c, eDeg("src") === c("id"), "left")
        .select(col("dst"), vExpr.as("c"))
        .groupBy(col("dst").as("id")).agg(sum("c").as("s"))
    }

    // step 1: every rank is the constant `scale` — no join at all
    def firstContribs(): DataFrame = {
      val vExpr = expr(s"(${scale}L * 850) DIV (1000 * d)")
      eDeg.select(col("dst"), vExpr.as("c"))
        .groupBy(col("dst").as("id")).agg(sum("c").as("s"))
    }

    def finish(cLast: Option[DataFrame]): DataFrame = cLast match {
      case None => nodes.select(col("id"), lit(scale).as("rank"))
      case Some(c) =>
        nodes.join(c, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + coalesce(col("s"), lit(0L))).as("rank"))
    }

    if (iters == 0) finish(None)
    else if (!materialize)
      // eager checkpoint so BOTH gate outcomes return the same
      // contract: a self-contained frame computed once at call time
      // (the lazy kernel plan would re-run dedup + every superstep on
      // each action) — cheap by definition below the gate
      inMemoryKernel(eCast, iters, scale, base).localCheckpoint(eager = true)
    else {
      var c = firstContribs().localCheckpoint(eager = true)
      var it = 1
      while (it < iters) {
        val next = nextContribs(c).localCheckpoint(eager = true)
        // free the previous iterate's checkpoint blocks now, not at
        // GC: Dataset.unpersist() can't see checkpoint storage
        org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(c)
        c = next
        it += 1
      }
      // the eager checkpoint makes the result self-contained, so the
      // prep persist and the last superstep's blocks drop here
      val out = finish(Some(c)).localCheckpoint(eager = true)
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(c)
      eDeg.unpersist()
      out
    }
  }

  /** The below-the-gate pageRank execution: ONE narrow single-task
    * plan (`coalesce(1)` → `mapPartitions`) that dedups edges,
    * degree-counts and runs every superstep imperatively in the same
    * integer fixed-point as the distributed path — bit-identical by
    * construction (long sums are order-independent; `DIV` on positive
    * operands is Java `/`).
    *
    * Semantics mirrored exactly from the relational form:
    *  - dedup on (src, dst) with SQL `dropDuplicates` null-equality
    *    (`Option` keys in a HashSet compare nulls equal);
    *  - degree d(src) counts DISTINCT dst per src INCLUDING null dst
    *    (the struct-wrapped count_distinct contract);
    *  - null-src edges contribute nothing but keep their dst visible
    *    to the node set (the left-join-never-matches contract);
    *  - contributions addressed to the null node are dropped at the
    *    finish step — the final `join(nodes, "id")` never matches a
    *    null key, so the null node holds the base rank (pinned by
    *    GraphOpsSpec's null-endpoint test).
    */
  private def inMemoryKernel(eCast: DataFrame, iters: Int, scale: Long,
      base: Long): DataFrame = {
    val spark = eCast.sparkSession
    import spark.implicits._
    eCast.as[(Option[Long], Option[Long])].coalesce(1).mapPartitions { it =>
      val g = Kernel.build(it)
      var contrib = new Array[Long](g.nNodes)
      var t = 0
      while (t < iters) {
        val next = new Array[Long](g.nNodes)
        var e = 0
        while (e < g.nEdges) {
          val s = g.adjSrc(e)
          val r = if (t == 0) scale else base + contrib(s)
          next(g.adjDst(e)) += (r * 850L) / (1000L * g.deg(s))
          e += 1
        }
        contrib = next; t += 1
      }
      (0 until g.nNodes).iterator.map { i =>
        val c = if (i == g.nullIdx) 0L else contrib(i)
        (g.idOf(i), base + c)
      }
    }.toDF("id", "rank")
  }

  /** Shared in-task graph build for the below-the-gate kernels: dedup
    * on (src, dst) with null-equality (`Option` keys compare nulls
    * equal, like SQL `dropDuplicates`), degree = deduped out-edges per
    * DEFINED src INCLUDING null dst (the struct-wrapped count_distinct
    * / post-filter COUNT window contract), adjacency = deduped
    * defined-src edges, node set = every src and dst incl. null.
    * Structures are pre-sized for the gate's typical population
    * (hundreds of thousands of edges) — resize churn, not memory, is
    * the cost bought out; at the 64 MiB gate ceiling they peak at a
    * few hundred MB in ONE task, the documented trade of the path.
    */
  private[graft] object Kernel extends Serializable {
    /** Id-compacted primitive graph: every distinct node (the SQL-null
      * endpoint included, as [[nullIdx]]) gets a dense int index; the
      * deduped defined-src adjacency and out-degrees are flat arrays.
      * The r12 kernel kept `Option[Long]`-keyed HashMaps and tuple
      * rows — per-edge boxing dominated the single task (measured
      * ~0.9–1.25 s at sf0.1); the compact form runs the same
      * dedup/degree/iterate contracts on primitive loads and stores.
      */
    final class G(
        val nNodes: Int,
        val nullIdx: Int,            // index of the null node, or -1
        val ids: Array[Long],        // idx -> id (meaningless at nullIdx)
        val deg: Array[Long],        // idx -> deduped out-degree (0 = dangling)
        val adjSrc: Array[Int],      // deduped edges with DEFINED src
        val adjDst: Array[Int],
        val nEdges: Int) extends Serializable {
      def idOf(idx: Int): Option[Long] =
        if (idx == nullIdx) None else Some(ids(idx))
    }
    /** Hard runtime ceiling on rows streamed into the single task —
      * defense-in-depth behind the plan-time size gate, which trusts
      * Catalyst's estimate: a badly underestimated frame (e.g. a
      * selective filter under default column stats) would otherwise
      * ride the kernel path into a silent single-task OOM. 32M raw
      * rows is ~8× the rows a 64 MiB edge estimate implies — far past
      * it the estimate was wrong, so fail loudly with the fix.
      */
    val MaxKernelRows: Long = 32L << 20

    /** Open-addressing long -> dense-int index map (linear probing,
      * power-of-two capacity, `used` sideband so every long — 0 and
      * Long.MinValue included — is a valid key). No deletion needed.
      */
    private final class LongIndex(initialCap: Int) {
      private var cap = Integer.highestOneBit(math.max(initialCap, 16) * 2)
      private var keys = new Array[Long](cap)
      private var vals = new Array[Int](cap)
      private var used = new Array[Boolean](cap)
      private var n = 0
      private def slot(k: Long, c: Int): Int = {
        // splitmix-style scramble so sequential ids don't cluster
        var h = k * -7046029254386353131L
        h ^= (h >>> 32)
        (h & (c - 1)).toInt
      }
      /** Return the value stored for `k`, or insert `v` and return it. */
      def lookupOrInsert(k: Long, v: Int): Int = {
        var i = slot(k, cap)
        while (used(i)) {
          if (keys(i) == k) return vals(i)
          i = (i + 1) & (cap - 1)
        }
        keys(i) = k; vals(i) = v; used(i) = true
        n += 1
        if (n * 2 > cap) grow()
        v
      }
      private def grow(): Unit = {
        val (ok, ov, ou, oc) = (keys, vals, used, cap)
        cap <<= 1
        keys = new Array[Long](cap); vals = new Array[Int](cap)
        used = new Array[Boolean](cap)
        var i = 0
        while (i < oc) {
          if (ou(i)) {
            var j = slot(ok(i), cap)
            while (used(j)) j = (j + 1) & (cap - 1)
            keys(j) = ok(i); vals(j) = ov(i); used(j) = true
          }
          i += 1
        }
      }
    }

    /** Open-addressing set of NON-NEGATIVE longs (EMPTY = -1) — holds
      * the packed (srcIdx << 32 | dstIdx) dedup keys, which are
      * non-negative by construction (dense indices < 2^31).
      */
    private final class PackedSet(initialCap: Int) {
      private var cap = Integer.highestOneBit(math.max(initialCap, 16) * 2)
      private var keys = {
        val a = new Array[Long](cap); java.util.Arrays.fill(a, -1L); a
      }
      private var n = 0
      private def slot(k: Long, c: Int): Int = {
        var h = k * -7046029254386353131L
        h ^= (h >>> 32)
        (h & (c - 1)).toInt
      }
      def add(k: Long): Boolean = {
        var i = slot(k, cap)
        while (keys(i) != -1L) {
          if (keys(i) == k) return false
          i = (i + 1) & (cap - 1)
        }
        keys(i) = k; n += 1
        if (n * 2 > cap) grow()
        true
      }
      private def grow(): Unit = {
        val (ok, oc) = (keys, cap)
        cap <<= 1
        keys = new Array[Long](cap)
        java.util.Arrays.fill(keys, -1L)
        var i = 0
        while (i < oc) {
          if (ok(i) != -1L) {
            var j = slot(ok(i), cap)
            while (keys(j) != -1L) j = (j + 1) & (cap - 1)
            keys(j) = ok(i)
          }
          i += 1
        }
      }
    }

    def build(it: Iterator[(Option[Long], Option[Long])],
        maxRows: Long = MaxKernelRows): G = {
      val index = new LongIndex(1 << 15)
      var nullIdx = -1
      var nextIdx = 0
      var ids = new Array[Long](1 << 15)
      def idxOf(o: Option[Long]): Int = o match {
        case Some(v) =>
          val i = index.lookupOrInsert(v, nextIdx)
          if (i == nextIdx) {
            if (i >= ids.length) ids = java.util.Arrays.copyOf(ids, ids.length << 1)
            ids(i) = v
            nextIdx += 1
          }
          i
        case None =>
          // the null node's dense slot lives outside the key map — no
          // long key can ever alias it
          if (nullIdx < 0) { nullIdx = nextIdx; nextIdx += 1 }
          nullIdx
      }
      val seen = new PackedSet(1 << 17)
      var adjSrc = new Array[Int](1 << 17)
      var adjDst = new Array[Int](1 << 17)
      var nEdges = 0
      var degA = new Array[Long](1 << 15)
      var n = 0L
      while (it.hasNext) {
        n += 1
        if (n > maxRows) throw new IllegalStateException(
          s"in-memory graph kernel fed more than $maxRows edge rows — " +
            "the plan-time size estimate that selected the single-task path " +
            "was badly wrong (selective filter under default stats?); pass a " +
            "lower materializeAboveBytes or materialize the input so Catalyst " +
            "sees real statistics")
        val e = it.next()
        val si = idxOf(e._1)
        val di = idxOf(e._2)
        if (seen.add((si.toLong << 32) | (di.toLong & 0xffffffffL))) {
          if (e._1.isDefined) {
            if (si >= degA.length)
              degA = java.util.Arrays.copyOf(degA, math.max(degA.length << 1, si + 1))
            degA(si) += 1L
            if (nEdges >= adjSrc.length) {
              adjSrc = java.util.Arrays.copyOf(adjSrc, adjSrc.length << 1)
              adjDst = java.util.Arrays.copyOf(adjDst, adjDst.length << 1)
            }
            adjSrc(nEdges) = si; adjDst(nEdges) = di; nEdges += 1
          }
        }
      }
      val nNodes = nextIdx
      val deg = if (degA.length >= nNodes) degA
        else java.util.Arrays.copyOf(degA, nNodes)
      new G(nNodes, nullIdx, ids, deg, adjSrc, adjDst, nEdges)
    }

    /** Id-compacted UNDIRECTED simple graph for the triangle kernel:
      * null endpoints and self-loops dropped, edges canonicalized to
      * (min id, max id) and deduped; `deg` is the undirected simple
      * degree — exactly the frame [[degreeOriented]] builds.
      */
    final class U(val nNodes: Int, val ids: Array[Long],
        val eu: Array[Int], val ev: Array[Int], val nEdges: Int,
        val deg: Array[Long]) extends Serializable

    def buildUndirected(it: Iterator[(Option[Long], Option[Long])],
        maxRows: Long = MaxKernelRows): U = {
      val index = new LongIndex(1 << 15)
      var nextIdx = 0
      var ids = new Array[Long](1 << 15)
      def idxOf(v: Long): Int = {
        val i = index.lookupOrInsert(v, nextIdx)
        if (i == nextIdx) {
          if (i >= ids.length) ids = java.util.Arrays.copyOf(ids, ids.length << 1)
          ids(i) = v
          nextIdx += 1
        }
        i
      }
      val seen = new PackedSet(1 << 17)
      var eu = new Array[Int](1 << 17)
      var ev = new Array[Int](1 << 17)
      var nEdges = 0
      var degA = new Array[Long](1 << 15)
      var n = 0L
      while (it.hasNext) {
        n += 1
        if (n > maxRows) throw new IllegalStateException(
          s"in-memory graph kernel fed more than $maxRows edge rows — " +
            "the plan-time size estimate that selected the single-task path " +
            "was badly wrong; pass a lower materializeAboveBytes or " +
            "materialize the input so Catalyst sees real statistics")
        val e = it.next()
        if (e._1.isDefined && e._2.isDefined && e._1.get != e._2.get) {
          val u = math.min(e._1.get, e._2.get)
          val v = math.max(e._1.get, e._2.get)
          val ui = idxOf(u)
          val vi = idxOf(v)
          if (seen.add((ui.toLong << 32) | (vi.toLong & 0xffffffffL))) {
            if (nEdges >= eu.length) {
              eu = java.util.Arrays.copyOf(eu, eu.length << 1)
              ev = java.util.Arrays.copyOf(ev, ev.length << 1)
            }
            eu(nEdges) = ui; ev(nEdges) = vi; nEdges += 1
            val mx = math.max(ui, vi)
            if (mx >= degA.length)
              degA = java.util.Arrays.copyOf(degA, math.max(degA.length << 1, mx + 1))
            degA(ui) += 1L; degA(vi) += 1L
          }
        }
      }
      val nNodes = nextIdx
      val deg = if (degA.length >= nNodes) degA
        else java.util.Arrays.copyOf(degA, nNodes)
      new U(nNodes, ids, eu, ev, nEdges, deg)
    }
  }

  /** Shared prep for the explicit-rank variants: ONE edge shuffle
    * (hash-partition by src → dedup exchange-free → null-src filter →
    * COUNT window degree) checkpointed, plus the full node set off
    * the raw input. Callers release the checkpoint via the shim.
    */
  private def edgePrep(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val shuffleParts =
      edges.sparkSession.sessionState.conf.numShufflePartitions
    val srcWin = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val eDeg = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(shuffleParts, col("src"))
      .dropDuplicates("src", "dst")
      .filter(col("src").isNotNull)
      .withColumn("d", count(lit(1)).over(srcWin))
      .localCheckpoint(eager = true)
    val nodes = edges.select(col(srcCol).cast("long").as("id"))
      .union(edges.select(col(dstCol).cast("long").as("id"))).distinct()
    (eDeg, nodes)
  }

  /** Per-node triangle counts over the UNDIRECTED simple graph induced
    * by the edge frame (direction, duplicate edges and self-loops
    * dropped; null endpoints excluded — a null never equals a third
    * vertex). Standard degree-ordered orientation: each undirected
    * edge points from its lower (degree, id) endpoint to the higher,
    * so every triangle {a ≺ b ≺ c} is enumerated EXACTLY once, as the
    * wedge at its ≺-minimum a (out-edges a→b, a→c) closed by the
    * oriented edge b→c. The wedge frame is Σ_v d⁺(v)², and
    * orientation bounds d⁺ by O(√m) on ANY degree distribution (the
    * arboricity argument) — the reason every distributed triangle
    * counter orients before joining; an unoriented wedge join would
    * square the hub degrees instead. Shuffle shape: one distinct +
    * one degree aggregate + the orientation joins (node-sized frame,
    * AQE broadcasts it when small), then ONE self-join on the wedge
    * apex and ONE pair semi-join — all equi-joins on keys, nothing
    * quadratic in the corpus.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String, materializeAboveBytes: Long = 64L << 20): DataFrame = {
    val edgeBytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    val materialize = edgeBytes > BigInt(materializeAboveBytes)
    lastMaterialized = materialize
    // Below the gate: the whole operator is ONE single-task kernel
    // over the id-compacted undirected graph (same collapse-when-tiny
    // pattern as the PageRank kernel, same 32M-row runtime backstop):
    // degree-ordered orientation into CSR out-lists sorted by index,
    // then per oriented edge (u,v) a sorted two-pointer intersection
    // of N⁺(u) and N⁺(v) — each triangle a≺b≺c found exactly once at
    // its (a,b) edge, crediting all three corners. Work is
    // Σ_(u,v) (d⁺(u)+d⁺(v)) — the arboricity-bounded cost the
    // distributed wedge join pays in shuffled form. Above the gate the
    // distributed orientation + wedge-join plan below is unchanged.
    if (!materialize) {
      val spark = edges.sparkSession
      import spark.implicits._
      return edges.select(col(srcCol).cast("long").as("ea"),
          col(dstCol).cast("long").as("eb"))
        .as[(Option[Long], Option[Long])].coalesce(1).mapPartitions { it =>
          val g = Kernel.buildUndirected(it)
          val n = g.nNodes
          // orientation s→t when (deg, id) of s precedes t
          def sFirst(a: Int, b: Int): Boolean =
            g.deg(a) < g.deg(b) ||
              (g.deg(a) == g.deg(b) && g.ids(a) < g.ids(b))
          val outDeg = new Array[Int](n)
          var e = 0
          while (e < g.nEdges) {
            val (u, v) = (g.eu(e), g.ev(e))
            outDeg(if (sFirst(u, v)) u else v) += 1
            e += 1
          }
          val off = new Array[Int](n + 1)
          var i = 0
          while (i < n) { off(i + 1) = off(i) + outDeg(i); i += 1 }
          val adj = new Array[Int](g.nEdges)
          val cursor = java.util.Arrays.copyOf(off, n)
          e = 0
          while (e < g.nEdges) {
            val (u, v) = (g.eu(e), g.ev(e))
            val s = if (sFirst(u, v)) u else v
            val t = if (sFirst(u, v)) v else u
            adj(cursor(s)) = t
            cursor(s) += 1
            e += 1
          }
          i = 0
          while (i < n) {
            java.util.Arrays.sort(adj, off(i), off(i + 1))
            i += 1
          }
          val counts = new Array[Long](n)
          // every triangle a≺b≺c has oriented edges a→b, a→c, b→c and
          // is found ONCE: at edge (a,b), as c ∈ N⁺(a) ∩ N⁺(b)
          var u = 0
          while (u < n) {
            var p = off(u)
            while (p < off(u + 1)) {
              val v = adj(p)
              var x = off(u)
              var y = off(v)
              while (x < off(u + 1) && y < off(v + 1)) {
                if (adj(x) < adj(y)) x += 1
                else if (adj(x) > adj(y)) y += 1
                else {
                  counts(u) += 1L; counts(v) += 1L; counts(adj(x)) += 1L
                  x += 1; y += 1
                }
              }
              p += 1
            }
            u += 1
          }
          (0 until n).iterator.map(i => (g.ids(i), counts(i)))
        }.toDF("id", "triangles")
    }
    val (deg, oriented) = degreeOriented(edges, srcCol, dstCol)
    // wedge at apex s: unordered out-pair canonicalized by id; the
    // closing oriented edge between b and c is unique, so a semi-join
    // on the id-canonical pair closes it regardless of its direction.
    // The closing side is edge-sized — size-gate the broadcast so the
    // wedge frame (Σd⁺², the BIG side) is never shuffled when the
    // edge set fits the threshold; above it both sides shuffle.
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    val closing = oriented.select(least(col("s"), col("t")).as("x"),
      greatest(col("s"), col("t")).as("y"))
    val tris = wedges.join(Hints.maybeBroadcast(closing),
      col("b") === col("x") && col("c") === col("y"), "left_semi")
    val cnts = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.select(col("id")).join(cnts, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** The degree-ordered orientation shared by [[triangleCounts]] and
    * the r12 planted-hub measurement (COVERAGE.md): returns the
    * undirected-simple degree frame `(id, d)` and the oriented edge
    * frame `(s, t)` with every edge pointing from its lower
    * (degree, id) endpoint to the higher, hash-partitioned on the
    * wedge apex `s`.
    */
  private[graft] def degreeOriented(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val e0 = edges.select(col(srcCol).cast("long").as("ea"),
        col(dstCol).cast("long").as("eb"))
      .filter(col("ea").isNotNull && col("eb").isNotNull &&
        col("ea") =!= col("eb"))
      .select(least(col("ea"), col("eb")).as("u"),
        greatest(col("ea"), col("eb")).as("v"))
      .distinct()
    val deg = e0.select(col("u").as("id"))
      .unionAll(e0.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val uFirst = col("du.d") < col("dv.d") ||
      (col("du.d") === col("dv.d") && col("u") < col("v"))
    // explicit repartition on the apex: the wedge join's clustering
    // requirement is satisfied by this ONE exchange, and all three
    // consumers (both join sides and the closing-edge projection)
    // read the same canonical exchange — ReuseExchange collapses the
    // orientation subtree to one computation instead of three
    val oriented = e0
      .join(Hints.maybeBroadcast(deg.as("du")), col("u") === col("du.id"))
      .join(Hints.maybeBroadcast(deg.as("dv")), col("v") === col("dv.id"))
      .select(when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"))
      .repartition(col("s"))
    (deg, oriented)
  }

  /** Mass-conserving PageRank: like [[pageRank]] but the rank mass of
    * DANGLING nodes (no out-edges) is redistributed evenly instead of
    * leaking — each superstep every node additionally receives
    * `(D_t * 850) DIV (1000 * N)` where `D_t = Σ ranks of dangling
    * nodes` and `N` = node count, all in the same integer fixed-point
    * (bit-identical to the unrolled-CTE oracle). `D_t` and `N` are
    * BOUNDED driver scalars (one aggregate each — the same "scalar
    * gauge" class as the observability counters), never row data; the
    * edge frame is prepped once and each superstep is the same
    * join-agg as the base form plus one tiny anti-join aggregate.
    * Supersteps are eagerly checkpointed with the previous iterate's
    * blocks released via the shim.
    *
    * Size-gated like [[pageRank]]: below the gate the whole loop runs
    * in the single-task kernel (dangling mass and share are two locals
    * there, not even driver scalars), bit-identical by the same
    * argument; the distributed loop is the only path above it.
    */
  def pageRankDangling(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L,
      materializeAboveBytes: Long = 64L << 20): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val edgeBytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    val materialize = edgeBytes > BigInt(materializeAboveBytes)
    lastMaterialized = materialize
    val base0 = (scale * 150L) / 1000L
    if (!materialize) {
      val spark = edges.sparkSession
      import spark.implicits._
      return edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .as[(Option[Long], Option[Long])].coalesce(1).mapPartitions { it =>
          val g = Kernel.build(it)
          val n = g.nNodes.toLong
          val ranks = new Array[Long](g.nNodes)
          java.util.Arrays.fill(ranks, scale)
          var t = 0
          while (t < iters && n > 0) {
            // dangling mass: nodes with no out-edge (the null node is
            // always dangling — it never holds a degree)
            var dMass = 0L
            var i = 0
            while (i < g.nNodes) {
              if (g.deg(i) == 0L) dMass += ranks(i)
              i += 1
            }
            val share = (dMass * 850L) / (1000L * n)
            val contrib = new Array[Long](g.nNodes)
            var e = 0
            while (e < g.nEdges) {
              val s = g.adjSrc(e)
              contrib(g.adjDst(e)) += (ranks(s) * 850L) / (1000L * g.deg(s))
              e += 1
            }
            i = 0
            while (i < g.nNodes) {
              val c = if (i == g.nullIdx) 0L else contrib(i)
              ranks(i) = base0 + c + share
              i += 1
            }
            t += 1
          }
          (0 until g.nNodes).iterator.map(i => (g.idOf(i), ranks(i)))
        }.toDF("id", "rank")
        // eager checkpoint: same self-contained contract as the
        // materialized path's output (see pageRank's kernel arm)
        .localCheckpoint(eager = true)
    }
    val (eDeg, nodes0) = edgePrep(edges, srcCol, dstCol)
    val nodes = nodes0.localCheckpoint(eager = true)
    val base = (scale * 150L) / 1000L
    val n = nodes.count()
    val srcs = eDeg.select(col("src")).distinct()
    var ranks = nodes.withColumn("r", lit(scale))
    var it = 0
    while (it < iters && n > 0) {
      // D_t: one bounded scalar off the current iterate
      val dMass = ranks.join(srcs, ranks("id") === srcs("src"), "left_anti")
        .agg(coalesce(sum("r"), lit(0L))).collect()(0).getLong(0)
      val share = (dMass * 850L) / (1000L * n)
      val contribs = eDeg.join(ranks, eDeg("src") === ranks("id"))
        .select(col("dst").as("cid"),
          expr("(r * 850) DIV (1000 * d)").as("c"))
        .groupBy("cid").agg(sum("c").as("s"))
      val next = nodes.join(contribs, nodes("id") === contribs("cid"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("s"), lit(0L)) + lit(share)).as("r"))
        .localCheckpoint(eager = true)
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(ranks)
      ranks = next
      it += 1
    }
    val out = ranks.select(col("id"), col("r").as("rank"))
      .localCheckpoint(eager = true)
    org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(ranks)
    org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(nodes)
    org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(eDeg)
    out
  }

  /** Iterate-to-ε PageRank (dangling mass leaking, as [[pageRank]]):
    * supersteps run until `max |r_t - r_{t-1}| ≤ eps` or `maxIters`,
    * whichever first, in the same integer fixed-point. Returns the
    * converged ranks plus a constant `t` column — the superstep count
    * actually run — so the oracle must reproduce the STOPPING
    * DECISION, not just the arithmetic (both engines compute the same
    * iterates, hence the same t). The convergence check is one
    * bounded scalar aggregate per superstep — inherent to any
    * iterate-to-fixpoint loop, and the reason this variant has no
    * single-plan form: control flow depends on data.
    *
    * Size-gated like [[pageRank]]: below the gate the fixpoint loop —
    * including the stopping decision — runs in the single-task kernel
    * (the max-delta is a local, not a per-superstep scalar job),
    * producing the same iterates and hence the same `t`; the
    * distributed loop is the only path above the gate. The delta is
    * measured over DEFINED node ids only, mirroring the distributed
    * path's inner self-join (a null id never matches itself).
    */
  def pageRankConverge(edges: DataFrame, srcCol: String, dstCol: String,
      eps: Long, maxIters: Int = 10,
      scale: Long = 1000000L,
      materializeAboveBytes: Long = 64L << 20): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(eps >= 0, s"eps must be >= 0, got $eps")
    val edgeBytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    val materialize = edgeBytes > BigInt(materializeAboveBytes)
    lastMaterialized = materialize
    val base0 = (scale * 150L) / 1000L
    if (!materialize) {
      val spark = edges.sparkSession
      import spark.implicits._
      return edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .as[(Option[Long], Option[Long])].coalesce(1).mapPartitions { it =>
          val g = Kernel.build(it)
          val ranks = new Array[Long](g.nNodes)
          java.util.Arrays.fill(ranks, scale)
          var t = 0
          var done = g.nNodes == 0
          while (!done && t < maxIters) {
            val contrib = new Array[Long](g.nNodes)
            var e = 0
            while (e < g.nEdges) {
              val s = g.adjSrc(e)
              contrib(g.adjDst(e)) += (ranks(s) * 850L) / (1000L * g.deg(s))
              e += 1
            }
            t += 1
            var md = 0L
            var i = 0
            while (i < g.nNodes) {
              val c = if (i == g.nullIdx) 0L else contrib(i)
              val next = base0 + c
              if (i != g.nullIdx) md = math.max(md, math.abs(next - ranks(i)))
              ranks(i) = next
              i += 1
            }
            done = md <= eps
          }
          val tl = t.toLong
          (0 until g.nNodes).iterator.map(i => (g.idOf(i), ranks(i), tl))
        }.toDF("id", "rank", "t")
        // eager checkpoint: same self-contained contract as the
        // materialized path's output (see pageRank's kernel arm)
        .localCheckpoint(eager = true)
    }
    val (eDeg, nodes0) = edgePrep(edges, srcCol, dstCol)
    val nodes = nodes0.localCheckpoint(eager = true)
    val base = (scale * 150L) / 1000L
    var ranks = nodes.withColumn("r", lit(scale))
    var it = 0
    var done = nodes.isEmpty
    while (!done && it < maxIters) {
      val contribs = eDeg.join(ranks, eDeg("src") === ranks("id"))
        .select(col("dst").as("cid"),
          expr("(r * 850) DIV (1000 * d)").as("c"))
        .groupBy("cid").agg(sum("c").as("s"))
      val next = nodes.join(contribs, nodes("id") === contribs("cid"), "left")
        .select(col("id"), (lit(base) + coalesce(col("s"), lit(0L))).as("r"))
        .localCheckpoint(eager = true)
      it += 1
      // bounded scalar: the max rank delta this superstep
      val md = next.as("n").join(ranks.as("p"), col("n.id") === col("p.id"))
        .agg(coalesce(max(abs(col("n.r") - col("p.r"))), lit(0L)))
        .collect()(0).getLong(0)
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(ranks)
      ranks = next
      done = md <= eps
    }
    val out = ranks.select(col("id"), col("r").as("rank"),
        lit(it.toLong).as("t"))
      .localCheckpoint(eager = true)
    org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(ranks)
    org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(nodes)
    org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(eDeg)
    out
  }
}
