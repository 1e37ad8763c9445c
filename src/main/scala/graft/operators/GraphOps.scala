package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge DataFrames — the Pregel-shaped
  * workloads (rank propagation) done Spark-first: each superstep is
  * one join-aggregate over the edge frame, so Catalyst plans it, AQE
  * sizes it, and nothing ever leaves the cluster. Connected
  * components (large-star/small-star) live in
  * [[graft.llm.DedupOps.nearDupClusters]]; this hosts the
  * fixed-iteration value-propagation family.
  */
object GraphOps {

  /** Which path the most recent [[pageRank]] or [[triangleCounts]]
    * call took (true = distributed). Observability for specs and the
    * scale rehearsal; not part of the API contract.
    */
  @volatile private[graft] var lastMaterialized: Boolean = false

  /** The size gate of every operator here, and the only writer of
    * [[lastMaterialized]]: true (run distributed) when Catalyst's size
    * estimate of the edge frame exceeds `materializeAboveBytes`.
    *
    * Below it the operator runs as ONE single-task in-memory kernel:
    * `coalesce(1)` (narrow, no exchange) feeds one `mapPartitions`
    * task. Every distributed formulation pays per-execution fixed
    * costs (stage scheduling, broadcast barriers, a shared-edge-frame
    * cache build) that dominate on small graphs — the r10 fused
    * PageRank plan measured ~1.1-2.3 s at sf0.1 for ~2M integer ops.
    * Same collapse-when-tiny philosophy as the as-of join's
    * broadcast+binary-search path and the dedup-cluster driver
    * union-find. `coalesce(1)` over a multi-hundred-GB frame would be a
    * scale-killer, which is what the gate prevents (sf10 engages the
    * distributed path; SCALE_STREAM_r10.md).
    *
    * The gate TRUSTS Catalyst's estimate: a selective filter under
    * default column stats can underestimate badly, so callers feeding a
    * filtered edge frame should pass an explicit `materializeAboveBytes`
    * (0 forces the distributed path) — the as-of broadcast gate's
    * contract, with [[Kernel.MaxKernelRows]] as the runtime backstop.
    */
  private def aboveGate(edges: DataFrame, materializeAboveBytes: Long): Boolean = {
    lastMaterialized =
      edges.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(materializeAboveBytes)
    lastMaterialized
  }

  /** One damped share in exact integer fixed-point: `(r·0.85) / d`. */
  private def damp(r: Long, d: Long): Long = (r * 850L) / (1000L * d)

  /** PageRank in exact integer fixed-point: ranks are scaled longs
    * (initial rank = `scale`, i.e. 1.0), each edge carries
    * `damp(r(src), outdeg(src))` and a node's next rank is
    * `0.15·scale + Σ incoming + share`. Every operation is integral, so
    * results are bit-identical across engines, partitionings and run
    * counts (a double-arithmetic PageRank can't be oracle-compared;
    * this one can).
    *
    * The three catalog forms are flags on one loop:
    *  - default: `iters` supersteps; dangling nodes (no out-edges)
    *    contribute nothing, so their mass leaks, matching the
    *    reference's fixed-iteration form (`share` = 0);
    *  - `dangling`: the rank mass of dangling nodes is redistributed
    *    evenly, `share = damp(D_t, N)` with `D_t` the dangling ranks'
    *    sum and `N` the node count;
    *  - `eps`: stop once `max |r_t - r_{t-1}| ≤ eps` over DEFINED ids,
    *    `iters` being the superstep cap; the result gains a constant
    *    `t` column (supersteps run), so the oracle must reproduce the
    *    STOPPING DECISION, not just the arithmetic.
    *
    * Nodes are every src and dst, the SQL null included: dedup on
    * (src, dst) treats nulls as equal, the out-degree counts DISTINCT
    * dst per defined src including a null dst, a null src contributes
    * nothing, and the null node receives nothing (it holds the base
    * rank plus the share).
    *
    * Below the size gate ([[aboveGate]]) the whole loop runs in the
    * single-task kernel, bit-identical to the distributed path (long
    * sums are order-independent; `DIV` on positive operands is Java
    * `/`). Both paths return an eager `localCheckpoint`: callers
    * straddling the gate see one lifetime contract, a self-contained
    * frame computed once at call time.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L,
      materializeAboveBytes: Long = 64L << 20,
      dangling: Boolean = false, eps: Option[Long] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    eps.foreach { e =>
      require(iters >= 1, s"iters (the superstep cap with eps) must be >= 1, got $iters")
      require(e >= 0, s"eps must be >= 0, got $e")
    }
    val eCast = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val base = (scale * 150L) / 1000L
    // (id, rank, t) → the caller's columns, computed once at call time
    def result(ranked: DataFrame): DataFrame =
      (if (eps.isDefined) ranked else ranked.drop("t")).localCheckpoint(eager = true)
    if (aboveGate(edges, materializeAboveBytes))
      distributedRanks(eCast, iters, scale, base, dangling, eps, result)
    else result(kernelRanks(eCast, iters, scale, base, dangling, eps))
  }

  /** The below-the-gate loop over a ranks array (see [[Kernel.build]]
    * for the graph contracts). Rows are `(id, rank, t)`.
    */
  private def kernelRanks(eCast: DataFrame, iters: Int, scale: Long,
      base: Long, dangling: Boolean, eps: Option[Long]): DataFrame = {
    val spark = eCast.sparkSession
    import spark.implicits._
    eCast.as[(Option[Long], Option[Long])].coalesce(1).mapPartitions { it =>
      val g = Kernel.build(it)
      val n = g.nNodes
      val ranks = Array.fill(n)(scale)
      var t = 0
      var done = n == 0
      while (t < iters && !done) {
        var dMass = 0L
        if (dangling) for (i <- 0 until n if g.deg(i) == 0L) dMass += ranks(i)
        val share = damp(dMass, n)
        val contrib = new Array[Long](n)
        var e = 0
        while (e < g.nEdges) {
          val s = g.adjSrc(e)
          contrib(g.adjDst(e)) += damp(ranks(s), g.deg(s))
          e += 1
        }
        var md = 0L
        var i = 0
        while (i < n) {
          val next = base + share + (if (i == g.nullIdx) 0L else contrib(i))
          if (i != g.nullIdx) md = math.max(md, math.abs(next - ranks(i)))
          ranks(i) = next
          i += 1
        }
        t += 1
        done = eps.exists(md <= _)
      }
      val tl = t.toLong
      (0 until n).iterator.map(i => (g.idOf(i), ranks(i), tl))
    }.toDF("id", "rank", "t")
  }

  /** The above-the-gate loop. Edges are shuffled ONCE: hash-partitioned
    * by src, then deduped and out-degree-counted (a COUNT window over
    * the same partitioning) exchange-free, and persisted
    * MEMORY_AND_DISK — recomputable on block loss, which matters once
    * the edge frame is the 100 TB side.
    *
    * The iterated state is the CONTRIBUTION frame `c_t(id) = Σ incoming`
    * plus one driver scalar `b_t`: ranks are implicit,
    * `r_t = b_t + c_t` (absent id ⇒ c = 0), with `b_0 = scale` and
    * `b_t = 0.15·scale + share`. So the first superstep is a plain
    * aggregate with NO join, each later one moves one node-sized frame
    * through one join into the src-partitioned edge frame plus one
    * partial-merge aggregate, and the full node set is joined once at
    * the end to surface sink-only and isolated nodes. The dangling mass
    * and the max delta are one bounded scalar aggregate each per
    * superstep (node-sized; the node set is persisted for them).
    *
    * Each superstep is eagerly `localCheckpoint`ed (lineage truncated,
    * plan one step deep) and the previous iterate's blocks released via
    * the checkpoint-aware shim (`unpersist()` can't see checkpoint
    * storage). Trade: checkpoint blocks are not recomputable, so an
    * executor loss restarts the rank job; a 100 TB deployment running
    * many supersteps should reliable-checkpoint every N iterations.
    */
  private def distributedRanks(eCast: DataFrame, iters: Int, scale: Long,
      base: Long, dangling: Boolean, eps: Option[Long],
      result: DataFrame => DataFrame): DataFrame = {
    val stepsReadNodes = dangling || eps.isDefined
    val eDeg = eCast
      .repartition(eCast.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
      .dropDuplicates("src", "dst")
      .filter(col("src").isNotNull)
      .withColumn("d", count(lit(1)).over(Window.partitionBy("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // off the raw input: the edge frame drops null-src rows
    val allNodes = eCast.select(col("src").as("id"))
      .union(eCast.select(col("dst").as("id"))).distinct()
    val nodes =
      if (stepsReadNodes) allNodes.persist(StorageLevel.MEMORY_AND_DISK) else allNodes
    // dangling: no out-edge (a null id never matches, so it dangles)
    lazy val danglingNodes = nodes.join(eDeg.select("src").distinct(),
      col("id") === col("src"), "left_anti")
    lazy val n = nodes.count()
    def ranksOf(ids: DataFrame, c: Option[DataFrame], b: Long): DataFrame = c match {
      case None => ids.select(col("id"), lit(b).as("r"))
      case Some(cs) => ids.join(cs, Seq("id"), "left")
        .select(col("id"), (lit(b) + coalesce(col("s"), lit(0L))).as("r"))
    }
    def contribs(c: Option[DataFrame], b: Long): DataFrame = {
      val r = if (c.isEmpty) s"${b}L" else s"(${b}L + coalesce(s, 0L))"
      c.fold(eDeg)(cs => eDeg.join(cs, eDeg("src") === cs("id"), "left"))
        .select(col("dst"), expr(s"($r * 850) DIV (1000 * d)").as("c"))
        .groupBy(col("dst").as("id")).agg(sum("c").as("s"))
    }
    var c, prev: Option[DataFrame] = None
    var b = scale
    var t = 0
    var done = false
    try {
      while (t < iters && !done) {
        val share = if (!dangling) 0L else damp(
          ranksOf(danglingNodes, c, b).agg(coalesce(sum("r"), lit(0L))).head().getLong(0),
          math.max(n, 1L))
        val bPrev = b
        prev = c
        c = Some(contribs(prev, b).localCheckpoint(eager = true))
        b = base + share
        t += 1
        done = eps.exists { e =>
          // a null id never matches itself: the delta is over defined ids
          val md = ranksOf(nodes, c, b).as("n")
            .join(ranksOf(nodes, prev, bPrev).as("p"), col("n.id") === col("p.id"))
            .agg(coalesce(max(abs(col("n.r") - col("p.r"))), lit(0L)))
            .head().getLong(0)
          md <= e
        }
        prev.foreach(GraftShim.releaseLocalCheckpoint)
        prev = None
      }
      result(ranksOf(nodes, c, b)
        .select(col("id"), col("r").as("rank"), lit(t.toLong).as("t")))
    } finally {
      (prev ++ c).foreach(GraftShim.releaseLocalCheckpoint)
      eDeg.unpersist()
      if (stepsReadNodes) nodes.unpersist()
    }
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

    /** `it`, failing loudly when a row past `maxRows` is drawn. */
    private def capped[T](it: Iterator[T], maxRows: Long): Iterator[T] =
      new Iterator[T] {
        private var n = 0L
        def hasNext: Boolean = it.hasNext
        def next(): T = {
          n += 1
          if (n > maxRows) throw new IllegalStateException(
            s"in-memory graph kernel fed more than $maxRows edge rows — " +
              "the plan-time size estimate that selected the single-task path " +
              "was badly wrong (selective filter under default stats?); pass a " +
              "lower materializeAboveBytes or materialize the input so Catalyst " +
              "sees real statistics")
          it.next()
        }
      }

    /** Splitmix-style scramble into a power-of-two table of `c` slots,
      * so sequential ids don't cluster.
      */
    private def slot(k: Long, c: Int): Int = {
      var h = k * -7046029254386353131L
      h ^= (h >>> 32)
      (h & (c - 1)).toInt
    }

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

    /** Dense int indices for node ids, in first-seen order. */
    private final class Interner {
      private val index = new LongIndex(1 << 15)
      var ids = new Array[Long](1 << 15)   // idx -> id
      var size = 0
      def apply(v: Long): Int = {
        val i = index.lookupOrInsert(v, size)
        if (i == size) {
          if (i >= ids.length) ids = java.util.Arrays.copyOf(ids, ids.length << 1)
          ids(i) = v
          size += 1
        }
        i
      }
      /** A new index outside the key map, so no long id can alias it. */
      def fresh(): Int = { size += 1; size - 1 }
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
      val nodes = new Interner
      var nullIdx = -1
      def idxOf(o: Option[Long]): Int = o match {
        case Some(v) => nodes(v)
        case None =>
          if (nullIdx < 0) nullIdx = nodes.fresh()
          nullIdx
      }
      val seen = new PackedSet(1 << 17)
      var adjSrc = new Array[Int](1 << 17)
      var adjDst = new Array[Int](1 << 17)
      var nEdges = 0
      var degA = new Array[Long](1 << 15)
      val rows = capped(it, maxRows)
      while (rows.hasNext) {
        val e = rows.next()
        val si = idxOf(e._1)
        val di = idxOf(e._2)
        if (seen.add((si.toLong << 32) | (di.toLong & 0xffffffffL)) && e._1.isDefined) {
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
      val nNodes = nodes.size
      val deg = if (degA.length >= nNodes) degA
        else java.util.Arrays.copyOf(degA, nNodes)
      new G(nNodes, nullIdx, nodes.ids, deg, adjSrc, adjDst, nEdges)
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
      val nodes = new Interner
      val seen = new PackedSet(1 << 17)
      var eu = new Array[Int](1 << 17)
      var ev = new Array[Int](1 << 17)
      var nEdges = 0
      var degA = new Array[Long](1 << 15)
      val rows = capped(it, maxRows)
      while (rows.hasNext) {
        val e = rows.next()
        if (e._1.isDefined && e._2.isDefined && e._1.get != e._2.get) {
          val ui = nodes(math.min(e._1.get, e._2.get))
          val vi = nodes(math.max(e._1.get, e._2.get))
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
      val nNodes = nodes.size
      val deg = if (degA.length >= nNodes) degA
        else java.util.Arrays.copyOf(degA, nNodes)
      new U(nNodes, nodes.ids, eu, ev, nEdges, deg)
    }
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
    if (!aboveGate(edges, materializeAboveBytes)) {
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
}
