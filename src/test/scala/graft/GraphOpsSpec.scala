package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed fixed-point ranks on a 4-node graph") {
    // 1 -> 2, 1 -> 3, 2 -> 3, 3 -> 1, 4 -> 3   (4 is a dangling source)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
      .toDF("src", "dst")
    val r = GraphOps.pageRank(edges, "src", "dst", iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // base 150000; contribs of rank 1e6: deg(1)=2 -> 425000 each,
    // deg(2)=1 -> 850000, deg(3)=1 -> 850000, deg(4)=1 -> 850000
    assert(r(1L) == 150000L + 850000L)           // from 3
    assert(r(2L) == 150000L + 425000L)           // from 1
    assert(r(3L) == 150000L + 425000L + 850000L + 850000L) // 1,2,4
    assert(r(4L) == 150000L)                     // sink-only side: base
  }

  test("pageRank: duplicate edges collapse; iters=0 is the initial rank") {
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("src", "dst")
    val r1 = GraphOps.pageRank(edges, "src", "dst", iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r1(2L) == 150000L + 850000L) // one edge, not three
    val r0 = GraphOps.pageRank(edges, "src", "dst", iters = 0)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r0 == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRank: degenerate inputs degrade, never throw") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    assert(GraphOps.pageRank(empty, "src", "dst", iters = 2).count() == 0)
    // null endpoints: the null node never matches a join key, so it
    // holds the base rank; non-null structure is unaffected
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(2L)), (Some(2L), None))
      .toDF("src", "dst")
    val r = GraphOps.pageRank(withNull, "src", "dst", iters = 1)
      .collect().map(x => Option(x.get(0)).map(_.asInstanceOf[Long]) -> x.getLong(1)).toMap
    assert(r(Some(2L)) == 150000L + 850000L) // only 1 -> 2 contributes
    assert(r(Some(1L)) == 150000L && r(None) == 150000L)
  }

  test("pageRank: size gate — lazy below, materialized above, identical ranks") {
    val edges = (1L to 500L).map(i => (i % 37, i % 53)).toDF("src", "dst")
    val lazyR = GraphOps.pageRank(edges, "src", "dst", iters = 3)
      .orderBy("id").collect().toSeq
    assert(!GraphOps.lastMaterialized,
      "a 500-row local edge frame must take the lazy composed-plan path")
    val matR = GraphOps.pageRank(edges, "src", "dst", iters = 3,
        materializeAboveBytes = 0L)
      .orderBy("id").collect().toSeq
    assert(GraphOps.lastMaterialized,
      "materializeAboveBytes=0 must force the per-superstep path")
    assert(lazyR == matR)
    // deep iteration stays on the kernel below the gate (the loop is
    // in-memory — no plan nesting to bound) and still matches the
    // distributed path exactly
    val deepK = GraphOps.pageRank(edges, "src", "dst", iters = 9)
      .orderBy("id").collect().toSeq
    assert(!GraphOps.lastMaterialized)
    val deepM = GraphOps.pageRank(edges, "src", "dst", iters = 9,
        materializeAboveBytes = 0L)
      .orderBy("id").collect().toSeq
    assert(deepK == deepM)
  }

  test("pageRankDangling: hand-computed redistribution on a 3-node graph") {
    // 1 -> 2, 1 -> 3; nodes 2 and 3 dangle. N = 3, base = 150000.
    // step 1: D0 = r0(2) + r0(3) = 2e6,
    //   share = (2e6 * 850) / (1000 * 3) = 566666
    //   c(2) = c(3) = (1e6 * 850) / (1000 * 2) = 425000
    //   r1(1) = 150000 + 566666 = 716666
    //   r1(2) = r1(3) = 150000 + 425000 + 566666 = 1141666
    val g = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r = GraphOps.pageRank(g, "src", "dst", iters = 1, dangling = true)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) == 716666L)
    assert(r(2L) == 1141666L && r(3L) == 1141666L)
  }

  test("pageRankDangling: all-dangling graph (no usable out-edges)") {
    // only a null-src edge: every node dangles; nodes = {null, 5}
    val g = Seq((Option.empty[Long], Some(5L))).toDF("src", "dst")
    // N=2, D0 = 2e6, share = (2e6*850)/(1000*2) = 850000
    // no contributions: r1 = 150000 + 850000 = 1000000 for both
    val r = GraphOps.pageRank(g, "src", "dst", iters = 1, dangling = true)
      .collect().map(x => Option(x.get(0)) -> x.getLong(1)).toMap
    assert(r.values.toSet == Set(1000000L))
    assert(r.size == 2)
  }

  test("pageRankDangling: self-loops count as out-edges (no dangling)") {
    // 1 -> 1, 2 -> 2: every node feeds itself; D = 0 every step
    val g = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    // r1 = 150000 + (1e6*850)/1000 = 1000000 (exact fixpoint at once)
    val r = GraphOps.pageRank(g, "src", "dst", iters = 2, dangling = true)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRankConverge: stops at the exact fixpoint and reports t") {
    // self-loop graph: r1 = base + (scale*850)/1000 = scale = r0, so
    // the very first superstep observes md == 0 -> t = 1
    val g = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    val rows = GraphOps.pageRank(g, "src", "dst", eps = Some(0L),
      iters = 8).collect()
    assert(rows.map(_.getLong(2)).toSet == Set(1L))
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("pageRankConverge: maxIters bound binds; empty graph degrades") {
    val g = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val t = GraphOps.pageRank(g, "src", "dst", eps = Some(0L),
      iters = 1).collect().map(_.getLong(2)).head
    assert(t == 1L)
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    assert(GraphOps.pageRank(empty, "src", "dst", eps = Some(0L)).count() == 0)
    assert(GraphOps.pageRank(empty, "src", "dst", dangling = true).count() == 0)
  }

  test("pageRankDangling/Converge: size gate — kernel below, distributed " +
      "above, identical (incl. null endpoints)") {
    val rows = (1L to 400L).map(i => (Some(i % 23): Option[Long], Some(i % 31): Option[Long])) ++
      Seq((None: Option[Long], Some(7L): Option[Long]),
        (Some(7L): Option[Long], None: Option[Long]))
    val edges = rows.toDF("src", "dst")
    val dk = GraphOps.pageRank(edges, "src", "dst", iters = 3, dangling = true)
      .orderBy("id").collect().toSeq
    assert(!GraphOps.lastMaterialized,
      "a local edge frame must take the kernel path")
    val dm = GraphOps.pageRank(edges, "src", "dst", iters = 3, dangling = true,
      materializeAboveBytes = 0L).orderBy("id").collect().toSeq
    assert(GraphOps.lastMaterialized)
    assert(dk == dm)
    val ck = GraphOps.pageRank(edges, "src", "dst", eps = Some(1000L),
      iters = 6).orderBy("id").collect().toSeq
    assert(!GraphOps.lastMaterialized)
    val cm = GraphOps.pageRank(edges, "src", "dst", eps = Some(1000L),
      iters = 6, materializeAboveBytes = 0L).orderBy("id").collect().toSeq
    assert(GraphOps.lastMaterialized)
    assert(ck == cm, "converge iterates AND stopping decision must match")
  }

  test("pageRank: randomized differential — both paths vs an independent " +
      "in-memory reference") {
    // pure-Scala reference implementation: same integer fixed-point,
    // written independently of the Spark plan shapes. None is the SQL
    // null endpoint: a node of its own that has no out-edges (it is
    // dangling) and receives no contributions.
    def refRanks(edges: Seq[(Option[Long], Option[Long])], iters: Int,
        dangling: Boolean = false,
        eps: Option[Long] = None): (Map[Option[Long], Long], Int) = {
      val e = edges.distinct
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
      val out = e.filter(_._1.isDefined)
      val deg = out.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
      var r = nodes.map(_ -> 1000000L).toMap
      var t = 0
      var done = false
      while (t < iters && !done) {
        val share =
          if (dangling) (nodes.filterNot(deg.contains).map(r).sum * 850L) /
            (1000L * nodes.size)
          else 0L
        val contrib = scala.collection.mutable.Map[Option[Long], Long]()
          .withDefaultValue(0L)
        for ((s, d) <- out if d.isDefined)
          contrib(d) += (r(s) * 850L) / (1000L * deg(s))
        val next = nodes.map(n => n -> (150000L + contrib(n) + share)).toMap
        val md = nodes.filter(_.isDefined)
          .map(n => math.abs(next(n) - r(n))).foldLeft(0L)(math.max)
        r = next
        t += 1
        done = eps.exists(md <= _)
      }
      (r, t)
    }
    def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Option[Long], Long] =
      df.collect().map(x =>
        Option(x.get(0)).map(_.asInstanceOf[Long]) -> x.getLong(1)).toMap
    def stepsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(2)).toSet
    val rnd = new scala.util.Random(23)
    val cap = 12
    for (trial <- 1 to 3) {
      val edges = Seq.fill(200 + trial * 100)(
        (rnd.nextInt(40).toLong, rnd.nextInt(60).toLong))
      val expected = refRanks(edges.map { case (s, d) => (Some(s), Some(d)) },
        iters = 3)._1.map { case (k, v) => k.get -> v }
      val df = edges.toDF("src", "dst")
      val fused = GraphOps.pageRank(df, "src", "dst", iters = 3)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val mat = GraphOps.pageRank(df, "src", "dst", iters = 3,
          materializeAboveBytes = 0L)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(fused == expected, s"fused path diverged on trial $trial")
      assert(mat == expected, s"materialized path diverged on trial $trial")

      // every form again with planted null endpoints: a null src, a
      // null dst, a null-null edge and duplicates of each
      val planted: Seq[(Option[Long], Option[Long])] =
        edges.map { case (s, d) => (Some(s), Some(d)) } ++
          Seq((None, Some(3L)), (Some(5L), None), (None, None),
            (None, Some(3L)), (Some(5L), None), (None, Some(1000L + trial)))
      val pdf = planted.toDF("src", "dst")
      def bothPaths(run: Long => org.apache.spark.sql.DataFrame) = {
        val k = run(64L << 20)
        assert(!GraphOps.lastMaterialized, s"trial $trial must take the kernel")
        val d = run(0L)
        assert(GraphOps.lastMaterialized, s"trial $trial must run distributed")
        (k, d)
      }
      val (plainK, plainD) = bothPaths(b =>
        GraphOps.pageRank(pdf, "src", "dst", iters = 3, materializeAboveBytes = b))
      val plainRef = refRanks(planted, iters = 3)._1
      assert(ranksOf(plainK) == plainRef, s"plain kernel diverged on trial $trial")
      assert(ranksOf(plainD) == plainRef, s"plain distributed diverged on trial $trial")

      val (dangK, dangD) = bothPaths(b =>
        GraphOps.pageRank(pdf, "src", "dst", iters = 3, dangling = true,
          materializeAboveBytes = b))
      val dangRef = refRanks(planted, iters = 3, dangling = true)._1
      assert(ranksOf(dangK) == dangRef, s"dangling kernel diverged on trial $trial")
      assert(ranksOf(dangD) == dangRef, s"dangling distributed diverged on trial $trial")

      val eps = 5000L * trial
      val (convK, convD) = bothPaths(b =>
        GraphOps.pageRank(pdf, "src", "dst", eps = Some(eps), iters = cap,
          materializeAboveBytes = b))
      val (convRef, tRef) = refRanks(planted, iters = cap, eps = Some(eps))
      assert(tRef > 1 && tRef < cap,
        s"trial $trial must stop on eps before the cap (t=$tRef)")
      assert(ranksOf(convK) == convRef, s"converge kernel diverged on trial $trial")
      assert(ranksOf(convD) == convRef, s"converge distributed diverged on trial $trial")
      assert(stepsOf(convK) == Set(tRef.toLong) && stepsOf(convD) == Set(tRef.toLong),
        s"converge stopping step diverged on trial $trial")
    }
  }

  test("triangleCounts: hand graphs — K4, path, direction/dup/self-loop/null hygiene") {
    // K4: every node is in C(3,2) = 3 triangles
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)).toDF("src", "dst")
    val rk4 = GraphOps.triangleCounts(k4, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rk4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // path graph: zero triangles, every node still listed
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val rp = GraphOps.triangleCounts(path, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rp == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // a triangle written with duplicates, reversed edges, a self-loop
    // and a null endpoint counts exactly once, nulls never join
    val messy = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)),
      (Some(2L), Some(3L)), (Some(3L), Some(1L)), (Some(2L), Some(2L)),
      (None: Option[Long], Some(1L))).toDF("src", "dst")
    val rm = GraphOps.triangleCounts(messy, "src", "dst")
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toMap
    assert(rm == Map(Some(1L) -> 1L, Some(2L) -> 1L, Some(3L) -> 1L))
  }

  test("triangleCounts: randomized differential vs a brute-force reference") {
    def ref(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      def adj(a: Long, b: Long) = und((math.min(a, b), math.max(a, b)))
      val t = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for (Seq(a, b, c) <- nodes.combinations(3)
           if adj(a, b) && adj(b, c) && adj(a, c)) {
        t(a) += 1; t(b) += 1; t(c) += 1
      }
      nodes.map(n => n -> t(n)).toMap
    }
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(120 + 40 * trial)(
        (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong)).filter(e => e._1 != e._2)
      val got = GraphOps.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref(edges), s"trial $trial diverged")
    }
  }

  test("triangleCounts: orientation caps the wedge frame on a planted hub " +
      "(arboricity bound measured, not asserted)") {
    // hub 0 -- spokes 1..H, chain edge every 10th spoke pair: the
    // unoriented wedge join would pay C(H,2) pairs at the hub; the
    // degree-ordered orientation points every hub edge INTO the hub
    // (it is the (deg,id)-maximum), so the hub contributes ZERO wedges
    val h = 2000
    val hub = (1 to h).map(i => (0L, i.toLong))
    val chain = (1 until h).filter(_ % 10 == 1).map(i => (i.toLong, i + 1L))
    val edges = (hub ++ chain).toDF("src", "dst")
    val (deg, oriented) = GraphOps.degreeOriented(edges, "src", "dst")
    val unoriented = deg.agg(expr("sum(d * (d - 1) DIV 2)")).head().getLong(0)
    val wedgeRows = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t")).count()
    // C(2000,2) = 1,999,000 hub pairs unoriented; oriented only the
    // chain apexes wedge (one per planted triangle)
    assert(unoriented >= 1999000L, s"unoriented=$unoriented")
    assert(wedgeRows == chain.size.toLong, s"oriented=$wedgeRows")
    val maxOut = oriented.groupBy("s").count().agg(max("count")).head().getLong(0)
    assert(maxOut <= 2L, s"max out-degree $maxOut should stay O(sqrt m)")
    // correctness pin: each planted triangle counted at all 3 corners
    val triSum = GraphOps.triangleCounts(edges, "src", "dst")
      .agg(sum("triangles")).head().getLong(0)
    assert(triSum == 3L * chain.size)
  }

  test("pageRank: deterministic across partitionings (exact integers)") {
    val edges = (1L to 500L).map(i => (i % 37, i % 53)).toDF("src", "dst")
    val a = GraphOps.pageRank(edges.repartition(1), "src", "dst", iters = 3)
      .orderBy("id").collect().toSeq
    val b = GraphOps.pageRank(edges.repartition(7), "src", "dst", iters = 3)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("kernel results are eager and self-contained: same lifetime " +
      "contract on both sides of the gate") {
    import org.apache.spark.sql.execution.LogicalRDD
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def selfContained(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst { case _: LogicalRDD => () }.nonEmpty
    val pr = GraphOps.pageRank(edges, "src", "dst", iters = 2)
    assert(!GraphOps.lastMaterialized, "tiny frame must take the kernel path")
    assert(selfContained(pr),
      "kernel pageRank must return an eager localCheckpoint, not a lazy plan")
    assert(selfContained(GraphOps.pageRank(edges, "src", "dst", iters = 2,
      dangling = true)))
    assert(selfContained(GraphOps.pageRank(edges, "src", "dst",
      eps = Some(1L), iters = 3)))
  }

  test("kernel row-ceiling backstop: a task fed past maxRows aborts " +
      "loudly instead of building an unbounded graph") {
    val rows = (1 to 100).iterator
      .map(i => (Option(i.toLong), Option(i.toLong + 1)))
    val e = intercept[IllegalStateException] {
      GraphOps.Kernel.build(rows, maxRows = 10L)
    }
    assert(e.getMessage.contains("size estimate"))
    // under the ceiling the same stream builds fine
    val g = GraphOps.Kernel.build(
      (1 to 9).iterator.map(i => (Option(i.toLong), Option(i.toLong + 1))))
    assert(g.nEdges == 9)
    assert(g.nNodes == 10)
  }

  test("triangleCounts: size gate — single-task kernel below, " +
      "distributed wedge join above, identical counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val edges = Seq.fill(600)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("src", "dst")
    val kernel = GraphOps.triangleCounts(edges, "src", "dst")
    assert(!GraphOps.lastMaterialized, "tiny frame must take the kernel path")
    val distributed = GraphOps.triangleCounts(edges, "src", "dst",
      materializeAboveBytes = 0L)
    assert(GraphOps.lastMaterialized)
    val a = kernel.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = distributed.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    assert(a.values.sum > 0, "random graph at this density must close triangles")
  }

  test("compact kernel build: dedup with null equality, degree and " +
      "node contracts match the boxed r12 form") {
    // duplicate edges (incl. a duplicated null-dst pair), a null src
    // (node only, no degree/adjacency), and a 0L id (hash-map edge case)
    val rows = Seq(
      (Option(1L), Option(2L)), (Option(1L), Option(2L)),  // dup
      (Option(1L), None), (Option(1L), None),              // dup null dst
      (None, Option(3L)),                                  // null src
      (Option(0L), Option(1L)),                            // 0L id
      (Option(2L), Option(2L))                             // self loop kept
    )
    val g = GraphOps.Kernel.build(rows.iterator)
    // deduped defined-src edges: (1,2), (1,null), (0,1), (2,2)
    assert(g.nEdges == 4)
    // nodes: 1, 2, null, 3, 0
    assert(g.nNodes == 5)
    assert(g.nullIdx >= 0)
    val degById = (0 until g.nNodes)
      .map(i => g.idOf(i) -> g.deg(i)).toMap
    assert(degById(Some(1L)) == 2L)  // (1,2) + (1,null)
    assert(degById(Some(0L)) == 1L)
    assert(degById(Some(2L)) == 1L)
    assert(degById(None) == 0L)      // null src never holds a degree
    assert(degById(Some(3L)) == 0L)  // dst-only node is dangling
    // adjacency endpoints resolve back to the right ids
    val adj = (0 until g.nEdges)
      .map(e => (g.idOf(g.adjSrc(e)), g.idOf(g.adjDst(e)))).toSet
    assert(adj == Set(
      (Some(1L), Some(2L)), (Some(1L), None),
      (Some(0L), Some(1L)), (Some(2L), Some(2L))))
  }

}
