package graft

import graft.llm.SketchOps
import org.apache.spark.sql.functions._

/** Local-reference differentials for the mergeable sketches: the
  * whole pipeline (hash, rank/bucket, estimate, merge) recomputed
  * driver-side from graft.functions.TextHash.fnv1a64 and compared
  * value-for-value, on randomized key streams with real collisions.
  */
class MergeableSketchSpec extends SparkSpec {
  import spark.implicits._

  private def h63(s: String): Long =
    graft.functions.TextHash.fnv1a64(s) & Long.MaxValue

  // KMV's order-statistic hash carries the splitmix64 finalizer (see
  // SketchOps.mixed63 — raw FNV high bits are biased on short keys)
  private def mixed63(s: String): Long =
    graft.functions.TextHash.mix64(graft.functions.TextHash.fnv1a64(s)) &
      Long.MaxValue

  test("kmvDistinct == local reference (hash, rank, estimate), " +
      "merge row == sketching the union, exact passthrough below k") {
    val k = 64
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3000).map(_ =>
      ("g" + rnd.nextInt(3), "u" + rnd.nextInt(800))) ++
      // one small group: < k distinct keys -> exact-passthrough branch
      (0 until 40).map(i => ("tiny", "t" + (i % 20)))
    val out = SketchOps.kmvDistinct(rows.toDF("g", "term"), "g", "term", k)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def ref(hs: Set[Long]): (Long, Long, Long, Long) = {
      val kmin = hs.toSeq.sorted.take(k)
      val hk = kmin.last
      val kUsed = kmin.size.toLong
      val est = if (kUsed < k) hs.size.toLong
        else (Long.MaxValue / hk) * (k - 1)
      (hs.size.toLong, hk, kUsed, est)
    }
    val byG = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => mixed63(r._2)).toSet }
    for ((g, hs) <- byG)
      assert(out(g) == ref(hs), s"group $g diverged from the reference")
    assert(out("tiny")._4 == out("tiny")._1,
      "below-k sketch must pass the exact count through")
    assert(out("tiny")._3 < k)
    // merge row: the k smallest of the union — identical to having
    // sketched the whole stream as one group
    val all = byG.values.reduce(_ ++ _)
    assert(out("__merged__") == ref(all), "merged row != sketch of the union")
    // estimator sanity at n >> k: inside 4 standard errors (~1/sqrt k)
    val (nEx, _, _, est) = out("__merged__")
    assert(math.abs(est - nEx).toDouble / nEx <= 4.0 / math.sqrt(k),
      s"estimate $est too far from $nEx")
  }

  test("cmsHeavyHitters == local reference; never underestimates; " +
      "collisions genuinely overshoot") {
    val depth = 4; val width = 64; val topK = 10
    val rnd = new scala.util.Random(11)
    // skewed stream: u0 planted heavy over a 300-key tail (width 64
    // forces real collisions)
    val rows = (0 until 5000).map(_ =>
      "u" + (if (rnd.nextInt(5) == 0) 0 else rnd.nextInt(300)))
    val out = SketchOps.cmsHeavyHitters(rows.toDF("term"), "term",
        depth, width, topK)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val counters = Array.fill(depth, width)(0L)
    for ((t, c) <- exact; i <- 0 until depth)
      counters(i)((h63(i.toString + t) % width).toInt) += c
    val top = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(topK)
    assert(out.keySet == top.map(_._1).toSet,
      "top-k candidate set != exact reference")
    for ((t, c) <- top) {
      val est = (0 until depth)
        .map(i => counters(i)((h63(i.toString + t) % width).toInt)).min
      assert(out(t) == (c, est), s"key $t diverged from the reference")
      assert(est >= c, s"CMS underestimated $t")
    }
    assert(out.contains("u0") && out("u0")._1 == exact("u0"),
      "planted heavy hitter missing")
    assert(top.exists { case (t, c) => out(t)._2 > c },
      "no collision overshoot — the test domain is too narrow to prove anything")
  }

  test("kmv sketch merge: folding per-batch sketches == sketching the " +
      "whole stream, regardless of split or fold order") {
    val k = 32
    val rnd = new scala.util.Random(3)
    val rows = (0 until 2000).map(_ =>
      ("g" + rnd.nextInt(2), "u" + rnd.nextInt(500)))
    val parts = rows.grouped(700).map(_.toDF("g", "term")).toSeq
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val whole = SketchOps.kmvEstimate(
      SketchOps.kmvKmin(rows.toDF("g", "term"), "g", "term", k), k)
    val folded = SketchOps.kmvEstimate(
      parts.map(p => SketchOps.kmvKmin(p, "g", "term", k))
        .reduce((a, b) => SketchOps.kmvMerge(a, b, k).localCheckpoint()), k)
    assert(canon(folded) == canon(whole),
      "batch-folded sketch diverged from the whole-stream sketch")
    val foldedRev = SketchOps.kmvEstimate(
      parts.reverse.map(p => SketchOps.kmvKmin(p, "g", "term", k))
        .reduce((a, b) => SketchOps.kmvMerge(a, b, k).localCheckpoint()), k)
    assert(canon(foldedRev) == canon(whole),
      "merge must be order-insensitive")
  }

  test("cms counter merge: folding per-batch counter frames == counting " +
      "the whole stream, cellwise, regardless of split") {
    val (depth, width) = (3, 32)
    val rnd = new scala.util.Random(5)
    val rows = (0 until 3000).map(_ => "u" + rnd.nextInt(200))
    val parts = rows.grouped(1100).map(_.toDF("term")).toSeq
    val cands = SketchOps.cmsTopCandidates(rows.toDF("term"), "term", 8)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val whole = SketchOps.cmsProbe(
      SketchOps.cmsCounters(rows.toDF("term"), "term", depth, width),
      cands, depth, width)
    val folded = SketchOps.cmsProbe(
      parts.map(p => SketchOps.cmsCounters(p, "term", depth, width))
        .reduce((a, b) => SketchOps.cmsMerge(a, b).localCheckpoint()),
      cands, depth, width)
    assert(canon(folded) == canon(whole),
      "batch-folded counters diverged from the whole-stream counters")
  }

  test("quantile sketch == local reference; fold of per-batch samples == " +
      "whole; estimates land in the binomial rank band") {
    val k = 128
    val rnd = new scala.util.Random(19)
    // heavy-tailed values (exponential-ish) over unique keys, 2 groups
    val rows = (0 until 12000).map { i =>
      ("g" + (i % 2), "k" + i,
        math.floor(-40000.0 * math.log(1.0 - rnd.nextDouble())).toLong)
    }
    val df = rows.toDF("g", "key", "v")
    val out = SketchOps.quantileEstimate(
        SketchOps.quantileSample(df, "g", "key", col("v"), k), Seq(50, 90))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // driver-side reference: bottom-k by mixed hash, same index math
    def refQ(vs: Seq[Long], q: Int): Long =
      vs.sorted.apply(((vs.size - 1).toLong * q / 100).toInt)
    for (g <- Seq("g0", "g1")) {
      val grp = rows.filter(_._1 == g)
      val samp = grp.map { case (_, key, v) => (mixed63(key), v) }
        .sorted.take(k).map(_._2)
      val (n, e50, e90) = out(g)
      assert(n == k)
      assert(e50 == refQ(samp, 50) && e90 == refQ(samp, 90),
        s"$g diverged from the reference sample quantiles")
      // accuracy: the estimate's TRUE rank within q ± 4.5 binomial σ
      val all = grp.map(_._3).sorted
      def rankOf(v: Long): Double =
        100.0 * all.count(_ <= v) / all.size
      for ((q, est) <- Seq(50 -> e50, 90 -> e90)) {
        val sigma = math.sqrt(q * (100.0 - q) / k)
        assert(math.abs(rankOf(est) - q) <= 4.5 * sigma,
          s"$g q$q estimate at rank ${rankOf(est)} — outside the band")
      }
    }
    // fold property: merging per-batch samples == sampling the whole
    def canon(x: org.apache.spark.sql.DataFrame): Seq[String] =
      x.collect().map(_.toString).toSeq.sorted
    val parts = rows.grouped(5000).map(_.toDF("g", "key", "v")).toSeq
    val folded = SketchOps.quantileEstimate(
      parts.map(p => SketchOps.quantileSample(p, "g", "key", col("v"), k))
        .reduce((a, b) => SketchOps.quantileMerge(a, b, k).localCheckpoint()),
      Seq(50, 90))
    val whole = SketchOps.quantileEstimate(
      SketchOps.quantileSample(df, "g", "key", col("v"), k), Seq(50, 90))
    assert(canon(folded) == canon(whole),
      "batch-folded sample diverged from the whole-stream sample")
  }

  test("degenerate inputs: empty streams and singleton groups neither " +
      "crash nor fabricate rows") {
    val empty = Seq.empty[(String, String)].toDF("g", "term")
    // KMV on empty: per-group tier empty; the merged row degrades to
    // an empty sketch (k_used 0 -> estimate 0)
    val kmv = SketchOps.kmvDistinct(empty, "g", "term", 8).collect()
    assert(kmv.length == 1 && kmv.head.getString(0) == "__merged__" &&
      kmv.head.getLong(kmv.head.fieldIndex("kmv_est")) == 0L)
    // CMS on empty: no counters, no candidates, no output
    assert(SketchOps.cmsHeavyHitters(empty, "term", 2, 8, 5).isEmpty)
    // quantile of a singleton group: every q is the one value
    val one = Seq(("g", "k1", 42L)).toDF("g", "key", "v")
    val q = SketchOps.quantileEstimate(
      SketchOps.quantileSample(one, "g", "key", col("v"), 8), Seq(0, 50, 100))
      .collect().head
    assert((1 to 3).map(i => q.getLong(i + 1)).forall(_ == 42L) &&
      q.getLong(1) == 1L)
  }

  test("kmvSetOps == local reference (pairwise union sketch, ρ-scaled " +
      "intersection/difference), exact passthrough below k, soundness " +
      "bound holds") {
    val k = 32
    val rnd = new scala.util.Random(13)
    // engineered overlap: s0/s1 share half their key range, s2 is
    // disjoint from both; plus two tiny sources below k with a known
    // 5-key intersection (exact-passthrough branch)
    val rows = (0 until 4000).map { _ =>
      rnd.nextInt(3) match {
        case 0 => ("s0", "u" + rnd.nextInt(300))
        case 1 => ("s1", "u" + (150 + rnd.nextInt(300)))
        case _ => ("s2", "u" + (5000 + rnd.nextInt(300)))
      }
    } ++ (0 until 30).map(i => ("tinyA", "t" + (i % 10))) ++
      (0 until 30).map(i => ("tinyB", "t" + (i % 10 + 5)))
    val out = SketchOps.kmvSetOpsWithExact(
        rows.toDF("g", "term"), "g", "term", k)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (2 until 13).map(i => r.getLong(i)).toVector).toMap

    val sets: Map[String, Set[Long]] = rows.groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(r => mixed63(r._2)).toSet }
    def ref(a: Set[Long], b: Set[Long]): Vector[Long] = {
      val la = a.toSeq.sorted.take(k)
      val lb = b.toSeq.sorted.take(k)
      val union = (la.toSet ++ lb.toSet).toSeq.sorted.take(k)
      val kUsed = union.size.toLong
      val hk = union.last
      val inter = union.count(h => la.contains(h) && lb.contains(h)).toLong
      val aOnly = union.count(h => la.contains(h) && !lb.contains(h)).toLong
      val bOnly = union.count(h => !la.contains(h) && lb.contains(h)).toLong
      val uEst = if (kUsed < k) kUsed
        else (Long.MaxValue / math.max(hk, 1L)) * (k - 1)
      def scale(c: Long) = if (kUsed < k) c else (uEst / k) * c
      Vector(kUsed, hk, inter, aOnly, bOnly, uEst,
        scale(inter), scale(aOnly), scale(bOnly),
        (a ++ b).size.toLong, a.intersect(b).size.toLong)
    }
    val srcs = sets.keys.toSeq.sorted
    for (Seq(a, b) <- srcs.combinations(2)) {
      assert(out((a, b)) == ref(sets(a), sets(b)),
        s"pair ($a,$b) diverged from the reference")
    }
    // exact passthrough: tiny pair's estimates ARE the exact answers
    val tiny = out(("tinyA", "tinyB"))
    assert(tiny(6) == 5L && tiny(10) == 5L,
      "below-k pair must pass the exact 5-key intersection through")
    assert(tiny(5) == 15L && tiny(9) == 15L)
    // estimator sanity on the engineered-overlap full-sketch pair:
    // within 5 binomial sigma of the truth (ρ has sd √(ρ(1-ρ)/k))
    val s01 = out(("s0", "s1"))
    val exactInter = s01(10).toDouble
    val exactUnion = s01(9).toDouble
    val rho = exactInter / exactUnion
    val sigma = math.sqrt(rho * (1 - rho) / k) * s01(5) // scaled by union_est
    assert(math.abs(s01(6) - exactInter) <=
      5 * sigma + math.abs(s01(5) - exactUnion) * rho + k,
      s"intersection estimate ${s01(6)} too far from $exactInter")
  }

  test("quantile sample frames are SETS: duplicate (group, key, value) " +
      "input rows leave merge(sample(A), sample(B)) == sample(A ∪ B)") {
    // k small enough that the sample boundary is contested, with
    // heavy duplication on both sides of the split — the regime the
    // pre-fix asymmetry (merge deduped, sample didn't) broke in
    val k = 8
    val rnd = new scala.util.Random(41)
    val rows = (0 until 400).map { _ =>
      val i = rnd.nextInt(30) // 30 distinct keys, ~13x duplication
      ("g" + (i % 2), "k" + i, (i * 7).toLong)
    }
    val df = rows.toDF("g", "key", "v")
    val parts = Seq(df.filter(col("v") % 3 === 0),
      df.filter(col("v") % 3 =!= 0))
    val folded = parts
      .map(p => SketchOps.quantileSample(p, "g", "key", col("v"), k))
      .reduce((a, b) => SketchOps.quantileMerge(a, b, k))
      .orderBy("source", "h", "v").collect().toSeq
    val whole = SketchOps.quantileSample(df, "g", "key", col("v"), k)
      .orderBy("source", "h", "v").collect().toSeq
    assert(folded == whole,
      "fold over duplicated input != whole-stream sample")
    // and the frame really is a set: no (source, h, v) appears twice
    assert(whole.distinct.size == whole.size)
  }

  test("cmsJoinSize == local reference inner-product estimator; " +
      "NEVER underestimates the true join size; collisions overshoot") {
    val (depth, width) = (3, 32) // small width -> real collision mass
    val rnd = new scala.util.Random(29)
    // zipf-ish multiplicities on overlapping key ranges
    val aKeys = (0 until 3000).map(_ => "k" + (rnd.nextInt(80) * rnd.nextInt(3)))
    val bKeys = (0 until 2000).map(_ => "k" + (40 + rnd.nextInt(80)))
    val est = SketchOps.cmsJoinSize(
        SketchOps.cmsCounters(aKeys.toDF("term"), "term", depth, width),
        SketchOps.cmsCounters(bKeys.toDF("term"), "term", depth, width),
        depth)
      .head.getLong(0)
    // reference: counters + min-of-inner-products recomputed driver-side
    def counters(keys: Seq[String]): Map[(Int, Long), Long] =
      keys.flatMap(t => (0 until depth).map(i =>
        (i, h63(i.toString + t) % width))).groupBy(identity)
        .map { case (c, xs) => c -> xs.length.toLong }
    val (ca, cb) = (counters(aKeys), counters(bKeys))
    val refEst = (0 until depth).map { i =>
      (0L until width).map(b =>
        ca.getOrElse((i, b), 0L) * cb.getOrElse((i, b), 0L)).sum
    }.min
    assert(est == refEst, s"estimate $est != reference $refEst")
    // true join size = sum over keys of fA(k)*fB(k)
    val fa = aKeys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val fb = bKeys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val exact = fa.map { case (k, c) => c * fb.getOrElse(k, 0L) }.sum
    assert(est >= exact, "CMS join-size must never underestimate")
    assert(est > exact, "at 120 keys over 32 buckets collisions MUST " +
      "overshoot, or the property isn't exercised")
    // disjoint key sets: overshoot only (and zero when nothing collides
    // across a wide sketch)
    val dis = SketchOps.cmsJoinSize(
        SketchOps.cmsCounters(Seq("x1", "x2").toDF("term"), "term", 3, 4096),
        SketchOps.cmsCounters(Seq("y1", "y2").toDF("term"), "term", 3, 4096),
        3).head.getLong(0)
    assert(dis >= 0L && dis <= 4L)
  }

  test("cmsProbe on a never-counted key returns the zero estimate " +
      "instead of dropping the candidate") {
    val (depth, width) = (2, 16)
    val counters = SketchOps.cmsCounters(
      Seq("a", "a", "b").toDF("term"), "term", depth, width)
    val candidates = Seq(("a", 2L), ("ghost", 0L))
      .toDF("term", "exact_tf")
    val out = SketchOps.cmsProbe(counters, candidates, depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out.keySet == Set("a", "ghost"),
      "probe must return every candidate")
    assert(out("a") >= 2L, "CMS never underestimates")
    // ghost hashed into cells that MAY collide with a/b's — the
    // estimate is the min over its depth cells, treating empty cells
    // as 0; with depth 2 over width 16 and only 2 counted keys, at
    // least one of ghost's cells is overwhelmingly likely empty, but
    // the hard guarantee is only non-negativity + no drop
    assert(out("ghost") >= 0L)
  }

  test("windowed KMV: per-window sketches == per-window local reference; " +
      "merging every window's sketch reproduces the GLOBAL sketch; " +
      "watermark eviction keeps state at open-windows x k and " +
      "emitted + open == the batch windowed form") {
    val win = 100L
    val k = 4
    // 3 windows x 1 group, enough distinct keys per window to overflow k
    val rows = (0 until 300).map(i =>
      (i.toLong, "g", s"u${i % 250}")) // ts 0..299 -> windows 0,100,200
    val df = rows.toDF("ts", "g", "term")
      .withColumn("wsrc",
        SketchOps.windowedKey(col("ts"), win, col("g")))
    val windowed = SketchOps.kmvKmin(df, "wsrc", "term", k)
    // per-window state bound: exactly k rows per (window, group)
    val perWin = windowed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perWin.keySet == Set("0|g", "100|g", "200|g"))
    assert(perWin.values.forall(_ == k.toLong))
    // rollup identity: k smallest of the union of window sketches ==
    // the global sketch over the raw stream
    val global = SketchOps.kmvKmin(
        df.withColumn("all", lit("all")), "all", "term", k)
      .select("h").collect().map(_.getLong(0)).toSet
    val rolled = windowed.select("h").distinct()
      .orderBy("h").limit(k).collect().map(_.getLong(0)).toSet
    assert(rolled == global, "window sketches must roll up to the global")
    // streaming fold with watermark eviction: batches arrive in time
    // order; windows whose end passed the max-ts watermark close and
    // leave the carried state
    val batches = rows.grouped(120).toSeq // 3 uneven batches
    var open = Seq.empty[(String, Long)] // (source, h)
    var emitted = Seq.empty[(String, Long)]
    var wm = Long.MinValue
    for (b <- batches) {
      val bdf = b.toDF("ts", "g", "term").withColumn("wsrc",
        SketchOps.windowedKey(col("ts"), win, col("g")))
      val bk = SketchOps.kmvKmin(bdf, "wsrc", "term", k)
      val merged = SketchOps.kmvMerge(
        open.toDF("source", "h"), bk, k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      wm = math.max(wm, b.map(_._1).max)
      def ws(s: String) = s.split("\\|")(0).toLong
      val (cl, op) = merged.partition { case (s, _) => ws(s) + win <= wm }
      emitted ++= cl
      open = op
      // the state bound the scenario row claims: open windows x k
      val openWindows = open.map(_._1).distinct.size
      assert(open.size <= openWindows * k)
      // eviction really happens: once the watermark passes a window
      // it is no longer carried
      assert(open.forall { case (s, _) => ws(s) + win > wm })
    }
    val streamAll = (emitted ++ open).toDF("source", "h")
    val batchAll = windowed.select("source", "h")
    assert(streamAll.collect().map(_.toSeq).toSet ==
      batchAll.collect().map(_.toSeq).toSet,
      "evicted+open stream state must equal the batch windowed sketch")
    // each closed window was emitted exactly once
    assert(emitted.map(_._1).distinct.size == 2)
    // splitWindowedKey recovers (window_start, group), merged row
    // keeps a null window
    val split = SketchOps.splitWindowedKey(
      SketchOps.kmvEstimate(windowed, k))
    val got = split.select("window_start", "source").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
      .toSet
    assert(got == Set((0L, "g"), (100L, "g"), (200L, "g"),
      (-1L, "__merged__")))
  }

  test("streaming profiler: per-batch hist and sample folds track the " +
      "whole prefix; the folded state finalizes to the batch-built " +
      "profile and stats artifact") {
    val k = 128
    val evRaw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val qv = floor(col("value") * 1000).cast("long")
    val cols = Seq(
      ("user_id", col("user_id"), Some(col("user_id"))),
      ("event_type", col("event_type"), None),
      ("value", qv, Some(qv)))
    val ev = evRaw.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"),
      Queries.eventSeconds(evRaw.schema("ts").dataType).as("ts"))
    def frames(df: org.apache.spark.sql.DataFrame) =
      SketchOps.profileFrames(df, col("event_id"), cols)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    val watch = java.nio.file.Files.createTempDirectory("profile_stream")
      .toString
    try {
      graft.sources.Staging.stageSlices(ev, "ts", 3, watch)
      val slices = new java.io.File(watch).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => spark.read.parquet(f.toString))
      assert(slices.length == 3)
      var hist: Option[org.apache.spark.sql.DataFrame] = None
      var samp: Option[org.apache.spark.sql.DataFrame] = None
      for (i <- 1 to slices.length) {
        val (tall, h) = frames(slices(i - 1))
        val s = SketchOps.profileSample(tall, k)
        hist = Some(hist.map(SketchOps.histMerge(_, h)).getOrElse(h)
          .localCheckpoint())
        samp = Some(samp.map(SketchOps.quantileMerge(_, s, k)).getOrElse(s)
          .localCheckpoint())
        // the hist state is cardinality-sized: one row per distinct
        // (column, value) of the whole prefix, never stream-sized
        val state = canon(hist.get)
        val prefix = canon(frames(slices.take(i).reduce(_ unionByName _))._2)
        assert(state.size == prefix.size,
          s"batch ${i - 1}: hist state ${state.size} rows != prefix " +
            s"cardinality ${prefix.size}")
        assert(state == prefix, s"batch ${i - 1}: hist state != whole-prefix hist")
        // bottom-k per numeric column (user_id, value)
        assert(samp.get.count() <= 2L * k,
          s"batch ${i - 1}: sample state exceeds 2k rows")
      }
      assert(canon(SketchOps.profileFromState(hist.get, samp.get, k, 4, 1024, 3)) ==
        canon(SketchOps.profileTable(ev, col("event_id"), cols, k)),
        "stream-folded profile != batch-built profile")
      val streamStats = SketchOps.tableStatsFromHist(hist.get)
      val batchStats = SketchOps.tableStats(ev, col("event_id"), cols)
      assert(canon(streamStats.cols) == canon(batchStats.cols),
        "stream-folded stats artifact (cols) != batch-built")
      assert(canon(streamStats.counters) == canon(batchStats.counters),
        "stream-folded stats artifact (counters) != batch-built")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(watch))
  }

  test("null keys are dropped by both sketches (a null hash would sort " +
      "first in Spark's window but last in DuckDB's)") {
    val df = Seq(Some("a"), Some("b"), None, Some("a"), None)
      .toDF("term").withColumn("g", lit("g"))
    val kmv = SketchOps.kmvDistinct(df, "g", "term", 8)
      .filter(col("source") === "g").collect().head
    assert(kmv.getLong(kmv.fieldIndex("n_exact")) == 2L)
    val cms = SketchOps.cmsHeavyHitters(df, "term", 2, 16, 10).collect()
    assert(cms.map(_.getString(0)).toSet == Set("a", "b"))
    assert(cms.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 2L, "b" -> 1L))
  }
}
