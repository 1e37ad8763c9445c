package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Enforced plan-shape invariants — the properties the per-round plan
  * audits check by hand, pinned as tests so a regression fails `sbt
  * test` instead of waiting for a bench diff:
  *
  *   - block/trace JSON decode parses each payload exactly ONCE
  *     (predicate pushdown through the parse projection used to clone
  *     the interpreted from_json per referenced field — a 4× decode);
  *   - IVF cell assignment never shuffles the corpus (the ×nlist
  *     explode + Window form was the one scale-killer left in r5) and
  *     centroid selection stays a distributed partial top-k;
  *   - the LSH near-dup candidate join is never a cartesian product;
  *   - the fused commit keeps its single data shuffle.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllIn(hay).size

  // parquet-backed input: a local literal relation constant-folds the
  // whole parse away and the count would trivially pass at 0
  test("decodeBlocks parses each payload exactly once") {
    val raw = graft.sources.SyntheticTraces.blocksBronze(spark, dir).select("value")
    val p = plan(graft.sources.Ingest.decodeBlocks(raw, chainId = 1))
    assert(count(p, "from_json") == 1,
      s"decode must parse once, found ${count(p, "from_json")} parses:\n$p")
  }

  test("decodeTraces good leg parses each payload exactly once") {
    val raw = graft.sources.SyntheticTraces.blocksBronze(spark, dir).select("value")
    val (good, _) = graft.sources.Ingest.decodeTraces(raw, chainId = 1)
    val p = plan(good)
    assert(count(p, "from_json") == 1,
      s"decode must parse once, found ${count(p, "from_json")} parses:\n$p")
  }

  test("IVF: corpus never shuffles for cell assignment; partial top-k centroids") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val out = graft.llm.SimilarityOps.ivfTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3)
    val p = plan(out)
    // the ONLY hash exchange is the final per-query top-k window;
    // assignment rides the broadcast nested-loop join of the single
    // centroid-array row
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"IVF must not shuffle for assignment:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), "centroid array must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "centroid selection must stay a distributed partial top-k (not a global sort)")
  }

  test("PQ: encode/table ride the broadcast codebook row; only the rank window shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.llm.SimilarityOps.pqTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3))
    assert(!p.contains("CartesianProduct"), s"PQ scoring went cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), "codebook array must broadcast")
    // corpus encode is ONE kernel projection (an exploded ×ksub form
    // would clone it), and the only hash exchange in the whole plan is
    // the final per-query rank window — scan → encode → score is
    // projection-only
    assert(count(p, "pq_encode") == 1,
      s"corpus must encode once, found ${count(p, "pq_encode")}:\n$p")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"PQ must not shuffle outside the rank window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "codebook selection must stay a distributed partial top-k")
  }

  test("IVF-PQ: zero-shuffle index build; exchanges only at cell join + rank window") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.llm.SimilarityOps.ivfPqTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3))
    assert(!p.contains("CartesianProduct"), s"IVF-PQ went cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "quantizer+codebook lookup row must broadcast")
    // (cell, codes) index build and the probe (cell, tbl) build are
    // single kernel projections each — one pq_encode, one pq_table
    assert(count(p, "pq_encode") == 1 && count(p, "pq_table") == 1,
      s"index/probe builds must be single projections:\n$p")
    // hash exchanges: at most the un-estimable probe side's cell-join
    // fallback (2 sides; AQE converts back to broadcast at runtime —
    // see the gate note in ivfPqTopK) + the final rank window
    assert(count(p, "Exchange hashpartitioning") <= 3,
      s"IVF-PQ grew an extra shuffle:\n$p")
  }

  test("residual IVF-PQ keeps the exact same exchange budget as raw IVF-PQ") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.llm.SimilarityOps.ivfPqTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3,
      residual = true))
    assert(!p.contains("CartesianProduct"), s"residual IVF-PQ went cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "quantizer+codebook lookup row must broadcast")
    // residual encoding changes WHAT is encoded, not the plan shape:
    // still one encode and one table projection (per-cell tables ride
    // the explode, they don't clone the kernel), same exchange budget
    assert(count(p, "pq_encode") == 1 && count(p, "pq_table") == 1,
      s"index/probe builds must stay single projections:\n$p")
    assert(count(p, "Exchange hashpartitioning") <= 3,
      s"residual IVF-PQ grew an extra shuffle:\n$p")
  }

  test("rerank tier: refine is join-free (carried vectors) and adds " +
      "NO exchange — the exact window reuses the ADC window's " +
      "partitioning") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.llm.SimilarityOps.ivfPqRerankTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3))
    assert(!p.contains("CartesianProduct"), s"rerank refine went cartesian:\n$p")
    // r17: the candidate rows CARRY the full-width vectors through the
    // ADC stage, so the refine is a projection + re-rank — no join
    // back to either table at all
    assert(count(p, "pq_encode") == 1 && count(p, "pq_table") == 1,
      s"rerank must reuse the single encode/table projections:\n$p")
    // both rank windows cluster on query_id, so the exact-score window
    // is exchange-free on top of the ADC window's partitioning: the
    // whole entry keeps the inner IVF-PQ's static budget (the ADC rank
    // window + the cell join's static SMJ pair that AQE's runtime join
    // selection converts to broadcast — the documented BNL-estimate
    // story) and the refine adds ZERO
    assert(count(p, "Exchange hashpartitioning") <= 3,
      s"rerank refine grew an extra shuffle:\n$p")
    assert(count(p, "windowspecdefinition") == 2,
      s"expected the ADC rank + exact rank windows only:\n$p")
  }

  test("cluster sample: zero-shuffle assignment; only the cell window shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.llm.SimilarityOps.clusterSample(emb, "vec_id", "embedding", 5))
    // assignment rides the broadcast centroid-array row (no ×nlist
    // explode, no corpus shuffle); the ONLY hash exchange is the
    // per-cell quota window
    assert(p.contains("BroadcastNestedLoopJoin"), "centroid array must broadcast")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"cluster sample must shuffle only at the cell window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "centroid selection must stay a distributed partial top-k")
  }

  test("bloom: bit set broadcasts to the probe; probe never shuffles before its agg") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").withColumn("fp",
      graft.functions.LlmFunctions.fingerprint64(col("text")))
    val p = plan(graft.llm.PipelineOps.bloomMembership(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "fp"))
    // the probe side meets the (≤ numBits row) bit set through a
    // broadcast hash join — a corpus-sized shuffle join here is the
    // scale failure this operator exists to avoid
    assert(p.contains("BroadcastHashJoin"), s"bit set must broadcast:\n$p")
    // exchanges: the bits distinct (bounded by numBits) + the per-doc
    // n_hit agg — never a third, probe-corpus-sized one
    assert(count(p, "Exchange hashpartitioning") <= 2,
      s"unexpected extra shuffle in bloom plan:\n$p")
  }

  test("LSH candidate generation is a bucket equi-join, never cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.DedupOps.minhashCandidates(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"candidate join went cartesian:\n$p")
    val p2 = plan(graft.llm.DedupOps.simhashPairs(docs, "doc_id", "text", 3))
    assert(!p2.contains("CartesianProduct"), s"simhash pair join went cartesian:\n$p2")
  }

  test("bm25/tfidf: no token-stream shuffle-aggregate — tf comes from the " +
      "per-doc kernel; only vocab- and doc-sized rows shuffle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (df <- Seq(
        graft.llm.TextOps.bm25TopK(docs, "doc_id", "text"),
        graft.llm.TextOps.tfidfTopK(docs, "doc_id", "text"))) {
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      assert(p.contains("isFinalPlan=true"), s"expected executed adaptive plan:\n$p")
      // tf is produced by the per-document token_tf kernel — there
      // must be NO (doc, term) hash-aggregate anywhere (the r11 shape
      // aggregated the exploded token stream, twice)
      assert(p.contains("token_tf"), s"tf must come from the kernel:\n$p")
      assert(!p.matches("(?s).*HashAggregate\\(keys=\\[doc_id[^,\\]]*, term.*"),
        s"token stream must never be shuffle-aggregated:\n$p")
      // the kernel runs once per consumer branch (tf + df_t) — bounded
      // per-doc work, NOT a token-stream recompute; anything beyond 2
      // means a new consumer silently re-derives it
      assert(count(p, "Generate ") <= 2,
        s"unexpected extra tf derivations, found ${count(p, "Generate ")}:\n$p")
      // shuffles: vocab aggregate + the final per-doc window (+1 AQE
      // margin); the tf table itself must not add term-keyed shuffles
      assert(count(p, "Exchange hashpartitioning") <= 3,
        s"tf table should not shuffle:\n$p")
      // exactly one window pass (top-k rank) — bm25's dl is arithmetic
      // per-row now, not a second window
      assert(count(p, "Window \\[") <= 1, s"unexpected extra window pass:\n$p")
    }
  }

  test("triangles: the apex exchange is computed once and reused; the " +
      "closing semi-join broadcasts below the gate") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // force the DISTRIBUTED path — this test pins ITS shape (the r13
    // single-task kernel below the size gate has no exchanges at all;
    // kernel == distributed is pinned in GraphOpsSpec)
    val df = graft.operators.GraphOps.triangleCounts(
      li.select(col("l_suppkey").as("src"), col("l_partkey").as("dst")),
      "src", "dst", materializeAboveBytes = 0L)
    // the static plan prints the orientation subtree once per consumer
    // (wedge e1/e2 + closing); the invariant lives in the FINAL
    // adaptive plan, where stage reuse must collapse the copies
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("isFinalPlan=true"), s"expected executed adaptive plan:\n$p")
    assert(p.contains("ReusedExchange"),
      s"wedge/closing consumers must reuse the apex exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"triangle join went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("LeftSemi"),
      s"closing edge set must semi-join, broadcast below the gate:\n$p")
  }

  test("dup spans: shingles are codegen'd fingerprints, never built strings") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.DedupOps.dupSpanStats(docs, "doc_id", "text"))
    assert(p.contains("token_ngram_fps"),
      s"shingle pass must ride the kernel:\n$p")
    // the interpreted transform/slice/concat_ws shingle builder was the
    // dominant cost (2.7× wall at 100×) — it must never come back
    assert(count(p, "concat_ws") == 0,
      s"shingle strings must never be materialized:\n$p")
    assert(!p.contains("CartesianProduct"), s"span join went cartesian:\n$p")
  }

  test("line dedup: document text never aggregates — only positions do") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.DedupOps.lineDedup(docs, "doc_id", "text"))
    assert(count(p, "collect_list\\(line") == 0,
      s"line text must stay off the wire (rebuild from the doc row):\n$p")
    assert(count(p, "collect_list\\(pos") >= 1,
      s"dup positions are the only per-doc aggregate:\n$p")
    // frequency agg keys on the 8-byte xxhash, not the line string
    assert(p.contains("xxhash64"), s"line-frequency agg must key on xxhash64:\n$p")
  }

  test("temperature mix: corpus-sized rows cross only the prefix-cut window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.PipelineOps.temperatureMix(
      docs, "doc_id", "text", "source", 1000L))
    // exchanges: the per-source token aggregate (rows = #sources, both
    // partial-agg legs) and the per-source window — the Σw scalar and
    // the budget table ride broadcasts, never a corpus shuffle
    assert(count(p, "Exchange hashpartitioning") <= 3,
      s"unexpected extra shuffle in temperature-mix plan:\n$p")
    assert(count(p, "BroadcastExchange") >= 1,
      s"budget legs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"budget join went cartesian:\n$p")
  }

  test("shard plan: exactly the one per-source window exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.PipelineOps.shardPlan(
      docs, "doc_id", "text", "source", 2000L))
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"shard planning is one window pass, found more:\n$p")
  }

  test("fused commit: one data shuffle, no cartesian") {
    val traces = graft.sources.SyntheticTraces.bronze(spark, dir)
    val commits = graft.operators.TraceEtl.commitTraces(
      graft.operators.TraceEtl.normalize(traces))
    val p = plan(commits.toDF())
    assert(!p.contains("CartesianProduct"), s"commit plan went cartesian:\n$p")
    // the J1 prune's window exchange on the transaction key is the
    // aggregation's too: one exchange, no broadcast key set
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"commit must keep its single data shuffle:\n$p")
    assert(!p.contains("BroadcastExchange"), s"commit plan broadcasts:\n$p")
  }

  test("bm25/tfidf vocab-broadcast gate: hinted and gate-off (shuffled) " +
      "paths return identical results") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).toSet
    val hinted = (rows(graft.llm.TextOps.bm25TopK(docs, "doc_id", "text")),
      rows(graft.llm.TextOps.tfidfTopK(docs, "doc_id", "text")))
    try {
      // threshold -1: inputFitsBroadcast refuses the hint AND AQE
      // cannot convert — the genuinely shuffled web-scale-vocab path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val off = (rows(graft.llm.TextOps.bm25TopK(docs, "doc_id", "text")),
        rows(graft.llm.TextOps.tfidfTopK(docs, "doc_id", "text")))
      assert(off._1 == hinted._1, "bm25 gate paths diverge")
      assert(off._2 == hinted._2, "tfidf gate paths diverge")
      assert(hinted._1.nonEmpty && hinted._2.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("filtered ANN: a scan-pushable attribute predicate reaches the " +
      "parquet scan's PushedFilters on both gate branches — the operator " +
      "never blocks pushdown behind its own plan") {
    import graft.llm.SimilarityOps
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    // a Parquet-pushable comparison (the catalog entry's `% 4` form
    // is inherently not source-pushable — it still evaluates
    // scan-adjacent, but PushedFilters can only carry raw-column
    // comparisons, so the pin uses one)
    val pred = col("label") > 3
    val brute = plan(SimilarityOps.filteredTopK(emb, queries, "vec_id",
      "embedding", 3, pred, bruteGateRows = 1000000L))
    val ivf = plan(SimilarityOps.filteredTopK(emb, queries, "vec_id",
      "embedding", 3, pred, nlist = 4, nprobe = 2, bruteGateRows = 0L))
    for ((p, name) <- Seq(brute -> "brute", ivf -> "ivf"))
      assert(p.contains("GreaterThan(label,3)"),
        s"$name branch: label predicate not pushed to the scan:\n${p.take(2000)}")
  }

  test("skew-gate probe map-combines: the hot key collapses to one " +
      "partial per partition BEFORE the shuffle") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val probe = li.filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
      .agg(max("cnt").as("mx"), sum("cnt").as("n"))
    val p = plan(probe)
    val firstExchange = p.indexOf("Exchange")
    val firstPartial = p.indexOf("partial_count")
    assert(firstPartial >= 0 && firstExchange >= 0 &&
      firstPartial > firstExchange,
      // executedPlan prints top-down: the FINAL agg comes first, the
      // partial agg (below the exchange) after it — so the partial
      // must appear AFTER the exchange in the string, meaning it sits
      // BELOW it in the tree
      s"probe must partial-aggregate below its exchange:\n${p.take(1500)}")
  }

  test("table profiler is ONE data pass: the source is scanned only " +
      "into the checkpointed projection, never by the consumers") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val qv = floor(col("value") * 1000).cast("long")
    val prof = graft.llm.SketchOps.profileTable(ev, col("event_id"),
      Seq(("user_id", col("user_id"), Some(col("user_id"))),
        ("event_type", col("event_type"), None),
        ("value", qv, Some(qv))))
    // building the profile localCheckpoints the stacked projection —
    // the ONE scan; the assembled plan must read only checkpoints
    val p = plan(prof)
    assert(count(p, "Scan parquet") == 0 && count(p, "FileScan") == 0,
      s"profiler consumers must not rescan the source:\n${p.take(2000)}")
    assert(p.contains("Scan ExistingRDD"),
      "profiler consumers must read the checkpointed projection")
    // and the output is one row per profiled column
    assert(prof.count() == 3L)
  }

  test("j3 second-degree: the single-key membership join adds NO exchange " +
      "beyond the staged caches") {
    Queries.stageAll(spark, dir)
    val df = SparkEntry.queries("q_j3_second_degree")(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the staged caches' own exchanges print as REPARTITION_BY_NUM
    // (explicit repartition at staging); an exchange the QUERY itself
    // required would print ENSURE_REQUIREMENTS — there must be none:
    // join, distinct and aggregate all ride the cached hash(ok)
    assert(!p.contains("ENSURE_REQUIREMENTS"),
      s"j3 must ride the cached hash(ok) partitioning exchange-free:\n$p")
  }

}
