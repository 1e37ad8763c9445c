package graft

import graft.llm.{Quantizers, SimilarityOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The train-once / serve-many seam: trained model frames persisted
  * with [[Quantizers.saveModel]] and loaded back must serve results
  * IDENTICAL to the in-session frames — floats round-trip bit-exactly
  * through parquet, and the serving kernels are deterministic in the
  * model values.
  */
class ModelSeamSpec extends SparkSpec {

  private def emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def queries: DataFrame =
    emb.filter(col("vec_id") % 97 === 0).select("vec_id", "embedding")

  private def roundTrip(model: DataFrame, name: String): DataFrame = {
    val path = graft.sources.Staging.sessionTempDir(s"graft_model_$name")
    Quantizers.saveModel(model, path)
    Quantizers.loadModel(spark, path)
  }

  test("IVF centroids: save -> load -> serve == serve from the in-session frame") {
    val cents = Quantizers.trainIvfCentroids(emb, "vec_id", "embedding", k = 8,
      iters = 2, trainSize = 256)
    val loaded = roundTrip(cents, "ivf")
    // the model file is one parquet part (coalesce(1) layout)
    assert(loaded.schema.fieldNames.toSet == Set("cell", "centroid"))
    val direct = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 3, centroids = Some(cents))
      .collect().map(_.toSeq).toSet
    val served = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 3, centroids = Some(loaded))
      .collect().map(_.toSeq).toSet
    assert(direct == served)
    assert(direct.nonEmpty)
  }

  test("IVF INDEX: serving from the persisted two-part index == " +
      "in-session build+serve == ivfTopK") {
    val ix = SimilarityOps.buildIvfIndex(emb, "vec_id", "embedding",
      nlist = 8)
    val path = graft.sources.Staging.sessionTempDir("graft_ivf_index")
    SimilarityOps.saveAnnIndex(ix, path)
    val loaded = SimilarityOps.loadAnnIndex(spark, path)
    def serve(i: SimilarityOps.AnnIndex) =
      SimilarityOps.ivfServeTopK(i, queries, "vec_id", "embedding",
        k = 5, nprobe = 3).collect().map(_.toSeq).toSet
    val direct = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3).collect().map(_.toSeq).toSet
    assert(serve(ix) == direct, "in-session serve != ivfTopK")
    assert(serve(loaded) == direct, "persisted-index serve != ivfTopK")
    assert(direct.nonEmpty)
    // the two-part layout is what landed on disk
    assert(new java.io.File(s"$path/centroids/_SUCCESS").isFile)
    assert(new java.io.File(s"$path/assign/_SUCCESS").isFile)
    assert(new java.io.File(s"$path/_SUCCESS").isFile)
  }

  test("INCREMENTAL index update: appending a batch to the persisted " +
      "index == rebuilding with the SAME centroids over the grown " +
      "corpus; update cost is batch-sized (assign/ appends, " +
      "centroids/ immutable)") {
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    val ix = SimilarityOps.buildIvfIndex(base, "vec_id", "embedding",
      nlist = 8)
    val path = graft.sources.Staging.sessionTempDir("graft_ivf_update")
    SimilarityOps.saveAnnIndex(ix, path)
    val centFiles = new java.io.File(s"$path/centroids").listFiles().toSet
    val assignBefore = new java.io.File(s"$path/assign").listFiles()
      .count(_.getName.endsWith(".parquet"))
    SimilarityOps.appendToAnnIndex(spark, path, batch, "vec_id", "embedding")
    // append-only: centroids untouched, assign/ grew
    assert(new java.io.File(s"$path/centroids").listFiles().toSet ==
      centFiles, "centroids/ must be immutable between rebuilds")
    assert(new java.io.File(s"$path/assign").listFiles()
      .count(_.getName.endsWith(".parquet")) > assignBefore,
      "assign/ must gain the batch's part files")
    def serve(i: SimilarityOps.AnnIndex) =
      SimilarityOps.ivfServeTopK(i, queries, "vec_id", "embedding",
        k = 5, nprobe = 3).collect().map(_.toSeq).toSet
    val updated = serve(SimilarityOps.loadAnnIndex(spark, path))
    // the rebuilt-same-centroids index over the grown corpus
    val rebuilt = serve(SimilarityOps.buildIvfIndex(emb, "vec_id",
      "embedding", nlist = 8, centroids = Some(ix.centroids)))
    assert(updated == rebuilt,
      "serve-after-append must equal serve-over-rebuilt (same centroids)")
    assert(updated.nonEmpty)
  }

  test("DRIFT-GATED update (r17): an i.i.d. batch APPENDS (centroids " +
      "immutable, serve == rebuilt-same-centroids), a planted-drift " +
      "batch flips the gate to REBUILD (fresh centroids, serve == a " +
      "from-scratch build over the grown corpus); the decision " +
      "history persists in drift/") {
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val iidBatch = emb.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding")
    def stage(): String = {
      val path = graft.sources.Staging.sessionTempDir("graft_ivf_gated")
      SimilarityOps.saveAnnIndex(
        SimilarityOps.buildIvfIndex(base, "vec_id", "embedding",
          nlist = 8), path)
      path
    }
    def serve(i: SimilarityOps.AnnIndex) =
      SimilarityOps.ivfServeTopK(i, queries, "vec_id", "embedding",
        k = 5, nprobe = 3).collect().map(_.toSeq).toSet

    // --- i.i.d. regime: gate stays append -------------------------
    val pIid = stage()
    val centFiles = new java.io.File(s"$pIid/centroids").listFiles().toSet
    val dIid = SimilarityOps.annGatedUpdate(spark, pIid, iidBatch,
      "vec_id", "embedding")
    assert(dIid.branch == "append", s"iid branch ${dIid.branch}")
    assert(dIid.maxCellCnt * 2 < dIid.batchRows,
      "iid batch must spread below the half-share gate")
    assert(new java.io.File(s"$pIid/centroids").listFiles().toSet ==
      centFiles, "append must leave centroids/ immutable")
    val baseIx = SimilarityOps.buildIvfIndex(base, "vec_id", "embedding",
      nlist = 8)
    assert(serve(SimilarityOps.loadAnnIndex(spark, pIid)) ==
      serve(SimilarityOps.buildIvfIndex(emb, "vec_id", "embedding",
        nlist = 8, centroids = Some(baseIx.centroids))),
      "gated append must serve like the rebuilt-same-centroids index")

    // --- planted drift: the whole batch carries one donor vector --
    val donor = emb.filter(col("vec_id") === 1)
      .select(col("embedding").as("demb"))
    val driftBatch = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id")).crossJoin(broadcast(donor))
      .select(col("vec_id"), col("demb").as("embedding"))
    val pDrift = stage()
    val dDrift = SimilarityOps.annGatedUpdate(spark, pDrift, driftBatch,
      "vec_id", "embedding")
    assert(dDrift.branch == "rebuild", s"drift branch ${dDrift.branch}")
    assert(dDrift.maxCellCnt == dDrift.batchRows,
      "the planted batch must land in exactly one cell")
    // rebuild == a from-scratch build over the grown (drifted) corpus
    val grown = base.select("vec_id", "embedding").unionByName(driftBatch)
    assert(serve(SimilarityOps.loadAnnIndex(spark, pDrift)) ==
      serve(SimilarityOps.buildIvfIndex(grown, "vec_id", "embedding",
        nlist = 8)),
      "gated rebuild must serve like a fresh build over the grown corpus")
    // the artifact carries its own drift history
    val hist = SimilarityOps.loadAnnDrift(spark, pDrift).collect()
    assert(hist.length == 1 && hist.head.getString(0) == "rebuild")
    assert(SimilarityOps.loadAnnDrift(spark, pIid).collect()
      .map(_.getString(0)).toSeq == Seq("append"))
  }

  test("IVF-PQ INDEX (r17, seventh seam): build -> save -> load -> " +
      "serve == the fused build+serve, with and without the refine " +
      "tier, raw and residual encodings; meta pins the geometry") {
    val path = graft.sources.Staging.sessionTempDir("graft_pq_index")
    SimilarityOps.saveAnnIndex(
      SimilarityOps.buildPqIndex(emb, "vec_id", "embedding", nlist = 8,
        m = 4, ksub = 8), path)
    val loaded = SimilarityOps.loadAnnIndex(spark, path)
    assert(loaded.nlist == 8 && loaded.m == 4 && loaded.ksub == 8 &&
      !loaded.residual, "meta must round-trip")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // ADC-only serve == the fused ivfPqTopK over the same geometry
    assert(rows(SimilarityOps.ivfPqServeTopK(loaded, queries, "vec_id",
        "embedding", k = 3, nprobe = 3)) ==
      rows(SimilarityOps.ivfPqTopK(emb, queries, "vec_id", "embedding",
        3, nlist = 8, nprobe = 3, m = 4, ksub = 8)),
      "persisted ADC serve must equal the fused build+serve")
    // refine serve == the fused rerank (the carried refine store)
    assert(rows(SimilarityOps.ivfPqServeTopK(loaded, queries, "vec_id",
        "embedding", k = 3, nprobe = 3, rerank = Some(8))) ==
      rows(SimilarityOps.ivfPqRerankTopK(emb, queries, "vec_id",
        "embedding", 3, nlist = 8, nprobe = 3, m = 4, ksub = 8,
        rerank = 8)),
      "persisted refine serve must equal the fused rerank")
    // residual geometry persists and serves identically too
    val pr = graft.sources.Staging.sessionTempDir("graft_pq_index_res")
    SimilarityOps.saveAnnIndex(
      SimilarityOps.buildPqIndex(emb, "vec_id", "embedding", nlist = 8,
        m = 4, ksub = 8, residual = true), pr)
    val lr = SimilarityOps.loadAnnIndex(spark, pr)
    assert(lr.residual, "residual flag must round-trip")
    assert(rows(SimilarityOps.ivfPqServeTopK(lr, queries, "vec_id",
        "embedding", k = 3, nprobe = 3)) ==
      rows(SimilarityOps.ivfPqTopK(emb, queries, "vec_id", "embedding",
        3, nlist = 8, nprobe = 3, m = 4, ksub = 8, residual = true)),
      "persisted residual serve must equal the fused residual form")
  }

  test("filtered serve from the prebuilt index: persisted == in-session; " +
      "nprobe = nlist degenerates to exact brute over the qualifying set") {
    val ix = SimilarityOps.buildIvfIndex(emb, "vec_id",
      "embedding", nlist = 8, attrCols = Seq("label"))
    val path = graft.sources.Staging.sessionTempDir("graft_ivf_fserve")
    SimilarityOps.saveAnnIndex(ix, path)
    val loaded = SimilarityOps.loadAnnIndex(spark, path)
    val pred = col("label") % 3 =!= 0
    val sc = SimilarityOps.quantizedCosineX1e6 _
    def serve(i: SimilarityOps.AnnIndex, np: Int) =
      SimilarityOps.ivfServeFilteredTopK(i, queries, "vec_id",
        "embedding", 5, pred, np, sc).collect().map(_.toSeq).toSet
    assert(serve(loaded, 3) == serve(ix, 3),
      "persisted filtered serve != in-session")
    assert(serve(loaded, 3).nonEmpty)
    // probing every cell = exact brute force over the qualifying set
    val brute = SimilarityOps.bruteForceTopK(emb.filter(pred), queries,
      "vec_id", "embedding", 5, sc).collect().map(_.toSeq).toSet
    assert(serve(loaded, 8) == brute,
      "full-probe filtered serve must equal filtered brute force")
  }

  test("PQ codebook: save -> load -> serve == serve from the in-session frame") {
    val cb = Quantizers.trainPqCodebook(emb, "vec_id", "embedding", m = 4,
      ksub = 8, iters = 2, trainSize = 256)
    val loaded = roundTrip(cb, "pq")
    val direct = SimilarityOps.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 4, ksub = 8, codebook = Some(cb))
      .collect().map(_.toSeq).toSet
    val served = SimilarityOps.pqTopK(emb, queries, "vec_id", "embedding", k = 5,
        m = 4, ksub = 8, codebook = Some(loaded))
      .collect().map(_.toSeq).toSet
    assert(direct == served)
    assert(direct.nonEmpty)
    // order-scrambled model frame serves identically: position is the
    // codeword identity, so the seam canonicalizes by cid
    val scrambled = SimilarityOps.pqTopK(emb, queries, "vec_id", "embedding",
        k = 5, m = 4, ksub = 8,
        codebook = Some(loaded.orderBy(col("cvec").getItem(0))))
      .collect().map(_.toSeq).toSet
    assert(scrambled == direct)
  }

  test("classifier weights: save -> load -> serve == serve from the " +
      "in-session frame") {
    import graft.llm.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("label", (col("doc_id") % 2 === 0).cast("int"))
    val w = TextOps.trainClassifierWeights(docs, "text", "label")
    val loaded = roundTrip(w, "clf")
    assert(loaded.schema.fieldNames.toSet == Set("bucket", "w"))
    val direct = TextOps.hashedLinearScore(docs, "doc_id", "text",
        weights = Some(w)).collect().map(_.toSeq).toSet
    val served = TextOps.hashedLinearScore(docs, "doc_id", "text",
        weights = Some(loaded)).collect().map(_.toSeq).toSet
    assert(direct == served)
    assert(direct.nonEmpty)
    // integer fixed-point weights survive parquet exactly (no floats
    // anywhere in the train -> serve loop)
    val a = w.orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = loaded.orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("incremental-dedup corpus banded projection: persist -> reload -> " +
      "band a new batch == the in-memory path") {
    import graft.llm.DedupOps
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    val proj = DedupOps.bandedProjection(corpus, "doc_id", "text")
    // corpus-sized derived state: plain parquet write (NOT the
    // coalesce(1) model layout), exactly what the catalog entry stages
    val path = graft.sources.Staging.sessionTempDir("graft_bands_seam")
    proj.write.mode("overwrite").parquet(path)
    val fromLoaded = DedupOps.incrementalNearDupPairsPrebanded(
        spark.read.parquet(path), batch, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val inMemory = DedupOps.incrementalNearDupPairs(corpus, batch,
        "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(fromLoaded == inMemory)
    assert(fromLoaded.nonEmpty)
    // append-only contract: appending a NEW baked doc's projection to
    // the persisted state is the same as re-projecting the grown corpus
    val growth = d.filter(col("doc_id") % 2 === 1).limit(1)
    DedupOps.bandedProjection(growth, "doc_id", "text")
      .write.mode("append").parquet(path)
    val appended = DedupOps.incrementalNearDupPairsPrebanded(
        spark.read.parquet(path), batch, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val rebuilt = DedupOps.incrementalNearDupPairs(corpus.unionByName(growth),
        batch, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(appended == rebuilt)
  }

  test("inverted index: persist -> reload -> serve == serve from the " +
      "in-session frame; AND/OR semantics hold") {
    import graft.llm.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val idx = TextOps.invertedIndex(docs, "doc_id", "text", postingsCap = 64)
    val path = graft.sources.Staging.sessionTempDir("graft_invidx_seam")
    TextOps.saveIndex(idx, path)
    val loaded = TextOps.loadIndex(spark, path)
    val terms = Seq("scan", "sort", "join")
    val direct = TextOps.indexServe(idx, terms)
      .collect().map(_.toSeq).toSet
    val served = TextOps.indexServe(loaded, terms)
      .collect().map(_.toSeq).toSet
    assert(direct == served)
    assert(direct.nonEmpty)
    // AND rows are exactly the n_terms == |terms| subset; every row
    // matches at least one term (the OR set)
    val rows = TextOps.indexServe(loaded, terms)
      .select("n_terms", "and_match").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.forall { case (n, a) => (a == 1) == (n == terms.size) })
    assert(rows.forall { case (n, _) => n >= 1 && n <= terms.size })
  }

  test("bigram LM: train -> persist -> serve == the fused " +
      "train+score form AND the in-memory served form") {
    import graft.llm.PipelineOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isRef = col("doc_id") % 50 === 0
    val model = PipelineOps.trainBigramLm(docs, "doc_id", "text", isRef)
    val loaded = roundTrip(model, "bigramlm")
    assert(loaded.schema.fieldNames.toSet == Set("kind", "key", "cnt"))
    val probe = docs.filter(col("doc_id") % 50 =!= 0)
    val fused = PipelineOps.lmPerplexity(docs, "doc_id", "text", isRef)
      .collect().map(_.toSeq).toSet
    val served = PipelineOps.lmPerplexityServe(probe, "doc_id", "text", model)
      .collect().map(_.toSeq).toSet
    val servedLoaded = PipelineOps
      .lmPerplexityServe(probe, "doc_id", "text", loaded)
      .collect().map(_.toSeq).toSet
    assert(fused == served)
    assert(served == servedLoaded)
    assert(fused.nonEmpty)
  }

  // ----------------------------------------------------------------
  // The SHARED persistence-seam contract (documented once in
  // COVERAGE.md "Persistence-seam contract") — parameterized over all
  // six seams (the r15 IVF index proved the claim: a new seam added
  // to this table inherits the assertions) so a sixth cannot
  // re-introduce the r12 stale-staging hazard:
  //   1. staging dirs are keyed on SyntheticTraces.tableKey over the
  //      tables the artifact DERIVES FROM (fingerprint = length+mtime;
  //      regeneration invalidates);
  //   2. publication is atomic (Staging.stageOnce: build under a
  //      process-unique sibling, rename, _SUCCESS marks completeness);
  //   3. a published dir is never rebuilt — stageOnce must NOT invoke
  //      the writer again;
  //   4. reload is bit-exact: serving frames read back from the dir
  //      equal the in-session frames.
  // ----------------------------------------------------------------

  private case class Seam(name: String,
      build: () => DataFrame,
      save: (DataFrame, String) => Unit,
      load: String => DataFrame)

  test("persistence-seam contract: fingerprint key, atomic publish, " +
      "no-rebuild idempotence, bit-exact reload — all six seams") {
    import graft.llm.{DedupOps, PipelineOps, TextOps}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def withSuccess(w: String => Unit): String => Unit = { tmp =>
      w(tmp)
      // saveModel/parquet committers leave _SUCCESS; assert rather
      // than trust, since stageOnce's completeness test depends on it
      assert(new java.io.File(tmp, "_SUCCESS").isFile,
        "seam writer must leave a _SUCCESS marker")
    }
    val seams = Seq(
      Seam("quantizer_centroids",
        () => Quantizers.trainIvfCentroids(emb, "vec_id", "embedding",
          k = 4, iters = 1, trainSize = 64),
        (m, p) => Quantizers.saveModel(m, p),
        p => Quantizers.loadModel(spark, p)),
      Seam("banded_projection",
        () => graft.llm.DedupOps.bandedProjection(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
        (m, p) => { m.write.parquet(p); () },
        p => spark.read.parquet(p)),
      Seam("inverted_index",
        () => TextOps.invertedIndex(docs, "doc_id", "text", postingsCap = 8),
        (m, p) => TextOps.saveIndex(m, p),
        p => TextOps.loadIndex(spark, p)),
      Seam("bigram_lm",
        () => PipelineOps.trainBigramLm(docs, "doc_id", "text",
          col("doc_id") % 50 === 0),
        (m, p) => Quantizers.saveModel(m, p),
        p => Quantizers.loadModel(spark, p)),
      // the fifth seam (r15): the Seam frame is the index's canonical
      // single-frame view (assignments ⋈ centroids on cell); save/load
      // round it through the REAL two-part layout (centroids/ via the
      // model seam's single-part parquet, assign/ multi-part, one
      // top-level _SUCCESS once both halves are complete) — so the
      // composite artifact inherits the same four assertions
      Seam("ivf_index",
        () => {
          val ix = graft.llm.SimilarityOps.buildIvfIndex(
            emb, "vec_id", "embedding", nlist = 4)
          ix.assignments.join(ix.centroids, Seq("cell"))
        },
        (m, p) => graft.llm.SimilarityOps.saveAnnIndex(
          graft.llm.SimilarityOps.AnnIndex(
            m.select(col("cell"), col("centroid")).distinct(),
            m.select(col("neighbor_id"), col("emb"), col("cell")),
            nlist = 4), p),
        p => {
          val ix = graft.llm.SimilarityOps.loadAnnIndex(spark, p)
          ix.assignments.join(ix.centroids, Seq("cell"))
        }),
      // the sixth seam (r16): the table-stats artifact the join
      // planner reads. The Seam frame is the canonical single-frame
      // view (per-column stats row ⋈ its counter cells on colname);
      // save/load round it through the REAL two-part layout (cols/ +
      // counters/ single-part model parquet, one top-level _SUCCESS)
      Seam("table_stats",
        () => {
          val ts = graft.llm.SketchOps.tableStats(docs, col("doc_id"),
            Seq(("source", col("source"), None)))
          ts.cols.join(ts.counters, Seq("colname"))
        },
        (m, p) => graft.llm.SketchOps.saveTableStats(
          graft.llm.SketchOps.TableStats(
            m.select(col("colname"), col("n_rows"), col("null_cnt"),
              col("n_distinct"), col("hot_term"), col("hot_cnt"),
              col("hot_bound"), col("kth_min_hash"), col("k_used"),
              col("kmv_est")).distinct(),
            m.select(col("colname"), col("i"), col("bucket"), col("cnt"))),
          p),
        p => {
          val ts = graft.llm.SketchOps.loadTableStats(spark, p)
          ts.cols.join(ts.counters, Seq("colname"))
        }))
    assert(seams.size == 6) // the contract covers every shipped seam
    val work = graft.sources.Staging.sessionTempDir("graft_seam_contract")
    val key = graft.sources.SyntheticTraces.tableKey(
      "/root/testdata/sf0.001", Seq("documents"))
    def canon(df: DataFrame): Seq[String] =
      df.selectExpr(df.columns.sorted.toIndexedSeq: _*)
        .collect().map(_.toString).toSeq.sorted
    for (seam <- seams) {
      val frame = seam.build().localCheckpoint()
      val dir = s"$work/${seam.name}_v1_$key"
      graft.sources.Staging.stageOnce(dir)(
        withSuccess(tmp => seam.save(frame, tmp)))
      assert(new java.io.File(s"$dir/_SUCCESS").isFile,
        s"${seam.name}: published dir must carry _SUCCESS")
      // contract 3: the writer must never run against a published dir
      graft.sources.Staging.stageOnce(dir)(_ =>
        fail(s"${seam.name}: restage ran despite a published _SUCCESS"))
      // contract 4: bit-exact reload
      assert(canon(seam.load(dir)) == canon(frame),
        s"${seam.name}: reload diverged from the in-session frame")
    }
    // contract 1: the fingerprint key moves when the source table does
    // (length change AND mtime-only change both invalidate)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_seam_src")
    val srcFile = new java.io.File(srcDir.toFile, "documents.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      srcFile.toPath)
    val k1 = graft.sources.SyntheticTraces.tableKey(
      srcDir.toString, Seq("documents"))
    assert(srcFile.setLastModified(srcFile.lastModified() + 60000L))
    val k2 = graft.sources.SyntheticTraces.tableKey(
      srcDir.toString, Seq("documents"))
    assert(k1 != k2, "mtime-only regeneration must change the staging key")
    java.nio.file.Files.write(srcFile.toPath, Array[Byte](0),
      java.nio.file.StandardOpenOption.APPEND)
    val k3 = graft.sources.SyntheticTraces.tableKey(
      srcDir.toString, Seq("documents"))
    assert(k2 != k3, "content-length change must change the staging key")
    org.apache.hadoop.fs.FileUtil.fullyDelete(srcDir.toFile)
  }

  test("model values survive the round-trip bit-exactly") {
    val cents = Quantizers.trainIvfCentroids(emb, "vec_id", "embedding", k = 4,
      iters = 1, trainSize = 64)
    val loaded = roundTrip(cents, "bits")
    val a = cents.orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b = loaded.orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(a.length == b.length)
    for (((ca, va), (cb2, vb)) <- a.zip(b)) {
      assert(ca == cb2)
      assert(va == vb, s"cell $ca centroid changed across the round-trip")
    }
  }

  test("INCREMENTAL PQ update (r18): appending a batch encoded under " +
      "the EXISTING model == rebuilding with the SAME quantizers over " +
      "the grown corpus; model halves and the qerr baseline immutable") {
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding")
    val ix = SimilarityOps.buildPqIndex(base, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 8)
    val path = graft.sources.Staging.sessionTempDir("graft_pq_update")
    SimilarityOps.saveAnnIndex(ix, path)
    val metaBefore = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$path/meta").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath).toSeq
    SimilarityOps.appendToAnnIndex(spark, path, batch, "vec_id",
      "embedding")
    val metaAfter = java.nio.file.Files.readAllBytes(
      new java.io.File(s"$path/meta").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath).toSeq
    assert(metaBefore == metaAfter,
      "meta (geometry + qerr baseline) must be immutable across appends")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val updated = SimilarityOps.loadAnnIndex(spark, path)
    val served = rows(SimilarityOps.ivfPqServeTopK(updated, queries,
      "vec_id", "embedding", k = 3, nprobe = 3, rerank = Some(8)))
    // rebuilt with the SAME quantizers over the grown corpus
    val rebuilt = SimilarityOps.buildPqIndex(emb, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 8, centroids = Some(ix.centroids),
      codebook = ix.codebook)
    assert(served == rows(SimilarityOps.ivfPqServeTopK(rebuilt, queries,
      "vec_id", "embedding", k = 3, nprobe = 3, rerank = Some(8))),
      "serve-after-append must equal serve-over-rebuilt (same model)")
    assert(served.nonEmpty)
  }

  test("DRIFT-GATED PQ update (r18): an i.i.d. batch APPENDS; a " +
      "SCALED batch flips the gate to REBUILD through the " +
      "encoding-error axis while the cell share stays quiet — the " +
      "failure mode the coarse-only IVF gate cannot see") {
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    def stage(): String = {
      val path = graft.sources.Staging.sessionTempDir("graft_pq_gated")
      SimilarityOps.saveAnnIndex(SimilarityOps.buildPqIndex(base,
        "vec_id", "embedding", nlist = 8, m = 4, ksub = 8), path)
      path
    }
    // i.i.d. regime
    val pIid = stage()
    val iidBatch = emb.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding")
    val dIid = SimilarityOps.annGatedUpdate(spark, pIid, iidBatch,
      "vec_id", "embedding")
    assert(dIid.branch == "append", s"iid batch must append: $dIid")
    assert(BigInt(dIid.batchQerrSum) * dIid.baseRows <
      BigInt(2) * dIid.baseQerrSum * dIid.batchRows,
      s"iid qerr must sit under the 2x bar: $dIid")
    // drift regime: vectors scaled x3 — cosine cell assignment keeps
    // the cell share i.i.d.-like, but the stale codebook's encoding
    // error explodes
    val pDrift = stage()
    val driftBatch = emb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") * 3)
          .as("embedding"))
    val dDrift = SimilarityOps.annGatedUpdate(spark, pDrift, driftBatch,
      "vec_id", "embedding")
    assert(dDrift.branch == "rebuild", s"scaled batch must rebuild: $dDrift")
    assert(BigInt(dDrift.maxCellCnt) * 2 < BigInt(dDrift.batchRows),
      s"the cell-share axis must NOT be what fired: $dDrift")
    assert(BigInt(dDrift.batchQerrSum) * dDrift.baseRows >=
      BigInt(2) * dDrift.baseQerrSum * dDrift.batchRows,
      s"the qerr axis must be what fired: $dDrift")
    // the rebuild re-froze the baseline over the grown corpus and the
    // drift history carries both decisions' stats
    val reloaded = SimilarityOps.loadAnnIndex(spark, pDrift)
    assert(reloaded.qerrRows == emb.count(),
      "rebuild must re-freeze the qerr baseline over the grown corpus")
    assert(SimilarityOps.loadAnnDrift(spark, pDrift).count() == 1L)
    // serve after the rebuild == a fresh from-scratch build over the
    // grown (scaled) corpus
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val grown = base.select("vec_id", "embedding")
      .unionByName(driftBatch)
    val fresh = SimilarityOps.buildPqIndex(grown, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 8)
    assert(rows(SimilarityOps.ivfPqServeTopK(reloaded, queries, "vec_id",
        "embedding", k = 3, nprobe = 3)) ==
      rows(SimilarityOps.ivfPqServeTopK(fresh, queries, "vec_id",
        "embedding", k = 3, nprobe = 3)),
      "post-rebuild serve must equal a from-scratch build")
    // the in-place maintainers refuse an attr-carrying index, coded
    // or not: both the append and the gated update, on both forms
    val pAttr = graft.sources.Staging.sessionTempDir("graft_pq_attr")
    SimilarityOps.saveAnnIndex(SimilarityOps.buildPqIndex(base, "vec_id",
      "embedding", nlist = 8, m = 4, ksub = 8,
      attrCols = Seq("label")), pAttr)
    val pIvfAttr = graft.sources.Staging.sessionTempDir("graft_ivf_attr")
    SimilarityOps.saveAnnIndex(SimilarityOps.buildIvfIndex(base, "vec_id",
      "embedding", nlist = 8, attrCols = Seq("label")), pIvfAttr)
    for (p <- Seq(pAttr, pIvfAttr)) {
      intercept[IllegalArgumentException] {
        SimilarityOps.appendToAnnIndex(spark, p, iidBatch, "vec_id",
          "embedding")
      }
      intercept[IllegalArgumentException] {
        SimilarityOps.annGatedUpdate(spark, p, iidBatch, "vec_id",
          "embedding")
      }
    }
  }

  test("PQ filtered serve (r18): persisted == in-session; nprobe = " +
      "nlist degenerates to exact ADC over the qualifying set") {
    val ix = SimilarityOps.buildPqIndex(emb, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 8, attrCols = Seq("label"))
    val path = graft.sources.Staging.sessionTempDir("graft_pq_fserve")
    SimilarityOps.saveAnnIndex(ix, path)
    val loaded = SimilarityOps.loadAnnIndex(spark, path)
    val pred = col("label") % 3 =!= 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // bruteGateRows = 0: the pure-ADC differential needs the gate
    // OFF — the spec corpus's qualifying set is below the deployed
    // default, which would (correctly) serve it exactly instead
    def serve(i: SimilarityOps.AnnIndex, np: Int) =
      rows(SimilarityOps.ivfPqServeFilteredTopK(i, queries, "vec_id",
        "embedding", 5, pred, np, bruteGateRows = 0L))
    assert(serve(loaded, 3) == serve(ix, 3),
      "persisted filtered serve != in-session")
    assert(serve(loaded, 3).nonEmpty)
    // probing every cell = exact ADC ranking over the qualifying set:
    // the fused ivfPqTopK over the pre-filtered corpus with the SAME
    // persisted quantizers
    val exact = rows(SimilarityOps.ivfPqTopK(emb.filter(pred), queries,
      "vec_id", "embedding", 5, nlist = 8, nprobe = 8, m = 4, ksub = 8,
      centroids = Some(loaded.centroids),
      codebook = loaded.codebook))
    assert(serve(loaded, 8) == exact,
      "full-probe filtered serve must equal exact filtered ADC")
  }

  test("PQ filtered serve selectivity gate (r19): a selective " +
      "predicate flips to the exact refine-store brute (recall 1.0), " +
      "a broad one keeps the ADC path, branch and count reported") {
    val ix = SimilarityOps.buildPqIndex(emb, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 8, attrCols = Seq("label"))
    val nTotal = emb.count()
    // selective: a handful of qualifying rows -> brute branch
    val selPred = col("neighbor_id") % 29 === 0
    val (servedSel, brSel, nSel) = SimilarityOps.ivfPqServeFilteredGated(
      ix, queries, "vec_id", "embedding", 5, selPred,
      nprobe = 2, rerank = Some(8), bruteGateRows = 1000L)
    assert(brSel == "brute" && nSel <= 1000L && nSel > 0L)
    // the brute branch IS exact filtered search over the refine store
    val exact = SimilarityOps.bruteForceTopK(
        ix.assignments.filter(selPred)
          .select(col("neighbor_id").as("vec_id"),
            col("emb").as("embedding")),
        queries, "vec_id", "embedding", 5,
        SimilarityOps.quantizedCosineX1e6)
      .select(col("query_id"), col("neighbor_id"),
        col("score").as("score_x1e6"), col("rank"))
    assert(servedSel.collect().map(_.toSeq).toSet ==
      exact.collect().map(_.toSeq).toSet,
      "brute branch must equal exact filtered refine-store search")
    // broad predicate with a tiny gate -> adc branch, count exact
    val (_, brBroad, nBroad) = SimilarityOps.ivfPqServeFilteredGated(
      ix, queries, "vec_id", "embedding", 5, col("label") % 3 =!= 0,
      nprobe = 2, rerank = Some(8), bruteGateRows = 1L)
    assert(brBroad == "adc")
    assert(nBroad == emb.filter(col("label") % 3 =!= 0).count() &&
      nBroad < nTotal)
  }

  test("append-maintained index compaction (r19): crossing the " +
      "assign/ file-count threshold rewrites to few files with " +
      "serve-before == serve-after bit-parity") {
    def partCount(path: String): Int =
      new java.io.File(s"$path/assign").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def stage(maxFiles: Int): String = {
      val path = graft.sources.Staging.sessionTempDir(
        s"graft_pq_compact_$maxFiles")
      SimilarityOps.saveAnnIndex(SimilarityOps.buildPqIndex(
        emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
        nlist = 8, m = 4, ksub = 8), path)
      // four disjoint i.i.d. appends — each adds one file group
      for (r <- 1 to 4) {
        val d = SimilarityOps.annGatedUpdate(spark, path,
          emb.filter(col("vec_id") % 5 === r), "vec_id", "embedding",
          maxAssignFiles = maxFiles)
        assert(d.branch == "append", s"round $r unexpectedly rebuilt")
      }
      path
    }
    val loose = stage(maxFiles = 0)   // compaction off
    val tight = stage(maxFiles = 2)   // fires whenever > 2 part files
    assert(partCount(tight) < partCount(loose),
      s"compaction never fired: ${partCount(tight)} vs ${partCount(loose)}")
    // post-compaction the dir is at most maxFiles + one fresh append
    assert(partCount(tight) <= 3,
      s"compacted assign/ still holds ${partCount(tight)} part files")
    // content parity: the compacted index serves bit-identically
    def serve(path: String) = SimilarityOps.ivfPqServeTopK(
        SimilarityOps.loadAnnIndex(spark, path), queries, "vec_id",
        "embedding", 5, nprobe = 8)
      .collect().map(_.toSeq).toSet
    assert(serve(tight) == serve(loose),
      "compaction changed serve results")
    assert(serve(tight).nonEmpty)
    // the artifact is complete again after the in-place mutation
    assert(graft.sources.Staging.hasMarker(tight))
  }
}
