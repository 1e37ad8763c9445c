package graft.llm

import graft.functions.LlmFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Scale path: [[lshTopK]] buckets vectors by random-hyperplane LSH so
  * the pair space is per-bucket; [[bruteForceTopK]] is the exact
  * baseline (query-set × corpus, corpus side broadcast-friendly when
  * the query set is small, never corpus × corpus).
  *
  * Every engine-exact form shares ONE vector quantizer ([[quantize]],
  * floor(x·1000) as a long), ONE deterministic model pick
  * ([[hashOrderPick]]) and ONE folded centroid row ([[centroidRow]]),
  * so no two operators can quantize or sample differently. The IVF and
  * IVF-PQ indexes are ONE persisted type, [[AnnIndex]] — a compressed
  * index is the same index with a codebook and coded rows — with one
  * save/load, one append, one drift-gated update and one drift reader;
  * [[ivfServeTopK]] (exact) and [[ivfPqServeTopK]] (ADC) are its two
  * serve algorithms.
  */
object SimilarityOps {

  /** The vector quantizer every ANN operator and trainer shares: each
    * component x becomes floor(x·1000) as a long — a single
    * correctly-rounded multiply and a floor, so an external SQL engine
    * reproduces it bit-for-bit. */
  private[llm] def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000).cast("long"))

  /** floor(10^6 · dot / √(na·nb)) from a quantized dot product and the
    * two squared norms; zero-norm vectors score 0. */
  private def qcosX1e6(dot: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0, 0L).otherwise(
      floor(dot.cast("double") * lit(1e6) / sqrt((na * nb).cast("double")))
        .cast("long"))

  /** Each row's quantized vector and its squared norm as
    * (`idAs`, `qAs`, `nqAs`) — computed once per row, not per pair. */
  private def quantNormed(df: DataFrame, idCol: String, embCol: String,
      idAs: String, qAs: String, nqAs: String): DataFrame =
    df.select(col(idCol).as(idAs), quantize(col(embCol)).as(qAs))
      .select(col(idAs), col(qAs),
        graft.functions.VecFunctions.dot_long(col(qAs), col(qAs)).as(nqAs))

  private val HashMask = 2147483647L
  private val HashMul = 2654435761L
  private val HashMod = 1000000007L

  /** The order every default model pick shares: an overflow-safe Knuth
    * multiplicative hash of the id (the 31-bit mask keeps the multiply
    * inside a Long for any id); callers break ties by id. */
  private[graft] def hashOrder(id: Column): Column =
    id.bitwiseAND(lit(HashMask)) * lit(HashMul) % lit(HashMod)

  /** [[hashOrder]] of one id on the driver, bit-identical to the Column
    * form, for picks made over a collected sample. */
  private[graft] def hashOrder(id: Long): Long = (id & HashMask) * HashMul % HashMod

  /** The first `n` corpus rows in [[hashOrder]] as (`idAs`, `vecAs`): a
    * deterministic pseudo-random sample, reproducible across runs,
    * engines and partitionings (unlike limit() on an unordered frame).
    * Plans as TakeOrderedAndProject — a distributed partial top-k, no
    * count() pre-scan and no dense-id assumption. */
  private[llm] def hashOrderPick(corpus: DataFrame, idCol: String,
      embCol: String, n: Int, idAs: String, vecAs: String): DataFrame =
    corpus.select(col(idCol).as(idAs), col(embCol).as(vecAs))
      .orderBy(hashOrder(col(idAs)), col(idAs))
      .limit(n)

  /** Exact integer dot product of two float vectors quantized with
    * floor(x*1000) — IEEE-identical across engines, used for
    * oracle-comparable ranking. Codegen'd Catalyst expression: the
    * zip_with/aggregate formulation is CodegenFallback (interpreted,
    * one closure call per element) and measured 3-5x slower on the
    * pair-scoring hot paths.
    */
  def quantizedDot(a: Column, b: Column): Column =
    graft.functions.VecFunctions.quantized_dot(a, b)

  /** Cosine similarity (double), codegen'd; accumulation order matches
    * the left-to-right aggregate() formulation bit-for-bit.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecFunctions.cosine_sim(a, b)

  /** Engine-exact quantized cosine score: floor(10^6 · dot_q /
    * √(|a|²_q·|b|²_q)) over floor(x·1000) quantized vectors. Every
    * step is either exact 64-bit integer arithmetic or a single
    * correctly-rounded IEEE-754 double operation (long→double convert,
    * multiply, sqrt, divide, floor), so an external SQL engine
    * reproduces the score bit-for-bit — unlike raw float cosine, this
    * makes top-k RANKINGS hash-comparable across engines. Zero-norm
    * vectors score 0.
    */
  def quantizedCosineX1e6(a: Column, b: Column): Column = {
    val V = graft.functions.VecFunctions
    val qa = quantize(a); val qb = quantize(b)
    qcosX1e6(V.dot_long(qa, qb), V.dot_long(qa, qa), V.dot_long(qb, qb))
  }

  /** Exact top-k neighbors of each query vector by `score` (a column
    * function of the two embedding columns), ranked descending with
    * id tie-break. Query set × corpus — the baseline ANN oracle.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int,
      score: (Column, Column) => Column = quantizedDot): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        score(col("q_emb"), col("c_emb")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Pre-quantized variant of [[bruteForceTopK]] ranking with the
    * engine-exact [[quantizedCosineX1e6]] score: vectors are quantized
    * and normed ONCE per row (not per pair), so the cross join scores
    * with one codegen'd integer dot and no per-pair array work.
    */
  def bruteForceTopKPortable(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val V = graft.functions.VecFunctions
    val q = quantNormed(queries, idCol, embCol, "query_id", "qq", "nq1")
    val c = quantNormed(corpus, idCol, embCol, "neighbor_id", "cq", "nq2")
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        qcosX1e6(V.dot_long(col("qq"), col("cq")), col("nq1"), col("nq2"))
          .as("score_x1e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_x1e6").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Int8 embedding quantization stats (the storage-compression pass a
    * vector corpus runs before indexing): per vector, symmetric-scale
    * int8 codes code_i = sign(q_i)·⌊|q_i|·127 / max|q|⌋ over the
    * floor(x·1000) integer quantization — exact integer/IEEE steps
    * only, so codes reproduce across engines. Emits scalar evidence of
    * the whole code vector (position-weighted checksum + saturation
    * count) so the op is hash-comparable.
    */
  def int8QuantStats(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val base = df.select(col(idCol), quantize(col(embCol)).as("q"))
      .select(col(idCol), col("q"),
        array_max(transform(col("q"), v => abs(v))).as("max_q"))
    val codes = transform(col("q"), v =>
      when(col("max_q") === 0, 0L)
        .when(v >= 0, floor(v * 127 / col("max_q")).cast("long"))
        .otherwise(-floor(-v * 127 / col("max_q")).cast("long")))
    base.select(col(idCol), col("max_q"), codes.as("codes"))
      .select(col(idCol), col("max_q"),
        aggregate(zip_with(col("codes"), sequence(lit(1), size(col("codes"))),
          (c, i) => c * i), lit(0L), (acc, v) => acc + v).as("code_checksum"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_sat"))
  }

  /** Bucketed approximate top-k via multi-table random-hyperplane LSH
    * (the standard L-tables construction): each of `tables` tables
    * hashes every vector into 2^planes buckets with an independent
    * hyperplane family; a pair is a candidate if it collides in ANY
    * table. Candidates are exact-cosine ranked.
    *
    * Expected candidate count per query is
    * tables * corpus / 2^planes-ish — tune planes up as the corpus
    * grows (e.g. 16 planes -> 65k buckets per table at billion-row
    * scale); the pair space never degenerates to a cross-join.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, planes: Int = 6, tables: Int = 8): DataFrame = {
    def bucketsOf(df: DataFrame, idAs: String, embAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(embCol).as(embAs),
          explode(array((0 until tables).map(tbl =>
            struct(lit(tbl).as("tbl"),
              LlmFunctions.hyperplane_lsh(col(embCol), planes, tbl).as("bucket"))): _*)).as("h"))
        .select(col(idAs), col(embAs), col("h.tbl").as("tbl"), col("h.bucket").as("bucket"))
    val corpusB = bucketsOf(corpus, "neighbor_id", "c_emb")
    val queryB = bucketsOf(queries, "query_id", "q_emb")
    val cands = queryB.join(corpusB, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "q_emb", "c_emb")
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Engine-portable sign-LSH: bit p of a vector's bucket key in table
    * `tbl` is the sign of Σ_d coef(tbl*planes+p, d) · q_d, where
    * q = floor(x·1000) and coef is a Knuth-multiplicative integer
    * formula — every step is exact 64-bit arithmetic, so an external
    * SQL engine reproduces the buckets bit-for-bit (unlike the fast
    * `hyperplane_lsh` expression used by [[lshTopK]]).
    */
  private def portableBucket(q: Column, planes: Int, tbl: Int): Column =
    graft.functions.VecFunctions.portable_sign_bucket(q, planes, tbl)

  /** The engine-portable twin of [[lshTopK]]: sign-LSH buckets from
    * [[portableBucket]] generate candidates, [[quantizedCosineX1e6]]
    * ranks them — every step deterministic integer/IEEE arithmetic, so
    * the full approximate top-k result (including which neighbors were
    * candidates at all) hash-matches a SQL oracle. Same bucketed scale
    * shape as [[lshTopK]]: pair space is per-(table, bucket), never a
    * cross-join.
    */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, planes: Int = 6, tables: Int = 4): DataFrame = {
    def banded(df: DataFrame, idAs: String, qAs: String): DataFrame =
      df.select(col(idCol).as(idAs), quantize(col(embCol)).as(qAs))
        .select(col(idAs), col(qAs),
          posexplode(array((0 until tables).map(tbl =>
            portableBucket(col(qAs), planes, tbl)): _*)))
        .select(col(idAs), col(qAs), col("pos").as("tbl"), col("col").as("bucket"))
    val V = graft.functions.VecFunctions
    val cands = banded(queries, "query_id", "qq")
      .join(banded(corpus, "neighbor_id", "cq"), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // score BEFORE dedup (see cosineNearDupPairs: the dedup aggregate
      // keeps the dot from being re-evaluated inside the rank window)
      .select(col("query_id"), col("neighbor_id"),
        qcosX1e6(V.dot_long(col("qq"), col("cq")),
          V.dot_long(col("qq"), col("qq")), V.dot_long(col("cq"), col("cq")))
          .as("score_x1e6"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_x1e6").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs, fully deterministic:
    * multi-table sign-LSH bucketing generates candidates (never a
    * cross-join), then an exact integer test keeps pairs with
    * cosine ≥ tNum/tDen:  dot_q > 0  ∧  dot_q²·tDen² ≥ tNum²·|a|²_q·|b|²_q.
    * All arithmetic stays in quantized integers, so the result
    * hash-matches a SQL oracle exactly — no float comparisons.
    *
    * Sizing at scale: candidate volume is Σ_buckets occupancy², so
    * `planes` (buckets per table = 2^planes) must grow with the
    * corpus — size it so expected occupancy n/2^planes stays at a few
    * hundred (planes ≈ log2(n/256)). The 30× rehearsal measures the
    * saturation cost of leaving it at the default: see
    * the SCALE_r06 round-7 addendum.
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
      tNum: Long = 3, tDen: Long = 10,
      planes: Int = 6, tables: Int = 4): DataFrame = {
    val base = quantNormed(corpus, idCol, embCol, "id", "q", "nq")
    val banded = base.select(col("id"), col("q"), col("nq"),
        posexplode(array((0 until tables).map(tbl =>
          portableBucket(col("q"), planes, tbl)): _*)))
      .select(col("id"), col("q"), col("nq"),
        col("pos").as("tbl"), col("col").as("bucket"))
    // score in the map stage, THEN dedup, THEN filter: higher-order
    // exprs are CodegenFallback, and a filter directly above the
    // scoring projection gets the dot expression inlined into the
    // predicate (3x interpreted evaluation) — the dedup aggregate is a
    // barrier that keeps the dot evaluated exactly once per pair.
    // Scoring INSIDE the bucket join is load-bearing for scale: the
    // join output row drops both q arrays in the same codegen stage,
    // so only narrow (ids, dot, norms) rows reach the dedup shuffle.
    // (The measured alternative — dedup narrow candidate ids first,
    // re-join vectors to score once per distinct pair — ships q
    // through a shuffle join over the pair set, which is quadratic in
    // bucket occupancy: 5.9× slower with 2.3× the spill at the 30×
    // rehearsal. See SCALE_r06: occupancy is sized by `planes`,
    // the knob that must grow with the corpus.)
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        graft.functions.VecFunctions.dot_long(col("a.q"), col("b.q")).as("dot_q"),
        col("a.nq").as("nq1"), col("b.nq").as("nq2"))
      .dropDuplicates("id1", "id2")
    pairs.filter(col("dot_q") > 0 &&
        col("dot_q") * col("dot_q") * lit(tDen * tDen) >=
          lit(tNum * tNum) * col("nq1") * col("nq2"))
      .select("id1", "id2", "dot_q")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): prune the corpus by embedding
    * similarity, keeping one representative per group of semantic
    * near-duplicates. The paper partitions with k-means and compares
    * within cells; this composition partitions with the multi-table
    * sign-LSH buckets of [[cosineNearDupPairs]] (same role: a cheap
    * partition so only plausible pairs pay an exact comparison — and
    * integer-exact, so the whole operator hash-compares with a SQL
    * oracle), then collapses the near-dup graph with
    * [[DedupOps.dedupClusters]] (O(log n)-round large-star/small-star)
    * and keeps the min-id member of each component as canonical.
    *
    * Returns (doc_id, cluster_id, is_canonical) over every corpus row
    * — filter `is_canonical = 1` for the deduplicated corpus. Scale
    * shape: bucket equi-join (never all-pairs) + the clustering's
    * O(log n) contraction rounds; both legs measured sub-linear
    * through 100× in the batch scale rehearsals.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
      tNum: Long = 3, tDen: Long = 10, planes: Int = 6, tables: Int = 4,
      maxIter: Int = 20): DataFrame =
    graft.llm.DedupOps.dedupClusters(
      corpus, idCol,
      cosineNearDupPairs(corpus, idCol, embCol, tNum, tDen, planes, tables),
      maxIter)

  /** IVF (inverted-file) approximate top-k: a deterministic coarse
    * quantizer — by default the `nlist` corpus vectors minimizing an
    * overflow-safe Knuth hash of the id (a deterministic pseudo-random
    * sample) — partitions the corpus into cells; queries probe their
    * `nprobe` nearest cells and exact-rank only those cells' members.
    *
    * Scale shape: centroid selection plans as TakeOrderedAndProject —
    * a distributed partial top-k, no count() pre-scan and no dense-id
    * assumption. The pre-quantized centroid table is folded into ONE
    * array row and broadcast-nested-loop-joined to both sides, and
    * cell selection is one codegen'd kernel call per row
    * ([[graft.functions.VecBridge.nearestCellsQ]]): the corpus is
    * never exploded ×nlist and never shuffles for assignment. Cell
    * selection always uses the engine-exact quantized cosine (so
    * membership is deterministic and oracle-comparable across
    * engines); `score` ranks the final candidates. Cell ids must be
    * long-castable. Per-query work is nprobe/nlist of the corpus.
    * Pass `centroids` (cell, centroid) — e.g. k-means output — when
    * quality matters; the plan is identical.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      score: (Column, Column) => Column = cosine,
      centroids: Option[DataFrame] = None): DataFrame =
    ivfServeTopK(buildIvfIndex(corpus, idCol, embCol, nlist, centroids),
      queries, idCol, embCol, k, nprobe, score)

  /** ONE ANN index, exact or compressed — the train-once / serve-many
    * artifact every production vector store persists:
    *
    *  - `centroids` (cell, centroid): the coarse quantizer, model-sized
    *    (nlist·d floats);
    *  - `codebook` (cid, cvec): the PQ codebook when the index is CODED
    *    (IVF-PQ, [[buildPqIndex]]); None for a plain IVF index
    *    ([[buildIvfIndex]]);
    *  - `assignments`: the corpus partitioned into cells, corpus-sized
    *    multi-part parquet on disk — (neighbor_id, emb, cell), plus,
    *    when coded, each row's m-int PQ `codes` and its `qerr` (its
    *    ENCODING error, the own-codes ADC distance: the drift gate's
    *    per-row stat), plus any `attrCols` carried for filtered
    *    serves. The full-width `emb` is the refine store of a coded
    *    index and what a rebuild reconstructs the corpus from;
    *  - the geometry the index owns: `nlist` always; `m`, `ksub`,
    *    `residual` when coded — so neither a serve nor a rebuild can
    *    silently mismatch the build;
    *  - `qerrSum`/`qerrRows`: a coded index's BUILD-time encoding-error
    *    baseline, frozen between rebuilds (the reference a gated update
    *    compares incoming batches against); -1 when the index is not
    *    coded or was built in-session and never persisted.
    *
    * [[ivfServeTopK]] serves either form exactly; [[ivfPqServeTopK]]
    * serves a coded one by ADC. Serving from a loaded index skips the
    * assignment pass entirely — the probe-side work is all that
    * remains, which is what makes build-once/probe-many the right shape
    * at 100 TB (re-assigning the corpus per query batch would re-scan
    * everything). */
  case class AnnIndex(centroids: DataFrame, assignments: DataFrame,
      nlist: Int, codebook: Option[DataFrame] = None, m: Int = 0,
      ksub: Int = 0, residual: Boolean = false, qerrSum: Long = -1L,
      qerrRows: Long = -1L)

  /** All centroids folded into ONE array row of (cell, cq, cnq) — the
    * quantized centroid and its squared norm. BNL-joining this single
    * row broadcasts it to every partition without exploding either side
    * ×nlist. The agg consumes orderBy+limit DIRECTLY so default
    * centroid selection keeps planning as TakeOrderedAndProject (a
    * projection in between gets pushed through the limit and degrades
    * it to a full global sort); quantization + norming then run once,
    * on the single aggregated row, before broadcast. Array order never
    * matters: nearest_cells_q tie-breaks on the cell VALUE. */
  private def centroidRow(cents: DataFrame): DataFrame = {
    val V = graft.functions.VecFunctions
    cents
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("raw"))
      .select(transform(col("raw"), c => {
        val cq = quantize(c("centroid"))
        struct(c("cell").cast("long").as("cell"), cq.as("cq"),
          V.dot_long(cq, cq).as("cnq"))
      }).as("cents"))
  }

  /** `rows` joined with the corpus's `attrCols` on the id, so filtered
    * serves can push their predicates into the persisted assignment
    * scan. */
  private def withAttrs(rows: DataFrame, corpus: DataFrame, idCol: String,
      attrCols: Seq[String]): DataFrame =
    if (attrCols.isEmpty) rows
    else rows.join(corpus.select(
      (col(idCol).as("neighbor_id") +: attrCols.map(col)): _*), "neighbor_id")

  /** Build a plain IVF index: pick/accept centroids, then the map-only
    * assignment pass (each corpus vector → nearest centroid; one
    * codegen'd kernel call per row, no corpus×nlist explode, no
    * shuffle). `attrCols` rides into the assignment rows. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int = 16, centroids: Option[DataFrame] = None,
      attrCols: Seq[String] = Nil): AnnIndex = {
    val V = graft.functions.VecFunctions
    val cents = centroids.getOrElse(
      hashOrderPick(corpus, idCol, embCol, nlist, "cell", "centroid"))
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"))
      .crossJoin(broadcast(centroidRow(cents)))
      .select(col("neighbor_id"), col("emb"),
        element_at(V.nearest_cells_q(quantize(col("emb")), col("cents"), 1), 1)
          .as("cell"))
    AnnIndex(cents, withAttrs(assigned, corpus, idCol, attrCols), nlist)
  }

  /** Serve top-k from a (possibly loaded-from-disk) index: each query
    * probes its `nprobe` nearest cells and exact-ranks only those
    * cells' members. Identical results to [[ivfTopK]] — the batch entry
    * IS build + serve — so a persisted index serves bit-identically to
    * an in-session one. */
  def ivfServeTopK(index: AnnIndex, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nprobe: Int = 4,
      score: (Column, Column) => Column = cosine): DataFrame = {
    val V = graft.functions.VecFunctions
    // probe pass: each query -> its nprobe nearest cells
    val probes = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"))
      .crossJoin(broadcast(centroidRow(index.centroids)))
      .select(col("query_id"), col("q_emb"),
        explode(V.nearest_cells_q(quantize(col("q_emb")), col("cents"), nprobe))
          .as("cell"))
    // probe side is queries × nprobe — usually the small side, but
    // gated: a large probe frame falls back to a shuffle join
    val cands = graft.operators.Hints.maybeBroadcast(probes)
      .join(index.assignments, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        score(col("q_emb"), col("emb")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // THE INDEX LIFECYCLE — one save/load, one append, one plain-index
  // guard, one drift decision, one gated update and one drift reader
  // for both forms of [[AnnIndex]]; the coded form only adds the
  // codebook half and the encoding-error gate axis.
  // ------------------------------------------------------------------

  /** The `meta/` row of a persisted [[AnnIndex]]: `nlist` always; the
    * coded geometry and the frozen qerr baseline only when coded. */
  private[llm] case class AnnMeta(nlist: Int, m: Option[Int],
      ksub: Option[Int], residual: Option[Boolean],
      qerr_sum: Option[Long], qerr_rows: Option[Long])

  /** Persist an [[AnnIndex]] under `path`: `centroids/`, `codebook/`
    * (coded only) and the 1-row `meta/` through the model seam's
    * single-part layout, `assign/` as plain multi-part parquet
    * (corpus-derived state), then a top-level `_SUCCESS` once every
    * half is complete (the marker `Staging.stageOnce` publication keys
    * on). */
  def saveAnnIndex(index: AnnIndex, path: String): Unit = {
    saveAnnIndexParts(index, path)
    // the marker goes through the Hadoop FileSystem API (as the parquet
    // writers do) — a java.io.File touch is a silent no-op on any
    // non-local path, and a forever-missing marker would make stageOnce
    // rebuild the index on every call
    graft.sources.Staging.touchMarker(path)
  }

  /** [[saveAnnIndex]] WITHOUT the completeness marker — for the gated
    * rebuild, already inside a
    * [[graft.sources.Staging.withMarkerDropped]] window: re-creating
    * `_SUCCESS` mid-window let a crash between the rebuild and the
    * drift append leave a complete-looking artifact missing its
    * decision row (r18 ADVICE). The window's own exit restores the
    * marker once, after everything has landed. A coded index's meta row
    * freezes the build-time encoding-error baseline: one counter-sized
    * aggregate over the coded rows the save has just written. */
  private def saveAnnIndexParts(index: AnnIndex, path: String): Unit = {
    val spark = index.centroids.sparkSession
    import spark.implicits._
    Quantizers.saveModel(index.centroids, s"$path/centroids")
    index.codebook.foreach(Quantizers.saveModel(_, s"$path/codebook"))
    index.assignments.write.mode("overwrite").parquet(s"$path/assign")
    val meta = index.codebook.fold(
        AnnMeta(index.nlist, None, None, None, None, None)) { _ =>
      val qe = spark.read.parquet(s"$path/assign")
        .agg(sum("qerr"), count(lit(1))).head()
      AnnMeta(index.nlist, Some(index.m), Some(index.ksub),
        Some(index.residual), Some(if (qe.isNullAt(0)) 0L else qe.getLong(0)),
        Some(qe.getLong(1)))
    }
    Quantizers.saveModel(Seq(meta).toDF(), s"$path/meta")
  }

  /** Load an index persisted by [[saveAnnIndex]]. Codes are integers
    * and floats round-trip parquet bit-exactly, so serving from the
    * loaded index equals serving from the in-session one
    * (ModelSeamSpec). */
  def loadAnnIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): AnnIndex = {
    import spark.implicits._
    val meta = Quantizers.loadModel(spark, s"$path/meta").as[AnnMeta].head()
    AnnIndex(Quantizers.loadModel(spark, s"$path/centroids"),
      spark.read.parquet(s"$path/assign"), meta.nlist,
      meta.m.map(_ => Quantizers.loadModel(spark, s"$path/codebook")),
      meta.m.getOrElse(0), meta.ksub.getOrElse(0),
      meta.residual.getOrElse(false), meta.qerr_sum.getOrElse(-1L),
      meta.qerr_rows.getOrElse(-1L))
  }

  /** The in-place maintainers ([[appendToAnnIndex]], [[annGatedUpdate]])
    * operate on PLAIN indexes only — an index built with `attrCols`
    * carries attribute columns in `assign/` that an append would
    * silently null out (the batch has no attrs channel) and a rebuild
    * would silently drop (the corpus is reconstructed as (id, emb)
    * alone), degrading every later filtered serve. Enforced, not just
    * documented: rebuild an attr-carrying index through its original
    * staging path instead. */
  private def requirePlainIndex(ix: AnnIndex, op: String): Unit = {
    val plain = Seq("neighbor_id", "emb", "cell") ++
      (if (ix.codebook.isDefined) Seq("codes", "qerr") else Nil)
    val cols = ix.assignments.columns.toSet
    require(cols == plain.toSet,
      s"$op requires a plain index (assign columns ${plain.mkString("/")}); " +
        s"this index carries ${cols.mkString(", ")} — attr-carrying " +
        "indexes must be rebuilt through their staging path")
  }

  /** `corpus` built with `ix`'s geometry — under `ix`'s own model when
    * `keepModel` (an update batch: assignment and codes are pure per-row
    * functions of (vector, model)), else under a fresh hash-order model
    * (a rebuild). */
  private def buildLike(ix: AnnIndex, corpus: DataFrame, idCol: String,
      embCol: String, keepModel: Boolean): AnnIndex = {
    val cents = if (keepModel) Some(ix.centroids) else None
    ix.codebook match {
      case None => buildIvfIndex(corpus, idCol, embCol, ix.nlist, cents)
      case Some(cb) => buildPqIndex(corpus, idCol, embCol, ix.nlist, ix.m,
        ix.ksub, cents, if (keepModel) Some(cb) else None, ix.residual)
    }
  }

  /** INCREMENTAL update of a PERSISTED index — the corpus APPENDS
    * between rebuilds: the new batch is assigned (and, when coded,
    * encoded) under the EXISTING model and its rows append to `assign/`
    * in place (the banded-projection append-only contract applied to
    * ANN); `centroids/`, `codebook/` and `meta/` are immutable between
    * rebuilds. The pass is the build's own map-only kernel projection,
    * so the update is linear in the BATCH — never a corpus rebuild.
    * Serving after the update is IDENTICAL to serving over an index
    * rebuilt with the SAME model over the grown corpus (ModelSeamSpec
    * pins it). What degrades is RECALL and COMPRESSION QUALITY, not
    * correctness: the model was laid out for the pre-append
    * distribution — the r16 drift curve is recorded in COVERAGE, and
    * [[annGatedUpdate]] measures it per batch. Writes no compaction.
    *
    * PRECONDITION: the batch's ids must be DISJOINT from the ids
    * already in the index — an id assigned twice would serve as the
    * same neighbor at two ranks. The caller owns the contract (an
    * append stream naturally satisfies it); no anti-join is added, so
    * the update stays a pure batch-linear append.
    *
    * NOT crash-atomic on its own: the index's top-level `_SUCCESS` is
    * dropped before the append and recreated after, so a crash
    * mid-append (or a concurrent completeness probe) sees the index as
    * incomplete rather than serving a torn half-appended `assign/` dir.
    * A caller that needs full atomicity stages the whole update under a
    * tmp dir and publishes by rename (the `Staging.stageOnce` pattern
    * the catalog entries use). */
  def appendToAnnIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String,
      embCol: String): Unit = {
    val ix = loadAnnIndex(spark, path)
    requirePlainIndex(ix, "appendToAnnIndex")
    graft.sources.Staging.withMarkerDropped(path) {
      buildLike(ix, batch, idCol, embCol, keepModel = true).assignments
        .write.mode("append").parquet(s"$path/assign")
    }
  }

  /** Size-gated compaction of an append-maintained index's `assign/`
    * dir (r18 VERDICT #7): every append adds one parquet file group,
    * so after N daily appends every serve scans N+1 small file groups —
    * the small-file problem `Layout.compactBins` exists to fix, landed
    * on the index seam. When the part-file count crosses `maxFiles`,
    * the rows are read, materialized (localCheckpoint — the rewrite
    * overwrites its own input, the gated-rebuild precedent), and
    * rewritten as max(1, ceil(bytes / 64 MiB)) files. Content-only
    * rewrite: serve-before == serve-after bit-parity (ModelSeamSpec
    * hash-compares it with the compaction forced).
    *
    * MUST run inside the caller's
    * [[graft.sources.Staging.withMarkerDropped]] window: a crash
    * mid-rewrite leaves a torn `assign/`, which the dropped marker
    * reports as an incomplete artifact (and stageOnce's torn-dir
    * repair then rebuilds). Returns true iff a compaction ran. */
  private def compactAssignDir(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxFiles: Int): Boolean = {
    if (maxFiles <= 0) return false
    val assign = new org.apache.hadoop.fs.Path(s"$path/assign")
    val fs = assign.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(assign)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (parts.length <= maxFiles) return false
    val bytes = parts.map(_.getLen).sum
    val target = math.max(1L,
      (bytes + (64L << 20) - 1) / (64L << 20)).toInt
    val rows = spark.read.parquet(s"$path/assign").localCheckpoint()
    rows.coalesce(target).write.mode("overwrite")
      .parquet(s"$path/assign")
    true
  }

  /** The verdict of one gated update: the branch taken and the measured
    * stats it was gated on — the batch's largest single-cell assignment
    * count over its row count (the coarse layout's failure mode) and,
    * when the index is coded, the batch's total encoding error against
    * the build-time baseline (the CODEBOOK's failure mode: drifted mass
    * a stale codebook quantizes badly serves with degraded ADC quality
    * while cell shares still look i.i.d.). The three qerr stats are -1
    * on an uncoded index, whose `drift/` row carries nulls there. All
    * integers, so the whole decision row is oracle-comparable. */
  case class AnnUpdateDecision(branch: String, maxCellCnt: Long,
      batchRows: Long, batchQerrSum: Long = -1L, baseQerrSum: Long = -1L,
      baseRows: Long = -1L)

  /** Measure an incoming batch's DRIFT against an index and gate append
    * vs rebuild — the consumer of the r16 drift finding (append stays
    * recall-flat on i.i.d. arrivals, but the model was laid out for the
    * pre-append distribution). The batch is assigned (and encoded)
    * under the EXISTING model — the pass an append runs anyway,
    * materialized once, so the measurement is free and an append reuses
    * the rows; the per-cell histogram is ≤ nlist rows. Rebuild fires
    * when EITHER
    *   - cell share: the batch's max single-cell count is ≥ 1/2 of its
    *     rows (an i.i.d. batch spreads like the corpus — ≤ 13% on the
    *     demo corpora at every SF — while drifted mass concentrating in
    *     one cell crosses half immediately), or
    *   - coded indexes only, encoding-error growth: the batch's MEAN
    *     qerr is ≥ 2× the build-time baseline mean, cross-multiplied in
    *     BigInt so the gate stays integer-exact:
    *     batchQerrSum·baseRows ≥ 2·baseQerrSum·batchRows.
    * Returns the decision plus the batch's rows. */
  private def updateDecision(ix: AnnIndex, batch: DataFrame,
      idCol: String, embCol: String): (AnnUpdateDecision, DataFrame) = {
    val coded = ix.codebook.isDefined
    require(!coded || ix.qerrRows > 0,
      "gated update of a coded index needs a persisted qerr baseline " +
        "(saveAnnIndex writes it)")
    val rows = buildLike(ix, batch, idCol, embCol, keepModel = true)
      .assignments.localCheckpoint() // measured once, appended as-is
    val st = rows.groupBy("cell").agg(count(lit(1)).as("cnt"),
        (if (coded) sum("qerr") else lit(0L)).as("qe"))
      .agg(max("cnt"), sum("cnt"), sum("qe")).head()
    require(!st.isNullAt(0), "gated update needs a non-empty batch")
    val (mx, tot, qes) = (st.getLong(0), st.getLong(1), st.getLong(2))
    // degenerate baseline guard (r18 ADVICE): a perfectly encodable
    // base corpus freezes qerrSum = 0, making the cross-multiplied
    // comparison trivially true for EVERY batch (0 >= 0) — including
    // one with zero encoding error. The axis then fires only when the
    // batch actually encodes with error (any error is infinite growth
    // over a zero baseline).
    val qerrFires = coded && (
      if (ix.qerrSum == 0L) qes > 0L
      else BigInt(qes) * ix.qerrRows >= BigInt(2) * ix.qerrSum * tot)
    val branch =
      if (BigInt(mx) * 2 >= tot || qerrFires) "rebuild" else "append"
    (if (coded) AnnUpdateDecision(branch, mx, tot, qes, ix.qerrSum,
      ix.qerrRows) else AnnUpdateDecision(branch, mx, tot), rows)
  }

  /** Drift-GATED update of a PERSISTED index — the measured-scalar gate
    * shape (q_ann_filtered_topk, skewGatedJoin) applied to the index
    * lifecycle: [[updateDecision]] measures the batch, then
    *
    *  - `append`: the measured rows append in place (the
    *    [[appendToAnnIndex]] path — model and baseline immutable), and
    *    `assign/` is compacted once it holds more than `maxAssignFiles`
    *    part files (0 turns compaction off);
    *  - `rebuild`: a FRESH hash-order model of the index's own geometry
    *    (read from `meta/`) over the grown corpus — reconstructed from
    *    the assignment rows ∪ the batch, since the rows carry the
    *    vectors — with every half rewritten and, when coded, the qerr
    *    baseline re-frozen at the new build.
    *
    * Either way the decision row (branch, max_cell_cnt, batch_rows,
    * batch_qerr_sum, base_qerr_sum, base_rows — the last three null on
    * an uncoded index) APPENDS to the artifact's `drift/` half, so the
    * index carries its own drift history and a later consumer can audit
    * every gate call without re-measuring. Crash contract and
    * disjoint-id precondition as [[appendToAnnIndex]]; the marker comes
    * back once, after the drift row has landed. */
  def annGatedUpdate(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, embCol: String,
      maxAssignFiles: Int = 16): AnnUpdateDecision = {
    val ix = loadAnnIndex(spark, path)
    requirePlainIndex(ix, "annGatedUpdate")
    val (d, rows) = updateDecision(ix, batch, idCol, embCol)
    graft.sources.Staging.withMarkerDropped(path) {
      if (d.branch == "append") {
        rows.write.mode("append").parquet(s"$path/assign")
        compactAssignDir(spark, path, maxAssignFiles)
      } else {
        // localCheckpoint: the rebuild OVERWRITES the assign/ dir its
        // own input lineage reads — materialize first
        val grown = ix.assignments
          .select(col("neighbor_id").as(idCol), col("emb").as(embCol))
          .unionByName(batch.select(col(idCol), col(embCol)))
          .localCheckpoint()
        saveAnnIndexParts(
          buildLike(ix, grown, idCol, embCol, keepModel = false), path)
      }
      import spark.implicits._
      def qerr(v: Long) = if (ix.codebook.isDefined) Some(v) else None
      Seq((d.branch, d.maxCellCnt, d.batchRows, qerr(d.batchQerrSum),
          qerr(d.baseQerrSum), qerr(d.baseRows)))
        .toDF("branch", "max_cell_cnt", "batch_rows", "batch_qerr_sum",
          "base_qerr_sum", "base_rows")
        .write.mode("append").parquet(s"$path/drift")
    }
    d
  }

  /** The drift history an [[annGatedUpdate]]-maintained index carries:
    * one decision row per gated update. */
  def loadAnnDrift(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/drift")

  /** Filtered serve from a PREBUILT index — the other half of the
    * filtered-ANN story. [[filteredTopK]] ADAPTS the index to the
    * predicate (centroids from the filtered distribution, built per
    * query batch); this serves `predicate + top-k` against an index
    * built ONCE over the full corpus, which is what a deployed vector
    * store does between rebuilds: the predicate lands on the
    * persisted assignment lists (a pushable parquet filter when the
    * index was built with the attribute columns carried via
    * `attrCols`), and only the probed cells' QUALIFYING members are
    * scored.
    *
    * The recall tradeoff is inherent and documented rather than
    * hidden: cells were laid out for the unfiltered distribution, so
    * a selective predicate can underfill k within nprobe cells —
    * deployments raise `nprobe` for filtered queries (the entry uses
    * nprobe = nlist/2, double the unfiltered default), or rebuild
    * with [[filteredTopK]]'s adaptive path when a filter becomes
    * hot. With `nprobe = nlist` this degenerates to exact brute force
    * over the qualifying set (the differential the spec pins).
    */
  def ivfServeFilteredTopK(index: AnnIndex, queries: DataFrame,
      idCol: String, embCol: String, k: Int, predicate: Column,
      nprobe: Int = 8,
      score: (Column, Column) => Column = cosine): DataFrame =
    ivfServeTopK(index.copy(assignments = index.assignments.filter(predicate)),
      queries, idCol, embCol, k, nprobe, score)

  /** Filtered ANN — attribute predicate + vector top-k, the shape
    * production vector search almost always takes ("top-k among rows
    * WHERE source = X AND ts > T"). The predicate is applied BELOW
    * everything: `corpus.filter(predicate)` first, so Catalyst pushes
    * it into the parquet scan and cell assignment / scoring / ranking
    * only ever touch qualifying vectors. (Post-filtering an
    * unfiltered top-k is WRONG, not just slow — it underfills k
    * whenever fewer than k of a query's raw neighbors qualify.)
    *
    * Size-gated plan choice (the PageRank-gate pattern, but on a
    * measured scalar: CBO-less Catalyst keeps Filter stats at the
    * scan estimate, so a stats gate cannot see selectivity — one
    * map-combined count over the predicate-pushed, id-pruned scan
    * decides):
    *
    *  - `|filtered| <= bruteGateRows`: the filter is selective enough
    *    that EXACT brute force over the filtered set wins — an IVF
    *    probe over a tiny qualifying set scans most of it anyway
    *    (nprobe/nlist of it) and pays the recall loss for nothing;
    *  - above the gate: IVF probe over the filtered corpus, with
    *    centroids drawn from (or trained on and passed in for) the
    *    FILTERED set so cells track the qualifying distribution.
    *
    * Both paths emit the same (query_id, neighbor_id, score, rank)
    * schema, and with `nprobe = nlist` the IVF path degenerates to
    * the exact brute-force answer (every query probes every cell) —
    * the differential the gate-flip spec pins.
    *
    * Scale shape: the gate count is one scalar aggregate riding the
    * same pushed-predicate scan the chosen path re-reads; at 100 TB
    * the brute branch only ever fires when the predicate leaves a
    * broadcast-sized qualifying set (bruteGateRows caps the cross
    * join's small side), and the IVF branch inherits ivfTopK's
    * bounded shape (one folded-centroid broadcast, map-only
    * assignment, one bucket join).
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, predicate: Column, nlist: Int = 16,
      nprobe: Int = 4, score: (Column, Column) => Column = cosine,
      centroids: Option[DataFrame] = None,
      bruteGateRows: Long = 100000L): DataFrame = {
    val filtered = corpus.filter(predicate)
    val nFiltered = filtered.select(col(idCol)).count()
    if (nFiltered <= bruteGateRows)
      bruteForceTopK(filtered, queries, idCol, embCol, k, score)
    else
      ivfTopK(filtered, queries, idCol, embCol, k, nlist, nprobe, score,
        centroids)
  }

  /** Cluster-balanced diversity sample: assign every vector to its
    * nearest IVF cell (same quantized-cosine assignment kernel and
    * centroid seam as [[ivfTopK]] — pass trained centroids when
    * quality matters), then keep at most `quota` vectors per cell,
    * chosen by overflow-safe multiplicative hash of the id. The
    * "cluster then uniform-sample" recipe for diversity-preserving
    * corpus thinning: uniform sampling over-represents dense regions
    * of embedding space, per-cluster quotas flatten that.
    *
    * Deterministic and engine-exact end to end: the assignment is the
    * integer quantized-cosine argmax, the per-cell pick is hash order
    * with id tie-break — the kept set is re-derivable from (corpus,
    * centroids) alone.
    *
    * Scale shape: one broadcast of the folded centroid row, a
    * map-only assignment pass (no corpus×nlist explode), then one
    * window shuffle partitioned by cell. Skew note: nlist must grow
    * with the corpus (cells ≫ cores) or the per-cell windows
    * serialize; with trained centroids the cell histogram is the
    * knob to watch.
    */
  def clusterSample(corpus: DataFrame, idCol: String, embCol: String,
      quota: Int, nlist: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    val assigned = buildIvfIndex(corpus, idCol, embCol, nlist, centroids)
      .assignments.select(col("neighbor_id").as("vec_id"), col("cell"))
    val w = Window.partitionBy("cell")
      .orderBy(col("vec_id").bitwiseAND(lit(2147483647L)) * lit(2654435761L),
        col("vec_id"))
    assigned.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= quota)
  }

  /** Product-quantization top-k (the compression tier of the ANN
    * ladder: brute → LSH → IVF → PQ). Each corpus vector is encoded
    * once into m codebook positions (m ints vs d floats — 32× smaller
    * at d=64/m=8, the representation a 100 TB vector corpus actually
    * stores); each query precomputes an m×ksub ADC lookup table, and
    * candidate scoring is O(m) table adds per pair instead of O(d)
    * multiply-adds.
    *
    * Deterministic + oracle-able by construction: vectors are
    * floor(x·1000)-quantized, subspace distances are exact integer
    * L2, and the default codebook is the ksub hash-order corpus
    * vectors (the same quantizer seam as [[ivfTopK]] — pass trained
    * centroids via `codebook` when quality matters; the plan is
    * identical). Ranking ascends by (adc_distance, neighbor_id).
    *
    * Scale shape: the codebook folds into ONE broadcast array row
    * (encode and table passes are per-row kernel projections, zero
    * shuffle); scoring scans the code table once per query batch —
    * compose with [[ivfTopK]] cells to prune candidates when the
    * corpus outgrows a full code scan. Requires dims ≥ m; the
    * division remainder folds into the last subspace.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      codebook: Option[DataFrame] = None): DataFrame = {
    val V = graft.functions.VecFunctions
    // a caller-provided codebook is canonicalized to cid order (a model
    // loaded from storage must serve exactly like the in-session frame
    // — ModelSeamSpec; trained codebooks already carry cid
    // 0..ksub-1). The default hash-order path keeps its own
    // deterministic TakeOrderedAndProject order (cids there are corpus
    // ids), which its oracle mirrors.
    val cbArr = codebookRow(codebook.getOrElse(
        hashOrderPick(corpus, idCol, embCol, ksub, "cid", "cvec")),
      canonical = codebook.isDefined)
    val codes = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"))
      .crossJoin(broadcast(cbArr))
      .select(col("neighbor_id"),
        V.pq_encode(quantize(col("emb")), col("cb"), m).as("codes"))
    val tables = queries.select(col(idCol).as("query_id"), col(embCol).as("qemb"))
      .crossJoin(broadcast(cbArr))
      .select(col("query_id"), V.pq_table(quantize(col("qemb")), col("cb"), m).as("tbl"))
    val scored = graft.operators.Hints.maybeBroadcast(tables).crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        V.pq_adc(col("tbl"), col("codes"), ksub).as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-PQ top-k — the [[ivfTopK]] × [[pqTopK]] composition (the
    * FAISS-style shape a billion-vector corpus actually serves): the
    * coarse quantizer prunes candidates to the query's `nprobe` cells
    * AND each candidate is scored from its m-int PQ code via the query's
    * ADC table, so per-query work is (nprobe/nlist of the corpus) ×
    * O(m) — neither a full scan nor full-width vectors. Corpus side
    * stores (cell, codes): one kernel projection per row, zero
    * shuffle before the cell equi-join. Deterministic hash-order
    * quantizer + codebook by default — pass trained `centroids`
    * (cell, centroid) / `codebook` (cid, cvec) frames (e.g.
    * [[Quantizers]] output) when quality matters, the plan is
    * identical; exact-integer ADC keeps the ranking hash-comparable.
    *
    * `residual = true` switches to the FAISS-standard residual
    * encoding: each corpus vector is PQ-encoded as (x − centroid of
    * its cell) and each query builds one ADC table PER PROBED CELL
    * from (q − that cell's centroid), so codewords only have to cover
    * the within-cell spread instead of the whole space — the recall
    * lever that makes composed IVF-PQ usable in practice. Residuals
    * are computed in the same exact integer domain
    * ([[graft.functions.VecFunctions.residual_q]]), so the ranking
    * stays hash-comparable; train the codebook on residuals
    * ([[Quantizers.trainResidualPqCodebook]]) for the matching
    * quality half. Plan shape is unchanged: the per-cell tables add
    * nprobe−1 extra rows per query BEFORE the cell join (still the
    * tiny side), zero new shuffles.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16,
      centroids: Option[DataFrame] = None,
      codebook: Option[DataFrame] = None,
      residual: Boolean = false): DataFrame =
    ivfPqTopKImpl(corpus, queries, idCol, embCol, k, nlist, nprobe, m,
      ksub, centroids, codebook, residual, carryVectors = false)

  /** The codebook folded into ONE array row of (cid, cq), quantized
    * on that single row before broadcast; like [[centroidRow]], the agg
    * consumes a default pick's orderBy+limit directly. pq_encode
    * indexes codewords by ARRAY POSITION, collect_list order is
    * partition-dependent, and an equidistant-codeword tie resolves by
    * position, so `canonical` sorts the array into cid order: encode
    * and every later table build must share ONE total order or a tie
    * could yield different codes across paths (r17 ADVICE). */
  private def codebookRow(cb: DataFrame, canonical: Boolean): DataFrame =
    cb.agg(collect_list(struct(col("cid"), col("cvec"))).as("raw"))
      .select(transform(
        if (canonical) sort_array(col("raw")) else col("raw"),
        c => struct(c("cid").cast("long").as("cid"),
          quantize(c("cvec")).as("cq"))).as("cb"))

  /** The ONE-row lookup frame every IVF-PQ pass scores against: the
    * [[centroidRow]] and the canonical [[codebookRow]] folded together
    * (two stacked BNL joins would square the plan-size estimate and
    * trip the probe-side broadcast gate into a needless sort-merge
    * join). Callers broadcast the result. */
  private def pqLookupArrays(cents: DataFrame, cb: DataFrame): DataFrame =
    centroidRow(cents).crossJoin(codebookRow(cb, canonical = true))

  /** An IVF-PQ model: the given centroids/codebook, or the default
    * hash-order picks of `nlist` centroids and `ksub` codewords. */
  private def pqModel(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, ksub: Int, centroids: Option[DataFrame],
      codebook: Option[DataFrame]): (DataFrame, DataFrame) =
    (centroids.map(_.select(col("cell"), col("centroid"))).getOrElse(
        hashOrderPick(corpus, idCol, embCol, nlist, "cell", "centroid")),
      codebook.map(_.select(col("cid"), col("cvec"))).getOrElse(
        hashOrderPick(corpus, idCol, embCol, ksub, "cid", "cvec")))

  /** Encode the corpus against a (broadcast) lookup frame:
    * (neighbor_id, cell, codes[, emb]) — exactly what an IVF-PQ index
    * stores; `carryEmb` keeps the full-width vector next to the codes
    * (the FAISS refine-store shape). Residual mode: the duplicated
    * cell expression stays a single kernel call via whole-stage
    * subexpression elimination — both uses sit in the same Project. */
  private def pqEncode(corpus: DataFrame, idCol: String, embCol: String,
      lookups: DataFrame, m: Int, residual: Boolean,
      carryEmb: Boolean, qerrKsub: Int = 0): DataFrame = {
    val V = graft.functions.VecFunctions
    val qe = quantize(col("emb"))
    val cell = element_at(V.nearest_cells_q(qe, col("cents"), 1), 1)
    val enc = if (residual) V.residual_q(qe, col("cents"), cell) else qe
    val codes = V.pq_encode(enc, col("cb"), m)
    // qerr = the row's ENCODING error — the ADC distance of its own
    // codes against its own vector's table (Σ_j d2(subvec_j, chosen
    // codeword)); the PQ-specific drift stat [[updateDecision]]
    // gates on. The duplicated `enc` stays one kernel call via
    // whole-stage subexpression elimination (same Project).
    val base = Seq(col("neighbor_id"), cell.as("cell"),
      codes.as("codes")) ++
      (if (carryEmb) Seq(col("emb")) else Nil) ++
      (if (qerrKsub > 0)
        Seq(V.pq_adc(V.pq_table(enc, col("cb"), m), codes, qerrKsub)
          .as("qerr"))
      else Nil)
    corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"))
      .crossJoin(lookups)
      .select(base: _*)
  }

  /** Probe side: each query's `nprobe` nearest cells plus its ADC
    * table (per-cell tables in residual mode — the table projection
    * runs AFTER the explode, |queries|·nprobe rows, still the tiny
    * side). */
  private def pqProbes(queries: DataFrame, idCol: String, embCol: String,
      lookups: DataFrame, nprobe: Int, m: Int, residual: Boolean,
      carryQemb: Boolean): DataFrame = {
    val V = graft.functions.VecFunctions
    if (!residual) {
      val base = Seq(col("query_id"),
        explode(V.nearest_cells_q(quantize(col("qemb")), col("cents"), nprobe))
          .as("cell"),
        V.pq_table(quantize(col("qemb")), col("cb"), m).as("tbl"))
      queries.select(col(idCol).as("query_id"), col(embCol).as("qemb"))
        .crossJoin(lookups)
        .select((if (carryQemb) base :+ col("qemb") else base): _*)
    } else
      queries.select(col(idCol).as("query_id"), col(embCol).as("qemb"))
        .crossJoin(lookups)
        .select(col("query_id"), col("qemb"), col("cents"), col("cb"),
          explode(V.nearest_cells_q(quantize(col("qemb")), col("cents"), nprobe))
            .as("cell"))
        .select((Seq(col("query_id"), col("cell"),
          V.pq_table(V.residual_q(quantize(col("qemb")), col("cents"), col("cell")),
            col("cb"), m).as("tbl")) ++
          (if (carryQemb) Seq(col("qemb")) else Nil)): _*)
  }

  /** ADC-score the probe × coded-row cell join and keep each query's
    * top-`k` (ties on neighbor_id). Any columns beyond the standard
    * triples (probes: query_id/cell/tbl, indexed:
    * neighbor_id/cell/codes) ride through to the output — the
    * carried-vector refine's channel. */
  private def pqAdcRank(probes: DataFrame, indexed: DataFrame,
      ksub: Int, k: Int): DataFrame = {
    val V = graft.functions.VecFunctions
    val carries =
      (probes.columns.toSeq.diff(Seq("query_id", "cell", "tbl")) ++
        indexed.columns.toSeq.diff(Seq("neighbor_id", "cell", "codes")))
        .map(col)
    // the probe plan (BNL + explode) has no usable plan-time size
    // estimate, so the gate usually declines the hint here; that is
    // the designed fallback — AQE's runtime join selection sees the
    // ACTUAL probe size (|queries| × nprobe rows) and converts the
    // cell join back to broadcast when it is small
    val scored = graft.operators.Hints.maybeBroadcast(probes)
      .join(indexed, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select((Seq(col("query_id"), col("neighbor_id"),
        V.pq_adc(col("tbl"), col("codes"), ksub).as("adist")) ++
        carries): _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[ivfPqTopK]] with `carryVectors`: when set, the candidate rows
    * CARRY the full-width query and corpus vectors (`qemb`, `emb`)
    * through the ADC stage, so a refine tier can exact-rescore with a
    * pure projection — no join back to either table. The carried
    * width only rides the candidate frame (|queries|·k rows), never
    * the corpus-sized scored stream's shuffle (the window rank is the
    * only exchange and it sees the same rows either way). */
  private def ivfPqTopKImpl(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int, nlist: Int, nprobe: Int,
      m: Int, ksub: Int,
      centroids: Option[DataFrame],
      codebook: Option[DataFrame],
      residual: Boolean, carryVectors: Boolean): DataFrame = {
    val (cents, cb) =
      pqModel(corpus, idCol, embCol, nlist, ksub, centroids, codebook)
    // ALWAYS canonicalize (r17 ADVICE): ADC distances are
    // permutation-invariant, but the CODES are not — an equidistant-
    // codeword tie resolves by array position, so the fused path and
    // a persisted-index serve must both derive positions from the
    // same total order (cid) or a tie could yield different codes and
    // a data-dependent fused-vs-persisted mismatch.
    val lookups = broadcast(pqLookupArrays(cents, cb))
    pqAdcRank(
      pqProbes(queries, idCol, embCol, lookups, nprobe, m, residual,
        carryQemb = carryVectors),
      pqEncode(corpus, idCol, embCol, lookups, m, residual,
        carryEmb = carryVectors),
      ksub, k)
  }

  /** Build a CODED (IVF-PQ) [[AnnIndex]] over the corpus — the same
    * construction [[ivfPqTopK]] runs inline (default hash-order
    * centroid/codebook picks, or trained quantizers via
    * `centroids`/`codebook`), with the coded rows kept as a frame
    * instead of consumed: each row carries its codes, its encoding
    * error and the full-width vector as the refine store, so serving
    * pays the probe-side work only and the per-run corpus encode
    * disappears. `attrCols` rides into the coded rows as in
    * [[buildIvfIndex]]. */
  def buildPqIndex(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16,
      centroids: Option[DataFrame] = None,
      codebook: Option[DataFrame] = None,
      residual: Boolean = false,
      attrCols: Seq[String] = Nil): AnnIndex = {
    val (cents, cb) =
      pqModel(corpus, idCol, embCol, nlist, ksub, centroids, codebook)
    // the persisted codebook frame carries no position column, so the
    // build's code positions and every later serve's table positions
    // both derive from the same total order — cid (pqLookupArrays
    // canonicalizes unconditionally)
    val lookups = broadcast(pqLookupArrays(cents, cb))
    val coded = pqEncode(corpus, idCol, embCol, lookups, m, residual,
      carryEmb = true, qerrKsub = ksub)
    AnnIndex(cents, withAttrs(coded, corpus, idCol, attrCols), nlist,
      Some(cb), m, ksub, residual)
  }

  /** Filtered serve from a prebuilt coded index —
    * [[ivfServeFilteredTopK]] on the compressed family: the predicate
    * lands BELOW the coded scan (a pushable parquet filter when the
    * index was built with `attrCols`), and only the probed cells'
    * QUALIFYING coded rows are ADC-scored (then exact-refined when
    * `rerank` is set).
    *
    * SELECTIVITY-GATED (r18 VERDICT #5 — the r18 sweep measured
    * recall@10 = 0.149 at ~0.5% selectivity for the ungated form):
    * cells were laid out for the unfiltered distribution, so a
    * selective predicate leaves so few qualifying rows per probed
    * cell that the ADC path pays its full recall loss to scan almost
    * nothing — while EXACT serving of a tiny qualifying set is nearly
    * free. One map-combined count over the predicate-pushed
    * assignment scan decides (the [[filteredTopK]] gate on the
    * compressed family):
    *  - `<= bruteGateRows` qualifying: exact serve — with `rerank`
    *    set, exact quantized-cosine over the carried full-width
    *    REFINE STORE rows (recall 1.0 vs filtered brute by
    *    construction); without, exact ADC (every cell probed);
    *  - above the gate: the ADC path with widened `nprobe` (the
    *    standard deployment mitigation, documented tradeoff).
    * Both branches emit the same schema; `bruteGateRows = 0` turns
    * the gate off (ModelSeamSpec's pure-ADC differential). */
  def ivfPqServeFilteredTopK(index: AnnIndex, queries: DataFrame,
      idCol: String, embCol: String, k: Int, predicate: Column,
      nprobe: Int = 8, rerank: Option[Int] = None,
      bruteGateRows: Long = 1000L): DataFrame =
    ivfPqServeFilteredGated(index, queries, idCol, embCol, k, predicate,
      nprobe, rerank, bruteGateRows)._1

  /** [[ivfPqServeFilteredTopK]] also returning the gate branch
    * (`"brute"` | `"adc"`) and the qualifying-row count, for callers
    * that put the decision in an oracled output (the catalog entry)
    * or a measurement table. */
  def ivfPqServeFilteredGated(index: AnnIndex, queries: DataFrame,
      idCol: String, embCol: String, k: Int, predicate: Column,
      nprobe: Int = 8, rerank: Option[Int] = None,
      bruteGateRows: Long = 1000L,
      precountedQualifying: Option[Long] = None): (DataFrame, String, Long) = {
    val filtered =
      index.copy(assignments = index.assignments.filter(predicate))
    // `precountedQualifying` lets a caller serving SEVERAL predicates
    // against one index fuse the gate counts into a single aggregate
    // pass over the assignment scan (one job instead of one per
    // regime) — the value must equal what the count below would read
    val nQualifying =
      if (bruteGateRows <= 0) Long.MaxValue
      else precountedQualifying.getOrElse(
        filtered.assignments.select(col("neighbor_id")).count())
    if (nQualifying <= bruteGateRows) {
      val served = rerank match {
        case Some(_) =>
          // exact serve over the carried full-width refine store —
          // the same score/rank surface the ADC+refine path emits
          bruteForceTopK(
            filtered.assignments.select(col("neighbor_id").as(idCol),
              col("emb").as(embCol)),
            queries, idCol, embCol, k, quantizedCosineX1e6)
            .select(col("query_id"), col("neighbor_id"),
              col("score").as("score_x1e6"), col("rank"))
        case None =>
          // exact ADC: probe every cell of the qualifying set
          ivfPqServeTopK(filtered, queries, idCol, embCol, k,
            nprobe = Int.MaxValue)
      }
      (served, "brute", nQualifying)
    } else
      (ivfPqServeTopK(filtered, queries, idCol, embCol, k, nprobe,
        rerank), "adc", nQualifying)
  }

  /** Serve top-k from a (possibly loaded) coded index: probes score
    * only the probed cells' CODED rows by ADC — the corpus encode
    * never re-runs — and with `rerank = Some(r)` the top-`r`
    * candidates refine against the full-width vectors the index
    * carries (the join-free carried-vector refine). Identical results
    * to the fused [[ivfPqTopK]]/[[ivfPqRerankTopK]] over the same
    * quantizers, which is what lets the serve entry share the fused
    * oracle. */
  def ivfPqServeTopK(index: AnnIndex, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nprobe: Int = 4,
      rerank: Option[Int] = None): DataFrame = {
    rerank.foreach(r => require(r >= k,
      s"rerank ($r) must be >= k ($k)"))
    val cb = index.codebook.getOrElse(throw new IllegalArgumentException(
      "ADC serving needs a coded index (buildPqIndex)"))
    val lookups = broadcast(pqLookupArrays(index.centroids, cb))
    val carry = rerank.isDefined
    val probes = pqProbes(queries, idCol, embCol, lookups, nprobe,
      index.m, index.residual, carryQemb = carry)
    val indexed =
      if (carry) index.assignments
        .select(col("neighbor_id"), col("cell"), col("codes"), col("emb"))
      else index.assignments
        .select(col("neighbor_id"), col("cell"), col("codes"))
    val cands = pqAdcRank(probes, indexed, index.ksub,
      rerank.getOrElse(k))
    rerank match {
      case None => cands
      case Some(_) =>
        val exact = cands.select(col("query_id"), col("neighbor_id"),
          quantizedCosineX1e6(col("qemb"), col("emb")).as("score_x1e6"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("score_x1e6").desc, col("neighbor_id").asc)
        exact.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
    }
  }

  /** IVF-PQ with an exact re-rank refinement (the standard FAISS
    * refine stage): [[ivfPqTopK]] produces each query's top-`rerank`
    * candidates by compressed ADC distance, then ONLY those
    * |queries|·rerank pairs are re-scored against the full-width
    * vectors with the engine-exact [[quantizedCosineX1e6]] and the
    * final top-k ranks on the exact score. Buys back the recall the
    * m-int codes lose for the cost of `rerank` exact dots per query —
    * negligible next to the candidate scan, and the refine join ships
    * the (tiny) candidate id-list INTO the corpus scan (broadcast,
    * size-gated), never the corpus out.
    *
    * Deterministic end-to-end (ADC integers → quantized-cosine
    * integers), so candidate membership AND final order
    * hash-compare with a SQL oracle.
    */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16, rerank: Int = 32,
      centroids: Option[DataFrame] = None,
      codebook: Option[DataFrame] = None,
      residual: Boolean = false): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // the candidate rows CARRY the full-width vectors through the ADC
    // stage, so the refine tier is a pure projection + re-rank — no
    // join back to either table (two broadcast builds saved per run;
    // the carried width rides only the |queries|·rerank candidate
    // frame). [[rescoreCandidates]] remains the standalone refine API
    // for an id-only candidate list (an external reranker's shape)
    // and RandomDiffSpec pins the two paths identical.
    val cands = ivfPqTopKImpl(corpus, queries, idCol, embCol, rerank,
        nlist, nprobe, m, ksub, centroids, codebook, residual,
        carryVectors = true)
      .select(col("query_id"), col("neighbor_id"),
        quantizedCosineX1e6(col("qemb"), col("emb")).as("score_x1e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_x1e6").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The exact-rescore refinement tier by itself: score the
    * (query_id, neighbor_id) candidate pairs against the full-width
    * vectors with the engine-exact quantized cosine and keep each
    * query's top-`k` on the exact score. Package-private so a
    * profiler times EXACTLY this kernel (not a re-implementation
    * that could silently drift — r16 ADVICE); the candidate id-list
    * broadcasts INTO both vector scans. */
  private[graft] def rescoreCandidates(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, embCol: String,
      k: Int): DataFrame = {
    val V = graft.functions.VecFunctions
    val c = quantNormed(corpus, idCol, embCol, "neighbor_id", "cq", "cnq")
    val q = quantNormed(queries, idCol, embCol, "query_id", "qq", "qnq")
    val exact = graft.operators.Hints.maybeBroadcast(cands)
      .join(c, Seq("neighbor_id"))
      .join(graft.operators.Hints.maybeBroadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        qcosX1e6(V.dot_long(col("qq"), col("cq")), col("qnq"), col("cnq"))
          .as("score_x1e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_x1e6").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
