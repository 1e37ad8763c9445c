package graft
package catalog

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries._

/** ANN search and embeddings: exact, LSH, IVF and PQ top-k, index
  * serve / update / rebuild, and embedding stats and dedup.
  */
private[graft] object AnnEntries {

  private val annTopkDot: Q = (s, dir) => {
    val emb = embT(s, dir)
    graft.llm.SimilarityOps.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }
  private val annTopkDotOracle =
    """WITH qz AS (SELECT vec_id AS query_id,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id < 20),
      |cz AS (SELECT vec_id AS neighbor_id,
      |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
      |  FROM embeddings),
      |scored AS (SELECT query_id, neighbor_id,
      |  CAST(list_dot_product(qv, cv) AS BIGINT) AS score
      |  FROM qz, cz WHERE query_id <> neighbor_id)
      |SELECT query_id, neighbor_id, score,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
      |FROM scored
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= 5""".stripMargin

  // Embedding-cosine near-dup: multi-table sign-LSH candidates +
  // integer-exact cosine-threshold verification — deterministic across
  // engines, full DuckDB oracle (the dedup-by-embedding path; the
  // float ANN variants below stay rows-only).
  private val embNearDup: Q = (s, dir) =>
    graft.llm.SimilarityOps.cosineNearDupPairs(
      embT(s, dir), "vec_id", "embedding")
  private val embNearDupOracle = {
    def proj(p: Int) =
      s"list_sum(list_transform(range(len(q)), d -> " +
        s"((((tbl*6+$p)*31 + d) * 2654435761) % 2147483648 - 1073741824) * q[d+1]))"
    val bits = (0 until 6)
      .map(p => s"(CASE WHEN ${proj(p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT id, q, list_sum(list_transform(q, v -> v*v)) AS nq FROM e),
      |bands AS (
      |  SELECT id, q, nq, t.tbl AS tbl, $bits AS bucket
      |  FROM n, (SELECT unnest(range(4)) AS tbl) t),
      |p AS (
      |  SELECT DISTINCT a.id AS id1, b2.id AS id2,
      |    CAST(list_dot_product(a.q, b2.q) AS BIGINT) AS dot_q, a.nq AS nq1, b2.nq AS nq2
      |  FROM bands a JOIN bands b2
      |    ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.id < b2.id)
      |SELECT id1, id2, dot_q FROM p
      |WHERE dot_q > 0 AND dot_q*dot_q*100 >= 9*nq1*nq2""".stripMargin
  }

  // SemDeDup-style semantic dedup: the near-dup pair graph above,
  // collapsed to connected components with a canonical (min-id)
  // representative per component — the "keep one per semantic
  // duplicate group" operator a curation pipeline actually runs.
  private val embSemDedup: Q = (s, dir) =>
    graft.llm.SimilarityOps.semanticDedup(
        embT(s, dir), "vec_id", "embedding")
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_canonical"))
  private val embSemDedupOracle = {
    def proj(p: Int) =
      s"list_sum(list_transform(range(len(q)), d -> " +
        s"((((tbl*6+$p)*31 + d) * 2654435761) % 2147483648 - 1073741824) * q[d+1]))"
    val bits = (0 until 6)
      .map(p => s"(CASE WHEN ${proj(p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH RECURSIVE e AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT id, q, list_sum(list_transform(q, v -> v*v)) AS nq FROM e),
      |bands AS (
      |  SELECT id, q, nq, t.tbl AS tbl, $bits AS bucket
      |  FROM n, (SELECT unnest(range(4)) AS tbl) t),
      |p AS (
      |  SELECT DISTINCT a.id AS id1, b2.id AS id2,
      |    CAST(list_dot_product(a.q, b2.q) AS BIGINT) AS dot_q, a.nq AS nq1, b2.nq AS nq2
      |  FROM bands a JOIN bands b2
      |    ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.id < b2.id),
      |pairs AS (
      |  SELECT id1, id2 FROM p
      |  WHERE dot_q > 0 AND dot_q*dot_q*100 >= 9*nq1*nq2),
      |undir AS (SELECT id1 AS a, id2 AS b FROM pairs
      |          UNION ALL SELECT id2, id1 FROM pairs),
      |reach(src, dst) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT r.src, ed.b FROM reach r JOIN undir ed ON r.dst = ed.a)
      |SELECT src AS vec_id, min(dst) AS cluster_id,
      |  CAST(src = min(dst) AS INT) AS is_canonical
      |FROM reach GROUP BY 1""".stripMargin
  }

  // Int8 embedding quantization: symmetric-scale codes with scalar
  // evidence (position-weighted checksum + saturation count).
  private val embInt8Quant: Q = (s, dir) =>
    graft.llm.SimilarityOps.int8QuantStats(embT(s, dir), "vec_id", "embedding")
  private val embInt8QuantOracle =
    """WITH z AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |m AS (SELECT vec_id, q, list_max(list_transform(q, v -> abs(v))) AS max_q FROM z),
      |c AS (
      |  SELECT vec_id, max_q,
      |    list_transform(q, v -> CASE WHEN max_q = 0 THEN 0
      |      WHEN v >= 0 THEN CAST(floor(v * 127 / max_q) AS BIGINT)
      |      ELSE -CAST(floor(-v * 127 / max_q) AS BIGINT) END) AS codes
      |  FROM m)
      |SELECT vec_id, CAST(max_q AS BIGINT) AS max_q,
      |  CAST(coalesce(list_sum(list_transform(range(len(codes)),
      |    i -> codes[i+1] * (i+1))), 0) AS BIGINT) AS code_checksum,
      |  CAST(len(list_filter(codes, x -> abs(x) = 127)) AS INT) AS n_sat
      |FROM c""".stripMargin

  private val annCosineTopk: Q = (s, dir) => {
    val emb = embT(s, dir)
    graft.llm.SimilarityOps.bruteForceTopKPortable(
        emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("score_x1e6"), col("rank"))
  }
  /** `CASE … END` quantized-cosine score between two (q, nq) pairs —
    * the SQL mirror of [[graft.llm.SimilarityOps.quantizedCosineX1e6]].
    */
  private def qcosSql(aq: String, anq: String, bq: String, bnq: String): String =
    s"""CASE WHEN $anq = 0 OR $bnq = 0 THEN 0
       |ELSE CAST(floor(CAST(list_dot_product($aq, $bq) AS DOUBLE) * 1000000
       |     / sqrt(CAST($anq * $bnq AS DOUBLE))) AS BIGINT) END""".stripMargin
  private val quantNormCte =
    """WITH e AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT id, q, CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq FROM e)""".stripMargin
  private val annCosineTopkOracle =
    s"""$quantNormCte,
      |scored AS (
      |  SELECT a.id AS query_id, b.id AS neighbor_id,
      |    ${qcosSql("a.q", "a.nq", "b.q", "b.nq")} AS score_x1e6
      |  FROM n a, n b WHERE a.id < 20 AND a.id <> b.id)
      |SELECT query_id, neighbor_id, score_x1e6,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) AS INT) AS rank
      |FROM scored
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) <= 5""".stripMargin

  // LSH top-k via the portable sign-bucket family (same construction
  // embNearDup uses) + quantized-cosine ranking: the whole approximate
  // result — candidate membership AND order — is engine-exact.
  private val annLshTopk: Q = (s, dir) => {
    val emb = embT(s, dir)
    graft.llm.SimilarityOps.lshTopKPortable(
        emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("score_x1e6"), col("rank"))
  }
  private val annLshTopkOracle = {
    def proj(p: Int) =
      s"list_sum(list_transform(range(len(q)), d -> " +
        s"((((tbl*6+$p)*31 + d) * 2654435761) % 2147483648 - 1073741824) * q[d+1]))"
    val bits = (0 until 6)
      .map(p => s"(CASE WHEN ${proj(p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    s"""$quantNormCte,
      |bands AS (
      |  SELECT id, q, nq, t.tbl AS tbl, $bits AS bucket
      |  FROM n, (SELECT unnest(range(4)) AS tbl) t),
      |cands AS (
      |  SELECT DISTINCT qb.id AS query_id, cb.id AS neighbor_id,
      |    ${qcosSql("qb.q", "qb.nq", "cb.q", "cb.nq")} AS score_x1e6
      |  FROM bands qb JOIN bands cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
      |  WHERE qb.id < 20 AND qb.id <> cb.id)
      |SELECT query_id, neighbor_id, score_x1e6,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) AS INT) AS rank
      |FROM cands
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) <= 5""".stripMargin
  }
  // embedding column statistics with exact integer arithmetic
  private val embStats: Q = (s, dir) =>
    embT(s, dir).select(
      col("vec_id"), col("label"),
      size(col("embedding")).cast("long").as("dims"),
      aggregate(
        transform(col("embedding"), x =>
          floor(x.cast("double") * 1000).cast("long") *
            floor(x.cast("double") * 1000).cast("long")),
        lit(0L), (acc, v) => acc + v).as("sq_norm_q"),
      aggregate(
        transform(col("embedding"), x =>
          when(x > 0f, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v).as("n_positive"))
  private val embStatsOracle =
    """SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dims,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |       * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS sq_norm_q,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_positive
      |FROM embeddings""".stripMargin

  // IVF top-k with deterministic hash-order centroids (the nlist ids
  // minimizing the overflow-safe Knuth hash — no count() pre-scan, no
  // dense-id assumption) + quantized-cosine assignment/probe/rank —
  // cell membership and final order both engine-exact (nlist=16,
  // nprobe=4 mirrored in the SQL literals).
  private val annIvfTopk: Q = (s, dir) => {
    val emb = embT(s, dir)
    graft.llm.SimilarityOps.ivfTopK(
        emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5,
        score = graft.llm.SimilarityOps.quantizedCosineX1e6)
      .select(col("query_id"), col("neighbor_id"),
        col("score").as("score_x1e6"), col("rank"))
  }
  // PERSISTED IVF INDEX SERVE — the fifth persistence seam: the plain
  // form of the one persisted ANN index (SimilarityOps.AnnIndex:
  // centroids + per-cell assignment lists, the artifact every
  // production vector store builds once and probes many times) is
  // staged per embeddings fingerprint through the shared seam
  // contract (tableKey + stageOnce: atomic publish, _SUCCESS, never
  // rebuilt) and the entry serves from the LOADED index — the
  // assignment pass never re-runs at query time. Oracle is identical
  // to q_ann_ivf_topk's: "the persisted index serves bit-identically
  // to the in-session build+serve" is the hash-compared surface.
  private[graft] def ivfIndexStaged(s: SparkSession, dir: String): String =
    // assignment lists carry the label attribute so filtered serves
    // can push predicates into the persisted scan (the seam contract's
    // layout-change rule: bump the version literal)
    graft.sources.Staging.staged("graft_ivf_index_v3", dir,
        Seq("embeddings")) { tmp =>
      graft.llm.SimilarityOps.saveAnnIndex(
        graft.llm.SimilarityOps.buildIvfIndex(
          embT(s, dir), "vec_id", "embedding", attrCols = Seq("label")), tmp)
    }
  private val annIndexServe: Q = (s, dir) => {
    val ix = graft.llm.SimilarityOps.loadAnnIndex(s, ivfIndexStaged(s, dir))
    graft.llm.SimilarityOps.ivfServeTopK(ix,
        embT(s, dir).filter(col("vec_id") < 20), "vec_id", "embedding", 5,
        score = graft.llm.SimilarityOps.quantizedCosineX1e6)
      .select(col("query_id"), col("neighbor_id"),
        col("score").as("score_x1e6"), col("rank"))
  }

  // FILTERED SERVE FROM THE PREBUILT INDEX — the other half of the
  // filtered-ANN story: q_ann_filtered_topk ADAPTS the index to the
  // predicate per query batch; this serves predicate + top-k against
  // the index built ONCE over the full corpus (what a deployed store
  // does between rebuilds). The predicate lands on the persisted
  // assignment lists (label is carried in the _v2 index layout, so
  // the filter is a pushable parquet predicate); only the probed
  // cells' qualifying members are scored. nprobe = 8 (double the
  // unfiltered default) — the standard deployment mitigation for the
  // inherent cells-laid-out-unfiltered recall tradeoff, which the
  // scaladoc and spec document rather than hide.
  private val annFilteredServe: Q = (s, dir) => {
    val ix = graft.llm.SimilarityOps.loadAnnIndex(s, ivfIndexStaged(s, dir))
    graft.llm.SimilarityOps.ivfServeFilteredTopK(ix,
        embT(s, dir).filter(col("vec_id") < 20), "vec_id", "embedding", 5,
        predicate = col("label") % 4 =!= 0, nprobe = 8,
        score = graft.llm.SimilarityOps.quantizedCosineX1e6)
      .select(col("query_id"), col("neighbor_id"),
        col("score").as("score_x1e6"), col("rank"))
  }
  private val annFilteredServeOracle =
    s"""WITH e AS (
      |  SELECT vec_id AS id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT id, label, q,
      |        CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |      FROM e),
      |cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM n
      |         ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |         LIMIT 16),
      |assigned AS (
      |  SELECT neighbor_id, label, q, nq, cell FROM (
      |    SELECT v.id AS neighbor_id, v.label AS label, v.q AS q,
      |      v.nq AS nq, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, q, nq, cell FROM (
      |    SELECT v.id AS query_id, v.q AS q, v.nq AS nq, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c WHERE v.id < 20) WHERE rn <= 8),
      |scored AS (
      |  SELECT p.query_id, a.neighbor_id,
      |    ${qcosSql("p.q", "p.nq", "a.q", "a.nq")} AS score_x1e6
      |  FROM probes p JOIN assigned a ON p.cell = a.cell
      |  WHERE p.query_id <> a.neighbor_id AND a.label % 4 <> 0)
      |SELECT query_id, neighbor_id, score_x1e6,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) AS INT) AS rank
      |FROM scored
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) <= 5""".stripMargin

  // INCREMENTAL IVF INDEX UPDATE — the corpus APPENDS between
  // rebuilds (VERDICT r15 #5): the staged artifact is built over 75%
  // of the corpus (vec_id % 4 != 0), then the remaining 25% is
  // APPENDED through SimilarityOps.appendToAnnIndex — assigned to the
  // EXISTING centroids, assignment rows appended to assign/ in place
  // (the banded-projection append-only contract applied to ANN;
  // centroids/ immutable between rebuilds). The entry serves from the
  // updated persisted index; the ORACLE picks centroids from the BASE
  // subset but assigns the WHOLE corpus — i.e. it IS the
  // rebuilt-with-same-centroids index — so "serve-after-append ==
  // serve-over-rebuilt" is the hash-compared surface. Recall drift vs
  // fresh centroids is measured separately (r16 drift curve, COVERAGE).
  private def ivfUpdatedIndexStaged(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_ivf_index_upd_v2", dir,
        Seq("embeddings")) { tmp =>
      val So = graft.llm.SimilarityOps
      So.saveAnnIndex(So.buildIvfIndex(
        embT(s, dir).filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding"), tmp)
      So.appendToAnnIndex(s, tmp,
        embT(s, dir).filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding")
    }
  private val annIndexUpdate: Q = (s, dir) => {
    val ix = graft.llm.SimilarityOps.loadAnnIndex(s,
      ivfUpdatedIndexStaged(s, dir))
    graft.llm.SimilarityOps.ivfServeTopK(ix,
        embT(s, dir).filter(col("vec_id") < 20), "vec_id", "embedding", 5,
        score = graft.llm.SimilarityOps.quantizedCosineX1e6)
      .select(col("query_id"), col("neighbor_id"),
        col("score").as("score_x1e6"), col("rank"))
  }
  /** IVF top-5 by quantized cosine: 16 hash-ordered centroids drawn
    * from the rows `centWhere` keeps, each row assigned to its nearest
    * centroid, the 20 query rows probing their 4 nearest cells. */
  private def ivfTopkOracle(centWhere: Option[String]): String = {
    val where = centWhere.fold("")(p => s"\n         WHERE $p")
    s"""$quantNormCte,
      |cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM n$where
      |         ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |         LIMIT 16),
      |assigned AS (
      |  SELECT neighbor_id, q, nq, cell FROM (
      |    SELECT v.id AS neighbor_id, v.q AS q, v.nq AS nq, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, q, nq, cell FROM (
      |    SELECT v.id AS query_id, v.q AS q, v.nq AS nq, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c WHERE v.id < 20) WHERE rn <= 4),
      |scored AS (
      |  SELECT p.query_id, a.neighbor_id,
      |    ${qcosSql("p.q", "p.nq", "a.q", "a.nq")} AS score_x1e6
      |  FROM probes p JOIN assigned a ON p.cell = a.cell
      |  WHERE p.query_id <> a.neighbor_id)
      |SELECT query_id, neighbor_id, score_x1e6,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) AS INT) AS rank
      |FROM scored
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) <= 5""".stripMargin
  }

  private val annIndexUpdateOracle = ivfTopkOracle(Some("id % 4 <> 0"))

  // DRIFT-GATED IVF REBUILD (VERDICT r16 #3 — make something CONSUME
  // the r16 drift finding, COVERAGE): q_ann_index_update appends forever
  // against immutable centroids; here every incoming batch is
  // measured first (SimilarityOps.annGatedUpdate — the batch's max
  // single-cell share under the EXISTING centroids, a counter-sized
  // stat the append's own assignment pass computes for free) and the
  // gate picks append vs REBUILD-with-fresh-centroids; the decision
  // row persists into the artifact's drift/ half. Two regimes staged
  // through the seam, the BRANCH AND THE MEASURED STAT in the
  // hash-compared output:
  //   iid:   the %4 split — batch spreads like the corpus (max share
  //          ≤ 13% at every SF) → append; serving == the
  //          rebuilt-same-centroids oracle (the index-update surface);
  //   drift: every batch vector REPLACED by the vec_id=1 donor — the
  //          whole batch lands in ONE cell (share = 1) → rebuild;
  //          serving == fresh hash-order centroids over the GROWN
  //          corpus, which the oracle builds from scratch.
  // A wrong gate call fails the hash on branch, stat, AND the served
  // neighbors (append vs rebuild serve differently by construction).
  private def ivfGatedIndexStaged(s: SparkSession, dir: String,
      regime: String): String =
    graft.sources.Staging.staged(s"graft_ivf_gated_${regime}_v2", dir,
        Seq("embeddings")) { tmp =>
      val So = graft.llm.SimilarityOps
      val emb = embT(s, dir)
      So.saveAnnIndex(So.buildIvfIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding"), tmp)
      val batch =
        if (regime == "drift") {
          // planted drift: the whole batch carries one donor vector
          // (1-row broadcast scalar — the slice-count-guard shape)
          val donor = emb.filter(col("vec_id") === 1)
            .select(col("embedding").as("demb"))
          emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"))
            .crossJoin(broadcast(donor))
            .select(col("vec_id"), col("demb").as("embedding"))
        } else emb.filter(col("vec_id") % 4 === 0)
          .select("vec_id", "embedding")
      So.annGatedUpdate(s, tmp, batch, "vec_id", "embedding")
    }
  private val annIndexRebuild: Q = (s, dir) => {
    val So = graft.llm.SimilarityOps
    def one(regime: String) = {
      val root = ivfGatedIndexStaged(s, dir, regime)
      val ix = So.loadAnnIndex(s, root)
      val drift = So.loadAnnDrift(s, root).head() // exactly one update
      // queries = the regime corpus's own rows (the drifted batch
      // queries with its drifted vectors), read from the index itself
      val queries = ix.assignments.filter(col("neighbor_id") < 20)
        .select(col("neighbor_id").as("vec_id"),
          col("emb").as("embedding"))
      So.ivfServeTopK(ix, queries, "vec_id", "embedding", 5,
          score = So.quantizedCosineX1e6)
        .select(lit(regime).as("regime"),
          lit(drift.getString(0)).as("branch"),
          lit(drift.getLong(1)).as("max_cell_cnt"),
          lit(drift.getLong(2)).as("batch_rows"),
          col("query_id"), col("neighbor_id"),
          col("score").as("score_x1e6"), col("rank"))
    }
    one("iid").unionByName(one("drift"))
  }
  private val annIndexRebuildOracle = {
    // serve top-5 (nprobe 4) over `cent` + `corpus`, emitting the
    // regime/branch literals and the drift stat computed from `stat`
    def serve(prefix: String, regime: String, branch: String) =
      s"""${prefix}assigned AS (
        |  SELECT neighbor_id, q, nq, cell FROM (
        |    SELECT v.id AS neighbor_id, v.q AS q, v.nq AS nq,
        |      c.cell AS cell,
        |      row_number() OVER (PARTITION BY v.id
        |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
        |    FROM ${prefix}n v, ${prefix}cent c) WHERE rn = 1),
        |${prefix}probes AS (
        |  SELECT query_id, q, nq, cell FROM (
        |    SELECT v.id AS query_id, v.q AS q, v.nq AS nq, c.cell AS cell,
        |      row_number() OVER (PARTITION BY v.id
        |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
        |    FROM ${prefix}n v, ${prefix}cent c WHERE v.id < 20) WHERE rn <= 4),
        |${prefix}scored AS (
        |  SELECT p.query_id, a.neighbor_id,
        |    ${qcosSql("p.q", "p.nq", "a.q", "a.nq")} AS score_x1e6
        |  FROM ${prefix}probes p JOIN ${prefix}assigned a ON p.cell = a.cell
        |  WHERE p.query_id <> a.neighbor_id),
        |${prefix}out AS (
        |  SELECT '$regime' AS regime, '$branch' AS branch,
        |    query_id, neighbor_id, score_x1e6,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_x1e6 DESC, neighbor_id) AS INT) AS rank
        |  FROM ${prefix}scored
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_x1e6 DESC, neighbor_id) <= 5)""".stripMargin
    s"""WITH e0 AS (SELECT vec_id AS id, embedding FROM embeddings),
      |donor AS (SELECT embedding AS demb FROM embeddings WHERE vec_id = 1),
      |-- iid regime: original vectors, base centroids (id % 4 <> 0),
      |-- gate stays append -> serve over base centroids + whole corpus
      |in0 AS (SELECT id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM e0),
      |i_n AS (SELECT id, q,
      |    CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |  FROM in0),
      |i_cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM i_n
      |           WHERE id % 4 <> 0
      |           ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |           LIMIT 16),
      |i_stat AS (
      |  SELECT CAST(max(cnt) AS BIGINT) AS max_cell_cnt,
      |         CAST(sum(cnt) AS BIGINT) AS batch_rows
      |  FROM (SELECT cell, count(*) AS cnt FROM (
      |    SELECT cell FROM (
      |      SELECT v.id, c.cell,
      |        row_number() OVER (PARTITION BY v.id
      |          ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |      FROM i_n v, i_cent c WHERE v.id % 4 = 0) WHERE rn = 1)
      |    GROUP BY cell)),
      |${serve("i_", "iid", "append")},
      |-- drift regime: batch vectors replaced by the donor, gate fires
      |-- rebuild -> serve over FRESH centroids from the grown corpus
      |d_e AS (SELECT id,
      |    CASE WHEN id % 4 = 0 THEN (SELECT demb FROM donor)
      |         ELSE embedding END AS embedding
      |  FROM e0),
      |dn0 AS (SELECT id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM d_e),
      |d_n AS (SELECT id, q,
      |    CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |  FROM dn0),
      |d_cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM d_n
      |           ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |           LIMIT 16),
      |d_bcent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM d_n
      |            WHERE id % 4 <> 0
      |            ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |            LIMIT 16),
      |d_stat AS (
      |  SELECT CAST(max(cnt) AS BIGINT) AS max_cell_cnt,
      |         CAST(sum(cnt) AS BIGINT) AS batch_rows
      |  FROM (SELECT cell, count(*) AS cnt FROM (
      |    SELECT cell FROM (
      |      SELECT v.id, c.cell,
      |        row_number() OVER (PARTITION BY v.id
      |          ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |      FROM d_n v, d_bcent c WHERE v.id % 4 = 0) WHERE rn = 1)
      |    GROUP BY cell)),
      |${serve("d_", "drift", "rebuild")}
      |SELECT o.regime, o.branch, s.max_cell_cnt, s.batch_rows,
      |       o.query_id, o.neighbor_id, o.score_x1e6, o.rank
      |FROM i_out o, i_stat s
      |UNION ALL
      |SELECT o.regime, o.branch, s.max_cell_cnt, s.batch_rows,
      |       o.query_id, o.neighbor_id, o.score_x1e6, o.rank
      |FROM d_out o, d_stat s""".stripMargin
  }

  // Cluster-balanced diversity sample: nearest-cell assignment (same
  // kernel + hash-order centroids as q_ann_ivf_topk), at most 5 kept
  // per cell in multiplicative-hash order.
  private val embClusterSample: Q = (s, dir) =>
    graft.llm.SimilarityOps.clusterSample(
      embT(s, dir), "vec_id", "embedding", 5)
  private val embClusterSampleOracle =
    s"""$quantNormCte,
      |cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM n
      |         ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |         LIMIT 16),
      |assigned AS (
      |  SELECT neighbor_id, cell FROM (
      |    SELECT v.id AS neighbor_id, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c) WHERE rn = 1)
      |SELECT neighbor_id AS vec_id, CAST(cell AS BIGINT) AS cell, CAST(rnk AS INT) AS rnk
      |FROM (SELECT neighbor_id, cell,
      |        row_number() OVER (PARTITION BY cell
      |          ORDER BY (neighbor_id & 2147483647) * 2654435761, neighbor_id) AS rnk
      |      FROM assigned)
      |WHERE rnk <= 5""".stripMargin

  private val annIvfTopkOracle = ivfTopkOracle(None)
  // FILTERED ANN (predicate + vector top-k — the production vector-
  // search shape): SimilarityOps.filteredTopK with label % 4 <> 0 as
  // the attribute predicate, pushed below the cell scan, and the
  // measured-scalar gate choosing exact-brute vs IVF. The ORACLE
  // replicates the gate decision itself (count CTE guarding each
  // branch), so the correctness harness validates the BRUTE branch at
  // sf0.001/sf0.01 (350 qualifying rows <= 1000) and the IVF branch
  // at sf0.1 (1387 > 1000) — the flip is exercised by the gate, not
  // just a spec. IVF centroids come from the FILTERED set (hash
  // order), mirrored in the cent CTE.
  private val annFilteredTopk: Q = (s, dir) => {
    val emb = embT(s, dir)
    graft.llm.SimilarityOps.filteredTopK(
        emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5,
        predicate = col("label") % 4 =!= 0,
        score = graft.llm.SimilarityOps.quantizedCosineX1e6,
        bruteGateRows = 1000L)
      .select(col("query_id"), col("neighbor_id"),
        col("score").as("score_x1e6"), col("rank"))
  }
  private val annFilteredTopkOracle = {
    val quant =
      "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))"
    s"""WITH fe AS (
      |  SELECT vec_id AS id, $quant AS q
      |  FROM embeddings WHERE label % 4 <> 0),
      |n AS (SELECT id, q,
      |        CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |      FROM fe),
      |cnt AS (SELECT count(*) AS c FROM n),
      |qe AS (
      |  SELECT vec_id AS id, $quant AS q
      |  FROM embeddings WHERE vec_id < 20),
      |qn AS (SELECT id, q,
      |        CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |      FROM qe),
      |bruter AS (
      |  SELECT query_id, neighbor_id, score_x1e6,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_x1e6 DESC, neighbor_id) AS rnk
      |  FROM (
      |    SELECT p.id AS query_id, a.id AS neighbor_id,
      |      ${qcosSql("p.q", "p.nq", "a.q", "a.nq")} AS score_x1e6
      |    FROM qn p, n a WHERE p.id <> a.id)),
      |cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM n
      |         ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |         LIMIT 16),
      |assigned AS (
      |  SELECT neighbor_id, q, nq, cell FROM (
      |    SELECT v.id AS neighbor_id, v.q AS q, v.nq AS nq, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, q, nq, cell FROM (
      |    SELECT v.id AS query_id, v.q AS q, v.nq AS nq, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM qn v, cent c) WHERE rn <= 4),
      |ivfr AS (
      |  SELECT query_id, neighbor_id, score_x1e6,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_x1e6 DESC, neighbor_id) AS rnk
      |  FROM (
      |    SELECT p.query_id, a.neighbor_id,
      |      ${qcosSql("p.q", "p.nq", "a.q", "a.nq")} AS score_x1e6
      |    FROM probes p JOIN assigned a ON p.cell = a.cell
      |    WHERE p.query_id <> a.neighbor_id))
      |SELECT query_id, neighbor_id, score_x1e6, CAST(rnk AS INT) AS rank
      |FROM bruter WHERE rnk <= 5 AND (SELECT c FROM cnt) <= 1000
      |UNION ALL
      |SELECT query_id, neighbor_id, score_x1e6, CAST(rnk AS INT) AS rank
      |FROM ivfr WHERE rnk <= 5 AND (SELECT c FROM cnt) > 1000""".stripMargin
  }

  // PQ top-k — the compression tier of the ANN ladder. Codes, ADC
  // tables and distances are exact integer math over the quantized
  // vectors, so the oracle mirrors everything: the dist CTE (per
  // vector × subspace × codeword integer L2) serves BOTH the encode
  // argmin and the query-side table lookups (m=8, ksub=16, dims=64
  // mirrored in the literals; codes use 0-based codebook POSITION
  // with position tie-break).
  // withSmallShuffle + coalesce(4): same counter-sized-frame rationale
  // as the IVF-PQ family (see annIvfPqTopk) — the PQ passes are map
  // stages over the 2000-row demo corpus
  private val annPqTopk: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val emb = embT(s, dir).coalesce(4)
    graft.llm.SimilarityOps.pqTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
  }
  private val annPqTopkOracle =
    s"""$quantNormCte,
      |cb AS (SELECT q AS cq,
      |         CAST(row_number() OVER (
      |           ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id) AS INT) - 1 AS cpos
      |       FROM n
      |       ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |       LIMIT 16),
      |dist AS (
      |  SELECT v.id AS vid, CAST(t.j AS INT) AS j, c.cpos AS c,
      |    CAST(list_sum(list_transform(range(8),
      |      i -> (v.q[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - c.cq[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1])
      |         * (v.q[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - c.cq[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1]))) AS BIGINT) AS d2
      |  FROM n v, (SELECT unnest(range(8)) AS j) t, cb c),
      |codes AS (
      |  SELECT vid, j, c FROM (
      |    SELECT vid, j, c,
      |      row_number() OVER (PARTITION BY vid, j ORDER BY d2, c) AS rn
      |    FROM dist) WHERE rn = 1),
      |adist AS (
      |  SELECT dq.vid AS query_id, cx.vid AS neighbor_id,
      |    CAST(sum(dq.d2) AS BIGINT) AS adist
      |  FROM codes cx JOIN dist dq ON dq.j = cx.j AND dq.c = cx.c
      |  WHERE dq.vid < 20 AND dq.vid <> cx.vid
      |  GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, adist,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rank
      |FROM adist
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 5""".stripMargin

  // IVF-PQ — the composed big-corpus ANN shape: candidates pruned to
  // the query's nprobe cells (quantized-cosine assignment, same CTEs
  // as q_ann_ivf_topk), each scored from its PQ code via the query's
  // ADC table (same dist CTE as q_ann_pq_topk). Exact integer math
  // end-to-end, so membership AND ranking hash-compare.
  // coalesce(4): the PQ passes (quantize, encode, probe) are map
  // stages over the 2000-row demo corpus — 32 cached partitions cost
  // 32 task dispatches per pass for microseconds of work each
  // (r17, COVERAGE.md Round-17: 0.84-0.93 s -> 0.63-0.70 s). At scale the map
  // DOP tracks bytes (maxPartitionBytes); the constant is this demo
  // corpus's counter-sized choice, same rationale as withSmallShuffle.
  private val annIvfPqTopk: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val emb = embT(s, dir).coalesce(4)
    graft.llm.SimilarityOps.ivfPqTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
  }
  // quantizer/codebook + cell assignment/probing CTEs shared by every
  // IVF-PQ oracle (plain, rerank, residual)
  private val annIvfPqFrontCtes =
    s"""$quantNormCte,
      |cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM n
      |         ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |         LIMIT 16),
      |cb AS (SELECT q AS cbq,
      |         CAST(row_number() OVER (
      |           ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id) AS INT) - 1 AS cpos
      |       FROM n
      |       ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
      |       LIMIT 16),
      |assigned AS (
      |  SELECT neighbor_id, cell FROM (
      |    SELECT v.id AS neighbor_id, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT v.id AS query_id, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, cent c WHERE v.id < 20) WHERE rn <= 4)""".stripMargin
  // the CTE chain through per-pair ADC distance, shared by the plain
  // IVF-PQ oracle (ranks on adist) and the rerank oracle (takes
  // top-32 by adist, re-scores those pairs with the exact quantized
  // cosine, ranks on that)
  private val annIvfPqAdistCtes =
    s"""$annIvfPqFrontCtes,
      |dist AS (
      |  SELECT v.id AS vid, CAST(t.j AS INT) AS j, c.cpos AS c,
      |    CAST(list_sum(list_transform(range(8),
      |      i -> (v.q[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - c.cbq[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1])
      |         * (v.q[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - c.cbq[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1]))) AS BIGINT) AS d2
      |  FROM n v, (SELECT unnest(range(8)) AS j) t, cb c),
      |codes AS (
      |  SELECT vid, j, c FROM (
      |    SELECT vid, j, c,
      |      row_number() OVER (PARTITION BY vid, j ORDER BY d2, c) AS rn
      |    FROM dist) WHERE rn = 1),
      |adist AS (
      |  SELECT p.query_id, a.neighbor_id, CAST(sum(dq.d2) AS BIGINT) AS adist
      |  FROM probes p
      |  JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.neighbor_id
      |  JOIN codes cx ON cx.vid = a.neighbor_id
      |  JOIN dist dq ON dq.vid = p.query_id AND dq.j = cx.j AND dq.c = cx.c
      |  GROUP BY 1, 2)""".stripMargin
  private val annIvfPqTopkOracle =
    s"""$annIvfPqAdistCtes
      |SELECT query_id, neighbor_id, adist,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rank
      |FROM adist
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 5""".stripMargin

  // IVF-PQ + exact re-rank (FAISS refine): top-32 by compressed ADC,
  // re-scored pair-by-pair with the exact quantized cosine.
  private val annIvfPqRerank: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val emb = embT(s, dir).coalesce(4) // see annIvfPqTopk
    graft.llm.SimilarityOps.ivfPqRerankTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
  }

  // PERSISTED IVF-PQ INDEX SERVE — the coded form of the one persisted
  // ANN index (build-once/serve-many for the COMPRESSED family, the
  // seventh persistence seam): the coarse centroids, PQ codebook, coded
  // corpus rows and the full-width refine store are staged once per
  // embeddings fingerprint (SimilarityOps.buildPqIndex/saveAnnIndex
  // through the shared seam contract) and the entry serves rerank=32 →
  // top-5 from the LOADED index — the per-run corpus encode of the
  // fused entries never runs at query time. Oracle is IDENTICAL to
  // q_ann_ivfpq_rerank's: "the persisted coded index serves
  // bit-identically to the in-session build+refine" is the
  // hash-compared surface.
  private def pqIndexStaged(s: SparkSession, dir: String): String =
    // coded rows carry the label attribute (filtered serves push
    // predicates into the persisted scan) and the per-row encoding
    // error + meta baseline (the drift gate's stats) — the seam
    // contract's layout-change rule: bump the version literal
    graft.sources.Staging.staged("graft_pq_index_v3", dir,
        Seq("embeddings")) { tmp =>
      graft.llm.SimilarityOps.saveAnnIndex(
        graft.llm.SimilarityOps.buildPqIndex(
          embT(s, dir), "vec_id", "embedding",
          attrCols = Seq("label")), tmp)
    }
  private val annIvfPqServe: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val ix = graft.llm.SimilarityOps.loadAnnIndex(s, pqIndexStaged(s, dir))
    graft.llm.SimilarityOps.ivfPqServeTopK(ix,
      embT(s, dir).coalesce(4).filter(col("vec_id") < 20),
      "vec_id", "embedding", 5, rerank = Some(32))
  }
  private val annIvfPqRerankOracle =
    s"""$annIvfPqAdistCtes,
      |cands AS (
      |  SELECT query_id, neighbor_id FROM adist
      |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 32),
      |exact AS (
      |  SELECT cd.query_id, cd.neighbor_id,
      |    ${qcosSql("qn.q", "qn.nq", "cn.q", "cn.nq")} AS score_x1e6
      |  FROM cands cd
      |  JOIN n qn ON qn.id = cd.query_id
      |  JOIN n cn ON cn.id = cd.neighbor_id)
      |SELECT query_id, neighbor_id, score_x1e6,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) AS INT) AS rank
      |FROM exact
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_x1e6 DESC, neighbor_id) <= 5""".stripMargin

  // Residual IVF-PQ — corpus codes encode (x − cell centroid), query
  // ADC tables are built per probed cell from (q − that centroid):
  // the FAISS-standard encoding. Same integer domain end-to-end, so
  // membership AND ranking hash-compare.
  private val annIvfPqResidual: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val emb = embT(s, dir).coalesce(4) // see annIvfPqTopk
    graft.llm.SimilarityOps.ivfPqTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding", 5,
      residual = true)
  }
  private def subL2Sql(vec: String, cw: String): String =
    s"""CAST(list_sum(list_transform(range(8),
       |      i -> ($vec[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - $cw[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1])
       |         * ($vec[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - $cw[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1]))) AS BIGINT)""".stripMargin
  private val annIvfPqResidualOracle =
    s"""$annIvfPqFrontCtes,
      |resc AS (
      |  SELECT a.neighbor_id,
      |    list_transform(range(64), i -> v.q[CAST(i AS INT)+1] - c.cq[CAST(i AS INT)+1]) AS rq
      |  FROM assigned a JOIN n v ON v.id = a.neighbor_id JOIN cent c ON c.cell = a.cell),
      |cdist AS (
      |  SELECT r.neighbor_id AS vid, CAST(t.j AS INT) AS j, c.cpos AS c,
      |    ${subL2Sql("r.rq", "c.cbq")} AS d2
      |  FROM resc r, (SELECT unnest(range(8)) AS j) t, cb c),
      |codes AS (
      |  SELECT vid, j, c FROM (
      |    SELECT vid, j, c,
      |      row_number() OVER (PARTITION BY vid, j ORDER BY d2, c) AS rn
      |    FROM cdist) WHERE rn = 1),
      |resq AS (
      |  SELECT p.query_id, p.cell,
      |    list_transform(range(64), i -> v.q[CAST(i AS INT)+1] - c.cq[CAST(i AS INT)+1]) AS rq
      |  FROM probes p JOIN n v ON v.id = p.query_id JOIN cent c ON c.cell = p.cell),
      |qdist AS (
      |  SELECT r.query_id, r.cell, CAST(t.j AS INT) AS j, c.cpos AS c,
      |    ${subL2Sql("r.rq", "c.cbq")} AS d2
      |  FROM resq r, (SELECT unnest(range(8)) AS j) t, cb c),
      |adist AS (
      |  SELECT p.query_id, a.neighbor_id, CAST(sum(dq.d2) AS BIGINT) AS adist
      |  FROM probes p
      |  JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.neighbor_id
      |  JOIN codes cx ON cx.vid = a.neighbor_id
      |  JOIN qdist dq ON dq.query_id = p.query_id AND dq.cell = p.cell
      |              AND dq.j = cx.j AND dq.c = cx.c
      |  GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, adist,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rank
      |FROM adist
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 5""".stripMargin

  // ---------------------------------------------------------------
  // IVF-PQ index MAINTENANCE (r18, VERDICT r17 #4/#5): the coded
  // index goes through the one index's maintenance path — incremental
  // append under the existing model, the drift gate with its
  // PQ-specific axis (encoding-error growth against the build-time
  // baseline), and a filtered serve pushing the predicate below the
  // coded scan.
  // ---------------------------------------------------------------

  // Parametrized DuckDB mirror of one IVF-PQ model + ADC serve: the
  // annIvfPq CTE chain with a prefix, a caller-chosen (id, q, nq)
  // corpus CTE, and a model-source WHERE (hash-order centroid/codebook
  // picks restricted to the model's training rows) — what lets one
  // oracle express "serve after append == rebuilt with the SAME
  // model" and "serve after rebuild == FRESH model over the grown
  // corpus" without duplicating the chain per regime.
  private def pqModelSql(p: String, nSrc: String, where: String) = {
    val w = if (where.isEmpty) "" else s"WHERE $where"
    s"""${p}cent AS (SELECT id AS cell, q AS cq, nq AS cnq FROM $nSrc $w
       |         ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
       |         LIMIT 16),
       |${p}cb AS (SELECT q AS cbq,
       |         CAST(row_number() OVER (
       |           ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id) AS INT) - 1 AS cpos
       |       FROM $nSrc $w
       |       ORDER BY ((id & 2147483647) * 2654435761) % 1000000007, id
       |       LIMIT 16)""".stripMargin
  }
  private def pqDistSql(p: String, nSrc: String, vidWhere: String,
      model: String) = {
    val w = if (vidWhere.isEmpty) "" else s"WHERE $vidWhere"
    s"""${p}dist AS (
       |  SELECT v.id AS vid, CAST(t.j AS INT) AS j, c.cpos AS c,
       |    CAST(list_sum(list_transform(range(8),
       |      i -> (v.q[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - c.cbq[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1])
       |         * (v.q[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1] - c.cbq[CAST(t.j AS INT)*8 + CAST(i AS INT) + 1]))) AS BIGINT) AS d2
       |  FROM (SELECT * FROM $nSrc $w) v,
       |       (SELECT unnest(range(8)) AS j) t, ${model}cb c),
       |${p}codes AS (
       |  SELECT vid, j, c, d2 FROM (
       |    SELECT vid, j, c, d2,
       |      row_number() OVER (PARTITION BY vid, j ORDER BY d2, c) AS rn
       |    FROM ${p}dist) WHERE rn = 1)""".stripMargin
  }
  private def pqServeSql(p: String, nSrc: String, model: String,
      codes: String, nprobe: Int) =
    s"""${p}assigned AS (
       |  SELECT neighbor_id, cell FROM (
       |    SELECT v.id AS neighbor_id, c.cell AS cell,
       |      row_number() OVER (PARTITION BY v.id
       |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
       |    FROM $nSrc v, ${model}cent c) WHERE rn = 1),
       |${p}probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT v.id AS query_id, c.cell AS cell,
       |      row_number() OVER (PARTITION BY v.id
       |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
       |    FROM $nSrc v, ${model}cent c WHERE v.id < 20) WHERE rn <= $nprobe),
       |${p}adist AS (
       |  SELECT p.query_id, a.neighbor_id, CAST(sum(dq.d2) AS BIGINT) AS adist
       |  FROM ${p}probes p
       |  JOIN ${p}assigned a ON p.cell = a.cell AND p.query_id <> a.neighbor_id
       |  JOIN ${codes}codes cx ON cx.vid = a.neighbor_id
       |  JOIN ${codes}dist dq ON dq.vid = p.query_id AND dq.j = cx.j AND dq.c = cx.c
       |  GROUP BY 1, 2)""".stripMargin

  // INCREMENTAL PQ-INDEX UPDATE — the staged artifact is built over
  // 75% of the corpus (vec_id % 4 != 0: coarse centroids, codebook,
  // coded rows, refine store, the frozen qerr baseline), then the
  // remaining 25% APPENDS through SimilarityOps.appendToAnnIndex —
  // encoded under the EXISTING model, coded+refine rows appended in
  // place. The ORACLE picks the model from the BASE subset but codes
  // the WHOLE corpus — i.e. it IS the rebuilt-with-same-model index —
  // so "serve-after-append == serve-over-rebuilt" is the
  // hash-compared surface (the q_ann_index_update story on the
  // compressed family).
  private def pqUpdatedIndexStaged(s: SparkSession, dir: String): String =
    graft.sources.Staging.staged("graft_pq_upd_v2", dir,
        Seq("embeddings")) { tmp =>
      val So = graft.llm.SimilarityOps
      So.saveAnnIndex(So.buildPqIndex(
        embT(s, dir).filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding"), tmp)
      So.appendToAnnIndex(s, tmp,
        embT(s, dir).filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding")
    }
  private val annPqIndexUpdate: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val ix = graft.llm.SimilarityOps.loadAnnIndex(s,
      pqUpdatedIndexStaged(s, dir))
    graft.llm.SimilarityOps.ivfPqServeTopK(ix,
      embT(s, dir).coalesce(4).filter(col("vec_id") < 20),
      "vec_id", "embedding", 5)
  }
  private val annPqIndexUpdateOracle =
    s"""$quantNormCte,
      |${pqModelSql("m_", "n", "id % 4 <> 0")},
      |${pqDistSql("c_", "n", "", "m_")},
      |${pqServeSql("s_", "n", "m_", "c_", 4)}
      |SELECT query_id, neighbor_id, adist,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rank
      |FROM s_adist
      |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 5""".stripMargin

  // DRIFT-GATED PQ REBUILD — the q_ann_index_rebuild shape on the
  // compressed family, with the PQ-SPECIFIC failure mode as the new
  // gate axis: a batch can spread across cells exactly like the
  // corpus (the coarse gate stays quiet) while a STALE CODEBOOK
  // quantizes its drifted vectors with exploding encoding error —
  // silently degrading every later ADC serve. The gated update
  // (SimilarityOps.annGatedUpdate) measures BOTH stats from the
  // append's own encode pass (max cell share, and the batch's total
  // own-codes ADC error against the build-time baseline frozen in
  // meta/); the gate rebuilds when either fires. Two regimes, branch AND both stats AND the served
  // neighbors hash-compared:
  //   iid:   the %4 split — spreads like the corpus, qerr ratio ~1x
  //          -> append; serve == rebuilt-same-model;
  //   drift: every batch vector SCALED x3 — cell assignment is
  //          cosine-based so the cell share stays i.i.d.-like (the
  //          coarse gate alone would MISS it), but encoding error
  //          grows ~9x >= the 2x bar -> rebuild; serve == fresh
  //          hash-order model over the grown (scaled) corpus.
  private def pqGatedIndexStaged(s: SparkSession, dir: String,
      regime: String): String =
    graft.sources.Staging.staged(s"graft_pq_gated_${regime}_v2", dir,
        Seq("embeddings")) { tmp =>
      val So = graft.llm.SimilarityOps
      val emb = embT(s, dir)
      So.saveAnnIndex(So.buildPqIndex(
        emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding"), tmp)
      val batch =
        if (regime == "drift")
          emb.filter(col("vec_id") % 4 === 0).select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double") * 3)
              .as("embedding"))
        else emb.filter(col("vec_id") % 4 === 0)
          .select("vec_id", "embedding")
      So.annGatedUpdate(s, tmp, batch, "vec_id", "embedding")
    }
  private val annPqIndexRebuild: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val So = graft.llm.SimilarityOps
    // BOTH regimes' drift logs in ONE read (each holds exactly one
    // update row): two separate head()s were two parquet-read jobs
    // of a 1-row file each — half the entry's non-serve job floor
    val roots = Seq("iid", "drift").map(r => r ->
      pqGatedIndexStaged(s, dir, r)).toMap
    val driftRows = s.read.parquet(
        roots.values.map(r => s"$r/drift").toSeq: _*)
      .withColumn("_dir", input_file_name())
      .collect()
    def decision(regime: String) = (roots(regime), driftRows.find(
        _.getAs[String]("_dir").contains(
          new java.io.File(roots(regime)).getName))
      .getOrElse(sys.error(s"no drift row for $regime")))
    def decisionCols(regime: String,
        drift: org.apache.spark.sql.Row) = Seq(
      lit(regime).as("regime"),
      lit(drift.getString(0)).as("branch"),
      lit(drift.getLong(1)).as("max_cell_cnt"),
      lit(drift.getLong(2)).as("batch_rows"),
      lit(drift.getLong(3)).as("batch_qerr_sum"),
      lit(drift.getLong(4)).as("base_qerr_sum"),
      lit(drift.getLong(5)).as("base_rows"))
    // iid regime: DECISION ROW ONLY (branch + all five gate stats
    // hash-compared; serve columns null). Its append-branch serve
    // surface is exactly the update twin's — q_ann_pq_index_update
    // already hash-compares a serve from an appended index — so
    // re-serving it here doubled the entry's serve machinery for no
    // new coverage (r18 VERDICT #2: the 2.6-3.2x premium was the
    // second full ADC serve, not the gate).
    val (_, iidDrift) = decision("iid")
    val iidRow = s.range(1).select(
      decisionCols("iid", iidDrift) ++ Seq(
        lit(null).cast("long").as("query_id"),
        lit(null).cast("long").as("neighbor_id"),
        lit(null).cast("long").as("adist"),
        lit(null).cast("int").as("rank")): _*)
    // drift regime: the full rebuilt-model serve, hash-compared —
    // the branch this entry uniquely exercises (a fresh hash-order
    // model over the grown, scaled corpus)
    val (droot, driftDrift) = decision("drift")
    val ix = So.loadAnnIndex(s, droot)
    // queries = the regime corpus's own rows read from the index's
    // refine store (the drifted batch queries with its drifted
    // vectors — the annIndexRebuild move)
    val queries = ix.assignments.filter(col("neighbor_id") < 20)
      .select(col("neighbor_id").as("vec_id"),
        col("emb").as("embedding"))
    val served = So.ivfPqServeTopK(ix, queries.coalesce(4), "vec_id",
        "embedding", 5)
      .select(decisionCols("drift", driftDrift) ++ Seq(
        col("query_id"), col("neighbor_id"), col("adist"),
        col("rank")): _*)
    iidRow.unionByName(served)
  }
  private val annPqIndexRebuildOracle = {
    // per-regime gate stats, always under the BASE model: the batch's
    // cell histogram and encoding-error sum, plus the base subset's
    // own (the frozen baseline)
    def gateStats(p: String, n: String) =
      s"""${p}share AS (
        |  SELECT CAST(max(cnt) AS BIGINT) AS max_cell_cnt,
        |         CAST(sum(cnt) AS BIGINT) AS batch_rows
        |  FROM (SELECT cell, count(*) AS cnt FROM (
        |    SELECT cell FROM (
        |      SELECT v.id, c.cell,
        |        row_number() OVER (PARTITION BY v.id
        |          ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
        |      FROM $n v, ${p}bm_cent c WHERE v.id % 4 = 0) WHERE rn = 1)
        |    GROUP BY cell)),
        |${p}bqerr AS (
        |  SELECT CAST(sum(d2) AS BIGINT) AS batch_qerr_sum
        |  FROM ${p}bc_codes WHERE vid % 4 = 0),
        |${p}sqerr AS (
        |  SELECT CAST(sum(d2) AS BIGINT) AS base_qerr_sum,
        |         CAST(count(DISTINCT vid) AS BIGINT) AS base_rows
        |  FROM ${p}bc_codes WHERE vid % 4 <> 0)""".stripMargin
    s"""WITH e0 AS (SELECT vec_id AS id, embedding FROM embeddings),
      |-- iid regime: original vectors everywhere
      |i_n AS (SELECT id, q,
      |    CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |  FROM (SELECT id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM e0)),
      |-- drift regime: the %4 batch scaled x3 BEFORE quantization
      |d_n AS (SELECT id, q,
      |    CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |  FROM (SELECT id,
      |    CASE WHEN id % 4 = 0
      |      THEN list_transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE)*3)*1000) AS BIGINT))
      |      ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))
      |    END AS q
      |  FROM e0)),
      |-- base model (both regimes' gates measure under it; the iid
      |-- regime also SERVES from it — append keeps the model)
      |${pqModelSql("i_bm_", "i_n", "id % 4 <> 0")},
      |${pqDistSql("i_bc_", "i_n", "", "i_bm_")},
      |${gateStats("i_", "i_n")},
      |-- iid regime: decision row only (its append-branch serve is
      |-- q_ann_pq_index_update's surface); serve columns NULL
      |i_out AS (
      |  SELECT 'iid' AS regime, 'append' AS branch,
      |    sh.max_cell_cnt, sh.batch_rows, bq.batch_qerr_sum,
      |    sq.base_qerr_sum, sq.base_rows,
      |    CAST(NULL AS BIGINT) AS query_id,
      |    CAST(NULL AS BIGINT) AS neighbor_id,
      |    CAST(NULL AS BIGINT) AS adist,
      |    CAST(NULL AS INT) AS rank
      |  FROM i_share sh, i_bqerr bq, i_sqerr sq),
      |-- drift regime: gate under the base model (scaled batch), but
      |-- the rebuild SERVES from a fresh model over the grown corpus
      |${pqModelSql("d_bm_", "d_n", "id % 4 <> 0")},
      |${pqDistSql("d_bc_", "d_n", "", "d_bm_")},
      |${gateStats("d_", "d_n")},
      |${pqModelSql("d_fm_", "d_n", "")},
      |${pqDistSql("d_fc_", "d_n", "", "d_fm_")},
      |${pqServeSql("d_s_", "d_n", "d_fm_", "d_fc_", 4)},
      |d_out AS (
      |  SELECT 'drift' AS regime, 'rebuild' AS branch,
      |    sh.max_cell_cnt, sh.batch_rows, bq.batch_qerr_sum,
      |    sq.base_qerr_sum, sq.base_rows,
      |    a.query_id, a.neighbor_id, a.adist,
      |    CAST(row_number() OVER (PARTITION BY a.query_id
      |      ORDER BY a.adist, a.neighbor_id) AS INT) AS rank
      |  FROM d_s_adist a, d_share sh, d_bqerr bq, d_sqerr sq
      |  QUALIFY row_number() OVER (PARTITION BY a.query_id
      |    ORDER BY a.adist, a.neighbor_id) <= 5)
      |SELECT * FROM i_out UNION ALL SELECT * FROM d_out""".stripMargin
  }

  // FILTERED SERVE FROM THE PREBUILT PQ INDEX — q_ann_filtered_serve
  // on the compressed family: the label predicate lands on the
  // persisted coded rows (carried via the v2 index layout, a pushable
  // parquet filter), only the probed cells' qualifying CODED rows are
  // ADC-scored, and the top-32 refine against the carried full-width
  // vectors. SELECTIVITY-GATED since r19 (r18 VERDICT #5): one
  // map-combined count over the predicate-pushed assignment scan
  // decides exact-refine-store-brute vs ADC (the q_ann_filtered_topk
  // gate on the compressed family — the r18 sweep (COVERAGE) had
  // honestly recorded recall@10 = 0.149 at ~0.5% selectivity for the ungated
  // path). Two regimes, the BRANCH and qualifying count in the
  // hash-compared output, the oracle replicating the gate decision
  // with a count-guarded union:
  //   broad:     label % 4 <> 0 (~75% qualify) — ADC + refine above
  //              the gate at sf0.01+ (brute at sf0.001: 1500-row
  //              corpus leaves ~1125 <= the demo gate? no — 1125 >
  //              1000 keeps ADC there too; the oracle guard decides)
  //   selective: neighbor_id % 200 = 0 (0.5%) — the rung where the
  //              ungated path collapsed; the gate serves it EXACTLY
  //              from the refine store at every SF
  private val annIvfPqFilteredServe: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("embeddings")) {
    val So = graft.llm.SimilarityOps
    val ix = So.loadAnnIndex(s, pqIndexStaged(s, dir))
    val queries = embT(s, dir).coalesce(4).filter(col("vec_id") < 20)
    val predBroad = col("label") % 4 =!= 0
    val predSel = col("neighbor_id") % 200 === 0
    // ONE aggregate pass decides both regimes' gates (the per-regime
    // count inside ivfPqServeFilteredGated would rescan the
    // assignment parquet once per predicate)
    val cnts = ix.assignments.agg(
      coalesce(sum(when(predBroad, 1L).otherwise(0L)), lit(0L)).as("broad"),
      coalesce(sum(when(predSel, 1L).otherwise(0L)), lit(0L)).as("sel")).head()
    def one(regime: String, pred: Column, nQual0: Long) = {
      val (served, branch, nQual) = So.ivfPqServeFilteredGated(ix,
        queries, "vec_id", "embedding", 5, predicate = pred,
        nprobe = 8, rerank = Some(32), bruteGateRows = 1000L,
        precountedQualifying = Some(nQual0))
      served.select(lit(regime).as("regime"), lit(branch).as("branch"),
        lit(nQual).as("n_qualifying"), col("query_id"),
        col("neighbor_id"), col("score_x1e6"), col("rank"))
    }
    one("broad", predBroad, cnts.getLong(0))
      .unionByName(one("selective", predSel, cnts.getLong(1)))
  }
  private val annIvfPqFilteredServeOracle = {
    // per-regime chain: count-guarded union of the exact refine-store
    // brute arm and the ADC+refine arm — the SQL replica of the
    // engine's measured-scalar gate (the annFilteredTopk oracle
    // pattern on the compressed family). `predSql` is in terms of
    // alias `v`.
    def regimeSql(p: String, predSql: String): String =
      s"""${p}cnt AS (SELECT CAST(count(*) AS BIGINT) AS c
        |  FROM n v WHERE $predSql),
        |${p}assigned AS (
        |  SELECT neighbor_id, cell FROM (
        |    SELECT v.id AS neighbor_id, c.cell AS cell,
        |      row_number() OVER (PARTITION BY v.id
        |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
        |    FROM n v, m_cent c WHERE $predSql) WHERE rn = 1),
        |${p}adist AS (
        |  SELECT p.query_id, a.neighbor_id, CAST(sum(dq.d2) AS BIGINT) AS adist
        |  FROM f_probes p
        |  JOIN ${p}assigned a ON p.cell = a.cell AND p.query_id <> a.neighbor_id
        |  JOIN c_codes cx ON cx.vid = a.neighbor_id
        |  JOIN c_dist dq ON dq.vid = p.query_id AND dq.j = cx.j AND dq.c = cx.c
        |  GROUP BY 1, 2),
        |${p}cands AS (
        |  SELECT query_id, neighbor_id FROM ${p}adist
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) <= 32),
        |${p}adc AS (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    ${qcosSql("qn.q", "qn.nq", "cn.q", "cn.nq")} AS score_x1e6,
        |    row_number() OVER (PARTITION BY cd.query_id
        |      ORDER BY ${qcosSql("qn.q", "qn.nq", "cn.q", "cn.nq")} DESC, cd.neighbor_id) AS rnk
        |  FROM ${p}cands cd
        |  JOIN n qn ON qn.id = cd.query_id
        |  JOIN n cn ON cn.id = cd.neighbor_id),
        |${p}brute AS (
        |  SELECT query_id, neighbor_id, score_x1e6,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_x1e6 DESC, neighbor_id) AS rnk
        |  FROM (
        |    SELECT qv.id AS query_id, v.id AS neighbor_id,
        |      ${qcosSql("qv.q", "qv.nq", "v.q", "v.nq")} AS score_x1e6
        |    FROM n qv, n v
        |    WHERE qv.id < 20 AND qv.id <> v.id AND $predSql))""".stripMargin
    def regimeOut(p: String, regime: String): String =
      s"""SELECT '$regime' AS regime, 'brute' AS branch,
        |  (SELECT c FROM ${p}cnt) AS n_qualifying,
        |  query_id, neighbor_id, score_x1e6, CAST(rnk AS INT) AS rank
        |FROM ${p}brute WHERE rnk <= 5 AND (SELECT c FROM ${p}cnt) <= 1000
        |UNION ALL
        |SELECT '$regime', 'adc', (SELECT c FROM ${p}cnt),
        |  query_id, neighbor_id, score_x1e6, CAST(rnk AS INT)
        |FROM ${p}adc WHERE rnk <= 5 AND (SELECT c FROM ${p}cnt) > 1000""".stripMargin
    s"""WITH e AS (
      |  SELECT vec_id AS id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT id, label, q,
      |        CAST(list_sum(list_transform(q, v -> v*v)) AS BIGINT) AS nq
      |      FROM e),
      |${pqModelSql("m_", "n", "")},
      |${pqDistSql("c_", "n", "", "m_")},
      |f_probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT v.id AS query_id, c.cell AS cell,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY ${qcosSql("v.q", "v.nq", "c.cq", "c.cnq")} DESC, c.cell) AS rn
      |    FROM n v, m_cent c WHERE v.id < 20) WHERE rn <= 8),
      |${regimeSql("b_", "v.label % 4 <> 0")},
      |${regimeSql("s_", "v.id % 200 = 0")}
      |${regimeOut("b_", "broad")}
      |UNION ALL
      |${regimeOut("s_", "selective")}""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q_emb_int8_quant", embInt8Quant, embInt8QuantOracle),
    Entry("q_emb_neardup", embNearDup, embNearDupOracle),
    Entry("q_emb_semdedup", embSemDedup, embSemDedupOracle),
    Entry("q_emb_cluster_sample", embClusterSample, embClusterSampleOracle),
    Entry("q_ann_topk_dot", annTopkDot, annTopkDotOracle),
    Entry("q_ann_cosine_topk", annCosineTopk, annCosineTopkOracle),
    Entry("q_ann_lsh_topk", annLshTopk, annLshTopkOracle),
    Entry("q_ann_ivf_topk", annIvfTopk, annIvfTopkOracle),
    Entry("q_ann_index_serve", annIndexServe, annIvfTopkOracle),
    Entry("q_ann_index_update", annIndexUpdate, annIndexUpdateOracle),
    Entry("q_ann_index_rebuild", annIndexRebuild, annIndexRebuildOracle),
    Entry("q_ann_filtered_serve", annFilteredServe, annFilteredServeOracle),
    Entry("q_ann_filtered_topk", annFilteredTopk, annFilteredTopkOracle),
    Entry("q_ann_pq_topk", annPqTopk, annPqTopkOracle),
    Entry("q_ann_ivfpq_topk", annIvfPqTopk, annIvfPqTopkOracle),
    Entry("q_ann_ivfpq_rerank", annIvfPqRerank, annIvfPqRerankOracle),
    Entry("q_ann_ivfpq_serve", annIvfPqServe, annIvfPqRerankOracle),
    Entry("q_ann_pq_index_update", annPqIndexUpdate, annPqIndexUpdateOracle),
    Entry("q_ann_pq_index_rebuild", annPqIndexRebuild, annPqIndexRebuildOracle),
    Entry("q_ann_ivfpq_filtered_serve", annIvfPqFilteredServe, annIvfPqFilteredServeOracle),
    Entry("q_ann_ivfpq_residual", annIvfPqResidual, annIvfPqResidualOracle),
    Entry("q_emb_stats", embStats, embStatsOracle),
  )
}
