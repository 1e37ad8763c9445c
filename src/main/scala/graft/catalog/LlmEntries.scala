package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Queries._

/** LLM-data and multimodal curation: dedup, indexing, tokenization,
  * mixing, sampling, filtering and the image / frame kernels.
  */
private[graft] object LlmEntries {

  // D4: cross-batch streaming near-dup — TwsNearDup run as a REAL
  // micro-batched stream (file source, maxFilesPerTrigger=1, RocksDB
  // state) over the documents corpus, so a regression in the
  // transformWithState operator shows up in CORRECTNESS, not just in
  // the rehearsal doc. With an unbounded bucket cap the emitted pair
  // set is batching-order-independent and equals the batch banding
  // operator's, so the oracle is the SAME DuckDB SQL as
  // q_llm_minhash_lsh_pairs.
  // State partitions size-gated (4 at sf0.1, r20 sweep,
  // SCALE_STREAM_r20.md: 3.2-3.5 → 2.7-2.8 s); changelog measured
  // neutral at this state size — off. 2 files/trigger pairs the 4
  // hash slices into 2 micro-batches: pairs are STILL caught against
  // prior-batch state (batch 2 probes batch 1's stored bands — the
  // property the slicing proves), at 2 trigger floors instead of 4
  // (paired sweep: 5.1-11.2 → 2.8-6.5 s across two sessions, rows
  // identical).
  private val streamNearDup: Q = (s, dir) => {
    import org.apache.spark.sql.streaming.Trigger
    // 4 hash slices → 4 micro-batches: pairs must be caught against
    // PRIOR-batch state, not just within a batch. Staged ONCE per
    // corpus fingerprint (deterministic function of the corpus —
    // same rationale as the flagship's sliced watch dir).
    val in = s"${System.getProperty("java.io.tmpdir")}/graft_nd_slices_v1_" +
      graft.sources.SyntheticTraces.tableKey(dir, Seq("documents"))
    if (!graft.sources.Staging.hasMarker(s"$in"))
      graft.sources.Staging.stageOnce(in) { tmp =>
        docsT(s, dir).select(col("doc_id"), col("text"))
          .repartition(4, col("doc_id"))
          .write.mode("overwrite").parquet(tmp)
      }
    // state-store instances = shuffle partitions, each a RocksDB open +
    // commit PER MICRO-BATCH — at test scale that machinery dominates,
    // so run the stream narrow (production sizes this to the cluster;
    // the partition count is pinned into the checkpoint either way)
    withStreamStore(s, streamPartitionsFor(s, in)) {
      val work = graft.sources.Staging.sessionTempDir("graft_stream_nd")
      val stream = s.readStream.schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 2).parquet(in)
      val q = graft.streaming.TwsNearDup
        .nearDupPairsStream(stream, "doc_id", "text", capPerBucket = Int.MaxValue)
        .toDF()
        .writeStream.format("parquet")
        .option("path", s"$work/out").option("checkpointLocation", s"$work/ck")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // a pair can surface from several bands — the contract is the set
      s.read.parquet(s"$work/out").select("id1", "id2").distinct()
    }
  }

  // ---------------------------------------------------------------
  // LLM-pipeline: dedup / text analysis / similarity search
  // ---------------------------------------------------------------
  private val llmExactDedup: Q = (s, dir) =>
    graft.llm.DedupOps.exactDedup(docsT(s, dir), "doc_id", "text")
  private val llmExactDedupOracle =
    "SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_id FROM documents GROUP BY 1"

  private val llmNormDedup: Q = (s, dir) =>
    graft.llm.DedupOps.exactDedupNormalized(docsT(s, dir), "doc_id", "text")
  private val llmNormDedupOracle =
    """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS text_hash,
      |count(*) AS n_dups, min(doc_id) AS keep_id FROM documents GROUP BY 1""".stripMargin

  // Line-level exact dedup (the RefinedWeb/CCNet line-wise correction).
  // The synthetic corpus is single-line word soup, so the query first
  // derives a deterministic line structure — 8-word chunks joined with
  // '\n' — then removes every line that appears verbatim in >= 2
  // distinct documents (planted exact/near dups share chunk lines).
  private val llmLineDedup: Q = (s, dir) => {
    // chunking = replace every 8th token separator with '\n' — one
    // codegen'd regexp pass (the transform/slice/concat_ws HOF form is
    // interpreted and was the dominant per-scan cost of this entry);
    // equivalent on single-space-separated non-empty tokens, and the
    // DuckDB oracle chunks by token index so any divergence hash-fails
    val lined = docsT(s, dir).select(col("doc_id"),
      regexp_replace(col("text"), "((?:[^ ]+ ){7}[^ ]+) ", "$1\n").as("text"))
    graft.llm.DedupOps.lineDedup(lined, "doc_id", "text")
  }
  private val llmLineDedupOracle =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), toks AS (
      |  SELECT doc_id, unnest(w) AS wd, generate_subscripts(w, 1) AS i FROM ws
      |), lines AS (
      |  SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS pos,
      |         string_agg(wd, ' ' ORDER BY i) AS line
      |  FROM toks GROUP BY doc_id, CAST((i - 1) // 8 AS BIGINT)
      |), common AS (
      |  SELECT line FROM lines WHERE trim(line) <> ''
      |  GROUP BY line HAVING count(DISTINCT doc_id) >= 2
      |), flagged AS (
      |  SELECT l.doc_id, l.pos, l.line, c.line IS NOT NULL AS dup
      |  FROM lines l LEFT JOIN common c ON l.line = c.line
      |)
      |SELECT doc_id, count(*) AS n_lines,
      |       count(*) FILTER (WHERE dup) AS n_removed,
      |       coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT dup), '') AS kept_text
      |FROM flagged GROUP BY doc_id""".stripMargin

  // Exact duplicated-substring spans (Lee et al. 2021 ExactSubstr at
  // 8-token shingle granularity): maximal per-doc token spans whose
  // every shingle appears verbatim in >= 2 distinct documents.
  private val llmDupSpans: Q = (s, dir) =>
    graft.llm.DedupOps.dupSpanStats(docsT(s, dir), "doc_id", "text")
  /** The CTEs both dup-span oracles share: each doc's 8-token
    * shingles, those seen in >= 2 docs, and their hits merged into
    * `spans` islands (s, e). */
  private val dupSpanCtes =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), pi AS (
      |  SELECT doc_id, w, unnest(range(0, greatest(len(w) - 7, 0))) AS pos FROM ws
      |), sh AS (
      |  SELECT doc_id, pos, array_to_string(w[pos+1:pos+8], ' ') AS sh FROM pi
      |), common AS (
      |  SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
      |), hits AS (
      |  SELECT s.doc_id, s.pos FROM sh s JOIN common c USING (sh)
      |), isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
      |         THEN 1 ELSE 0 END AS brk
      |  FROM hits
      |), isl2 AS (
      |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl
      |), spans AS (
      |  SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e FROM isl2 GROUP BY doc_id, island
      |""".stripMargin

  private val llmDupSpansOracle = dupSpanCtes +
    """), per_doc AS (
      |  SELECT doc_id, count(*) AS n_spans, CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      |  FROM spans GROUP BY doc_id
      |)
      |SELECT ws.doc_id, CAST(len(ws.w) AS INT) AS n_tokens,
      |       coalesce(p.n_spans, 0) AS n_spans,
      |       coalesce(p.dup_tokens, 0) AS dup_tokens
      |FROM ws LEFT JOIN per_doc p USING (doc_id)""".stripMargin

  // The destructive twin: rewrite each doc with duplicated spans excised
  // (Lee et al. 2021 ExactSubstr dedup — the step a curation run ships).
  private val llmDupSpanRemove: Q = (s, dir) =>
    graft.llm.DedupOps.dupSpanRemove(docsT(s, dir), "doc_id", "text")
  private val llmDupSpanRemoveOracle = dupSpanCtes +
    """), dup_pos AS (
      |  SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans
      |), tok AS (
      |  SELECT doc_id, pos, w[pos+1] AS t
      |  FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM ws)
      |), kept AS (
      |  SELECT t.doc_id, string_agg(t.t, ' ' ORDER BY t.pos) AS kept_text
      |  FROM tok t LEFT JOIN dup_pos d ON t.doc_id = d.doc_id AND t.pos = d.pos
      |  WHERE d.pos IS NULL GROUP BY t.doc_id
      |), removed AS (
      |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS removed_tokens
      |  FROM spans GROUP BY doc_id
      |)
      |SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_tokens,
      |       coalesce(r.removed_tokens, 0) AS removed_tokens,
      |       coalesce(k.kept_text, '') AS kept_text
      |FROM ws LEFT JOIN removed r USING (doc_id)
      |        LEFT JOIN kept k ON ws.doc_id = k.doc_id""".stripMargin

  // Inverted index build: per term, df/cf over the FULL posting list
  // plus a bounded (top-8 by tf desc, doc asc) posting-prefix CSV —
  // the cap keeps the output oracle-hashable and the reducer-side
  // string bounded at any corpus size (see TextOps.invertedIndex).
  private val llmInvertedIndex: Q = (s, dir) =>
    graft.llm.TextOps.invertedIndex(docsT(s, dir), "doc_id", "text")
  private val llmInvertedIndexOracle =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
      |), ranked AS (
      |  SELECT doc_id, term, tf,
      |         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rnk,
      |         count(*) OVER (PARTITION BY term) AS df_t,
      |         CAST(sum(tf) OVER (PARTITION BY term) AS BIGINT) AS cf_t
      |  FROM tf
      |)
      |SELECT term, CAST(df_t AS BIGINT) AS df_t, cf_t,
      |       string_agg(doc_id || ':' || tf, ',' ORDER BY rnk) AS postings
      |FROM ranked WHERE rnk <= 8 GROUP BY 1, 2, 3""".stripMargin

  // Serve tier for the inverted index — build→PERSIST→serve, the
  // retrieval path's third persistence seam (after the quantizer
  // models and the near-dup banded projection): the index (posting
  // cap 64) is staged once per corpus fingerprint as parquet, then
  // RELOADED and probed with a 3-term query; the correctness gate
  // therefore hash-verifies the persisted index, not the in-memory
  // one (parity pinned in ModelSeamSpec). AND answers are
  // and_match=1 rows, OR answers the full set; ordering is df-based
  // (rare terms dominate), exact integers.
  private val llmIndexServe: Q = (s, dir) => {
    val key = graft.sources.SyntheticTraces.tableKey(dir, Seq("documents"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_invidx_v1_$key"
    if (!graft.sources.Staging.hasMarker(s"$path")) {
      graft.sources.Staging.stageOnce(path) { tmp =>
        graft.llm.TextOps.saveIndex(
          graft.llm.TextOps.invertedIndex(
            docsT(s, dir), "doc_id", "text", postingsCap = 64), tmp)
      }
    }
    graft.llm.TextOps.indexServe(
      graft.llm.TextOps.loadIndex(s, path), Seq("scan", "sort", "join"))
  }
  private val llmIndexServeOracle =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
      |), ranked AS (
      |  SELECT doc_id, term, tf,
      |         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rnk,
      |         count(*) OVER (PARTITION BY term) AS df_t
      |  FROM tf WHERE term IN ('scan', 'sort', 'join')
      |), hits AS (
      |  SELECT * FROM ranked WHERE rnk <= 64
      |), g AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |         CAST(sum(tf) AS BIGINT) AS sum_tf,
      |         CAST(sum(tf * (1000000000 // df_t)) AS BIGINT) AS score_x
      |  FROM hits GROUP BY doc_id
      |)
      |SELECT doc_id, n_terms, sum_tf, score_x,
      |       CAST(CASE WHEN n_terms = 3 THEN 1 ELSE 0 END AS INT) AS and_match,
      |       CAST(row_number() OVER (ORDER BY score_x DESC, doc_id) AS BIGINT) AS rnk
      |FROM g""".stripMargin

  // Per-doc top-3 TF-IDF terms, exact fixed-point idf (no floats).
  private val llmTfidf: Q = (s, dir) =>
    graft.llm.TextOps.tfidfTopK(docsT(s, dir), "doc_id", "text")
  private val llmTfidfOracle =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
      |), dfreq AS (
      |  SELECT term, count(DISTINCT doc_id) AS df_t FROM toks GROUP BY term
      |), n AS (
      |  SELECT count(*) AS n_docs FROM documents
      |), scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |         tf.tf * ((n.n_docs * 1000000) // dfreq.df_t) AS score_x
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, term, tf, score_x,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score_x DESC, term ASC) AS rnk
      |  FROM scored
      |)
      |SELECT doc_id, term, tf, CAST(score_x AS BIGINT) AS score_x, CAST(rnk AS INT) AS rnk
      |FROM ranked WHERE rnk <= 3""".stripMargin

  // Bloom seen-set: even-doc_id half builds the filter over winnowing
  // fingerprints, odd half probes. Deterministic false positives
  // included — the oracle reproduces the exact bit positions.
  private val llmBloomSeen: Q = (s, dir) => {
    val docs = docsT(s, dir).withColumn("fp",
      graft.functions.LlmFunctions.fingerprint64(col("text")))
    graft.llm.PipelineOps.bloomMembership(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "fp")
  }

  // BPE MERGE-RULE TRAINING (Sennrich et al. 2016) — the learned half
  // of the tokenizer story (q_llm_bpe_tokens segments with a fixed
  // regex): 8 generations of highest-frequency-adjacent-pair merging
  // over the corpus word-type table, argmax tie-broken (count desc,
  // left, right), merges applied greedily left-to-right via the
  // per-symbol-delimited <s1><s2> encoding (both engines' replace is
  // a single non-overlapping scan, so '<a><a><a><a>' -> '<aa><aa>'
  // identically). Output = the merge table with the corpus-weighted
  // compression curve + the top-10 words' segmentations under the
  // learned rules. The ORACLE reproduces all 8 generations as
  // unrolled MATERIALIZED CTE generations (the PageRank/SCD-2-stream
  // oracle pattern) — pair counts, argmax, replace, curve, all
  // hash-compared.
  private val llmBpeTrain: Q = (s, dir) =>
    graft.llm.TextOps.bpeTrain(docsT(s, dir), "text", gens = 8,
      topWords = 10)
  // Shared BPE training-CTE prefix (word types, char encoding, 8
  // unrolled merge generations) — used by the train oracle AND the
  // apply/mix oracles below, which RECOMPUTE the deterministic merge
  // table that the engine side loads from the persisted model: the
  // hash-compare pins persisted-model serving == fresh training.
  private val bpeGens = 8
  private val bpeTrainPrefix: String = {
    def genCtes(g: Int): String = {
      val prev = if (g == 1) "enc0" else s"enc${g - 1}"
      s"""syms$g AS (
        |  SELECT w, wcnt, string_split(trim(enc, '<>'), '><') AS syms
        |  FROM $prev),
        |pairs$g AS (
        |  SELECT a, b, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
        |    SELECT wcnt, syms[i] AS a, syms[i + 1] AS b
        |    FROM (SELECT wcnt, syms,
        |            unnest(generate_series(1, len(syms) - 1)) AS i
        |          FROM syms$g))
        |  GROUP BY 1, 2),
        |win$g AS MATERIALIZED (
        |  SELECT CAST($g AS INT) AS gen, a, b, cnt
        |  FROM pairs$g ORDER BY cnt DESC, a, b LIMIT 1),
        |enc$g AS MATERIALIZED (
        |  SELECT e.w, e.wcnt,
        |    coalesce(replace(e.enc, '<' || x.a || '><' || x.b || '>',
        |                     '<' || x.a || x.b || '>'), e.enc) AS enc
        |  FROM $prev e LEFT JOIN win$g x ON TRUE),
        |nsym$g AS (
        |  SELECT CAST(sum(wcnt * len(string_split(trim(enc, '<>'), '><')))
        |           AS BIGINT) AS n_syms
        |  FROM enc$g)""".stripMargin
    }
    s"""toks AS (
      |  SELECT unnest(string_split_regex(text, '\\s+')) AS w
      |  FROM documents),
      |words AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM toks
      |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2
      |  GROUP BY 1),
      |enc0 AS MATERIALIZED (
      |  SELECT w, wcnt,
      |    '<' || array_to_string(regexp_extract_all(w, '.'), '><') || '>'
      |      AS enc
      |  FROM words),
      |${(1 to bpeGens).map(genCtes).mkString(",\n")}""".stripMargin
  }
  private val llmBpeTrainOracle = {
    val gens = bpeGens
    val mergeRows = (1 to gens).map(g =>
      s"""SELECT 'merge' AS kind, gen, a, b, cnt AS pair_cnt,
        |  (SELECT n_syms FROM nsym$g) AS n_syms,
        |  CAST(NULL AS VARCHAR) AS word, CAST(NULL AS VARCHAR) AS enc
        |FROM win$g""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainPrefix
      |$mergeRows
      |UNION ALL
      |SELECT 'seg', CAST($gens AS INT), CAST(NULL AS VARCHAR),
      |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  w, enc
      |FROM (SELECT w, enc,
      |        row_number() OVER (ORDER BY wcnt DESC, w) AS rn
      |      FROM enc$gens)
      |WHERE rn <= 10""".stripMargin
  }

  // BPE APPLY — train → persist → apply (VERDICT r15 #2): the learned
  // merge table (the model) is staged once per documents fingerprint
  // through the seam contract, then the WHOLE corpus is tokenized
  // under the LOADED rules — per-doc token counts under the learned
  // tokenizer, as one codegen'd map-only projection (the merge chain
  // inlines: ≤ gens literal replaces per word; zero shuffle). The
  // oracle retrains its own merge table from the shared CTE prefix,
  // so persisted-model serving == fresh training is the
  // hash-compared surface (the q_ann_index_serve pattern).
  private def bpeModelStaged(s: SparkSession, dir: String): String = {
    val key = graft.sources.SyntheticTraces.tableKey(dir, Seq("documents"))
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_bpe_model_v1_$key"
    if (!graft.sources.Staging.hasMarker(s"$path")) {
      graft.sources.Staging.stageOnce(path) { tmp =>
        graft.llm.Quantizers.saveModel(
          graft.llm.TextOps.bpeMergeModel(
            graft.llm.TextOps.bpeTrain(docsT(s, dir), "text",
              gens = bpeGens, topWords = 10)), tmp)
      }
    }
    path
  }
  private def bpeMergesLoaded(s: SparkSession,
      dir: String): Seq[(String, String)] =
    graft.llm.TextOps.collectMerges(
      graft.llm.Quantizers.loadModel(s, bpeModelStaged(s, dir)))

  // the m CTE exposes the 8 learned pairs as one row of scalars; the
  // replace chain inlines them per token exactly as the engine's
  // codegen'd fold does
  private def bpeOracleScalars: String =
    "m AS (SELECT " + (1 to bpeGens).map(g =>
      s"(SELECT a FROM win$g) AS a$g, (SELECT b FROM win$g) AS b$g")
      .mkString(", ") + ")"
  private def bpeOracleCount: String = {
    val enc0 = "('<' || array_to_string(regexp_extract_all(t, '.'), '><') || '>')"
    val chain = (1 to bpeGens).foldLeft(enc0)((e, g) =>
      s"replace($e, '<' || a$g || '><' || b$g || '>', '<' || a$g || b$g || '>')")
    s"""CAST(coalesce(list_sum(list_transform(
      |    list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0),
      |    t -> CASE WHEN regexp_matches(t, '^[a-z]+$$') AND length(t) >= 2
      |         THEN len(string_split(trim($chain, '<>'), '><'))
      |         ELSE 1 END)), 0) AS BIGINT)""".stripMargin
  }

  private val llmBpeApply: Q = (s, dir) =>
    graft.llm.TextOps.bpeApply(docsT(s, dir), "doc_id", "text",
      bpeMergesLoaded(s, dir))
  private val llmBpeApplyOracle =
    s"""WITH $bpeTrainPrefix,
      |$bpeOracleScalars
      |SELECT doc_id,
      |  CAST(len(list_filter(string_split_regex(text, '\\s+'),
      |    t -> length(t) > 0)) AS BIGINT) AS n_raw_tokens,
      |  $bpeOracleCount AS n_bpe_tokens
      |FROM documents CROSS JOIN m""".stripMargin

  // The learned token counts CONSUMED: the token-budget mix
  // denominated in the trained tokenizer's counts instead of the
  // whitespace count (what q_llm_token_budget_mix "should be fed by"
  // — VERDICT r15). Same hash-order prefix-cut semantics; only the
  // n_tokens column changes meaning.
  private val llmBpeBudgetMix: Q = (s, dir) =>
    graft.llm.PipelineOps.tokenBudgetMixWith(docsT(s, dir), "doc_id",
      "source",
      graft.llm.TextOps.bpeTokenCount(col("text"), bpeMergesLoaded(s, dir)),
      expr("400 + 40 * CAST(substring(source, 4) AS INT)"))
  private val llmBpeBudgetMixOracle =
    s"""WITH $bpeTrainPrefix,
      |$bpeOracleScalars,
      |tok AS (
      |  SELECT doc_id, source, $bpeOracleCount AS n_tokens,
      |         (doc_id & 2147483647) * 2654435761 AS h
      |  FROM documents CROSS JOIN m),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM tok)
      |SELECT doc_id, source, n_tokens, cum_tokens FROM c
      |WHERE cum_tokens <= 400 + 40 * CAST(substring(source, 4) AS INT)""".stripMargin

  // Per-doc top-3 BM25 terms, exact fixed-point (k1=1.2, b=0.75
  // cleared to integers; ratio idf; HUGEINT numerator).
  private val llmBm25: Q = (s, dir) =>
    graft.llm.TextOps.bm25TopK(docsT(s, dir), "doc_id", "text")
  private val llmBm25Oracle =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
      |), dfreq AS (
      |  SELECT term, count(DISTINCT doc_id) AS df_t FROM toks GROUP BY term
      |), c AS (
      |  SELECT count(*) AS n_docs, sum(dl) AS t_tokens FROM dl
      |), scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf,
      |         CAST((c.n_docs * 1000) // dfreq.df_t AS HUGEINT) * tf.tf * 22 * c.t_tokens AS num,
      |         10 * c.t_tokens * tf.tf + 3 * c.t_tokens + 9 * dl.dl * c.n_docs AS den
      |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
      |          JOIN dfreq ON tf.term = dfreq.term CROSS JOIN c
      |), ranked AS (
      |  SELECT doc_id, term, tf, num // den AS score_x,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY num // den DESC, term ASC) AS rnk
      |  FROM scored
      |)
      |SELECT doc_id, term, tf, CAST(score_x AS BIGINT) AS score_x, CAST(rnk AS INT) AS rnk
      |FROM ranked WHERE rnk <= 3""".stripMargin

  // Token-budget corpus mixing: per-source budgets (a CASE over the
  // source name here; a mixing table in production), hash-order
  // prefix cut.
  private val llmTokenBudgetMix: Q = (s, dir) =>
    graft.llm.PipelineOps.tokenBudgetMix(docsT(s, dir),
      "doc_id", "text", "source",
      expr("400 + 40 * CAST(substring(source, 4) AS INT)"))
  private val llmTokenBudgetMixOracle =
    """WITH tok AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |         (doc_id & 2147483647) * 2654435761 AS h
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM tok
      |)
      |SELECT doc_id, source, n_tokens, cum_tokens FROM c
      |WHERE cum_tokens <= 400 + 40 * CAST(substring(source, 4) AS INT)""".stripMargin

  // Temperature-scaled mixing (UniMax-style alpha=1/2): per-source
  // budgets proportional to isqrt(source tokens), exact integer end
  // to end, then the same hash-order prefix cut.
  private val llmTempMix: Q = (s, dir) =>
    graft.llm.PipelineOps.temperatureMix(docsT(s, dir),
      "doc_id", "text", "source", 12000L)
  private val llmTempMixOracle =
    """WITH tok AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |         (doc_id & 2147483647) * 2654435761 AS h
      |  FROM documents
      |), src AS (
      |  SELECT source, sum(n_tokens) AS n_src FROM tok GROUP BY source
      |), wsrc AS (
      |  SELECT source,
      |         CASE WHEN (g+1)*(g+1) <= n_src THEN g+1
      |              WHEN g*g > n_src THEN g-1 ELSE g END AS w
      |  FROM (SELECT source, n_src,
      |          CAST(floor(sqrt(CAST(n_src AS DOUBLE))) AS BIGINT) AS g FROM src)
      |), b AS (
      |  SELECT source,
      |         CAST((12000::HUGEINT * w) // (SELECT sum(w) FROM wsrc) AS BIGINT) AS budget
      |  FROM wsrc
      |), c AS (
      |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
      |         CAST(sum(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.h, t.doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM tok t JOIN b ON t.source = b.source
      |)
      |SELECT doc_id, source, n_tokens, cum_tokens, budget FROM c
      |WHERE cum_tokens <= budget""".stripMargin

  // Deterministic export sharding: greedy token-packed shards per
  // source in the shared hash order, plus the loader-facing manifest.
  private val llmShardPlan: Q = (s, dir) =>
    graft.llm.PipelineOps.shardPlan(docsT(s, dir),
      "doc_id", "text", "source", 2000L)
  private val shardPlanSql =
    """WITH tok AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         (doc_id & 2147483647) * 2654435761 AS h
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM tok
      |)
      |SELECT doc_id, source, n_tokens, cum_tokens,
      |       (cum_tokens - n_tokens) // 2000 AS shard_id
      |FROM c""".stripMargin
  private val llmShardPlanOracle = shardPlanSql
  private val llmShardManifest: Q = (s, dir) =>
    graft.llm.PipelineOps.shardManifest(
      graft.llm.PipelineOps.shardPlan(docsT(s, dir),
        "doc_id", "text", "source", 2000L))
  private val llmShardManifestOracle =
    s"""WITH plan AS ($shardPlanSql)
      |SELECT source, shard_id, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
      |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM plan GROUP BY source, shard_id""".stripMargin

  private val llmTokenStats: Q = (s, dir) =>
    graft.llm.TextOps.tokenStats(docsT(s, dir), "doc_id", "text")
  private val llmTokenStatsOracle =
    """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |  CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS n_spaces
      |FROM documents""".stripMargin

  private val llmBpeTokens: Q = (s, dir) =>
    docsT(s, dir).select(col("doc_id"),
      size(graft.llm.TextOps.bpeishTokens(col("text"))).as("n_bpe_tokens"),
      size(array_distinct(graft.llm.TextOps.bpeishTokens(col("text")))).as("n_bpe_distinct"))
  private val llmBpeTokensOracle =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpe_tokens,
      |  CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))) AS INT) AS n_bpe_distinct
      |FROM documents""".stripMargin

  private val llmQuality: Q = (s, dir) =>
    graft.llm.TextOps.qualityScore(docsT(s, dir), "doc_id", "text")
  private val llmQualityOracle =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','and','of','to','in','is'))) AS INT) AS n_stopwords,
      |  CAST(floor(1000.0 * len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','and','of','to','in','is')))
      |      / len(string_split(text, ' '))) AS BIGINT) AS stop_ratio_x1000,
      |  CAST(floor(100.0 * (length(text) - len(string_split(text, ' ')) + 1)
      |      / len(string_split(text, ' '))) AS BIGINT) AS avg_tok_len_x100,
      |  CAST(len(string_split(text, ' ')) BETWEEN 20 AND 200 AS INT) AS length_ok
      |FROM documents""".stripMargin

  private val llmLangId: Q = (s, dir) =>
    graft.llm.TextOps.langId(docsT(s, dir), "doc_id", "text")
  private val llmLangIdOracle = {
    def cnt(words: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"
    val en = cnt(Seq("the", "a", "is", "and"))
    val es = cnt(Seq("la", "el", "y", "de"))
    val fr = cnt(Seq("le", "la", "et", "un"))
    val de = cnt(Seq("der", "die", "und", "ein"))
    val zh = cnt(Seq("de", "shi", "he", "zai"))
    s"""SELECT doc_id, CAST($en AS INT) AS score_en, CAST($es AS INT) AS score_es, CAST($fr AS INT) AS score_fr,
       |  CAST($de AS INT) AS score_de, CAST($zh AS INT) AS score_zh,
       |  CASE WHEN $en >= greatest($es, $fr, $de, $zh) THEN 'en'
       |       WHEN $es >= greatest($fr, $de, $zh) THEN 'es'
       |       WHEN $fr >= greatest($de, $zh) THEN 'fr'
       |       WHEN $de >= $zh THEN 'de'
       |       ELSE 'zh' END AS predicted
       |FROM documents""".stripMargin
  }

  private val llmJaccardPairs: Q = (s, dir) => {
    val docs = docsT(s, dir)
      .select(col("doc_id"), graft.llm.DedupOps.tokenSet(col("text")).as("toks"))
    val (num, den) = graft.llm.DedupOps.jaccardParts(col("a.toks"), col("b.toks"))
    docs.as("a").join(docs.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), num.as("inter"), den.as("uni"))
  }
  private val llmJaccardOracle =
    """WITH d AS (SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS toks
      |           FROM documents)
      |SELECT a.doc_id AS doc_id, CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS inter,
      |       CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS INT) AS uni
      |FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id""".stripMargin

  // Arithmetic MinHash (engine-portable): signature + LSH band pairs,
  // both exactly reproducible in DuckDB — the deterministic complement
  // to the fast FNV-hash minhash path below.
  private val llmMinhashSig: Q = (s, dir) =>
    graft.llm.DedupOps.minhashSignature(docsT(s, dir), "doc_id", "text")
  /** DuckDB CTE computing each document's token-fingerprint list
    * (31-polynomial mod 1e9+7 per token) — the shared base of the
    * arithmetic minhash AND portable simhash oracles.
    */
  private val tokfpSub =
    """tokfp AS (
      |  SELECT doc_id,
      |    list_transform(
      |      list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0),
      |      t -> list_reduce(
      |             list_prepend(CAST(0 AS BIGINT),
      |               list_transform(range(length(t)), i -> CAST(ord(t[i+1]) AS BIGINT))),
      |             (acc, c) -> (acc * 31 + c) % 1000000007)) AS fpt,
      |    list_transform(
      |      list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0),
      |      t -> list_reduce(
      |             list_prepend(CAST(0 AS BIGINT),
      |               list_transform(range(length(t)), i -> CAST(ord(t[i+1]) AS BIGINT))),
      |             (acc, c) -> (acc * 37 + c) % 1000000007)) AS fpt37
      |  FROM documents)""".stripMargin
  private val minhashFpsCte =
    s"""WITH $tokfpSub,
      |d AS (
      |  SELECT doc_id,
      |    CASE WHEN len(fpt) < 3 THEN
      |      [list_reduce(list_prepend(CAST(0 AS BIGINT), fpt),
      |                   (a, b) -> (a * 1000003 + b) % 1000000007)]
      |    ELSE list_transform(range(len(fpt) - 2),
      |           j -> ((fpt[j+1] * 1000003 + fpt[j+2]) % 1000000007 * 1000003
      |                 + fpt[j+3]) % 1000000007) END AS fps
      |  FROM tokfp)""".stripMargin
  private val minhashSigSelect = (0 until 8).map(i =>
    s"  list_min(list_transform(fps, f -> (f * ${2 * i + 3} + ${5 * i + 7}) % 2147483647)) AS mh$i")
    .mkString(",\n")
  private val llmMinhashSigOracle =
    s"$minhashFpsCte\nSELECT doc_id,\n$minhashSigSelect\nFROM d"

  private val llmMinhashLshPairs: Q = (s, dir) =>
    graft.llm.DedupOps.minhashSignaturePairs(docsT(s, dir), "doc_id", "text")
  private val llmMinhashLshOracle =
    s"""$minhashFpsCte,
      |sig AS (SELECT doc_id,
      |$minhashSigSelect
      |FROM d),
      |bands AS (
      |  SELECT doc_id, i AS band,
      |    CASE i WHEN 0 THEN mh0*2147483647+mh1 WHEN 1 THEN mh2*2147483647+mh3
      |           WHEN 2 THEN mh4*2147483647+mh5 ELSE mh6*2147483647+mh7 END AS key
      |  FROM sig, (SELECT unnest(range(4)) AS i) t)
      |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin

  // MinHash estimator-accuracy audit: per candidate pair, signature
  // agreement (permille) next to the EXACT shingle-fingerprint-set
  // Jaccard — the estimator itself is value-checked, not just the
  // signatures (the oracle-the-guarantee pattern, made exact).
  private val llmMinhashEstimate: Q = (s, dir) =>
    graft.llm.DedupOps.minhashEstimateAudit(docsT(s, dir), "doc_id", "text")
  private val llmMinhashEstimateOracle = {
    val estSum = (0 until 8)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" +\n      |     ")
    s"""$minhashFpsCte,
      |sig AS (SELECT doc_id,
      |$minhashSigSelect
      |FROM d),
      |bands AS (
      |  SELECT doc_id, i AS band,
      |    CASE i WHEN 0 THEN mh0*2147483647+mh1 WHEN 1 THEN mh2*2147483647+mh3
      |           WHEN 2 THEN mh4*2147483647+mh5 ELSE mh6*2147483647+mh7 END AS key
      |  FROM sig, (SELECT unnest(range(4)) AS i) t),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |fq AS (SELECT doc_id, list_distinct(fps) AS fset FROM d),
      |j AS (
      |  SELECT p.id1, p.id2,
      |    ($estSum) * 125 AS est,
      |    len(list_filter(fa.fset, z -> list_contains(fb.fset, z))) AS inter,
      |    len(fa.fset) + len(fb.fset) AS tot
      |  FROM pairs p
      |  JOIN sig sa ON p.id1 = sa.doc_id JOIN sig sb ON p.id2 = sb.doc_id
      |  JOIN fq fa ON p.id1 = fa.doc_id JOIN fq fb ON p.id2 = fb.doc_id)
      |SELECT id1, id2, CAST(est AS BIGINT) AS est_milli,
      |  (inter * 1000) // (tot - inter) AS jacc_milli FROM j""".stripMargin
  }

  // Incremental near-dup: the odd-id half of the corpus arrives as a
  // new batch and is deduped against the even-id baked half — only
  // batch×corpus band buckets are joined, never corpus×corpus.
  // The corpus-side banded projection runs through its PERSISTENCE
  // seam (r11 VERDICT item 2): staged once per corpus fingerprint as
  // parquet (the bake-time write a production pipeline does), then
  // RELOADED and served against each arriving batch — so the
  // correctness gate hash-verifies the persisted path, not just the
  // in-memory one (parity between the two is pinned in ModelSeamSpec).
  private val llmIncrementalDedup: Q = (s, dir) => {
    val d = docsT(s, dir)
    val src = new java.io.File(s"$dir/documents.parquet")
    val fp = java.lang.Long.toHexString(src.length() * 31L + src.lastModified())
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_") + "_" + fp
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_neardup_bands_$key"
    if (!graft.sources.Staging.hasMarker(s"$path")) {
      graft.sources.Staging.stageOnce(path) { tmp =>
        graft.llm.DedupOps.bandedProjection(
            d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
          .write.mode("overwrite").parquet(tmp)
      }
    }
    graft.llm.DedupOps.incrementalNearDupPairsPrebanded(
      s.read.parquet(path), d.filter(col("doc_id") % 2 === 1),
      "doc_id", "text")
  }
  private val llmIncrementalDedupOracle =
    s"""$minhashFpsCte,
      |sig AS (SELECT doc_id,
      |$minhashSigSelect
      |FROM d),
      |bands AS (
      |  SELECT doc_id, i AS band,
      |    CASE i WHEN 0 THEN mh0*2147483647+mh1 WHEN 1 THEN mh2*2147483647+mh3
      |           WHEN 2 THEN mh4*2147483647+mh5 ELSE mh6*2147483647+mh7 END AS key
      |  FROM sig, (SELECT unnest(range(4)) AS i) t)
      |SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
      |FROM bands b JOIN bands c
      |  ON b.band = c.band AND b.key = c.key
      | AND b.doc_id % 2 = 1 AND c.doc_id % 2 = 0""".stripMargin

  // Fuzzy-dedup verify tier: exact levenshtein over the LSH candidate
  // pairs (both engines run the same DP recurrence — the distance AND
  // the keep decision are hash-oracled).
  private val llmEditVerify: Q = (s, dir) =>
    graft.llm.DedupOps.editVerifiedPairs(docsT(s, dir), "doc_id", "text")
  private val llmEditVerifyOracle =
    s"""$minhashFpsCte,
      |sig AS (SELECT doc_id,
      |$minhashSigSelect
      |FROM d),
      |bands AS (
      |  SELECT doc_id, i AS band,
      |    CASE i WHEN 0 THEN mh0*2147483647+mh1 WHEN 1 THEN mh2*2147483647+mh3
      |           WHEN 2 THEN mh4*2147483647+mh5 ELSE mh6*2147483647+mh7 END AS key
      |  FROM sig, (SELECT unnest(range(4)) AS i) t),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT p.id1, p.id2,
      |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
      |    CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
      |  FROM pairs p
      |  JOIN documents ta ON p.id1 = ta.doc_id
      |  JOIN documents tb ON p.id2 = tb.doc_id)
      |SELECT id1, id2, edit_dist, max_len,
      |  CAST(edit_dist * 1000 <= max_len * 200 AS INT) AS is_dup FROM j""".stripMargin

  // Cross-source percentile calibration of a quality proxy (token
  // count): within-source percent_rank in permille, exact order
  // statistics with id tie-break.
  private val llmCalibrate: Q = (s, dir) =>
    graft.llm.PipelineOps.calibrateBySource(
      docsT(s, dir).select("doc_id", "source", "text"), "doc_id", "source",
      size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).cast("long"))
      .select(col("doc_id"), col("source"), col("cal_score"), col("pr_milli"))
  private val llmCalibrateOracle =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'),
      |      t -> length(t) > 0)) AS BIGINT) AS cal_score
      |  FROM documents)
      |SELECT doc_id, source, cal_score,
      |  CAST(floor(percent_rank() OVER (PARTITION BY source
      |    ORDER BY cal_score, doc_id) * 1000) AS BIGINT) AS pr_milli
      |FROM d""".stripMargin

  // Near-dup clustering: connected components over the arithmetic
  // LSH pairs, min-reachable-id labels + canonical pick. Oracle is the
  // same fixpoint via a recursive CTE.
  private val llmDedupClusters: Q = (s, dir) => {
    val docs = docsT(s, dir)
    graft.llm.DedupOps.dedupClusters(docs, "doc_id",
      graft.llm.DedupOps.minhashSignaturePairs(docs, "doc_id", "text"))
  }
  /** CTE chain ending in `reach(src, dst)` — the transitive closure of
    * the arithmetic-LSH near-dup graph; shared by the clustering and
    * curation oracles.
    */
  private val clustersReachCte = {
    val cte = minhashFpsCte.replace("WITH tokfp", "WITH RECURSIVE tokfp")
    s"""$cte,
      |sig AS (SELECT doc_id,
      |$minhashSigSelect
      |FROM d),
      |bands AS (
      |  SELECT doc_id, i AS band,
      |    CASE i WHEN 0 THEN mh0*2147483647+mh1 WHEN 1 THEN mh2*2147483647+mh3
      |           WHEN 2 THEN mh4*2147483647+mh5 ELSE mh6*2147483647+mh7 END AS key
      |  FROM sig, (SELECT unnest(range(4)) AS i) t),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |undir AS (SELECT id1 AS a, id2 AS b FROM pairs
      |          UNION ALL SELECT id2, id1 FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN undir e ON r.dst = e.a)""".stripMargin
  }

  private val llmDedupClustersOracle =
    s"""$clustersReachCte
      |SELECT src AS doc_id, min(dst) AS cluster_id,
      |  CAST(src = min(dst) AS INT) AS is_canonical
      |FROM reach GROUP BY 1""".stripMargin

  // Composite curation: cluster-canonical + length band + language
  // confidence, every leg an independently-oracled operator
  private val llmCurate: Q = (s, dir) =>
    graft.llm.TextOps.curate(docsT(s, dir), "doc_id", "text")
  private val llmCurateOracle = {
    def cnt(words: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"
    val en = cnt(Seq("the", "a", "is", "and"))
    val es = cnt(Seq("la", "el", "y", "de"))
    val fr = cnt(Seq("le", "la", "et", "un"))
    val de = cnt(Seq("der", "die", "und", "ein"))
    val zh = cnt(Seq("de", "shi", "he", "zai"))
    s"""$clustersReachCte,
      |cc AS (
      |  SELECT src AS doc_id, min(dst) AS cluster_id,
      |    CAST(src = min(dst) AS INT) AS is_canonical
      |  FROM reach GROUP BY 1),
      |lang AS (
      |  SELECT doc_id,
      |    CASE WHEN $en >= greatest($es, $fr, $de, $zh) THEN 'en'
      |         WHEN $es >= greatest($fr, $de, $zh) THEN 'es'
      |         WHEN $fr >= greatest($de, $zh) THEN 'fr'
      |         WHEN $de >= $zh THEN 'de'
      |         ELSE 'zh' END AS predicted,
      |    $en AS score_en,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      |  FROM documents)
      |SELECT c.doc_id AS doc_id, c.cluster_id, l.predicted, l.n_tokens,
      |  CAST(c.is_canonical = 1 AND l.n_tokens >= 20 AND l.n_tokens <= 200
      |       AND l.score_en > 0 AS INT) AS kept
      |FROM cc c JOIN lang l ON c.doc_id = l.doc_id""".stripMargin
  }

  // The assembled end-to-end curation run: near-dup canonical ∧
  // confident-English ∧ decontaminated survivors, temperature-mixed
  // to a 6000-token budget — every stage an independently-oracled
  // operator, composed here so the full chain hash-compares too.
  // raw (un-pre-partitioned) read on purpose: the chain's iterative
  // star-contraction stages run best when AQE is free to coalesce each
  // round's tiny shuffles — the fixed 32-partition cache costs ~0.5 s
  // here (measured r9) while the single-stage doc kernels it helps
  // read docsT
  private val llmPipelineE2e: Q = (s, dir) =>
    graft.llm.PipelineOps.curationPipeline(t(s, dir, "documents"),
      "doc_id", "text", "source", col("doc_id") % 50 === 0, 6000L)
  private val llmPipelineE2eOracle = {
    def cnt(words: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"
    val en = cnt(Seq("the", "a", "is", "and"))
    s"""$clustersReachCte,
      |cc AS (
      |  SELECT src AS doc_id FROM reach GROUP BY 1 HAVING src = min(dst)),
      |lang AS (SELECT doc_id FROM documents WHERE $en > 0),
      |sfp AS (SELECT doc_id, list_distinct(fps) AS fps FROM d),
      |bench AS (SELECT DISTINCT unnest(fps) AS fp FROM sfp WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT t.doc_id, count(*) AS n_hits
      |  FROM (SELECT doc_id, unnest(fps) AS fp FROM sfp WHERE doc_id % 50 <> 0) t
      |  JOIN bench b ON t.fp = b.fp GROUP BY 1),
      |kept AS (
      |  SELECT doc.doc_id, doc.source, doc.text
      |  FROM documents doc
      |  JOIN cc ON cc.doc_id = doc.doc_id
      |  JOIN lang l ON l.doc_id = doc.doc_id
      |  LEFT JOIN hits h ON h.doc_id = doc.doc_id
      |  WHERE doc.doc_id % 50 <> 0 AND coalesce(h.n_hits, 0) = 0),
      |tok AS (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |         (doc_id & 2147483647) * 2654435761 AS h
      |  FROM kept
      |), src AS (
      |  SELECT source, sum(n_tokens) AS n_src FROM tok GROUP BY source
      |), wsrc AS (
      |  SELECT source,
      |         CASE WHEN (g+1)*(g+1) <= n_src THEN g+1
      |              WHEN g*g > n_src THEN g-1 ELSE g END AS w
      |  FROM (SELECT source, n_src,
      |          CAST(floor(sqrt(CAST(n_src AS DOUBLE))) AS BIGINT) AS g FROM src)
      |), b AS (
      |  SELECT source,
      |         CAST((6000::HUGEINT * w) // (SELECT sum(w) FROM wsrc) AS BIGINT) AS budget
      |  FROM wsrc
      |), c AS (
      |  SELECT t.doc_id, t.source, t.n_tokens, b.budget,
      |         CAST(sum(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.h, t.doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM tok t JOIN b ON t.source = b.source
      |)
      |SELECT doc_id, source, n_tokens, cum_tokens, budget FROM c
      |WHERE cum_tokens <= budget""".stripMargin
  }

  // Multimodal decode with exact integer output: the same per-partition
  // decode stage as q_mm_features, emitting raw bin counts so the full
  // binary->features path is hash-checked against SQL, not row-counted.
  private val mmBinCounts: Q = (s, dir) =>
    graft.llm.Multimodal.binCounts(
      graft.llm.Multimodal.packFromDocuments(docsT(s, dir))).toDF()
      // exploded to (media, bin, count) rows so every comparison
      // harness can hash it (array cells can't be sorted in pandas)
      .select(col("media_id"), col("kind"), col("n_bytes"),
        posexplode(col("bin_counts")))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("pos").cast("int").as("bin"), col("col").as("cnt"))
  private val mmBinCountsOracle =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    list_transform(range(length(text)), i -> ord(text[i+1])) AS codes
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CAST(b AS INT) AS bin,
      |  CAST(len(list_filter(codes, c -> c // 16 = b)) AS BIGINT) AS cnt
      |FROM d, (SELECT unnest(range(16)) AS b) bins""".stripMargin

  // Frame sampling (video stub): every 2nd 64-byte frame, exact
  // per-frame checksum — the demux/decode plumbing hash-checked.
  private val mmFrames: Q = (s, dir) =>
    graft.llm.Multimodal.frameSample(
      graft.llm.Multimodal.packFromDocuments(docsT(s, dir))).toDF()
  private val mmFramesOracle =
    """WITH d AS (
      |  SELECT doc_id, list_transform(range(length(text)), i -> CAST(ord(text[i+1]) AS BIGINT)) AS codes,
      |         length(text) // 64 AS nf
      |  FROM documents)
      |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx, CAST(64 AS INT) AS n_bytes,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes[f*64+1 : (f+1)*64]),
      |    (a, c) -> (a*31 + c) % 1000000007) AS checksum
      |FROM d, LATERAL (SELECT unnest(range(nf)) AS f) t
      |WHERE f % 2 = 0""".stripMargin

  // Resize (image stub): 64-point stride resample, exact checksum.
  // MULTIMODAL PERCEPTUAL-HASH NEAR-DUP (pHash, DCT form): the
  // media half of the dedup story — stride-sample the opaque payload
  // to an 8×8 grid (the resize stub's sampling; a real decoder's
  // luminance thumbnail slots in unchanged), fixed-point Q14 DCT-II,
  // threshold the 63 AC coefficients at their median, pack 63 bits,
  // then the SAME 4×16-bit Hamming-band LSH core as the text SimHash
  // (recall-lossless for hamming ≤ 3, Σ|bucket|² candidates, never
  // all-pairs). Exact integers end to end: the StrictMath-computed
  // Q14 cosine table is inlined as literals into BOTH engines.
  // The raw corpus has no perceptual near-dups (every doc is distinct
  // text), so the entry PLANTS them — an exact re-upload (doc_id%100
  // = 0, +1e6) and a one-byte corruption (doc_id%100 = 50, +2e6,
  // first char overwritten) of a deterministic subset, mirrored in
  // the oracle — making the hash-compare cover real recovered pairs,
  // not an empty set. Exact copies recover at hamming 0 always; the
  // one-byte corruptions recover wherever ≤ 3 of the 63 threshold
  // bits flipped (data-dependent, identical in both engines).
  private val mmPhashNearDup: Q = (s, dir) => {
    val base = docsT(s, dir).select(col("doc_id"), col("text"),
      col("n_chars"))
    val media = base
      .unionByName(base.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("n_chars")))
      .unionByName(base.filter(col("doc_id") % 100 === 50)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("X"), expr("substring(text, 2)")).as("text"),
          col("n_chars")))
    graft.llm.Multimodal.phashNearDup(
      graft.llm.Multimodal.packFromDocuments(media))
  }
  /** The DCT table literal shared by every pHash oracle. */
  private def phashCtRows: String =
    (for (u <- 0 until 8; n <- 0 until 8)
      yield s"($u, $n, ${graft.llm.Multimodal.DctQ14(u)(n)})")
      .mkString(", ")

  /** The pHash CTE chain: reads `${p}media(doc_id, text)` (and the
    * shared `ct` DCT table), emits `${p}ph(media_id, phash)` —
    * instantiable twice in one query (corpus + benchmark sides of the
    * decontamination oracle). */
  private def phashSqlChain(p: String): String =
    s"""${p}d AS (
      |  SELECT doc_id AS media_id, length(text) AS n,
      |    list_transform(range(length(text)),
      |      i -> CAST(ord(text[i+1]) AS BIGINT)) AS codes
      |  FROM ${p}media),
      |${p}px AS (
      |  SELECT media_id, i, codes[(i * n) // 64 + 1] AS p,
      |         i // 8 AS r, i % 8 AS c
      |  FROM ${p}d, UNNEST(range(64)) AS t(i) WHERE n > 0),
      |${p}f AS (
      |  SELECT px.media_id, cu.u AS u, cv.u AS v,
      |    CAST(sum(px.p * cu.cv * cv.cv) AS BIGINT) AS coef
      |  FROM ${p}px px JOIN ct cu ON cu.pos = px.r
      |  JOIN ct cv ON cv.pos = px.c
      |  GROUP BY 1, 2, 3),
      |${p}ac AS (SELECT media_id, u * 8 + v AS idx, coef FROM ${p}f
      |       WHERE NOT (u = 0 AND v = 0)),
      |${p}med AS (
      |  SELECT media_id, coef AS m FROM (
      |    SELECT media_id, coef,
      |      row_number() OVER (PARTITION BY media_id ORDER BY coef) AS rn
      |    FROM ${p}ac) WHERE rn = 32),
      |${p}ph AS (
      |  SELECT a.media_id,
      |    CAST(sum(CASE WHEN a.coef > m.m
      |         THEN 1::BIGINT << (a.idx - 1) ELSE 0 END) AS BIGINT)
      |      AS phash
      |  FROM ${p}ac a JOIN ${p}med m ON a.media_id = m.media_id
      |  GROUP BY 1
      |  UNION ALL
      |  SELECT media_id, 0 FROM ${p}d WHERE n = 0)""".stripMargin

  private val mmPhashNearDupOracle =
    s"""WITH media AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 100 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, 'X' || substring(text, 2)
      |  FROM documents WHERE doc_id % 100 = 50),
      |ct(u, pos, cv) AS (SELECT * FROM (VALUES $phashCtRows)),
      |${phashSqlChain("")},
      |ch AS (
      |  SELECT media_id, phash, i AS chunk,
      |         (phash >> (i * 16)) & 65535 AS key
      |  FROM ph, UNNEST(range(4)) AS t(i))
      |SELECT DISTINCT a.media_id AS id1, b.media_id AS id2,
      |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |FROM ch a JOIN ch b
      |  ON a.chunk = b.chunk AND a.key = b.key AND a.media_id < b.media_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin

  // PERCEPTUAL DECONTAMINATION — the media analogue of
  // q_llm_decontaminate: benchmark media (here a one-byte-corrupted
  // re-encode of every doc_id % 25 == 0 payload — bytes differ,
  // perception doesn't) must not survive into the training corpus.
  // Corpus and benchmark pHash through the SAME chain; candidates
  // come from Hamming bands joined ACROSS SIDES only (linear in each
  // side, never corpus² — the incremental-dedup shape); survivors =
  // corpus anti-joined on the matched ids.
  private val mmPhashDecontaminate: Q = (s, dir) => {
    val M = graft.llm.Multimodal
    val base = docsT(s, dir).select(col("doc_id"), col("text"),
      col("n_chars"))
    val bench = base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(lit("X"), expr("substring(text, 2)")).as("text"),
        col("n_chars"))
    M.phashDecontaminate(M.packFromDocuments(base),
        M.packFromDocuments(bench))
      .select(col("media_id"), col("kind"), col("n_bytes"))
  }
  private val mmPhashDecontaminateOracle =
    s"""WITH cmedia AS (SELECT doc_id, text FROM documents),
      |bmedia AS (
      |  SELECT doc_id + 5000000 AS doc_id, 'X' || substring(text, 2) AS text
      |  FROM documents WHERE doc_id % 25 = 0),
      |ct(u, pos, cv) AS (SELECT * FROM (VALUES $phashCtRows)),
      |${phashSqlChain("c")},
      |${phashSqlChain("b")},
      |cch AS (
      |  SELECT media_id, phash, i AS chunk,
      |         (phash >> (i * 16)) & 65535 AS key
      |  FROM cph, UNNEST(range(4)) AS t(i)),
      |bch AS (
      |  SELECT phash AS bphash, i AS chunk,
      |         (phash >> (i * 16)) & 65535 AS key
      |  FROM bph, UNNEST(range(4)) AS t(i)),
      |hit AS (
      |  SELECT DISTINCT c.media_id
      |  FROM cch c JOIN bch b ON c.chunk = b.chunk AND c.key = b.key
      |  WHERE bit_count(xor(c.phash, b.bphash)) <= 3)
      |SELECT d.doc_id AS media_id,
      |  CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(length(d.text) AS BIGINT) AS n_bytes
      |FROM documents d
      |WHERE d.doc_id NOT IN (SELECT media_id FROM hit)""".stripMargin

  // VIDEO-SEQUENCE NEAR-DUP (VERDICT r16 #8 — compose frames ×
  // pHash): each video clip reduces to the SEQUENCE of its frames'
  // perceptual hashes (framePhash — frameSample's demux plumbing with
  // the q_mm_phash grid kernel per 64-byte frame), 3-frame shingles
  // fingerprint with the string-FNV kernel, candidates come from the
  // shared-fingerprint bucket join (never all-pairs — the winnowing
  // shape), and a pair survives when the shared shingles cover ≥ 1/2
  // of the SHORTER clip's shingle set. The corpus is the video-kind
  // documents with payload looped ×2 (a clip long enough to carry
  // 5-10 frames); planted, all mirrored in SQL:
  //   +1e6: exact re-uploads (doc_id % 30 == 2) — recover at full
  //         ratio always;
  //   +2e6: a one-byte "re-encode" inside frame 2 (doc_id % 30 == 5)
  //         — only the ≤ 3 shingles crossing that frame break, so
  //         clips with ≥ 6 shingles recover (shorter ones fall under
  //         the ratio — data-dependent, identical in both engines);
  //   +3e6: a 2-frame PREFIX TRIM (doc_id % 30 == 8) — shingle
  //         fingerprints are position-independent, so the trimmed
  //         clip's shingles are a SUBSET and recover at full ratio.
  private val mmFrameNearDup: Q = (s, dir) => {
    val base = docsT(s, dir).filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), expr("repeat(text, 2)").as("text"),
        col("n_chars"))
    val media = base
      .unionByName(base.filter(col("doc_id") % 30 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("n_chars")))
      .unionByName(base.filter(col("doc_id") % 30 === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(expr("substring(text, 1, 130)"), lit("X"),
            expr("substring(text, 132)")).as("text"),
          col("n_chars")))
      .unionByName(base.filter(col("doc_id") % 30 === 8)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          expr("substring(text, 129)").as("text"), col("n_chars")))
    graft.llm.Multimodal.frameSequenceNearDup(
      graft.llm.Multimodal.packFromDocuments(media))
  }
  private val mmFrameNearDupOracle =
    s"""WITH vid AS (
      |  SELECT doc_id, repeat(text, 2) AS text FROM documents
      |  WHERE doc_id % 3 = 2),
      |media AS (
      |  SELECT doc_id, text FROM vid
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM vid WHERE doc_id % 30 = 2
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    substring(text, 1, 130) || 'X' || substring(text, 132)
      |  FROM vid WHERE doc_id % 30 = 5
      |  UNION ALL
      |  SELECT doc_id + 3000000, substring(text, 129)
      |  FROM vid WHERE doc_id % 30 = 8),
      |ct(u, pos, cv) AS (SELECT * FROM (VALUES $phashCtRows)),
      |d AS (
      |  SELECT doc_id AS media_id, length(text) // 64 AS nf,
      |    list_transform(range(length(text)),
      |      i -> CAST(ord(text[i+1]) AS BIGINT)) AS codes
      |  FROM media),
      |px AS (
      |  SELECT media_id, f, i, codes[f * 64 + i + 1] AS p,
      |         i // 8 AS r, i % 8 AS c
      |  FROM d, UNNEST(range(nf)) AS tf(f), UNNEST(range(64)) AS ti(i)),
      |fcoef AS (
      |  SELECT px.media_id, px.f, cu.u AS u, cv.u AS v,
      |    CAST(sum(px.p * cu.cv * cv.cv) AS BIGINT) AS coef
      |  FROM px JOIN ct cu ON cu.pos = px.r
      |  JOIN ct cv ON cv.pos = px.c
      |  GROUP BY 1, 2, 3, 4),
      |ac AS (SELECT media_id, f, u * 8 + v AS idx, coef FROM fcoef
      |       WHERE NOT (u = 0 AND v = 0)),
      |med AS (
      |  SELECT media_id, f, coef AS m FROM (
      |    SELECT media_id, f, coef,
      |      row_number() OVER (PARTITION BY media_id, f
      |        ORDER BY coef) AS rn
      |    FROM ac) WHERE rn = 32),
      |fh AS (
      |  SELECT a.media_id, a.f,
      |    CAST(sum(CASE WHEN a.coef > m.m
      |         THEN 1::BIGINT << (a.idx - 1) ELSE 0 END) AS BIGINT)
      |      AS fhash
      |  FROM ac a JOIN med m ON a.media_id = m.media_id AND a.f = m.f
      |  GROUP BY 1, 2),
      |seq AS (
      |  SELECT media_id, fhash AS h0,
      |    lead(fhash, 1) OVER w AS h1, lead(fhash, 2) OVER w AS h2
      |  FROM fh WINDOW w AS (PARTITION BY media_id ORDER BY f)),
      |-- the fingerprint stays in the unsigned HUGEINT domain: it is
      |-- only a join key (the signed/unsigned representations are
      |-- both injective images of the same 64-bit value)
      |sh AS (
      |  SELECT DISTINCT media_id,
      |    (${FnvOracleSql.fnvStrPublic(
             "(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || " +
             "'|' || CAST(h2 AS VARCHAR))")}) AS fp
      |  FROM seq WHERE h2 IS NOT NULL),
      |cnt AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_sh
      |        FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.media_id AS id1, b.media_id AS id2,
      |         CAST(count(*) AS BIGINT) AS shared
      |  FROM sh a JOIN sh b ON a.fp = b.fp AND a.media_id < b.media_id
      |  GROUP BY 1, 2)
      |SELECT p.id1, p.id2, p.shared, c1.n_sh AS n1, c2.n_sh AS n2
      |FROM pairs p
      |JOIN cnt c1 ON c1.media_id = p.id1
      |JOIN cnt c2 ON c2.media_id = p.id2
      |WHERE p.shared * 2 >= least(c1.n_sh, c2.n_sh)""".stripMargin

  private val mmResize: Q = (s, dir) =>
    graft.llm.Multimodal.resize(
      graft.llm.Multimodal.packFromDocuments(docsT(s, dir))).toDF()
  private val mmResizeOracle =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    list_transform(range(length(text)), i -> CAST(ord(text[i+1]) AS BIGINT)) AS codes
      |  FROM documents)
      |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_bytes_in,
      |  CAST(CASE WHEN n > 0 THEN 64 ELSE 0 END AS INT) AS n_samples,
      |  CASE WHEN n = 0 THEN 0 ELSE
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(64), i -> codes[(i*n) // 64 + 1])),
      |      (a, c) -> (a*31 + c) % 1000000007) END AS checksum
      |FROM d""".stripMargin

  // FNV/splitmix fast-path entries — fully DuckDB-oracled via HUGEINT
  // mod-2^64 arithmetic (see [[FnvOracleSql]]; previously rows-only
  // under a wrong "not SQL-expressible" note)
  private val llmMinhashPairs: Q = (s, dir) =>
    graft.llm.DedupOps.nearDupPairs(docsT(s, dir), "doc_id", "text", 0.5)
  private val llmSimhashPairs: Q = (s, dir) =>
    graft.llm.DedupOps.simhashPairs(docsT(s, dir), "doc_id", "text", 3)
      .select(col("id1"), col("id2"), col("hamming"))
  // Hashed linear classifier inference (fastText-style quality model
  // serving): bigram feature-hash → bucket weight → integer score sum,
  // one codegen'd projection + one partial-merged groupBy.
  private val llmLrScore: Q = (s, dir) =>
    graft.llm.TextOps.hashedLinearScore(docsT(s, dir), "doc_id", "text")

  // Overlapping token-window chunking (RAG ingestion): map-only
  // tokenize → sequence-explode → slice, oracled via DuckDB 1-based
  // inclusive list slicing.
  private val llmChunks: Q = (s, dir) =>
    graft.llm.TextOps.chunkDocs(docsT(s, dir), "doc_id", "text")
  private val llmChunksOracle =
    """WITH tk AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
      |  FROM tk WHERE len(tk) > 0),
      |c AS (
      |  SELECT doc_id, tk, n,
      |         unnest(range(0, ((n - 1) // 48) + 1)) AS chunk_id
      |  FROM base),
      |spans AS (
      |  SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
      |         CASE WHEN n - chunk_id * 48 < 64
      |              THEN n - chunk_id * 48 ELSE 64 END AS n_tok,
      |         tk
      |  FROM c)
      |SELECT doc_id, chunk_id, start_tok, n_tok,
      |       array_to_string(tk[start_tok + 1 : start_tok + n_tok], ' ') AS chunk_text
      |FROM spans""".stripMargin

  // Composed train→serve classifier: Naive-Bayes-flavoured bucket
  // weights trained on the corpus (label = 4-char source name), then
  // served back through the hashedLinearScore weights seam — the full
  // model loop in exact integer arithmetic, oracled end-to-end.
  private val llmNbScore: Q = (s, dir) => {
    val labeled = docsT(s, dir).withColumn("y",
      when(length(col("source")) === 4, 1L).otherwise(0L))
    val w = graft.llm.TextOps.trainClassifierWeights(labeled, "text", "y")
    graft.llm.TextOps.hashedLinearScore(docsT(s, dir), "doc_id", "text",
      weights = Some(w))
  }
  private val llmNbScoreOracle: String = {
    val bg =
      """tk AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, unnest(CASE WHEN len(tk) >= 2
        |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END) AS bigram
        |  FROM tk)""".stripMargin
    s"""WITH $bg,
       |feats AS (
       |  SELECT doc_id, source,
       |         CAST((${FnvOracleSql.fnvStrPublic("bigram")}) & 4095::HUGEINT AS BIGINT) AS bucket
       |  FROM bg),
       |agg AS (
       |  SELECT bucket,
       |         CAST(SUM(CASE WHEN length(source) = 4 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM feats GROUP BY 1),
       |w AS (
       |  SELECT bucket, (pos + 1) * 1000000 // (n + 2) AS w FROM agg)
       |SELECT f.doc_id, COUNT(*) AS n_feats,
       |       CAST(SUM(COALESCE(w.w, 0)) AS BIGINT) AS score
       |FROM feats f LEFT JOIN w ON f.bucket = w.bucket
       |GROUP BY 1""".stripMargin
  }

  private val llmFingerprints: Q = (s, dir) => {
    graft.functions.GraftFunctions.register(s)
    docsT(s, dir).select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"),
      graft.functions.LlmFunctions.fingerprint64(col("text")).as("fingerprint"))
  }

  // Engine-portable twins of the FNV simhash/fingerprint fast paths —
  // same algorithms over the arithmetic mod-prime token/char hashes
  // (cheaper oracles, and cross-engine-reproducible signatures for
  // callers that need them).
  private val llmSimhashPortablePairs: Q = (s, dir) =>
    graft.llm.DedupOps.simhashPortablePairs(docsT(s, dir), "doc_id", "text", 3)
  private val llmSimhashPortableOracle = {
    def bit(src: String, b: Int, w: Long) =
      s"(CASE WHEN coalesce(list_sum(list_transform($src, f -> " +
        s"CASE WHEN (f >> $b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0 THEN ${w} ELSE 0 END)"
    val bitExpr = ((0 until 30).map(b => bit("fpt", b, 1L << b)) ++
      (0 until 30).map(b => bit("fpt37", b, 1L << (b + 30)))).mkString("\n    + ")
    s"""WITH $tokfpSub,
      |sig AS (SELECT doc_id, CAST($bitExpr AS BIGINT) AS sig FROM tokfp),
      |chunks AS (
      |  SELECT doc_id, sig, t.i AS chunk, (sig >> (15 * CAST(t.i AS INT))) & 32767 AS key
      |  FROM sig, (SELECT unnest(range(4)) AS i) t)
      |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
      |FROM chunks a JOIN chunks b
      |  ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin
  }

  private val llmFingerprintPortable: Q = (s, dir) =>
    docsT(s, dir).select(col("doc_id"),
      graft.llm.DedupOps.portableFingerprint(col("text")).as("fingerprint"))
  private val llmFingerprintPortableOracle =
    """SELECT doc_id,
      |  CASE WHEN length(text) = 0 THEN 0
      |       WHEN length(text) < 8 THEN
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(range(1, length(text)+1), j -> CAST(ord(text[j]) AS BIGINT))),
      |           (a, c) -> (a*31 + c) % 1000000007)
      |       ELSE list_min(list_transform(range(1, length(text)-6),
      |         i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                list_transform(range(i, i+8), j -> CAST(ord(text[j]) AS BIGINT))),
      |                (a, c) -> (a*31 + c) % 1000000007)))
      |  END AS fingerprint
      |FROM documents""".stripMargin
  // Brute-force cosine top-k, rank-exact across engines: scores are
  // floor(1e6·cos) over quantized vectors — every arithmetic step is
  // exact-integer or a single correctly-rounded IEEE double op, so the
  // RANKING (not just the row set) hash-matches DuckDB. The float
  // cosine path stays in lshTopK/LlmSpec.
  // ---------------------------------------------------------------
  // Training-pipeline curation: decontamination, sampling, packing,
  // n-gram stats — all deterministic, all fully oracled
  // ---------------------------------------------------------------
  // Benchmark decontamination: docs with doc_id % 50 == 0 stand in for
  // the held-out eval set; any other doc sharing a 3-token shingle
  // with them is flagged. The shingle set broadcasts — no corpus
  // shuffle at 100 TB.
  // withSmallShuffle: every shuffled frame here is ≤ doc-count-sized
  // (the bench fp set, the per-doc hit counts, the final left join) —
  // the explode + broadcast semi-join itself is map-only, so 32-way
  // exchanges were the whole gap to the DuckDB stick (r17 VERDICT #2)
  private val llmDecontaminate: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("documents")) {
    graft.llm.PipelineOps.decontaminate(
      docsT(s, dir), "doc_id", "text", col("doc_id") % 50 === 0)
  }
  private val llmDecontaminateOracle =
    s"""$minhashFpsCte,
      |s AS (SELECT doc_id, list_distinct(fps) AS fps FROM d),
      |bench AS (SELECT DISTINCT unnest(fps) AS fp FROM s WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT t.doc_id, count(*) AS n_hits
      |  FROM (SELECT doc_id, unnest(fps) AS fp FROM s WHERE doc_id % 50 <> 0) t
      |  JOIN bench b ON t.fp = b.fp GROUP BY 1)
      |SELECT d2.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
      |FROM documents d2 LEFT JOIN hits h ON d2.doc_id = h.doc_id
      |WHERE d2.doc_id % 50 <> 0""".stripMargin

  // DSIR-style importance scores: hashed unigram+bigram profile
  // scored by Laplace-smoothed target/raw frequency ratios in exact
  // fixed point — target = the same doc_id % 50 set decontamination
  // uses. Fully hash-oracled (integer weights, integer sums).
  private val llmDsirScores: Q = (s, dir) =>
    graft.llm.PipelineOps.dsirScores(
      docsT(s, dir), "doc_id", "text", col("doc_id") % 50 === 0)
  private val llmDsirScoresOracle =
    s"""WITH $tokfpSub,
      |f AS (
      |  SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS is_t,
      |    list_concat(fpt,
      |      CASE WHEN len(fpt) < 2 THEN CAST([] AS BIGINT[])
      |      ELSE list_transform(range(len(fpt) - 1),
      |        j -> (fpt[j+1] * 1000003 + fpt[j+2]) % 1000000007) END) AS fps
      |  FROM tokfp),
      |u AS (SELECT doc_id, is_t, unnest(fps) % 10000 AS f FROM f),
      |c AS (SELECT f, count(*) AS r_f, CAST(sum(is_t) AS BIGINT) AS t_f
      |      FROM u GROUP BY f),
      |w AS (SELECT f, ((t_f + 1) * 1000000) // (r_f + 1) AS w FROM c)
      |SELECT u.doc_id, CAST(count(*) AS INT) AS n_features,
      |  CAST(sum(w.w) AS BIGINT) AS dsir_score
      |FROM u JOIN w ON u.f = w.f GROUP BY 1""".stripMargin

  // Deterministic stratified sampling: English thinned to 20%, other
  // strata to 50%, by a multiplicative id hash — re-derivable exactly,
  // unlike df.sample.
  private val llmStratifiedSample: Q = (s, dir) =>
    graft.llm.PipelineOps.stratifiedSample(
      docsT(s, dir).select("doc_id", "lang"), "doc_id", "lang",
      when(col("lang") === "en", 200).otherwise(500))
  private val llmStratifiedSampleOracle =
    """SELECT doc_id, lang, ((doc_id & 2147483647) * 2654435761) % 1000 AS bucket
      |FROM documents
      |WHERE ((doc_id & 2147483647) * 2654435761) % 1000 < CASE WHEN lang = 'en' THEN 200 ELSE 500 END""".stripMargin

  // Per-language quota cap: at most 60 docs per language, picked in
  // deterministic hash order — re-derivable, unlike a random sample.
  private val llmGroupQuota: Q = (s, dir) =>
    graft.llm.PipelineOps.groupQuota(
      docsT(s, dir).select("doc_id", "lang"), "doc_id", "lang", 60)
  private val llmGroupQuotaOracle =
    """SELECT doc_id, lang,
      |  CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY ((doc_id & 2147483647) * 2654435761) % 1000000007, doc_id) AS BIGINT) AS smpl_rank
      |FROM documents
      |QUALIFY row_number() OVER (PARTITION BY lang
      |  ORDER BY ((doc_id & 2147483647) * 2654435761) % 1000000007, doc_id) <= 60""".stripMargin

  // Weighted priority sample: top-20 per language by the integer
  // (w·2^33) DIV (u+1) priority (weight = text byte length, a
  // quality-score stand-in) — odds rise with weight, selection stays
  // exactly re-derivable (see PipelineOps.weightedSample scaladoc for
  // the deliberate A-ES divergence).
  private val llmWeightedSample: Q = (s, dir) =>
    graft.llm.PipelineOps.weightedSample(
      docsT(s, dir).select("doc_id", "lang", "text"), "doc_id", "lang",
      octet_length(col("text")), 20)
      .select(col("doc_id"), col("lang"), col("smpl_pri"), col("smpl_rank"))
  private val llmWeightedSampleOracle =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    ((doc_id & 2147483647) * 2654435761) % 1000000007 AS u,
      |    greatest(least(CAST(strlen(text) AS BIGINT), 1048576), 1) AS w
      |  FROM documents),
      |p AS (SELECT doc_id, lang, (w * 8589934592) // (u + 1) AS smpl_pri FROM b)
      |SELECT doc_id, lang, smpl_pri,
      |  CAST(row_number() OVER (PARTITION BY lang ORDER BY smpl_pri DESC, doc_id) AS BIGINT) AS smpl_rank
      |FROM p
      |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY smpl_pri DESC, doc_id) <= 20""".stripMargin

  // Sequence packing: per-language concat-and-split into 2048-token
  // packs via one cumulative-sum window.
  private val llmSeqPack: Q = (s, dir) =>
    graft.llm.PipelineOps.seqPack(docsT(s, dir), "doc_id", "lang", "text")
  private val llmSeqPackOracle =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
      |  FROM d)
      |SELECT doc_id, lang, n_tokens, tokens_before // 2048 AS pack_id,
      |  tokens_before % 2048 AS pack_offset FROM c""".stripMargin

  // PII-pattern scan: per-doc email/phone/IPv4-shaped match counts
  // (RE2-compatible patterns so both engines count identically).
  private val llmPiiCounts: Q = (s, dir) =>
    graft.llm.PipelineOps.piiCounts(docsT(s, dir), "doc_id", "text")
  private val llmPiiCountsOracle = {
    import graft.llm.PipelineOps.{EmailRe, Ipv4Re, PhoneRe}
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(text, '\\+[0-9]{7,15}')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ipv4
      |FROM documents""".stripMargin
  }

  // PII redaction: the masking transform (emails, then phones, then
  // IPv4s), with the number of masks actually placed.
  private val llmPiiRedact: Q = (s, dir) =>
    graft.llm.PipelineOps.piiRedact(docsT(s, dir), "doc_id", "text")
  private val llmPiiRedactOracle = {
    import graft.llm.PipelineOps.{EmailRe, Ipv4Re}
    s"""WITH m AS (
      |  SELECT doc_id, text,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '$EmailRe', '<EMAIL>', 'g'),
      |      '\\+[0-9]{7,15}', '<PHONE>', 'g'),
      |      '$Ipv4Re', '<IP>', 'g') AS redacted
      |  FROM documents
      |)
      |SELECT doc_id, redacted,
      |  CAST(len(regexp_extract_all(redacted, '<EMAIL>'))
      |     - len(regexp_extract_all(text, '<EMAIL>'))
      |     + len(regexp_extract_all(redacted, '<PHONE>'))
      |     - len(regexp_extract_all(text, '<PHONE>'))
      |     + len(regexp_extract_all(redacted, '<IP>'))
      |     - len(regexp_extract_all(text, '<IP>')) AS BIGINT) AS n_redacted
      |FROM m""".stripMargin
  }

  // Common-bigram coverage: per-doc fraction (per mille) of bigram
  // instances landing in the corpus-wide top-1000 list.
  private val llmLmCoverage: Q = (s, dir) =>
    graft.llm.PipelineOps.lmCoverage(docsT(s, dir), "doc_id", "text", 1000)
  /** 16-step integer log2 chain (the SQL twin of
    * `VecBridge.ilog2x16`) over a CTE `src` providing distinct
    * positive BIGINT `x`: normalize to a Q15 mantissa, then 16
    * square-and-carry steps; ends with CTE `lg(x, ilog)`. Generated
    * programmatically like the z-order interleave and PageRank
    * unrolls.
    */
  private def ilogChainSql(src: String): String = {
    val sb = new StringBuilder
    sb.append(s"lg0 AS (SELECT x, length(format('{:b}', x)) - 1 AS n FROM $src),\n")
    sb.append("lgm AS (SELECT x, n, CASE WHEN n <= 15 THEN x << (15 - n) " +
      "ELSE x >> (n - 15) END AS m, CAST(0 AS BIGINT) AS r FROM lg0),\n")
    var prev = "lgm"
    for (i <- 1 to 16) {
      sb.append(s"q$i AS (SELECT x, n, (m * m) >> 15 AS q, r FROM $prev),\n")
      sb.append(s"s$i AS (SELECT x, n, CASE WHEN q >= 65536 THEN q >> 1 ELSE q END AS m, " +
        s"r * 2 + CASE WHEN q >= 65536 THEN 1 ELSE 0 END AS r FROM q$i),\n")
      prev = s"s$i"
    }
    sb.append(s"lg AS (SELECT x, (n << 16) | r AS ilog FROM $prev)")
    sb.toString
  }

  // CCNet-style bigram-LM perplexity filter: a Laplace-smoothed
  // word-bigram model trained on the doc_id % 50 reference subset
  // (the same split decontamination/DSIR use) scores every other
  // document's total NLL and millibits-per-bigram in 16.16 fixed
  // point — the integer-only ilog2x16 makes the scores, not just the
  // ordering, hash-exact across engines (the oracle runs the SAME 16
  // square-and-carry steps as unrolled CTEs over the distinct count
  // values, which are vocabulary-sized).
  private val llmPerplexity: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("documents")) {
    graft.llm.PipelineOps.lmPerplexity(
      docsT(s, dir), "doc_id", "text", col("doc_id") % 50 === 0)
  }
  private val llmPerplexityOracle =
    s"""WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0) AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
      |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
      |    ELSE CAST([] AS VARCHAR[]) END) AS bigram
      |  FROM tk),
      |ref AS (SELECT bigram FROM bg WHERE doc_id % 50 = 0),
      |probe AS (SELECT doc_id, bigram FROM bg WHERE doc_id % 50 <> 0),
      |c12 AS (SELECT bigram, count(*) AS c12 FROM ref GROUP BY 1),
      |c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, count(*) AS c1 FROM ref GROUP BY 1),
      |vv AS (SELECT count(DISTINCT string_split(bigram, ' ')[2]) AS v FROM ref),
      |inst AS (
      |  SELECT p.doc_id,
      |    coalesce(c.c12, 0) + 1 AS xa,
      |    coalesce(k.c1, 0) + (SELECT v FROM vv) AS xb
      |  FROM probe p LEFT JOIN c12 c ON p.bigram = c.bigram
      |  LEFT JOIN c1 k ON string_split(p.bigram, ' ')[1] = k.w1),
      |xs AS (SELECT DISTINCT xa AS x FROM inst UNION SELECT DISTINCT xb AS x FROM inst),
      |${ilogChainSql("xs")},
      |scored AS (
      |  SELECT i.doc_id, (la.ilog - lb.ilog) AS lp
      |  FROM inst i JOIN lg la ON i.xa = la.x JOIN lg lb ON i.xb = lb.x),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |         CAST(sum(-lp) AS BIGINT) AS nll_x16
      |  FROM scored GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(a.n_bigrams, 0) AS n_bigrams,
      |  coalesce(a.nll_x16, 0) AS nll_x16,
      |  CAST(CASE WHEN coalesce(a.n_bigrams, 0) = 0 THEN 0
      |       ELSE a.nll_x16 * 1000 // (a.n_bigrams * 65536) END AS BIGINT) AS bits_milli
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |WHERE d.doc_id % 50 <> 0""".stripMargin

  // The perplexity filter's SERVE tier — train→PERSIST→serve, the
  // fourth persistence seam: the vocabulary-bounded (kind, key, cnt)
  // model frame is staged once per corpus fingerprint via
  // Quantizers.saveModel, RELOADED, and an arriving batch (the
  // non-reference docs) is scored from it. Output — and therefore the
  // oracle — is IDENTICAL to the fused q_llm_perplexity; what the
  // gate verifies here is the persisted path (ModelSeamSpec pins
  // persisted == in-memory).
  private val llmPerplexityServed: Q = (s, dir) => {
    val key = graft.sources.SyntheticTraces.tableKey(dir, Seq("documents"))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_bigramlm_v1_$key"
    if (!graft.sources.Staging.hasMarker(s"$path")) {
      graft.sources.Staging.stageOnce(path) { tmp =>
        graft.llm.Quantizers.saveModel(
          graft.llm.PipelineOps.trainBigramLm(
            docsT(s, dir), "doc_id", "text", col("doc_id") % 50 === 0), tmp)
      }
    }
    graft.llm.PipelineOps.lmPerplexityServe(
      docsT(s, dir).filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      graft.llm.Quantizers.loadModel(s, path))
  }

  private val llmLmCoverageOracle =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
      |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
      |    ELSE CAST([] AS VARCHAR[]) END) AS bigram
      |  FROM tk),
      |top AS (
      |  SELECT bigram FROM bg GROUP BY 1
      |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, bigram) <= 1000),
      |cov AS (
      |  SELECT b.doc_id, count(*) AS n_bigrams,
      |    CAST(sum(CASE WHEN t.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common
      |  FROM bg b LEFT JOIN top t ON b.bigram = t.bigram GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(c.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
      |  CAST(CASE WHEN coalesce(c.n_bigrams, 0) = 0 THEN 0
      |       ELSE floor(1000 * c.n_common / c.n_bigrams) END AS BIGINT) AS cov_permille
      |FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id""".stripMargin

  // Global bigram top-100 (corpus n-gram statistics), deterministic cut.
  private val llmNgramFreq: Q = (s, dir) =>
    graft.llm.PipelineOps.ngramTopK(docsT(s, dir), "text", 100)
  private val llmNgramFreqOracle =
    """WITH tk AS (
      |  SELECT list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(CASE WHEN len(tk) >= 2
      |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
      |    ELSE CAST([] AS VARCHAR[]) END) AS bigram
      |  FROM tk)
      |SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1
      |QUALIFY row_number() OVER (ORDER BY count(*) DESC, bigram) <= 100""".stripMargin

  // Per-source top-5 bigrams (corpus-composition gauge), same kernel
  // and derivation as q_llm_ngram_freq with a per-source window.
  private val llmNgramBySource: Q = (s, dir) =>
    graft.llm.PipelineOps.ngramTopKBySource(docsT(s, dir), "text", "source", 5)
  private val llmNgramBySourceOracle =
    """WITH tk AS (
      |  SELECT source, list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT source, unnest(CASE WHEN len(tk) >= 2
      |    THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
      |    ELSE CAST([] AS VARCHAR[]) END) AS bigram
      |  FROM tk),
      |c AS (SELECT source, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2)
      |SELECT source, bigram, cnt,
      |       CAST(row_number() OVER (PARTITION BY source ORDER BY cnt DESC, bigram) AS INT) AS rnk
      |FROM c QUALIFY rnk <= 5""".stripMargin

  // Corpus snapshot diff: deterministic old/new corpus states derived
  // in-plan (old drops doc_id%7=0, new drops doc_id%5=0 and rewrites
  // doc_id%3=0), classified per id by one full-outer equi-join.
  private val llmSnapshotDiff: Q = (s, dir) => {
    val d = docsT(s, dir)
    val oldSnap = d.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
    val newSnap = d.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
        .otherwise(col("text")).as("text"))
    graft.llm.PipelineOps.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
  }
  private val llmSnapshotDiffOracle =
    """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
      |n AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
      |      FROM documents WHERE doc_id % 5 <> 0)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN o.text = n.text THEN 'unchanged' ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin

  // Source-overlap matrix via merged (union) MinHash signatures —
  // doc signatures min-merge to one catalog-sized frame per source;
  // the pair step is source², never doc-scaled. Arithmetic minhash,
  // so the permille estimates hash-compare exactly.
  // withSmallShuffle: the merged signatures are one row per source and
  // the pair frame is source² — everything past the map-only doc
  // signature pass is catalog-sized (r17 VERDICT #2 boundary entry)
  private val llmSourceOverlap: Q = (s, dir) =>
    withSmallShuffle(s, dir, Seq("documents")) {
    graft.llm.DedupOps.sourceSimilarityMatrix(docsT(s, dir), "doc_id", "text", "source")
  }
  private val llmSourceOverlapOracle = {
    val mins = (0 until 8).map(i => s"min(mh$i) AS mh$i").mkString(", ")
    val matches = (0 until 8)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$minhashFpsCte,
      |sig AS (SELECT doc_id,
      |$minhashSigSelect
      |FROM d),
      |ss AS (SELECT dd.source, $mins
      |       FROM sig JOIN documents dd USING (doc_id) GROUP BY 1)
      |SELECT a.source AS src1, b.source AS src2,
      |       CAST(($matches) * 125 AS BIGINT) AS est_permille
      |FROM ss a JOIN ss b ON a.source < b.source""".stripMargin
  }

  // Gopher/MassiveText repetition filter evidence: duplicate bigram/
  // trigram fractions per document (the published repetition quality
  // rules), all-integer so both engines hash-match.
  private val llmRepetition: Q = (s, dir) =>
    graft.llm.TextOps.repetitionStats(docsT(s, dir), "doc_id", "text")
  private val llmRepetitionOracle =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS tk
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, len(tk) AS nt,
      |    CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
      |    ELSE list_transform(range(len(tk)-1), j -> tk[j+1] || ' ' || tk[j+2]) END AS bg,
      |    CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
      |    ELSE list_transform(range(len(tk)-2), j -> tk[j+1] || ' ' || tk[j+2] || ' ' || tk[j+3]) END AS tg
      |  FROM tk),
      |top AS (
      |  SELECT doc_id, max(c) AS topb FROM (
      |    SELECT doc_id, count(*) AS c
      |    FROM gr, LATERAL (SELECT unnest(bg) AS b) x
      |    GROUP BY doc_id, b) GROUP BY doc_id)
      |SELECT g.doc_id,
      |  CAST(nt AS INT) AS n_tokens,
      |  CAST(len(bg) AS INT) AS n_bigrams,
      |  CAST(coalesce(t.topb, 0) AS INT) AS top_bigram_count,
      |  CAST(len(tg) AS INT) AS n_trigrams,
      |  CAST(len(list_distinct(tg)) AS INT) AS distinct_trigrams,
      |  CAST(CASE WHEN len(bg) = 0 THEN 0
      |    ELSE (coalesce(t.topb, 0) * 1000000) // len(bg) END AS BIGINT) AS top_bigram_frac_x1e6,
      |  CAST(CASE WHEN len(tg) = 0 THEN 0
      |    ELSE ((len(tg) - len(list_distinct(tg))) * 1000000) // len(tg) END AS BIGINT) AS dup_trigram_frac_x1e6
      |FROM gr g LEFT JOIN top t ON g.doc_id = t.doc_id""".stripMargin

  // C4 cleaning rules (Raffel et al. 2020 §2.2): per-page integer
  // evidence for every rule + the composed verdict, hash-oracled.
  private val llmC4Stats: Q = (s, dir) =>
    graft.llm.TextOps.c4Stats(docsT(s, dir), "doc_id", "text")
  private val llmC4StatsOracle =
    """WITH d AS (
      |  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents),
      |k AS (
      |  SELECT doc_id, text, lines,
      |    list_filter(lines, l -> right(l, 1) IN ('.', '!', '?', '"')
      |      AND len(list_filter(string_split(l, ' '), w -> length(w) > 0)) >= 3) AS kept_lines
      |  FROM d),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(lines) AS INT) AS n_lines,
      |    CAST(len(kept_lines) AS INT) AS n_kept_lines,
      |    CAST(coalesce(list_sum(list_transform(kept_lines,
      |      l -> length(l) - length(translate(l, '.!?', '')))), 0) AS INT) AS n_sentences_kept,
      |    CAST(contains(lower(text), 'lorem ipsum') AS INT) AS has_lorem_ipsum,
      |    CAST(contains(text, '{') AS INT) AS has_curly,
      |    CAST(len(list_filter(lines, l -> contains(lower(l), 'javascript'))) AS INT)
      |      AS n_javascript_lines
      |  FROM k)
      |SELECT *,
      |  CAST(n_sentences_kept >= 5 AND has_lorem_ipsum = 0 AND has_curly = 0
      |    AND n_javascript_lines = 0 AS INT) AS kept
      |FROM m""".stripMargin

  // The float32 descriptor path, oracled exactly: feature = bin-6
  // count / n_bytes computed in FLOAT (one correctly-rounded single-
  // precision division in both engines), then widened and quantized.
  // Bin 6 covers codepoints 96-111 (most lowercase letters) so the
  // value is non-trivial on text payloads.
  private val mmFeatures: Q = (s, dir) =>
    graft.llm.Multimodal.extractFeatures(
      graft.llm.Multimodal.packFromDocuments(docsT(s, dir))).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        size(col("features")).as("n_dims"),
        floor(element_at(col("features"), 7).cast("double") * 1000)
          .cast("long").as("f6_x1000"))
  private val mmFeaturesOracle =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    list_transform(range(length(text)), i -> ord(text[i+1])) AS codes
      |  FROM documents)
      |SELECT doc_id AS media_id,
      |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CAST(16 AS INT) AS n_dims,
      |  CAST(floor(CAST(CAST(CAST(len(list_filter(codes, c -> c // 16 = 6)) AS REAL)
      |       / CAST(length(text) AS REAL) AS REAL) AS DOUBLE) * 1000) AS BIGINT) AS f6_x1000
      |FROM d""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_llm_stream_neardup", streamNearDup, llmMinhashLshOracle, stream = true),
    Entry("q_llm_exact_dedup", llmExactDedup, llmExactDedupOracle),
    Entry("q_llm_norm_dedup", llmNormDedup, llmNormDedupOracle),
    Entry("q_llm_line_dedup", llmLineDedup, llmLineDedupOracle),
    Entry("q_llm_dup_spans", llmDupSpans, llmDupSpansOracle),
    Entry("q_llm_dup_span_remove", llmDupSpanRemove, llmDupSpanRemoveOracle),
    Entry("q_llm_inverted_index", llmInvertedIndex, llmInvertedIndexOracle),
    Entry("q_llm_index_serve", llmIndexServe, llmIndexServeOracle),
    Entry("q_llm_tfidf", llmTfidf, llmTfidfOracle),
    Entry("q_llm_bm25", llmBm25, llmBm25Oracle),
    Entry("q_llm_bloom_seen", llmBloomSeen, FnvOracleSql.bloomSeen),
    Entry("q_llm_token_budget_mix", llmTokenBudgetMix, llmTokenBudgetMixOracle),
    Entry("q_llm_temp_mix", llmTempMix, llmTempMixOracle),
    Entry("q_llm_shard_plan", llmShardPlan, llmShardPlanOracle),
    Entry("q_llm_shard_manifest", llmShardManifest, llmShardManifestOracle),
    Entry("q_llm_token_stats", llmTokenStats, llmTokenStatsOracle),
    Entry("q_llm_quality", llmQuality, llmQualityOracle),
    Entry("q_llm_bpe_tokens", llmBpeTokens, llmBpeTokensOracle),
    Entry("q_llm_bpe_train", llmBpeTrain, llmBpeTrainOracle),
    Entry("q_llm_bpe_apply", llmBpeApply, llmBpeApplyOracle),
    Entry("q_llm_bpe_budget_mix", llmBpeBudgetMix, llmBpeBudgetMixOracle),
    Entry("q_llm_langid", llmLangId, llmLangIdOracle),
    Entry("q_llm_jaccard_pairs", llmJaccardPairs, llmJaccardOracle),
    Entry("q_llm_minhash_pairs", llmMinhashPairs, FnvOracleSql.minhashPairs),
    Entry("q_llm_minhash_sig", llmMinhashSig, llmMinhashSigOracle),
    Entry("q_llm_minhash_lsh_pairs", llmMinhashLshPairs, llmMinhashLshOracle),
    Entry("q_llm_minhash_estimate", llmMinhashEstimate, llmMinhashEstimateOracle),
    Entry("q_llm_edit_verify", llmEditVerify, llmEditVerifyOracle),
    Entry("q_llm_incremental_dedup", llmIncrementalDedup, llmIncrementalDedupOracle),
    Entry("q_llm_calibrate", llmCalibrate, llmCalibrateOracle),
    Entry("q_llm_dedup_clusters", llmDedupClusters, llmDedupClustersOracle),
    Entry("q_llm_curate", llmCurate, llmCurateOracle),
    Entry("q_llm_pipeline_e2e", llmPipelineE2e, llmPipelineE2eOracle),
    Entry("q_llm_decontaminate", llmDecontaminate, llmDecontaminateOracle),
    Entry("q_llm_dsir_scores", llmDsirScores, llmDsirScoresOracle),
    Entry("q_llm_stratified_sample", llmStratifiedSample, llmStratifiedSampleOracle),
    Entry("q_llm_seq_pack", llmSeqPack, llmSeqPackOracle),
    Entry("q_llm_group_quota", llmGroupQuota, llmGroupQuotaOracle),
    Entry("q_llm_weighted_sample", llmWeightedSample, llmWeightedSampleOracle),
    Entry("q_llm_ngram_freq", llmNgramFreq, llmNgramFreqOracle),
    Entry("q_llm_ngram_by_source", llmNgramBySource, llmNgramBySourceOracle),
    Entry("q_llm_snapshot_diff", llmSnapshotDiff, llmSnapshotDiffOracle),
    Entry("q_llm_source_overlap", llmSourceOverlap, llmSourceOverlapOracle),
    Entry("q_llm_pii_counts", llmPiiCounts, llmPiiCountsOracle),
    Entry("q_llm_pii_redact", llmPiiRedact, llmPiiRedactOracle),
    Entry("q_llm_lm_coverage", llmLmCoverage, llmLmCoverageOracle),
    Entry("q_llm_perplexity", llmPerplexity, llmPerplexityOracle),
    Entry("q_llm_perplexity_served", llmPerplexityServed, llmPerplexityOracle),
    Entry("q_mm_bin_counts", mmBinCounts, mmBinCountsOracle),
    Entry("q_mm_frames", mmFrames, mmFramesOracle),
    Entry("q_mm_resize", mmResize, mmResizeOracle),
    Entry("q_mm_phash_neardup", mmPhashNearDup, mmPhashNearDupOracle),
    Entry("q_mm_phash_decontaminate", mmPhashDecontaminate, mmPhashDecontaminateOracle),
    Entry("q_mm_frame_neardup", mmFrameNearDup, mmFrameNearDupOracle),
    Entry("q_llm_simhash_pairs", llmSimhashPairs, FnvOracleSql.simhashPairs),
    Entry("q_llm_simhash_portable_pairs", llmSimhashPortablePairs, llmSimhashPortableOracle),
    Entry("q_llm_fingerprints", llmFingerprints, FnvOracleSql.fingerprints),
    Entry("q_llm_lr_score", llmLrScore, FnvOracleSql.lrScore),
    Entry("q_llm_nb_score", llmNbScore, llmNbScoreOracle),
    Entry("q_llm_chunks", llmChunks, llmChunksOracle),
    Entry("q_llm_fingerprint_portable", llmFingerprintPortable, llmFingerprintPortableOracle),
    Entry("q_llm_repetition", llmRepetition, llmRepetitionOracle),
    Entry("q_llm_c4_stats", llmC4Stats, llmC4StatsOracle),
    Entry("q_mm_features", mmFeatures, mmFeaturesOracle),
  )
}
