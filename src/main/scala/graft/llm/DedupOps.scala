package graft.llm

import graft.functions.LlmFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * Scale design: every variant is bucketed — candidate pairs are only
  * generated WITHIN a hash bucket (exact-hash group, MinHash-LSH band,
  * SimHash chunk), never via a corpus-wide cross-join. At 100 TB the
  * band-explode is a linear map, the bucket join shuffles on band key
  * with per-bucket fan-in bounded by collision rate, and the pair
  * verification runs on the (tiny) candidate set only.
  */
object DedupOps {

  /** Exact dedup via content hash: one row per distinct text with the
    * canonical (minimum) id and the duplicate count. Single
    * hash-aggregate shuffle.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Whitespace/case-normalized text for normalize-then-hash dedup. */
  def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  def exactDedupNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(normalizeText(col(textCol))).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Line-level exact dedup across documents (the RefinedWeb / CCNet
    * line-wise correction: a line that appears verbatim in at least
    * `minDocs` DISTINCT documents — boilerplate, navigation chrome,
    * cookie banners — is removed from every document that carries it).
    * Repeats of a line WITHIN a single document are inter-doc frequency
    * 1 and are kept; whitespace-only lines are never treated as common.
    *
    * Returns one row per document: original line count, removed line
    * count, and the surviving text reassembled in original line order.
    *
    * Scale shape: explode is a map; the document-frequency pass is one
    * hash-aggregate shuffle keyed on the line's 64-bit xxhash (8 bytes
    * on the wire instead of the full line string — fp equality stands
    * in for line equality, collision risk ~2^-64 per pair, and the
    * exact-string DuckDB oracle hash-agrees). The document text itself
    * NEVER crosses the wire: only the duplicate-line positions are
    * aggregated per doc (a tiny int list), joined back to the original
    * document row (AQE broadcasts it — only docs that carry a common
    * line appear), and the surviving text is rebuilt in place from the
    * doc's own line array. No stage materializes a pair product or
    * shuffles a line of text.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Int = 2, sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val lines = df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), quoted)))
      .select(col("doc_id"), col("pos"), col("col").as("line"),
        xxhash64(col("col")).as("line_h"))
    val common = lines.filter(trim(col("line")) =!= "")
      .groupBy("line_h")
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") >= minDocs)
      .select(col("line_h"))
    val dupPos = lines.join(common, Seq("line_h"))
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("dup_pos"))
    df.select(col(idCol).as("doc_id"),
        split(col(textCol), quoted).as("larr"))
      .join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("larr")).cast("long").as("n_lines"),
        coalesce(size(col("dup_pos")), lit(0)).cast("long").as("n_removed"),
        array_join(filter(col("larr"), (x, i) =>
          !coalesce(array_contains(col("dup_pos"), i), lit(false))),
          sep).as("kept_text"))
  }

  /** Exact duplicated-substring spans (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * their suffix-array ExactSubstr pass, here at n-token shingle
    * granularity, which is the distributed-friendly form): a token span
    * is "duplicated" when every length-n shingle inside it appears
    * verbatim in at least `minDocs` DISTINCT documents. Overlapping and
    * adjacent duplicated shingles are merged into maximal spans per
    * document (interval islands over the shingle start positions).
    *
    * Input text is expected whitespace-normalized (single-space
    * separators — run [[normalizeText]] first otherwise); documents
    * shorter than n tokens contribute no shingles and report zero spans.
    *
    * Returns one row per document: token count, merged duplicated-span
    * count, and total tokens covered by duplicated spans.
    *
    * Scale shape: the shingle pass is a map — one codegen'd
    * [[graft.functions.VecBridge.tokenNgramFps]] kernel call per
    * document (rolling 64-bit fingerprints, no shingle strings ever
    * materialized; the interpreted transform+slice+concat_ws HOF this
    * replaces was the dominant cost, and the string key multiplied the
    * shuffle width ~6×) — then the document-frequency pass is one
    * hash-aggregate shuffle on the 8-byte fp; the join back is an
    * equi-join on the same key (AQE broadcasts when the over-threshold
    * table is small); island merging is a per-doc window over only the
    * HIT positions — never the full token stream. Fingerprint equality
    * stands in for shingle-string equality (collision risk ~2^-64 per
    * pair; the DuckDB oracle counts exact strings and hash-agrees, and
    * VecExprSpec pins the kernel's equality classes to the string
    * formulation's).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 1,
      s"dupSpanStats needs n >= 1 and minDocs >= 1, got n=$n minDocs=$minDocs")
    val spans = dupSpans(df, idCol, textCol, n, minDocs)
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s") + 1).as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"))
  }

  /** Maximal duplicated token spans per document — the shared core of
    * [[dupSpanStats]] (measure) and [[dupSpanRemove]] (excise).
    * Returns (doc_id, island, s, e) with [s, e] inclusive token
    * positions. Scale shape per the [[dupSpanStats]] scaladoc: one
    * codegen'd fingerprint kernel per doc, one hash-agg shuffle on the
    * 8-byte fp, an equi-join back, and island merging windowed over
    * HIT positions only.
    */
  private def dupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.VecFunctions.token_ngram_fps(col(textCol), n)))
      .select(col("doc_id"), col("pos"), col("col").as("sh"))
    val common = sh.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("sh_df"))
      .filter(col("sh_df") >= minDocs)
      .select("sh")
    val hits = sh.join(common, Seq("sh")).select("doc_id", "pos")
    val ord = Window.partitionBy("doc_id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(ord)
    // a shingle at pos covers tokens [pos, pos+n-1]; the next hit starts
    // a new island only when it clears the previous cover entirely
    hits
      .withColumn("brk", when(prev.isNull || col("pos") > prev + n, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(ord))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (n - 1)).as("e"))
  }

  /** The destructive twin of [[dupSpanStats]] — the pipeline step a
    * real curation run executes (Lee et al. 2021 ExactSubstr dedup):
    * rewrite each document with every duplicated span (tokens covered
    * by an n-token shingle appearing in >= `minDocs` distinct docs)
    * excised, re-joining the surviving tokens with single spaces.
    *
    * Returns one row per input document: `doc_id`, `n_tokens` (original
    * token count), `removed_tokens` (tokens excised), `kept_text` (the
    * rewritten document; empty string when everything was duplicated).
    *
    * Scale shape: identical to [[dupSpanStats]] through the spans
    * frame, then ONE extra per-doc step — spans collapse to a small
    * array (merged maximal islands, typically a handful per doc) via
    * collect_list, and the token filter is an `exists` over that
    * array per token. The HOF pair is CodegenFallback but iterates
    * only |tokens| x |spans| per row with no shuffle; the alternative
    * (explode spans to positions and anti-join per token) would
    * shuffle the full token stream. 100 TB story: same two shuffles as
    * the stats pass plus one doc-keyed join — no new exchange.
    */
  def dupSpanRemove(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 8, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 1,
      s"dupSpanRemove needs n >= 1 and minDocs >= 1, got n=$n minDocs=$minDocs")
    val spansPerDoc = dupSpans(df, idCol, textCol, n, minDocs)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"),
        sum(col("e") - col("s") + 1).as("removed_tokens"))
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .join(spansPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).cast("long").as("removed_tokens"),
        array_join(filter(col("toks"), (_, i) =>
          !exists(coalesce(col("spans"),
              array().cast("array<struct<s:int,e:int>>")),
            sp => i >= sp.getField("s") && i <= sp.getField("e"))),
          " ").as("kept_text"))
  }

  /** Distinct token set of a document (whitespace tokens). */
  def tokenSet(c: Column): Column = array_distinct(split(c, "\\s+"))

  /** Distinct n-token shingle set (the unit MinHash signatures are
    * built over — near-dup verification must use the same unit).
    * Documents shorter than n tokens collapse to one whole-text
    * shingle, mirroring [[graft.functions.TextHash.minhash]].
    */
  def shingleSet(c: Column, n: Int = 3): Column = {
    val toks = split(c, "\\s+")
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Exact Jaccard similarity of two token-set columns, as an exact
    * (numerator, denominator) pair — callers divide if they want the
    * float.
    */
  def jaccardParts(a: Column, b: Column): (Column, Column) =
    (size(array_intersect(a, b)), size(array_union(a, b)))

  /** MinHash-LSH candidate pairs: explode each doc into its 16 band
    * keys, self-join per (band index, band key) bucket, emit each
    * unordered pair once. Never an all-pairs product — complexity is
    * Σ_bucket |bucket|², bounded by the banding collision rate.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val banded = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .select(col("id"), posexplode(LlmFunctions.minhash_bands(col("text"))))
      .select(col("id"), col("pos").as("band"), col("col").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Near-duplicate pairs: LSH candidates verified with exact
    * 3-shingle-set Jaccard >= `threshold` (same similarity space the
    * MinHash bands estimate, so banding recall theory applies).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // join candidates to the RAW text first and shingle only the
    // surviving rows: shingleSet is an interpreted higher-order
    // expression, and materializing it for the whole corpus (twice)
    // costs more than the banding itself — candidates are orders of
    // magnitude fewer than documents
    val docs = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    val cands = minhashCandidates(df, idCol, textCol)
    val withText = cands
      .join(docs.as("a"), col("id1") === col("a.id"))
      .join(docs.as("b"), col("id2") === col("b.id"))
      .select(col("id1"), col("id2"),
        shingleSet(col("a.txt")).as("toks1"), shingleSet(col("b.txt")).as("toks2"))
    val (num, den) = jaccardParts(col("toks1"), col("toks2"))
    withText
      .select(col("id1"), col("id2"),
        num.as("inter"), den.as("uni"),
        (num.cast("double") / den).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Engine-portable arithmetic MinHash (cross-engine reproducible,
    * unlike the fast FNV-based `minhash_bands` expression): token
    * fingerprint = 31-polynomial rolling hash of the codepoints mod
    * 1e9+7, permutation i = (fp * (2i+3) + (5i+7)) mod (2^31-1).
    * Entirely built-in higher-order functions, so the whole signature
    * stays inside whole-stage codegen — and the identical arithmetic
    * is expressible in ANSI SQL for the DuckDB oracle.
    */
  val FingerprintMod = 1000000007L
  val PermMod = 2147483647L // 2^31-1: fp*a + b stays well inside Long
  val ShingleComb = 1000003L // combines three token fps into a shingle fp

  private def tokenFingerprint(tok: Column): Column =
    aggregate(sequence(lit(1), length(tok)), lit(0L),
      (acc, i) => (acc * lit(31L) + ascii(tok.substr(i, lit(1)))) % lit(FingerprintMod))

  /** Per-document arithmetic MinHash signature over 3-token shingles
    * (the same unit as [[minhashCandidates]] — token-level signatures
    * would make random same-vocabulary documents collide): columns
    * mh0..mh{n-1}.
    *
    * Each token is fingerprinted ONCE (char-level rolling hash), and a
    * shingle fingerprint combines the three token fps arithmetically —
    * O(tokens) char work per document instead of O(shingles × chars).
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 8): DataFrame = {
    val sig = graft.functions.VecFunctions.arith_minhash_sig(col(textCol), nPerms)
    df.select(col(idCol).as("doc_id"), sig.as("sig"))
      .select(col("doc_id") +:
        (0 until nPerms).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** The pure-built-ins formulation of [[minhashSignature]] (higher-
    * order functions only, CodegenFallback). Kept as the differential
    * reference pinning the `arith_minhash_sig` kernel
    * (`VecBridge.arithMinhashSig` through [[graft.functions.Kernel]]).
    */
  def minhashSignatureHof(df: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 8): DataFrame = {
    val mhs = (0 until nPerms).map { i =>
      array_min(transform(col("fps"),
        f => (f * lit(2L * i + 3) + lit(5L * i + 7)) % lit(PermMod))).as(s"mh$i")
    }
    df.select(col(idCol).as("doc_id"), shingleFps(col(textCol)).as("fps"))
      .select(col("doc_id") +: mhs: _*)
  }

  /** The 3-shingle fingerprint STREAM the arithmetic MinHash hashes
    * over (token fingerprints rolled pairwise mod [[FingerprintMod]];
    * sub-3-token documents collapse to one whole-stream fold) — the
    * exact set (after `array_distinct`) whose Jaccard the signature
    * estimates. Shared by the HOF signature twin and the estimator
    * audit so both sit in the same similarity space as the codegen'd
    * `arith_minhash_sig` (pinned by the HOF differential spec).
    */
  private[llm] def shingleFps(textCol: Column): Column = {
    val toks = filter(split(textCol, "\\s+"), t => length(t) > 0)
    val M = lit(FingerprintMod)
    val C = lit(ShingleComb)
    def comb(a: Column, b: Column): Column = (a * C + b) % M
    val fpt = transform(toks, tokenFingerprint(_))
    when(size(fpt) < 3, array(aggregate(fpt, lit(0L), comb)))
      .otherwise(transform(sequence(lit(0), size(fpt) - 3), j =>
        comb(comb(element_at(fpt, j + 1), element_at(fpt, j + 2)),
          element_at(fpt, j + 3))))
  }

  /** MinHash ESTIMATOR-accuracy audit — the gauge a dedup pipeline
    * reports before trusting a banding threshold: for every LSH
    * candidate pair, the signature-agreement Jaccard estimate
    * (matching components / nPerms, in permille) next to the EXACT
    * Jaccard of the distinct shingle-fingerprint sets the signature
    * hashes over. Both sides are exact integer arithmetic (the
    * estimate numerator is a component-equality count; the permille
    * values divide exactly in doubles far below 2^53), so the
    * estimator itself is oracle-checkable — the same
    * "oracle-the-guarantee" pattern as the approx-quantile and HLL
    * gauges, but here the estimate is deterministic in both engines
    * and compared VALUE-for-value, not just bound-checked.
    *
    * Scale shape: candidate pairs come from banding (Σ|bucket|², never
    * all-pairs); the audit joins the pair frame to the doc-keyed
    * signature and shingle-set frames — pair-sized shuffles, and at
    * 100 TB the audit typically runs on a sampled pair subset, which
    * composes (filter the pair frame first).
    */
  def minhashEstimateAudit(df: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 8): DataFrame = {
    // ONE signature computation for all four consumers (banding a/b,
    // est join a/b): the explicit repartition pins a canonical
    // exchange that AQE stage reuse hands to every reference — without
    // it each textual copy re-runs the per-doc hash kernel
    val sig = minhashSignature(df, idCol, textCol, nPerms)
      .repartition(col("doc_id"))
    val pairs = bandPairs(sig, nPerms)
    // the codegen'd fps kernel, not the interpreted HOF twin (they are
    // differential-pinned equal; the HOF costs ~5 s at sf0.1 here)
    val fpset = df.select(col(idCol).as("doc_id"),
      array_distinct(graft.functions.VecFunctions
        .arith_shingle_fps(col(textCol))).as("fset"))
    val est = (0 until nPerms)
      .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    // intersection over distinct sets; union by inclusion-exclusion —
    // avoids engine-specific list_union dedup semantics in the oracle
    val inter = size(array_intersect(col("fa.fset"), col("fb.fset"))).cast("long")
    val uni = size(col("fa.fset")).cast("long") +
      size(col("fb.fset")).cast("long") - inter
    pairs
      .join(sig.as("a"), col("id1") === col("a.doc_id"))
      .join(sig.as("b"), col("id2") === col("b.doc_id"))
      .join(fpset.as("fa"), col("id1") === col("fa.doc_id"))
      .join(fpset.as("fb"), col("id2") === col("fb.doc_id"))
      .select(col("id1"), col("id2"),
        (est * lit(1000L) / lit(nPerms.toLong)).cast("long").as("est_milli"),
        (inter * lit(1000L) / uni).cast("long").as("jacc_milli"))
  }

  /** LSH banding over the arithmetic signature: nPerms/2 bands of two
    * rows each, band key = mh_{2b} * PermMod + mh_{2b+1}; candidate
    * pairs share any band bucket. Same Σ|bucket|² cost shape as
    * [[minhashCandidates]], but deterministic across engines.
    */
  /** Source-level corpus-overlap MATRIX via merged MinHash: a
    * source's signature is the component-wise MIN over its documents'
    * signatures — exactly the signature of the UNION of their shingle
    * sets (min is associative/commutative, so the merge is one
    * map-combined aggregate, the sketch-mergeability property that
    * makes MinHash work on 100 TB: doc-level signatures reduce to a
    * source-catalog-sized frame before anything pairs). The pair step
    * is source² over that CATALOG-sized frame (10s–1000s of labels —
    * a model-sized broadcast cross, never doc-scaled), estimating
    * pairwise Jaccard of the source vocabularies in permille
    * (matching components × 1000/nPerms) — the gauge that answers
    * "which corpus slices overlap enough to cross-dedup first".
    * Arithmetic (engine-portable) MinHash, so the ESTIMATES hash-
    * compare exactly cross-engine.
    */
  def sourceSimilarityMatrix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, nPerms: Int = 8): DataFrame = {
    require(1000 % nPerms == 0, s"nPerms must divide 1000, got $nPerms")
    val sig = graft.functions.VecFunctions.arith_minhash_sig(col(textCol), nPerms)
    val perDoc = df.select(col(sourceCol).as("source"), sig.as("sig"))
      .select(col("source") +:
        (0 until nPerms).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
    val srcSig = perDoc.groupBy("source")
      .agg(min(col("mh0")).as("mh0"),
        (1 until nPerms).map(i => min(col(s"mh$i")).as(s"mh$i")): _*)
    val a = srcSig.select(col("source").as("src1") +:
      (0 until nPerms).map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = srcSig.select(col("source").as("src2") +:
      (0 until nPerms).map(i => col(s"mh$i").as(s"b$i")): _*)
    val matches = (0 until nPerms)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    a.crossJoin(broadcast(b))
      .filter(col("src1") < col("src2"))
      .select(col("src1"), col("src2"),
        (matches * lit(1000 / nPerms)).cast("long").as("est_permille"))
  }

  def minhashSignaturePairs(df: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 8): DataFrame =
    bandPairs(minhashSignature(df, idCol, textCol, nPerms), nPerms)

  /** Banding over an ALREADY-BUILT signature frame — callers that also
    * consume the signatures (the estimator audit) pass one shared,
    * explicitly-exchanged sig frame so every consumer reads a
    * ReusedExchange instead of re-running the per-doc hash kernel.
    */
  private def bandPairs(sig: DataFrame, nPerms: Int): DataFrame = {
    val banded = bandKeys(sig, nPerms)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** (doc_id, band, key) rows from a signature frame — nPerms/2 bands
    * of two signature components each.
    */
  private def bandKeys(sig: DataFrame, nPerms: Int): DataFrame = {
    val keys = (0 until nPerms / 2).map(b =>
      col(s"mh${2 * b}") * lit(PermMod) + col(s"mh${2 * b + 1}"))
    sig.select(col("doc_id"), posexplode(array(keys: _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))
  }

  /** INCREMENTAL near-dup: candidate pairs between a NEW batch and an
    * existing corpus — the production ingest shape (the streaming twin
    * is [[graft.streaming.TwsNearDup]]): each arriving batch is deduped
    * against what is already baked, WITHOUT re-banding corpus×corpus.
    * Returns `(batch_id, corpus_id)` candidate pairs from the band-
    * bucket equi-join of the two signature frames; batch-internal
    * pairs are [[minhashSignaturePairs]] on the batch alone — callers
    * compose the two as their retention policy dictates.
    *
    * Scale shape: cost is Σ_bucket |batch ∩ bucket|·|corpus ∩ bucket|
    * — LINEAR in the batch for stable bucket occupancy, never
    * all-pairs and never corpus×corpus. The corpus side needs only
    * its banded signature projection, which a production pipeline
    * persists once (signatures are append-only derived state — the
    * same train-once/serve-many split as [[Quantizers.saveModel]]).
    */
  def incrementalNearDupPairs(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, nPerms: Int = 8): DataFrame =
    incrementalNearDupPairsPrebanded(
      bandedProjection(corpus, idCol, textCol, nPerms),
      batch, idCol, textCol, nPerms)

  /** The corpus side's persistable derived state for
    * [[incrementalNearDupPairs]]: the banded minhash-signature
    * projection `(doc_id, band, key)`. Append-only by construction —
    * a document's band keys never change, so a production pipeline
    * writes this ONCE per baked document (plain partitioned parquet;
    * it is corpus-sized, not model-sized) and appends each batch's
    * projection after admission. [[incrementalNearDupPairsPrebanded]]
    * serves directly from the reloaded frame; ModelSeamSpec pins
    * persisted-vs-in-memory parity and the q_llm_incremental_dedup
    * catalog entry runs through the persisted seam.
    */
  def bandedProjection(df: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 8): DataFrame =
    bandKeys(minhashSignature(df, idCol, textCol, nPerms), nPerms)

  /** [[incrementalNearDupPairs]] against an already-banded corpus
    * projection (typically reloaded from the parquet
    * [[bandedProjection]] persisted at bake time): bands ONLY the
    * arriving batch, joins batch x corpus buckets — linear in the
    * batch, never corpus x corpus re-banding.
    */
  def incrementalNearDupPairsPrebanded(corpusBands: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      nPerms: Int = 8): DataFrame = {
    val bb = bandKeys(minhashSignature(batch, idCol, textCol, nPerms), nPerms)
    bb.as("b").join(corpusBands.as("c"),
        col("b.band") === col("c.band") && col("b.key") === col("c.key"))
      .select(col("b.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
  }

  /** Fuzzy-dedup VERIFY tier: LSH candidates are probabilistic, and a
    * pipeline verifies them with an exact string metric before any
    * destructive dedup. Levenshtein is the classic verifier — both
    * engines implement the same DP recurrence over characters, so the
    * distance AND the keep/drop decision are oracle-exact. A pair is
    * a verified duplicate when `dist · 1000 ≤ max(len) ·
    * maxDistPermille` (integer arithmetic throughout).
    *
    * Scale shape: the metric runs per CANDIDATE pair only (banding
    * keeps that Σ|bucket|², never all-pairs), joined to the doc-keyed
    * text frame — the same bucket-bounded pattern as every dedup
    * verify here. Cost per pair is O(|a|·|b|); gate candidate volume
    * upstream (tighter bands) if documents are long.
    */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      maxDistPermille: Int = 200): DataFrame = {
    val pairs = minhashSignaturePairs(df, idCol, textCol)
    val txt = df.select(col(idCol).as("doc_id"), col(textCol).as("t"))
    pairs
      .join(txt.as("ta"), col("id1") === col("ta.doc_id"))
      .join(txt.as("tb"), col("id2") === col("tb.doc_id"))
      .select(col("id1"), col("id2"),
        levenshtein(col("ta.t"), col("tb.t")).cast("long").as("edit_dist"),
        greatest(length(col("ta.t")), length(col("tb.t"))).cast("long").as("max_len"))
      .withColumn("is_dup",
        (col("edit_dist") * lit(1000L) <= col("max_len") * lit(maxDistPermille.toLong))
          .cast("int"))
  }

  /** Near-duplicate CLUSTERING: connected components over a candidate
    * pair set, labeling every document with the minimum doc id
    * reachable through near-dup edges — the canonical representative a
    * dedup pipeline keeps (`is_canonical = 1`, one per cluster).
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    * Each round rewires edges toward neighborhood minima; the edge set
    * contracts to a two-level forest of stars — center = component
    * minimum — in O(log n) rounds on ANY graph shape, including the
    * adversarial long-path diameters where min-label propagation needs
    * O(diameter) rounds. The fixpoint test is structural (the graph IS
    * a star forest: no node both child and parent, one parent per
    * child) and runs as ONE driver action every `CheckEvery` rounds —
    * ~3 barriers for a realistic corpus vs one per round for the
    * min-label loop ([[dedupClustersMinLabel]], kept as the
    * differential reference). `localCheckpoint` truncates per-round
    * lineage so the plan stays flat.
    *
    * Size gate: the near-dup EDGE set is sparse relative to the corpus
    * (pairs exist only where banding collided), so for all but
    * pathological corpora it fits on the driver even when the corpus
    * is 100 TB. When the deduplicated edge count is ≤ `localEdgeMax`
    * (default 4M ≈ 64 MB of longs; 0 disables the gate), the loop is
    * replaced by ONE collect + in-memory union-find + a broadcast
    * label join — same labels, zero iterative barriers. Above the
    * gate the O(log n)-round distributed contraction runs unchanged.
    * Same shape as the commit filter's size-gated broadcast (J1):
    * measure, then pick the plan.
    */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20, localEdgeMax: Long = 4L << 20): DataFrame = {
    val CheckEvery = 2
    // canonical edges (hi > lo): self-loops dropped, both orientations
    // collapsed — the star invariant below keeps hi > lo through every
    // rewiring, so "child" is always the hi slot
    var edges = pairs.select(
        greatest(col("id1"), col("id2")).cast("long").as("hi"),
        least(col("id1"), col("id2")).cast("long").as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(false)

    // large-star: every node u connects its LARGER neighbors to
    // m = min(N(u) ∪ {u}); each edge is emitted exactly once (from its
    // smaller endpoint's neighborhood), so connectivity is preserved
    // while long tails rewire directly onto local minima
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }

    // small-star: every node connects its smaller neighbors (and
    // itself) to its neighborhood minimum — on canonical edges that is
    // one groupBy(hi) + rewire
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("hi").agg(min("lo").as("m"))
      val rewired = e.join(mins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
      rewired.unionByName(mins.select(col("hi"), col("m").as("lo")))
        .distinct()
    }

    // fixpoint ⇔ star forest: no lo (parent) is also a hi (child),
    // and every child has exactly one parent. Centers are then the
    // component minima (lo < hi on every edge). One action.
    def isStarForest(e: DataFrame): Boolean = {
      val chained = e.select(col("lo").as("n"))
        .join(e.select(col("hi").as("n")), Seq("n"), "left_semi")
        .select(lit(1).as("bad"))
      val multiParent = e.groupBy("hi").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select(lit(1).as("bad"))
      chained.unionByName(multiParent).isEmpty
    }

    // one action: materializes the checkpoint (the loop's first round
    // would have paid this anyway) and decides the plan
    val labels: DataFrame =
      if (localEdgeMax > 0 && edges.count() <= localEdgeMax) {
        localUnionFindLabels(docs.sparkSession, edges)
      } else {
        var converged = isStarForest(edges)
        var i = 0
        while (!converged && i < maxIter) {
          edges = smallStar(largeStar(edges)).localCheckpoint(false)
          i += 1
          if (i % CheckEvery == 0 || i == maxIter) converged = isStarForest(edges)
        }
        if (!converged)
          throw new IllegalStateException(
            s"dedupClusters did not converge in $maxIter rounds - " +
              "raise maxIter (large-star/small-star needs O(log n) rounds)")
        edges
      }
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels.select(col("hi").as("doc_id"), col("lo").as("cid")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cluster_id"),
        col("cid").isNull.cast("int").as("is_canonical"))
  }

  /** Driver-side union-find over a collected edge set, emitting the
    * same star-forest edge list the distributed contraction converges
    * to: one (hi = member, lo = component minimum) row per non-minimum
    * member. Union order is irrelevant to the result — the component
    * minimum is a property of the partition, not the merge sequence —
    * so this is bit-identical to the distributed path by construction.
    */
  private def localUnionFindLabels(
      spark: org.apache.spark.sql.SparkSession, edges: DataFrame): DataFrame = {
    val rows = edges.select(col("hi"), col("lo")).collect()
    // boxed key/value types: java.util.HashMap with Scala primitives
    // silently unboxes an absent null to 0, defeating the miss check
    val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def nodeOf(id: Long): Int = {
      val seen = idx.get(id)
      if (seen ne null) seen.intValue()
      else { val n = ids.length; idx.put(id, n); ids += id; n }
    }
    val us = new Array[Int](rows.length)
    val vs = new Array[Int](rows.length)
    var r = 0
    while (r < rows.length) {
      us(r) = nodeOf(rows(r).getLong(0)); vs(r) = nodeOf(rows(r).getLong(1)); r += 1
    }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var c = x
      while (parent(c) != root) { val nxt = parent(c); parent(c) = root; c = nxt }
      root
    }
    r = 0
    while (r < rows.length) {
      val a = find(us(r)); val b = find(vs(r))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
      r += 1
    }
    // component minimum by doc id (roots are arbitrary indices)
    val compMin = new java.util.HashMap[java.lang.Integer, java.lang.Long]()
    var n = 0
    while (n < ids.length) {
      val root = find(n)
      val cur = compMin.get(root)
      if ((cur eq null) || ids(n) < cur.longValue()) compMin.put(root, ids(n))
      n += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.length)
    n = 0
    while (n < ids.length) {
      val m = compMin.get(find(n)).longValue()
      if (ids(n) != m) out += ((ids(n), m))
      n += 1
    }
    import spark.implicits._
    out.toSeq.toDF("hi", "lo")
  }

  /** Pregel-style min-label propagation — the original formulation,
    * kept as the differential reference pinning [[dedupClusters]]
    * (LlmSpec proves both identical on path/star/random graphs). Each
    * iteration is one distributed join + min-aggregate; labels
    * decrease monotonically, so the total-label sum is non-increasing
    * and strictly decreases while anything changes — which lets the
    * convergence check (a scalar aggregate, the only driver action)
    * run every third round instead of every round. Iterations =
    * cluster diameter.
    */
  def dedupClustersMinLabel(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 21): DataFrame = {
    val CheckEvery = 3
    val edges = pairs.select(col("id1").as("ea"), col("id2").as("eb"))
      .unionByName(pairs.select(col("id2").as("ea"), col("id1").as("eb")))
      .localCheckpoint()
    // LAZY localCheckpoint: the convergence-check aggregate below is
    // the action that materializes it, so each checked iteration runs
    // ONE Spark job instead of two (eager checkpoint + labSum) — at
    // small per-iteration data the job-launch overhead IS the runtime
    var labels = docs.select(col(idCol).cast("long").as("id"),
      col(idCol).cast("long").as("lab")).localCheckpoint(false)
    // sum(lab) is NULL on an empty input — coalesce so an empty docs
    // frame converges immediately instead of throwing on getLong.
    // The sum is non-increasing and STRICTLY decreases while any label
    // changes, so equal sums CheckEvery rounds apart prove nothing
    // changed in between — the check is sound at any stride.
    def labSum(): Long =
      labels.agg(coalesce(sum("lab"), lit(0L))).head().getLong(0)
    var prevSum = labSum()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, col("eb") === col("id"))
        .groupBy(col("ea")).agg(min("lab").as("nbr_lab"))
      labels = labels.join(nbrMin, col("id") === col("ea"), "left")
        .select(col("id"),
          least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab"))
        .localCheckpoint(false)
      i += 1
      if (i % CheckEvery == 0 || i == maxIter) {
        val s = labSum()
        converged = s == prevSum
        prevSum = s
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupClustersMinLabel did not converge in $maxIter iterations - " +
          "cluster diameter exceeds the cap; raise maxIter or use " +
          "dedupClusters (large-star/small-star, O(log n) rounds)")
    labels.select(col("id").as("doc_id"), col("lab").as("cluster_id"),
      (col("id") === col("lab")).cast("int").as("is_canonical"))
  }

  /** Engine-portable 60-bit SimHash: bit b is the majority vote of
    * bit b across the document's token fingerprints — bits 0-29 over
    * the 31-polynomial mod-1e9+7 fingerprint (the arithmetic-MinHash
    * hash), bits 30-59 over an independent 37-polynomial. Exact
    * integer arithmetic throughout, so an external SQL engine
    * reproduces every signature bit-for-bit — the deterministic
    * complement to the FNV-based 64-bit [[simhashPairs]] fast path.
    */
  def portableSimhashSig(textCol: Column): Column =
    graft.functions.VecFunctions.portable_simhash60(textCol)

  /** The pure-built-ins formulation of [[portableSimhashSig]] (HOFs,
    * CodegenFallback, ~50x slower) — kept as the differential reference
    * pinning the `portable_simhash60` kernel
    * (`VecBridge.portableSimhash60` through [[graft.functions.Kernel]]).
    */
  def portableSimhashSigHof(textCol: Column): Column = {
    val toks = filter(split(textCol, "\\s+"), t => length(t) > 0)
    def fpt(mult: Long) = transform(toks, t =>
      aggregate(sequence(lit(1), length(t)), lit(0L),
        (acc, i) => (acc * mult + ascii(t.substr(i, lit(1)))) % lit(FingerprintMod)))
    def vote(fptCol: Column, b: Int, weight: Long): Column =
      when(aggregate(fptCol, lit(0L), (acc, f) =>
          acc + when(shiftright(f, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)) > 0,
        lit(weight)).otherwise(lit(0L))
    val f31 = fpt(31L)
    val f37 = fpt(37L)
    ((0 until 30).map(b => vote(f31, b, 1L << b)) ++
      (0 until 30).map(b => vote(f37, b, 1L << (b + 30)))).reduce(_ + _)
  }

  /** Near-dup pairs over [[portableSimhashSig]]: four 15-bit chunks
    * bucket the candidates (pigeonhole: hamming<=3 implies an equal
    * chunk; 32k buckets per chunk keeps the bucket join sparse), exact
    * `bit_count(xor)` hamming filters them. Same per-bucket pair-space
    * shape as [[simhashPairs]], but every row hash-matches a SQL
    * oracle.
    */
  def simhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole only guarantees recall for hamming <= 3")
    val sigs = df.select(col(idCol).as("id"), portableSimhashSig(col(textCol)).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("sig"), i * 15).bitwiseAND(lit(0x7fffL))): _*)))
      .select(col("id"), col("sig"), col("pos").as("chunk"), col("col").as("key"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Engine-portable winnowing fingerprint: the minimum over all
    * `w`-char windows of the 31-polynomial rolling hash mod 1e9+7
    * (same scheme as Schleimer et al.'s winnowing, with the portable
    * arithmetic hash instead of FNV — see
    * [[graft.functions.TextHash.fingerprint]] for the fast path).
    * Documents shorter than `w` hash whole; empty text maps to 0.
    */
  def portableFingerprint(c: Column, w: Int = 8): Column =
    graft.functions.VecFunctions.portable_fingerprint(c, w)

  /** HOF formulation of [[portableFingerprint]] (differential
    * reference for the codegen'd expression; O(n·w) interpreted).
    */
  def portableFingerprintHof(c: Column, w: Int = 8): Column = {
    val M = lit(FingerprintMod)
    def winHash(start: Column, len: Column): Column =
      aggregate(sequence(start, start + len - 1), lit(0L),
        (acc, j) => (acc * 31L + ascii(c.substr(j, lit(1)))) % M)
    when(length(c) === 0, 0L)
      .when(length(c) < w, winHash(lit(1), length(c)))
      .otherwise(array_min(transform(
        sequence(lit(1), length(c) - (w - 1)),
        i => winHash(i, lit(w)))))
  }

  /** Hamming-band LSH candidate pairs over ANY 64-bit signature frame
    * `(id, sig)` — the 4×16-bit chunk pigeonhole: two signatures
    * within Hamming distance 3 differ in at most 3 chunks, so they
    * agree on AT LEAST one — sharing any (chunk index, chunk value)
    * bucket is a recall-lossless candidate filter. Shared by the text
    * SimHash ([[simhashPairs]]) and the multimodal perceptual hash
    * ([[Multimodal.phashNearDup]]): one banding core, never
    * all-pairs (Σ|bucket|² candidate cost, the MinHash-LSH shape).
    */
  /** A signature frame exploded into its 4×16-bit band rows
    * (id, sig, chunk, key) — the shared banding projection under
    * [[hammingBandPairs]] (within one set) and
    * [[Multimodal.phashDecontaminate]] (across two sets). */
  private[graft] def hammingChunks(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("chunk"),
            shiftright(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("c"))
      .select(col("id"), col("sig"), col("c.chunk").as("chunk"), col("c.key").as("key"))

  private[graft] def hammingBandPairs(sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole only guarantees recall for hamming <= 3")
    val chunked = hammingChunks(sigs)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs: 64-bit signature split into four 16-bit
    * chunks; pairs sharing ANY chunk (pigeonhole: hamming<=3 implies
    * at least one chunk equal) are candidates, then filtered by exact
    * hamming distance <= maxHamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingBandPairs(df.select(col(idCol).as("id"),
      graft.functions.GraftFunctions.simhash64(col(textCol)).as("sig")),
      maxHamming)
}
