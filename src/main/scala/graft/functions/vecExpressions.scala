package graft.functions

import graft.functions.Kernel.const
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Executor-side vector kernels. Tight loops over Catalyst ArrayData —
  * no intermediate array allocation, unlike the equivalent
  * zip_with/aggregate higher-order functions, which are
  * CodegenFallback (interpreted, closure-per-element). All semantics
  * are bit-identical to the HOF formulations they replace, so DuckDB
  * oracles are unaffected.
  */
object VecBridge {

  /** Null-element probe: the kernels mirror zip_with/aggregate HOF
    * semantics, where any null element nulls the whole result — without
    * this check a null would be read as 0.0/0 (or unspecified bytes
    * from UnsafeArrayData) and silently diverge from the oracles. The
    * kernels that read vector elements return a boxed value or `null`.
    */
  def anyNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Σ floor(a_i·1000)·floor(b_i·1000) over float arrays (the
    * engine-portable quantized dot used for oracle-comparable ranking).
    */
  def quantizedDot(a: ArrayData, b: ArrayData): java.lang.Long = {
    if (anyNull(a) || anyNull(b)) return null
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(a.getFloat(i).toDouble * 1000.0).toLong *
        math.floor(b.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    s
  }

  /** Count of elements ≤ key in an ASCENDING-sorted array<long> —
    * i.e. the 1-based index of the floor element, 0 when every
    * element exceeds the key. Binary search: the per-probe kernel of
    * the broadcast as-of path (log2 n long reads per row, no nulls
    * expected — the caller packs the array from non-null state
    * timestamps).
    */
  def floorIndexLong(arr: ArrayData, key: Long): Int = {
    var lo = 0
    var hi = arr.numElements() // exclusive
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getLong(mid) <= key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** floor(2^16 · log2 x) on a TRUNCATED Q15 mantissa — an
    * integer-only, engine-portable log2 in 16.16 fixed point: x is
    * normalized to m ∈ [2^15, 2^16) by shifting (keeping the top 15
    * mantissa bits — a DOCUMENTED quantization, like the ratio idf in
    * bm25: the function's definition IS this algorithm, so any engine
    * that implements the same 16 square-and-carry steps reproduces it
    * bit-exactly, with no libm/rounding divergence), then 16
    * fractional bits are extracted by the classic square-double
    * recurrence (z←z²; carry the integer bit). Max intermediate is
    * m² < 2^34 — plain 64-bit everywhere, DuckDB BIGINT included.
    * Within ~4/2^16 of the exact log2 (mantissa truncation), monotone
    * non-decreasing. x ≤ 0 returns 0 (callers add Laplace +1).
    */
  def ilog2x16(x: Long): Long = {
    if (x <= 0L) return 0L
    val n = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var m = if (n <= 15) x << (15 - n) else x >> (n - 15)
    var r = 0L
    var i = 0
    while (i < 16) {
      val q = (m * m) >> 15
      if (q >= 65536L) { r = (r << 1) | 1L; m = q >> 1 }
      else { r <<= 1; m = q }
      i += 1
    }
    (n.toLong << 16) | r
  }

  /** Integer dot product of two array<long> columns. */
  def dotLong(a: ArrayData, b: ArrayData): java.lang.Long = {
    if (anyNull(a) || anyNull(b)) return null
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  /** Cosine similarity of two float vectors, accumulating in the same
    * left-to-right order as the aggregate() formulation.
    */
  def cosineSim(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (anyNull(a) || anyNull(b)) return null
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Arithmetic MinHash signature of a document in one pass —
    * identical math to the built-ins formulation in
    * `DedupOps.minhashSignature` (whitespace tokens; 31-polynomial
    * rolling hash of each token's codepoints mod 1e9+7; 3-token
    * shingle fp = pairwise combine with 1000003; permutation i =
    * (fp·(2i+3) + (5i+7)) mod (2^31−1)), which the DuckDB oracle pins.
    * ASCII/whitespace handling matches Spark's split(text, "\\s+") on
    * the ASCII corpus: runs of whitespace delimit, leading whitespace
    * yields an empty first token which is dropped.
    */
  // java-regex \s, to match split(text, "\\s+") exactly
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def arithMinhashSig(text: org.apache.spark.unsafe.types.UTF8String,
      nPerms: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val M = 1000000007L
    val C = 1000003L
    // token fingerprints
    val fpt = new java.util.ArrayList[Long]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var acc = 0L
        while (i < n && !isWs(s.charAt(i))) {
          acc = (acc * 31L + s.charAt(i).toInt) % M
          i += 1
        }
        fpt.add(acc)
      }
    }
    val nt = fpt.size()
    // shingle fingerprints
    val fps: Array[Long] =
      if (nt < 3) {
        var acc = 0L
        var j = 0
        while (j < nt) { acc = (acc * C + fpt.get(j)) % M; j += 1 }
        Array(acc)
      } else {
        val out = new Array[Long](nt - 2)
        var j = 0
        while (j < nt - 2) {
          out(j) = ((fpt.get(j) * C + fpt.get(j + 1)) % M * C + fpt.get(j + 2)) % M
          j += 1
        }
        out
      }
    // signature
    val sig = new Array[Long](nPerms)
    var p = 0
    while (p < nPerms) {
      val a = 2L * p + 3
      val b = 5L * p + 7
      var mn = Long.MaxValue
      var j = 0
      while (j < fps.length) {
        val h = (fps(j) * a + b) % 2147483647L
        if (h < mn) mn = h
        j += 1
      }
      sig(p) = mn
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Shingle fingerprints of a document (the intermediate
    * [[arithMinhashSig]] min-reduces): 3-token shingle fps, mod-prime
    * arithmetic, <3-token docs collapse to one whole-doc fp. Exposed
    * for operators that need the fps themselves (decontamination joins
    * on them) rather than a signature.
    */
  def arithShingleFps(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val M = 1000000007L
    val C = 1000003L
    val fpt = new java.util.ArrayList[Long]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var acc = 0L
        while (i < n && !isWs(s.charAt(i))) {
          acc = (acc * 31L + s.charAt(i).toInt) % M
          i += 1
        }
        fpt.add(acc)
      }
    }
    val nt = fpt.size()
    val fps: Array[Long] =
      if (nt < 3) {
        var acc = 0L
        var j = 0
        while (j < nt) { acc = (acc * C + fpt.get(j)) % M; j += 1 }
        Array(acc)
      } else {
        val out = new Array[Long](nt - 2)
        var j = 0
        while (j < nt - 2) {
          out(j) = ((fpt.get(j) * C + fpt.get(j + 1)) % M * C + fpt.get(j + 2)) % M
          j += 1
        }
        out
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(fps)
  }

  /** Hashed unigram+bigram feature fingerprints of a document — the
    * bag-of-hashed-ngrams DSIR scores over: every token's 31-poly
    * mod-prime fp (identical to [[arithShingleFps]]'s token pass)
    * followed by every adjacent-pair fp ((fpt·C + fpt') mod M, the
    * same combiner the 3-shingles use). One occurrence per n-gram
    * occurrence — callers bucket with `fp % nBuckets`.
    */
  def arithNgramFps(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val M = 1000000007L
    val C = 1000003L
    val fpt = new java.util.ArrayList[Long]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var acc = 0L
        while (i < n && !isWs(s.charAt(i))) {
          acc = (acc * 31L + s.charAt(i).toInt) % M
          i += 1
        }
        fpt.add(acc)
      }
    }
    val nt = fpt.size()
    val out = new Array[Long](nt + math.max(nt - 1, 0))
    var j = 0
    while (j < nt) { out(j) = fpt.get(j); j += 1 }
    j = 0
    while (j < nt - 1) {
      out(nt + j) = (fpt.get(j) * C + fpt.get(j + 1)) % M
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Rolling n-token shingle fingerprints over the exact
    * `split(text, " ")` token stream — single-space separators, empty
    * tokens from doubled/leading/trailing separators INCLUDED, matching
    * the relational formulation's split semantics token for token (not
    * the whitespace-skipping tokenizer the mod-prime fps above use).
    * Token fp is FNV-1a 64 over UTF-16 chars; shingle fp is the 64-bit
    * wrapping 1000003-polynomial combine of the n token fps. Index j
    * fingerprints tokens [j, j+n-1] — identical to the posexplode
    * position of the string-shingle formulation it replaces; docs with
    * fewer than n tokens yield an empty array. Two shingles collide
    * only on a 64-bit hash collision (~2^-64): equality on the fp is
    * the distributed stand-in for equality on the shingle string.
    */
  def tokenNgramFps(text: org.apache.spark.unsafe.types.UTF8String, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val Offset = 0xcbf29ce484222325L
    val Prime = 0x100000001b3L
    val fpt = new java.util.ArrayList[Long]()
    var cur = Offset
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if (c == ' ') { fpt.add(cur); cur = Offset }
      else cur = (cur ^ c.toInt) * Prime
      i += 1
    }
    fpt.add(cur)
    val nt = fpt.size()
    if (nt < n)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](0))
    else {
      val out = new Array[Long](nt - n + 1)
      var j = 0
      while (j < out.length) {
        var a = 0L
        var k = 0
        while (k < n) { a = a * 1000003L + fpt.get(j + k); k += 1 }
        out(j) = a
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** Engine-portable 60-bit SimHash: majority vote per bit over TWO
    * independent mod-prime token fingerprints (31- and 37-polynomial;
    * each prime-mod fp carries ~30 usable bits, so two give the 60-bit
    * signature that 15-bit pigeonhole chunks need — a 16-bit signature
    * yields only 16 buckets per chunk and floods the candidate join).
    * Bits 0-29 vote on fp31, bits 30-59 on fp37. Codegen'd twin of
    * DedupOps.portableSimhashSigHof, pinned by spec + DuckDB oracle.
    */
  def portableSimhash60(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val s = text.toString
    val M = 1000000007L
    val votes = new Array[Int](60)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var a31 = 0L
        var a37 = 0L
        while (i < n && !isWs(s.charAt(i))) {
          val c = s.charAt(i).toInt
          a31 = (a31 * 31L + c) % M
          a37 = (a37 * 37L + c) % M
          i += 1
        }
        var b = 0
        while (b < 30) {
          if (((a31 >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          if (((a37 >> b) & 1L) == 1L) votes(b + 30) += 1 else votes(b + 30) -= 1
          b += 1
        }
      }
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Engine-portable winnowing fingerprint: min over all `w`-char
    * windows of the 31-polynomial hash mod 1e9+7; shorter docs hash
    * whole, empty → 0. O(n·w) tight loop — the HOF formulation is
    * ~500x slower interpreted.
    */
  def portableFingerprint(text: org.apache.spark.unsafe.types.UTF8String,
      w: Int): Long = {
    val s = text.toString
    val M = 1000000007L
    val n = s.length
    if (n == 0) return 0L
    if (n < w) {
      var acc = 0L
      var i = 0
      while (i < n) { acc = (acc * 31L + s.charAt(i).toInt) % M; i += 1 }
      return acc
    }
    var mn = Long.MaxValue
    var i = 0
    while (i + w <= n) {
      var acc = 0L
      var j = i
      while (j < i + w) { acc = (acc * 31L + s.charAt(j).toInt) % M; j += 1 }
      if (acc < mn) mn = acc
      i += 1
    }
    mn
  }

  /** Repetition evidence for Gopher/MassiveText-style quality filters
    * (Rae et al. 2021 §A1.1 filter repetitious documents by duplicate
    * n-gram fractions): one pass over the whitespace tokens returns
    * [n_tokens, n_bigrams, top_bigram_count, n_trigrams,
    * distinct_trigrams] — a count-based ANALOGUE of the Gopher
    * fractions, map-only and oracle-comparable. Note the paper's
    * fractions are character-weighted (fraction of characters inside
    * duplicate n-grams); these are occurrence-count-weighted, so the
    * published thresholds don't transfer verbatim — calibrate
    * per-corpus.
    */
  def repetitionStats(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val nt = toks.size()
    val biCounts = new java.util.HashMap[String, Int]()
    var top = 0
    var j = 0
    while (j < nt - 1) {
      val b = toks.get(j) + " " + toks.get(j + 1)
      val c = biCounts.merge(b, 1, Integer.sum)
      if (c > top) top = c
      j += 1
    }
    val triSet = new java.util.HashSet[String]()
    j = 0
    while (j < nt - 2) {
      triSet.add(toks.get(j) + " " + toks.get(j + 1) + " " + toks.get(j + 2))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Long](
      nt, math.max(nt - 1, 0), top, math.max(nt - 2, 0), triSet.size()))
  }

  /** Word bigrams of a document ("tok1 tok2" strings, whitespace
    * tokenization identical to the hash kernels above). One pass, no
    * regex — the transform/element_at HOF formulation is interpreted
    * and measured ~20x slower on the n-gram stats query.
    */
  /** Per-document term-frequency pairs: the text split on SINGLE
    * SPACES (empty tokens kept — exactly `split(text, " ")` / DuckDB
    * `string_split(text, ' ')` semantics, so oracles line up) and
    * counted into first-seen order. One call per DOCUMENT replaces the
    * explode-10M-tokens → (doc, term) shuffle-aggregate that dominated
    * the bm25/tf-idf entries: the per-doc count never leaves the map
    * side, and there is no token-stream shuffle at all.
    */
  def tokenTf(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val m = new java.util.LinkedHashMap[String, java.lang.Long]()
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val tok = s.substring(start, i)
        m.put(tok, java.lang.Long.valueOf(m.getOrDefault(tok, 0L) + 1L))
        start = i + 1
      }
      i += 1
    }
    val out = new Array[AnyRef](m.size())
    var j = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(e.getKey),
          e.getValue.longValue()))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def wordBigrams(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val nt = toks.size()
    val out = new Array[AnyRef](math.max(nt - 1, 0))
    var j = 0
    while (j < nt - 1) {
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(
        toks.get(j) + " " + toks.get(j + 1))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Top-`n` nearest IVF cells of a pre-quantized vector, by the
    * engine-exact quantized cosine (floor(10^6·dot/√(nq·cnq)); zero
    * norms score 0) with cell-asc tie-break. `cents` is an
    * array<struct<cell:long, cq:array<long>, cnq:long>> — the whole
    * (tiny) centroid table riding along each row via a broadcast
    * nested-loop join, so one kernel call scores all nlist centroids
    * in a tight loop: no ×nlist row explode, no Window shuffle, no
    * interpreted per-centroid lambda.
    */
  def nearestCellsQ(qv: ArrayData, cents: ArrayData, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (anyNull(qv)) return null
    var nq = 0L
    var d = 0
    val dims = qv.numElements()
    while (d < dims) { val x = qv.getLong(d); nq += x * x; d += 1 }
    val m = cents.numElements()
    val k = math.min(n, m)
    // insertion top-k over (score desc, cell asc) — nlist is small
    val topScore = new Array[Long](k)
    val topCell = new Array[Long](k)
    var filled = 0
    var i = 0
    while (i < m) {
      val c = cents.getStruct(i, 3)
      val cell = c.getLong(0)
      val cq = c.getArray(1)
      val cnq = c.getLong(2)
      // a truncated min-length dot would yield plausible-but-wrong
      // scores from a malformed centroid row — fail loudly instead
      if (cq.numElements() != dims)
        throw new IllegalArgumentException(
          s"nearest_cells_q: centroid $cell has ${cq.numElements()} dims, vector has $dims")
      var dot = 0L
      var j = 0
      while (j < dims) { dot += qv.getLong(j) * cq.getLong(j); j += 1 }
      val score =
        if (nq == 0L || cnq == 0L) 0L
        else math.floor(dot.toDouble * 1e6 /
          math.sqrt(nq.toDouble * cnq.toDouble)).toLong
      // find insert position
      var p = filled
      while (p > 0 && (topScore(p - 1) < score ||
          (topScore(p - 1) == score && topCell(p - 1) > cell))) p -= 1
      if (p < k) {
        val last = math.min(filled, k - 1)
        var q = last
        while (q > p) { topScore(q) = topScore(q - 1); topCell(q) = topCell(q - 1); q -= 1 }
        topScore(p) = score
        topCell(p) = cell
        if (filled < k) filled += 1
      }
      i += 1
    }
    val out = new Array[Long](filled)
    System.arraycopy(topCell, 0, out, 0, filled)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Product-quantization kernels over pre-quantized (floor(x·1000))
    * long vectors — all-integer math so codes, tables, and ADC
    * distances hash-compare across engines. The codebook is an
    * array<struct<cid:long, cq:array<long>>> of ksub full vectors
    * riding along each row via a broadcast nested-loop join (the IVF
    * centroid pattern); codeword (j, c) is subvector j of codebook
    * entry c. Subspace j of a d-dim vector covers
    * [j·(d/m), (j+1)·(d/m)) with the division remainder folded into
    * the LAST subspace.
    */
  private def pqSubL2(qv: ArrayData, cq: ArrayData, from: Int, until: Int): Long = {
    var s = 0L
    var i = from
    while (i < until) {
      val d = qv.getLong(i) - cq.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Codeword/vector width mismatch check shared by [[pqEncode]] and
    * [[pqTable]]: silent min-length truncation would produce
    * plausible-but-wrong codes and distances from a malformed
    * codebook row, so mismatches fail loudly.
    */
  private def checkCodebookDims(cb: ArrayData, dims: Int, m: Int, name: String): Unit = {
    if (dims < m)
      throw new IllegalArgumentException(
        s"$name: vector has $dims dims but m=$m subspaces (requires dims >= m)")
    val ksub = cb.numElements()
    var c = 0
    while (c < ksub) {
      val cq = cb.getStruct(c, 2).getArray(1)
      if (cq.numElements() != dims)
        throw new IllegalArgumentException(
          s"$name: codebook entry $c has ${cq.numElements()} dims, vector has $dims")
      c += 1
    }
  }

  /** PQ codes of a vector: per subspace, the POSITION (0-based, in
    * codebook order) of the codeword minimizing the exact integer
    * subspace L2, position tie-break.
    */
  def pqEncode(qv: ArrayData, cb: ArrayData, m: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (anyNull(qv)) return null
    val dims = qv.numElements()
    checkCodebookDims(cb, dims, m, "pq_encode")
    val sub = dims / m
    val ksub = cb.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val from = j * sub
      val until = if (j == m - 1) dims else (j + 1) * sub
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < ksub) {
        val d = pqSubL2(qv, cb.getStruct(c, 2).getArray(1), from, until)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-query ADC lookup table: entry [j·ksub + c] = exact integer
    * subspace-j L2 between the query and codeword (j, c).
    */
  def pqTable(qv: ArrayData, cb: ArrayData, m: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (anyNull(qv)) return null
    val dims = qv.numElements()
    checkCodebookDims(cb, dims, m, "pq_table")
    val sub = dims / m
    val ksub = cb.numElements()
    val out = new Array[Long](m * ksub)
    var j = 0
    while (j < m) {
      val from = j * sub
      val until = if (j == m - 1) dims else (j + 1) * sub
      var c = 0
      while (c < ksub) {
        out(j * ksub + c) = pqSubL2(qv, cb.getStruct(c, 2).getArray(1), from, until)
        c += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Asymmetric-distance computation: Σ_j table[j·ksub + codes[j]] —
    * O(m) per candidate pair instead of O(d).
    */
  def pqAdc(table: ArrayData, codes: ArrayData, ksub: Int): Long = {
    var s = 0L
    var j = 0
    val m = codes.numElements()
    while (j < m) {
      s += table.getLong(j * ksub + codes.getInt(j))
      j += 1
    }
    s
  }

  /** Residual of a pre-quantized vector against IVF cell `cell`:
    * qv[i] − cq[i] elementwise, in the exact integer domain, so
    * residual-encoded PQ codes and ADC distances stay
    * hash-comparable. `cents` is the same
    * array<struct<cell:long, cq:array<long>, cnq:long>> broadcast row
    * [[nearestCellsQ]] scores against; an unknown cell id or a dims
    * mismatch fails loudly (a silent fallback would score candidates
    * against the wrong reference point).
    */
  def residualQ(qv: ArrayData, cents: ArrayData, cell: Long)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (anyNull(qv)) return null
    val dims = qv.numElements()
    val m = cents.numElements()
    var i = 0
    while (i < m) {
      val c = cents.getStruct(i, 3)
      if (c.getLong(0) == cell) {
        val cq = c.getArray(1)
        if (cq.numElements() != dims)
          throw new IllegalArgumentException(
            s"residual_q: centroid $cell has ${cq.numElements()} dims, vector has $dims")
        val out = new Array[Long](dims)
        var d = 0
        while (d < dims) { out(d) = qv.getLong(d) - cq.getLong(d); d += 1 }
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"residual_q: cell $cell not present in the $m-entry centroid table")
  }

  /** Sign-LSH bucket over a pre-quantized array<long> vector, with the
    * Knuth-multiplicative integer coefficient formula
    * coef(g, d) = ((g·31 + d)·2654435761) mod 2^31 − 2^30 — exactly the
    * arithmetic mirrored by the q_emb_neardup SQL oracle.
    */
  def portableSignBucket(q: ArrayData, planes: Int, tbl: Int): java.lang.Long = {
    if (anyNull(q)) return null
    val n = q.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val g = (tbl * planes + p).toLong
      var proj = 0L
      var d = 0
      while (d < n) {
        val coef = (g * 31L + d) * 2654435761L % 2147483648L - 1073741824L
        proj += coef * q.getLong(d)
        d += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

object VecFunctions {
  private val Text = Seq(StringType)
  private val TextN = Seq(StringType, IntegerType)
  private val Longs = ArrayType(LongType)
  private val Floats = ArrayType(FloatType)
  private val LongsOut = ArrayType(LongType, containsNull = false)
  private val Table = GraftShim.ArrayOfStructs

  private def vec(name: String, fn: String, dataType: DataType,
      inputTypes: Seq[GraftShim.InputType], nullable: Boolean = false)(args: Column*) =
    Kernel.call(VecBridge, name, fn, dataType, inputTypes, nullable)(args: _*)

  /** One-pass arithmetic MinHash signature (array<long> of nPerms mins);
    * math pinned to the built-ins formulation by ArithMinhashSpec and
    * the q_llm_minhash_sig DuckDB oracle.
    */
  def arith_minhash_sig(c: Column, nPerms: Int = 8): Column =
    vec("arith_minhash_sig", "arithMinhashSig", LongsOut, TextN)(c, const(nPerms))
  def arith_shingle_fps(c: Column): Column =
    vec("arith_shingle_fps", "arithShingleFps", LongsOut, Text)(c)
  def arith_ngram_fps(c: Column): Column =
    vec("arith_ngram_fps", "arithNgramFps", LongsOut, Text)(c)
  def token_ngram_fps(c: Column, n: Int): Column = {
    require(n >= 1, s"token_ngram_fps needs a shingle width >= 1, got $n")
    vec("token_ngram_fps", "tokenNgramFps", LongsOut, TextN)(c, const(n))
  }
  def token_tf(c: Column): Column =
    vec("token_tf", "tokenTf", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false), Text)(c)
  def portable_simhash60(c: Column): Column =
    vec("portable_simhash60", "portableSimhash60", LongType, Text)(c)
  def portable_fingerprint(c: Column, w: Int = 8): Column =
    vec("portable_fingerprint", "portableFingerprint", LongType, TextN)(c, const(w))
  def word_bigrams(c: Column): Column =
    vec("word_bigrams", "wordBigrams", ArrayType(StringType, containsNull = false), Text)(c)
  def repetition_stats(c: Column): Column =
    vec("repetition_stats", "repetitionStats", LongsOut, Text)(c)
  /** floor(x*1000)-quantized integer dot product of two float vectors. */
  def quantized_dot(a: Column, b: Column): Column =
    vec("quantized_dot", "quantizedDot", LongType, Seq(Floats, Floats), nullable = true)(a, b)
  def dot_long(a: Column, b: Column): Column =
    vec("dot_long", "dotLong", LongType, Seq(Longs, Longs), nullable = true)(a, b)
  /** 1-based floor index of `key` in the ascending `arr`; 0 = no element ≤ key. */
  def floor_index_long(arr: Column, key: Column): Column =
    vec("floor_index_long", "floorIndexLong", IntegerType, Seq(Longs, LongType),
      nullable = true)(arr, key)
  def ilog2_x16(c: Column): Column =
    vec("ilog2_x16", "ilog2x16", LongType, Seq(LongType))(c)
  def cosine_sim(a: Column, b: Column): Column =
    vec("cosine_sim", "cosineSim", DoubleType, Seq(Floats, Floats), nullable = true)(a, b)
  def portable_sign_bucket(q: Column, planes: Int, tbl: Int): Column =
    vec("portable_sign_bucket", "portableSignBucket", LongType,
      Seq(Longs, IntegerType, IntegerType), nullable = true)(q, const(planes), const(tbl))
  def nearest_cells_q(qv: Column, cents: Column, n: Int): Column =
    vec("nearest_cells_q", "nearestCellsQ", LongsOut, Seq(Longs, Table, IntegerType),
      nullable = true)(qv, cents, const(n))
  def residual_q(qv: Column, cents: Column, cell: Column): Column =
    vec("residual_q", "residualQ", LongsOut, Seq(Longs, Table, LongType),
      nullable = true)(qv, cents, cell)
  def pq_encode(qv: Column, cb: Column, m: Int): Column =
    vec("pq_encode", "pqEncode", ArrayType(IntegerType, containsNull = false),
      Seq(Longs, Table, IntegerType), nullable = true)(qv, cb, const(m))
  def pq_table(qv: Column, cb: Column, m: Int): Column =
    vec("pq_table", "pqTable", LongsOut, Seq(Longs, Table, IntegerType),
      nullable = true)(qv, cb, const(m))
  def pq_adc(table: Column, codes: Column, ksub: Int): Column =
    vec("pq_adc", "pqAdc", LongType, Seq(Longs, ArrayType(IntegerType), IntegerType),
      nullable = true)(table, codes, const(ksub))
}
