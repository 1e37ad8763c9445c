package graft

import graft.functions.VecFunctions
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** The codegen'd vector expressions must be bit-identical to the
  * higher-order-function formulations they replaced (the DuckDB
  * oracles were validated against those), and reject wrong input
  * types at analysis time.
  */
class VecExprSpec extends SparkSpec {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairs = {
    val e = emb.select(col("vec_id"), col("embedding"))
    e.as("a").join(e.as("b"), col("a.vec_id") + 7 === col("b.vec_id"))
      .select(col("a.vec_id").as("id"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"))
  }

  test("quantized_dot == zip_with/aggregate formulation") {
    val hof = aggregate(
      zip_with(col("ea"), col("eb"), (x, y) =>
        floor(x.cast("double") * 1000).cast("long") *
          floor(y.cast("double") * 1000).cast("long")),
      lit(0L), (acc, v) => acc + v)
    val diff = pairs.select(
        VecFunctions.quantized_dot(col("ea"), col("eb")).as("fast"), hof.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("dot_long == zip_with/aggregate over quantized arrays") {
    val q = (c: org.apache.spark.sql.Column) =>
      transform(c, x => floor(x.cast("double") * 1000).cast("long"))
    val hof = aggregate(zip_with(q(col("ea")), q(col("eb")), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    val diff = pairs.select(
        VecFunctions.dot_long(q(col("ea")), q(col("eb"))).as("fast"), hof.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("cosine_sim bit-identical to the aggregate formulation") {
    def dot(u: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      aggregate(zip_with(u, v, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val hof = dot(col("ea"), col("eb")) /
      (sqrt(dot(col("ea"), col("ea"))) * sqrt(dot(col("eb"), col("eb"))))
    // bit-identical, not approximately equal: same accumulation order
    val diff = pairs.select(
        VecFunctions.cosine_sim(col("ea"), col("eb")).as("fast"), hof.as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("portable_sign_bucket matches the oracle's integer arithmetic") {
    val q = emb.select(col("vec_id"),
      transform(col("embedding"), x =>
        floor(x.cast("double") * 1000).cast("long")).as("q"))
    val rows = q.select(col("vec_id"), col("q"),
        VecFunctions.portable_sign_bucket(col("q"), 6, 2).as("bucket"))
      .collect()
    rows.foreach { r =>
      val arr = r.getSeq[Long](1)
      var expected = 0L
      for (p <- 0 until 6) {
        val g = (2 * 6 + p).toLong
        val proj = arr.zipWithIndex.map { case (v, d) =>
          ((g * 31L + d) * 2654435761L % 2147483648L - 1073741824L) * v
        }.sum
        if (proj >= 0) expected |= (1L << p)
      }
      assert(r.getLong(2) == expected, s"vec ${r.getLong(0)}")
    }
  }

  test("arith_minhash_sig == pure-built-ins minhash signature") {
    import graft.llm.DedupOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      // exercise the <3-token and whitespace-edge paths too
      .unionByName(spark.createDataFrame(Seq(
        (90001L, "one two"), (90002L, "single"), (90003L, "  padded  text  here "),
        (90004L, "a b c d")))
        .toDF("doc_id", "text").select(col("doc_id"), col("text"),
          lit("en").as("lang"), lit("x").as("source"), length(col("text")).as("n_chars")))
    val fast = DedupOps.minhashSignature(docs, "doc_id", "text")
    val ref = DedupOps.minhashSignatureHof(docs, "doc_id", "text")
    val diff = fast.as("f").join(ref.as("r"), Seq("doc_id"))
      .filter((0 until 8).map(i =>
        col(s"f.mh$i") =!= col(s"r.mh$i")).reduce(_ || _))
      .count()
    assert(diff == 0)
  }

  test("arith_minhash_sig == built-ins on random ASCII strings (property)") {
    import graft.llm.DedupOps
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    val token = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(33.toChar, 126.toChar)).map(_.mkString))
    val ws = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val doc = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, token)
      seps <- Gen.listOfN(n + 1, ws)
    } yield seps.zipAll(toks, "", "").map { case (s, t) => s + t }.mkString
    val docsGen = Gen.listOfN(40, doc)
    val prop = Prop.forAll(docsGen) { texts =>
      val df = spark.createDataFrame(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
        .toDF("doc_id", "text")
      val fast = DedupOps.minhashSignature(df, "doc_id", "text")
      val ref = DedupOps.minhashSignatureHof(df, "doc_id", "text")
      fast.as("f").join(ref.as("r"), Seq("doc_id"))
        .filter((0 until 8).map(i =>
          col(s"f.mh$i") =!= col(s"r.mh$i")).reduce(_ || _))
        .count() == 0
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("portable simhash60/fingerprint/shingle-fps/bigrams == references on random strings") {
    import graft.llm.DedupOps
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    val M = DedupOps.FingerprintMod
    val token = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(33.toChar, 126.toChar)).map(_.mkString))
    val ws = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val doc = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, token)
      seps <- Gen.listOfN(n + 1, ws)
    } yield seps.zipAll(toks, "", "").map { case (s, t) => s + t }.mkString
    def refToks(t: String) = t.split("\\s+").filter(_.nonEmpty)
    def tokFp(t: String, mult: Long) =
      t.foldLeft(0L)((a, c) => (a * mult + c.toInt) % M)
    def refSimhash(t: String): Long = {
      val (f31, f37) = (refToks(t).map(tokFp(_, 31)), refToks(t).map(tokFp(_, 37)))
      ((0 until 30).map { b =>
        if (f31.map(f => if (((f >> b) & 1L) == 1L) 1 else -1).sum > 0) 1L << b else 0L
      } ++ (0 until 30).map { b =>
        if (f37.map(f => if (((f >> b) & 1L) == 1L) 1 else -1).sum > 0) 1L << (b + 30) else 0L
      }).sum
    }
    def refFp(t: String, w: Int = 8): Long =
      if (t.isEmpty) 0L
      else if (t.length < w) tokFp(t, 31)
      else (0 to t.length - w).map(i => tokFp(t.substring(i, i + w), 31)).min
    def refShingles(t: String): Seq[Long] = {
      val fps = refToks(t).map(tokFp(_, 31)).toSeq
      if (fps.length < 3) Seq(fps.foldLeft(0L)((a, f) => (a * 1000003L + f) % M))
      else fps.sliding(3).map(s =>
        ((s(0) * 1000003L + s(1)) % M * 1000003L + s(2)) % M).toSeq
    }
    def refBigrams(t: String): Seq[String] =
      refToks(t).sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val prop = Prop.forAll(Gen.listOfN(30, doc)) { texts =>
      val df = spark.createDataFrame(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
        .toDF("doc_id", "text")
      val got = df.select(col("doc_id"),
          VecFunctions.portable_simhash60(col("text")).as("sh"),
          VecFunctions.portable_fingerprint(col("text")).as("fp"),
          VecFunctions.arith_shingle_fps(col("text")).as("fps"),
          VecFunctions.word_bigrams(col("text")).as("bg"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getSeq[Long](3).toSeq, r.getSeq[String](4).toSeq)))
        .toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val (sh, fp, fps, bg) = got(i.toLong)
        sh == refSimhash(t) && fp == refFp(t) &&
          fps == refShingles(t) && bg == refBigrams(t)
      }
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("token_ngram_fps == string-shingle formulation (positions + equality classes)") {
    import spark.implicits._
    val n = 4
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionAll(Seq((9001L, ""), (9002L, "a  b   c a  b"), (9003L, "one two"),
        (9004L, " lead mid trail "), (9005L, "a b c d e f g h a b c d"))
        .toDF("doc_id", "text"))
    val w = split(col("text"), " ")
    val strSh = docs.select(col("doc_id"), posexplode(when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => concat_ws(" ", slice(w, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))))
      .withColumnRenamed("col", "s")
    val fpSh = docs.select(col("doc_id"),
        posexplode(VecFunctions.token_ngram_fps(col("text"), n)))
      .withColumnRenamed("col", "f")
    // identical (doc, pos) coverage — same shingle count everywhere
    assert(strSh.select("doc_id", "pos").except(fpSh.select("doc_id", "pos")).isEmpty
      && fpSh.select("doc_id", "pos").except(strSh.select("doc_id", "pos")).isEmpty)
    // the fp is a bijection over the distinct shingle strings: equal
    // strings always hash equal (soundness) and, on this corpus, no
    // two distinct strings collide (completeness w.h.p.)
    val joined = strSh.join(fpSh, Seq("doc_id", "pos"))
    assert(joined.groupBy("s").agg(countDistinct(col("f")).as("nf"))
      .filter(col("nf") =!= 1).isEmpty)
    assert(joined.groupBy("f").agg(countDistinct(col("s")).as("ns"))
      .filter(col("ns") =!= 1).isEmpty)
  }

  test("token_tf == explode(split)+groupBy formulation, including empty-token " +
      "edge cases") {
    import spark.implicits._
    val docs = (Seq(
      "a b a c b a",
      "",                      // split("") -> [""]: one empty token
      "  leading double",      // empty tokens from leading/consecutive spaces
      "trailing space ",
      "héllo wörld héllo",
      "x"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      (0 until 50).map(i => (100L + i,
        (0 until 30).map(j => s"w${(i * 7 + j * 13) % 11}").mkString(" "))))
      .toDF("doc_id", "text")
    val kernel = docs.select(col("doc_id"),
        explode(VecFunctions.token_tf(col("text"))).as("kv"))
      .select(col("doc_id"), col("kv.term"), col("kv.tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val reference = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(kernel == reference)
    // null text -> null array -> explode drops the row (split parity)
    val withNull = Seq((1L, null: String), (2L, "a a")).toDF("doc_id", "text")
    val k2 = withNull.select(col("doc_id"),
        explode(VecFunctions.token_tf(col("text"))).as("kv"))
      .collect().map(_.getLong(0)).toSet
    assert(k2 == Set(2L))
    // the arithmetic dl (spaces + 1) equals size(split) on every doc
    val dlCheck = docs.select(
      (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
        .as("dl_arith"),
      size(split(col("text"), " ")).as("dl_split")).collect()
    dlCheck.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("SQL surface: registered vector functions callable from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    emb.limit(50).createOrReplaceTempView("vexpr_emb")
    val rows = spark.sql(
      """SELECT a.vec_id, quantized_dot(a.embedding, b.embedding) AS dq,
        |       cosine_sim(a.embedding, b.embedding) AS cs
        |FROM vexpr_emb a JOIN vexpr_emb b ON a.vec_id + 1 = b.vec_id""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    val sig = spark.sql(
      "SELECT arith_minhash_sig('the quick brown fox jumps over dogs') AS s")
      .head.getSeq[Long](0)
    assert(sig.length == 8 && sig.forall(_ >= 0))
    // wrong arity rejected with a clear message
    val e = intercept[Exception] {
      spark.sql("SELECT quantized_dot(array(1.0f))").collect()
    }
    assert(e.getMessage.contains("2 arguments") || e.getMessage.contains("quantized_dot"))
  }

  test("null array elements propagate to a null result (HOF parity)") {
    import spark.implicits._
    // zip_with/aggregate null out the whole result on any null element;
    // the kernels must match, not silently read 0
    val df = Seq(
      (1L, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](3f, 4f)),
      (2L, Seq[java.lang.Float](1f, null), Seq[java.lang.Float](3f, 4f)),
      (3L, Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](null, 4f)))
      .toDF("id", "ea", "eb")
    val out = df.select(col("id"),
      VecFunctions.quantized_dot(col("ea"), col("eb")).as("qd"),
      VecFunctions.cosine_sim(col("ea"), col("eb")).as("cs"),
      VecFunctions.dot_long(
        transform(col("ea"), x => floor(x.cast("double") * 1000).cast("long")),
        transform(col("eb"), x => floor(x.cast("double") * 1000).cast("long"))).as("dl"),
      VecFunctions.portable_sign_bucket(
        transform(col("ea"), x => floor(x.cast("double") * 1000).cast("long")), 4, 0).as("sb"))
      .orderBy("id").collect()
    assert(!out(0).isNullAt(1) && !out(0).isNullAt(2) && !out(0).isNullAt(3) && !out(0).isNullAt(4))
    for (i <- 1 to 2; c <- 1 to 3)
      assert(out(i).isNullAt(c), s"row ${i + 1} col $c should be null")
    assert(out(1).isNullAt(4), "sign bucket of null-element vector should be null")
  }

  test("wrong input types rejected at analysis time") {
    val df = spark.range(3).select(col("id"), array(lit("x")).as("strs"))
    intercept[AnalysisException] {
      df.select(VecFunctions.quantized_dot(col("strs"), col("strs"))).collect()
    }
    intercept[AnalysisException] {
      df.select(VecFunctions.dot_long(col("id"), col("id"))).collect()
    }
    intercept[AnalysisException] {
      df.select(VecFunctions.portable_sign_bucket(col("strs"), 4, 0)).collect()
    }
  }

  test("ilog2x16: exact on powers of two, within the documented " +
      "truncation band elsewhere, monotone, codegen == bridge") {
    import graft.functions.VecBridge
    // powers of two carry no mantissa: exactly n << 16
    for (k <- 0 to 62)
      assert(VecBridge.ilog2x16(1L << k) == k.toLong << 16, s"2^$k")
    // non-powers: floor(2^16 log2 x) minus at most a few ulps from the
    // Q15 mantissa truncation (never above the exact value)
    for (x <- Seq(3L, 5L, 7L, 100L, 12345L, 1000003L, (1L << 40) + 12345L)) {
      val exact = math.floor(65536.0 * math.log(x.toDouble) / math.log(2.0)).toLong
      val got = VecBridge.ilog2x16(x)
      assert(got <= exact && got >= exact - 4, s"x=$x got=$got exact=$exact")
    }
    // monotone non-decreasing over a dense range
    var prev = Long.MinValue
    for (x <- 1L to 5000L) {
      val v = VecBridge.ilog2x16(x)
      assert(v >= prev, s"not monotone at $x")
      prev = v
    }
    // non-positive inputs define to 0 (callers add Laplace +1)
    assert(VecBridge.ilog2x16(0L) == 0L && VecBridge.ilog2x16(-5L) == 0L)
    // the codegen'd expression evaluates the same function
    val df = spark.range(1, 1000).select(col("id"),
      VecFunctions.ilog2_x16(col("id")).as("lg"))
    val rows = df.collect()
    rows.foreach(r => assert(r.getLong(1) == VecBridge.ilog2x16(r.getLong(0))))
  }

  test("lmPerplexity: hand-checked tiny model — seen, unseen-bigram " +
      "and unseen-context smoothing, empty docs kept") {
    import graft.functions.VecBridge.ilog2x16
    import graft.llm.PipelineOps
    // ref doc 0: "a b a b a c" -> bigrams ab, ba, ab, ba, ac
    //   c12: ab=2, ba=2, ac=1; c1: a=3, b=2; V = |{b, a, c}| = 3
    val docs = spark.createDataFrame(Seq(
        (0L, "a b a b a c"),
        (1L, "a b x"),   // ab seen; bx: unseen bigram, seen context b
        (2L, "z q"),     // zq: unseen context entirely
        (3L, "solo")     // no bigrams at all
      )).toDF("doc_id", "text")
    val out = PipelineOps.lmPerplexity(docs, "doc_id", "text",
        col("doc_id") === 0L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def lp(c12: Long, c1: Long): Long = ilog2x16(c12 + 1) - ilog2x16(c1 + 3)
    // doc 1: ab (c12=2, c1(a)=3) + bx (c12=0, c1(b)=2)
    val nll1 = -(lp(2, 3) + lp(0, 2))
    assert(out(1L) == ((2L, nll1, nll1 * 1000 / (2 * 65536))))
    // doc 2: zq (c12=0, c1(z)=0 -> denominator V alone)
    val nll2 = -lp(0, 0)
    assert(out(2L) == ((1L, nll2, nll2 * 1000 / 65536)))
    // doc 3: no bigrams -> all-zero row still present
    assert(out(3L) == ((0L, 0L, 0L)))
    // the reference doc itself is not scored
    assert(!out.contains(0L))
  }

  test("every kernel: codegen == interpreted (NO_CODEGEN), null row and null " +
      "elements give null, unaliased calls are named <fn>(<args>)") {
    import graft.functions.{GraftFunctions => G, LlmFunctions => L, SpaceFillFunctions => S}
    import graft.functions.{VecFunctions => V}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL(
      "id BIGINT, text STRING, addr STRING, f ARRAY<FLOAT>, g ARRAY<FLOAT>, " +
        "q ARRAY<BIGINT>, sorted ARRAY<BIGINT>, key BIGINT, x BIGINT, y BIGINT, " +
        "z BIGINT, cell BIGINT, " +
        "cents ARRAY<STRUCT<cell: BIGINT, cq: ARRAY<BIGINT>, cnq: BIGINT>>, " +
        "cb ARRAY<STRUCT<cid: BIGINT, cq: ARRAY<BIGINT>>>, tbl ARRAY<BIGINT>, codes ARRAY<INT>")
    val cents = Seq(Row(1L, Seq(1L, 0L, 2L, 1L), 6L), Row(2L, Seq(0L, 3L, -1L, 2L), 14L))
    val cb = Seq(Row(0L, Seq(1L, 1L, 1L, 1L)), Row(1L, Seq(-2L, 0L, 4L, 3L)),
      Row(2L, Seq(0L, -1L, 2L, 5L)))
    val g = Seq[Any](0.4f, -0.3f, 0.2f, 0.1f)
    val tail = Seq(Seq(1L, 3L, 5L, 9L), 5L, 3L, 4L, 5L)
    val rows = Seq(
      // row 1: every input present
      Row.fromSeq(Seq(1L, "the quick brown fox jumps over the lazy dog",
        "0x5aaeb6053f3e94c9b9a09f33669435e7ef1beaed", Seq(0.1f, 0.2f, -0.3f, 0.4f), g,
        Seq(1L, -2L, 3L, 4L)) ++ tail ++ Seq(1L, cents, cb, Seq(5L, 1L, 7L, 2L, 9L, 3L),
        Seq(2, 0))),
      // row 2: a null element in the float and long vectors
      Row.fromSeq(Seq(2L, "a b a b  c", "0xfb6916095ca1df60bb79ce92ce3ea74c37c5d359",
        Seq(0.5f, null, 0.1f, 0.2f), g, Seq(2L, null, 1L, 0L)) ++ tail ++
        Seq(2L, cents, cb, Seq(5L, 1L, 7L, 2L, 9L, 3L), Seq(1, 2))),
      // row 3: every input null
      Row.fromSeq(3L +: Seq.fill(schema.length - 1)(null)))
    val dir = java.nio.file.Files.createTempDirectory("kernel_modes").resolve("t").toString
    // parquet-backed, so the projection is not folded into a local relation
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir)
    val t = spark.read.parquet(dir)
    val c = (n: String) => col(n)
    val kernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "keccak256_hex(text)" -> G.keccak256_hex(c("text")),
      "checksum_address(addr)" -> G.checksum_address(c("addr")),
      "simhash64(text)" -> G.simhash64(c("text")),
      "minhash_bands(text, 64, 3, 16)" -> L.minhash_bands(c("text")),
      "fingerprint64(text)" -> L.fingerprint64(c("text")),
      "fnv64(text)" -> L.fnv64(c("text")),
      "mix64(key)" -> L.mix64(c("key")),
      "hyperplane_lsh(g, 4, 1)" -> L.hyperplane_lsh(c("g"), 4, 1),
      "arith_minhash_sig(text, 8)" -> V.arith_minhash_sig(c("text")),
      "arith_shingle_fps(text)" -> V.arith_shingle_fps(c("text")),
      "arith_ngram_fps(text)" -> V.arith_ngram_fps(c("text")),
      "token_ngram_fps(text, 2)" -> V.token_ngram_fps(c("text"), 2),
      "token_tf(text)" -> V.token_tf(c("text")),
      "portable_simhash60(text)" -> V.portable_simhash60(c("text")),
      "portable_fingerprint(text, 8)" -> V.portable_fingerprint(c("text")),
      "word_bigrams(text)" -> V.word_bigrams(c("text")),
      "repetition_stats(text)" -> V.repetition_stats(c("text")),
      "quantized_dot(f, g)" -> V.quantized_dot(c("f"), c("g")),
      "dot_long(q, q)" -> V.dot_long(c("q"), c("q")),
      "floor_index_long(sorted, key)" -> V.floor_index_long(c("sorted"), c("key")),
      "ilog2_x16(key)" -> V.ilog2_x16(c("key")),
      "cosine_sim(f, g)" -> V.cosine_sim(c("f"), c("g")),
      "portable_sign_bucket(q, 6, 2)" -> V.portable_sign_bucket(c("q"), 6, 2),
      "nearest_cells_q(q, cents, 1)" -> V.nearest_cells_q(c("q"), c("cents"), 1),
      "residual_q(q, cents, cell)" -> V.residual_q(c("q"), c("cents"), c("cell")),
      "pq_encode(q, cb, 2)" -> V.pq_encode(c("q"), c("cb"), 2),
      "pq_table(q, cb, 2)" -> V.pq_table(c("q"), c("cb"), 2),
      "pq_adc(tbl, codes, 3)" -> V.pq_adc(c("tbl"), c("codes"), 3),
      // the Column function casts its coordinates to bigint itself
      "hilbert2d(CAST(x AS BIGINT), CAST(y AS BIGINT), 16)" -> S.hilbert2d(c("x"), c("y")),
      "hilbert3d(CAST(x AS BIGINT), CAST(y AS BIGINT), CAST(z AS BIGINT), 4)" ->
        S.hilbert3d(c("x"), c("y"), c("z"), 4))
    assert(kernels.size == 30)
    val q = t.select(c("id") +: kernels.map(_._2): _*)
    assert(q.columns.toSeq.tail == kernels.map(_._1))
    def run(): Seq[Row] = q.orderBy("id").collect().toSeq
    val codegen = run()
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        run()
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    for (i <- kernels.indices) {
      val name = kernels(i)._1
      assert(codegen.map(_.get(i + 1)) == interpreted.map(_.get(i + 1)), name)
      assert(!codegen(0).isNullAt(i + 1), s"$name on the full row")
      assert(codegen(2).isNullAt(i + 1), s"$name on the null row")
    }
    // the null-element guard: any null vector element nulls the result
    val guarded = Seq("quantized_dot", "dot_long", "cosine_sim", "portable_sign_bucket",
      "nearest_cells_q", "residual_q", "pq_encode", "pq_table")
    for ((name, i) <- kernels.map(_._1).zipWithIndex)
      assert(codegen(1).isNullAt(i + 1) == guarded.exists(name.startsWith), name)
  }
}
