package graft

import graft.model._
import graft.operators.{TraceEtl, TraceEtlRelational, TraceOps}
import graft.sources.SyntheticTraces
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Golden tests for the per-transaction commit pipeline, hand-computed
  * from the reference semantics (trace_tree.rs:72-303), plus a
  * differential test of the fused aggregator vs the relational plan.
  */
class TraceEtlSpec extends SparkSpec {

  private val Rec = Addresses.EcRecover
  private val Pair = Addresses.EcPairing
  private val eoa = "0x" + "aa" * 20
  private val cA = "0x" + "a1" * 20
  private val cB = "0x" + "b2" * 20
  private val eoa2 = "0x" + "cc" * 20
  private val cC = "0x" + "c3" * 20
  private val h1 = "0x" + "01" * 32
  private val h2 = "0x" + "02" * 32
  private val h3 = "0x" + "03" * 32
  private val recOut = "0x" + "00" * 12 + "00" * 19 + "ff"
  private val recAddr = "0x" + "00" * 19 + "ff"

  //             idx           from     to     value      input               output   gas     ta       err      hash
  private def mkTrace(
      idx: java.lang.Integer, from: String, to: String, value: String,
      input: String, output: String, gasUsed: java.lang.Long,
      ta: Seq[Int], error: String, hash: String): Row =
    Row(1L, idx, from, to, value, input, output, "call", "call", null,
      null, gasUsed, 0, ta, error, hash, 10L, 1000L, "0xbb")

  private val fixtureSchema = StructType(
    StructField("chain_id", LongType) +: Schemas.trace.fields.toSeq)

  private def fixture: DataFrame = {
    val rows = Seq(
      // tx1: qualifying, full degree chain
      mkTrace(0, eoa, cA, "1000", "0x1234567890", null, 100L, Seq.empty, null, h1),
      mkTrace(0, cA, cB, null, "0xaabbccddee", null, 10L, Seq(0), null, h1),
      mkTrace(0, cB, Rec, null, "0x61626364", recOut, 3L, Seq(0, 0), null, h1),
      mkTrace(0, cB, Pair, null, "0x" + "ab" * 6, null, 4L, Seq(0, 1), null, h1),
      mkTrace(0, cA, Rec, null, null, "0xab", 5L, Seq(1), null, h1),
      // tx2: no precompile -> commit filter fails, nothing emitted
      mkTrace(1, eoa2, cC, "5", "0xdeadbeef01", null, 7L, Seq.empty, null, h2),
      // tx3: precompile call but no root row -> nothing emitted
      mkTrace(2, cB, Rec, null, "0x9999999999", recOut, 9L, Seq(0), null, h3),
    )
    // fixture rows arrive in shuffled order: grouping must not depend
    // on stream order (deliberate delta from the reference)
    val shuffled = rows.reverse
    spark.createDataFrame(
      spark.sparkContext.parallelize(shuffled, 3),
      fixtureSchema)
  }

  test("golden: fused commit matches hand-computed reference semantics") {
    val (txs, contracts) = TraceEtl.transform(fixture)
    val tx = txs.collect().toSeq
    assert(tx.size == 1)
    val t = tx.head
    assert(t.transaction_hash == h1)
    assert(t.from_address == eoa && t.to_address == cA)
    assert(t.closest_address == Seq(cA)) // second-degree wins
    assert(t.function_signature == "0x12345678") // unmasked at tx level
    assert(t.value == "1000" && t.input == "0x1234567890")
    assert(t.gas_used_total == 100L)
    assert(t.gas_used_first_degree == 22L) // B(3+4) + A(10+5)
    assert(t.gas_used_second_degree == 15L) // A only; EOA excluded
    assert(t.ec_recover_count == 2L && t.ec_pairing_count == 1L)
    assert(t.ec_add_count == 0L && t.ec_mul_count == 0L)
    assert(t.ec_pairing_input_sizes == Seq(6))
    assert(t.ec_recover_addresses == Seq(Addresses.Zero, recAddr).sorted)
    assert(t.error == None)

    val cs = contracts.collect().toSeq.sortBy(c => (c.degree, c.address))
    assert(cs.size == 3)
    val Seq(a0, b0, a1) = cs
    assert(a0.address == cA && a0.degree == 0)
    assert(a0.function_signatures == Seq("0x12345678"))
    assert(a0.ec_recover_count == 1L && a0.ec_pairing_count == 0L)
    assert(a0.call == Seq(Rec))
    assert(b0.address == cB && b0.degree == 0)
    assert(b0.function_signatures == Seq("0xaabbccdd"))
    assert(b0.ec_recover_count == 1L && b0.ec_pairing_count == 1L)
    assert(b0.ec_pairing_input_sizes == Seq(6))
    assert(b0.call == Seq(Rec, Pair).sorted)
    // degree double-membership quirk: cA appears again at degree 1
    assert(a1.address == cA && a1.degree == 1)
    assert(a1.call == Seq(cB))
  }

  test("scalar quirks: selector / recovered address") {
    assert(TraceOps.selector("0x61626364") == "0x00000000") // 4-byte exact
    assert(TraceOps.selector("0x6162636465") == "0x61626364")
    assert(TraceOps.selector(null) == "0x00000000")
    // the masked selector and recovered address exist only as the
    // column expressions the commit prepares its rows with
    import TraceEtlRelational.{recovered, selectorWithTo}
    import org.apache.spark.sql.functions.lit
    val r = spark.range(1).select(
      selectorWithTo(lit("0x6162636465"), lit(Rec)), // precompile callee: masked
      selectorWithTo(lit("0x61626364"), lit(cA)), //    4-byte exact
      selectorWithTo(lit("0x6162636465"), lit(cA)),
      recovered(lit("0xab")), //                        short output
      recovered(lit(recOut)),
    ).head()
    assert(r.getString(0) == "0x00000000")
    assert(r.getString(1) == "0x00000000")
    assert(r.getString(2) == "0x61626364")
    assert(r.getString(3) == Addresses.Zero)
    assert(r.getString(4) == recAddr)
  }

  test("differential: relational plan == fused aggregator on synthetic sf0.001") {
    val traces = SyntheticTraces.fromTpch(spark, "/root/testdata/sf0.001")
    val norm = TraceEtl.normalize(traces)
    val (fTx, fC) = TraceEtl.split(TraceEtl.commitTraces(norm))
    val (rTx, rC) = TraceEtlRelational.transform(norm)

    def canon(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted
      df.selectExpr(cols: _*).collect().map(_.toString).toSeq.sorted
    }
    def fieldDiff(df1: DataFrame, df2: DataFrame, key: String): String = {
      val cols = df1.columns.sorted
      def byKey(df: DataFrame) = df.selectExpr(cols: _*).collect()
        .map(r => r.getAs[Any](key).toString -> r).toMap
      val (m1, m2) = (byKey(df1), byKey(df2))
      (m1.keySet ++ m2.keySet).toSeq.sorted.flatMap { k =>
        (m1.get(k), m2.get(k)) match {
          case (Some(a), Some(b)) if a.toString != b.toString =>
            cols.indices.collect { case i if String.valueOf(a.get(i)) != String.valueOf(b.get(i)) =>
              s"$k ${cols(i)}: fused=${a.get(i)} rel=${b.get(i)}"
            }
          case (Some(_), None) => Seq(s"$k: only in fused")
          case (None, Some(_)) => Seq(s"$k: only in rel")
          case _ => Nil
        }
      }.take(8).mkString("\n")
    }
    val (f1, r1) = (canon(fTx.toDF), canon(rTx))
    assert(f1.size > 0, "no transactions emitted")
    if (f1 != r1) fail(s"transactions differ: fused=${f1.size} rel=${r1.size}\n" +
      fieldDiff(fTx.toDF, rTx, "transaction_hash"))
    val (f2, r2) = (canon(fC.toDF), canon(rC.drop("transaction_hash")))
    if (f2 != r2) fail(s"contracts differ: fused=${f2.size} rel=${r2.size}\n" +
      f2.diff(r2).take(5).mkString("\n") + "\n---\n" + r2.diff(f2).take(5).mkString("\n"))
  }
}
