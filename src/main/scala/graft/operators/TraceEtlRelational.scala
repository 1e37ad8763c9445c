package graft.operators

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Relational decomposition of the per-transaction commit — the same
  * semantics as [[TraceTreeAggregator]] expressed as pure DataFrame
  * ops (G1 groupBy + A1-A9 aggregates + J1-J6 joins), exactly as laid
  * out in SURVEY §2.5/§2.6. Used for differential testing of the fused
  * aggregator and as the Catalyst-optimizable reference formulation.
  * Its per-trace scalar expressions (`selectorWithTo`, `byteLen`,
  * `recovered`) are the only definitions of P6-P8: [[TraceEtl.prepare]]
  * feeds the fused aggregator with the same ones.
  *
  * All joins after the J1 prune are per-transaction equi-joins on
  * (chain_id, transaction_hash[, address]) over heavily-reduced
  * intermediates, so Catalyst picks broadcast/shuffled-hash joins and
  * AQE can re-plan on the tiny runtime sizes.
  */
object TraceEtlRelational {
  import Addresses._

  private val txKey = Seq("chain_id", "transaction_hash")

  private[operators] def byteLen(c: Column): Column =
    when(c.isNull, 0).otherwise(((length(c) - 2) / 2).cast("int"))

  /** P6/P7 as built-in expressions (strict `> 4` quirk preserved). */
  private[graft] def selectorWithTo(input: Column, to: Column): Column =
    when(to.isin(FirstDegreeFilter: _*), ZeroSelector)
      .when(input.isNull || byteLen(input) <= 4, ZeroSelector)
      .otherwise(concat(lit("0x"), substring(input, 3, 8)))

  private def selectorPlain(input: Column): Column =
    when(input.isNull || byteLen(input) <= 4, ZeroSelector)
      .otherwise(concat(lit("0x"), substring(input, 3, 8)))

  /** P8 as built-ins: short output → zero address, else bytes [12,32). */
  private[graft] def recovered(output: Column): Column =
    when(byteLen(output) < 32, Zero)
      .otherwise(concat(lit("0x"), substring(output, 27, 40)))

  def transform(traces: Dataset[TraceRow]): (DataFrame, DataFrame) = {
    val t = traces.filter(col("transaction_hash").isNotNull)

    // A1/A2-shaped edge list with per-edge scalars
    val edges = t
      .filter(col("from_address").isNotNull && col("to_address").isNotNull)
      .select(
        col("chain_id"), col("transaction_hash"),
        col("from_address").as("from"), col("to_address").as("to"),
        coalesce(col("gas_used"), lit(0L)).as("gas"),
        selectorWithTo(col("input"), col("to_address")).as("sig"),
        byteLen(col("input")).as("input_bytes"),
        col("output"))

    // J1: tx keys that touched a filter precompile (tiny at scale)
    val zkTx = edges.filter(col("to").isin(FirstDegreeFilter: _*))
      .select(txKey.map(col): _*).distinct()

    // A6: the root trace row per tx — deterministic pick among
    // multiple root candidates, same total order as
    // TraceOps.betterRoot (asc, nulls last)
    val rootOrder = Seq(
      col("transaction_index").asc_nulls_last,
      col("from_address").asc_nulls_last,
      col("to_address").asc_nulls_last,
      col("value").asc_nulls_last,
      col("input").asc_nulls_last,
      col("gas_used").asc_nulls_last,
      col("block_number").asc_nulls_last,
      col("block_timestamp").asc_nulls_last,
      col("block_hash").asc_nulls_last,
      col("error").asc_nulls_last)
    val roots = t.filter(col("is_root"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(txKey.map(col): _*).orderBy(rootOrder: _*)))
      .filter(col("_rn") === 1).drop("_rn")
      .join(Hints.maybeBroadcast(zkTx), txKey, "left_semi")
      .filter(col("transaction_index").isNotNull &&
        col("from_address").isNotNull && col("to_address").isNotNull)

    // like the fused commit, a tx without a well-formed root emits
    // NOTHING (reference: commit() returns None) — contracts included,
    // so the edge prune keys on valid roots, not just zk membership
    val validTx = roots.select(txKey.map(col): _*)
    val prunedEdges = edges.join(Hints.maybeBroadcast(validTx), txKey, "left_semi")

    // J2: first-degree callers + the precompiles they called
    val firstDeg = prunedEdges.filter(col("to").isin(FirstDegreeFilter: _*))
      .groupBy(col("chain_id"), col("transaction_hash"), col("from").as("address"))
      .agg(array_sort(collect_set(col("to"))).as("call"))

    // J3: second-degree = callers of first-degree addresses, minus the EOA
    val secondDeg = prunedEdges.as("e")
      .join(firstDeg.as("f"),
        col("e.chain_id") === col("f.chain_id") &&
          col("e.transaction_hash") === col("f.transaction_hash") &&
          col("e.to") === col("f.address"))
      .groupBy(col("e.chain_id").as("chain_id"),
        col("e.transaction_hash").as("transaction_hash"),
        col("e.from").as("address"))
      .agg(array_sort(collect_set(col("e.to"))).as("call"))
      .join(roots.select(col("chain_id"), col("transaction_hash"),
        col("from_address").as("eoa")), txKey)
      .filter(col("address") =!= col("eoa"))
      .drop("eoa")

    // A3: selectors observed per callee
    val sigTree = prunedEdges.groupBy(col("chain_id"), col("transaction_hash"),
        col("to").as("address"))
      .agg(array_sort(collect_set(col("sig"))).as("function_signatures"))

    // J5 enrichment inputs: per-caller precompile counts (pivoted A1)
    val precompileCounts = prunedEdges
      .filter(col("to").isin(EcRecover, EcAdd, EcMul, EcPairing))
      .groupBy(col("chain_id"), col("transaction_hash"), col("from").as("address"))
      .agg(
        sum(when(col("to") === EcRecover, 1L).otherwise(0L)).as("ec_recover_count"),
        sum(when(col("to") === EcAdd, 1L).otherwise(0L)).as("ec_add_count"),
        sum(when(col("to") === EcMul, 1L).otherwise(0L)).as("ec_mul_count"),
        sum(when(col("to") === EcPairing, 1L).otherwise(0L)).as("ec_pairing_count"))

    // A4: pairing input-size multiset per caller
    val pairSizes = prunedEdges.filter(col("to") === EcPairing)
      .groupBy(col("chain_id"), col("transaction_hash"), col("from").as("address"))
      .agg(sort_array(collect_list(col("input_bytes"))).as("ec_pairing_input_sizes"))

    // J4 + J5: degree-tagged union, enriched
    val addrKey = Seq("chain_id", "transaction_hash", "address")
    val contracts = firstDeg.withColumn("degree", lit(0))
      .unionByName(secondDeg.withColumn("degree", lit(1)))
      .join(sigTree, addrKey, "left")
      .join(precompileCounts, addrKey, "left")
      .join(pairSizes, addrKey, "left")
      .select(
        col("chain_id"), col("address"),
        coalesce(col("function_signatures"), array()).as("function_signatures"),
        col("degree"),
        coalesce(col("ec_recover_count"), lit(0L)).as("ec_recover_count"),
        coalesce(col("ec_add_count"), lit(0L)).as("ec_add_count"),
        coalesce(col("ec_mul_count"), lit(0L)).as("ec_mul_count"),
        coalesce(col("ec_pairing_count"), lit(0L)).as("ec_pairing_count"),
        coalesce(col("ec_pairing_input_sizes"), array()).as("ec_pairing_input_sizes"),
        col("call"),
        col("transaction_hash"))

    // A9: all outgoing gas of each degree's callers
    val outGas = prunedEdges.groupBy(col("chain_id"), col("transaction_hash"),
        col("from").as("address"))
      .agg(sum(col("gas")).as("out_gas"))
    def degreeGas(deg: DataFrame, alias: String): DataFrame =
      deg.select(col("chain_id"), col("transaction_hash"), col("address"))
        .join(outGas, addrKey, "left")
        .groupBy(txKey.map(col): _*)
        .agg(coalesce(sum(col("out_gas")), lit(0L)).as(alias))
    val firstGas = degreeGas(firstDeg, "gas_used_first_degree")
    val secondGas = degreeGas(secondDeg, "gas_used_second_degree")

    // J6 inputs: per-tx degree address arrays
    val firstAddrs = firstDeg.groupBy(txKey.map(col): _*)
      .agg(array_sort(collect_set(col("address"))).as("first_addrs"))
    val secondAddrs = secondDeg.groupBy(txKey.map(col): _*)
      .agg(array_sort(collect_set(col("address"))).as("second_addrs"))

    // A7/A8/A5: tx-level precompile aggregates
    val txAggs = prunedEdges.groupBy(txKey.map(col): _*)
      .agg(
        sum(when(col("to") === EcRecover, 1L).otherwise(0L)).as("ec_recover_count"),
        sum(when(col("to") === EcAdd, 1L).otherwise(0L)).as("ec_add_count"),
        sum(when(col("to") === EcMul, 1L).otherwise(0L)).as("ec_mul_count"),
        sum(when(col("to") === EcPairing, 1L).otherwise(0L)).as("ec_pairing_count"),
        sort_array(collect_list(when(col("to") === EcPairing, col("input_bytes"))))
          .as("ec_pairing_input_sizes"),
        array_sort(collect_set(when(col("to") === EcRecover && col("output").isNotNull,
          recovered(col("output"))))).as("ec_recover_addresses"))

    val transactions = roots
      .join(txAggs, txKey, "left")
      .join(firstGas, txKey, "left")
      .join(secondGas, txKey, "left")
      .join(firstAddrs, txKey, "left")
      .join(secondAddrs, txKey, "left")
      .select(
        col("chain_id"), col("transaction_hash"),
        col("from_address"), col("to_address"),
        when(size(coalesce(col("second_addrs"), array())) > 0, col("second_addrs"))
          .otherwise(coalesce(col("first_addrs"), array())).as("closest_address"),
        selectorPlain(col("input")).as("function_signature"),
        col("transaction_index"),
        col("block_number"), col("block_timestamp"), col("block_hash"),
        coalesce(col("value"), lit("0")).as("value"),
        coalesce(col("input"), lit("0x")).as("input"),
        coalesce(col("gas_used"), lit(0L)).as("gas_used_total"),
        coalesce(col("gas_used_first_degree"), lit(0L)).as("gas_used_first_degree"),
        coalesce(col("gas_used_second_degree"), lit(0L)).as("gas_used_second_degree"),
        coalesce(col("ec_recover_count"), lit(0L)).as("ec_recover_count"),
        coalesce(col("ec_add_count"), lit(0L)).as("ec_add_count"),
        coalesce(col("ec_mul_count"), lit(0L)).as("ec_mul_count"),
        coalesce(col("ec_pairing_count"), lit(0L)).as("ec_pairing_count"),
        coalesce(col("ec_pairing_input_sizes"), array()).as("ec_pairing_input_sizes"),
        coalesce(col("ec_recover_addresses"), array()).as("ec_recover_addresses"),
        col("error"))

    (transactions, contracts)
  }
}
