package graft.model

import org.apache.spark.sql.types._

/** Ethereum precompile addresses relevant to ZK-proof detection.
  * Public constants (Ethereum yellow paper / EIP-196..198); the
  * reference pins the same four (reference: constants/addresses.rs:3-28).
  */
object Addresses {
  val EcRecover = "0x0000000000000000000000000000000000000001"
  val EcAdd = "0x0000000000000000000000000000000000000006"
  val EcMul = "0x0000000000000000000000000000000000000007"
  val EcPairing = "0x0000000000000000000000000000000000000008"
  val Zero = "0x0000000000000000000000000000000000000000"

  /** Precompiles whose callers define a "first-degree" ZK contract
    * (reference: trace_tree.rs:29-30). */
  val FirstDegreeFilter: Seq[String] = Seq(EcPairing, EcRecover)

  val ZeroSelector = "0x00000000"
}

/** Static schemas for the wire formats — never inferSchema, so
  * `from_json` tolerance matches the reference's serde structs.
  */
object Schemas {

  /** One flattened call-tree node (reference: types/trace.rs:12-42).
    * `value` is declared StringType because the upstream JSON carries
    * it as either a decimal string or an arbitrary-precision number;
    * reading as string is lossless for full U256 range (cast to
    * Decimal(38,0) downstream where arithmetic is needed).
    */
  val trace: StructType = StructType(Seq(
    StructField("transaction_index", IntegerType),
    StructField("from_address", StringType),
    StructField("to_address", StringType),
    StructField("value", StringType),
    StructField("input", StringType),
    StructField("output", StringType),
    StructField("trace_type", StringType),
    StructField("call_type", StringType),
    StructField("reward_type", StringType),
    StructField("gas", LongType),
    StructField("gas_used", LongType),
    StructField("subtraces", IntegerType),
    StructField("trace_address", ArrayType(IntegerType)),
    StructField("error", StringType),
    StructField("transaction_hash", StringType),
    StructField("block_number", LongType),
    StructField("block_timestamp", LongType),
    StructField("block_hash", StringType),
  ))

  /** Block header (reference: types/block.rs:8-22). */
  val block: StructType = StructType(Seq(
    StructField("number", LongType),
    StructField("timestamp", LongType),
    StructField("hash", StringType),
    StructField("parent_hash", StringType),
    StructField("transaction_count", IntegerType),
    StructField("nonce", StringType),
    StructField("miner", StringType),
    StructField("difficulty", LongType),
    StructField("total_difficulty", DoubleType),
    StructField("size", IntegerType),
    StructField("gas_limit", LongType),
    StructField("gas_used", LongType),
    StructField("base_fee_per_gas", LongType),
  ))
}

/** Normalized trace row fed to the per-transaction aggregation
  * (field meanings: reference types/trace.rs:12-42). Addresses are
  * lowercase 0x-hex; `is_root` marks `trace_address == []`.
  */
case class TraceRow(
    chain_id: Long,
    transaction_hash: String,
    transaction_index: Option[Int],
    from_address: Option[String],
    to_address: Option[String],
    value: Option[String],
    input: Option[String],
    output: Option[String],
    gas_used: Option[Long],
    is_root: Boolean,
    block_number: Option[Long],
    block_timestamp: Option[Long],
    block_hash: Option[String],
    error: Option[String],
)

/** Slim row fed to the fused aggregation after relational
  * pre-computation of the per-trace scalars (`TraceEtl.prepare`): the
  * selector, pairing byte length, and recovered address are codegen'd
  * column expressions, and the heavy payload strings (input/output/
  * value/hashes) survive only inside the `root` struct of root rows —
  * non-root rows shrink ~4x, which is what the typed path
  * deserializes and the partial aggregation iterates. It is the input
  * of both folds: the batch commit's aggregation and the
  * sessionizer's state operator (`StreamingEtl.sessionCommit`).
  */
case class AggRow(
    chain_id: Long,
    transaction_hash: String,
    from_address: Option[String],
    to_address: Option[String],
    gas_used: Long,
    sig: Option[String], //   masked selector; defined iff from+to are
    pair_len: Int, //         input byte length (used when to=ecPairing)
    recovered: Option[String], // defined iff to=ecRecover ∧ output≠null
    is_root: Boolean,
    root: Option[RootInfo],
)

/** Root-trace fields retained in the aggregation buffer
  * (reference: trace_tree.rs:25, first_trace). */
case class RootInfo(
    transaction_index: Option[Int],
    from_address: Option[String],
    to_address: Option[String],
    value: Option[String],
    input: Option[String],
    gas_used: Option[Long],
    block_number: Option[Long],
    block_timestamp: Option[Long],
    block_hash: Option[String],
    error: Option[String],
)

/** Emitted contract row (reference: types/etl_result.rs:25-38).
  * Array-valued fields are sorted for deterministic output.
  */
case class ContractOut(
    chain_id: Long,
    address: String,
    function_signatures: Seq[String],
    degree: Int,
    ec_recover_count: Long,
    ec_add_count: Long,
    ec_mul_count: Long,
    ec_pairing_count: Long,
    ec_pairing_input_sizes: Seq[Int],
    call: Seq[String],
)

/** Emitted transaction row (reference: types/etl_result.rs:40-66).
  * `value` is the lossless decimal string; `gas_used_*` flatten the
  * reference's GasUsed struct to match its Postgres columns.
  */
case class TransactionOut(
    chain_id: Long,
    transaction_hash: String,
    from_address: String,
    to_address: String,
    closest_address: Seq[String],
    function_signature: String,
    transaction_index: Int,
    block_number: Option[Long],
    block_timestamp: Option[Long],
    block_hash: Option[String],
    value: String,
    input: String,
    gas_used_total: Long,
    gas_used_first_degree: Long,
    gas_used_second_degree: Long,
    ec_recover_count: Long,
    ec_add_count: Long,
    ec_mul_count: Long,
    ec_pairing_count: Long,
    ec_pairing_input_sizes: Seq[Int],
    ec_recover_addresses: Seq[String],
    error: Option[String],
)

/** Result of committing one transaction group: the transaction (if the
  * commit filter passed and a well-formed root exists) plus the
  * derived contract rows.
  */
case class TxCommit(
    transaction: Option[TransactionOut],
    contracts: Seq[ContractOut],
)
