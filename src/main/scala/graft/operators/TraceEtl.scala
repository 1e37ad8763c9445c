package graft.operators

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch/micro-batch trace pipeline: normalized traces in, committed
  * transactions + contracts out. The same function is used by the
  * batch entry point and `foreachBatch` streaming (SURVEY §7.1
  * "batch-first" decision).
  */
object TraceEtl {

  /** P3-flavored normalization of a raw decoded trace DataFrame
    * (schema [[Schemas.trace]] + `chain_id`): lowercase addresses,
    * root flag, call-type filter. `trace_type` null is kept (Kafka
    * wire rows may omit it); explicit non-call rows (create/suicide/
    * reward) are dropped like the reference's normalizer
    * (reference: types/trace.rs:113-164 keeps only Action::Call).
    */
  def normalize(raw: DataFrame): Dataset[TraceRow] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw
      .filter(col("trace_type").isNull || col("trace_type") === "call")
      .select(
        col("chain_id").cast("long").as("chain_id"),
        col("transaction_hash").cast("string").as("transaction_hash"),
        col("transaction_index").cast("int").as("transaction_index"),
        lower(col("from_address")).as("from_address"),
        lower(col("to_address")).as("to_address"),
        col("value").cast("string").as("value"),
        lower(col("input")).as("input"),
        lower(col("output")).as("output"),
        col("gas_used").cast("long").as("gas_used"),
        (col("trace_address").isNull || size(col("trace_address")) === 0).as("is_root"),
        col("block_number").cast("long").as("block_number"),
        col("block_timestamp").cast("long").as("block_timestamp"),
        col("block_hash").cast("string").as("block_hash"),
        col("error").cast("string").as("error"),
      )
      .as[TraceRow]
  }

  /** J1 pushed below the aggregation: transactions that never touch
    * a first-degree precompile (99%+ of traffic at mainnet scale) are
    * dropped before the fold. (Correct because `commit` emits nothing
    * for such txs anyway — reference: trace_tree.rs:67-70.)
    *
    * A row is kept iff `max(to_address ∈ FirstDegreeFilter)` over its
    * transaction — a window partitioned by (chain_id, transaction_hash)
    * — is true, so the input is read once. The window's hash exchange
    * on the transaction key is the one [[commitTraces]]' aggregation
    * needs, so the prune adds no exchange of its own, collects no key
    * set and broadcasts nothing; unlike a size gate, it needs no extra
    * optimizer pass per batch. Rows with a null key belong to no
    * transaction and are dropped. Works over any frame with
    * `chain_id`, `transaction_hash` and `to_address` columns.
    */
  def pruneNonZk[T](ds: Dataset[T]): Dataset[T] = {
    val tx = Window.partitionBy("chain_id", "transaction_hash")
    ds.filter(col("chain_id").isNotNull && col("transaction_hash").isNotNull)
      .withColumn("_zk",
        max(col("to_address").isin(Addresses.FirstDegreeFilter: _*)).over(tx))
      .filter(col("_zk"))
      .drop("_zk")
      .as[T](ds.encoder)
  }

  /** Relational pre-computation feeding the fused aggregator: the
    * per-trace scalars (masked selector, pairing byte length,
    * recovered address) become codegen'd column expressions, and the
    * heavy payload strings survive only inside root rows' `root`
    * struct — so the typed path deserializes ~4x-slimmer rows and the
    * shuffle carries no dead payload. The scalar expressions are the
    * ones [[TraceEtlRelational]] uses, so the differential specs pin
    * the fused and relational commits to one definition of each.
    * `StreamingEtl.sessionCommit` projects the same [[prepareColumns]]
    * into its state operator's input.
    */
  def prepare(traces: Dataset[TraceRow]): Dataset[AggRow] = {
    val spark = traces.sparkSession
    import spark.implicits._
    traces.select(prepareColumns: _*).as[AggRow]
  }

  /** The [[AggRow]] columns [[prepare]] selects, over a [[TraceRow]] frame. */
  def prepareColumns: Seq[Column] = {
    import TraceEtlRelational.{byteLen, recovered, selectorWithTo}
    Seq(
      col("chain_id"),
      col("transaction_hash"),
      col("from_address"),
      col("to_address"),
      coalesce(col("gas_used"), lit(0L)).as("gas_used"),
      when(col("from_address").isNotNull && col("to_address").isNotNull,
        selectorWithTo(col("input"), col("to_address"))).as("sig"),
      byteLen(col("input")).as("pair_len"),
      when(col("to_address") === Addresses.EcRecover && col("output").isNotNull,
        recovered(col("output"))).as("recovered"),
      col("is_root"),
      when(col("is_root"), struct(
        col("transaction_index"), col("from_address"), col("to_address"),
        col("value"), col("input"), col("gas_used"), col("block_number"),
        col("block_timestamp"), col("block_hash"), col("error"))).as("root"),
    )
  }

  /** The fused per-tx commit: [[prepare]], the [[pruneNonZk]] window,
    * then one untyped aggregation on (chain_id, transaction_hash) with
    * the graph traversal inside `finish`. One read of the input and one
    * exchange: the window's hash exchange on the transaction key also
    * serves the aggregation (a typed `groupByKey` would add a second
    * one on its appended key columns). With [[prepare]] first, non-root
    * rows cross that exchange without their payload strings.
    * `prefilter = false` skips the prune, and the exchange then carries
    * map-side partial buffers instead of prepared rows.
    */
  def commitTraces(traces: Dataset[TraceRow], prefilter: Boolean = true): Dataset[TxCommit] = {
    val prepared = prepare(traces.filter(col("transaction_hash").isNotNull))
    val in = if (prefilter) pruneNonZk(prepared) else prepared
    val aggRow = Encoders.product[AggRow]
    val commit = udaf(new TraceTreeAggregator, aggRow)
    in.groupBy("chain_id", "transaction_hash")
      .agg(commit(aggRow.schema.fieldNames.toSeq.map(col): _*).as("commit"))
      .select("commit.*")
      .as(Encoders.product[TxCommit])
  }

  /** Split a committed stream into the (transactions, contracts)
    * output tables. Each action on a side re-runs the whole commit; one
    * action over both sides (`App.sinkCommits` unions them) runs it
    * once, the two branches sharing its exchanges by reuse.
    */
  def split(commits: Dataset[TxCommit]): (Dataset[TransactionOut], Dataset[ContractOut]) = {
    val spark = commits.sparkSession
    import spark.implicits._
    (commits.flatMap(_.transaction), commits.flatMap(_.contracts))
  }

  /** End-to-end batch transform used by entry/bench. */
  def transform(raw: DataFrame): (Dataset[TransactionOut], Dataset[ContractOut]) = {
    val commits = commitTraces(normalize(raw))
    split(commits)
  }
}
