package graft.operators

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset}
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
    * ecRecover/ecPairing (99%+ of traffic at mainnet scale) die at the
    * scan via a semi-join against the set of qualifying tx keys.
    * (Correct because `commit` emits nothing for such txs anyway —
    * reference: trace_tree.rs:67-70.)
    *
    * The key set is broadcast ONLY when the plan-time size estimate of
    * the filtered scan fits `spark.sql.autoBroadcastJoinThreshold` —
    * at 100× mainnet scale the qualifying keys are tens of millions of
    * rows and an unconditional broadcast hint would OOM the driver.
    * Above the threshold the join is a plain shuffle left-semi, and
    * AQE's runtime join selection still converts it back to broadcast
    * if the ACTUAL built size turns out small (the estimate is the
    * un-filtered upper bound, so the gate errs toward shuffle — the
    * safe direction). `broadcastKeys` forces a side for differential
    * testing (ScaleSpec proves both paths identical).
    */
  def pruneNonZk(traces: Dataset[TraceRow],
      broadcastKeys: Option[Boolean] = None): Dataset[TraceRow] = {
    // no distinct(): that's a full shuffle of the key set, and the
    // semi-join's build-side hash table collapses duplicate keys
    // anyway — same result, one exchange fewer
    val zkTx = traces
      .filter(col("to_address").isin(Addresses.FirstDegreeFilter: _*))
      .select("chain_id", "transaction_hash")
    traces.join(Hints.maybeBroadcast(zkTx, broadcastKeys),
        Seq("chain_id", "transaction_hash"), "left_semi")
      .as[TraceRow](traces.encoder)
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

  /** The fused per-tx commit: one shuffle on (chain_id, tx_hash),
    * map-side partial aggregation, graph traversal inside `finish`.
    */
  def commitTraces(traces: Dataset[TraceRow], prefilter: Boolean = true): Dataset[TxCommit] = {
    val spark = traces.sparkSession
    import spark.implicits._
    val in = traces.filter(col("transaction_hash").isNotNull).as[TraceRow]
    val pruned = if (prefilter) pruneNonZk(in) else in
    prepare(pruned)
      .groupByKey(t => (t.chain_id, t.transaction_hash))
      .agg(new TraceTreeAggregator().toColumn.name("commit"))
      .map(_._2)
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
