package graft.streaming

import graft.model._
import graft.operators.{TraceEtl, TraceTreeAggregator, TreeBuf}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One streamed trace, prepared for the fold ([[TraceEtl.prepare]]'s
  * columns), with its event-time column (block_timestamp as
  * timestamp) — the watermark column must live in the Dataset that
  * feeds the stateful operator.
  */
case class TimedRow(row: AggRow, event_time: java.sql.Timestamp)

/** Session state: the aggregation buffer plus the RUNNING max event
  * time across micro-batches. The max must be persisted — a later
  * batch can deliver a non-late trace below the earlier max, and
  * re-arming the timeout from a batch-local max would regress the
  * timer and split the session into two commits.
  */
case class SessionBuf(buf: TreeBuf, maxEventMs: Long)

/** Structured-Streaming variants of the per-transaction commit.
  *
  * Two shapes, per SURVEY §2.9, both folding through the one
  * [[TraceTreeAggregator]] the batch commit uses:
  *  - [[microBatchCommit]]: reuse the batch core inside foreachBatch —
  *    correct whenever a tx's traces land in one micro-batch (the
  *    reference's own assumption: a tx is contiguous in the stream).
  *  - [[sessionCommit]]: low-latency stateful sessionization with
  *    flatMapGroupsWithState — per-tx TreeBuf state, committed when
  *    the event-time watermark passes the group's last trace + gap.
  *    Robust to traces of one tx spanning micro-batches and to
  *    reordering; a trace arriving after its tx timed out is dropped
  *    by the watermark, never folded into a neighboring tx (the
  *    reference's emit-on-next-root mis-attributes those,
  *    consumer/kafka/trace/mod.rs:65-77 — deliberate delta).
  */
object StreamingEtl {

  private val agg = new TraceTreeAggregator

  /** Stateful sessionizer with event-time semantics: a transaction is
    * committed once the watermark passes its latest trace timestamp
    * plus `gapSeconds`. State per open tx is one TreeBuf.
    *
    * Every action a `foreachBatch` callback takes on the emitted batch
    * re-runs the stateful operator. `App.sinkCommits` takes one action
    * on the batch's [[TraceEtl.split]], but each of its two tables'
    * branches reads the operator's output: persist the batch before
    * handing it over, and unpersist it after.
    */
  def sessionCommit(traces: Dataset[TraceRow],
      gapSeconds: Long = 30L,
      watermarkDelay: String = "10 seconds"): Dataset[TxCommit] = {
    val spark = traces.sparkSession
    import spark.implicits._

    def update(key: (Long, String), rows: Iterator[TimedRow],
        state: GroupState[SessionBuf]): Iterator[TxCommit] = {
      if (state.hasTimedOut) {
        val out = state.getOption
          .map(s => TraceTreeAggregator.commit(s.buf, key._1, key._2))
          .filter(c => c.transaction.nonEmpty || c.contracts.nonEmpty)
        state.remove()
        out.iterator
      } else {
        val prior = state.getOption
        var maxEventMs = prior.map(_.maxEventMs).getOrElse(Long.MinValue)
        val buf = rows.foldLeft(prior.map(_.buf).getOrElse(agg.zero)) { (b, tt) =>
          if (tt.event_time != null) maxEventMs = math.max(maxEventMs, tt.event_time.getTime)
          agg.reduce(b, tt.row)
        }
        state.update(SessionBuf(buf, maxEventMs))
        val base = if (maxEventMs == Long.MinValue) state.getCurrentWatermarkMs() else maxEventMs
        state.setTimeoutTimestamp(
          math.max(base + gapSeconds * 1000L, state.getCurrentWatermarkMs() + 1L))
        Iterator.empty
      }
    }

    traces
      .filter(col("transaction_hash").isNotNull)
      .select(struct(TraceEtl.prepareColumns: _*).as("row"),
        coalesce(col("block_timestamp"), lit(0L)).cast("timestamp").as("event_time"))
      .withWatermark("event_time", watermarkDelay)
      .as[TimedRow]
      .groupByKey(tt => (tt.row.chain_id, tt.row.transaction_hash))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Micro-batch path: hand each micro-batch's committed
    * (transactions, contracts) pair ([[TraceEtl.transform]]) to the
    * sink callback. Nothing is persisted: each action the callback
    * takes re-runs the commit over the batch, so a sink should take
    * one (`App.sinkCommits` does). That one action reads the batch
    * once: the commit's ZK prune is a window on its own exchange, which
    * both of the sink's table branches reuse.
    */
  def microBatchCommit(rawTraces: DataFrame,
      sink: (Dataset[TransactionOut], Dataset[ContractOut], Long) => Unit) = {
    rawTraces.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (txs, contracts) = TraceEtl.transform(batch)
        sink(txs, contracts, id)
      }
  }

  /** D3: cross-batch contract dedup — the streaming seen-set that
    * replaces the reference's Redis cache (postgres.rs:54-66). Keyed
    * on (chain_id, address, function_signatures); state is bounded by
    * the distinct-contract count (the Redis set had the same growth,
    * postgres.rs:79-89) — pair with a TTL'd state store or a sink-side
    * MERGE when the contract universe is unbounded.
    */
  def dedupContracts(contracts: DataFrame): DataFrame =
    contracts
      .withColumn("_sig_key", sigKey)
      .dropDuplicates("chain_id", "address", "_sig_key")
      .drop("_sig_key")

  /** The function-signature part of a contract's dedup key: the
    * signatures comma-joined, as the sink renders them.
    */
  def sigKey: Column = concat_ws(",", col("function_signatures"))

  /** D3 with bounded state: streaming dedup whose seen-set expires
    * with the watermark — the answer to the reference's
    * forever-growing Redis set (SURVEY §7.4 "unbounded dedup state").
    * A contract re-emitted after `delay` of event time is deduplicated
    * by the sink's ON CONFLICT instead; state size is bounded by the
    * distinct contracts per watermark window.
    */
  def dedupContractsWithinWatermark(contracts: DataFrame,
      eventTimeCol: String, delay: String): DataFrame =
    contracts
      .withColumn("_sig_key", sigKey)
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("chain_id", "address", "_sig_key")
      .drop("_sig_key")
}
