package graft.operators

import org.apache.spark.sql.{Dataset, functions => F}

/** Shared broadcast gating (SURVEY §7 "no unconditional broadcast
  * hints"): a hint is only attached when the plan-time size estimate
  * of the frame fits `spark.sql.autoBroadcastJoinThreshold`. Above
  * the threshold the join stays a shuffle join, and AQE's runtime
  * join selection still converts it to broadcast when the ACTUAL
  * built size turns out small — the estimate is an upper bound, so
  * the gate errs toward shuffle, the safe direction at 100× scale
  * (an unconditional hint on a key set that reaches tens of millions
  * of rows would OOM the driver).
  */
object Hints {

  /** Attach a broadcast hint iff the plan-size estimate fits the
    * session threshold.
    *
    * The threshold is read from the session that owns `df`'s plan
    * (not the thread-local active session, which can differ on
    * background threads). Sizing forces an extra Catalyst
    * analyze+optimize pass of the subplan — driver-only cost, cheap
    * for the small key-set frames this gates, but paid on every call,
    * which is why no per-micro-batch path uses it (the commit's ZK
    * prune is a window, `TraceEtl.pruneNonZk`). Streaming Datasets
    * can't be sized this way and pass through un-hinted.
    */
  def maybeBroadcast[T](df: Dataset[T]): Dataset[T] = {
    val use = !df.isStreaming && {
      val threshold =
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      threshold > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
    }
    if (use) F.broadcast(df) else df
  }
}
