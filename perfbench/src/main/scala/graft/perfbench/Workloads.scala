package graft.perfbench

import graft.model.Addresses

/** Which public path a workload streams through. */
sealed trait Path
/** Kafka payloads → `Ingest.decodeTraces` → `StreamingEtl.microBatchCommit` → `App.sinkCommits`. */
case object MicroBatch extends Path
/** Normalized `TraceRow`s → `StreamingEtl.sessionCommit` → foreachBatch → `App.sinkCommits`. */
case object Session extends Path

/** `filesPerTrigger` × `Traffic.txPerSlice` transactions bound one
  * micro-batch; `warmup` is the small replay set-up drains through.
  */
case class Workload(name: String, why: String, path: Path, traffic: Traffic,
    filesPerTrigger: Int, warmup: Traffic) {
  /** Generate `t`'s replay in the form this workload's path reads. */
  def stage(seed: Long, dir: java.io.File, t: Traffic = traffic): Staged =
    Gen.stage(t, seed, dir, normalized = path == Session)
}

/** The traffic of each workload.
  *
  * Fixed by the benchmark's specification: the 5% ZK share, the three
  * chain ids, 0.1% malformed payloads and 0.5% late traces. Every other
  * value is an unmeasured assumption, chosen to exercise a mechanism and
  * taken from no traffic measurement: the precompile mix, calls per
  * transaction, transactions per block, the degree-2 share, the contract
  * universe and its Zipf exponent, the straddling and out-of-order
  * shares, the re-delivery share and lag, and the 1% of transactions
  * [[Gen]] makes revert. perfbench/README.md lists them.
  */
object Workloads {

  /** Assumed weights of the precompiles a ZK call targets. */
  private val assumedMix = Seq(
    Addresses.EcRecover -> 0.6, Addresses.EcPairing -> 0.2,
    Addresses.EcAdd -> 0.1, Addresses.EcMul -> 0.1)

  private val base = Traffic(
    txCount = 0, txPerBlock = 100, callsPerTx = 3, zkShare = 0.05, degree2Share = 0.3,
    precompileMix = assumedMix, contractUniverse = 2000, zipfSkew = 1.0,
    chainIds = Seq(1L), txPerSlice = 0, malformedShare = 0.0,
    straddleShare = 0.0, outOfOrderShare = 0.0, lateShare = 0.0,
    redeliveryShare = 0.0, redeliveryLag = 0, sentinels = false)

  val kafkaCatchup: Workload = {
    val t = base.copy(txCount = 800, chainIds = Seq(1L, 10L, 137L), txPerSlice = 400,
      malformedShare = 0.001)
    Workload("kafka_catchup",
      "the App's Kafka path catching up on lag: decode, scan amplification and the ZK prune dominate, the sink sees 5% of traffic",
      MicroBatch, t, filesPerTrigger = 2, warmup = t.copy(txCount = 100, txPerSlice = 100, chainIds = Seq(1L)))
  }

  val sessionSpanning: Workload = {
    val t = base.copy(txCount = 2000, txPerSlice = 500, straddleShare = 0.05,
      outOfOrderShare = 0.05, lateShare = 0.005, sentinels = true)
    Workload("session_spanning",
      "the ROADMAP's end-to-end path: RocksDB session state carries transactions across batches, late traces are dropped, no decode",
      Session, t, filesPerTrigger = 1,
      warmup = t.copy(txCount = 250, lateShare = 0.0, sentinels = false))
  }

  val zkRedelivery: Workload = {
    val t = base.copy(txCount = 600, zkShare = 1.0, degree2Share = 0.5,
      contractUniverse = 300, zipfSkew = 1.2, txPerSlice = 200,
      redeliveryShare = 1.0, redeliveryLag = 4)
    Workload("zk_redelivery",
      "every transaction is ZK and every file arrives twice: aggregation, EIP-55 rendering, contract dedup and MERGE conflicts dominate",
      MicroBatch, t, filesPerTrigger = 2, warmup = t.copy(txCount = 100, txPerSlice = 100, redeliveryShare = 0.0))
  }

  val all: Seq[Workload] = Seq(kafkaCatchup, sessionSpanning, zkRedelivery)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
