package graft

import graft.obs.{GraftQueryListener, HealthServer, StatsRegistry}
import graft.operators.TraceEtl
import graft.sinks.{JdbcUpsert, Tables}
import graft.sources._
import graft.streaming.StreamingEtl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The assembled always-on service — the analogue of the reference's
  * `main` (reference: main.rs:154-167): one ingestion path per
  * configured chain, the shared commit pipeline, idempotent sinks,
  * stats + health endpoint.
  *
  * Wiring is factored into small functions so each path is testable
  * without live infrastructure (see `AppSpec`): the provider path
  * runs fully against a stub JSON-RPC node; the Kafka path's stream
  * construction needs the kafka connector jar at deploy time.
  */
object App {

  case class Sinks(
      jdbcUrl: Option[String],
      dialect: String = "postgres",
      stats: StatsRegistry = new StatsRegistry)

  /** Comma-join array columns for portable JDBC binding (the
    * reference renders Postgres array literals the same way,
    * etl_result.rs:177-187).
    */
  private def serializeArrays(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, concat_ws(",", col(c))))

  /** Sink one committed micro-batch: dedup, render checksummed
    * addresses, upsert transactions + contracts (reference: dump task
    * main.rs:88-141).
    *
    * `txs` and `contracts` must already be materialized (for instance
    * by [[TraceEtl.withCommits]]): this takes three actions on them,
    * the two upserts and the `max(block_number)` of the stats. The
    * upserts' bound rows are the `results_<chain>` counter; without a
    * JDBC URL the rendered rows are counted instead.
    */
  def sinkCommits(txs: DataFrame, contracts: DataFrame, sinks: Sinks, chainId: Long): Unit = {
    val txOut = serializeArrays(
      Tables.renderChecksummed(txs,
        Seq("from_address", "to_address"),
        Seq("closest_address", "ec_recover_addresses")),
      Seq("closest_address", "ec_recover_addresses", "ec_pairing_input_sizes"))
      .selectExpr(Tables.transactionColumns: _*)
    val contractsOut = serializeArrays(
      Tables.renderChecksummed(
        StreamingEtl.dedupContracts(contracts), Seq("address"), Seq.empty),
      Seq("function_signatures", "ec_pairing_input_sizes", "call"))
      .selectExpr(Tables.contractColumns: _*)
    val results = sinks.jdbcUrl match {
      case Some(url) =>
        JdbcUpsert.upsert(txOut, url, Tables.transactions, sinks.dialect) +
          JdbcUpsert.upsert(contractsOut, url, Tables.contracts, sinks.dialect)
      case None => txOut.count() + contractsOut.count()
    }
    // O2/O6: stats maintained like the reference's stats task
    txs.agg(max("block_number")).collect().headOption
      .flatMap(r => Option(r.get(0)))
      .foreach(m => sinks.stats.setGauge(s"latest_transaction_block_$chainId",
        m.asInstanceOf[Long]))
    sinks.stats.add(s"results_$chainId", results)
  }

  /** Provider-chain path (SRC3/SRC4): poll a block range, flatten,
    * commit, sink. Batch-shaped (the driver loop advances the range).
    */
  def runProviderRange(spark: SparkSession, chain: ProviderChain,
      client: RpcClient, blocks: Range, sinks: Sinks,
      preTraceSleep: Long => Unit = Thread.sleep): Unit = {
    val fetches = blocks.map(n =>
      RpcPoller.fetchBlock(client, n.toLong, chain.indexTx, preTraceSleep))
    if (chain.indexTx) {
      val traces = RpcPoller.tracesFrom(spark, chain.chainId, fetches)
      TraceEtl.withCommits(traces)((txs, contracts) =>
        sinkCommits(txs.toDF(), contracts.toDF(), sinks, chain.chainId))
    }
    if (chain.indexBlock) {
      fetches.lastOption.foreach(f =>
        sinks.stats.setGauge(s"latest_block_${chain.chainId}", f.blockNumber))
    }
  }

  /** Kafka-chain path (SRC1/SRC2): build the streaming query. Requires
    * the spark-sql-kafka connector on the classpath at deploy time.
    */
  def kafkaTraceQuery(spark: SparkSession, chain: KafkaChain, bootstrap: String,
      sinks: Sinks) = {
    val raw = spark.readStream.format("kafka")
      .options(Ingest.kafkaOptions(bootstrap, chain.tracesTopic))
      .load()
    val (good, _) = Ingest.decodeTraces(raw, chain.chainId)
    StreamingEtl.microBatchCommit(good, (txs, contracts, _) =>
      sinkCommits(txs.toDF(), contracts.toDF(), sinks, chain.chainId))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    val sinks = Sinks(sys.env.get("GRAFT_JDBC_URL"))
    spark.streams.addListener(new GraftQueryListener(sinks.stats))
    val health = new HealthServer(sinks.stats,
      sys.env.getOrElse("GRAFT_HEALTH_PORT", "8080").toInt)
    health.start()
    val chains = ChainConfig.parse(sys.env.getOrElse("CHAINS", "[]"))
    val bootstrap = sys.env.getOrElse("KAFKA_BOOTSTRAP", "localhost:9092")
    val kafkaQueries = chains.collect { case k: KafkaChain =>
      kafkaTraceQuery(spark, k, bootstrap, sinks)
        .option("checkpointLocation",
          sys.env.getOrElse("GRAFT_CHECKPOINT", "/tmp/graft_ckpt") + s"/${k.chainId}")
        .start()
    }
    val providerChains = chains.collect { case p: ProviderChain => p }
    if (providerChains.nonEmpty) {
      val pollMs = sys.env.getOrElse("GRAFT_POLL_MS", "12000").toLong
      providerChains.foreach { p =>
        val client = new RpcClient(p.rpcUrl)
        new Thread(() => {
          var next = sys.env.getOrElse("GRAFT_START_BLOCK", "0").toLong
          while (true) {
            runProviderRange(spark, p, client, next.toInt to next.toInt, sinks)
            next += 1
            Thread.sleep(pollMs)
          }
        }, s"graft-poller-${p.chainId}").start()
      }
    }
    kafkaQueries.foreach(_.awaitTermination())
    if (kafkaQueries.isEmpty && providerChains.nonEmpty)
      Thread.currentThread().join()
  }
}
