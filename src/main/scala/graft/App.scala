package graft

import graft.obs.{GraftQueryListener, HealthServer, StatsRegistry}
import graft.operators.TraceEtl
import graft.sinks.{JdbcUpsert, Tables}
import graft.sources._
import graft.streaming.StreamingEtl
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
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

  /** Sink one committed micro-batch in one Spark action (reference:
    * dump task main.rs:88-141): render checksummed addresses and
    * comma-joined arrays, tag both tables' rows into one frame, pass it
    * through one exchange keyed on each table's conflict key (which is
    * also [[StreamingEtl.dedupContracts]]' dedup; transactions are
    * already unique per batch), and upsert it with
    * [[JdbcUpsert.upsertTagged]]: one transaction per partition holds
    * that partition's transactions and contracts together.
    *
    * The stats come from the same action: the bound rows are the
    * `results_<chain>` counter (without a JDBC URL, the rendered rows
    * counted), and an observation of the batch's max `block_number`
    * is the `latest_transaction_block_<chain>` gauge. `txs` and
    * `contracts` may share an unmaterialized commit: exchange reuse
    * scans it once for both tables.
    */
  def sinkCommits(txs: DataFrame, contracts: DataFrame, sinks: Sinks, chainId: Long): Unit = {
    val txOut = serializeArrays(
      Tables.renderChecksummed(txs,
        Seq("from_address", "to_address"),
        Seq("closest_address", "ec_recover_addresses")),
      Seq("closest_address", "ec_recover_addresses", "ec_pairing_input_sizes"))
      .select(lit(0).as("table"), col("chain_id"), col("transaction_hash").as("_key"),
        struct(Tables.transactionColumns.map(col): _*).as(Tables.transactions.table))
    // the dedup key is taken before the address is checksummed
    val contractsOut = serializeArrays(
      Tables.renderChecksummed(
        contracts.withColumn("_key", col("address"))
          .withColumn("_sig_key", StreamingEtl.sigKey), Seq("address"), Seq.empty),
      Seq("function_signatures", "ec_pairing_input_sizes", "call"))
      .select(lit(1).as("table"), col("chain_id"), col("_key"), col("_sig_key"),
        struct(Tables.contractColumns.map(col): _*).as(Tables.contracts.table))
    val key = Seq("table", "chain_id", "_key", "_sig_key")
    val latest = Observation()
    // partitioned by the key first, the dedup needs no exchange of its
    // own and sorts only after the shuffle (its map side would sort
    // both tables' branches, one Tungsten page per task)
    val tagged = txOut.unionByName(contractsOut, allowMissingColumns = true)
      .repartition(key.map(col): _*)
      .dropDuplicates(key)
      .observe(latest, max(col(s"${Tables.transactions.table}.block_number")).as("block"))
    val results = sinks.jdbcUrl match {
      case Some(url) =>
        JdbcUpsert.upsertTagged(
          tagged.select("table", Tables.transactions.table, Tables.contracts.table),
          url, Seq(Tables.transactions, Tables.contracts), sinks.dialect)
      case None => tagged.count()
    }
    // O2/O6: stats maintained like the reference's stats task
    latest.get.get("block").flatMap(Option(_)).foreach(m =>
      sinks.stats.setGauge(s"latest_transaction_block_$chainId", m.asInstanceOf[Long]))
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
      val (txs, contracts) = TraceEtl.transform(
        RpcPoller.tracesFrom(spark, chain.chainId, fetches))
      sinkCommits(txs.toDF(), contracts.toDF(), sinks, chain.chainId)
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
