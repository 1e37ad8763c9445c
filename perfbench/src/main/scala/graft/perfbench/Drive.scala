package graft.perfbench

import graft.App
import graft.model.{TraceRow, TxCommit}
import graft.operators.TraceEtl
import graft.sinks.Tables
import graft.sources.Ingest
import graft.streaming.StreamingEtl
import java.io.File
import java.sql.DriverManager
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, Trigger}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** One committed micro-batch as the benchmark sees it. `stateRuns` is
  * how often the stateful operator ran in the batch: every action
  * foreachBatch code takes on the batch re-runs it, and Spark sums its
  * row metrics over all runs, so state rows and dropped rows are
  * divided by it here. `stateCommitMs` stays summed: each run commits.
  */
case class BatchStat(query: String, batchId: Long, triggerMs: Long, addBatchMs: Long,
    inputRows: Long, stateRuns: Long, stateRows: Long, stateCommitMs: Long,
    droppedByWatermark: Long)

object BatchStat {
  def of(p: StreamingQueryProgress): BatchStat = {
    def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    val runs = ops.map(o => o.numStateStoreInstances / math.max(1L, o.numShufflePartitions))
      .maxOption.getOrElse(0L)
    def perRun(v: Long) = if (runs > 0) v / runs else v
    BatchStat(p.name, p.batchId, d("triggerExecution"), d("addBatch"), p.numInputRows, runs,
      perRun(ops.map(_.numRowsTotal).sum), ops.map(_.commitTimeMs).sum,
      perRun(ops.map(_.numRowsDroppedByWatermark).sum))
  }
}

/** Result of draining one staged backlog: wall time, every committed
  * micro-batch, micro-batches that failed and were re-run after a
  * restart from the checkpoint, and the sink's row counter. `abandoned`
  * says why a chain's query never finished: it failed more than
  * [[Drive.MaxRestarts]] times, or it was still running at the drain's
  * deadline and was stopped (`hung`).
  */
case class Drain(wallS: Double, batches: Seq[BatchStat], failedBatches: Int,
    rowsOffered: Long, db: Derby, checkpoints: Seq[(Long, File)],
    abandoned: Seq[String], hung: Boolean)

/** An in-JVM Derby database holding the sink's two tables.
  *
  * Derby's statement cache is off. With it on, every connection that
  * prepares the same MERGE text shares one compiled plan, and Derby's
  * MERGE is not safe to run from a shared plan at once: on distinct keys
  * concurrent MERGEs fail with 23505, XJ001 or ClassCastExceptions,
  * silently lose committed rows, or deadlock on page latches
  * (perfbench/README.md, *Sink failures*, and perfbench/probe). A
  * Postgres sink has no such shared state. Partitions still write
  * concurrently, each in its own transaction, under row-level locking.
  */
class Derby(val name: String) {
  val url = s"jdbc:derby:memory:$name;create=true"

  def create(): Derby = {
    // read when the database boots, which the first connection does
    System.setProperty("derby.language.statementCacheSize", "0")
    val c = DriverManager.getConnection(url)
    try {
      def ddl(table: String, cols: Seq[String], numeric: Set[String], key: Seq[String]) =
        c.createStatement().execute(s"CREATE TABLE $table (" +
          cols.map(k => s""""$k" ${if (numeric(k)) "BIGINT" else "VARCHAR(2000)"}""").mkString(", ") +
          key.map(k => s""""$k"""").mkString(", PRIMARY KEY (", ", ", "))"))
      ddl(Tables.transactions.table, Tables.transactionColumns,
        Set("chain_id", "transaction_index", "block_number", "block_timestamp",
          "gas_used_total", "gas_used_first_degree", "gas_used_second_degree",
          "ec_recover_count", "ec_add_count", "ec_mul_count", "ec_pairing_count"),
        Tables.transactions.conflictKeys)
      ddl(Tables.contracts.table, Tables.contractColumns,
        Set("chain_id", "degree", "ec_recover_count", "ec_add_count", "ec_mul_count",
          "ec_pairing_count"),
        Tables.contracts.conflictKeys)
    } finally c.close()
    this
  }

  /** Every row of `table` as one string per row (columns in `cols` order). */
  def rows(table: String, cols: Seq[String]): Seq[String] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT ${cols.map(k => s""""$k"""").mkString(", ")} FROM $table")
      val out = Seq.newBuilder[String]
      while (rs.next()) out += Check.line((1 to cols.size).map(i => rs.getString(i)))
      out.result()
    } finally c.close()
  }

  def drop(): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a successful drop as 08006
}

object Drive {

  /** Restarts of one query beyond which a drain is abandoned as failed. */
  val MaxRestarts = 5

  /** How long one drain may run before its queries are stopped and the
    * drain counts as hung. A drain takes 2-15 s; one whose sink tasks
    * deadlock (as Derby's MERGE does with its statement cache on, see
    * [[Derby]]) never ends.
    */
  val DrainTimeoutS = 60

  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // as App.main
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounds StreamingQuery.stop() on a drain that hung
      .config("spark.sql.streaming.stopTimeout", "10s")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Drain every chain's staged backlog once, all chains concurrently
    * as App.main runs them, into a fresh Derby database. A query that
    * fails is restarted from its checkpoint, as the always-on service
    * would be; its failed micro-batch is counted and re-run. A query
    * still running after [[DrainTimeoutS]] is stopped and the drain
    * marked hung.
    */
  def drain(spark: SparkSession, wl: Workload, sources: Seq[(Long, File)], work: File,
      tag: String, onBatch: (Long, Long, Dataset[TxCommit]) => Unit = (_, _, _) => ()): Drain = {
    val db = new Derby(s"sink_$tag").create()
    val sinks = App.Sinks(Some(db.url), dialect = "derby")
    val checkpoints = sources.map { case (chain, _) => chain -> new File(work, s"ckpt_${tag}_$chain") }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sources.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    val deadline = t0 + DrainTimeoutS * 1000000000L
    val perChain = try {
      val runs = sources.zip(checkpoints).map { case ((chain, dir), (_, ckpt)) =>
        Future(runToEnd(() => start(spark, wl, chain, dir, ckpt, sinks, tag, onBatch), deadline))
      }
      runs.map(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    val wall = (System.nanoTime() - t0) / 1e9
    val rowsOffered = sinks.stats.snapshot.collect { case (k, v) if k.startsWith("results_") => v }.sum
    Drain(wall, perChain.flatMap(_.batches), perChain.map(_.failures).sum, rowsOffered, db,
      checkpoints, perChain.flatMap(_.abandoned), perChain.exists(_.hung))
  }

  private case class ChainRun(batches: Seq[BatchStat], failures: Int, abandoned: Option[String],
      hung: Boolean)

  private def runToEnd(start: () => StreamingQuery, deadline: Long): ChainRun = {
    var failures = 0
    val batches = Seq.newBuilder[BatchStat]
    var outcome: Option[ChainRun] = None
    while (outcome.isEmpty) {
      val q = start()
      try {
        val leftMs = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
        if (q.awaitTermination(leftMs)) outcome = Some(ChainRun(Nil, failures, None, hung = false))
        else {
          // a MERGE deadlock leaves tasks that cannot be cancelled; stop() gives up after stopTimeout
          try q.stop() catch { case e: Exception => System.err.println(s"[perfbench] stop: $e") }
          outcome = Some(ChainRun(Nil, failures,
            Some(s"${q.name} still running after $DrainTimeoutS s, stopped"), hung = true))
        }
      } catch {
        case e: StreamingQueryException =>
          failures += 1
          System.err.println(s"[perfbench] ${q.name} failed (restart $failures): " +
            e.getCause.toString.linesIterator.take(1).mkString)
          if (failures > MaxRestarts)
            outcome = Some(ChainRun(Nil, failures,
              Some(s"${q.name} failed ${failures} times, gave up"), hung = false))
      } finally batches ++= q.recentProgress.map(BatchStat.of)
    }
    outcome.get.copy(batches = batches.result())
  }

  private def start(spark: SparkSession, wl: Workload, chain: Long, dir: File, ckpt: File,
      sinks: App.Sinks, tag: String,
      onBatch: (Long, Long, Dataset[TxCommit]) => Unit): StreamingQuery = {
    val writer = wl.path match {
      case MicroBatch =>
        // App.kafkaTraceQuery with the file source standing in for Kafka
        val raw = spark.readStream.option("maxFilesPerTrigger", wl.filesPerTrigger.toLong)
          .text(dir.getPath)
        val (good, _) = Ingest.decodeTraces(raw, chain)
        StreamingEtl.microBatchCommit(good, (txs, contracts, _) => {
          unpinCallSite(spark)
          App.sinkCommits(txs.toDF(), contracts.toDF(), sinks, chain)
        })
      case Session =>
        import spark.implicits._
        val traces = spark.readStream.schema(Encoders.product[TraceRow].schema)
          .option("maxFilesPerTrigger", wl.filesPerTrigger.toLong).json(dir.getPath).as[TraceRow]
        StreamingEtl.sessionCommit(traces, gapSeconds = SessionGapSeconds,
            watermarkDelay = SessionWatermark)
          .writeStream.foreachBatch { (batch: Dataset[TxCommit], id: Long) =>
            unpinCallSite(spark)
            // App.sinkCommits takes five actions, and each action on a
            // stateful batch re-runs the stateful operator; unpersisted,
            // drains lost committed transactions (2 of 85 in one run)
            val commits = batch.persist()
            try {
              val (txs, contracts) = TraceEtl.split(commits)
              App.sinkCommits(txs.toDF(), contracts.toDF(), sinks, chain)
              onBatch(chain, id, commits)
            } finally commits.unpersist()
          }
    }
    writer.queryName(s"${tag}_chain_$chain")
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** A stream thread runs every job under the call site of `start()`;
    * clearing it lets each job carry the call site of the action that
    * ran it, which the traced run attributes to a module.
    */
  private def unpinCallSite(spark: SparkSession): Unit = spark.sparkContext.clearCallSite()

  /** Session close-out: 30 s of event-time gap, and a watermark three
    * blocks deep — deeper than the two blocks [[Gen]] lets slip into
    * the next file, shallower than a file's span.
    */
  val SessionGapSeconds = 30L
  val SessionWatermark = s"${3 * Gen.BlockSeconds} seconds"
}
