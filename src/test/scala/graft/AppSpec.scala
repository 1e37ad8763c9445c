package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.model.Addresses
import graft.sources.{ProviderChain, RpcClient}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Mini end-to-end run of the assembled service: stub RPC node →
  * provider poll → commit → Derby sink (checksummed) → stats →
  * /health — the whole reference `main` loop in one test.
  */
class AppSpec extends SparkSpec {

  private val rec = Addresses.EcRecover
  private val lowerA = "0x5aaeb6053f3e94c9b9a09f33669435e7ef1beaed"
  private val checksummedA = "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed"

  private def frameTree: String =
    s"""{"from":"0xaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa","to":"$lowerA",
       |"gas":"0x100","gasUsed":"0x80","type":"CALL","input":"0x1234567890",
       |"calls":[{"from":"$lowerA","to":"$rec","gasUsed":"0x10","type":"STATICCALL",
       |"input":"0xdeadbeef00","output":"0x${"00" * 12}${"11" * 20}"}]}"""
      .stripMargin.replace("\n", "")

  private def startStubNode(): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val resp =
          if (body.contains("eth_getBlockByNumber"))
            """{"jsonrpc":"2.0","id":1,"result":{"number":"0x64","hash":"0xblk","transactions":["0xt1"],"size":"0x200"}}"""
          else s"""{"jsonrpc":"2.0","id":1,"result":[{"result":$frameTree}]}"""
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes)
        x.close()
      }
    })
    server.start()
    server
  }

  test("mini app run: poll -> commit -> checksummed upsert -> health") {
    val node = startStubNode()
    val url = SinkFixtures.derbySink("appdb")
    try {
      val chain = ProviderChain(42L, s"http://localhost:${node.getAddress.getPort}/",
        "ws://unused", indexBlock = true, indexTx = true)
      val client = new RpcClient(chain.rpcUrl, maxRetries = 2, backoffMs = 1, sleeper = _ => ())
      val sinks = App.Sinks(Some(url), dialect = "derby")

      // the assembled provider path, then redelivered (idempotent)
      App.runProviderRange(spark, chain, client, 100 to 100, sinks,
        preTraceSleep = _ => ())
      App.runProviderRange(spark, chain, client, 100 to 100, sinks,
        preTraceSleep = _ => ())

      val c1 = java.sql.DriverManager.getConnection(url)
      val rs = c1.createStatement().executeQuery(
        """SELECT count(*), min("to_address") FROM transactions""")
      rs.next()
      assert(rs.getInt(1) == 1)
      assert(rs.getString(2) == checksummedA) // EIP-55 applied at the sink
      val rs2 = c1.createStatement().executeQuery("SELECT count(*) FROM contracts")
      rs2.next()
      assert(rs2.getInt(1) >= 1)
      c1.close()

      // stats + health endpoint (O1/O2 gauges from the run)
      assert(sinks.stats.snapshot("latest_transaction_block_42") == 100L)
      assert(sinks.stats.snapshot("latest_block_42") == 100L)
      val health = new graft.obs.HealthServer(sinks.stats)
      val port = health.start()
      try {
        val body = scala.io.Source.fromURL(s"http://localhost:$port/health").mkString
        assert(body.contains("latest_transaction_block_42"))
      } finally health.stop()
    } finally node.stop(0)
  }

  /** One batch for the sink tests: three ZK transactions (two in block
    * 9) and one plain one, which the prune drops. Returns the raw rows
    * and the rows the sink takes: the transactions plus the deduped
    * contracts.
    */
  private def statsBatch(): (org.apache.spark.sql.DataFrame, Long) = {
    import spark.implicits._
    import SinkFixtures.{tx, zkCallee, plainCallee}
    val raw = SinkFixtures.decoded((
      tx("0xz1", zkCallee, 7L) ++ tx("0xz2", zkCallee, 9L) ++ tx("0xz3", zkCallee, 9L) ++
        tx("0xp1", plainCallee, 30L)).toDF())
    val (txs, contracts) = graft.operators.TraceEtl.transform(raw)
    val deduped = graft.streaming.StreamingEtl.dedupContracts(contracts.toDF()).count()
    assert(txs.count() == 3 && contracts.count() > deduped) // the dedup has work to do
    (raw, txs.count() + deduped)
  }

  test("sinkCommits stats: results are the upserted rows, latest block the batch max") {
    val (raw, expected) = statsBatch()
    val url = SinkFixtures.derbySink("statsdb")
    for (sinks <- Seq(App.Sinks(Some(url), dialect = "derby"), App.Sinks(None))) {
      val (t, c) = graft.operators.TraceEtl.transform(raw)
      App.sinkCommits(t.toDF(), c.toDF(), sinks, 5L)
      assert(sinks.stats.snapshot("results_5") == expected, sinks.jdbcUrl)
      // non-ZK transactions are pruned: block 30 never reaches the sink
      assert(sinks.stats.snapshot("latest_transaction_block_5") == 9L, sinks.jdbcUrl)
    }
    assert(SinkFixtures.sunkRows(url) == expected)
  }

  test("sinkCommits is one Spark action: both tables and the stats in one SQL execution") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (raw, expected) = statsBatch()
    val url = SinkFixtures.derbySink("oneactiondb")
    val group = "sinkCommits-one-action"
    // an action is one SQL execution; every job it runs (broadcasts and
    // adaptive query stages included) carries that execution's id
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(executions.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (sinks <- Seq(App.Sinks(Some(url), dialect = "derby"), App.Sinks(None))) {
        // the commits are not persisted: the one action runs them
        val (t, c) = graft.operators.TraceEtl.transform(raw)
        executions.clear()
        spark.sparkContext.setJobGroup(group, "one sinkCommits call")
        try App.sinkCommits(t.toDF(), c.toDF(), sinks, 5L)
        finally spark.sparkContext.clearJobGroup()
        org.apache.spark.ListenerDrain(spark.sparkContext)
        assert(executions.size == 1, s"${sinks.jdbcUrl}: SQL executions $executions")
        assert(sinks.stats.snapshot("results_5") == expected, sinks.jdbcUrl)
        assert(sinks.stats.snapshot("latest_transaction_block_5") == 9L, sinks.jdbcUrl)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(SinkFixtures.sunkRows(url) == expected)
  }
}
