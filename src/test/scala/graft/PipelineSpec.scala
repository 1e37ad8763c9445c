package graft

import graft.model._
import graft.operators.Flatten
import graft.sinks.{DoNothing, JdbcUpsert, Overwrite, UpsertSpec}
import graft.sources.{ChainConfig, Ingest, KafkaChain, ProviderChain}
import graft.streaming.StreamingEtl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class FlattenSpec extends SparkSpec {

  private def frame(from: String, to: String, gasUsed: Long,
      calls: Seq[String] = Seq.empty): String = {
    val kids = if (calls.isEmpty) "" else s""","calls":[${calls.mkString(",")}]"""
    s"""{"from":"$from","to":"$to","gasUsed":"0x${gasUsed.toHexString}","type":"CALL"$kids}"""
  }

  test("flatten: depth 0 / 1 / 3 fixtures with paths and subtraces") {
    val d0 = Flatten.flattenJson(frame("0xa", "0xb", 5))
    assert(d0.map(f => (f.trace_address, f.subtraces)) == Seq((Vector(), 0)))
    assert(d0.head.gas_used.contains(5L) && d0.head.call_type == "call")

    val d1 = Flatten.flattenJson(
      frame("0xa", "0xb", 5, Seq(frame("0xb", "0xc", 1), frame("0xb", "0xd", 2))))
    assert(d1.map(_.trace_address) == Seq(Vector(), Vector(0), Vector(1)))
    assert(d1.head.subtraces == 2)

    val d3 = Flatten.flattenJson(
      frame("0xa", "0xb", 9, Seq(
        frame("0xb", "0xc", 8, Seq(
          frame("0xc", "0xd", 7, Seq(frame("0xd", "0xe", 6))))))))
    assert(d3.map(_.trace_address) ==
      Seq(Vector(), Vector(0), Vector(0, 0), Vector(0, 0, 0)))
    // parent-before-children ordering (reference: geth_trace.rs:46-84)
    assert(d3.map(_.gas_used.get) == Seq(9L, 8L, 7L, 6L))
  }

  test("flatten: malformed JSON quarantined, not crashed") {
    assert(Flatten.flattenJson("{not json").isEmpty)
    assert(Flatten.flattenJson(null).isEmpty)
  }

  private val genTree: org.scalacheck.Gen[(String, Int)] = {
    def gen(depth: Int): Gen[(String, Int)] =
      for {
        nKids <- if (depth >= 3) Gen.const(0) else Gen.choose(0, 3)
        kids <- Gen.listOfN(nKids, gen(depth + 1))
      } yield (frame("0xa", "0xb", depth, kids.map(_._1)), 1 + kids.map(_._2).sum)
    gen(0)
  }

  test("flatten property: row count == node count, paths unique, root empty") {
    for (i <- 0 until 50) {
      val (json, n) = genTree(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"gen failed at seed $i"))
      val flat = Flatten.flattenJson(json)
      assert(flat.size == n, s"seed $i")
      assert(flat.map(_.trace_address).distinct.size == n, s"seed $i")
      assert(flat.head.trace_address.isEmpty, s"seed $i")
      // subtraces consistency: sum of direct children == n - 1
      assert(flat.map(_.subtraces).sum == n - 1, s"seed $i")
    }
  }

  test("F2 fan-out: 1-based transaction_index quirk") {
    import spark.implicits._
    val df = Seq(
      (100L, Seq("0xt1", "0xt2"), Seq(frame("0xa", "0xb", 1), frame("0xc", "0xd", 2))),
    ).toDF("block_number", "hashes", "frames")
    val out = Flatten.fanOutBlock(df, "block_number", "hashes", "frames")
      .select("transaction_index", "transaction_hash", "to_address").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2)) // 1-based (ws/mod.rs:95)
    assert(out.map(_.getString(1)).toSeq == Seq("0xt1", "0xt2"))
  }
}

class IngestSpec extends SparkSpec {

  test("chain config wire format round-trip (reference config/chain.rs:35-61)") {
    val cfg = ChainConfig.parse(
      """[{"Kafka":[1,"t-topic","b-topic"]},
        |{"Provider":[10,"http://rpc","ws://ws",true,false]}]""".stripMargin)
    assert(cfg == Seq(
      KafkaChain(1, "t-topic", "b-topic"),
      ProviderChain(10, "http://rpc", "ws://ws", indexBlock = true, indexTx = false)))
  }

  test("kafka options mirror reference consumer config") {
    val opts = Ingest.kafkaOptions("broker:9092", "traces", Some("u"), Some("p"))
    assert(opts("startingOffsets") == "earliest")
    assert(opts("kafka.sasl.mechanism") == "SCRAM-SHA-256")
    assert(opts("kafka.session.timeout.ms") == "60000")
    assert(!Ingest.kafkaOptions("b", "t").contains("kafka.sasl.mechanism"))
  }

  test("P1 decode: good rows typed, corrupt rows quarantined") {
    import spark.implicits._
    val good = """{"transaction_hash":"0xh","block_number":7,"subtraces":0,
      |"trace_address":[],"from_address":"0xA","to_address":"0xB",
      |"value":"123456789012345678901234567890","gas_used":42}""".stripMargin.replace("\n", "")
    val raw = Seq(good, """{"broken""").toDF("value")
    val (ok, corrupt) = Ingest.decodeTraces(raw, chainId = 5)
    assert(corrupt.count() == 1)
    val row = ok.collect().head
    assert(row.getAs[Long]("chain_id") == 5L)
    assert(row.getAs[Long]("block_number") == 7L)
    // U256 round-trips losslessly as string
    assert(row.getAs[String]("value") == "123456789012345678901234567890")
  }

  test("P5 block normalizer: pending dropped, defaults applied") {
    import spark.implicits._
    val rows = Seq(
      """{"number":1,"timestamp":10,"hash":"0xh","parent_hash":"0xp"}""",
      """{"timestamp":10,"hash":"0xpending"}""", // no number -> dropped
    ).toDF("value")
    val out = Ingest.decodeBlocks(rows, 1)
    assert(out.count() == 1)
    val r = out.collect().head
    assert(r.getAs[Int]("transaction_count") == 0)
    assert(r.getAs[String]("miner") == Addresses.Zero)
  }
}

class StreamingSpec extends SparkSpec {

  test("stateful sessionizer: event-time commit, out-of-order safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TraceRow]
    val commits = StreamingEtl.sessionCommit(mem.toDS(),
      gapSeconds = 5L, watermarkDelay = "0 seconds")
    val query = commits.writeStream
      .format("memory").queryName("commits_out").outputMode("append")
      .start()
    try {
      def tr(hash: String, from: String, to: String, root: Boolean,
          ta: Seq[Int], ts: Long): TraceRow =
        TraceRow(1L, hash, Some(0), Some(from), Some(to), None, Some("0x1234567890"),
          None, Some(10L), root, Some(1L), Some(ts), Some("0xb"), None)
      val rec = Addresses.EcRecover
      // out-of-order: child arrives before root, across two batches
      mem.addData(tr("0xs1", "0xb", rec, root = false, Seq(1), ts = 1000L))
      query.processAllAvailable()
      mem.addData(tr("0xs1", "0xa", "0xb", root = true, Seq.empty, ts = 1001L))
      query.processAllAvailable()
      assert(spark.table("commits_out").count() == 0) // not yet timed out
      // a later event advances the watermark past 1001 + 5s gap
      mem.addData(tr("0xother", "0xa", "0xb", root = true, Seq.empty, ts = 2000L))
      query.processAllAvailable()
      mem.addData(tr("0xtick", "0xa", "0xb", root = true, Seq.empty, ts = 2001L))
      query.processAllAvailable()
      val out = spark.sql("SELECT transaction.* FROM commits_out WHERE transaction IS NOT NULL").collect()
      assert(out.length == 1, s"expected 1 committed tx, got ${out.length}")
      val t = out.head
      assert(t.getAs[String]("transaction_hash") == "0xs1")
      // full tree was assembled across batches despite child-before-root
      assert(t.getAs[Long]("ec_recover_count") == 1L)
      assert(t.getAs[String]("from_address") == "0xa")
    } finally query.stop()
  }

  /** RocksDB state with changelog checkpointing, as the catalog's
    * streaming entries and perfbench's session path run `sessionCommit`. */
  private def onRocksDb(body: => Unit): Unit = {
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def tr(hash: String, from: String, to: String, root: Boolean, ts: Long) =
    TraceRow(1L, hash, Some(0), Some(from), Some(to), None, Some("0x1234567890"),
      None, Some(10L), root, Some(1L), Some(ts), Some("0xb"), None)

  test("sessionCommit: state and timers survive a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    onRocksDb {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_session_ckpt").toString
      val got = new java.util.concurrent.ConcurrentLinkedQueue[TxCommit]()
      val mem = MemoryStream[TraceRow]
      def startQuery() =
        StreamingEtl.sessionCommit(mem.toDS(), gapSeconds = 1L, watermarkDelay = "0 seconds")
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[TxCommit], _: Long) =>
            batch.collect().foreach(got.add)
          }.start()

      // run 1: open a tx (root + recover call), stop BEFORE its timeout fires
      val q1 = startQuery()
      mem.addData(
        tr("0xr1", "0xa", "0xb", root = true, 1000L),
        tr("0xr1", "0xa", Addresses.EcRecover, root = false, 1000L))
      q1.processAllAvailable()
      q1.stop()
      assert(got.isEmpty, "tx committed before its gap elapsed")

      // run 2: restart on the same checkpoint; the RocksDB state and
      // the group's timeout must be restored, so a watermark-advancing
      // event commits the pre-restart transaction with its full tree
      val q2 = startQuery()
      mem.addData(tr("0xtick", "0xa", "0xb", root = true, 50000L))
      q2.processAllAvailable()
      mem.addData() // timeout delivery batch
      q2.processAllAvailable()
      q2.stop()
      val committed = got.toArray(Array.empty[TxCommit])
        .flatMap(_.transaction).filter(_.transaction_hash == "0xr1")
      assert(committed.length == 1, s"expected 1 commit of 0xr1, got ${committed.length}")
      assert(committed.head.ec_recover_count == 1L,
        "pre-restart traces missing from restored state")
    }
  }

  test("sessionCommit: out-of-order assembly, timer re-arm, late traces dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    onRocksDb {
      val mem = MemoryStream[TraceRow]
      val q = StreamingEtl.sessionCommit(mem.toDS(), gapSeconds = 5L, watermarkDelay = "0 seconds")
        .writeStream.format("memory")
        .queryName("session_ooo").outputMode("append").start()
      try {
        val rec = Addresses.EcRecover
        // child before root, across micro-batches; each arrival re-arms
        // the tx's timeout to last-event + gap
        mem.addData(tr("0xs1", "0xb", rec, root = false, ts = 1000L))
        q.processAllAvailable()
        mem.addData(tr("0xs1", "0xa", "0xb", root = true, ts = 1001L))
        q.processAllAvailable()
        assert(spark.table("session_ooo").count() == 0) // timeout not expired yet
        // advance the watermark past 1001 + 5 s: the timeout fires
        mem.addData(tr("0xtick1", "0xa", "0xb", root = true, ts = 2000L))
        q.processAllAvailable()
        mem.addData(tr("0xtick2", "0xa", "0xb", root = true, ts = 2001L))
        q.processAllAvailable()
        val out = spark.sql(
          "SELECT transaction.* FROM session_ooo WHERE transaction IS NOT NULL").collect()
        assert(out.length == 1 && out.head.getAs[String]("transaction_hash") == "0xs1")
        assert(out.head.getAs[Long]("ec_recover_count") == 1L)
        // a late trace for the committed tx (event time far behind the
        // watermark) must NOT resurrect it or corrupt a neighbor
        mem.addData(tr("0xs1", "0xz", rec, root = false, ts = 1002L))
        q.processAllAvailable()
        mem.addData(tr("0xtick3", "0xa", "0xb", root = true, ts = 3000L))
        q.processAllAvailable()
        val again = spark.sql(
          "SELECT transaction.* FROM session_ooo WHERE transaction IS NOT NULL " +
            "AND transaction.transaction_hash = '0xs1'").count()
        assert(again == 1, s"late trace resurrected the committed tx ($again rows)")
      } finally q.stop()
    }
  }

  test("D3 with TTL: watermark-bounded streaming dedup state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Seq[String], java.sql.Timestamp)]
    val contracts = mem.toDF()
      .toDF("chain_id", "address", "function_signatures", "event_time")
    val out = StreamingEtl.dedupContractsWithinWatermark(contracts, "event_time", "10 seconds")
    val q = out.writeStream.format("memory").queryName("d3_ttl_out")
      .outputMode("append").start()
    try {
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
      mem.addData((1L, "0xa", Seq("0x1"), ts(100)), (1L, "0xa", Seq("0x1"), ts(101)))
      q.processAllAvailable()
      // duplicate within the watermark window -> suppressed
      mem.addData((1L, "0xa", Seq("0x1"), ts(102)))
      q.processAllAvailable()
      assert(spark.table("d3_ttl_out").count() == 1)
      // advance event time far past the watermark; the key re-emits
      // (state expired -> sink-side ON CONFLICT absorbs it)
      mem.addData((1L, "0xz", Seq("0x9"), ts(500)))
      q.processAllAvailable()
      mem.addData((1L, "0xa", Seq("0x1"), ts(501)))
      q.processAllAvailable()
      assert(spark.table("d3_ttl_out")
        .filter(org.apache.spark.sql.functions.col("address") === "0xa").count() == 2)
    } finally q.stop()
  }

  test("D3 cross-batch contract dedup") {
    import spark.implicits._
    val contracts = Seq(
      (1L, "0xa", Seq("0x1"), 0), (1L, "0xa", Seq("0x1"), 0), // dup
      (1L, "0xa", Seq("0x2"), 0), // different sigs -> distinct
    ).toDF("chain_id", "address", "function_signatures", "degree")
    assert(StreamingEtl.dedupContracts(contracts).count() == 2)
  }
}

class SinkSpec extends SparkSpec {

  test("derby MERGE upsert: idempotent re-delivery, overwrite policy") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE txs ("chain_id" BIGINT, "hash" VARCHAR(100), "gas" BIGINT, PRIMARY KEY ("chain_id", "hash"))""")
    conn.close()

    val spec = UpsertSpec("txs", Seq("chain_id", "hash", "gas"),
      Seq("chain_id", "hash"), DoNothing)
    val batch = Seq((1L, "0xa", 10L), (1L, "0xb", 20L)).toDF("chain_id", "hash", "gas")
    // upsert returns the rows it bound, summed over partitions
    assert(JdbcUpsert.upsert(batch, url, spec, "derby", batchSize = 1) == 2L)
    // re-deliver the same batch (at-least-once) -> no dup, no error;
    // the conflicting rows are still bound
    assert(JdbcUpsert.upsert(batch, url, spec, "derby") == 2L)
    assert(JdbcUpsert.upsert(batch.limit(0), url, spec, "derby") == 0L)
    val c1 = java.sql.DriverManager.getConnection(url)
    val rs = c1.createStatement().executeQuery("""SELECT count(*), sum("gas") FROM txs""")
    rs.next()
    assert(rs.getInt(1) == 2 && rs.getLong(2) == 30L)

    // overwrite policy updates in place (blocks table semantics)
    val spec2 = spec.copy(policy = Overwrite)
    assert(JdbcUpsert.upsert(Seq((1L, "0xa", 99L)).toDF("chain_id", "hash", "gas"),
      url, spec2, "derby") == 1L)
    val rs2 = c1.createStatement().executeQuery("""SELECT "gas" FROM txs WHERE "hash" = '0xa'""")
    rs2.next()
    assert(rs2.getLong(1) == 99L)
    c1.close()
  }

  test("upsertTagged: one transaction per partition across tables; a failed " +
      "partition leaves none of its rows, re-delivery lands each row once") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val url = "jdbc:derby:memory:atomicdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE atx ("chain_id" BIGINT, "hash" VARCHAR(100), PRIMARY KEY ("chain_id", "hash"))""")
    conn.createStatement().execute(
      """CREATE TABLE aco ("chain_id" BIGINT, "address" VARCHAR(100), "degree" BIGINT, """ +
        """PRIMARY KEY ("chain_id", "address"), CONSTRAINT degree_ok CHECK ("degree" < 99))""")
    conn.close()
    val specs = Seq(
      UpsertSpec("atx", Seq("chain_id", "hash"), Seq("chain_id", "hash"), DoNothing),
      UpsertSpec("aco", Seq("chain_id", "address", "degree"), Seq("chain_id", "address"), DoNothing))
    val schema = new StructType().add("table", IntegerType)
      .add("atx", new StructType().add("chain_id", LongType).add("hash", StringType))
      .add("aco", new StructType().add("chain_id", LongType).add("address", StringType)
        .add("degree", LongType))
    def txRow(h: String) = Row(0, Row(1L, h), null)
    def coRow(a: String, degree: Long) = Row(1, null, Row(1L, a, degree))
    // one partition each; the second's last contract breaks the CHECK
    // after its transactions and first contract were executed
    val parts = Seq(
      Seq(txRow("0xa"), coRow("0xca", 1L)),
      Seq(txRow("0xb"), txRow("0xc"), coRow("0xcb", 1L), coRow("0xcc", 99L)))
    val tagged = spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.size).flatMap(identity), schema)
    assert(tagged.rdd.getNumPartitions == 2)
    val failed = intercept[Exception](JdbcUpsert.upsertTagged(tagged, url, specs, "derby", batchSize = 1))
    assert(failed.getMessage.contains("DEGREE_OK"), failed.getMessage)
    def rows(table: String, column: String) = SinkFixtures.column(url, table, column).sorted
    // the failed partition rolled back its transactions with its contracts
    assert(rows("atx", "hash").intersect(Seq("0xb", "0xc")).isEmpty)
    assert(!rows("aco", "address").contains("0xcb"))

    // re-deliver into a table that accepts the row
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute("ALTER TABLE aco DROP CONSTRAINT degree_ok") finally c.close()
    assert(JdbcUpsert.upsertTagged(tagged, url, specs, "derby") == 6L)
    assert(rows("atx", "hash") == Seq("0xa", "0xb", "0xc"))
    assert(rows("aco", "address") == Seq("0xca", "0xcb", "0xcc"))
  }

  test("postgres dialect SQL shape") {
    val spec = UpsertSpec("contracts", Seq("chain_id", "address", "sigs"),
      Seq("chain_id", "address"), DoNothing)
    val st = JdbcUpsert.upsertStatement(spec, "postgres")
    assert(st.sql == """INSERT INTO contracts ("chain_id", "address", "sigs") VALUES (?, ?, ?) """ +
      """ON CONFLICT ("chain_id", "address") DO NOTHING""")
    assert(st.paramCols == Seq("chain_id", "address", "sigs"))
    val st2 = JdbcUpsert.upsertStatement(spec.copy(policy = Overwrite), "postgres")
    assert(st2.sql.contains("""DO UPDATE SET "sigs" = EXCLUDED."sigs""""))
  }
}

class ObsSpec extends SparkSpec {

  test("stats registry + health endpoint serve gauges and counters") {
    val stats = new graft.obs.StatsRegistry
    stats.setGauge("latest_block_1", 100L)
    stats.setGauge("latest_block_1", 120L) // last-write-wins (O1)
    stats.add("results_1", 5L)
    stats.add("results_1", 7L)
    val server = new graft.obs.HealthServer(stats)
    val port = server.start()
    try {
      val body = scala.io.Source.fromURL(s"http://localhost:$port/health").mkString
      assert(body.contains("\"latest_block_1\":120"))
      assert(body.contains("\"results_1\":12"))
    } finally server.stop()
  }
}

class TablesSpec extends SparkSpec {
  import graft.sinks.{JdbcUpsert, Tables}

  test("per-table conflict policies match the reference exactly") {
    val tx = JdbcUpsert.upsertStatement(Tables.transactions, "postgres").sql
    assert(tx.contains("""ON CONFLICT ("chain_id", "transaction_hash") DO NOTHING"""))
    val co = JdbcUpsert.upsertStatement(Tables.contracts, "postgres").sql
    assert(co.contains("""ON CONFLICT ("chain_id", "address", "function_signatures") DO NOTHING"""))
    val bl = JdbcUpsert.upsertStatement(Tables.blocks, "postgres").sql
    assert(bl.contains("""ON CONFLICT ("chain_id", "number") DO UPDATE SET"""))
    assert(bl.contains(""""hash" = EXCLUDED."hash"""")) // full overwrite
    assert(!bl.contains(""""number" = EXCLUDED."number"""")) // keys not overwritten
  }

  test("checksummed rendering on scalar and array address columns") {
    import spark.implicits._
    val df = Seq(("0x5aaeb6053f3e94c9b9a09f33669435e7ef1beaed",
      Seq("0xfb6916095ca1df60bb79ce92ce3ea74c37c5d359"))).toDF("addr", "addrs")
    val out = Tables.renderChecksummed(df, Seq("addr"), Seq("addrs")).collect().head
    assert(out.getString(0) == "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed")
    assert(out.getSeq[String](1) == Seq("0xfB6916095ca1df60bB79Ce92cE3Ea74c37c5d359"))
  }
}

class DebugSinkSpec extends SparkSpec {
  test("debug sink counts batches into the registry") {
    import spark.implicits._
    val stats = new graft.obs.StatsRegistry
    val sink = graft.sinks.DebugSink(stats, chainId = 9, logEvery = 3)(_, _)
    sink(Seq(1, 2).toDF("v"), 0L)
    sink(Seq(3, 4).toDF("v"), 1L)
    assert(stats.snapshot("results_9") == 4L)
  }
}

class SketchSpec extends SparkSpec {
  test("approx_count_distinct within configured error of exact") {
    val q = Queries.all("q_o_approx_distinct")(spark, "/root/testdata/sf0.01")
    val exact = {
      import org.apache.spark.sql.functions._
      spark.read.option("mergeSchema", "false").parquet("/root/testdata/sf0.01/events.parquet")
        .groupBy("event_type").agg(countDistinct(col("user_id")).as("exact"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    q.collect().foreach { r =>
      val (et, approx) = (r.getString(0), r.getLong(1))
      val e = exact(et)
      assert(math.abs(approx - e).toDouble / e <= 0.1, s"$et: approx=$approx exact=$e")
    }
  }
}

class FlattenCallsSqlSpec extends SparkSpec {
  test("flatten_calls generator: LATERAL VIEW over a frame tree") {
    import spark.implicits._
    val json =
      """{"from":"0xa","to":"0xb","gasUsed":"0x5","type":"CALL",
        |"calls":[{"from":"0xb","to":"0xc","gasUsed":"0x3","type":"DELEGATECALL"}]}"""
        .stripMargin.replace("\n", "")
    Seq((1L, json)).toDF("id", "frame").createOrReplaceTempView("frames")
    val rows = spark.sql(
      """SELECT id, f.to_address, f.gas_used, f.call_type, f.subtraces, f.trace_address
        |FROM frames LATERAL VIEW flatten_calls(frame) f""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toSeq == Seq("0xb", "0xc"))
    assert(rows.map(_.getLong(2)).toSeq == Seq(5L, 3L))
    assert(rows.head.getString(3) == "call" && rows(1).getString(3) == "delegatecall")
    assert(rows.head.getInt(4) == 1)
    assert(rows(1).getSeq[Int](5) == Seq(0))
    // Column-API form
    val viaCol = Seq(json).toDF("frame")
      .select(graft.functions.FlattenCalls.flatten_calls(org.apache.spark.sql.functions.col("frame")))
    assert(viaCol.count() == 2)
  }
}
