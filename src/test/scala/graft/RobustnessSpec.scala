package graft

import graft.llm.SimilarityOps
import graft.model._
import graft.operators.{TraceEtl, TraceTreeAggregator}
import graft.sinks.{DoNothing, JdbcUpsert, UpsertSpec}
import graft.streaming.StreamingEtl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Arbitrary}
import org.scalacheck.rng.Seed

class RobustnessSpec extends SparkSpec {

  private val addrs = Vector("0xa", "0xb", "0xc", Addresses.EcRecover,
    Addresses.EcPairing, Addresses.EcAdd, null)

  private val genTrace: Gen[TraceRow] = for {
    hash <- Gen.oneOf("0xh1", "0xh2", "0xh3")
    from <- Gen.oneOf(addrs)
    to <- Gen.oneOf(addrs)
    gas <- Gen.option(Gen.choose(0L, 100L))
    input <- Gen.option(Gen.oneOf("0x61626364", "0x1234567890", "0x" + "ab" * 40))
    output <- Gen.option(Gen.oneOf("0xab", "0x" + "00" * 31 + "ff"))
    isRoot <- Gen.oneOf(true, false)
    idx <- Gen.option(Gen.choose(0, 5))
  } yield TraceRow(1L, hash, idx, Option(from), Option(to), Some("1"),
    input, output, gas, isRoot, Some(1L), Some(100L), Some("0xb"), None)

  private def genTraces(seed: Int, n: Int): Seq[TraceRow] =
    Gen.listOfN(n, genTrace)(Gen.Parameters.default, Seed(seed.toLong))
      .getOrElse(fail(s"gen failed at $seed"))

  /** The [[AggRow]]s `TraceEtl.prepare` makes of each seed's traces, in
    * one collect, paired with the traces they came from (a projection
    * over a local relation keeps row order).
    */
  private def prepared(bySeed: Seq[Seq[TraceRow]]): Seq[Seq[(TraceRow, AggRow)]] = {
    import spark.implicits._
    val rows = TraceEtl.prepare(bySeed.flatten.toDS()).collect().iterator
    val paired = bySeed.map(_.map(t => t -> rows.next()))
    assert(!rows.hasNext)
    paired.flatten.foreach { case (t, r) =>
      assert((r.transaction_hash, r.from_address, r.to_address) ==
        ((t.transaction_hash, t.from_address, t.to_address)), "prepare reordered rows")
    }
    paired
  }

  test("property: merge is split-invariant (partial aggregation exactness)") {
    val agg = new TraceTreeAggregator
    val seeds = 0 until 40
    val bySeed = prepared(seeds.map(genTraces(_, 20).filter(_.transaction_hash == "0xh1")))
    for ((seed, pairs) <- seeds.zip(bySeed)) {
      val rows = pairs.map(_._2)
      val whole = rows.foldLeft(agg.zero)(agg.reduce)
      for (splitAt <- Seq(1, rows.length / 2, math.max(rows.length - 1, 1))) {
        val (a, b) = rows.splitAt(splitAt)
        val merged = agg.merge(
          a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce))
        val (cw, cm) = (agg.finish(whole), agg.finish(merged))
        // commit output must be identical regardless of partitioning
        // (sigTree seq ordering differs; finish sorts all arrays)
        assert(cw == cm, s"seed=$seed splitAt=$splitAt")
      }
    }
  }

  test("property: commit invariants on random trees") {
    val agg = new TraceTreeAggregator
    val seeds = 100 until 140
    val bySeed = prepared(seeds.map(genTraces(_, 25)))
    for ((seed, pairs) <- seeds.zip(bySeed)) {
      for ((hash, txPairs) <- pairs.groupBy(_._1.transaction_hash)) {
        val txTraces = txPairs.map(_._1)
        val buf = txPairs.map(_._2).foldLeft(agg.zero)(agg.reduce)
        val c = TraceTreeAggregator.commit(buf, 1L, hash)
        val touchesFilter = txTraces.exists(t =>
          t.from_address.isDefined && t.to_address.exists(Addresses.FirstDegreeFilter.contains))
        val rootOk = txTraces.exists(t => t.is_root) && {
          val root = txTraces.find(_.is_root).get
          root.transaction_index.isDefined && root.from_address.isDefined &&
            root.to_address.isDefined
        }
        if (!touchesFilter) {
          // J1: no filter-precompile call -> nothing emitted at all
          assert(c.transaction.isEmpty && c.contracts.isEmpty, s"seed=$seed $hash")
        }
        for (tx <- c.transaction) {
          assert(touchesFilter)
          // contracts' addresses are callers seen in the tx
          val edgeAddrs = txTraces.flatMap(t => t.from_address ++ t.to_address).toSet
          assert(c.contracts.forall(co => edgeAddrs.contains(co.address)))
          // per-degree gas cannot exceed total edge gas
          val totalGas = txTraces.collect {
            case t if t.from_address.isDefined && t.to_address.isDefined => t.gas_used.getOrElse(0L)
          }.sum
          assert(tx.gas_used_first_degree <= totalGas && tx.gas_used_second_degree <= totalGas)
          // closest addresses are contract addresses
          assert(tx.closest_address.toSet.subsetOf(c.contracts.map(_.address).toSet))
        }
      }
    }
  }

  test("end-to-end streaming: MemoryStream -> microBatchCommit -> idempotent sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:mbdb;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().execute(
      """CREATE TABLE txs_out ("chain_id" BIGINT, "hash" VARCHAR(100), "rec" BIGINT, PRIMARY KEY ("chain_id", "hash"))""")
    c0.close()
    val spec = UpsertSpec("txs_out", Seq("chain_id", "hash", "rec"),
      Seq("chain_id", "hash"), DoNothing)

    val mem = MemoryStream[SinkFixtures.Call]
    val raw = SinkFixtures.decoded(mem.toDF())
    val q = StreamingEtl.microBatchCommit(raw, (txs, contracts, _) => {
      val rows = txs.toDF().select(col("chain_id"), col("transaction_hash").as("hash"),
        col("ec_recover_count").as("rec"))
      JdbcUpsert.upsert(rows, url, spec, "derby")
      StreamingEtl.dedupContracts(contracts.toDF()) // exercised for plan validity
    }).start()
    try {
      mem.addData((1L, "0xm1", "0xa", "0xb", "0x1234567890", Seq.empty[Int], 5L))
      mem.addData((1L, "0xm1", "0xb", Addresses.EcRecover, "0xdeadbeef01", Seq(0), 5L))
      q.processAllAvailable()
      // redeliver the same rows (at-least-once) in a later batch
      mem.addData((1L, "0xm1", "0xa", "0xb", "0x1234567890", Seq.empty[Int], 5L))
      mem.addData((1L, "0xm1", "0xb", Addresses.EcRecover, "0xdeadbeef01", Seq(0), 5L))
      q.processAllAvailable()
      val c1 = java.sql.DriverManager.getConnection(url)
      val rs = c1.createStatement().executeQuery("""SELECT count(*), max("rec") FROM txs_out""")
      rs.next()
      assert(rs.getInt(1) == 1 && rs.getLong(2) == 1L)
      c1.close()
    } finally q.stop()
  }

  test("microBatchCommit -> App.sinkCommits scans each micro-batch once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import SinkFixtures.{tx, zkCallee, plainCallee}
    val url = SinkFixtures.derbySink("scanamp")
    val sinks = App.Sinks(Some(url), dialect = "derby")
    val zk = Seq("0xz1", "0xz2", "0xz3")
    val staged = zk.zipWithIndex.flatMap { case (h, i) => tx(h, zkCallee, 10L + i) } ++
      Seq("0xp1", "0xp2", "0xp3").flatMap(tx(_, plainCallee, 20L))
    val mem = MemoryStream[SinkFixtures.Call]
    // what `/health` reports for the query, as App wires it
    val health = new graft.obs.StatsRegistry
    val listener = new graft.obs.GraftQueryListener(health)
    spark.streams.addListener(listener)
    val q = StreamingEtl.microBatchCommit(SinkFixtures.decoded(mem.toDF()),
        (txs, contracts, _) => App.sinkCommits(txs.toDF(), contracts.toDF(), sinks, 1L))
      .queryName("scanonce").start()
    try {
      mem.addData(staged)
      q.processAllAvailable()
    } finally {
      q.stop()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    // nothing is persisted, so any read past the first is the prune
    // reading the batch again, the one sink action failing to share the
    // commit's exchanges between its two tables' branches, or a second
    // action re-running the commit
    val scanned = q.recentProgress.map(_.numInputRows).sum
    assert(scanned == staged.size, s"scanned $scanned rows for ${staged.size} staged")
    assert(health.snapshot.get("rows_total_scanonce").contains(staged.size.toLong),
      s"health reports ${health.snapshot.get("rows_total_scanonce")} rows " +
        s"for ${staged.size} delivered")
    assert(SinkFixtures.column(url, "transactions", "transaction_hash").sorted == zk)
    assert(SinkFixtures.column(url, "contracts", "address").nonEmpty)
    assert(sinks.stats.snapshot("results_1") == SinkFixtures.sunkRows(url))
    assert(sinks.stats.snapshot("latest_transaction_block_1") == 12L)
  }

  test("IVF ANN: recall comparable to LSH path, candidates bounded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = SimilarityOps.bruteForceTopK(emb, queries, "vec_id", "embedding", 5,
        SimilarityOps.cosine)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilarityOps.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(approx.contains).toDouble / truth.size
    assert(recall >= 0.4, s"IVF recall@5 = $recall")
    info(s"IVF ANN recall@5 = $recall (nprobe 8/16 cells)")
  }

  test("Staging (r18): a crash inside withMarkerDropped leaves a torn " +
      "marker-less dir that stageOnce REPAIRS (delete + rebuild) " +
      "instead of wedging forever (r17 ADVICE)") {
    val St = graft.sources.Staging
    val root = St.sessionTempDir("graft_torn")
    val path = s"$root/artifact"
    def build(content: String): Unit = St.stageOnce(path) { tmp =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "data"), content)
      St.touchMarker(tmp)
    }
    build("v1")
    assert(St.hasMarker(path))
    // a successful in-place mutation round-trips the marker
    St.withMarkerDropped(path) {
      assert(!St.hasMarker(path), "marker must be dropped inside the window")
    }
    assert(St.hasMarker(path))
    // crash mid-mutation: the marker stays dropped
    intercept[RuntimeException] {
      St.withMarkerDropped(path) { throw new RuntimeException("boom") }
    }
    assert(!St.hasMarker(path), "a torn mutation must read as incomplete")
    // the old behavior: rename onto the existing dir fails, the catch
    // saw no marker and rethrew — every later call wedged. Now
    // stageOnce deletes the torn dir and rebuilds.
    build("v2")
    assert(St.hasMarker(path), "stageOnce must repair the torn dir")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "data")) == "v2")
  }

  test("Staging.staged publishes <name>_<tableKey>, marks a writer that " +
      "leaves no _SUCCESS, and never runs the writer again") {
    val St = graft.sources.Staging
    val sf = St.sessionTempDir("graft_staged_sf")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sf, "t.parquet"), "x")
    val expected = s"${System.getProperty("java.io.tmpdir")}/graft_staged_spec_" +
      graft.sources.SyntheticTraces.tableKey(sf, Seq("t"))
    try {
      val path = St.staged("graft_staged_spec", sf, Seq("t")) { tmp =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "data"), "v1")
      }
      assert(path == expected)
      assert(St.hasMarker(path), "staged must mark a marker-less writer's output")
      assert(St.staged("graft_staged_spec", sf, Seq("t"))(
        _ => fail("a published dir must never be rebuilt")) == expected)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(path, "data")) == "v1")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(expected))
  }
}
