package graft

import graft.operators.Scale
import java.nio.file.Files
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {

  test("salted aggregation: identical results to direct groupBy under skew") {
    import spark.implicits._
    // one hot key with 50k rows, many cold keys
    val hot = (1 to 50000).map(i => ("hot", i.toLong))
    val cold = (1 to 1000).map(i => (s"k$i", i.toLong))
    val df = (hot ++ cold).toDF("key", "v")
    val direct = df.groupBy("key").agg(sum("v").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedSum(df, Seq("key"), "v", "total")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
    // phase-1 really spreads the hot key over many salt groups
    assert(salted("hot") == 50000L * 50001L / 2)
  }

  test("salted join: identical results to plain equi-join under skew") {
    import spark.implicits._
    // 20k big-side rows on ONE hot key + a cold tail; small side 100 keys
    val big = ((1 to 20000).map(i => (1L, i.toLong)) ++
      (2 to 2000).map(i => (2L + i % 98, i.toLong))).toDF("k", "v")
    val small = (0 to 99).map(i => (i.toLong, s"dim$i")).toDF("dk", "name")
    val plain = big.join(small, big("k") === small("dk"))
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    val salted = Scale.saltedJoin(big, small, "k", "dk", salts = 8)
      .select("k", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 20000 + 1999) // hot rows matched exactly once
  }

  test("skew-gated join: the gate flips on the measured hot-key share; " +
      "BOTH branches are hash-identical to the plain join") {
    import spark.implicits._
    val small = (0 to 99).map(i => (i.toLong, s"dim$i")).toDF("dk", "name")
    // uniform: 100 keys × 60 rows — hottest share 1% << 20%
    val uniform = (1 to 6000).map(i => ((i % 100).toLong, i.toLong))
      .toDF("k", "v")
    // planted: 90% of rows on key 1
    val hot = ((1 to 5400).map(i => (1L, i.toLong)) ++
      (1 to 600).map(i => (2L + i % 98, i.toLong))).toDF("k", "v")
    // the measured gate decides exactly as hotKeyShare reads
    val (uMx, uN) = Scale.hotKeyShare(uniform, "k")
    val (hMx, hN) = Scale.hotKeyShare(hot, "k")
    assert(uMx * 5 < uN, s"uniform corpus must gate to plain ($uMx/$uN)")
    assert(hMx * 5 >= hN, s"planted corpus must gate to salted ($hMx/$hN)")
    for ((df, name) <- Seq(uniform -> "uniform", hot -> "hot")) {
      val plain = df.join(small, df("k") === small("dk"))
        .select("k", "v", "name").collect().map(_.toSeq).toSet
      val gated = Scale.skewGatedJoin(df, small, "k", "dk", salts = 8)
        .select("k", "v", "name").collect().map(_.toSeq).toSet
      assert(gated == plain, s"$name: gated result != plain join")
      assert(gated.nonEmpty)
    }
    // and the plan really flips: the salted branch replicates the
    // small side (explode over the salt sequence), the plain one
    // doesn't
    def planOf(df: org.apache.spark.sql.DataFrame) =
      Scale.skewGatedJoin(df, small, "k", "dk", salts = 8)
        .queryExecution.executedPlan.toString
    assert(!planOf(uniform).contains("_salt"),
      "uniform corpus must take the plain branch")
    assert(planOf(hot).contains("_salt"),
      "planted skew must take the salted branch")
    // NULL keys never reach the join shuffle (Catalyst null-filters
    // inner-join keys), so a null-heavy big side must NOT trip the
    // gate: 40% nulls + uniform non-null keys -> plain branch
    val nullHeavy = ((1 to 2400).map(i => (Some((i % 100).toLong), i.toLong))
      ++ (1 to 1600).map(i => (Option.empty[Long], i.toLong)))
      .toDF("k", "v")
    val (nMx, nN) = Scale.hotKeyShare(nullHeavy, "k")
    assert(nN == 2400L && nMx == 24L,
      s"null keys must be excluded from the probe ($nMx/$nN)")
    assert(!planOf(nullHeavy).contains("_salt"),
      "null-heavy but otherwise uniform corpus must take the plain branch")
  }

  test("planted duplicate-row hot key: salts actually spread identical rows") {
    import spark.implicits._
    // 10k BYTE-IDENTICAL rows on one hot key — the degenerate case a
    // content-derived salt silently fails on (identical rows hash to
    // one salt, one reducer). The round-robin ordinal salt must use
    // every salt value, and the join must still multiply correctly.
    val salts = 16
    val dup = Seq.fill(10000)((1L, "same-payload")).toDF("k", "payload")
    val distinctSalts = dup.withColumn("_salt", Scale.rowSalt(salts))
      .select("_salt").distinct().count()
    assert(distinctSalts >= salts / 2,
      s"identical rows landed on only $distinctSalts/$salts salts")
    // end-to-end: duplicates preserved as a multiset, every row
    // matched exactly once
    val small = Seq((1L, "dim")).toDF("dk", "name")
    val joined = Scale.saltedJoin(dup, small, "k", "dk", salts = salts)
    assert(joined.count() == 10000)
    assert(joined.select("k", "payload", "name").distinct().count() == 1)
    // salted sum over identical rows stays exact
    val total = Scale.saltedSum(dup.withColumn("v", lit(3L)),
        Seq("k"), "v", "total", salts = salts)
      .collect().head.getLong(1)
    assert(total == 30000L)
  }

  test("skewed monster transaction: 100k traces, 20k distinct addresses, one tx") {
    import graft.model._
    import graft.operators.TraceEtl
    import spark.implicits._
    val rec = Addresses.EcRecover
    // one transaction holding 100k traces across 20k distinct callers —
    // the irreducible-skew worst case for the per-tx buffer (a hot
    // groupBy key cannot be salted; the buffer must absorb it)
    val monster = spark.range(100000).map { i =>
      val caller = f"0xc${i % 20000}%039x"
      TraceRow(1L, "0xmonster", Some(1), Some(caller),
        Some(if (i % 5 == 0) rec else f"0xd${i % 1000}%039x"),
        None, Some("0x1234567890ab"), Some(f"0x${i}%064x"), Some(21L),
        is_root = false, Some(1L), Some(1700000000L), Some("0xb"), None)
    }
    val root = Seq(TraceRow(1L, "0xmonster", Some(1), Some("0xeoa"), Some("0xentry"),
      Some("5"), Some("0x1234567890"), None, Some(900000L),
      is_root = true, Some(1L), Some(1700000000L), Some("0xb"), None)).toDS()
    val traces = monster.unionByName(root).repartition(16) // spread across tasks
    val (txs, contracts) = TraceEtl.split(TraceEtl.commitTraces(traces))
    val tx = txs.collect()
    assert(tx.length == 1)
    assert(tx.head.ec_recover_count == 20000L)
    // first-degree callers: the 20k÷5-stride callers that hit 0x..01
    val c = contracts.collect()
    assert(c.count(_.degree == 0) == 4000, s"got ${c.count(_.degree == 0)}")
    // per-degree gas adds up over the full caller set
    assert(tx.head.gas_used_first_degree > 0)
  }

  test("pruneNonZk == in-Scala ZK key filter; split txs kept whole") {
    import graft.model._
    import graft.operators.TraceEtl
    import spark.implicits._
    val traces = TraceEtl.normalize(
      graft.sources.SyntheticTraces.fromTpch(spark, "/root/testdata/sf0.001"))
    def call(hash: String, to: Option[String], root: Boolean) =
      TraceRow(1L, hash, Some(0), Some("0xeoa"), to, Some("0"), Some("0x1234567890"),
        None, Some(5L), root, Some(1L), Some(100L), Some("0xb"), None)
    val planted = Seq(
      // a ZK transaction whose root and ecRecover call land in two input partitions
      call("0xsplit", Some("0xentry"), root = true),
      call("0xsplit", Some(Addresses.EcRecover), root = false),
      // a ZK transaction with a null-callee trace, kept with it
      call("0xnullzk", Some(Addresses.EcPairing), root = true),
      call("0xnullzk", None, root = false),
      // a transaction whose only callee is null: no ZK call, dropped
      call("0xnullonly", None, root = true))
    val input = traces.unionByName(planted.toDS().coalesce(1)).repartition(4)
    val parts = input.filter(col("transaction_hash") === "0xsplit")
      .select(spark_partition_id()).as[Int].collect()
    assert(parts.distinct.length == 2, s"split tx not split across partitions: $parts")

    // the reference: the ZK keys collected, the rows filtered in Scala
    val all = input.collect().toSeq
    val zkKeys = all.filter(_.to_address.exists(Addresses.FirstDegreeFilter.contains))
      .map(t => (t.chain_id, t.transaction_hash)).toSet
    val expected = all.filter(t =>
      t.transaction_hash != null && zkKeys((t.chain_id, t.transaction_hash)))
    val got = TraceEtl.pruneNonZk(input).collect().toSeq
    assert(expected.nonEmpty && expected.size < all.size)
    assert(got.map(_.toString).sorted == expected.map(_.toString).sorted)
    assert(got.count(_.transaction_hash == "0xsplit") == 2)
    assert(got.count(_.transaction_hash == "0xnullzk") == 2)
    assert(!got.exists(_.transaction_hash == "0xnullonly"))
  }

  test("bronze layer: partition pruning reaches the scan") {
    val traces = graft.sources.SyntheticTraces.fromTpch(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft_bronze").toString
    Scale.writeBronze(traces, dir)
    val pruned = Scale.readBronze(spark, dir).filter(col("chain_id") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("chain_id"),
      s"partition filter not pushed:\n${plan.take(800)}")
    // only chain 1's directories are read
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("chain_id=1")))
    // round-trip preserves the rows
    assert(Scale.readBronze(spark, dir).count() == traces.count())
  }
}

class BucketedJoinSpec extends SparkSpec {
  test("bucketed tables co-locate the join: no exchange in the plan") {
    // warehouse.dir is static; the shared session's default
    // (./spark-warehouse under the test working dir) is fine
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val or = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    or.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("or_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b").join(spark.table("or_b"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${plan.take(600)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS or_b")
    }
  }
}

class ShuffleVolumeSpec extends SparkSpec {
  test("partial aggregation shrinks the commit shuffle below input rows") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val traces = graft.operators.TraceEtl.normalize(
      graft.sources.SyntheticTraces.fromTpch(spark, "/root/testdata/sf0.01"))
    // the pruned rows, stored: the prune's own window exchange would
    // otherwise be the commit's one exchange, carrying the unpruned rows
    val stored = Files.createTempDirectory("graft_pruned").toString
    graft.operators.TraceEtl.pruneNonZk(traces)
      .write.mode("overwrite").parquet(stored)
    val pruned = spark.read.parquet(stored).as[graft.model.TraceRow](traces.encoder)
    val inputRows = pruned.count()

    var shuffleRecords = 0L
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val w = s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        if (w > 0) shuffleRecords = math.max(shuffleRecords, w)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.operators.TraceEtl.commitTraces(pruned, prefilter = false)
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(2000) // let the listener bus drain
      // the wide exchange carries partially-merged tree buffers — one
      // per (group, map task) at most — strictly fewer than raw rows
      assert(shuffleRecords > 0, "no shuffle observed")
      assert(shuffleRecords < inputRows,
        s"partial agg ineffective: shuffled $shuffleRecords of $inputRows input rows")
      info(s"shuffle records: $shuffleRecords of $inputRows input rows " +
        f"(${shuffleRecords * 100.0 / inputRows}%.0f%%)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("saltedSum retry pin: a shuffle boundary beneath the salt " +
      "injects sortWithinPartitions; a shuffle-free input skips it") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical
    val df = (1 to 5000).map(i => (s"k${i % 7}", i.toLong)).toDF("key", "v")
    def hasLocalSort(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.optimizedPlan.exists {
        case s: logical.Sort => !s.global
        case _ => false
      }
    // downstream of a repartition the per-partition replay order is
    // not retry-stable -> the pin must appear, and results stay exact
    val shuffled = df.repartition(8, col("key"))
    val salted = Scale.saltedSum(shuffled, Seq("key"), "v", "total")
    assert(hasLocalSort(salted), "expected the injected retry pin")
    val direct = df.groupBy("key").agg(sum("v").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == direct)
    // local/scan-rooted input: deterministic replay, no pin, no sort cost
    assert(!hasLocalSort(Scale.saltedSum(df, Seq("key"), "v", "total")))
  }

}
