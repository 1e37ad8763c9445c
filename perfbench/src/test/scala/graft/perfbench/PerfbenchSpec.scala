package graft.perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: the generator is a pure function of
  * (traffic, seed), and a tiny replay of every workload drains through
  * the real path and passes the sink check, traced and untraced.
  */
class PerfbenchSpec extends AnyFunSuite {

  private val out = new File("target/perfbench-spec")

  private def fresh(name: String): File = {
    val d = new File(out, name)
    org.apache.hadoop.fs.FileUtil.fullyDelete(d)
    d
  }

  private def tree(dir: File): Map[String, Seq[Byte]] = {
    val base = dir.toPath
    Files.walk(base).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  /** Each workload at a size a unit test can afford, its mechanisms intact. */
  private def tiny(wl: Workload): Workload = wl.path match {
    case Session =>
      val t = wl.traffic.copy(txCount = 240, txPerSlice = 40, txPerBlock = 10)
      wl.copy(traffic = t, warmup = t.copy(txCount = 40, lateShare = 0.0, sentinels = false))
    case MicroBatch =>
      val t = wl.traffic.copy(txCount = 90, txPerSlice = 30,
        malformedShare = wl.traffic.malformedShare * 20)
      wl.copy(traffic = t, warmup = t.copy(txCount = 30, redeliveryShare = 0.0, chainIds = t.chainIds.take(1)))
  }

  test("the generator writes byte-identical files for a seed, different ones for another") {
    Workloads.all.map(tiny).foreach { wl =>
      val a = wl.stage(7L, fresh(s"${wl.name}-a"))
      val b = wl.stage(7L, fresh(s"${wl.name}-b"))
      val c = wl.stage(8L, fresh(s"${wl.name}-c"))
      assert(a.injected == b.injected)
      assert(tree(new File(out, s"${wl.name}-a")) == tree(new File(out, s"${wl.name}-b")))
      assert(tree(new File(out, s"${wl.name}-a")) != tree(new File(out, s"${wl.name}-c")))
      assert(a.injected.deliveredRows == a.chains.flatMap(_.files).map(f => Files.readAllLines(f.toPath).size).sum)
    }
  }

  test("the tiny workloads inject what each one exists for") {
    val byName = Workloads.all.map(wl => wl.name -> tiny(wl).stage(3L, fresh(s"inj-${wl.name}"))).toMap
    assert(byName("kafka_catchup").injected.malformedRows > 0)
    assert(byName("kafka_catchup").chains.size == 3)
    val s = byName("session_spanning").injected
    assert(s.lateTraces > 0 && s.straddledTxs + s.outOfOrderTxs > 0)
    val z = byName("zk_redelivery").injected
    assert(z.zkTxs == tiny(Workloads.zkRedelivery).traffic.txCount && z.redeliveredFiles > 0)
  }

  test("the sink check fails a sink that lost rows and counts them") {
    val db = new Derby("check-lost").create()
    def sql(stmt: String, vals: Any*): Unit = {
      val c = java.sql.DriverManager.getConnection(db.url)
      try {
        val st = c.prepareStatement(stmt)
        vals.zipWithIndex.foreach { case (v, i) => st.setObject(i + 1, v) }
        st.executeUpdate()
      } finally c.close()
    }
    val tx = graft.sinks.Tables.transactions.table
    val ct = graft.sinks.Tables.contracts.table
    try {
      Seq("0xaa", "0xbb").foreach(h =>
        sql(s"""INSERT INTO $tx ("chain_id", "transaction_hash") VALUES (?, ?)""", 1L, h))
      sql(s"""INSERT INTO $ct ("chain_id", "address", "function_signatures") VALUES (?, ?, ?)""",
        1L, "0xc1", "f()")
      val exp = Check.expectedOf(db.rows(tx, graft.sinks.Tables.transactionColumns),
        db.rows(ct, graft.sinks.Tables.contractColumns))
      assert(Check.sink(db, exp) == Verdict(Nil, 0))
      sql(s"""DELETE FROM $tx WHERE "transaction_hash" = ?""", "0xbb")
      sql(s"DELETE FROM $ct")
      val v = Check.sink(db, exp)
      assert(v.lostRows == 2 && v.problems.size == 2, v)
    } finally db.drop()
  }

  Workloads.all.foreach { wl =>
    test(s"a tiny ${wl.name} run passes the sink check") {
      val r = Main.run(tiny(wl), 5L, 0.1, traced = false, fresh(s"run-${wl.name}"),
        new File(out, "spans.json"))
      assert(r.problems.isEmpty && r.correct && r.failed == 0 && r.attempted >= 1)
      assert(r.metrics("traces_per_s") > 0 && r.metrics("batch_attempts_per_commit") >= 1.0)
    }
  }

  test("a tiny traced session_spanning run reports the injected late traces as dropped") {
    val wl = tiny(Workloads.sessionSpanning)
    val spans = new File(out, "spans-session.json")
    val r = Main.run(wl, 6L, 0.1, traced = true, fresh("traced-session"), spans)
    val injected = wl.stage(6L, fresh("traced-session-inj")).injected
    assert(r.correct, r.problems)
    assert(r.metrics("streaming.late_rows_dropped") == injected.lateTraces)
    assert(r.metrics("streaming.state_rows_peak") > 0)
    assert(spans.length() > 0)
  }

  test("a tiny traced kafka_catchup run attributes jobs and counts the quarantine") {
    val wl = tiny(Workloads.kafkaCatchup)
    val r = Main.run(wl, 6L, 0.1, traced = true, fresh("traced-kafka"), new File(out, "spans-kafka.json"))
    val injected = wl.stage(6L, fresh("traced-kafka-inj")).injected
    assert(r.correct, r.problems)
    assert(r.metrics("sources.quarantined_rows") == injected.malformedRows)
    assert(r.metrics("sources.scan_amplification") >= 1.0)
    assert(r.metrics("obs.stats_s") > 0 && r.metrics("sinks.upsert_s") != 0)
  }
}
