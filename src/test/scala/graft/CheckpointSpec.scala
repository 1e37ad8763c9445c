package graft

import graft.model._
import graft.sinks.{DoNothing, JdbcUpsert, UpsertSpec}
import graft.streaming.StreamingEtl
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** SNK4 semantics: Spark checkpointing + an idempotent upsert sink
  * give the reference's at-least-once contract (offsets committed
  * after sink success; redelivery deduplicated by the sink) —
  * SURVEY §2.9 "Delivery".
  */
class CheckpointSpec extends SparkSpec {

  test("restart from checkpoint: no duplicate sink effects") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val url = "jdbc:derby:memory:ckptdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE sunk ("chain_id" BIGINT, "hash" VARCHAR(100), "n" BIGINT, PRIMARY KEY ("chain_id", "hash"))""")
    conn.close()
    val spec = UpsertSpec("sunk", Seq("chain_id", "hash", "n"),
      Seq("chain_id", "hash"), DoNothing)

    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    def tr(hash: String, ts: Long): TraceRow =
      TraceRow(1L, hash, Some(0), Some("0xa"), Some(Addresses.EcRecover), None,
        Some("0x1234567890"), None, Some(5L), true, Some(1L), Some(ts), Some("0xb"), None)

    // run 1: process a batch, sink it through the idempotent upsert
    val mem1 = MemoryStream[TraceRow]
    mem1.addData(tr("0xc1", 100L), tr("0xc2", 101L))
    val q1 = mem1.toDS().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[TraceRow], _: Long) =>
        val rows = batch.groupBy("chain_id", "transaction_hash")
          .agg(count(lit(1)).as("n"))
          .toDF("chain_id", "hash", "n")
        JdbcUpsert.upsert(rows, url, spec, "derby")
        () // foreachBatch is overloaded, so its body must be Unit
      }.start()
    q1.processAllAvailable()
    q1.stop()

    // run 2 ("restart"): new query on the same checkpoint gets the same
    // batch redelivered if uncommitted, plus new data — the upsert
    // must keep the table exactly-once
    val mem2 = MemoryStream[TraceRow]
    mem2.addData(tr("0xc1", 100L), tr("0xc2", 101L)) // redelivery
    mem2.addData(tr("0xc3", 102L))
    val q2 = mem2.toDS().writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt2").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[TraceRow], _: Long) =>
        val rows = batch.groupBy("chain_id", "transaction_hash")
          .agg(count(lit(1)).as("n"))
          .toDF("chain_id", "hash", "n")
        JdbcUpsert.upsert(rows, url, spec, "derby")
        () // foreachBatch is overloaded, so its body must be Unit
      }.start()
    q2.processAllAvailable()
    q2.stop()

    val c = java.sql.DriverManager.getConnection(url)
    val rs = c.createStatement().executeQuery("SELECT count(*) FROM sunk")
    rs.next()
    assert(rs.getInt(1) == 3) // c1, c2 once despite redelivery; c3 once
    c.close()
  }
}
