package graft

import graft.model.Addresses
import graft.sinks.Tables
import java.sql.DriverManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared fixtures for the specs that drive the commit pipeline into
  * the sink: an in-memory Derby database holding the sink's
  * `transactions` and `contracts` tables, and decoded trace rows.
  */
object SinkFixtures {

  private val numeric = Set("chain_id", "transaction_index", "block_number", "block_timestamp",
    "gas_used_total", "gas_used_first_degree", "gas_used_second_degree", "degree",
    "ec_recover_count", "ec_add_count", "ec_mul_count", "ec_pairing_count")

  /** A fresh Derby database with the sink's two tables; returns its URL. */
  def derbySink(name: String): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      for (spec <- Seq(Tables.transactions, Tables.contracts))
        conn.createStatement().execute(s"CREATE TABLE ${spec.table} (" +
          spec.columns.map(c => s""""$c" ${if (numeric(c)) "BIGINT" else "VARCHAR(2000)"}""")
            .mkString(", ") +
          spec.conflictKeys.map(k => s""""$k"""").mkString(", PRIMARY KEY (", ", ", "))"))
    } finally conn.close()
    url
  }

  /** Values of `column` in every row of `table`. */
  def column(url: String, table: String, column: String): Seq[String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"""SELECT "$column" FROM $table""")
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString(1)
      out.result()
    } finally conn.close()
  }

  /** Rows in the sink's two tables together. */
  def sunkRows(url: String): Long =
    Seq(Tables.transactions, Tables.contracts).map(t => column(url, t.table, "chain_id").size).sum

  /** (chain_id, transaction_hash, from_address, to_address, input,
    * trace_address, block_number) of one call trace.
    */
  type Call = (Long, String, String, String, String, Seq[Int], Long)

  /** The two calls of one transaction: a root call from an EOA into a
    * contract, which calls `callee` (a ZK precompile or not).
    */
  def tx(hash: String, callee: String, block: Long): Seq[Call] = Seq(
    (1L, hash, "0x" + "aa" * 20, "0x" + "bb" * 20, "0x1234567890", Seq.empty[Int], block),
    (1L, hash, "0x" + "bb" * 20, callee, "0xdeadbeef01", Seq(0), block))

  val zkCallee: String = Addresses.EcRecover
  val plainCallee: String = "0x" + "cc" * 20

  /** Decoded trace rows (the schema `Ingest.decodeTraces` yields) from
    * a frame of [[Call]] columns.
    */
  def decoded(calls: DataFrame): DataFrame =
    calls.toDF("chain_id", "transaction_hash", "from_address", "to_address", "input",
        "trace_address", "block_number")
      .withColumn("transaction_index", lit(0))
      .withColumn("value", lit("0"))
      .withColumn("output", lit(null).cast("string"))
      .withColumn("trace_type", lit("call"))
      .withColumn("call_type", lit("call"))
      .withColumn("reward_type", lit(null).cast("string"))
      .withColumn("gas", lit(10L)).withColumn("gas_used", lit(5L))
      .withColumn("subtraces", lit(0))
      .withColumn("error", lit(null).cast("string"))
      .withColumn("block_timestamp", lit(100L))
      .withColumn("block_hash", lit("0xb"))
}
