package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic trace corpus derived from the TPC-H-ish test tables —
  * a lineitem-scale EVM workload for the flagship entry and the bench,
  * exercising every quirk path of the commit pipeline (precompile
  * calls, 4-byte-exact calldata, short ecRecover outputs, degree-2
  * chains).
  *
  * Shape per order: one root trace (EOA → contract A), and per
  * lineitem one call that is either A → B (supplier contract) or
  * B → precompile, so qualifying transactions have first-degree {B}
  * and second-degree {A} callers. ~10% of calls touch a precompile,
  * matching the reference's "rare ZK traffic" selectivity profile.
  */
object SyntheticTraces {

  /** Staging-dir fingerprint over the NAMED source tables (length +
    * mtime). Every staged derivative must key on the tables it is
    * actually derived from — a dir derived from events.parquet but
    * keyed on orders/lineitem would survive an
    * events-only regeneration and silently serve stale replay input.
    */
  def tableKey(sfDir: String, tables: Seq[String]): String = {
    val fp = tables.map { t =>
      val f = new java.io.File(s"$sfDir/$t.parquet")
      f.length() * 31L + f.lastModified()
    }.reduce(_ * 1000003L + _)
    sfDir.replaceAll("[^a-zA-Z0-9.]", "_") +
      "_" + java.lang.Long.toHexString(fp)
  }

  /** Corpus staged as bronze parquet (generated once per corpus
    * fingerprint, then read like any real trace table — the generation
    * cost is paid once instead of inside every query that consumes
    * traces). */
  def bronze(spark: SparkSession, sfDir: String): DataFrame = {
    // stage in one file per core ([[blocksBronze]] rationale): the
    // consumer's map stage (interpreted from_json + partial tree
    // aggregation) is the CPU-dominant stage of the flagship
    // pipeline, and a 2-file staging caps it at 2 tasks — 1/16th
    // of the machine. A Kafka source would arrive partitioned.
    spark.read.parquet(Staging.staged("graft_bronze_v2", sfDir,
        Seq("orders", "lineitem")) { tmp =>
      fromTpch(spark, sfDir)
        .repartition(math.max(16, spark.sparkContext.defaultParallelism))
        .write.mode("overwrite").parquet(tmp)
    })
  }

  // lpad(hex(..)) instead of format_string: hex is a tight codegen'd
  // loop while format_string goes through java.util.Formatter (~5s
  // slower over the sf0.1 corpus)
  private def hexPad(n: org.apache.spark.sql.Column, width: Int) =
    concat(lit("0x"), lpad(lower(hex(n)), width, "0"))
  private def addr(n: org.apache.spark.sql.Column) = hexPad(n, 40)

  /** Raw block-JSON corpus (the Kafka block-topic stand-in), staged
    * like [[bronze]] so the synthetic ENCODE cost is paid once — the
    * queries that consume it measure the decode path, which is the
    * part that exists in production. Columns: `value` (JSON payload),
    * `re_emit` (0 = first emission, 1 = reorg/update re-emission with
    * a newer timestamp; ~14% of blocks re-emit).
    */
  def blocksBronze(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(Staging.staged("graft_blocks_v2", sfDir,
        Seq("orders")) { tmp =>
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      def payload(tsBump: Int, gasBump: Int) = to_json(struct(
        col("o_orderkey").as("number"),
        (col("o_orderkey") + 1000 + tsBump).as("timestamp"),
        when(col("o_orderkey") % 10 =!= 0,
          hexPad(col("o_orderkey"), 64)).as("hash"),
        lit("0xparent").as("parent_hash"),
        ((col("o_totalprice").cast("long") + gasBump) % 1000).cast("int").as("gas_used")))
      orders.select(payload(0, 0).as("value"), lit(0).as("re_emit"))
        .unionByName(orders.filter(col("o_orderkey") % 7 === 0)
          .select(payload(5, 1).as("value"), lit(1).as("re_emit")))
        // stage in enough files that the downstream interpreted
        // from_json (CodegenFallback, ~75µs/row) parses in parallel
        // — a Kafka source would arrive partitioned the same way
        .repartition(16)
        .write.mode("overwrite").parquet(tmp)
    })

  def fromTpch(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")

    val rec = lit("0x0000000000000000000000000000000000000001")
    val add = lit("0x0000000000000000000000000000000000000006")
    val mul = lit("0x0000000000000000000000000000000000000007")
    val pair = lit("0x0000000000000000000000000000000000000008")

    val roots = orders.select(
      (lit(1) + col("o_orderkey") % 3).cast("long").as("chain_id"),
      hexPad(col("o_orderkey"), 64).as("transaction_hash"),
      (col("o_orderkey") % 1000).cast("int").as("transaction_index"),
      addr(col("o_custkey") + 1000000).as("from_address"),
      addr(col("o_orderkey") % 500 + 1000).as("to_address"),
      (col("o_totalprice") * 100).cast("decimal(38,0)").cast("string").as("value"),
      // 8-byte calldata -> selector is its first 4 bytes
      hexPad(col("o_orderkey") * 7 + 3, 16).as("input"),
      lit(null).cast("string").as("output"),
      lit("call").as("trace_type"),
      lit("call").as("call_type"),
      lit(null).cast("string").as("reward_type"),
      (col("o_totalprice").cast("long") + 21000).as("gas"),
      col("o_totalprice").cast("long").as("gas_used"),
      lit(0).as("subtraces"),
      array().cast("array<int>").as("trace_address"),
      when(col("o_orderstatus") === "F", lit(null).cast("string"))
        .otherwise(when(col("o_orderkey") % 97 === 0, lit("Reverted"))).as("error"),
      floor(col("o_orderkey") / 100).cast("long").as("block_number"),
      (lit(1700000000L) + col("o_orderkey")).as("block_timestamp"),
      hexPad(floor(col("o_orderkey") / 100).cast("long"), 64).as("block_hash"),
    )

    val contractA = addr(col("l_orderkey") % 500 + 1000)
    val contractB = addr(col("l_suppkey") + 2000)
    val toPrecompile = col("l_partkey") % 40
    val isPre = toPrecompile < 4

    val calls = lineitem.select(
      (lit(1) + col("l_orderkey") % 3).cast("long").as("chain_id"),
      hexPad(col("l_orderkey"), 64).as("transaction_hash"),
      (col("l_orderkey") % 1000).cast("int").as("transaction_index"),
      when(isPre, contractB).otherwise(contractA).as("from_address"),
      when(toPrecompile === 0, rec)
        .when(toPrecompile === 1, pair)
        .when(toPrecompile === 2, add)
        .when(toPrecompile === 3, mul)
        .otherwise(contractB).as("to_address"),
      lit("0").as("value"),
      // every 5th call has 4-byte-exact calldata (strict > 4 quirk path)
      when(col("l_linenumber") % 5 === 0, lit("0x61626364"))
        .otherwise(hexPad(
          (col("l_extendedprice") * 100).cast("long"), 24)).as("input"),
      // recover outputs: mostly a 32-byte word, sometimes invalid-short
      when(toPrecompile === 0,
        when(col("l_partkey") % 400 === 0, lit("0xab"))
          .otherwise(hexPad(col("l_suppkey") + 5000, 64)))
        .otherwise(lit(null).cast("string")).as("output"),
      lit("call").as("trace_type"),
      lit("call").as("call_type"),
      lit(null).cast("string").as("reward_type"),
      (col("l_quantity") * 120).cast("long").as("gas"),
      (col("l_quantity") * 100).cast("long").as("gas_used"),
      lit(0).as("subtraces"),
      array(col("l_linenumber")).as("trace_address"),
      lit(null).cast("string").as("error"),
      floor(col("l_orderkey") / 100).cast("long").as("block_number"),
      (lit(1700000000L) + col("l_orderkey")).as("block_timestamp"),
      hexPad(floor(col("l_orderkey") / 100).cast("long"), 64).as("block_hash"),
    )

    roots.unionByName(calls)
  }
}
