package graft

import org.apache.spark.sql.SparkSession

/** Phase-level timing of the fused trace-ETL pipeline: isolates scan,
  * normalize, ZK prune, commit aggregation, and output split so perf
  * work targets the real hot phase instead of the end-to-end blur.
  */
object EtlPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val n = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"PHASE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    import graft.operators.TraceEtl
    for (i <- 1 to n) {
      println(s"--- pass $i ---")
      val bronze = graft.sources.SyntheticTraces.bronze(spark, dir)
      time("scan")(noop(bronze))
      time("normalize")(noop(TraceEtl.normalize(bronze).toDF()))
      val norm = TraceEtl.normalize(bronze)
      time("prune")(noop(TraceEtl.pruneNonZk(norm).toDF()))
      time("commit")(noop(TraceEtl.commitTraces(norm).toDF()))
      val (txs, cs) = TraceEtl.transform(bronze)
      time("full_tx")(noop(txs.toDF()))
      time("full_contracts")(noop(cs.toDF()))
      val (rtx, rcs) = graft.operators.TraceEtlRelational.transform(TraceEtl.normalize(bronze))
      time("rel_tx")(noop(rtx))
      time("rel_contracts")(noop(rcs))
    }
    spark.stop()
  }
}
