package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of the sf0.1 corpus → a local sf1 for
  * the scale rehearsal (the driver's /root/testdata tops out at
  * sf0.1). Replica k of each fact row gets keys offset into a
  * disjoint range; document text gets a per-replica suffix token so
  * cross-replica rows are NEAR-duplicates (Jaccard ≈ 0.95+), giving
  * the dedup/clustering rehearsal a realistic ~10-way near-dup
  * cluster per original instead of degenerate exact copies.
  *
  *   runMain graft.ScaleUp [srcDir] [outDir] [factor]
  */
object ScaleUp {
  /** The default scaled corpus: `tmp/sf1` under the launch directory
    * (sbt runs in the project root). */
  def defaultDir: String =
    java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."))
      .resolve("tmp/sf1").toAbsolutePath.toString

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else defaultDir
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"SCALEUP $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def replicate(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => remap(df, k)).reduce(_ unionByName _)

    // key spacing: sf0.1 o_orderkey tops out well under 10M
    val K = 10000000L

    write(replicate(read("orders")) { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * K))
    }, "orders")

    write(replicate(read("lineitem")) { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * K))
    }, "lineitem")

    write(replicate(read("documents")) { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
        .withColumn("text",
          if (k == 0) col("text") else concat(col("text"), lit(s" replica$k")))
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    write(replicate(read("embeddings")) { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + lit(k * 1000000L))
    }, "embeddings")

    write(replicate(read("events")) { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * K))
        .withColumn("user_id", col("user_id") + lit(k * K))
    }, "events")

    // dimension tables stay 1× (they are the broadcast side by design)
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(read(n), n))

    spark.stop()
  }
}
