package graft

/** Write `.explain("formatted")` of named catalog entries to files:
  * runMain graft.PlanDump <outDir> <suffix> <q1>[,<q2>…] [sfDir]
  * — one `<outDir>/<name>_<suffix>.txt` per entry. Used to commit
  * the before/after plan evidence for optimization rounds
  * (plans/r<N>/). Streaming entries are SKIPPED unless
  * SPARK_GRAFT_PLANDUMP_RUN=1: their returned frame only exists
  * after the micro-batch replay runs to completion, so dumping them
  * executes the whole stream.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    val runStreams = sys.env.contains("SPARK_GRAFT_PLANDUMP_RUN")
    for (name <- names) {
      if (Queries.streamingEntries.contains(name) && !runStreams) {
        System.err.println(s"[plandump] skipping streaming entry $name " +
          "(set SPARK_GRAFT_PLANDUMP_RUN=1 to replay it)")
      } else {
        // pre-checkpoint plan evidence (r19 VERDICT #5/#9): entries
        // that materialize through a small-shuffle scope dump the
        // REAL pipeline plan to <name>_pre<i>_<suffix>.txt before the
        // checkpoint collapses it to Scan ExistingRDD
        sys.props.put("graft.plandump.pre", s"$outDir/${name}_$suffix")
        Queries.resetPreDumpSeq()
        val df =
          try SparkEntry.queries(name)(spark, dir)
          finally sys.props.remove("graft.plandump.pre")
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
          s"(${plan.count(_ == '\n')} lines)")
      }
    }
    spark.stop()
  }
}
