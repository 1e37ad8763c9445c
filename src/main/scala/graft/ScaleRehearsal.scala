package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** sf1 scale rehearsal: run the headline queries against a 10×-sf0.1
  * corpus (see [[ScaleUp]]) with per-query shuffle/spill accounting,
  * so "designed for 100 TB" claims are backed by an observed scaling
  * measurement instead of plan reading alone.
  *
  *   runMain graft.ScaleRehearsal [sfDir] [queries...]
  */
object ScaleRehearsal {

  /** Stage sums of one measured query. */
  private final class Sums {
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var memSpill = 0L
    var diskSpill = 0L
    var peakMem = 0L
    var tasks = 0
    var stages = 0
  }

  /** Sums stage metrics per measured query: each query tags its jobs
    * with [[ProbeMain.RunProperty]], so a stage that completes after its
    * query returned (the listener bus is asynchronous) still lands on
    * that query. */
  private class Acc extends SparkListener {
    private val queryOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val sums = new java.util.concurrent.ConcurrentHashMap[String, Sums]()
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      Option(ss.properties).flatMap(p => Option(p.getProperty(ProbeMain.RunProperty)))
        .foreach(queryOf.put(ss.stageInfo.stageId, _))
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      Option(queryOf.get(sc.stageInfo.stageId)).foreach { q =>
        val s = sums.computeIfAbsent(q, _ => new Sums)
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.memSpill += m.memoryBytesSpilled
          s.diskSpill += m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
        s.tasks += sc.stageInfo.numTasks
        s.stages += 1
      }
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else ScaleUp.defaultDir
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_etl_transactions", "q_etl_contracts", "q_etl_blocks",
        "q_llm_curate", "q_llm_dedup_clusters", "q_ann_ivf_topk",
        "q_llm_minhash_lsh_pairs", "q_range_join")
    // SPARK_GRAFT_SHUFFLE overrides the partition count — the sf3
    // rehearsal uses it to show the commit spill disappears when
    // partitions are sized to the data (SCALE_r06.md finding 6).
    // SPARK_GRAFT_AGG_FALLBACK overrides the object-hash-agg group
    // threshold: the bench value (1M groups/partition) trades memory
    // for speed and OOMs a 16 GiB/32-thread JVM at 100× — the sf10
    // rehearsal lowers it so the aggregation falls back to sort-based
    // (bounded memory, spills instead of dying).
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32")
    val aggFallback = sys.env.getOrElse("SPARK_GRAFT_AGG_FALLBACK", "1000000")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", aggFallback)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)

    def gb(b: Long) = f"${b / 1073741824.0}%.2f"
    // one-time synthetic-encode staging of the JSON bronze corpora —
    // NOT part of any measured pipeline (production pays this on the
    // producer side)
    graft.sources.SyntheticTraces.bronze(spark, dir)
    graft.sources.SyntheticTraces.blocksBronze(spark, dir)
    // codegen/JIT warm-up at the smallest SF (same rationale as Bench)
    for (name <- names)
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    // measured pass: FIRST computation at this SF per query. The
    // shared-commit cache means q_etl_transactions carries the full
    // decode→normalize→prune→aggregate pipeline and q_etl_contracts
    // measures the persisted-commit split (the designed production
    // shape: one pass, two tables).
    val secs = names.map { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setLocalProperty(ProbeMain.RunProperty, name)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.setLocalProperty(ProbeMain.RunProperty, null)
      (System.nanoTime() - t0) / 1e9
    }
    // stop() drains the listener bus, so every stage is summed
    spark.stop()
    for ((name, sec) <- names.zip(secs)) {
      val s = acc.sums.getOrDefault(name, new Sums)
      println(f"""REHEARSE {"query":"$name","sec":$sec%.2f,""" +
        s""""shuffle_write_gb":${gb(s.shuffleWrite)},"shuffle_read_gb":${gb(s.shuffleRead)},""" +
        s""""mem_spill_gb":${gb(s.memSpill)},"disk_spill_gb":${gb(s.diskSpill)},""" +
        s""""peak_task_mem_gb":${gb(s.peakMem)},"stages":${s.stages},"tasks":${s.tasks}}""")
    }
  }
}
