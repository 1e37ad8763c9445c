package graft.perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import graft.model.TxCommit
import graft.sinks.Tables
import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The always-on ETL benchmark. One run stages a seeded replay, sets
  * the service up once cold and [[Main.SetupRounds]] times warm, then
  * drains the backlog repeatedly until `--seconds` of drain time have
  * passed and at least [[Main.MinDrains]] drains are done, checking the
  * sink after every drain. `--trace 1` is the traced variant: it
  * alternates untraced and traced drains, replays the last traced
  * drain's micro-batches layer by layer, writes the spans file and
  * reports per-layer metrics. The last stdout line is the JSON result.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <work dir> --spans <spans file>
  */
object Main {

  /** Warm set-up rounds; `setup_s` is their median. */
  val SetupRounds = 2

  /** Full drains after set-up that are checked but not measured: the
    * JIT is still compiling the drain path through the first ones, and
    * they ran up to 1.5x slower than later drains, more so under CPU steal.
    */
  val WarmDrains = 1

  /** Measured drains a run makes at least, so that no run's figure rests on one drain. */
  val MinDrains = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Largest heap occupancy left after a collection while `on` is set. */
  private object Heap {
    @volatile var on = false
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    lazy val installed: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[NotificationEmitter].addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, h: Any): Unit =
          if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peakBytes = math.max(peakBytes, used)
          }
      }, null, null)
    }
  }

  /** (name, value, unit) of one reported metric. */
  type Metric = (String, Double, String)
  private def metric(name: String, value: Double, unit: String): Metric = (name, value, unit)

  /** One run's outcome: `failed` drains of `attempted` failed the sink
    * check or never finished. `wedged` means a drain hung: its stuck
    * tasks may hold Derby latches and executor threads, so the run
    * stopped draining and the JVM must be halted, not shut down.
    */
  case class Result(attempted: Int, failed: Int, problems: Seq[String], reported: Seq[Metric],
      wedged: Boolean = false) {
    def correct: Boolean = problems.isEmpty
    def metrics: Map[String, Double] = reported.map(m => m._1 -> m._2).toMap
    def json: String =
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
        reported.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}}")
  }

  /** Shared state of one run: the session, its inputs and the check tally. */
  private class Run(val wl: Workload, val staged: Staged, val sources: Seq[(Long, File)],
      val expected: Expected, val work: File, val spark: SparkSession) {
    val problems = ArrayBuffer.empty[String]
    var checked = 0
    var failed = 0
    var lostRows = 0L
    var wedged = false

    /** One drain of the backlog followed by the sink check. A hung
      * drain is counted as failed without a check: reading the sink
      * would wait on the latches its stuck tasks hold. Every drain
      * starts from a collected heap, so that garbage left by set-up or
      * by earlier drains neither inflates `heap_peak_mb` nor times a
      * collection into the drain.
      */
    def drain(tag: String, measured: Boolean = true,
        onBatch: (Long, Long, Dataset[TxCommit]) => Unit = (_, _, _) => ()): Drain = {
      System.gc()
      Heap.on = measured
      val d = try Drive.drain(spark, wl, sources, work, tag, onBatch) finally Heap.on = false
      val bad = if (d.hung) {
        wedged = true
        d.abandoned
      } else {
        val dropped = d.batches.map(_.droppedByWatermark).sum
        val c = Check.sink(d.db, expected)
        lostRows += c.lostRows
        d.abandoned ++ c.problems ++
          (if (dropped == staged.injected.lateTraces) Nil
          else Seq(s"watermark dropped $dropped traces, injected ${staged.injected.lateTraces} late"))
      }
      checked += 1
      if (bad.nonEmpty) {
        failed += 1
        problems ++= bad.map(p => s"$tag: $p")
      }
      d
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val r = try run(Workloads(need("workload")), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("spans")))
    catch {
      case e: Exception =>
        // no result; stuck Spark or Derby threads must not keep the JVM alive
        System.err.println(s"[perfbench] no result: $e")
        Runtime.getRuntime.halt(1)
        throw e
    }
    r.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    println(r.json)
    System.out.flush()
    if (r.wedged) Runtime.getRuntime.halt(0)
  }

  def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean, work: File,
      spansFile: File): Result = {
    val cores = Runtime.getRuntime.availableProcessors
    Heap.installed
    Heap.peakBytes = 0L

    // inputs, staged before any timing
    val staged = wl.stage(seed, new File(work, "input"))
    val warm = wl.stage(seed + 1, new File(work, "warmup"), wl.warmup)
    val sources = staged.chains.map(c => c.chainId -> c.dir)
    val warmSources = warm.chains.map(c => c.chainId -> c.dir)
    println(s"[perfbench] ${wl.name} seed $seed injected ${staged.injected.toJson}")

    // set-up: session start, sink DDL and a warm-up drain; round 0 also
    // pays the JVM's cold start and is left out of setup_s
    var spark: SparkSession = null
    val rounds = (0 to SetupRounds).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Drive.session(work, cores)
      val w = Drive.drain(spark, wl, warmSources, work, s"warmup$i")
      if (w.abandoned.nonEmpty)
        throw new IllegalStateException(s"set-up drain: ${w.abandoned.mkString("; ")}")
      w.db.drop()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = rounds.tail

    // expected sink contents (batch path over the clean corpus), untimed
    val expected = Check.expected(spark, staged)
    val quarantined = Check.quarantined(spark, staged)
    val run = new Run(wl, staged, sources, expected, work, spark)
    if (quarantined != staged.injected.malformedRows)
      run.problems += s"decode quarantined $quarantined payloads, injected ${staged.injected.malformedRows}"
    val metrics = if (traced) tracedRun(run, seconds, spansFile, seed)
    else {
      val warmDrains = ArrayBuffer.empty[Drain]
      while (!run.wedged && warmDrains.size < WarmDrains)
        warmDrains += run.drain(s"w${warmDrains.size}", measured = false)
      warmDrains.filterNot(_.hung).foreach(_.db.drop())
      val drains = ArrayBuffer.empty[Drain]
      while (!run.wedged && (drains.size < MinDrains || drains.map(_.wallS).sum < seconds)) {
        val d = run.drain(s"m${drains.size}")
        if (!d.hung) d.db.drop()
        drains += d
      }
      // a hung drain's wall time is the timeout, not a measurement
      val measured = drains.filterNot(_.hung)
      if (measured.isEmpty) throw new IllegalStateException(run.problems.mkString("; "))
      val batches = drains.flatMap(_.batches).toSeq
      val failedBatches = (warmDrains ++ drains).map(_.failedBatches).sum
      val allBatches = (warmDrains ++ drains).map(_.batches.size).sum
      println(f"[perfbench] ${drains.size} measured drains of ${staged.injected.cleanTraces} input traces " +
        s"(${drains.map(d => f"${d.wallS}%.2f s${if (d.hung) " hung" else ""}").mkString(", ")}) " +
        s"after ${warmDrains.size} unmeasured (${warmDrains.map(d => f"${d.wallS}%.2f s").mkString(", ")}); " +
        f"batch_s_p50 over ${batches.size} micro-batches; $failedBatches of $allBatches failed and re-run; " +
        s"${run.lostRows} sink rows lost; " +
        s"set-up rounds ${rounds.map(s => f"$s%.2f s").mkString(", ")} (first one cold, left out)")
      Seq(
        metric("setup_s", median(setupS), "s"),
        metric("traces_per_s", median(measured.map(d => staged.injected.cleanTraces / d.wallS).toSeq), "1/s"),
        metric("batch_s_p50", median(batches.map(_.triggerMs / 1e3)), "s"),
        metric("heap_peak_mb", Heap.peakBytes / 1048576.0, "MB"),
        metric("batch_attempts_per_commit", (allBatches + failedBatches).toDouble / allBatches, "ratio"),
      )
    }
    if (!run.wedged) run.spark.stop()
    Result(run.checked, run.failed, run.problems.toSeq, metrics, run.wedged)
  }

  /** Alternate untraced and traced drains for `seconds` of drain time,
    * then replay the last traced drain batch by batch.
    */
  private def tracedRun(run: Run, seconds: Double, spansFile: File, seed: Long): Seq[Metric] = {
    val spark = run.spark
    val injected = run.staged.injected
    val jobs = new JobTracer
    val queries = new BatchTracer
    val untraced = ArrayBuffer.empty[Double]
    val tracedDrains = ArrayBuffer.empty[Drain]
    var rowsNew = 0L
    val capture = new File(run.work, "capture")
    def noHang(): Unit = if (run.wedged) throw new IllegalStateException(
      s"a drain hung, so the traced run has no per-layer result: ${run.problems.mkString("; ")}")
    // as in the untraced run, so that neither side of the overhead pays JIT warm-up
    (0 until WarmDrains).foreach { i =>
      val w = run.drain(s"w$i", measured = false)
      noHang()
      w.db.drop()
    }
    while (tracedDrains.isEmpty || (untraced.sum + tracedDrains.map(_.wallS).sum) < seconds) {
      val u = run.drain(s"u${untraced.size}")
      noHang()
      u.db.drop()
      untraced += u.wallS
      // the session path's commits per batch, kept for the sink replay
      val onBatch: (Long, Long, Dataset[TxCommit]) => Unit = run.wl.path match {
        case Session => (chain, id, batch) =>
          batch.write.mode("overwrite").parquet(new File(capture, s"${chain}_$id").getPath)
        case MicroBatch => (_, _, _) => ()
      }
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(queries)
      val t = try run.drain(s"t${tracedDrains.size}", onBatch = onBatch) finally {
        PerfbenchShim.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobs)
        spark.streams.removeListener(queries)
      }
      noHang()
      rowsNew = Seq(Tables.transactions, Tables.contracts)
        .map(s => t.db.rows(s.table, s.conflictKeys).size.toLong).sum
      t.db.drop()
      tracedDrains += t
    }
    val drainJobs = jobs.spans
    val last = tracedDrains.last

    // per-batch layer replay of the last traced drain (same listener, job groups "replay:*")
    val shadow = new Derby("shadow").create()
    val replay = new Replay(spark, shadow)
    spark.sparkContext.addSparkListener(jobs)
    last.checkpoints.foreach { case (chain, ckpt) =>
      val files = Tracing.batchFiles(ckpt)
      val ids = run.wl.path match {
        case MicroBatch => files.keys.toSeq.sorted
        case Session => last.batches.filter(_.query.endsWith(s"_chain_$chain")).map(_.batchId).distinct.sorted
      }
      ids.foreach { id =>
        val key = s"chain_$chain#$id"
        run.wl.path match {
          case MicroBatch => replay.microBatch(key, chain, files(id))
          case Session =>
            val c = new File(capture, s"${chain}_$id")
            replay.session(key, files.getOrElse(id, Nil), Some(c.getPath).filter(_ => c.isDirectory))
        }
      }
    }
    PerfbenchShim.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    shadow.drop()
    if (replay.quarantined != injected.malformedRows)
      run.problems += s"replay quarantined ${replay.quarantined} payloads, injected ${injected.malformedRows}"
    val replayJobs = jobs.spans.filter(_.batch.startsWith("replay:"))
    val streamJobs = drainJobs.filter(_.batch.contains("#"))

    val batches = tracedDrains.flatMap(_.batches).toSeq
    val nB = math.max(1, batches.size).toDouble
    val nDrains = tracedDrains.size.toDouble
    val replayed = replay.steps.map(_.batch).distinct.size.max(1).toDouble
    def stepTotal(name: String) = replay.steps.filter(_.step == name).map(_.seconds).sum
    def stepRows(name: String) = replay.steps.filter(_.step == name).map(_.rows).sum
    def self(name: String, prev: String, prevTimes: Int = 1) =
      if (!replay.steps.exists(_.step == name)) 0.0
      else (stepTotal(name) - prevTimes * stepTotal(prev)) / replayed
    val hasDecode = replay.steps.exists(_.step == "decode")
    val overhead = median(tracedDrains.map(_.wallS).toSeq) / median(untraced.toSeq)
    val rowsOffered = tracedDrains.map(_.rowsOffered).sum / nDrains

    val spans = s"""{"workload":"${run.wl.name}","seed":$seed,"injected":${injected.toJson},""" +
      s""""untraced_drain_s":${untraced.mkString("[", ",", "]")},""" +
      s""""traced_drain_s":${tracedDrains.map(_.wallS).mkString("[", ",", "]")},""" +
      s""""tracing_overhead_s":${median(tracedDrains.map(_.wallS).toSeq) - median(untraced.toSeq)},""" +
      s""""queries":${queries.names.asScala.map { case (id, n) => s""""$id":"$n"""" }.mkString("{", ",", "}")},""" +
      s""""progress":${queries.progress.asScala.mkString("[", ",", "]")},""" +
      s""""jobs":${jobs.spans.map(_.toJson).mkString("[", ",\n", "]")},""" +
      s""""replay":${replay.steps.map(_.toJson).mkString("[", ",\n", "]")}}"""
    spansFile.getParentFile.mkdirs()
    Files.write(spansFile.toPath, spans.getBytes(StandardCharsets.UTF_8))
    println(f"[perfbench] tracing overhead: traced drain ${median(tracedDrains.map(_.wallS).toSeq)}%.3f s - " +
      f"untraced ${median(untraced.toSeq)}%.3f s = ${median(tracedDrains.map(_.wallS).toSeq) - median(untraced.toSeq)}%.3f s; " +
      s"spans in ${spansFile.getPath}")

    Seq(
      metric("sources.scan_amplification", batches.map(_.inputRows).sum / (injected.deliveredRows * nDrains), "ratio"),
      metric("sources.decode_s", self("decode", "scan"), "s"),
      metric("sources.quarantined_rows", replay.quarantined.toDouble, "count"),
      metric("operators.normalize_s", self("normalize", "decode"), "s"),
      metric("operators.prune_s", self("prune", "normalize"), "s"),
      metric("operators.prune_keep_ratio",
        if (hasDecode) stepRows("prune").toDouble / math.max(1L, stepRows("normalize")) else 1.0, "ratio"),
      metric("operators.aggregate_s", if (hasDecode) self("commit", "prune") else 0.0, "s"),
      metric("operators.shuffle_write_mb",
        if (hasDecode) replayJobs.filter(_.batch == "replay:commit").map(_.shuffleWriteBytes).sum / 1048576.0 / replayed
        else 0.0, "MB"),
      metric("streaming.jobs_per_batch", streamJobs.size / nB, "count"),
      metric("streaming.trigger_overhead_s", batches.map(b => b.triggerMs - b.addBatchMs).sum / 1e3 / nB, "s"),
      metric("streaming.state_rows_peak", batches.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "count"),
      metric("streaming.state_commit_s", batches.map(_.stateCommitMs).sum / 1e3 / nB, "s"),
      metric("streaming.late_rows_dropped", batches.map(_.droppedByWatermark).sum / nDrains, "count"),
      metric("sinks.render_s", self("render", "commit", prevTimes = 2), "s"),
      metric("sinks.upsert_s", self("upsert", "render"), "s"),
      metric("sinks.rows_offered", rowsOffered, "count"),
      metric("sinks.rows_new_ratio", rowsNew / math.max(1.0, tracedDrains.last.rowsOffered.toDouble), "ratio"),
      metric("sinks.contract_dedup_ratio",
        replay.contractsAfterDedup.toDouble / math.max(1L, replay.contractsBeforeDedup), "ratio"),
      metric("sinks.rows_lost", run.lostRows.toDouble / math.max(1, run.checked), "count"),
      metric("sinks.failed_partitions",
        streamJobs.filter(_.module == "sinks").map(_.failedTasks).sum.toDouble, "count"),
      metric("obs.stats_s", streamJobs.filter(_.module == "obs").map(_.seconds).sum / nB, "s"),
      metric("obs.tracing_overhead_ratio", overhead, "ratio"),
    )
  }
}
