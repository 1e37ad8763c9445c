package graft.perfbench

import graft.model.{TraceRow, TxCommit}
import graft.operators.TraceEtl
import graft.sinks.{JdbcUpsert, Tables}
import graft.sources.Ingest
import graft.streaming.StreamingEtl
import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One Spark job of a traced run, attributed to a graft module by the
  * source file of its call site. `batch` is "<query>#<batchId>" for
  * jobs a micro-batch ran, the job group for replay jobs.
  */
final class JobSpan(val jobId: Int, val module: String, val callSite: String,
    val batch: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages: Int = 0
  var taskMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var failedTasks: Int = 0
  def seconds: Double = (endMs - startMs) / 1e3
  def toJson: String =
    s"""{"job":$jobId,"module":"$module","call_site":"${callSite.replace("\"", "'")}",""" +
      s""""batch":"$batch","start_ms":$startMs,"end_ms":$endMs,"stages":$stages,""" +
      s""""task_ms":$taskMs,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"failed_tasks":$failedTasks}"""
}

object JobTracer {
  /** Call-site file → module (the graft package the file belongs to). */
  private val modules = Map(
    "Ingest.scala" -> "sources", "Staging.scala" -> "sources",
    "TraceEtl.scala" -> "operators", "StreamingEtl.scala" -> "streaming",
    "JdbcUpsert.scala" -> "sinks", "Tables.scala" -> "sinks",
    "App.scala" -> "obs", "Observability.scala" -> "obs")
  private val harness = Set("Drive.scala", "Tracing.scala", "Check.scala", "Main.scala")

  /** "File.scala:line" of the first frame outside Spark, Scala and the
    * JDK in a long-form call site (one stack frame per line).
    */
  def userFrame(longForm: String): Option[String] =
    longForm.linesIterator.map(_.trim)
      .find(l => !Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(l.startsWith))
      .map(l => l.substring(l.lastIndexOf('(') + 1).stripSuffix(")"))

  def module(callSite: String): String = {
    val file = callSite.split(" at ").last.takeWhile(_ != ':')
    modules.getOrElse(file, if (harness(file)) "harness" else "engine")
  }
}

/** SparkListener recording every job with its stages' task time,
  * shuffle writes, spill and failed tasks. A job's call site is that of
  * the SQL execution it belongs to: adaptive execution and broadcasts
  * submit jobs from Spark's own threads, whose stacks hold no graft frame.
  */
class JobTracer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new ConcurrentHashMap[Int, JobSpan]()
  private val executionSites = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      JobTracer.userFrame(s.details).foreach(executionSites.put(s.executionId, _))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    // else the result stage, which is named after the job's call site
    val site = prop("spark.sql.execution.id").flatMap(id => Option(executionSites.get(id.toLong)))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
    val batch = prop("streaming.sql.batchId")
      .map(b => s"${prop("sql.streaming.queryId").getOrElse("")}#$b")
      .orElse(prop("spark.jobGroup.id")).getOrElse("")
    val span = new JobSpan(e.jobId, JobTracer.module(site), site, batch, e.time)
    span.stages = e.stageIds.size
    jobs.put(e.jobId, span)
    e.stageIds.foreach(s => stageJob.put(s, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageJob.get(e.stageId)
    if (span != null) span.synchronized {
      Option(e.taskMetrics).foreach { m =>
        span.taskMs += m.executorRunTime
        span.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        span.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      if (e.reason != org.apache.spark.Success) span.failedTasks += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(s => s.synchronized(s.endMs = e.time))

  def spans: Seq[JobSpan] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}

/** StreamingQueryListener keeping each progress event as a batch span
  * and the query id → name map the job spans are keyed by.
  */
class BatchTracer extends StreamingQueryListener {
  val names = new ConcurrentHashMap[String, String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    names.put(e.id.toString, e.name)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress.json.replaceAll("\\s+", ""))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One step of a micro-batch replay: cumulative time from the batch's
  * files to the step's materialized output, and the output's rows.
  */
case class Step(batch: String, step: String, seconds: Double, rows: Long) {
  def toJson: String = f"""{"batch":"$batch","step":"$step","seconds":$seconds%.6f,"rows":$rows}"""
}

/** Per-batch replay through the layers' public functions in order,
  * materializing (noop write) after each, as `EtlPhaseProbe` does: each
  * step recomputes from the batch's input, so a layer's self time is the
  * difference between consecutive steps. Spark fuses decode, normalize
  * and prune into one stage, which call sites cannot split.
  */
class Replay(spark: SparkSession, shadow: Derby) {
  import spark.implicits._
  val steps = ArrayBuffer.empty[Step]
  var quarantined = 0L
  var contractsBeforeDedup = 0L
  var contractsAfterDedup = 0L

  private def step(batch: String, name: String)(dfs: DataFrame*): Seq[Long] = {
    spark.sparkContext.setJobGroup(s"replay:$name", s"$batch $name")
    val obs = dfs.map(_ => Observation())
    val t0 = System.nanoTime()
    dfs.zip(obs).foreach { case (df, o) =>
      df.observe(o, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    }
    val s = (System.nanoTime() - t0) / 1e9
    val rows = obs.map(_.get("rows").asInstanceOf[Long])
    steps += Step(batch, name, s, rows.sum)
    spark.sparkContext.clearJobGroup()
    rows
  }

  /** The Kafka path: payload files → decode → normalize → prune → commit → render → upsert. */
  def microBatch(batch: String, chain: Long, files: Seq[String]): Unit = {
    val raw = spark.read.text(files: _*)
    step(batch, "scan")(raw)
    val (good, corrupt) = Ingest.decodeTraces(raw, chain)
    step(batch, "decode")(good)
    quarantined += corrupt.count()
    val norm = TraceEtl.normalize(good)
    step(batch, "normalize")(norm.toDF())
    step(batch, "prune")(TraceEtl.pruneNonZk(
      norm.filter(col("transaction_hash").isNotNull).as[TraceRow]).toDF())
    sinkSteps(batch, TraceEtl.commitTraces(norm))
  }

  /** The session path: its input files, then the sink layers over the
    * commits the stateful operator emitted in that batch (captured
    * by the traced drain).
    */
  def session(batch: String, files: Seq[String], captured: Option[String]): Unit = {
    if (files.nonEmpty)
      step(batch, "scan")(spark.read.schema(Encoders.product[TraceRow].schema).json(files: _*))
    captured.foreach(c => sinkSteps(batch, spark.read.parquet(c).as[TxCommit]))
  }

  private def sinkSteps(batch: String, commits: org.apache.spark.sql.Dataset[TxCommit]): Unit = {
    step(batch, "commit")(commits.toDF())
    val (txs, contracts) = TraceEtl.split(commits)
    val before = Observation()
    val (txOut, contractsOut) = Check.render(txs.toDF(),
      StreamingEtl.dedupContracts(contracts.toDF().observe(before, count(lit(1)).as("rows"))))
    val rows = step(batch, "render")(txOut, contractsOut)
    contractsBeforeDedup += before.get("rows").asInstanceOf[Long]
    contractsAfterDedup += rows(1)
    // the shadow database sees the drain's inserts and conflicts in the same order
    spark.sparkContext.setJobGroup("replay:upsert", s"$batch upsert")
    val t0 = System.nanoTime()
    JdbcUpsert.upsert(txOut.selectExpr(Tables.transactionColumns: _*), shadow.url,
      Tables.transactions, "derby")
    JdbcUpsert.upsert(contractsOut.selectExpr(Tables.contractColumns: _*), shadow.url,
      Tables.contracts, "derby")
    steps += Step(batch, "upsert", (System.nanoTime() - t0) / 1e9, rows.sum)
    spark.sparkContext.clearJobGroup()
  }
}

object Tracing {

  /** Files each micro-batch read, from the file source's log in the checkpoint. */
  def batchFiles(ckpt: File): Map[Long, Seq[String]] = {
    val log = new File(ckpt, "sources/0")
    val entries = Option(log.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().drop(1).toList))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    entries.map(mapper.readTree).map(n => n.get("batchId").asLong -> n.get("path").asText)
      .distinct.groupBy(_._1).map { case (b, ps) => b -> ps.map(_._2).sorted }
  }
}
