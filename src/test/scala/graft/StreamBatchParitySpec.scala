package graft

import graft.model._
import graft.operators.TraceEtl
import graft.streaming.StreamingEtl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming == batch parity: the stateful sessionizer fed the whole
  * sf0.001 synthetic corpus in micro-batch chunks must commit exactly
  * the transactions/contracts the batch pipeline produces.
  */
class StreamBatchParitySpec extends SparkSpec {

  test("sessionizer over the synthetic corpus matches the batch commit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val norm = TraceEtl.normalize(
      graft.sources.SyntheticTraces.fromTpch(spark, "/root/testdata/sf0.001"))
    val (bTx, bC) = TraceEtl.split(TraceEtl.commitTraces(norm))
    val batchTx = bTx.collect().map(_.toString).toSeq.sorted
    val batchC = bC.collect().map(_.toString).toSeq.sorted

    // feed in event-time order in 3 chunks + a watermark-advancing
    // sentinel; groups commit as the watermark passes their gap.
    // watermarkDelay must exceed the reordering window: a tx whose
    // equal-timestamp rows straddle a chunk boundary would otherwise
    // have its tail dropped as late (exactly the protection the delay
    // exists for in production).
    val rows = norm.collect().sortBy(_.block_timestamp.getOrElse(0L))
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    val mem = MemoryStream[TraceRow]
    val commits = StreamingEtl.sessionCommit(mem.toDS(),
      gapSeconds = 1L, watermarkDelay = "10 seconds")
    val q = commits.writeStream.format("memory")
      .queryName("parity_out").outputMode("append").start()
    try {
      chunks.foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val sentinel = rows.head.copy(transaction_hash = "0xsentinel",
        block_timestamp = Some(rows.last.block_timestamp.getOrElse(0L) + 1000000L))
      mem.addData(sentinel)
      q.processAllAvailable()
      mem.addData() // one more batch so pending timeouts fire
      q.processAllAvailable()

      val streamTx = spark.sql(
        "SELECT transaction.* FROM parity_out WHERE transaction IS NOT NULL")
        .as[TransactionOut].collect().map(_.toString).toSeq.sorted
      val streamC = spark.sql(
        "SELECT inline(contracts) FROM parity_out")
        .as[ContractOut].collect().map(_.toString).toSeq.sorted
      if (streamTx != batchTx)
        fail(s"transactions differ (stream=${streamTx.size} batch=${batchTx.size})\n" +
          "stream-only: " + streamTx.diff(batchTx).take(2).mkString(" | ") +
          "\nbatch-only: " + batchTx.diff(streamTx).take(2).mkString(" | "))
      if (streamC != batchC)
        fail(s"contracts differ (stream=${streamC.size} batch=${batchC.size})\n" +
          "stream-only: " + streamC.diff(batchC).take(2).mkString(" | ") +
          "\nbatch-only: " + batchC.diff(streamC).take(2).mkString(" | "))
    } finally q.stop()
  }

  test("classic sessionizer: timer never regresses on an earlier non-late timestamp") {
    import graft.model.Addresses
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TraceRow]
    val commits = StreamingEtl.sessionCommit(mem.toDS(),
      gapSeconds = 5L, watermarkDelay = "10 seconds")
    val q = commits.writeStream.format("memory")
      .queryName("classic_regress").outputMode("append").start()
    try {
      def tr(hash: String, to: String, root: Boolean, ta: Seq[Int], ts: Long) =
        TraceRow(1L, hash, Some(0), Some("0xa"), Some(to), None, Some("0x1234567890"),
          None, Some(10L), root, Some(1L), Some(ts), Some("0xb"), None)
      val rec = Addresses.EcRecover
      // same scenario as the tws variant: max-so-far 2000, then a
      // later batch delivers a NON-LATE trace at 1993; the persisted
      // running max must keep the session's close time at 2005+
      mem.addData(tr("0xm1", "0xb", root = true, Seq.empty, 2000L))
      q.processAllAvailable()
      mem.addData(tr("0xm1", rec, root = false, Seq(0), 1993L))
      q.processAllAvailable()
      mem.addData(tr("0xtick1", "0xb", root = true, Seq.empty, 2012L)) // wm -> 2002
      q.processAllAvailable()
      assert(spark.table("classic_regress")
        .filter("transaction.transaction_hash = '0xm1'").count() == 0,
        "session committed early: timeout regressed to the batch-local max")
      mem.addData(tr("0xm1", rec, root = false, Seq(1), 2003L)) // extends to 2008
      q.processAllAvailable()
      mem.addData(tr("0xtick2", "0xb", root = true, Seq.empty, 2030L)) // wm -> 2020
      q.processAllAvailable()
      mem.addData()
      q.processAllAvailable()
      val out = spark.sql("SELECT transaction.* FROM classic_regress " +
        "WHERE transaction IS NOT NULL AND transaction.transaction_hash = '0xm1'").collect()
      assert(out.length == 1, s"expected ONE commit of 0xm1, got ${out.length}")
      assert(out.head.getAs[Long]("ec_recover_count") == 2L,
        "commit missing traces that arrived after the would-be-regressed timeout")
    } finally q.stop()
  }

  test("native stream-stream interval join: flushed output == the batch " +
      "interval join, exactly") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    Queries.stageAll(spark, dir)
    val got = SparkEntry.queries("q_stream_interval_join")(spark, dir)
      .collect().map(_.toSeq).toSet
    // independent batch recompute of the same subset + interval
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val base = ev
      .withColumn("sec", Queries.eventSeconds(ev.schema("ts").dataType))
      .filter(col("user_id") % 8 === 0)
    val probes = base.filter(col("event_type") =!= "signup")
      .groupBy(col("user_id").as("key"), col("sec").as("probe_ts"))
      .agg(max("event_id").as("probe_id"))
    val states = base.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("s_key"), col("sec").as("state_ts"))
      .agg(max("event_id").as("state_id"))
    val batch = probes.join(states,
        col("key") === col("s_key") &&
          col("state_ts") >= col("probe_ts") - 3600 &&
          col("state_ts") <= col("probe_ts"))
      .select("key", "probe_id", "probe_ts", "state_id", "state_ts")
      .collect().map(_.toSeq).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("native stream-stream interval join over a sliced file replay: " +
      "state stays within the eviction horizon, inner and left outer") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Staging
    import spark.implicits._
    val nSlices = 8
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    def withTime(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("tag"), col("id"), col("ts"),
        col("ts").cast("timestamp").as("event_time"))
    val in = withTime(ev.select(col("user_id").as("key"),
        when(col("event_type") === "signup", 0).otherwise(1).as("tag"),
        col("event_id").as("id"),
        Queries.eventSeconds(ev.schema("ts").dataType).as("ts"))
      .groupBy("key", "tag", "ts").agg(max("id").as("id")))
    val work = java.nio.file.Files.createTempDirectory("ssj_horizon").toString
    val watch = s"$work/in"
    try {
      Staging.stageSlices(in, "ts", nSlices, watch)
      // far-future sentinels: the first advances the watermark past
      // every real row, the second gives eviction a batch to run in
      Staging.appendSentinels(watch, "ts", nSlices) { (k, ts) =>
        withTime(Seq((-1L, 0, -k.toLong, ts)).toDF("key", "tag", "id", "ts"))
      }
      // the replay contract: one file per slice, named and timed in
      // slice order, and no staging dir left behind
      val files = new java.io.File(watch).listFiles().sortBy(_.getName)
      assert(files.map(_.getName).toSeq ==
        (0 until nSlices + 2).map(i => f"slice_$i%04d_0.parquet"))
      assert(files.map(_.lastModified).toSeq ==
        (0 until nSlices + 2).map(i => 1700000000000L + i * 60000L))

      val staged = files.zipWithIndex.flatMap { case (f, i) =>
        spark.read.parquet(f.toString).select("tag", "ts").collect()
          .map(r => (i, r.getInt(0), r.getLong(1)))
      }
      val total = staged.length
      for (outer <- Seq(false, true)) {
        val stream = spark.readStream.schema(spark.read.parquet(watch).schema)
          .option("maxFilesPerTrigger", 1).parquet(watch)
        // outer: the sentinels must reach the probe watermark too
        val sentinel = if (outer) col("key") < 0 else lit(false)
        val probes = stream.filter(col("tag") === 1 || sentinel)
          .select(col("key"), col("id").as("probe_id"),
            col("ts").as("probe_ts"), col("event_time").as("p_time"))
          .withWatermark("p_time", "3600 seconds")
        val states = stream.filter(col("tag") === 0)
          .select(col("key").as("s_key"), col("id").as("state_id"),
            col("ts").as("state_ts"), col("event_time").as("s_time"))
          .withWatermark("s_time", "3600 seconds")
        val q = probes.join(states,
            col("key") === col("s_key") &&
              col("s_time") >= col("p_time") - expr("INTERVAL 3600 SECONDS") &&
              col("s_time") <= col("p_time"),
            if (outer) "leftOuter" else "inner")
          .select(col("key"), col("probe_id"), col("probe_ts"),
            col("state_id"), col("state_ts"))
          .writeStream.format("parquet")
          .option("path", s"$work/out_$outer")
          .option("checkpointLocation", s"$work/ck_$outer")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val progress = q.recentProgress.toSeq
        val stateRows = progress.map(
          _.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L))
        // without eviction state would accumulate toward the whole
        // stream; the horizon is ~one slice per side (+ the 3600 s
        // reach-back)
        assert(stateRows.max > 0L && stateRows.max <= total * 4L / nSlices,
          s"outer=$outer: state not bounded by the eviction horizon: " +
            s"peak ${stateRows.max} of $total rows")
        if (!outer) {
          // per batch, measured state == the per-side model: rows
          // arrived so far still above the batch's active watermark W
          // (probes with ts >= W, states with ts >= W - 3600)
          val ratios = progress.zip(stateRows)
            .filter(_._1.batchId < nSlices).flatMap { case (p, measured) =>
              val w = Option(p.eventTime.get("watermark"))
                .map(java.time.Instant.parse(_).getEpochSecond).getOrElse(0L)
              val modeled = staged.count { case (slice, tag, ts) =>
                slice <= p.batchId &&
                  (if (tag == 1) ts >= w else ts >= w - 3600L)
              }
              if (modeled > 0) Some(measured.toDouble / modeled) else None
            }
          assert(ratios.size >= nSlices / 2 &&
            ratios.max <= 1.1 && ratios.min >= 0.5,
            s"measured state diverges from the per-side model: $ratios")
        }
      }
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(work))
  }

  test("replayBatches delivers 3 staged slices and the 2 sentinel " +
      "slices as 5 batches of one file each, in slice order") {
    import org.apache.spark.sql.functions._
    import graft.sources.Staging
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("replay_batches").toString
    val watch = s"$work/in"
    try {
      Staging.stageSlices(spark.range(0, 300).select(col("id").as("ts")),
        "ts", 3, watch)
      Staging.appendSentinels(watch, "ts", 3)((_, ts) => Seq(ts).toDF("ts"))
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Long, Long)]
      Queries.replayBatches(spark, watch) { b =>
        val files = b.select(input_file_name()).distinct().as[String].collect()
          .map(f => f.substring(f.lastIndexOf('/') + 1)).toSeq
        val r = b.agg(min("ts"), max("ts")).head()
        batches += ((files, r.getLong(0), r.getLong(1)))
      }
      assert(batches.map(_._1).toSeq ==
        (0 until 5).map(i => Seq(f"slice_$i%04d_0.parquet")))
      assert(batches.map(b => (b._2, b._3)).toSeq == Seq((0L, 99L),
        (100L, 199L), (200L, 299L), (1000299L, 1000299L), (2000299L, 2000299L)))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(work))
  }

  test("foldWindows over 3 staged slices and the 2 sentinel slices " +
      "emits each window once, with the batch per-window count") {
    import org.apache.spark.sql.functions._
    import graft.sources.Staging
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("fold_windows").toString
    val watch = s"$work/in"
    try {
      Staging.stageSlices(spark.range(0, 300).select(col("id").as("ts")),
        "ts", 3, watch)
      Staging.appendSentinels(watch, "ts", 3)((_, ts) => Seq(ts).toDF("ts"))
      // 70 s windows: [70, 140) and [140, 210) span slice boundaries,
      // so their counts are carried and merged before they close
      val win = 70L
      def perWindow(df: org.apache.spark.sql.DataFrame) =
        df.groupBy((col("ts") - col("ts") % win).as("window_start"))
          .agg(count(lit(1)).as("n"))
      val out = Queries.foldWindows(spark, watch, win, col("window_start"))(
        perWindow) { (p, sk) =>
        p.unionByName(sk).groupBy("window_start").agg(sum("n").as("n"))
      }
      assert(out.columns.toSeq == Seq("window_start", "n"))
      val got = out.as[(Long, Long)].collect().toSeq.sorted
      val want = perWindow(spark.read.parquet(watch)).as[(Long, Long)]
        .collect().toSeq.sorted
      assert(got.map(_._1).distinct.size == got.size,
        s"a window was emitted more than once: $got")
      assert(got == want)
      assert(want.size == 7)
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(work))
  }
}
