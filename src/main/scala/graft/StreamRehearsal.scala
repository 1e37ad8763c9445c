package graft

import graft.model._
import graft.operators.TraceEtl
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming load rehearsal — the streaming twin of graft.ScaleRehearsal:
  * drives the stateful operators (the flatMapGroupsWithState
  * sessionizer, TwsAsof, TwsNearDup, ...) with a real file
  * stream at sf1 volume and records, per micro-batch: duration, input
  * rows, state-store rows/memory, and the event-time watermark — plus
  * an end-state parity checksum against the batch path (computed
  * distributed, never collected).
  *
  *   sbt "runMain graft.StreamRehearsal [sfDir] [nSlices]"
  *
  * Input staging: the corpus is sliced into `nSlices` time-range
  * parquet files with strictly increasing modification times, so the
  * file source (maxFilesPerTrigger=1, Trigger.AvailableNow) replays
  * them as an ordered stream of micro-batches — arrival order mirrors
  * event time the way a live topic would, and the 10 s watermark
  * delay covers within-slice disorder exactly as it would cover
  * consumer reordering in production. Two far-future sentinel slices
  * close the stream: the first advances the watermark past every real
  * session, the second gives the timers a batch to fire in (watermark
  * updates are visible one batch later); sentinel keys are excluded
  * from parity.
  */
object StreamRehearsal {

  private case class B(batchId: Long, rows: Long, ms: Long, stateRows: Long,
      stateMB: Double, watermark: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val nSlices = if (args.length > 1) args(1).toInt else 20
    // optional scenario filter: comma-separated subset of
    // 2..13 (e.g. "6" re-runs only the interval joins, "7" the SCD-2
    // CDC merge loop, "8" the mergeable sketch streams)
    val only: Int => Boolean =
      if (args.length > 2) args(2).split(',').map(_.toInt).toSet else (_ => true)
    val work = "/root/repo/tmp/stream_rehearsal"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(work))
    try run(spark, sfDir, nSlices, work, only)
    finally spark.stop()
  }

  // ---------------------------------------------------------------- staging

  /** Write `df` as `nSlices` single-file time-range slices under
    * `watchDir`, modification times strictly increasing with the time
    * range, so FileStreamSource replays them in event-time order.
    */
  private[graft] def stageSlices(df: DataFrame, tsCol: String, nSlices: Int,
      stageDir: String, watchDir: String): Unit = {
    val r = df.agg(min(col(tsCol)), max(col(tsCol))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val width = math.max((mx - mn) / nSlices + 1, 1L)
    df.withColumn("_slice",
        least(floor((col(tsCol) - mn) / width), lit(nSlices - 1)).cast("int"))
      .repartition(col("_slice"))
      .write.partitionBy("_slice").mode("overwrite").parquet(stageDir)
    moveSlices(stageDir, watchDir, 0)
  }

  /** Move `_slice=i` part files into the watch dir as slice_<i>_<j>
    * with mtime base+i — the file source orders on (mtime, path).
    */
  private[graft] def moveSlices(stageDir: String, watchDir: String, idxOffset: Int): Unit = {
    val base = 1700000000000L
    new java.io.File(watchDir).mkdirs()
    val stage = new java.io.File(stageDir)
    stage.listFiles().filter(_.getName.startsWith("_slice=")).sortBy(_.getName).foreach { d =>
      val i = d.getName.stripPrefix("_slice=").toInt + idxOffset
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, j) =>
          val dst = new java.io.File(watchDir, f"slice_$i%04d_$j.parquet")
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.setLastModified(base + i * 60000L)
      }
    }
  }

  // ---------------------------------------------------------------- driving

  /** Run a streaming Dataset to a parquet sink with AvailableNow and
    * return (wall seconds, per-batch metrics from query progress).
    */
  private def drive(out: Dataset[_], outDir: String, ckDir: String): (Double, Seq[B]) = {
    val t0 = System.nanoTime()
    val q = out.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val ms = q.recentProgress.toIndexedSeq.map { p =>
      val so = p.stateOperators.headOption
      B(p.batchId, p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        so.map(_.numRowsTotal).getOrElse(0L),
        so.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        Option(p.eventTime.get("watermark")).getOrElse("-"))
    }
    (wall, ms)
  }

  private def report(name: String, wall: Double, bs: Seq[B]): Unit = {
    println(s"\n### $name")
    println("| batch | input rows | duration ms | state rows | state MB | watermark |")
    println("|---|---|---|---|---|---|")
    bs.foreach(b => println(
      f"| ${b.batchId} | ${b.rows} | ${b.ms} | ${b.stateRows} | ${b.stateMB}%.1f | ${b.watermark} |"))
    val rows = bs.map(_.rows).sum
    println(f"$name: wall $wall%.1f s, $rows rows, ${bs.size} batches, " +
      f"peak state rows ${if (bs.isEmpty) 0L else bs.map(_.stateRows).max}, " +
      f"peak state ${if (bs.isEmpty) 0.0 else bs.map(_.stateMB).max}%.1f MB, " +
      f"throughput ${rows / math.max(wall, 0.001)}%.0f rows/s")
  }

  /** Distributed order-insensitive checksum: (row count, sum of
    * per-row xxhash64 over the name-sorted JSON projection).
    */
  private def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def assertParity(what: String, stream: DataFrame, batch: DataFrame): Unit = {
    val (sc, sh) = checksum(stream)
    val (bc, bh) = checksum(batch)
    val ok = sc == bc && sh.compareTo(bh) == 0
    println(s"parity[$what]: stream=($sc, $sh) batch=($bc, $bh) " +
      (if (ok) "MATCH" else "MISMATCH"))
    require(ok, s"$what: stream/batch parity failed")
  }

  // ---------------------------------------------------------------- scenarios

  def run(spark: SparkSession, sfDir: String, nSlices: Int, work: String,
      only: Int => Boolean = _ => true): Unit = {
    import spark.implicits._

    // ---- corpus: normalized traces, staged once for the sessionizer
    val norm = TraceEtl.normalize(graft.sources.SyntheticTraces.fromTpch(spark, sfDir))
      .filter(col("transaction_hash").isNotNull && col("block_timestamp").isNotNull)
    if (only(2)) locally {
    val traceWatch = s"$work/traces_in"
    stageSlices(norm.toDF(), "block_timestamp", nSlices, s"$work/traces_stage", traceWatch)
    val mx = spark.read.parquet(traceWatch).agg(max("block_timestamp")).head().getLong(0)
    // sentinel slices: advance the watermark, then give timers a batch
    Seq(
      (nSlices, TraceRow(1L, "0xsentinel1", Some(0), Some("0xa"), Some("0xb"), None,
        Some("0x00"), None, Some(1L), is_root = true, Some(1L),
        Some(mx + 1000000L), Some("0xb"), None)),
      (nSlices + 1, TraceRow(1L, "0xsentinel2", Some(0), Some("0xa"), Some("0xb"), None,
        Some("0x00"), None, Some(1L), is_root = true, Some(1L),
        Some(mx + 2000000L), Some("0xb"), None)),
    ).foreach { case (i, row) =>
      Seq(row).toDS().withColumn("_slice", lit(i))
        .write.partitionBy("_slice").mode("overwrite").parquet(s"$work/sent_$i")
      moveSlices(s"$work/sent_$i", traceWatch, 0)
    }
    val traceSchema = spark.read.parquet(traceWatch).schema
    def traceStream: Dataset[TraceRow] =
      spark.readStream.schema(traceSchema)
        .option("maxFilesPerTrigger", 1).parquet(traceWatch).as[TraceRow]

    // batch reference for parity (no sentinels: computed from `norm`)
    val (bTx, bC) = TraceEtl.split(TraceEtl.commitTraces(norm))
    val t0 = System.nanoTime()
    val bTxDf = bTx.toDF().persist(); val bCDf = bC.toDF().persist()
    val batchRows = bTxDf.count() + bCDf.count()
    val batchSec = (System.nanoTime() - t0) / 1e9
    println(f"batch commit reference: $batchRows rows in $batchSec%.1f s")

    def sessionParity(outDir: String, what: String): Unit = {
      val outp = spark.read.parquet(outDir)
      val sTx = outp.filter(col("transaction").isNotNull &&
          !col("transaction.transaction_hash").startsWith("0xsentinel"))
        .select("transaction.*")
      // sentinels never commit (their timers outlive the last batch)
      // and call no precompiles, so contracts need no sentinel filter
      val sC = outp.select(explode(col("contracts")).as("c")).select("c.*")
      assertParity(s"$what transactions", sTx, bTxDf)
      assertParity(s"$what contracts", sC, bCDf)
    }

    // ---- 2) flatMapGroupsWithState sessionizer
    val (wall, bs) = drive(
      graft.streaming.StreamingEtl.sessionCommit(traceStream, gapSeconds = 1L),
      s"$work/fmgws_out", s"$work/fmgws_ck")
    report("StreamingEtl.sessionCommit (flatMapGroupsWithState)", wall, bs)
    sessionParity(s"$work/fmgws_out", "fmgws")
    }

    // ---- shared (key, tag, id, ts, event_time) sliced replay input:
    // unique (key, tag, ts) so equal-ts resolution ties cannot differ
    // between the streaming operator and the batch window form; used
    // by the as-of join (3) and the stream-stream interval join (6)
    val asofIn = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id").as("key"),
        when(col("event_type") === "signup", 0).otherwise(1).as("tag"),
        col("event_id").as("id"),
        Queries.eventSeconds(spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType)
          .as("ts"))
      .groupBy("key", "tag", "ts").agg(max("id").as("id"))
      .select(col("key"), col("tag"), col("id"), col("ts"),
        col("ts").cast("timestamp").as("event_time"))
    val asofWatch = s"$work/asof_in"
    if (only(3) || only(6)) locally {
    stageSlices(asofIn, "ts", nSlices, s"$work/asof_stage", asofWatch)
    val amx = spark.read.parquet(asofWatch).agg(max("ts")).head().getLong(0)
    Seq((nSlices, (-1L, 0, -1L, amx + 1000000L)),
        (nSlices + 1, (-1L, 0, -2L, amx + 2000000L))).foreach { case (i, (k, tg, id, ts)) =>
      Seq((k, tg, id, ts)).toDF("key", "tag", "id", "ts")
        .select(col("key"), col("tag"), col("id"), col("ts"),
          col("ts").cast("timestamp").as("event_time"))
        .withColumn("_slice", lit(i))
        .write.partitionBy("_slice").mode("overwrite").parquet(s"$work/asent_$i")
      moveSlices(s"$work/asent_$i", asofWatch, 0)
    }
    }

    // ---- 3) streaming as-of join at 1M events
    if (only(3)) locally {
      val aSchema = spark.read.parquet(asofWatch).schema
      val aStream = spark.readStream.schema(aSchema)
        .option("maxFilesPerTrigger", 1).parquet(asofWatch)
        .as[graft.streaming.AsofInput]
      val (wall, bs) = drive(graft.streaming.TwsAsof.asofKeyed(aStream),
        s"$work/asof_out", s"$work/asof_ck")
      report("TwsAsof.asofKeyed (transformWithState, RocksDB)", wall, bs)

      // batch reference: AsofJoin.keyed over the same probe/state split
      val probes = asofIn.filter(col("tag") === 1)
        .select(col("key"), col("ts"), col("id").as("probe_id"))
      val states = asofIn.filter(col("tag") === 0)
        .select(col("key"), col("ts"), col("id").as("state_id"))
      val bAsof = graft.operators.AsofJoin.keyed(
          probes, states, Seq("key"), "ts", Seq("state_id"))
        .select(col("key"), col("probe_id"), col("ts").as("probe_ts"),
          col("asof_state_id").as("state_id"))
      val sAsof = spark.read.parquet(s"$work/asof_out")
        .filter(col("key") >= 0)
        .select(col("key"), col("probe_id"), col("probe_ts"), col("state_id"))
      assertParity("asof", sAsof, bAsof)
    }

    // ---- 4) streaming curation: high-duplicate document stream
    if (only(4)) locally {
      // amplify the corpus into 20 arrival waves of exact duplicates
      // (every wave re-delivers every document): the dedup seen-set is
      // the only stateful piece, so this is its stress shape — state
      // must plateau at the DISTINCT count while 95% of input drops
      val reps = 20
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val amplified = docs
        .select(col("doc_id"), col("text"), explode(sequence(lit(0), lit(reps - 1))).as("rep"))
        .select((col("doc_id") * reps + col("rep")).as("doc_id"), col("text"),
          (col("rep") * 100000L + col("doc_id") % 100000L).as("ts"))
      val curWatch = s"$work/cur_in"
      stageSlices(amplified, "ts", nSlices, s"$work/cur_stage", curWatch)
      val cSchema = spark.read.parquet(curWatch).schema
      val cStream = spark.readStream.schema(cSchema)
        .option("maxFilesPerTrigger", 1).parquet(curWatch)
      // no sentinels: dropDuplicates has no timers — rows emit in
      // their own batch and the seen-set simply persists
      val (wall, bs) = drive(
        graft.llm.StreamingCuration.curateStream(cStream, "doc_id", "text"),
        s"$work/cur_out", s"$work/cur_ck")
      report("StreamingCuration.curateStream (dropDuplicates seen-set)", wall, bs)
      // parity on the KEPT CONTENT SET: which doc_id survives a
      // duplicate group depends on arrival order (stream) vs plan
      // order (batch), but the gated distinct-hash set must agree
      val sSet = spark.read.parquet(s"$work/cur_out").select("text_hash")
      val bSet = graft.llm.StreamingCuration.curateStream(
        amplified, "doc_id", "text").select("text_hash")
      assertParity("curation kept-hash set", sSet, bSet)
    }

    // ---- 5) cross-batch LSH near-dup: band-keyed state, bucket-bounded
    if (only(5)) locally {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nDocs = docs.count()
      val ndWatch = s"$work/nd_in"
      stageSlices(docs.withColumn("ts", col("doc_id")), "ts", nSlices,
        s"$work/nd_stage", ndWatch)
      val ndStream = spark.readStream
        .schema(spark.read.parquet(ndWatch).schema)
        .option("maxFilesPerTrigger", 1).parquet(ndWatch)
      val (wall, bs) = drive(
        graft.streaming.TwsNearDup.nearDupPairsStream(
          ndStream, "doc_id", "text", capPerBucket = Int.MaxValue).toDF(),
        s"$work/nd_out", s"$work/nd_ck")
      report("TwsNearDup.nearDupPairsStream (transformWithState, RocksDB)", wall, bs)
      // state rows = occupied (band, key) buckets — hard-bounded by
      // bands × documents regardless of how many batches streamed
      val bandBound = graft.streaming.TwsNearDup.bandCount().toLong * nDocs
      val peak = if (bs.isEmpty) 0L else bs.map(_.stateRows).max
      require(peak <= bandBound,
        s"near-dup state exceeded the bucket bound: $peak > $bandBound")
      // unbounded cap ⇒ emitted pair set equals the batch banding twin
      val sPairs = spark.read.parquet(s"$work/nd_out")
        .select("id1", "id2").distinct()
      val bPairs = graft.llm.DedupOps.minhashSignaturePairs(docs, "doc_id", "text")
        .select(col("id1"), col("id2"))
      assertParity("near-dup candidate pairs", sPairs, bPairs)
    }

    // ---- 6) NATIVE stream-stream interval join under sustained load:
    // FULL key domain (the catalog entry streams a key%8 subset — this
    // is the load twin), same 1h range condition. The claim under test
    // is the 100 TB state bound: the time-RANGE condition lets the
    // symmetric hash join EVICT — a probe row once the watermark
    // passes p_time (no future state can reach back), a state row once
    // it passes s_time + 3600 (no future probe can reach forward) — so
    // state must hold ~one eviction horizon of each side, NOT the
    // stream. Measured per batch below (numRowsTotal/MB of the join's
    // four stores), next to the per-side MODELED retention computed
    // from the staged slices and the PREVIOUS batch's watermark
    // (eviction runs one batch behind the advance).
    if (only(6)) locally {
      val schema = spark.read.parquet(asofWatch).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(asofWatch)
      val probes = stream.filter(col("tag") === 1)
        .select(col("key"), col("id").as("probe_id"), col("ts").as("probe_ts"),
          col("event_time").as("p_time"))
        .withWatermark("p_time", "3600 seconds")
      val states = stream.filter(col("tag") === 0)
        .select(col("key").as("s_key"), col("id").as("state_id"),
          col("ts").as("state_ts"), col("event_time").as("s_time"))
        .withWatermark("s_time", "3600 seconds")
      val joined = probes.join(states,
        col("key") === col("s_key") &&
          col("s_time") >= col("p_time") - expr("INTERVAL 3600 SECONDS") &&
          col("s_time") <= col("p_time"))
        .select(col("key"), col("probe_id"), col("probe_ts"),
          col("state_id"), col("state_ts"))
      val (wall, bs) = drive(joined, s"$work/ssj_out", s"$work/ssj_ck")
      // numInputRows double-counts here: the one file source feeds both
      // join branches, so each staged row is reported twice
      report("stream-stream interval join (symmetric hash, RocksDB)", wall, bs)

      // Modeled per-side retention after batch b, from first
      // principles: rows arrived by batch b (slice index from the file
      // name) still above batch b's ACTIVE watermark W — probes with
      // p_time >= W (a future state has s_time >= W, so p_time < W can
      // never satisfy s_time <= p_time again), states with
      // s_time >= W - 3600 (a future probe has p_time >= W, so
      // s_time + 3600 < W is out of its reach-back). The measured
      // numRowsTotal must track modeled probe + state — the per-side
      // decomposition — and stay FLAT at the horizon instead of
      // accumulating toward the stream size.
      val staged = spark.read.parquet(asofWatch)
        .withColumn("slice", regexp_extract(input_file_name(),
          "slice_(\\d+)_", 1).cast("int"))
        .select("slice", "tag", "ts").persist()
      def wmSec(s0: String): Long =
        if (s0 == "-") 0L else java.time.Instant.parse(s0).getEpochSecond
      println("| batch | wm | modeled probe rows | modeled state rows | modeled total | measured |")
      println("|---|---|---|---|---|---|")
      val dataBatches = bs.filter(_.batchId < nSlices)
      var flatRatios = List.empty[Double]
      for (b <- dataBatches) {
        val wm = wmSec(b.watermark)
        val r = staged.filter(col("slice") <= b.batchId)
          .agg(
            sum(when(col("tag") === 1 && col("ts") >= wm, 1L).otherwise(0L)),
            sum(when(col("tag") === 0 && col("ts") >= wm - 3600L, 1L).otherwise(0L)))
          .head()
        val (mp, ms) = (r.getLong(0), r.getLong(1))
        if (mp + ms > 0) flatRatios ::= b.stateRows.toDouble / (mp + ms)
        println(s"| ${b.batchId} | $wm | $mp | $ms | ${mp + ms} | ${b.stateRows} |")
      }
      val total = staged.count()
      staged.unpersist()
      val peak = bs.map(_.stateRows).max
      println(f"interval-join state: peak $peak rows over $total input rows " +
        f"(${100.0 * peak / total}%.1f%%), measured/modeled ratio " +
        f"min ${flatRatios.min}%.2f max ${flatRatios.max}%.2f")
      // no eviction would accumulate toward 100% of the stream; the
      // horizon is ~one slice per side (+ the 3600 s reach-back)
      require(peak <= total * 4 / nSlices,
        s"interval-join state not bounded by the eviction horizon: $peak of $total")
      // the measured total must actually BE the modeled per-side sum
      // (boundary semantics allow a whisker, never a multiple)
      require(flatRatios.max <= 1.1 && flatRatios.min >= 0.5,
        s"measured state diverges from the per-side model: $flatRatios")

      // parity: flushed stream output == the batch BETWEEN join
      val bJoin = asofIn.filter(col("tag") === 1)
        .select(col("key"), col("id").as("probe_id"), col("ts").as("probe_ts"))
        .join(asofIn.filter(col("tag") === 0)
            .select(col("key"), col("id").as("state_id"), col("ts").as("state_ts")),
          Seq("key"))
        .filter(col("state_ts") >= col("probe_ts") - 3600L &&
          col("state_ts") <= col("probe_ts"))
        .select("key", "probe_id", "probe_ts", "state_id", "state_ts")
      val sJoin = spark.read.parquet(s"$work/ssj_out").filter(col("key") >= 0)
      assertParity("interval join", sJoin, bJoin)

      // ---- LEFT OUTER twin at the same volume: identical stores and
      // condition-derived eviction thresholds; the delta under load is
      // that eviction EMITS the unmatched probes (null-padded), so the
      // output is probe-sized (~750k at sf1) and its completeness IS
      // the eviction trajectory — every probe row must leave state
      // exactly once, one batch after the watermark passes it. The
      // sentinels ride BOTH streams here (see the catalog entry's
      // emission-timing argument) so the final watermark clears every
      // real probe.
      val probesO = stream.filter(col("tag") === 1 || col("key") < 0)
        .select(col("key"), col("id").as("probe_id"), col("ts").as("probe_ts"),
          col("event_time").as("p_time"))
        .withWatermark("p_time", "3600 seconds")
      val joinedO = probesO.join(states,
        col("key") === col("s_key") &&
          col("s_time") >= col("p_time") - expr("INTERVAL 3600 SECONDS") &&
          col("s_time") <= col("p_time"),
        "leftOuter")
        .select(col("key"), col("probe_id"), col("probe_ts"),
          col("state_id"), col("state_ts"))
      val (wallO, bsO) = drive(joinedO, s"$work/ssjo_out", s"$work/ssjo_ck")
      report("stream-stream interval join LEFT OUTER (symmetric hash, RocksDB)",
        wallO, bsO)
      val peakO = bsO.map(_.stateRows).max
      require(peakO <= total * 4 / nSlices,
        s"outer interval-join state not bounded by the eviction horizon: $peakO of $total")
      val bOuter = asofIn.filter(col("tag") === 1)
        .select(col("key"), col("id").as("probe_id"), col("ts").as("probe_ts"))
        .join(asofIn.filter(col("tag") === 0)
            .select(col("key").as("s_key"), col("id").as("state_id"),
              col("ts").as("state_ts")),
          col("key") === col("s_key") &&
            col("state_ts") >= col("probe_ts") - 3600L &&
            col("state_ts") <= col("probe_ts"),
          "left")
        .select("key", "probe_id", "probe_ts", "state_id", "state_ts")
      val sOuter = spark.read.parquet(s"$work/ssjo_out").filter(col("key") >= 0)
      assertParity("interval join LEFT OUTER", sOuter, bOuter)
    }

    // ---- scenario 7: SCD-2 streaming CDC merge loop at sf1 --------
    // q_scd2_stream_merge's shape at volume: the 500k-row changeset
    // half in 8 sequential micro-batches + a REDELIVERY of slice 3,
    // foreachBatch merging into a parquet-persisted temporal table
    // (batch N's merge is batch N+1's base — the lakehouse MERGE
    // loop). "State" here is the table itself; the rehearsal measures
    // its growth per batch and requires it equal the changelog's
    // insert count exactly (growth bounded by the changeset, never
    // the table), requires the redelivered batch to be a pure-stale
    // no-op, and checks stream-vs-batch parity of the concatenated
    // changelog + final table against an eager sequential replay of
    // the same slice files.
    if (only(7)) locally {
      import graft.operators.Scd2
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val ev = evRaw.select(col("user_id"),
        Queries.eventSeconds(evRaw.schema("ts").dataType).as("sec"),
        col("event_type"), col("event_id"))
      val mid = ev.agg(expr("(min(sec) + max(sec)) DIV 2").as("mid"))
      val evM = ev.crossJoin(broadcast(mid))
      val w0 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
      evM.filter(col("sec") <= col("mid"))
        .select(col("user_id"), col("sec").as("valid_from"),
          col("event_type"), col("event_id"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w0))
        .write.mode("overwrite").parquet(s"$work/scd2_base_0")
      val delta = evM.filter(col("sec") > col("mid"))
        .select(col("user_id"), col("sec").as("ts"),
          col("event_type"), col("event_id"))
      val cdcSlices = 8
      val watch = s"$work/scd2_in"
      stageSlices(delta, "ts", cdcSlices, s"$work/scd2_stage", watch)
      // redeliver slice 3 as slice 8: stream idempotence under load
      val redSrc = new java.io.File(watch).listFiles()
        .filter(_.getName.startsWith(f"slice_${3}%04d")).minBy(_.getName)
      val redDst = new java.io.File(watch, f"slice_$cdcSlices%04d_0.parquet")
      java.nio.file.Files.copy(redSrc.toPath, redDst.toPath)
      redDst.setLastModified(1700000000000L + cdcSlices * 60000L)

      val keyCols = Seq("user_id")
      val attrs = Seq("event_type", "event_id")
      val logCols = Seq("batch", "action", "user_id", "valid_from",
        "event_type", "event_id", "valid_to")
      var basePath = s"$work/scd2_base_0"
      var idx = 0
      val schema = spark.read.parquet(watch).schema
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(watch)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val base = spark.read.parquet(basePath)
            val d = b.select("user_id", "ts", "event_type", "event_id")
            Scd2.changelog(base, d, keyCols, attrs, tieCols = Seq("event_id"))
              .withColumn("batch", lit(idx)).select(logCols.map(col): _*)
              .write.mode("append").parquet(s"$work/scd2_log")
            Scd2.mergeApply(base, d, keyCols, attrs, tieCols = Seq("event_id"))
              .write.parquet(s"$work/scd2_base_${idx + 1}")
            basePath = s"$work/scd2_base_${idx + 1}"
            idx += 1
          }
        }
        .option("checkpointLocation", s"$work/scd2_ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val nBatches = idx

      val log = spark.read.parquet(s"$work/scd2_log").persist()
      val acts = log.groupBy("batch", "action").count().collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val touched = log.filter(col("action") =!= "stale")
        .groupBy("batch").agg(countDistinct("user_id").as("k")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val baseCounts = (0 to nBatches)
        .map(i => spark.read.parquet(s"$work/scd2_base_$i").count())
      println(f"\nSCD-2 CDC merge loop (sf1, $nBatches batches incl. " +
        f"redelivery): $wall%.1f s wall")
      println("| batch | closes | inserts | stales | touched keys | table rows after | growth |")
      println("|---|---|---|---|---|---|---|")
      for (i <- 0 until nBatches) {
        val (c, ins, st) = (acts.getOrElse((i, "close"), 0L),
          acts.getOrElse((i, "insert"), 0L), acts.getOrElse((i, "stale"), 0L))
        val growth = baseCounts(i + 1) - baseCounts(i)
        println(s"| $i | $c | $ins | $st | ${touched.getOrElse(i, 0L)} | " +
          s"${baseCounts(i + 1)} | +$growth |")
        // the temporal table grows by EXACTLY the effective changeset —
        // never by the table (the 100 TB property: per-batch cost and
        // growth are changeset-bounded)
        require(growth == ins,
          s"batch $i: table growth $growth != changelog inserts $ins")
        // a touched key closes at most one open row
        require(c <= touched.getOrElse(i, 0L),
          s"batch $i: more closes ($c) than touched keys")
      }
      // the redelivered batch is a pure-stale no-op
      val lastIns = acts.getOrElse((nBatches - 1, "insert"), 0L)
      val lastStale = acts.getOrElse((nBatches - 1, "stale"), 0L)
      val redRows = spark.read.parquet(redDst.toString).count()
      require(lastIns == 0L && lastStale == redRows,
        s"redelivered batch must be all-stale: inserts=$lastIns " +
          s"stales=$lastStale redelivered=$redRows")
      require(baseCounts(nBatches) == baseCounts(nBatches - 1),
        "redelivered batch must not grow the table")

      // parity: stream output (concatenated changelog + final table)
      // == an eager sequential replay of the same ordered slice files
      val sliceFiles = new java.io.File(watch).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      var bBase = spark.read.parquet(s"$work/scd2_base_0")
      var bLogs = List.empty[DataFrame]
      for ((f, i) <- sliceFiles.zipWithIndex) {
        val d = spark.read.parquet(f.toString)
          .select("user_id", "ts", "event_type", "event_id")
        bLogs :+= Scd2.changelog(bBase, d, keyCols, attrs,
          tieCols = Seq("event_id"))
          .withColumn("batch", lit(i)).select(logCols.map(col): _*)
        bBase = Scd2.mergeApply(bBase, d, keyCols, attrs,
          tieCols = Seq("event_id")).localCheckpoint()
      }
      val finCols = (df: DataFrame, b: Int) => df
        .withColumn("batch", lit(b)).withColumn("action", lit("final"))
        .select(logCols.map(col): _*)
      val streamOut = log.select(logCols.map(col): _*)
        .unionByName(finCols(spark.read.parquet(s"$work/scd2_base_$nBatches"),
          nBatches))
      val batchOut = bLogs.reduce(_ unionByName _)
        .unionByName(finCols(bBase, sliceFiles.length))
      assertParity("scd2 cdc changelog + final table", streamOut, batchOut)
      log.unpersist()
    }

    // ---- scenario 8: mergeable sketch streams at sf1 --------------
    // q_sketch_kmv_stream / q_sketch_cms_stream at volume: the events
    // corpus replayed as micro-batches through the SAME cores as the
    // catalog entries (kmvKmin/kmvMerge, cmsCounters/cmsMerge). The
    // between-batch state IS the sketch, so the rehearsal measures the
    // persisted state table at EVERY batch and requires:
    //  - KMV: state set-equal to the whole-PREFIX sketch (mergeability
    //    measured at volume, not assumed) and rows ≤ k·|groups|;
    //  - CMS: state cellwise-equal to the whole-prefix counter frame
    //    and rows ≤ depth·width;
    //  - final estimates == the whole-corpus batch twins (the catalog
    //    oracle's surface).
    if (only(8)) locally {
      import graft.llm.SketchOps
      val (k, depth, width, topK) = (128, 4, 1024, 20)
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val ev = evRaw.select(col("event_type"),
        col("user_id").cast("string").as("term"),
        Queries.eventSeconds(evRaw.schema("ts").dataType).as("ts"))
      val slices = 10
      val watch = s"$work/sketch_in"
      stageSlices(ev, "ts", slices, s"$work/sketch_stage", watch)
      val sliceFiles = new java.io.File(watch).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      var kmvPath: Option[String] = None
      var cmsPath: Option[String] = None
      var idx = 0
      val schema = spark.read.parquet(watch).schema
      val t0 = System.nanoTime()
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(watch)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val bk = SketchOps.kmvKmin(b, "event_type", "term", k)
            val mergedK = kmvPath match {
              case None => bk
              case Some(p) => SketchOps.kmvMerge(spark.read.parquet(p), bk, k)
            }
            mergedK.write.parquet(s"$work/sketch_kmv_${idx + 1}")
            kmvPath = Some(s"$work/sketch_kmv_${idx + 1}")
            val bc = SketchOps.cmsCounters(b, "term", depth, width)
            val mergedC = cmsPath match {
              case None => bc
              case Some(p) => SketchOps.cmsMerge(spark.read.parquet(p), bc)
            }
            mergedC.write.parquet(s"$work/sketch_cms_${idx + 1}")
            cmsPath = Some(s"$work/sketch_cms_${idx + 1}")
            idx += 1
          }
        }
        .option("checkpointLocation", s"$work/sketch_ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val nBatches = idx
      require(nBatches == sliceFiles.length,
        s"expected ${sliceFiles.length} batches, got $nBatches")
      // set equality via union-distinct (both frames are duplicate-free
      // by construction: (source, h) / (i, bucket) keys)
      def setEqual(a: DataFrame, b: DataFrame): Boolean = {
        val n = a.count()
        b.count() == n && a.unionByName(b).distinct().count() == n
      }
      println(f"\nmergeable sketch streams (sf1, $nBatches batches): " +
        f"$wall%.1f s wall")
      println("| batch | batch rows | kmv state rows | k·groups bound | " +
        "kmv prefix parity | cms cells | depth·width bound | cms prefix parity |")
      println("|---|---|---|---|---|---|---|---|")
      for (i <- 1 to nBatches) {
        val prefix = sliceFiles.take(i)
          .map(f => spark.read.parquet(f.toString))
          .reduce(_ unionByName _)
        val state = spark.read.parquet(s"$work/sketch_kmv_$i")
        val stateRows = state.count()
        val groups = prefix.select("event_type").distinct().count()
        val kParity = setEqual(state,
          SketchOps.kmvKmin(prefix, "event_type", "term", k))
        val cstate = spark.read.parquet(s"$work/sketch_cms_$i")
        val cRows = cstate.count()
        val cParity = setEqual(cstate,
          SketchOps.cmsCounters(prefix, "term", depth, width))
        val bRows = spark.read.parquet(sliceFiles(i - 1).toString).count()
        println(s"| ${i - 1} | $bRows | $stateRows | ${k * groups} | " +
          s"${if (kParity) "MATCH" else "MISMATCH"} | $cRows | " +
          s"${depth * width} | ${if (cParity) "MATCH" else "MISMATCH"} |")
        require(stateRows <= k * groups,
          s"batch ${i - 1}: kmv state $stateRows > bound ${k * groups}")
        require(kParity, s"batch ${i - 1}: kmv state != whole-prefix sketch")
        require(cRows <= depth * width,
          s"batch ${i - 1}: cms state $cRows > bound ${depth * width}")
        require(cParity, s"batch ${i - 1}: cms state != whole-prefix counters")
      }
      // final outputs == the whole-corpus batch twins (the catalog
      // entries' oracle surface)
      assertParity("kmv stream estimate",
        SketchOps.kmvEstimate(spark.read.parquet(kmvPath.get), k),
        SketchOps.kmvEstimate(
          SketchOps.kmvKmin(ev, "event_type", "term", k), k))
      val candidates = SketchOps.cmsTopCandidates(
        ev.select(col("term")), "term", topK)
      assertParity("cms stream probe",
        SketchOps.cmsProbe(spark.read.parquet(cmsPath.get), candidates,
          depth, width),
        SketchOps.cmsHeavyHitters(ev.select(col("term")), "term",
          depth, width, topK))
    }

    // ---- scenario 9: WINDOWED sketch stream with watermark eviction
    // q_sketch_kmv_window_stream at volume: per batch the windowed
    // sketch (window start inside the group key) merges into the
    // carried state, the event-time watermark closes passed windows —
    // emitted once, dropped from state. Requires, at EVERY batch:
    //  - state rows ≤ open_windows × groups × k (the windowed bound);
    //  - no closed window still carried (eviction really happens);
    //  - emitted ∪ open set-equal to the whole-PREFIX windowed sketch
    //    (eviction loses nothing, carries nothing extra);
    // and the final estimates == the whole-corpus batch twin.
    if (only(9)) locally {
      import graft.llm.SketchOps
      val (k, win) = (32, 604800L)
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val ev = evRaw.select(col("event_type"),
        col("user_id").cast("string").as("term"),
        Queries.eventSeconds(evRaw.schema("ts").dataType).as("ts"))
      val slices = 10
      val watch = s"$work/wsketch_in"
      stageSlices(ev, "ts", slices, s"$work/wsketch_stage", watch)
      val sliceFiles = new java.io.File(watch).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      def windowed(df: DataFrame) = df.withColumn("wsrc",
        SketchOps.windowedKey(col("ts"), win, col("event_type")))
      val wsOf = substring_index(col("source"), "|", 1).cast("long")
      var openPath: Option[String] = None
      var wm = Long.MinValue
      var emittedAny = false
      var idx = 0
      val schema = spark.read.parquet(watch).schema
      val t0 = System.nanoTime()
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long, Long, Long, Boolean)]
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(watch)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val bk = SketchOps.kmvKmin(windowed(b), "wsrc", "term", k)
            val merged = openPath match {
              case None => bk
              case Some(p) =>
                SketchOps.kmvMerge(spark.read.parquet(p), bk, k)
            }
            wm = math.max(wm,
              b.agg(max(col("ts").cast("long"))).head().getLong(0))
            val closed = merged.filter(wsOf + lit(win) <= lit(wm))
            if (!closed.isEmpty) {
              closed.write.mode("append").parquet(s"$work/wsketch_emitted")
              emittedAny = true
            }
            val next = s"$work/wsketch_open_${idx + 1}"
            merged.filter(wsOf + lit(win) > lit(wm)).write.parquet(next)
            openPath = Some(next)
            idx += 1
          }
        }
        .option("checkpointLocation", s"$work/wsketch_ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val nBatches = idx
      require(nBatches == sliceFiles.length,
        s"expected ${sliceFiles.length} batches, got $nBatches")
      def setEqual(a: DataFrame, b: DataFrame): Boolean = {
        val n = a.count()
        b.count() == n && a.unionByName(b).distinct().count() == n
      }
      println(f"\nwindowed sketch stream + eviction (sf1, $nBatches " +
        f"batches): $wall%.1f s wall")
      println("| batch | batch rows | open state rows | open windows | " +
        "open·groups·k bound | emitted+open prefix parity |")
      println("|---|---|---|---|---|---|")
      // replay the same fold driver-side to audit every batch's state
      // (the stream persisted only the final open/emitted frames)
      var openChk: Option[DataFrame] = None
      var emittedChk: Option[DataFrame] = None
      var wmChk = Long.MinValue
      for (i <- 1 to nBatches) {
        val slice = spark.read.parquet(sliceFiles(i - 1).toString)
        val bk = SketchOps.kmvKmin(windowed(slice), "wsrc", "term", k)
        val merged = openChk.map(SketchOps.kmvMerge(_, bk, k))
          .getOrElse(bk).localCheckpoint()
        wmChk = math.max(wmChk,
          slice.agg(max(col("ts").cast("long"))).head().getLong(0))
        val closed = merged.filter(wsOf + lit(win) <= lit(wmChk))
        if (!closed.isEmpty)
          emittedChk = Some(emittedChk.map(_.unionByName(closed))
            .getOrElse(closed).localCheckpoint())
        val open = merged.filter(wsOf + lit(win) > lit(wmChk))
          .localCheckpoint()
        openChk = Some(open)
        val stateRows = open.count()
        val openWindows = open.select(wsOf).distinct().count()
        // the bound the state claims: distinct open (window, group)
        // pairs × k
        val pairBound = open.select("source").distinct().count() * k
        val all = emittedChk.map(_.unionByName(open)).getOrElse(open)
        val parity = setEqual(all,
          SketchOps.kmvKmin(windowed(
            sliceFiles.take(i).map(f => spark.read.parquet(f.toString))
              .reduce(_ unionByName _)), "wsrc", "term", k))
        val bRows = slice.count()
        println(s"| ${i - 1} | $bRows | $stateRows | $openWindows | " +
          s"$pairBound | ${if (parity) "MATCH" else "MISMATCH"} |")
        require(stateRows <= pairBound,
          s"batch ${i - 1}: windowed state $stateRows > bound $pairBound")
        require(open.filter(wsOf + lit(win) <= lit(wmChk)).isEmpty,
          s"batch ${i - 1}: a closed window is still carried")
        require(parity,
          s"batch ${i - 1}: emitted+open != whole-prefix windowed sketch")
      }
      require(emittedAny, "eviction never fired across the stream")
      // final estimates == the whole-corpus batch twin
      val streamAll = {
        val open = spark.read.parquet(openPath.get)
        if (emittedAny)
          spark.read.parquet(s"$work/wsketch_emitted").unionByName(open)
        else open
      }
      assertParity("windowed kmv stream estimate",
        SketchOps.splitWindowedKey(SketchOps.kmvEstimate(streamAll, k)),
        SketchOps.splitWindowedKey(SketchOps.kmvEstimate(
          SketchOps.kmvKmin(windowed(ev), "wsrc", "term", k), k)))
    }

    // ---- scenario 10: PROFILER AS A STREAM (always-on table stats)
    // The one-pass profiler's working frames are both mergeable: the
    // per-value histogram folds by cellwise count addition (histMerge,
    // CARDINALITY-sized state) and the bottom-k row sample folds by
    // quantileMerge (k-sized state). A streaming profiler therefore
    // carries (hist, sample) between micro-batches and can finalize —
    // at ANY batch — both the full profile (profileFromState) and the
    // table-stats artifact (tableStatsFromHist) that the stats-gated
    // join consumes: the always-on stats service. Requires, at EVERY
    // batch: hist state set-equal to the whole-prefix histogram,
    // state rows == prefix cardinality (never stream-sized), sample
    // rows ≤ numeric-cols × k; finally, stream-folded profile AND
    // stats artifact equal to the batch-built forms.
    if (only(10)) locally {
      import graft.llm.SketchOps
      val k = 128
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val qv = floor(col("value") * 1000).cast("long")
      val cols = Seq(
        ("user_id", col("user_id"), Some(col("user_id"))),
        ("event_type", col("event_type"), None),
        ("value", qv, Some(qv)))
      val ev = evRaw.select(col("event_id"), col("user_id"),
        col("event_type"), col("value"),
        Queries.eventSeconds(evRaw.schema("ts").dataType).as("ts"))
        .localCheckpoint()
      val slices = 10
      val watch = s"$work/prof_in"
      stageSlices(ev, "ts", slices, s"$work/prof_stage", watch)
      val sliceFiles = new java.io.File(watch).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      def frames(df: DataFrame) =
        SketchOps.profileFrames(df, col("event_id"), cols)
      var histState: Option[DataFrame] = None
      var sampState: Option[DataFrame] = None
      println(s"\nprofiler as a stream (sf1, ${sliceFiles.length} batches):")
      println("| batch | batch rows | hist state rows | prefix cardinality | " +
        "sample rows | cols·k bound | hist prefix parity |")
      println("|---|---|---|---|---|---|---|")
      def setEqual(a: DataFrame, b: DataFrame): Boolean = {
        val n = a.count()
        b.count() == n && a.unionByName(b).distinct().count() == n
      }
      val t0 = System.nanoTime()
      for (i <- 1 to sliceFiles.length) {
        val slice = spark.read.parquet(sliceFiles(i - 1).toString)
        val (tall, hist) = frames(slice)
        histState = Some(histState.map(SketchOps.histMerge(_, hist))
          .getOrElse(hist).localCheckpoint())
        val samp = SketchOps.profileSample(tall, k)
        sampState = Some(sampState
          .map(SketchOps.quantileMerge(_, samp, k))
          .getOrElse(samp).localCheckpoint())
        val prefix = sliceFiles.take(i)
          .map(f => spark.read.parquet(f.toString))
          .reduce(_ unionByName _)
        val prefixHist = frames(prefix)._2
        val hRows = histState.get.count()
        val card = prefixHist.count()
        val sRows = sampState.get.count()
        val sBound = 2L * k // two numeric columns
        val parity = setEqual(histState.get, prefixHist)
        println(s"| ${i - 1} | ${slice.count()} | $hRows | $card | " +
          s"$sRows | $sBound | ${if (parity) "MATCH" else "MISMATCH"} |")
        require(hRows == card,
          s"batch ${i - 1}: hist state $hRows != prefix cardinality $card")
        require(parity, s"batch ${i - 1}: hist state != whole-prefix hist")
        require(sRows <= sBound,
          s"batch ${i - 1}: sample state $sRows > bound $sBound")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"fold wall (incl. per-batch prefix audits): $wall%.1f s")
      // finalize from the carried state == the batch-built forms
      assertParity("stream-folded profile",
        SketchOps.profileFromState(histState.get, sampState.get, k,
          4, 1024, 3),
        graft.llm.SketchOps.profileTable(ev, col("event_id"), cols, k))
      val streamStats = SketchOps.tableStatsFromHist(histState.get)
      val batchStats = SketchOps.tableStats(ev, col("event_id"), cols)
      assertParity("stream-folded stats artifact (cols)",
        streamStats.cols, batchStats.cols)
      assertParity("stream-folded stats artifact (counters)",
        streamStats.counters, batchStats.counters)
    }

    // ---- scenario 11: WINDOWED QUANTILE stream with watermark
    // eviction — q_sketch_quantile_window_stream at volume (the third
    // stream twin; the bottom-k row sample merges exactly like KMV,
    // so the scenario-9 eviction design lifts unchanged). Requires,
    // at EVERY batch:
    //  - state rows ≤ open (window, group) pairs × k;
    //  - no closed window still carried;
    //  - emitted ∪ open set-equal to the whole-PREFIX windowed sample
    //    (eviction loses nothing, carries nothing extra);
    // and the final estimates == the whole-corpus batch twin.
    if (only(11)) locally {
      import graft.llm.SketchOps
      val (k, win) = (64, 604800L)
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val ev = evRaw.filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 1000).cast("long").as("v"),
          Queries.eventSeconds(evRaw.schema("ts").dataType).as("ts"))
      val slices = 10
      val watch = s"$work/wquant_in"
      stageSlices(ev, "ts", slices, s"$work/wquant_stage", watch)
      val sliceFiles = new java.io.File(watch).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      def sample(df: DataFrame) = SketchOps.quantileSample(
        df.withColumn("wsrc",
          SketchOps.windowedKey(col("ts"), win, col("event_type"))),
        "wsrc", "event_id", col("v"), k)
      val wsOf = substring_index(col("source"), "|", 1).cast("long")
      def setEqual(a: DataFrame, b: DataFrame): Boolean = {
        val n = a.count()
        b.count() == n && a.unionByName(b).distinct().count() == n
      }
      println(s"\nwindowed QUANTILE stream + eviction (sf1, " +
        s"${sliceFiles.length} batches):")
      println("| batch | batch rows | open state rows | open windows | " +
        "open·groups·k bound | emitted+open prefix parity |")
      println("|---|---|---|---|---|---|")
      var openChk: Option[DataFrame] = None
      var emittedChk: Option[DataFrame] = None
      var wmChk = Long.MinValue
      val t0 = System.nanoTime()
      for (i <- 1 to sliceFiles.length) {
        val slice = spark.read.parquet(sliceFiles(i - 1).toString)
        val bs = sample(slice)
        val merged = openChk.map(SketchOps.quantileMerge(_, bs, k))
          .getOrElse(bs).localCheckpoint()
        wmChk = math.max(wmChk,
          slice.agg(max(col("ts").cast("long"))).head().getLong(0))
        val closed = merged.filter(wsOf + lit(win) <= lit(wmChk))
        if (!closed.isEmpty)
          emittedChk = Some(emittedChk.map(_.unionByName(closed))
            .getOrElse(closed).localCheckpoint())
        val open = merged.filter(wsOf + lit(win) > lit(wmChk))
          .localCheckpoint()
        openChk = Some(open)
        val stateRows = open.count()
        val openWindows = open.select(wsOf).distinct().count()
        val pairBound = open.select("source").distinct().count() * k
        val all = emittedChk.map(_.unionByName(open)).getOrElse(open)
        val parity = setEqual(all, sample(
          sliceFiles.take(i).map(f => spark.read.parquet(f.toString))
            .reduce(_ unionByName _)))
        println(s"| ${i - 1} | ${slice.count()} | $stateRows | " +
          s"$openWindows | $pairBound | " +
          s"${if (parity) "MATCH" else "MISMATCH"} |")
        require(stateRows <= pairBound,
          s"batch ${i - 1}: windowed state $stateRows > bound $pairBound")
        require(open.filter(wsOf + lit(win) <= lit(wmChk)).isEmpty,
          s"batch ${i - 1}: a closed window is still carried")
        require(parity,
          s"batch ${i - 1}: emitted+open != whole-prefix windowed sample")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"fold wall (incl. per-batch prefix audits): $wall%.1f s")
      require(emittedChk.nonEmpty, "eviction never fired across the stream")
      val streamAll = emittedChk.get.unionByName(openChk.get)
      assertParity("windowed quantile stream estimate",
        SketchOps.splitWindowedKey(
          SketchOps.quantileEstimate(streamAll, Seq(50, 90))),
        SketchOps.splitWindowedKey(
          SketchOps.quantileEstimate(sample(ev), Seq(50, 90))))
    }

    // ---- scenario 12: SESSIONIZED KMV stream (TwsKmvSession) at sf1
    // The real transformWithState machinery (RocksDB state, per-key
    // event-time timers) over 10 time-ordered slices + 2 far-future
    // sentinels. Measures the per-batch STATE ROWS from the query
    // progress (trackTotalNumberOfRows on for the measurement):
    // state = OPEN sessions only — bounded by the user count, never
    // by stream length or closed-session count — and the flushed
    // output must equal the batch window sessionizer's sketch rows.
    if (only(12)) locally {
      import graft.llm.SketchOps
      import graft.streaming.{KmvSessEvent, TwsKmvSession}
      import spark.implicits._
      val (k, gap) = (32, 259200L)
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val ev = evRaw.select(col("user_id"), col("event_id"),
          (col("event_id") % 50).cast("string").as("item"),
          Queries.eventSeconds(evRaw.schema("ts").dataType).as("ts"))
        .withColumn("event_time", col("ts").cast("timestamp"))
      val nUsers = ev.select("user_id").distinct().count()
      val watch = s"$work/kmvsess_in"
      stageSlices(ev, "ts", 10, s"$work/kmvsess_stage", watch)
      val mx = spark.read.parquet(watch).agg(max("ts")).head().getLong(0)
      Seq((10, -1L, mx + 1000000L), (11, -2L, mx + 2000000L)).foreach {
        case (i, id, ts) =>
          Seq((-1L, id, "s", ts)).toDF("user_id", "event_id", "item", "ts")
            .withColumn("event_time", col("ts").cast("timestamp"))
            .withColumn("_slice", lit(i))
            .write.partitionBy("_slice").mode("overwrite")
            .parquet(s"$work/kmvsess_sent_$i")
          moveSlices(s"$work/kmvsess_sent_$i", watch, 0)
          org.apache.hadoop.fs.FileUtil.fullyDelete(
            new java.io.File(s"$work/kmvsess_sent_$i"))
      }
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "true") // the measurement IS the point here
      val t0 = System.nanoTime()
      val stream = spark.readStream
        .schema(spark.read.parquet(watch).schema)
        .option("maxFilesPerTrigger", 1).parquet(watch)
        .as[KmvSessEvent]
      val q = TwsKmvSession.sessionSketch(stream, gap, k).toDF()
        .writeStream.format("parquet")
        .option("path", s"$work/kmvsess_out")
        .option("checkpointLocation", s"$work/kmvsess_ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"\nsessionized KMV stream (sf1, TwsKmvSession, " +
        f"$nUsers users): $wall%.1f s wall")
      println("| batch | input rows | state rows (open sessions) | " +
        "user bound |")
      println("|---|---|---|---|")
      q.recentProgress.filter(_.numInputRows > 0).zipWithIndex.foreach {
        case (p, i) =>
          val stateRows = p.stateOperators.headOption
            .map(_.numRowsTotal).getOrElse(-1L)
          println(s"| $i | ${p.numInputRows} | $stateRows | " +
            s"${nUsers + 1} |")
          require(stateRows <= nUsers + 1,
            s"batch $i: state $stateRows exceeds open-session bound")
      }
      // flushed output == the batch window sessionizer's sketch rows
      val streamOut = spark.read.parquet(s"$work/kmvsess_out")
        .filter(col("user_id") >= 0)
        .select(concat(col("user_id").cast("string"), lit("|"),
          col("session_start").cast("string")).as("source"),
          col("kth_min_hash"), col("k_used"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val sess = ev.withColumn("prev", lag("ts", 1).over(w))
        .withColumn("ns", when(col("prev").isNull ||
          col("ts") - col("prev") > gap, 1L).otherwise(0L))
        .withColumn("sid", sum("ns").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .withColumn("session_start", min("ts").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id", "sid")))
        .withColumn("src", concat(col("user_id").cast("string"), lit("|"),
          col("session_start").cast("string")))
      val batchOut = SketchOps.kmvEstimate(
          SketchOps.kmvKmin(sess, "src", "item", k), k)
        .filter(col("source") =!= "__merged__")
        .select("source", "kth_min_hash", "k_used")
      assertParity("sessionized kmv stream sketch", streamOut, batchOut)
    }

    // ---- scenario 13: TWO-SIDED stream-folded PLANNING at sf1 (r18,
    // q_scale_stats_stream_order at volume). BOTH fact sides of the
    // lineitem ⋈ orders ⋈ customer chain replay as one tagged stream;
    // each batch folds BOTH histograms and the planner re-plans —
    // order AND per-step strategy — from the carried state plus the
    // batch-built customer stats. Requires, at EVERY batch: each
    // side's state rows == its prefix cardinality (two
    // cardinality-sized frames, never stream-sized), and the folded
    // plan EQUAL to the plan from batch-built artifacts over the same
    // prefix (decision parity while the stats are still partial —
    // the always-on planner is trustworthy mid-stream, not only at
    // end of day).
    if (only(13)) locally {
      import graft.llm.SketchOps
      import graft.operators.Scale
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      val custPt = Scale.planTable(
        SketchOps.tableStats(cust, col("c_custkey"),
          Seq(("c_custkey", col("c_custkey"), None))),
        "customer", Seq("c_custkey"))
      val edges = Seq(
        Scale.JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        Scale.JoinEdge("orders", "o_custkey", "customer", "c_custkey"))
      // per-batch re-plan through the DP rung — the same upgrade the
      // catalog entry took (r18 VERDICT #3); parity below is now
      // DP-plan == DP-plan at every batch
      def plan(liTs: SketchOps.TableStats, ordTs: SketchOps.TableStats) =
        Scale.statsJoinOrderDp(
          Seq(Scale.planTable(liTs, "lineitem", Seq("l_orderkey")),
            Scale.planTable(ordTs, "orders",
              Seq("o_orderkey", "o_custkey")),
            custPt),
          edges, broadcastRows = 100)
      val tagged = li.select(lit("lineitem").as("tbl"),
          col("l_orderkey").as("a"), col("l_linenumber").cast("long").as("b"))
        .unionByName(ord.select(lit("orders").as("tbl"),
          col("o_orderkey").as("a"), col("o_custkey").cast("long").as("b")))
      val slices = 5
      val watch = s"$work/sorder_in"
      stageSlices(tagged, "a", slices, s"$work/sorder_stage", watch)
      val sliceFiles = new java.io.File(watch).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      def liFrames(df: DataFrame) = SketchOps.histFrame(
        df.filter(col("tbl") === "lineitem")
          .select(col("a").as("l_orderkey"), col("b").as("l_linenumber")),
        concat_ws("|", col("l_orderkey"), col("l_linenumber")),
        Seq(("l_orderkey", col("l_orderkey"), None)))
      def ordFrames(df: DataFrame) = SketchOps.histFrame(
        df.filter(col("tbl") === "orders")
          .select(col("a").as("o_orderkey"), col("b").as("o_custkey")),
        col("o_orderkey"),
        Seq(("o_orderkey", col("o_orderkey"), None),
          ("o_custkey", col("o_custkey"), None)))
      var liState: Option[DataFrame] = None
      var ordState: Option[DataFrame] = None
      println(s"\ntwo-sided stream-folded planning (sf1, " +
        s"${sliceFiles.length} batches):")
      println("| batch | li state rows | li prefix card | ord state rows " +
        "| ord prefix card | plan parity (order + strategies) |")
      println("|---|---|---|---|---|---|")
      val t0 = System.nanoTime()
      for (i <- 1 to sliceFiles.length) {
        val slice = spark.read.parquet(sliceFiles(i - 1).toString)
        liState = Some(liState.map(SketchOps.histMerge(_, liFrames(slice)))
          .getOrElse(liFrames(slice)).localCheckpoint())
        ordState = Some(ordState.map(SketchOps.histMerge(_, ordFrames(slice)))
          .getOrElse(ordFrames(slice)).localCheckpoint())
        val folded = plan(SketchOps.tableStatsFromHist(liState.get),
          SketchOps.tableStatsFromHist(ordState.get))
        val prefix = sliceFiles.take(i)
          .map(f => spark.read.parquet(f.toString))
          .reduce(_ unionByName _)
        val batchPlan = plan(SketchOps.tableStatsFromHist(liFrames(prefix)),
          SketchOps.tableStatsFromHist(ordFrames(prefix)))
        val (lr, lc) = (liState.get.count(), liFrames(prefix).count())
        val (or, oc) = (ordState.get.count(), ordFrames(prefix).count())
        val parity = folded == batchPlan
        println(s"| ${i - 1} | $lr | $lc | $or | $oc | " +
          s"${if (parity) "MATCH" else "MISMATCH"} |")
        require(lr == lc && or == oc,
          s"batch ${i - 1}: state rows != prefix cardinality")
        require(parity,
          s"batch ${i - 1}: folded plan $folded != batch plan $batchPlan")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"fold+replan wall (incl. per-batch prefix audits): $wall%.1f s")
      // the final folded plan is the full-table plan
      val full = plan(SketchOps.tableStats(li,
          concat_ws("|", col("l_orderkey"), col("l_linenumber")),
          Seq(("l_orderkey", col("l_orderkey"), None))),
        SketchOps.tableStats(ord, col("o_orderkey"),
          Seq(("o_orderkey", col("o_orderkey"), None),
            ("o_custkey", col("o_custkey"), None))))
      val foldedFinal = plan(SketchOps.tableStatsFromHist(liState.get),
        SketchOps.tableStatsFromHist(ordState.get))
      require(foldedFinal == full,
        s"final folded plan $foldedFinal != batch-built plan $full")
      println(s"final plan: ${full.shapeString} " +
        s"(bound ${full.totalBound}, best-LD ${full.bestLeftDeepBound}) — " +
        "stream-folded == batch-built")
    }

    println("\nstream rehearsal complete")
  }
}
