package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The gap-session sketch streams (`TwsKmvSession`, `TwsCmsSession`)
  * on the transformWithState API. Runs on the RocksDB state store
  * provider, which transformWithState requires.
  */
class TwsSessionSpec extends SparkSpec {
  import graft.functions.TextHash
  import graft.streaming.{KmvSessEvent, TwsCmsSession, TwsKmvSession}

  private def e(u: Long, id: Long, item: String, ts: Long) =
    KmvSessEvent(u, id, item, ts, new java.sql.Timestamp(ts * 1000L))

  // user 1: TWO sessions entirely inside batch 1 (gap 100 between
  // ts 50 and ts 300) -> the second closes by timer later;
  // user 2: one 8-distinct-item session (> k=4, truncation)
  private val batch1 = Seq(
    e(1L, 1, "a", 10), e(1L, 2, "b", 20), e(1L, 3, "a", 50),
    e(1L, 4, "c", 300), e(1L, 5, "d", 310)) ++
    (0 until 8).map(i => e(2L, 10 + i, s"i$i", 100 + i))
  // the sessions batch1 holds, with their items in event order
  private val expectSessions = Set(
    (1L, 10L, Seq("a", "b", "a")), (1L, 300L, Seq("c", "d")),
    (2L, 100L, (0 until 8).map(i => s"i$i")))

  /** Feeds batch1, then sentinels that push the watermark past every
    * open timer, through the session stream `sketch` into memory sink
    * `name`. Checks the closes after batch1 and the open-session state
    * bound; returns every closed session's rows. */
  private def closedSessions(name: String)(
      sketch: Dataset[KmvSessEvent] => Dataset[_])
      : Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[KmvSessEvent]
      val q = sketch(mem.toDS()).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(batch1.toIndexedSeq: _*)
        q.processAllAvailable()
        // inline close: user 1's first session (ts 10-50) is out
        // immediately; user 2's closes by TIMER as soon as user 1's
        // ts-310 events advance the watermark past its 207 deadline;
        // user 1's second session (timer at 410) is still open
        val afterB1 = spark.sql(s"SELECT * FROM $name").collect()
        assert(afterB1.map(r => (r.getLong(0), r.getLong(1))).toSet ==
          Set((1L, 10L), (2L, 100L)),
          s"early closes emitted ${afterB1.mkString(",")}")
        mem.addData(e(-1L, -1, "s", 100000))
        q.processAllAvailable()
        mem.addData(e(-1L, -2, "s", 200000))
        q.processAllAvailable()
        mem.addData()
        q.processAllAvailable()
        // state holds OPEN sessions only: bounded by the user count
        // (users 1, 2 and the sentinel), never by closed sessions
        val stateRows = q.recentProgress
          .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
        assert(stateRows.max > 0L && stateRows.max <= 3L,
          s"state exceeds the open-session bound: ${stateRows.toSeq}")
        spark.sql(s"SELECT * FROM $name WHERE user_id >= 0").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionized KMV (r17): inline close inside one batch, timer " +
      "close at the watermark, sketch truncation above k — all equal " +
      "the batch kernels") {
    val k = 4
    val out = closedSessions("kmv_sess_out")(
      TwsKmvSession.sessionSketch(_, gapSeconds = 100L, k = k))
    // expected sessions by hand, sketched with the SAME scala-side
    // hash kernel the batch mixed63 path delegates to
    val expected = expectSessions.map { case (u, start, items) =>
      val hs = items.map(i => TextHash.mix64(TextHash.fnv1a64(i)) &
          Long.MaxValue)
        .distinct.sorted.take(k)
      (u, start, hs.max, hs.length.toLong)
    }
    assert(out == expected, s"got $out\nwant $expected")
    // truncation really happened for user 2 (8 distinct > k)
    assert(out.exists(r => r._1 == 2L && r._4 == k.toLong))
  }

  test("sessionized CMS: the same inline close, timer close and state " +
      "bound — each session's cells count its items' FNV buckets") {
    // a narrow width, so buckets collide inside a session
    val (depth, width) = (4, 16)
    val out = closedSessions("cms_sess_out")(
      TwsCmsSession.sessionCounters(_, gapSeconds = 100L, depth = depth,
        width = width))
    // cell i·width + bucket per row i, bucket = the scala-side FNV of
    // `i ++ item` the Catalyst cmsBuckets kernel mirrors
    val expected = expectSessions.flatMap { case (u, start, items) =>
      items.flatMap(item => (0 until depth).map(i => i.toLong * width +
          (TextHash.fnv1a64(s"$i$item") & Long.MaxValue) % width))
        .groupBy(identity).map { case (c, cs) => (u, start, c, cs.size.toLong) }
    }
    assert(out == expected, s"got $out\nwant $expected")
    // user 1's first session counts "a" twice in each of its rows
    assert(out.count(r => r._1 == 1L && r._2 == 10L && r._4 >= 2L) >= depth)
  }

  test("sessionized KMV (r18): a cross-batch LATE event cannot " +
      "regress lastSec and falsely split the session (r17 ADVICE)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[KmvSessEvent]
      // wide watermark delay so the planted late event is admitted —
      // exactly the situation the guard covers
      val q = TwsKmvSession.sessionSketch(mem.toDS(), gapSeconds = 100L,
          k = 4, watermarkDelay = "1000 seconds").toDF()
        .writeStream.format("memory").queryName("kmv_sess_late")
        .outputMode("append").start()
      try {
        // the ADVICE scenario: frontier at 150, late 140 arrives, then
        // 245 — an unguarded fold regresses lastSec to 140 and splits
        // at 245 (245-140 > gap) where the sorted batch twin keeps one
        // session (245-150 <= gap)
        mem.addData(e(1L, 1, "a", 100), e(1L, 2, "b", 150))
        q.processAllAvailable()
        mem.addData(e(1L, 3, "c", 140))
        q.processAllAvailable()
        mem.addData(e(1L, 4, "d", 245))
        q.processAllAvailable()
        // sentinels close every open session
        mem.addData(e(-1L, -1, "s", 100000))
        q.processAllAvailable()
        mem.addData(e(-1L, -2, "s", 200000))
        q.processAllAvailable()
        mem.addData()
        q.processAllAvailable()
        val out = spark.sql(
          "SELECT * FROM kmv_sess_late WHERE user_id >= 0").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(out.length == 1,
          s"late event falsely split the session: ${out.mkString(",")}")
        val hs = Seq("a", "b", "c", "d").map(i =>
          graft.functions.TextHash.mix64(
            graft.functions.TextHash.fnv1a64(i)) & Long.MaxValue)
          .distinct.sorted.take(4)
        assert(out.head == ((1L, 100L, hs.max, hs.length.toLong)),
          s"got ${out.head}; the late event's item must fold into the " +
            "one open session with its start unchanged")
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
