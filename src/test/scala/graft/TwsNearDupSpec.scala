package graft

import graft.llm.DedupOps
import graft.streaming.TwsNearDup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Cross-batch streaming near-dup detection: band-keyed LSH state.
  * Runs on the RocksDB state store provider, which transformWithState
  * requires.
  */
class TwsNearDupSpec extends SparkSpec {

  private def withRocks[T](f: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val unrelated =
    "zygote xylophone quartz vortex glyph jinx plumb wharf dunes kelp"

  test("near-dups across micro-batches are caught against prior-batch state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val mem = MemoryStream[(Long, String)]
      val hits = TwsNearDup.nearDupPairsStream(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text")
      val q = hits.writeStream.format("memory").queryName("nd_hits")
        .outputMode("append").start()
      try {
        mem.addData((1L, base), (2L, unrelated))
        q.processAllAvailable()
        val b1 = spark.table("nd_hits").select("id1", "id2").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(b1.isEmpty, s"no prior state yet, got $b1")
        // batch 2, long after batch 1: an exact copy of doc 1 and a
        // near-dup (one appended token)
        mem.addData((3L, base), (4L, base + " extra"))
        q.processAllAvailable()
        val pairs = spark.table("nd_hits").select("id1", "id2").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pairs.contains((1L, 3L)), s"exact cross-batch dup missed: $pairs")
        assert(pairs.contains((1L, 4L)) || pairs.contains((3L, 4L)),
          s"near-dup missed: $pairs")
        assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
          s"unrelated doc paired: $pairs")
        // exact copies agree on every signature component
        val agree13 = spark.table("nd_hits")
          .where("id1 = 1 AND id2 = 3").select("sig_agree", "n_perms")
          .collect().head
        assert(agree13.getInt(0) == agree13.getInt(1))
        // state is one entry per occupied (band, key) bucket: at most
        // bands x documents rows, however many batches stream
        val peak = q.recentProgress
          .flatMap(_.stateOperators.headOption).map(_.numRowsTotal).max
        assert(peak > 0L && peak <= TwsNearDup.bandCount().toLong * 4,
          s"near-dup state exceeded the bucket bound: $peak")
      } finally q.stop()
    }
  }

  test("single-batch stream equals the batch banding operator (parity pin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val docs = Seq(
        1L -> base, 2L -> unrelated, 3L -> base, 4L -> (base + " extra"),
        5L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        6L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda")
      val batch = DedupOps.minhashSignaturePairs(
          docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mem = MemoryStream[(Long, String)]
      val hits = TwsNearDup.nearDupPairsStream(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text")
      val q = hits.writeStream.format("memory").queryName("nd_parity")
        .outputMode("append").start()
      try {
        mem.addData(docs: _*)
        q.processAllAvailable()
        val stream = spark.table("nd_parity").select("id1", "id2").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(stream == batch, s"stream $stream != batch $batch")
      } finally q.stop()
    }
  }

  test("state survives a checkpoint RESTART: second run pairs against first run's corpus") {
    import spark.implicits._
    withRocks {
      val work = java.nio.file.Files.createTempDirectory("graft_nd_restart").toString
      val watch = s"$work/in"
      new java.io.File(watch).mkdirs()
      def addFile(name: String, docs: Seq[(Long, String)], mtime: Long): Unit = {
        val stage = s"$work/stage_$name"
        docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(watch, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
      }
      def runOnce(): Unit = {
        val stream = spark.readStream
          .schema(spark.read.parquet(watch).schema)
          .option("maxFilesPerTrigger", 1).parquet(watch)
        val q = TwsNearDup.nearDupPairsStream(stream, "doc_id", "text").toDF()
          .writeStream.format("parquet")
          .option("path", s"$work/out").option("checkpointLocation", s"$work/ck")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val first = Seq(1L -> base, 2L -> unrelated)
      val second = Seq(3L -> base, 4L -> (base + " extra"))
      addFile("a", first, 1700000000000L)
      runOnce() // run 1: only the first corpus; no pairs possible
      addFile("b", second, 1700000060000L)
      runOnce() // run 2: fresh query, SAME checkpoint — resumes run 1's state
      val pairs = spark.read.parquet(s"$work/out").select("id1", "id2").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = DedupOps.minhashSignaturePairs(
          (first ++ second).toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == batch,
        s"restarted stream $pairs != batch ${batch} — state lost across restart")
      assert(pairs.contains((1L, 3L)), s"cross-RUN dup missed: $pairs")
    }
  }

  test("bucket cap evicts FIFO: oldest resident no longer pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocks {
      val mem = MemoryStream[(Long, String)]
      val hits = TwsNearDup.nearDupPairsStream(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
        capPerBucket = 1)
      val q = hits.writeStream.format("memory").queryName("nd_cap")
        .outputMode("append").start()
      try {
        mem.addData((1L, base)); q.processAllAvailable()
        mem.addData((2L, base)); q.processAllAvailable() // pairs with 1, evicts 1
        mem.addData((3L, base)); q.processAllAvailable() // pairs with 2 only
        val pairs = spark.table("nd_cap").select("id1", "id2").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pairs == Set((1L, 2L), (2L, 3L)), s"got $pairs")
      } finally q.stop()
    }
  }
}
