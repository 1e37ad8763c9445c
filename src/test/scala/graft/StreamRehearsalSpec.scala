package graft

/** Keeps the streaming load-rehearsal harness green at spec scale: a
  * 4-slice file-stream run over sf0.001 through every scenario
  * (sessionizer, streaming as-of, ...), each with
  * its built-in stream-vs-batch checksum parity gate — `run` throws
  * on any mismatch. The sf1 numbers live in SCALE_STREAM_r07.md; this
  * pins the harness (slice staging, sentinel flush, parity checksums)
  * against regressions.
  */
class StreamRehearsalSpec extends SparkSpec {

  test("file-stream rehearsal harness: all scenarios parity-green at sf0.001") {
    val work = java.nio.file.Files.createTempDirectory("stream_rehearsal_spec").toString
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try StreamRehearsal.run(spark, "/root/testdata/sf0.001", 4, work)
    finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(work))
    }
  }
}
