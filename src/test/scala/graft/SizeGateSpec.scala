package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Path}

/** The size gates fail safe: they measure a path recursively through
  * the Hadoop FileSystem, and an input they cannot measure releases
  * the small-shuffle pin and takes the top state rung.
  */
class SizeGateSpec extends SparkSpec {

  /** A file of `bytes` logical length that writes no data (sparse). */
  private def sparse(p: Path, bytes: Long): Unit = {
    Files.createDirectories(p.getParent)
    val f = new RandomAccessFile(p.toFile, "rw")
    try f.setLength(bytes) finally f.close()
  }

  test("a nested part-file layout is counted in full") {
    val dir = Files.createTempDirectory("graft_gate_nested")
    val t = dir.resolve("t.parquet")
    sparse(t.resolve("part-0.parquet"), 1000L)
    sparse(t.resolve("k=1/part-1.parquet"), 20000L)
    sparse(t.resolve("k=2/j=3/part-2.parquet"), 300000L)
    assert(Queries.tableBytes(spark, dir.toString, Seq("t")) ==
      Some(321000L))
    // 25 MiB, all of it below the top level: the 8-partition rung, not
    // the 4 a top-level-only listing would have read
    val watch = dir.resolve("watch")
    sparse(watch.resolve("a/b/slice_0.parquet"), 25L << 20)
    assert(Queries.streamPartitionsFor(spark, watch.toString) == 8)
  }

  test("a missing path or a sparse file over 32 MiB releases the pin") {
    val dir = Files.createTempDirectory("graft_gate_release")
    assert(Queries.tableBytes(spark, dir.toString, Seq("absent")).isEmpty)
    assert(!Queries.smallShufflePinned(spark, dir.toString, Seq("absent")))
    assert(!Queries.smallShufflePinned(spark, "nosuchfs://host/x", Seq("t")))
    assert(Queries.streamPartitionsFor(spark, s"$dir/absent") == 32)
    assert(Queries.streamPartitionsFor(spark, s"$dir/absent", floor = 8) == 32)

    sparse(dir.resolve("big.parquet"), Queries.SmallShuffleMaxBytes + 1)
    assert(!Queries.smallShufflePinned(spark, dir.toString, Seq("big")))
    sparse(dir.resolve("small.parquet"), Queries.SmallShuffleMaxBytes - 1)
    assert(Queries.smallShufflePinned(spark, dir.toString, Seq("small")))
  }

  test("the sf0.1 inputs of the pinned entries still engage the pin") {
    val sf = "/root/testdata/sf0.1"
    Seq("events", "documents", "embeddings").foreach { t =>
      assert(Queries.smallShufflePinned(spark, sf, Seq(t)),
        s"$t @ $sf: ${Queries.tableBytes(spark, sf, Seq(t))} bytes")
    }
  }
}
