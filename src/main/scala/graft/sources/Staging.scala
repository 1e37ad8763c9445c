package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-process-safe one-time staging for the fingerprint-keyed
  * corpus dirs under java.io.tmpdir. The old pattern (`synchronized` +
  * `_SUCCESS` re-check, then write directly into the final path) is
  * sound per-JVM but two JVMs (driver + judge have raced this) could
  * both enter the overwrite write and interleave part files. Here each
  * writer builds under a process-unique sibling and atomically renames
  * into place; the loser of the race deletes its build — the corpora
  * are deterministic functions of the fingerprinted inputs, so
  * whichever rename wins is byte-equivalent.
  */
object Staging {

  private def hadoopConf =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** `_SUCCESS` completeness probe through the Hadoop FileSystem API —
    * the same resolver the parquet writers use, so the probe agrees
    * with the committer on any configured filesystem (a `java.io.File`
    * probe silently reports "missing" for every non-local path, which
    * would make [[stageOnce]] rebuild on every call). */
  def hasMarker(path: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    marker.getFileSystem(hadoopConf).isFile(marker)
  }

  /** Touch the `_SUCCESS` marker under `path` — for staging writers
    * whose last step is not a Spark committer (which writes its own). */
  def touchMarker(path: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    marker.getFileSystem(hadoopConf).create(marker, true).close()
  }

  /** Existence probe through the Hadoop FileSystem API — the
    * companion to [[hasMarker]] for measurement mains that gate on a
    * staged path's presence (a `java.io.File` probe silently reports
    * "missing" for every non-local path). */
  def pathExists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(hadoopConf).exists(p)
  }

  /** Run an IN-PLACE artifact mutation under a dropped `_SUCCESS`
    * marker: the marker is deleted before `mutate` runs and recreated
    * after, so a crash mid-mutation (or a concurrent completeness
    * probe) sees the artifact as incomplete rather than serving a
    * torn half-mutated state. The shared crash contract of every
    * in-place maintainer (IVF append, gated update, stats fold-in) —
    * one helper so the contract lives in one place. Single writer per
    * artifact is the caller's contract (the seam dirs are
    * fingerprint-keyed and staged once); [[stageOnce]] repairs a
    * marker-less torn dir by deleting and rebuilding it. */
  def withMarkerDropped(path: String)(mutate: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    marker.getFileSystem(hadoopConf).delete(marker, false)
    mutate
    touchMarker(path)
  }

  /** Create a temp work dir that is deleted when this JVM exits.
    * Streaming query entries return lazy DataFrames over their output
    * dirs, so an eager `finally`-delete would break the caller's read;
    * a shutdown hook bounds /tmp accumulation to one JVM's lifetime
    * instead (bench/verify spawn a fresh JVM per run).
    */
  def sessionTempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(dir)))
    dir.toString
  }

  /** Write `df` as `nSlices` single-file time-range slices under
    * `watchDir`, modification times strictly increasing with the time
    * range, so FileStreamSource replays them in event-time order.
    */
  def stageSlices(df: DataFrame, tsCol: String, nSlices: Int,
      watchDir: String): Unit = {
    val r = df.agg(min(col(tsCol)), max(col(tsCol))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val width = math.max((mx - mn) / nSlices + 1, 1L)
    writeSlices(df.withColumn("_slice",
        least(floor((col(tsCol) - mn) / width), lit(nSlices - 1)).cast("int"))
      .repartition(col("_slice")), watchDir)
  }

  /** Append the two far-future sentinel slices that close a replay of
    * `watchDir`: slices `nSlices` and `nSlices + 1`, built by
    * `mk(k, ts)` for sentinel k = 1, 2 at `tsCol` = the staged max
    * + k * 10^6 s. The first advances the watermark past every real
    * row, the second gives the timers a batch to fire in. */
  def appendSentinels(watchDir: String, tsCol: String, nSlices: Int)(
      mk: (Int, Long) => Dataset[_]): Unit = {
    val mx = SparkSession.active.read.parquet(watchDir)
      .agg(max(tsCol)).head().getLong(0)
    Seq(1, 2).foreach { k =>
      writeSlices(mk(k, mx + k * 1000000L)
        .withColumn("_slice", lit(nSlices + k - 1)), watchDir)
    }
  }

  /** Partitioned write of a `_slice`-tagged frame into a scratch dir
    * under `watchDir`, then [[moveSlices]] into place. */
  private def writeSlices(sliced: DataFrame, watchDir: String): Unit = {
    val stageDir = s"$watchDir/_stage"
    sliced.write.partitionBy("_slice").mode("overwrite").parquet(stageDir)
    moveSlices(stageDir, watchDir)
  }

  /** Move the `_slice=i` part files of `stageDir` into `watchDir` as
    * `slice_<i>_<j>.parquet` with mtime base + i minutes — the file
    * source orders on (mtime, path) — then delete `stageDir`.
    */
  def moveSlices(stageDir: String, watchDir: String): Unit = {
    val base = 1700000000000L
    new java.io.File(watchDir).mkdirs()
    val stage = new java.io.File(stageDir)
    stage.listFiles().filter(_.getName.startsWith("_slice=")).sortBy(_.getName).foreach { d =>
      val i = d.getName.stripPrefix("_slice=").toInt
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, j) =>
          val dst = new java.io.File(watchDir, f"slice_$i%04d_$j.parquet")
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.setLastModified(base + i * 60000L)
      }
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(stage)
  }

  /** The staging dir of the artifact `name` derived from `tables`
    * under `dir`: `<java.io.tmpdir>/<name>_<tableKey>`, so a
    * regenerated source table moves the key and re-stages. */
  def stagedPath(name: String, dir: String, tables: Seq[String]): String =
    s"${System.getProperty("java.io.tmpdir")}/${name}_" +
      SyntheticTraces.tableKey(dir, tables)

  /** Stage the artifact `name` once per fingerprint of its source
    * `tables` ([[stagedPath]], [[stageOnce]]) and return its path. A
    * writer whose last step is not a Spark committer gets its
    * `_SUCCESS` marker touched here once `write` returns. */
  def staged(name: String, dir: String, tables: Seq[String])(
      write: String => Unit): String = {
    val path = stagedPath(name, dir, tables)
    stageOnce(path) { tmp =>
      write(tmp)
      if (!hasMarker(tmp)) touchMarker(tmp)
    }
    path
  }

  /** Run `write(tmpDir)` and atomically publish the result as `path`,
    * unless `path` is already complete. `write` must leave a
    * `_SUCCESS` marker in its output (Spark's parquet committer does).
    */
  def stageOnce(path: String)(write: String => Unit): Unit = {
    if (hasMarker(path)) return
    // TORN-DIR REPAIR: an existing target without a marker is a
    // crashed in-place mutation ([[withMarkerDropped]] died inside the
    // window) — by the single-writer seam contract nothing live owns
    // it, and leaving it would wedge the artifact forever (the rename
    // below fails on an existing dir, the catch sees no marker and
    // rethrows on every call). Repair by RENAMING the torn dir aside
    // (r18 ADVICE: an in-place recursive delete had a destructive
    // TOCTOU — between the entry hasMarker probe and the delete, a
    // concurrent cross-JVM stager could publish a complete artifact,
    // or a live withMarkerDropped mutator could be mid-window; the
    // delete would destroy either). The rename is atomic, so exactly
    // one repairer wins, and if the moved-aside dir turns out to
    // carry a marker we raced a publisher — move it straight back
    // and return: nothing was destroyed.
    if (pathExists(path)) {
      if (hasMarker(path)) return // published between probe and repair
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hadoopConf)
      val aside = new org.apache.hadoop.fs.Path(path + ".torn-" +
        ProcessHandle.current().pid() + "-" +
        java.util.UUID.randomUUID().toString.take(8))
      if (fs.rename(p, aside)) {
        if (hasMarker(aside.toString)) {
          // the publisher won the race after all — restore and use it
          if (!fs.rename(aside, p) && !hasMarker(path))
            throw new java.io.IOException(
              s"torn-dir repair could not restore $aside to $path")
          return
        }
        fs.delete(aside, true) // genuinely torn: discard off-path
      }
      // rename failed => someone else repaired or published; fall
      // through — the publish-by-rename below resolves either way
    }
    val tmp = path + ".tmp-" + ProcessHandle.current().pid() + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    write(tmp)
    try
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(path),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // another process published first (EEXIST/ENOTEMPTY surface as
      // these); its output is identical — drop ours. But the same
      // exception types also cover genuine failures (permissions, I/O,
      // ATOMIC_MOVE unsupported), so only swallow when the destination
      // was actually published by the winner.
      case e @ (_: java.nio.file.FileAlreadyExistsException
             | _: java.nio.file.DirectoryNotEmptyException
             | _: java.nio.file.FileSystemException) =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tmp))
        if (!hasMarker(path)) throw e
    }
  }
}
