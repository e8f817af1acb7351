package graft.sources

import graft.model.{Retentions, WhisperSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Export a points DataFrame as a tree of `.wsp` files — one file per
  * metric, whisper's file-per-series layout (reference: whisper.go →
  * `Create` + `UpdateMany`; SURVEY.md §1.1). The reverse migration path
  * of [[WspDataSource]]: results computed here can be handed back to a
  * stock graphite/go-whisper stack.
  *
  * [[export]] and [[merge]] are `df.write.format("wsp")` saves
  * ([[WspWriteBuilder]]): one shuffle clustered and sorted by metric,
  * then each task writes its metrics' files through the Hadoop
  * `FileSystem` API (`file:`/`hdfs:`/`s3a:` all work; the driver never
  * sees a point). Memory per task is one file image (a pure function of
  * the retention config — whisper pre-allocates the full ring), not the
  * input size: points beyond a ring's capacity overwrite their slot,
  * exactly like the reference.
  */
object WspWrite {

  /** Write `points(metric, archive, bucket_ts, value)` under
    * `outDir/<metric>.wsp`, where `archive` is the 0-based level index
    * each (already aligned, already LWW-deduped) point lands in — U3
    * routing and alignment happen upstream (e.g. [[graft.ops.Ingest]]),
    * this writer only packs rings. Metrics absent from `points` get no
    * file; archives with no rows stay zeroed (whisper's never-written
    * state). Returns a manifest (metric, n_points, bytes) — the write
    * has run, once, when this returns.
    */
  def export(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema): DataFrame =
    write(points, outDir, schema, "overwrite")

  /** Like [[export]], but an existing `<metric>.wsp` is read first and
    * its rings updated IN PLACE — prior slots survive, same-slot writes
    * overwrite, and each archive keeps its established base interval
    * (slot 0 pinned at first write, like the reference). This is the
    * carbon-daemon write shape: repeated batches against a live tree.
    * Read-modify-write is safe under the one-writer-per-file contract
    * the write's required distribution guarantees (each metric lands in
    * exactly one task).
    */
  def merge(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema): DataFrame =
    write(points, outDir, schema, "append")

  /** The `format("wsp")` write options that state `schema`;
    * [[WspWriteBuilder.schemaOf]] parses them back to an equal schema. */
  private[sources] def schemaOptions(schema: WhisperSchema): Map[String, String] = Map(
    "retentions" -> Retentions.render(schema.retentions),
    "aggregationMethod" -> schema.method.name,
    "xFilesFactor" -> schema.xFilesFactor.toString)

  /** The manifest rows of the [[export]]/[[merge]] save running on this
    * thread; the write captures the buffer when it is built and fills it
    * from its tasks' commit messages. */
  private[sources] val committed =
    new scala.util.DynamicVariable[Option[collection.mutable.ArrayBuffer[(String, Long, Long)]]](None)

  private def write(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema,
      mode: String): DataFrame = {
    val s = points.sparkSession
    import s.implicits._
    val rows = collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    committed.withValue(Some(rows)) {
      points
        .select(col("metric").cast("string"), col("archive").cast("int"),
          col("bucket_ts").cast("long"), col("value").cast("double"))
        .write.format("wsp").options(schemaOptions(schema)).mode(mode).save(outDir)
    }
    rows.toSeq.toDF("metric", "n_points", "bytes")
  }

  /** Write the complete file image to `tmpPath`, then replace `dst` with
    * it. Per-scheme guarantee, stated honestly:
    *
    *  - `file:` — ATOMIC. The tmp image is written through the RAW local
    *    filesystem (no `.crc` sidecar), any stale checksum sidecar from
    *    an older writer is dropped first, and the publish is a POSIX
    *    `rename(2)` (`Files.move` with `ATOMIC_MOVE + REPLACE_EXISTING`):
    *    a concurrent reader sees the old complete file or the new
    *    complete file, never a missing or partial one.
    *  - schemes with a `FileContext` binding (e.g. `hdfs:`) — atomic
    *    where the filesystem's `rename(OVERWRITE)` is (HDFS implements
    *    it server-side as one namespace operation).
    *  - anything else — delete + rename fallback: a crash between the
    *    two calls leaves the complete image in the orphaned tmp and NO
    *    visible file, and a concurrent reader can catch
    *    FileNotFoundException for one listing; the streaming reader
    *    factory ([[WspScan.streamingReaderFactory]]) retries opens to
    *    absorb exactly that window, while a batch scan fails fast.
    *    Orphaned tmps are swept by [[vacuumTmp]].
    */
  private[sources] def publish(
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      tmpPath: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path,
      image: Array[Byte]): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    (fs, scheme) match {
      case (cfs: org.apache.hadoop.fs.ChecksumFileSystem, "file") =>
        val raw = cfs.getRawFileSystem
        val out = raw.create(tmpPath, true)
        try out.write(image) finally out.close()
        // a tree written by an older checksumming writer carries
        // `.<name>.crc` sidecars; after a raw replace they would be
        // stale and fail every later checksummed open — drop before the
        // move so readers only ever pair live data with a live crc
        val crc = cfs.getChecksumFile(dst)
        if (raw.exists(crc)) raw.delete(crc, false)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmpPath.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      case _ =>
        val out = fs.create(tmpPath, true)
        try out.write(image) finally out.close()
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
          fc.rename(tmpPath, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            if (fs.exists(dst)) fs.delete(dst, false)
            if (!fs.rename(tmpPath, dst))
              throw new java.io.IOException(s"rename $tmpPath -> $dst failed")
        }
    }
  }

  /** Sweep orphaned `.<metric>.wsp.tmp.*` images older than `olderThanMs`
    * out of a tree — the leftovers of crashed or superseded task
    * attempts (a SUCCESSFUL publish always consumes its tmp). Age-gated
    * so a concurrently-writing attempt's in-flight tmp is never
    * reaped. One recursive listing; run it as periodic maintenance, the
    * same cadence class as retention vacuuming.
    */
  def vacuumTmp(
      spark: SparkSession,
      dir: String,
      olderThanMs: Long = 3600L * 1000): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0L
    val cutoff = System.currentTimeMillis() - olderThanMs
    val it = fs.listFiles(fs.makeQualified(root), true)
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.startsWith(".") && name.contains(".wsp.tmp.") &&
          st.getModificationTime < cutoff) {
        if (fs.delete(st.getPath, false)) n += 1
      }
    }
    n
  }

  /** Convenience single-archive export: all points land in level
    * `archive` (default the finest). */
  def exportLevel(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema,
      archive: Int = 0): DataFrame =
    export(points.withColumn("archive", lit(archive)), outDir, schema)
}
