package graft.sources

import graft.model.WhisperSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Export a points DataFrame as a tree of `.wsp` files — one file per
  * metric, whisper's file-per-series layout (reference: whisper.go →
  * `Create` + `UpdateMany`; SURVEY.md §1.1). The reverse migration path
  * of [[WspDataSource]]: results computed here can be handed back to a
  * stock graphite/go-whisper stack.
  *
  * Scale shape: `groupByKey(metric).mapGroups` — one shuffle keyed by
  * metric, then each executor writes its metrics' files in parallel
  * through the Hadoop `FileSystem` API (`file:`/`hdfs:`/`s3a:` all
  * work; the driver never sees a point). Memory per task is one file
  * image (a pure function of the retention config — whisper
  * pre-allocates the full ring), not the input size: points beyond a
  * ring's capacity overwrite their slot, exactly like the reference.
  */
object WspWrite {

  /** Write `points(metric, archive, bucket_ts, value)` under
    * `outDir/<metric>.wsp`, where `archive` is the 0-based level index
    * each (already aligned, already LWW-deduped) point lands in — U3
    * routing and alignment happen upstream (e.g. [[graft.ops.Ingest]]),
    * this writer only packs rings. Metrics absent from `points` get no
    * file; archives with no rows stay zeroed (whisper's never-written
    * state). Returns a manifest (metric, n_points, bytes) — an action
    * has already run when this returns.
    */
  def export(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema): DataFrame =
    write(points, outDir, schema, mergeExisting = false)

  /** Like [[export]], but an existing `<metric>.wsp` is read first and
    * its rings updated IN PLACE — prior slots survive, same-slot writes
    * overwrite, and each archive keeps its established base interval
    * (slot 0 pinned at first write, like the reference). This is the
    * carbon-daemon write shape: repeated batches against a live tree.
    * Read-modify-write is safe under the one-writer-per-file contract
    * the shuffle guarantees (each metric lands in exactly one task).
    */
  def merge(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema): DataFrame =
    write(points, outDir, schema, mergeExisting = true)

  private def write(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema,
      mergeExisting: Boolean): DataFrame = {
    val s = points.sparkSession
    import s.implicits._
    val conf = WspTable.taskConf(s)
    val manifest = points
      .select(col("metric").cast("string"), col("archive").cast("int"),
        col("bucket_ts").cast("long"), col("value").cast("double"))
      .as[(String, Int, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (metric, rows) =>
        val acc = new RingAccumulator(schema)
        rows.foreach { case (_, a, ts, v) => acc.add(metric, a, ts, v) }
        flushMetric(metric, acc, outDir, schema, mergeExisting, conf.value.value)
      }
      .toDF("metric", "n_points", "bytes")
    manifest.localCheckpoint(true) // run the write NOW, exactly once
  }

  /** One metric's pending ring state: one-pass slot-level LWW, O(ring)
    * memory — per archive keep the max-interval point of each slot
    * CLASS (interval/spp mod N; the base choice only rotates slots, it
    * never splits or merges classes), so a months-long backfill of a
    * 1440-slot ring holds 1440 winners, not every input point. Max
    * interval per class = exactly what applying points in time order
    * leaves behind. Shared by the [[export]]/[[merge]] `mapGroups` path
    * and the DSv2 [[WspBatchWriter]].
    */
  private[sources] final class RingAccumulator(schema: WhisperSchema) {
    private val retentions = schema.retentions.toArray
    private[sources] val byArchive =
      Array.fill(retentions.length)(
        scala.collection.mutable.LongMap.empty[(Long, Double)])
    private[sources] var n = 0L

    def add(metric: String, a: Int, ts: Long, v: Double): Unit = {
      require(a >= 0 && a < retentions.length,
        s"archive index $a out of range for $metric")
      val r = retentions(a)
      val cls = java.lang.Math.floorMod(
        ts / r.secondsPerPoint, r.numberOfPoints.toLong)
      val prev = byArchive(a).getOrNull(cls)
      // the engine-wide LWW total order (Ingest.lwwKey: max_by(value,
      // struct(ts, value))) — ties on ts break by LARGER value, never by
      // row-arrival order, so a task retry or shuffled iteration order
      // publishes the identical file image and the slot winner matches
      // the relational U2 path and the DuckDB oracle
      if (prev == null || ts > prev._1 || (ts == prev._1 && v > prev._2))
        byArchive(a)(cls) = (ts, v)
      n += 1
    }
  }

  /** Pack one metric's accumulated rings into `outDir/<metric>.wsp` and
    * publish atomically. Returns the manifest row (metric, n_points,
    * bytes). Safe under task retry: re-flushing the same points is
    * idempotent (slot-level LWW of identical data), and [[publish]]
    * replaces whole file images only.
    */
  private[sources] def flushMetric(
      metric: String,
      acc: RingAccumulator,
      outDir: String,
      schema: WhisperSchema,
      mergeExisting: Boolean,
      conf: org.apache.hadoop.conf.Configuration): (String, Long, Long) = {
    // same named guard as the DSv2 writer and Carbon.format (review
    // r10): a null metric (a left-join artifact in the caller's frame)
    // must fail with the column named, not as a bare executor NPE from
    // metric.replace below
    require(metric != null, "whisper points cannot have a null metric")
    val expectedLen = WspCodec.fileSize(schema)
    // graphite tree layout: metric path components become DIRECTORIES
    // (`a.b.c` → `a/b/c.wsp`), the inverse of the read side's
    // [[WspTable.metricFor]] ('/'→'.'), so an exported tree is what a
    // stock graphite-web/go-carbon stack resolves — a flat `a.b.c.wsp`
    // file is invisible to their finder. Round-trips through THIS
    // engine's source are unaffected (metricFor recovers the same
    // dotted name from either layout).
    val path = new org.apache.hadoop.fs.Path(
      outDir, s"${metric.replace('.', '/')}.wsp")
    val fs = path.getFileSystem(conf)
    val file =
      if (mergeExisting && fs.exists(path)) {
        val st = fs.getFileStatus(path)
        require(st.getLen == expectedLen,
          s"$path: ${st.getLen} bytes, schema expects $expectedLen — " +
            "refusing to merge into a file with a different retention config")
        val bytes = new Array[Byte](expectedLen)
        val in = fs.open(path)
        try in.readFully(0, bytes) finally in.close()
        // ring geometry must match exactly — same total size does not
        // imply same (spp, points) layout, and a mismatched merge
        // would scatter points into the wrong rings
        val hdr = WspCodec.readHeader(bytes, path.toString)
        require(
          hdr.archives.map(a => (a.secondsPerPoint, a.numberOfPoints)) ==
            schema.retentions.map(r => (r.secondsPerPoint, r.numberOfPoints)),
          s"$path: on-disk archives ${hdr.archives} do not match schema " +
            s"${schema.retentions} — refusing to merge")
        bytes
      } else WspCodec.emptyFile(schema)
    val infos = WspCodec.archiveInfos(schema)
    infos.zipWithIndex.foreach { case (info, i) =>
      WspCodec.writeArchive(file, info, acc.byArchive(i).values.toSeq)
    }
    // write-to-temp + publish: a killed task or a speculative duplicate
    // attempt must never leave a truncated file (which would wedge
    // every later merge on the length check), and a concurrent READER
    // — the streaming-tail use case — must never see a missing file.
    // The tmp lives in the DESTINATION's directory (a nested metric
    // like a/b puts the file at outDir/a/b.wsp — a tmp rooted at
    // outDir would make the publish a cross-directory move), so the
    // replace is a same-dir atomic rename. See [[publish]] for the
    // per-scheme guarantee.
    val tmpPath = new org.apache.hadoop.fs.Path(path.getParent,
      s".${path.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    publish(fs, conf, tmpPath, path, file)
    (metric, acc.n, file.length.toLong)
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
