package graft.sources

import graft.model.{AggregationMethod, Retentions, WhisperSchema}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 write path for `.wsp` trees — the one sink every
  * `.wsp` write goes through, [[WspWrite.export]]/[[WspWrite.merge]]
  * included (reference: whisper.go → `Create` + `UpdateMany`; SURVEY.md
  * §2.1 S6):
  *
  * {{{
  * df.write.format("wsp")
  *   .option("retentions", "1m:1d,5m:30d")   // required, whisper DSL
  *   .option("aggregationMethod", "average") // header metadata
  *   .option("xFilesFactor", "0.5")
  *   .mode("append")                          // merge into live files
  *   .save("/var/lib/carbon/whisper/servers")
  * }}}
  *
  * Input resolves BY NAME (`ACCEPT_ANY_SCHEMA`): the full read schema
  * round-trips (`metric, archive, spp, points, ts_s, value` — what
  * `format("wsp")` scans out writes straight back), and the lean
  * contract `metric, archive, ts_s|bucket_ts, value` works too. When
  * `spp`/`points` are present they are validated per row against the
  * `retentions` option — a frame carrying geometry from a DIFFERENT
  * retention config fails loudly instead of scattering points into
  * wrong rings. Points must arrive pre-aligned and pre-routed (U3/LWW
  * upstream, as for [[WspWrite]]); slot-level LWW inside the writer
  * resolves duplicate slots by max interval.
  *
  * Modes: `append` merges into existing files (the carbon-daemon
  * shape); `overwrite` (TRUNCATE) recreates each WRITTEN metric's file
  * from zero — like [[WspWrite.export]] it never deletes files of
  * metrics absent from the frame (whisper has no tree-wide truncate;
  * deleting a series is a filesystem operation, not a write).
  *
  * Scale shape: the Write REQUIRES a distribution clustered by
  * `metric` AND a sort by `metric`, so Spark shuffles each series to
  * exactly one task (the one-writer-per-file contract) and the writer
  * holds ONE metric's ring state at a time, flushing on key
  * change — O(ring) task memory, independent of both input size and
  * metrics-per-task. Publishing is per-file atomic replace
  * ([[WspWrite.publish]]); task retries re-publish identical images.
  *
  * `writeStream.format("wsp")` reuses the same writers per micro-batch
  * epoch with merge semantics — each epoch is an `UpdateMany` against
  * the live tree, idempotent under epoch replay.
  */
final class WspWriteBuilder(
    roots: Seq[String],
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var mergeExisting = true

  override def truncate(): WriteBuilder = { mergeExisting = false; this }

  override def build(): Write = {
    require(roots.size == 1,
      s"wsp write needs exactly one destination directory, got $roots")
    val schema = WspWriteBuilder.schemaOf(info.options)
    WspBatchWriter.validateInput(info.schema())
    new WspWrite2(roots.head, schema, info.schema(), mergeExisting, WspWrite.committed.value)
  }
}

object WspWriteBuilder {
  /** The header a write's options describe ([[WspWrite.schemaOptions]]
    * renders them from a schema). */
  private[sources] def schemaOf(opts: CaseInsensitiveStringMap): WhisperSchema = {
    val retStr = Option(opts.get("retentions")).getOrElse(
      throw new IllegalArgumentException(
        "wsp write requires .option(\"retentions\", \"1m:1d,...\") — " +
          "the whisper retention DSL"))
    WhisperSchema(
      Retentions.parseRetentionDefs(retStr),
      AggregationMethod.fromName(
        Option(opts.get("aggregationMethod")).getOrElse("average")),
      Option(opts.get("xFilesFactor")).map(_.toDouble).getOrElse(0.5))
  }
}

final class WspWrite2(
    outDir: String,
    schema: WhisperSchema,
    inputSchema: StructType,
    mergeExisting: Boolean,
    manifest: Option[collection.mutable.ArrayBuffer[(String, Long, Long)]])
  extends Write with RequiresDistributionAndOrdering {

  // one writer per series: cluster by metric, SORT by metric. The sort
  // lets the writer hold ONE ring accumulator at a time and flush on
  // key change — without it every metric a task owns buffers a full
  // ring until commit, O(metrics-per-task × ring) live memory: a
  // million-series tree on ten tasks is gigabytes per task (review
  // r10). The per-task sort is by the partitioning key, so it is a
  // cheap co-sorted spill path, not a data reorder.
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity("metric")))
  override def requiredOrdering(): Array[SortOrder] =
    Array(Expressions.sort(Expressions.column("metric"),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

  private def factory(): WspWriterFactory = {
    val session = org.apache.spark.sql.SparkSession.active
    new WspWriterFactory(outDir, schema, inputSchema, mergeExisting, WspTable.taskConf(session))
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
      factory()
    // publication is per-file atomic inside each task ([[WspWrite
    // .publish]]); there is nothing tree-wide to commit or roll back —
    // whisper semantics, same as the reference's per-file UpdateMany.
    // Commit only hands the tasks' manifest rows to the calling export
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      manifest.foreach(m => messages.foreach { case WspCommitMessage(rows) => m ++= rows })
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def toStreaming: StreamingWrite = {
    // complete output mode arrives as truncate(): whisper has no
    // tree-wide truncate (files of absent metrics survive any write),
    // so complete-mode semantics CANNOT be honored — reject loudly
    // instead of silently merging every epoch (review r10)
    require(mergeExisting,
      "wsp writeStream supports append/update output modes only: " +
        "whisper has no tree-wide truncate, so outputMode(\"complete\") " +
        "cannot be honored")
    new StreamingWrite {
      private val f = factory()
      override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory =
        f
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

/** One task's manifest rows: (metric, n_points, bytes) per file written. */
final case class WspCommitMessage(rows: Seq[(String, Long, Long)])
  extends WriterCommitMessage

final class WspWriterFactory(
    outDir: String,
    schema: WhisperSchema,
    inputSchema: StructType,
    mergeExisting: Boolean,
    conf: Broadcast[SerializableConfiguration])
  extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WspBatchWriter(outDir, schema, inputSchema, mergeExisting, conf.value.value)

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    // every epoch after the first MUST merge — a fresh micro-batch
    // overwriting the tree would drop all prior epochs' points
    new WspBatchWriter(outDir, schema, inputSchema, mergeExisting = true, conf.value.value)
}

object WspBatchWriter {
  private[sources] def tsField(s: StructType): String =
    if (s.fieldNames.contains("ts_s")) "ts_s"
    else if (s.fieldNames.contains("bucket_ts")) "bucket_ts"
    else throw new IllegalArgumentException(
      s"wsp write input needs a ts_s or bucket_ts column, got ${s.fieldNames.mkString(", ")}")

  /** Fail at PLANNING with a readable message when a required column is
    * missing or mistyped (ACCEPT_ANY_SCHEMA skips Spark's own check).
    */
  private[sources] def validateInput(s: StructType): Unit = {
    import org.apache.spark.sql.types._
    def need(name: String, t: DataType): Unit = {
      require(s.fieldNames.contains(name),
        s"wsp write input needs a '$name' column, got ${s.fieldNames.mkString(", ")}")
      require(s(name).dataType == t,
        s"wsp write column '$name' must be $t, got ${s(name).dataType}")
    }
    need("metric", StringType)
    need("archive", IntegerType)
    need(tsField(s), LongType)
    need("value", DoubleType)
    Seq("spp", "points").foreach { n =>
      if (s.fieldNames.contains(n))
        require(s(n).dataType == IntegerType,
          s"wsp write column '$n' must be IntegerType, got ${s(n).dataType}")
    }
  }
}

/** Accumulates rows into one metric's ring state at a time, packs and
  * publishes its `.wsp` when the metric changes. Columns resolved by NAME
  * from the input schema; `spp`/`points`, when present, are
  * cross-checked against the retention config.
  */
final class WspBatchWriter(
    outDir: String,
    schema: WhisperSchema,
    inputSchema: StructType,
    mergeExisting: Boolean,
    conf: org.apache.hadoop.conf.Configuration) extends DataWriter[InternalRow] {

  private val iMetric = inputSchema.fieldIndex("metric")
  private val iArchive = inputSchema.fieldIndex("archive")
  private val iSpp = inputSchema.fieldNames.indexOf("spp")
  private val iPoints = inputSchema.fieldNames.indexOf("points")
  private val iTs = inputSchema.fieldIndex(WspBatchWriter.tsField(inputSchema))
  private val iValue = inputSchema.fieldIndex("value")
  private val retentions = schema.retentions.toArray

  // ONE live metric: rows arrive metric-sorted (requiredOrdering), so a
  // key change flushes the finished series and frees its ring — task
  // memory is O(ring), independent of how many metrics the task owns.
  // `written` (one manifest row per name) makes correctness independent
  // of the sort actually holding: a reappearing metric merges into its
  // own just-published file instead of truncating it in overwrite mode.
  //
  // Ring state is one-pass slot-level LWW: per archive keep the
  // max-interval point of each slot CLASS (interval/spp mod N; the base
  // choice only rotates slots, it never splits or merges classes), so a
  // months-long backfill of a 1440-slot ring holds 1440 winners, not
  // every input point — exactly what applying points in time order
  // leaves behind.
  private var curMetric: String = null
  private val slots = Array.fill(retentions.length)(
    scala.collection.mutable.LongMap.empty[(Long, Double)])
  private var curPoints = 0L
  private val written = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

  override def write(row: InternalRow): Unit = {
    // whisper slots cannot represent nulls, and ACCEPT_ANY_SCHEMA means
    // Spark never enforced the read schema's non-null flags: a null
    // ts_s read as 0 would write interval 0 — whisper's UNWRITTEN
    // marker — silently erasing a live slot in merge mode (review r10)
    require(!row.isNullAt(iMetric) && !row.isNullAt(iArchive) &&
      !row.isNullAt(iTs) && !row.isNullAt(iValue),
      "wsp write: null metric/archive/ts/value — whisper points cannot " +
        "be null; filter gap rows out before writing")
    val metric = row.getUTF8String(iMetric).toString
    val a = row.getInt(iArchive)
    require(a >= 0 && a < retentions.length,
      s"archive index $a out of range for $metric")
    val r = retentions(a)
    if (iSpp >= 0) {
      val spp = row.getInt(iSpp)
      require(spp == r.secondsPerPoint,
        s"$metric archive $a: row spp $spp does not match the retentions " +
          s"option (${r.secondsPerPoint}) — wrong retention config for this frame")
    }
    if (iPoints >= 0) {
      val pts = row.getInt(iPoints)
      require(pts == r.numberOfPoints,
        s"$metric archive $a: row points $pts does not match the retentions " +
          s"option (${r.numberOfPoints}) — wrong retention config for this frame")
    }
    if (metric != curMetric) {
      flushCurrent()
      curMetric = metric
    }
    val ts = row.getLong(iTs)
    val v = row.getDouble(iValue)
    val cls = java.lang.Math.floorMod(ts / r.secondsPerPoint, r.numberOfPoints.toLong)
    val prev = slots(a).getOrNull(cls)
    // the engine-wide LWW total order (Ingest.lwwKey: max_by(value,
    // struct(ts, value))) — ties on ts break by LARGER value, never by
    // row-arrival order, so a task retry or shuffled iteration order
    // publishes the identical file image and the slot winner matches
    // the relational U2 path and the DuckDB oracle
    if (prev == null || ts > prev._1 || (ts == prev._1 && v > prev._2))
      slots(a)(cls) = (ts, v)
    curPoints += 1
  }

  private def flushCurrent(): Unit = if (curMetric != null) {
    val (n, _) = written.getOrElse(curMetric, (0L, 0L))
    val bytes = flush(curMetric, mergeExisting || written.contains(curMetric))
    written(curMetric) = (n + curPoints, bytes)
    slots.foreach(_.clear())
    curPoints = 0L
    curMetric = null
  }

  /** Pack the current metric's rings into `outDir/<metric>.wsp` and
    * publish atomically; returns the file's size. Safe under task retry:
    * re-flushing the same points is idempotent (slot-level LWW of
    * identical data), and [[WspWrite.publish]] replaces whole file
    * images only.
    */
  private def flush(metric: String, mergeFile: Boolean): Long = {
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
      if (mergeFile && fs.exists(path)) {
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
    WspCodec.archiveInfos(schema).zipWithIndex.foreach { case (info, i) =>
      WspCodec.writeArchive(file, info, slots(i).values.toSeq)
    }
    // write-to-temp + publish: a killed task or a speculative duplicate
    // attempt must never leave a truncated file (which would wedge
    // every later merge on the length check), and a concurrent READER
    // — the streaming-tail use case — must never see a missing file.
    // The tmp lives in the DESTINATION's directory (a nested metric
    // like a/b puts the file at outDir/a/b.wsp — a tmp rooted at
    // outDir would make the publish a cross-directory move), so the
    // replace is a same-dir atomic rename. See [[WspWrite.publish]] for
    // the per-scheme guarantee.
    val tmpPath = new org.apache.hadoop.fs.Path(path.getParent,
      s".${path.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    WspWrite.publish(fs, conf, tmpPath, path, file)
    file.length.toLong
  }

  override def commit(): WriterCommitMessage = {
    flushCurrent()
    WspCommitMessage(written.iterator.map { case (m, (n, b)) => (m, n, b) }.toList)
  }

  // nothing staged outside flush's tmp files (swept by
  // [[WspWrite.vacuumTmp]]); published files are whole consistent images
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
