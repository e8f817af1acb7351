package graft.sources

import graft.model.{AggregationMethod, Retentions, WhisperSchema}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 write path for `.wsp` trees — the DSv2 twin of
  * [[WspWrite.export]]/[[WspWrite.merge]] (reference: whisper.go →
  * `Create` + `UpdateMany`; SURVEY.md §2.1 S6):
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
  * holds ONE [[WspWrite.RingAccumulator]] at a time, flushing on key
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
    val opts = info.options
    val retStr = Option(opts.get("retentions")).getOrElse(
      throw new IllegalArgumentException(
        "wsp write requires .option(\"retentions\", \"1m:1d,...\") — " +
          "the whisper retention DSL"))
    val schema = WhisperSchema(
      Retentions.parseRetentionDefs(retStr),
      AggregationMethod.fromName(
        Option(opts.get("aggregationMethod")).getOrElse("average")),
      Option(opts.get("xFilesFactor")).map(_.toDouble).getOrElse(0.5))
    WspBatchWriter.validateInput(info.schema())
    new WspWrite2(roots.head, schema, info.schema(), mergeExisting)
  }
}

final class WspWrite2(
    outDir: String,
    schema: WhisperSchema,
    inputSchema: StructType,
    mergeExisting: Boolean) extends Write with RequiresDistributionAndOrdering {

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
    // whisper semantics, same as the reference's per-file UpdateMany
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
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

final case class WspCommitMessage(metrics: Long, points: Long)
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

/** Accumulates rows into per-metric ring state, packs + publishes one
  * `.wsp` per metric at commit. Columns resolved by NAME from the
  * input schema; `spp`/`points`, when present, are cross-checked
  * against the retention config.
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

  // ONE live accumulator: rows arrive metric-sorted (requiredOrdering),
  // so a key change flushes the finished series and frees its ring —
  // task memory is O(ring), independent of how many metrics the task
  // owns. `flushed` (names only) makes correctness independent of the
  // sort actually holding: a reappearing metric merges into its own
  // just-published file instead of truncating it in overwrite mode.
  private var curMetric: String = null
  private var curAcc: WspWrite.RingAccumulator = null
  private var metricsOut = 0L
  private var pointsOut = 0L
  private val flushed = scala.collection.mutable.HashSet.empty[String]

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
      curAcc = new WspWrite.RingAccumulator(schema)
    }
    curAcc.add(metric, a, row.getLong(iTs), row.getDouble(iValue))
  }

  private def flushCurrent(): Unit = if (curMetric != null) {
    val merge = mergeExisting || flushed.contains(curMetric)
    WspWrite.flushMetric(curMetric, curAcc, outDir, schema, merge, conf)
    if (flushed.add(curMetric)) metricsOut += 1
    pointsOut += curAcc.n
    curMetric = null
    curAcc = null
  }

  override def commit(): WriterCommitMessage = {
    flushCurrent()
    WspCommitMessage(metricsOut, pointsOut)
  }

  // nothing staged outside flushMetric's tmp files (swept by
  // [[WspWrite.vacuumTmp]]); published files are whole consistent images
  override def abort(): Unit = ()
  override def close(): Unit = { curMetric = null; curAcc = null }
}
