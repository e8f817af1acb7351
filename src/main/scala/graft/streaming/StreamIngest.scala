package graft.streaming

import graft.model.WhisperSchema
import graft.ops.{Buckets, Ingest, Rollup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming ingest — the streaming re-expression of whisper's
  * write path (SURVEY.md §2.8; absent in the reference, which is a
  * synchronous library fronted externally by carbon's network daemon).
  *
  * Mapping (SURVEY.md §2.8 table):
  *  - per-point `Update` stream        → `readStream` of TimeSeriesPoint rows
  *  - tumbling consolidation buckets   → `window($"ts", "<spp> seconds")`
  *  - retention horizon / F3 refusal   → `withWatermark(maxRetention)` — late
  *    data beyond the horizon is dropped (whisper instead routes late
  *    points to coarser archives; per-level watermarks would mirror that)
  *  - LWW slot overwrite               → `foreachBatch` running the exact
  *    batch U2 dedup (`Ingest.lwwAlign`) and merging into state — the
  *    batch and streaming paths share one implementation, so semantics
  *    can't drift
  *  - xFF gate on incomplete windows   → gate applied on the merged store
  *    after each micro-batch (windows finalize as the watermark passes)
  *
  * Scale notes: the micro-batch merge is a per-(metric, bucket) hash
  * aggregation — the same bounded-shuffle shape as batch U2. State is the
  * current archive content, bounded by retention (ring semantics), so a
  * production sink would be a partitioned table with idempotent
  * per-bucket overwrite (e.g. `replaceWhere` per day partition).
  */
object StreamIngest {

  /** Continuous windowed aggregation over a point stream: tumbling
    * `spp`-second windows with a `maxRetention`-deep watermark. Append
    * mode — a window only emits once the watermark passes it (the
    * streaming analog of "the consolidation window is complete").
    */
  def windowedAgg(points: DataFrame, spp: Int, watermark: String): DataFrame =
    points
      .withColumn("ts", timestamp_seconds(col("ts_s")))
      .withWatermark("ts", watermark)
      .groupBy(col("metric"), window(col("ts"), s"$spp seconds"))
      // the bucket mean as the exact fixed-point sum (Rollup.aggColumn
      // = Rollup.fixedSum / count): the micro-batch/task merge order of
      // an incremental raw-double (sum, count) state is timing-dependent
      // and a bucket mean on a round-half midpoint would flip its 6th
      // decimal between runs/engines — integer partial sums make the
      // state merge order-independent by construction, with a constant
      // (sum, count) state per window, the same shape as batch
      // aggColumn.
      .agg(Rollup.aggColumn(graft.model.AggregationMethod.Average,
          col("value"), col("ts_s")).as("value"),
        count(lit(1)).as("known"))
      .select(col("metric"),
        unix_timestamp(col("window.start")).as("bucket_ts"),
        col("value"), col("known"))

  /** foreachBatch sink: merge each micro-batch into an in-memory LWW
    * store through the *batch* U2 implementation. State rows carry the
    * winning point's RAW timestamp (`ts_s`, 4th column) alongside the
    * aligned bucket, so the cross-batch re-dedup compares true raw
    * timestamps — winners are genuinely order-insensitive across
    * micro-batch boundaries, the same result as one batch `lwwAlign`
    * over all points ever streamed (minus expiry).
    */
  final class LwwStore(schema: WhisperSchema, clock: () => Long)
      extends Serializable {
    /** Fixed-now convenience: tests and replays pin determinism. */
    def this(schema: WhisperSchema, nowS: Long) = this(schema, () => nowS)

    @volatile private var state: Option[DataFrame] = None

    def mergeBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      // 'now' advances PER MICRO-BATCH: a long-running stream's F3
      // accept window and R3 expiry horizon track the clock instead of
      // freezing at construction (the round-5 drift finding)
      val nowS = clock()
      val spp = schema.retentions.head.secondsPerPoint
      // F3: refuse out-of-retention / future points before aligning
      val accepted = batch.filter(
          Ingest.retentionStatus(schema, nowS) === "accepted")
        .select(col("metric"), col("ts_s"), col("value"))
      val merged = state match {
        case None => Ingest.lwwAlignKeepTs(accepted, spp)
        case Some(prev) =>
          // re-dedup (previous winners ∪ new batch) on raw timestamps: a
          // stored winner is displaced only by a strictly later (ts,
          // value) pair, never by an earlier-raw-ts point that happened
          // to arrive in a later micro-batch
          val prevAsPts = prev.select(col("metric"), col("ts_s"), col("value"))
          Ingest.lwwAlignKeepTs(prevAsPts.unionAll(accepted), spp)
      }
      // R3 ring expiry keeps state bounded by retention
      val expired = Rollup.retentionExpiry(
        merged, schema.retentions.head.maxRetentionSeconds, nowS)
      val prev = state
      state = Some(expired.localCheckpoint(true))
      // retire the superseded checkpoint — physically released one
      // batch LATER so a consumer's mid-stream snapshot of `current`
      // survives this merge; must go through CheckpointRelease either
      // way (Dataset.unpersist is a no-op on local checkpoint blocks —
      // they live on the RDD, not the CacheManager)
      prev.foreach(retired.supersede)
    }

    private val retired = new CheckpointRelease.Retired

    /** Current winners: (metric, bucket_ts, value, ts_s). */
    def current: Option[DataFrame] = state
  }

  /** Per-level windowed aggregation: one streaming aggregation per
    * archive level, each at its own resolution with a watermark as deep
    * as that level's retention — the streaming analog of whisper's U3
    * late-data routing (SURVEY.md §2.8): a point too late for the finest
    * level's watermark is dropped there but still lands in every coarser
    * level whose (deeper) watermark covers it, exactly as whisper routes
    * an old-but-covered point directly to a coarser archive. All levels
    * read one source stream; each is an independent query with its own
    * state, so a skewed/late partition stalls only its own level.
    */
  def perLevelAggs(points: DataFrame, schema: WhisperSchema): Seq[(Int, DataFrame)] =
    schema.retentions.map { r =>
      r.secondsPerPoint ->
        windowedAgg(points, r.secondsPerPoint, s"${r.maxRetentionSeconds} seconds")
    }

  /** Wire a point-stream DataFrame to a LwwStore via foreachBatch. */
  def ingestWriter(points: DataFrame, store: LwwStore): DataStreamWriter[Row] =
    points.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, id: Long) => store.mergeBatch(batch, id) }
      .trigger(Trigger.AvailableNow())

  /** Carbon-daemon-shaped sink: write a point stream into a live tree of
    * whisper `.wsp` files. Each micro-batch is F3-gated, U3-routed to
    * its level, LWW-aligned per level, then slot-merged into the tree
    * ([[graft.sources.WspWrite.merge]], a `format("wsp")` append) —
    * existing slots survive, rings lap, every archive keeps its
    * established base. This is what the reference's companion daemon
    * does to whisper files, distributed: one shuffle per batch
    * clustered by metric, one writer task per file.
    * No propagation cascade here (carbon's whisper `update` propagates;
    * this sink writes routed levels only) — use [[tableWriter]] +
    * `WhisperTable.exportWsp` when cascade semantics must hold.
    */
  def wspWriter(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema,
      clock: () => Long): DataStreamWriter[Row] =
    points.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-batch 'now': F3 window and U3 routing advance with the
        // stream (the carbon-daemon shape this sink documents), instead
        // of pinning at construction
        val nowS = clock()
        val routed = batch
          .filter(Ingest.retentionStatus(schema, nowS) === "accepted")
          .withColumn("archive", Ingest.archiveColumn(schema, nowS))
          .filter(col("archive") > 0)
        val perLevel = schema.retentions.zipWithIndex.map { case (r, i) =>
          Ingest.lwwAlign(
              routed.filter(col("archive") === i + 1).drop("archive"),
              r.secondsPerPoint)
            .withColumn("archive", lit(i))
        }.reduce(_ unionAll _)
        graft.sources.WspWrite.merge(perLevel, outDir, schema)
        ()
      }
      .trigger(Trigger.AvailableNow())

  /** [[wspWriter]] with a pinned 'now' — deterministic tests/replays. */
  def wspWriter(
      points: DataFrame,
      outDir: String,
      schema: WhisperSchema,
      nowS: Long): DataStreamWriter[Row] =
    wspWriter(points, outDir, schema, () => nowS)

  /** Production-shaped sink: merge each micro-batch into a persistent
    * [[graft.WhisperTable]] through the batch U2/U3 write path —
    * streaming and batch share one implementation (semantics cannot
    * drift), and the state IS the partitioned table (incremental per-day
    * overwrite + cascade over touched buckets), not driver memory. F3
    * rejects are counted per batch by `updateMany`'s lenient mode;
    * replays are idempotent, so at-least-once delivery is safe. (This
    * scaladoc sat stranded above [[wspWriter]] until the r14 review.)
    */
  def tableWriter(
      points: DataFrame,
      table: graft.WhisperTable,
      clock: () => Long): DataStreamWriter[Row] =
    points.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import batch.sparkSession.implicits._
        table.updateMany(
          batch.select(col("metric"), col("ts_s").as("time"), col("value"))
            .as[graft.TimeSeriesPoint],
          clock())
        ()
      }
      .trigger(Trigger.AvailableNow())

  /** [[tableWriter]] with a pinned 'now' — deterministic tests/replays. */
  def tableWriter(
      points: DataFrame,
      table: graft.WhisperTable,
      nowS: Long): DataStreamWriter[Row] =
    tableWriter(points, table, () => nowS)
}
