package graft

import graft.functions.BoundParam.param
import graft.functions.RegexFind
import graft.model.{AggregationMethod, Retention, Retentions, WhisperSchema}
import graft.ops.{Buckets, Fetch, Ingest, Rollup}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  DateType, DoubleType, LongType, StringType, StructField, StructType}

/** One raw input point — the public write type (reference: whisper.go →
  * `type TimeSeriesPoint struct { Time int; Value float64 }`;
  * SURVEY.md §1.1). `metric` is this engine's addition: one table holds
  * many series, where the reference is file-per-series.
  */
final case class TimeSeriesPoint(metric: String, time: Long, value: Double)

/** Outcome of a write: points that landed in an archive vs points refused
  * by the retention gate (F3). The reference's `Update` surfaces the
  * refusal as the error "Timestamp not covered by any archives in this
  * database"; `updateMany(strict = true)` reproduces that, the default
  * lenient mode reports counts instead of silently dropping.
  */
final case class UpdateResult(accepted: Long, rejected: Long)

/** The user-facing facade with go-whisper's API shape — what a reference
  * user programs against after switching (SURVEY.md §1.1 table):
  *
  * {{{
  * val t = WhisperTable.create(spark, path, Retentions.std)   // Create
  * t.updateMany(points, nowS)                                 // UpdateMany
  * t.update("cpu", ts, v, nowS)                               // Update
  * val series = t.fetch("cpu", fromS, untilS, nowS)           // Fetch
  * val u = WhisperTable.open(spark, path)                     // Open (header from disk)
  * t.maxRetention; t.aggregationMethod; t.xFilesFactor        // header
  * }}}
  *
  * Storage: one Parquet directory per archive level (`points_<spp>s`),
  * partitioned by `day`, plus a `_whisper.json` header carrying what the
  * reference packs into its 16-byte binary header + retention block
  * (aggregation method, xFilesFactor, archive list) — so `open` needs no
  * caller-supplied schema, exactly like whisper's `Open`/`readHeader`.
  *
  * Write semantics: U3 routing decides the finest archive a point may
  * land in; each level is LWW-merged with its direct writes, and
  * propagation into the next coarser level covers ONLY the coarse buckets
  * intersecting intervals written this cycle (whisper propagates the
  * current update's intervals, not the whole archive) — gated by xFF.
  *
  * Scale notes: a write cycle pins each level's fresh rows once and
  * rewrites only the day partitions they fall in (dynamic partition
  * overwrite), never the whole level; a level with no fresh rows is not
  * read or written. All merges are hash aggregations on (metric,
  * bucket); propagation input is a broadcast semi-join against the
  * coarse buckets of the fresh rows; fetch prunes partitions via the day
  * directory layout. A fetch's bucket bounds are bound parameters, not
  * pushed parquet filters, so no read compiles code per window; with one
  * unsorted file per written day, row-group stats rarely skipped a group.
  * Whole-day partitions older than the archive's retention are vacuumed
  * on write; rows expiring mid-day stay on disk until their day ages out,
  * which fetch never observes (archive selection clamps every read range
  * inside the retention horizon).
  */
final class WhisperTable private (
    spark: SparkSession,
    val path: String,
    val schema: WhisperSchema) {

  // ---- S4 header introspection (reference: Size/MaxRetention/... ) ----
  def aggregationMethod: graft.model.AggregationMethod = schema.method
  def xFilesFactor: Double = schema.xFilesFactor
  def retentions: Seq[Retention] = schema.retentions
  def maxRetention: Long = schema.maxRetentionSeconds

  private def levelPath(r: Retention) = s"$path/points_${r.secondsPerPoint}s"

  /** An absent level directory reads as empty: a table created but not
    * yet written at this resolution (whisper pre-allocates, parquet
    * materializes lazily). A directory holding no parquet files yet
    * (dynamic overwrite of zero rows leaves only markers) needs no
    * recovery: the level schema is given, so it reads as zero rows.
    */
  private def missingPath(e: org.apache.spark.sql.AnalysisException): Boolean =
    Option(e.getCondition).contains("PATH_NOT_FOUND")

  /** The shared read scaffold: open the level with the writer's fixed
    * schema (no inference job), apply the caller's partition filter
    * BEFORE the column projection (so `day` predicates prune
    * directories), and map a missing level to the empty frame.
    * A foreign level fails loudly instead of reading NULLs: the footer of
    * its first listed file must hold every level column ([[checkLevelFile]]).
    */
  private def readLevelWith(r: Retention)(
      f: DataFrame => DataFrame): DataFrame =
    try {
      val level = spark.read.schema(WhisperTable.LevelSchema).parquet(levelPath(r))
      level.inputFiles.minOption.foreach(checkLevelFile)
      f(level).select(WhisperTable.LevelColumns.fieldNames.toSeq.map(col): _*)
    } catch {
      case e: org.apache.spark.sql.AnalysisException if missingPath(e) =>
        emptyLevel
    }

  /** Refuse a level file whose footer lacks a level column or stores it
    * with another type — a schema-given read would serve such a column as
    * NULLs. Read on the driver: one footer, no job.
    */
  private def checkLevelFile(file: String): Unit = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(new java.net.URI(file)),
      spark.sessionState.newHadoopConf())
    val footer = ParquetFooterReader.readFooter(in,
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val found = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer.getFileMetaData.getSchema)
    val resolver = spark.sessionState.conf.resolver
    for (c <- WhisperTable.LevelColumns
         if !found.exists(g => resolver(g.name, c.name) && g.dataType == c.dataType))
      throw new IllegalStateException(
        s"level file $file has no column ${c.name} ${c.dataType.sql}: " +
          s"its schema is ${found.toDDL}")
  }

  private def readLevel(r: Retention): DataFrame =
    readLevelWith(r)(identity)

  /** [[readLevel]] restricted to a set of day partitions — the filter is
    * on the PARTITION column, so Spark prunes the day directories before
    * listing files (a `bucket_ts` predicate alone cannot: Spark can't
    * know the derived day from it). At 100 TB this is the difference
    * between touching a batch's days and touching the archive.
    */
  private def readLevelDays(r: Retention, days: Seq[String]): DataFrame =
    readLevelWith(r)(_.filter(col("day").cast("string").isin(days: _*)))

  /** [[readLevel]] restricted to the buckets in [fromI, untilI), pruned to
    * the day partitions overlapping that range (in session-timezone days —
    * the same derivation the writer used). The day filter stays literal:
    * the file index applies it and it never reaches generated code. The
    * bucket bounds are bound parameters, so a new window compiles nothing.
    */
  private def readLevelRange(r: Retention, fromI: Long, untilI: Long): DataFrame =
    readLevelWith(r)(_.filter(col("day").between(dayOf(lit(fromI)), dayOf(lit(untilI))) &&
      col("bucket_ts") >= param(fromI) && col("bucket_ts") < param(untilI)))

  private def emptyLevel: DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      WhisperTable.LevelColumns)

  /** The day partition of an epoch-second column, in the session
    * timezone: the one derivation behind the writer's `day` column, read
    * pruning and a write cycle's day sets.
    */
  private def dayOf(s: Column): Column = to_date(timestamp_seconds(s))

  /** The writer's side of the level schema: every level file holds
    * exactly [[WhisperTable.LevelColumns]] plus the `day` partition.
    */
  private def levelRows(df: DataFrame): DataFrame =
    df.select(WhisperTable.LevelColumns.toSeq.map(c => col(c.name).cast(c.dataType)): _*)
      .withColumn("day", dayOf(col("bucket_ts")))

  private[graft] def writeLevelFull(r: Retention, df: DataFrame): Unit =
    levelRows(df)
      .write.mode("overwrite").partitionBy("day").parquet(levelPath(r))

  /** Incremental write: dynamically overwrite ONLY the day partitions in
    * `days`, leaving every other day's files untouched on disk. One file
    * per day (repartition by day) — no tiny-file spray.
    */
  private def writeTouchedDays(r: Retention, df: DataFrame, days: Seq[String]): Unit =
    levelRows(df)
      .filter(col("day").cast("string").isin(days: _*))
      .repartition(col("day"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(levelPath(r))

  /** R3 disk-side expiry: drop whole day-partition directories whose last
    * second is older than the archive's retention (the ring buffer's
    * reclaim, as a partition-metadata operation — never a data rewrite).
    *
    * Hadoop `FileSystem`, not `java.io.File`: at 100 TB the table lives
    * on HDFS/S3, and vacuum must speak whatever scheme `path` carries.
    * The partition's end second is derived in the SESSION timezone — the
    * same zone [[dayOf]] used when the writer derived the day column;
    * hard-coding UTC would let a west-of-UTC
    * session delete a day directory that still holds in-retention rows.
    */
  private def vacuumLevel(r: Retention, nowS: Long): Unit = {
    val cutoff = nowS - r.maxRetentionSeconds
    val dir = new org.apache.hadoop.fs.Path(levelPath(r))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return
    // SHORT_IDS mapping: Spark accepts short zone ids ("PST") for
    // spark.sql.session.timeZone; bare ZoneId.of would throw on them
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"),
      java.time.ZoneId.SHORT_IDS)
    for (st <- fs.listStatus(dir)
         if st.isDirectory && st.getPath.getName.startsWith("day=")) {
      val dayEndS = try {
        java.time.LocalDate.parse(st.getPath.getName.stripPrefix("day="))
          .plusDays(1).atStartOfDay(zone).toEpochSecond
      } catch { case _: java.time.format.DateTimeParseException => Long.MaxValue }
      if (dayEndS < cutoff) { fs.delete(st.getPath, true); () }
    }
  }

  /** U1 `Update`: single-point write. Strict like the reference — an
    * out-of-retention or future timestamp raises whisper's error instead
    * of being dropped.
    */
  def update(metric: String, time: Long, value: Double, nowS: Long): Unit = {
    import spark.implicits._
    updateMany(Seq(TimeSeriesPoint(metric, time, value)).toDS(), nowS, strict = true)
    ()
  }

  /** U2/U3 `UpdateMany`: batch upsert with archive routing, LWW alignment,
    * and the propagation cascade over the touched intervals. Returns the
    * accepted/rejected split; `strict = true` raises the reference's F3
    * error if any point falls outside every archive.
    */
  def updateMany(
      points: Dataset[TimeSeriesPoint],
      nowS: Long,
      strict: Boolean = false): UpdateResult =
    writeCycle(points, Ingest.archiveColumn(schema, nowS), nowS, strict)

  /** `UpdateManyForArchive` (reference: whisper.go →
    * `func (whisper *Whisper) UpdateManyForArchive`): write a batch into
    * the CALLER-CHOSEN archive instead of age-routing — the fill/backfill
    * tools' entry point for restoring coarse history without touching the
    * finer levels. Points outside the chosen archive's own retention
    * window are rejected (the ring cannot hold them); propagation to the
    * coarser levels below runs exactly as for [[updateMany]], finer
    * levels are never written.
    */
  def updateManyForArchive(
      points: Dataset[TimeSeriesPoint],
      secondsPerPoint: Int,
      nowS: Long,
      strict: Boolean = false): UpdateResult = {
    val i = schema.retentions.indexWhere(_.secondsPerPoint == secondsPerPoint)
    require(i >= 0,
      s"no archive with ${secondsPerPoint}s resolution in $schema")
    val age = lit(nowS) - col("ts_s")
    writeCycle(points,
      when(age >= 0 && age < schema.retentions(i).maxRetentionSeconds, lit(i + 1))
        .otherwise(lit(0)),
      nowS, strict)
  }

  /** One whisper write cycle: route every point by `archive` (a column
    * over `ts_s`: 1-based level index, 0 = rejected), then write the
    * levels finest→coarsest, each from its fresh rows — the direct
    * writes routed to it and the buckets propagated from the finer level.
    */
  private def writeCycle(
      points: Dataset[TimeSeriesPoint], archive: Column,
      nowS: Long, strict: Boolean): UpdateResult = {
    val levels = schema.retentions.indices
    val counts = Observation("whisper_route")
    val routed = points.toDF()
      .select(col("metric"), col("time").as("ts_s"), col("value"))
      .withColumn("archive", archive)
      // count(when), not sum(when): a sum over zero rows is NULL
      .observe(counts, count(when(col("archive") === 0, 1L)).as("rejected"),
        levels.map(i => count(when(col("archive") === i + 1, 1L)).as(s"direct$i")): _*)
      .localCheckpoint(true) // read by every level
    val n = counts.get.view.mapValues(_.asInstanceOf[Long]).toMap
    if (strict && n("rejected") > 0)
      throw new IllegalArgumentException(
        "Timestamp not covered by any archives in this database")
    // whisper write order in one update cycle (whisper.py
    // file_update_many, mirrored by go-whisper's UpdateMany): the FINEST
    // archive is written and propagated into the coarser rings FIRST, and
    // only then are the older points packed DIRECTLY into the coarser
    // archive — so on a contested coarse slot (a batch whose fresh and
    // just-too-old points align to one coarse bucket, possible exactly
    // when the finer retention boundary cuts through it) the DIRECT write
    // lands last and wins; propagation beats only prior content (max_by
    // on a priority column)
    levels.foldLeft(Option.empty[DataFrame]) { (propagated, i) =>
      val direct = Option.when(n(s"direct$i") > 0)(Ingest.lwwAlign(
        routed.filter(col("archive") === i + 1).drop("archive"),
        schema.retentions(i).secondsPerPoint))
      writeLevel(i,
        propagated.map(_.withColumn("prio", lit(1))).toSeq ++
          direct.map(_.withColumn("prio", lit(2))),
        nowS)
    }
    UpdateResult(levels.map(i => n(s"direct$i")).sum, n("rejected"))
  }

  /** One level of a write cycle: LWW-merge the fresh rows (`prio`-tagged)
    * over the level's content in the days they touch, rewrite those days
    * and return the rows this cycle propagates into the next level. A
    * level with no fresh rows reads, writes and propagates nothing.
    */
  private def writeLevel(
      i: Int, fresh: Seq[DataFrame], nowS: Long): Option[DataFrame] = {
    if (fresh.isEmpty) return None
    val r = schema.retentions(i)
    val next = schema.retentions.lift(i + 1)
    val bucket = col("bucket_ts")
    // the next-coarser bucket a fresh row re-derives (whisper propagates
    // the current update's intervals, not the archive); NULL where its
    // finer source window is partially expired — that full-window
    // aggregate is no longer derivable, so the stored coarse value stands
    def coarseKey(n: Retention): Column = {
      val ck = Buckets.alignTs(bucket, n.secondsPerPoint)
      when(ck >= nowS - r.maxRetentionSeconds, ck)
    }
    // the seconds whose days the merge must see for a fresh row: its own
    // bucket, widened to its coarse bucket's full source window (wider
    // than one day only for super-day windows)
    val (lo, hi) = next.fold((bucket, bucket))(n =>
      (coalesce(coarseKey(n), bucket),
        coalesce(coarseKey(n) + (n.secondsPerPoint - 1), bucket)))
    // the day sets ride the pin, as STRINGS: Row.getDate throws under
    // spark.sql.datetime.java8API.enabled (LocalDate external type)
    val days = Observation(s"whisper_days_${r.secondsPerPoint}s")
    val pinned = fresh.reduce(_ unionAll _)
      .observe(days,
        collect_set(dayOf(bucket).cast("string")).as("write"),
        array_distinct(flatten(collect_set(
          sequence(dayOf(lo), dayOf(hi)).cast("array<string>")))).as("read"))
      .localCheckpoint(true) // read by the merge and the next level's keys
    val d = days.get.view.mapValues(_.asInstanceOf[Seq[String]]).toMap
    if (d("write").isEmpty) return None // no propagated bucket passed xFF
    val merged = readLevelDays(r, d("read")).withColumn("prio", lit(0))
      .unionAll(pinned)
      .groupBy("metric", "bucket_ts")
      .agg(max_by(col("value"), col("prio")).as("value"))
    val expired = Rollup.retentionExpiry(merged, r.maxRetentionSeconds, nowS)
      .localCheckpoint(true) // read below AND written over its own input
    writeTouchedDays(r, expired, d("write"))
    vacuumLevel(r, nowS)
    // R1/R2: re-derive exactly the fresh rows' coarse buckets from this
    // level's merged content
    next.map { n =>
      val keys = pinned.select(col("metric").as("ck_metric"), coarseKey(n).as("ck_bucket"))
        .filter(col("ck_bucket").isNotNull).distinct()
      val src = expired.join(broadcast(keys),
        col("metric") === col("ck_metric") &&
          Buckets.alignTs(bucket, n.secondsPerPoint) === col("ck_bucket"),
        "left_semi")
      Rollup.propagate(src, r.secondsPerPoint, n.secondsPerPoint,
          schema.method, schema.xFilesFactor)
        .select(col("metric"), col("bucket_ts"), col("value"))
    }
  }

  /** Shared fetch prologue of fetch/fetchMany/fetchGlob/checkEmpty: the
    * range require, the F1 clamp, archive selection and the interval
    * pair of the clamped range ([[Fetch.fetchWindow]]).
    */
  private def fetchWindow(
      fromS: Long, untilS: Long, nowS: Long): (Retention, Long, Long) = {
    require(fromS <= untilS, "invalid time interval")
    val from = math.max(fromS, nowS - maxRetention) // F1 clamp
    val until = math.min(untilS, nowS)
    val archive = Fetch.selectArchive(schema, nowS, from)
    val (fromI, untilI) = Fetch.fetchWindow(from, until, archive.secondsPerPoint)
    (archive, fromI, untilI)
  }

  /** The one dense-fetch shape behind fetch/fetchMany: the requested
    * series densified from the partition-pruned level scan
    * ([[Buckets.densifyNamed]]). Its grid is one partition, which already
    * satisfies the global order, so no exchange or sampling job runs.
    */
  private def denseFetch(
      fromS: Long, untilS: Long, nowS: Long, metrics: Seq[String]): DataFrame = {
    val (archive, fromI, untilI) = fetchWindow(fromS, untilS, nowS)
    Buckets.densifyNamed(readLevelRange(archive, fromI, untilI), metrics,
        fromI, untilI, archive.secondsPerPoint)
      .orderBy("metric", "bucket_ts")
  }

  /** Q1 batched: dense series for MANY metrics in one plan — the
    * one-table-many-series advantage over the reference's
    * file-per-series `Fetch` loop: one partition-pruned level scan and
    * one densify serve every requested series (N fetches
    * against the reference = N file opens; here = one query). Output:
    * (metric, bucket_ts, value) dense per metric with NULL gaps.
    */
  def fetchMany(metrics: Seq[String], fromS: Long, untilS: Long, nowS: Long): DataFrame = {
    require(metrics.nonEmpty, "no metrics requested")
    denseFetch(fromS, untilS, nowS, metrics)
  }

  /** Q1 glob: graphite's metric-find surface over ONE table —
    * [[fetchMany]] without a metric list. The glob
    * ([[Fetch.globToRegex]]: `*`/`?` never cross dots, braces
    * alternate) filters the level scan; one shuffle gathers the matches
    * into a single partition, where each matched metric's group is
    * densified from its own bucket → value map. The matched set never
    * reaches the driver and the level is scanned once — where the
    * reference layout walks the filesystem tree and opens one file per
    * match.
    */
  def fetchGlob(pattern: String, fromS: Long, untilS: Long, nowS: Long): DataFrame = {
    val (archive, fromI, untilI) = fetchWindow(fromS, untilS, nowS)
    Buckets.densify(readLevelRange(archive, fromI, untilI)
        .filter(RegexFind.find(col("metric"), Fetch.globToRegex(pattern)))
        .repartition(1),
      fromI, untilI, archive.secondsPerPoint.toLong)
      .orderBy("metric", "bucket_ts")
  }

  /** Export every archive level as whisper `.wsp` binary files — one
    * file per metric under `outDir`, each carrying ALL levels in its
    * rings ([[graft.sources.WspWrite]]). The reverse migration path:
    * a table built/served by this engine hands its content back to a
    * stock graphite/go-whisper deployment, headers and all. Returns the
    * per-metric manifest (metric, n_points, bytes).
    */
  def exportWsp(outDir: String): DataFrame = {
    val levels = schema.retentions.zipWithIndex.map { case (r, i) =>
      readLevel(r).withColumn("archive", lit(i))
    }
    graft.sources.WspWrite.export(levels.reduce(_ unionAll _), outDir, schema)
  }

  /** [[fetch]] with graphite request-layer time strings — the exact
    * `?from=-1d&until=now` surface ([[ops.AtTime]] grammar), resolved
    * against `nowS`: a graphite user's whole request runs verbatim.
    */
  def fetch(metric: String, from: String, until: String,
      nowS: Long): DataFrame =
    fetch(metric, from, until, nowS, java.time.ZoneOffset.UTC)

  /** [[fetch]] with graphite's `&tz=` request parameter: day-anchored
    * time references ('midnight', weekdays, dates) resolve in the
    * CALLER's zone, the fetched epochs stay UTC ([[ops.AtTime]]).
    */
  def fetch(metric: String, from: String, until: String, nowS: Long,
      tz: java.time.ZoneId): DataFrame =
    fetch(metric, ops.AtTime.parse(from, nowS, tz),
      ops.AtTime.parse(until, nowS, tz), nowS)

  /** Q1 `Fetch`: clamp the range, select the finest archive covering it,
    * return the dense fixed-step series with NULL gaps.
    */
  def fetch(metric: String, fromS: Long, untilS: Long, nowS: Long): DataFrame =
    denseFetch(fromS, untilS, nowS, Seq(metric))
      .select(col("bucket_ts"), col("value"))

  /** Newer go-whisper's `CheckEmpty(from, until)`: does the clamped
    * range hold NO live points for the metric? Polarity (true = range
    * EMPTY) is the SURVEY reconstruction — confirm against the real
    * signature on §0 reference re-verification. An existence probe, not
    * a fetch — `LIMIT 1` above the pruned level scan, so the read
    * short-circuits at the first matching row instead of materializing
    * the dense series (at 100 TB, the difference between touching one
    * row group and aggregating a window).
    */
  def checkEmpty(metric: String, fromS: Long, untilS: Long,
      nowS: Long): Boolean = {
    val (archive, fromI, untilI) = fetchWindow(fromS, untilS, nowS)
    readLevelRange(archive, fromI, untilI)
      .filter(col("metric") === metric && col("value").isNotNull)
      .limit(1).isEmpty
  }
}

object WhisperTable {

  /** A level file's columns, fixed by the writer and given to the reader. */
  private val LevelColumns = StructType(Seq(
    StructField("metric", StringType),
    StructField("bucket_ts", LongType),
    StructField("value", DoubleType)))

  /** [[LevelColumns]] plus the `day` partition column. */
  private val LevelSchema = LevelColumns.add("day", DateType)

  /** On-disk header — the relational re-expression of whisper's binary
    * metadata block + retention block (reference: whisper.go →
    * `writeHeader`/`readHeader`; SURVEY.md §1.1). Holds exactly what the
    * reference persists: archive list, aggregation method, xFilesFactor.
    */
  val HeaderFile = "_whisper.json"

  private def headerJson(spark: SparkSession, schema: WhisperSchema): String = {
    val rets = schema.retentions
      .map(r => s"${r.secondsPerPoint}:${r.numberOfPoints}").mkString(",")
    // the day-partition layout is derived in the WRITER's session
    // timezone (to_date over bucket_ts) — persist it, so open() can
    // refuse a session whose different zone would mis-prune fetch
    // ranges, duplicate buckets across day dirs, and vacuum live data
    // (r15 review finding #1)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    s"""{"retentions":"$rets","method":"${schema.method.name}",""" +
      s""""xff":${schema.xFilesFactor},"tz":"$tz"}"""
  }

  private def parseHeader(s: String): (WhisperSchema, Option[String]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(s)
    (WhisperSchema(
      Retentions.parseRetentionDefs((j \ "retentions").extract[String]),
      AggregationMethod.fromName((j \ "method").extract[String]),
      (j \ "xff").extract[Double]),
      // absent in pre-r15 headers: no zone recorded, validation skipped
      (j \ "tz").extractOpt[String])
  }

  /** Zone equality up to normalization ("UTC" ≡ "Etc/UTC" ≡ "+00:00");
    * short ids accepted, matching Spark's own session-timezone parsing.
    */
  private def sameZone(a: String, b: String): Boolean = {
    def z(s: String) = java.time.ZoneId.of(s, java.time.ZoneId.SHORT_IDS).normalized()
    try z(a) == z(b) catch { case _: java.time.DateTimeException => a == b }
  }

  /** The table path's filesystem — Hadoop `FileSystem`, so `file:`,
    * `hdfs:` and `s3a:` table locations all work (a 100 TB table is
    * never on the driver's local disk).
    */
  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** S2 `Create`: validate the schema (constructor runs the 5 rules),
    * initialize every archive level empty, and persist the header. Fails
    * if the table exists (reference: O_CREAT|O_EXCL, "file already
    * exists").
    */
  def create(spark: SparkSession, path: String, schema: WhisperSchema): WhisperTable = {
    val (fs, dir) = fsOf(spark, path)
    if (fs.exists(dir)) throw new IllegalStateException(s"file already exists: $path")
    val t = new WhisperTable(spark, path, schema)
    // header FIRST, via temp + rename: the reference's O_CREAT|O_EXCL
    // has no partial-create window, but a multi-file create does — if
    // the header landed last, a failure between the level writes and
    // the header left a path neither create() ("file already exists")
    // nor open() ("no such table") could use. Header-first makes any
    // partial state openable (missing level dirs read as empty), and
    // the rename keeps a torn header write from half-existing.
    val headerP = new org.apache.hadoop.fs.Path(dir, HeaderFile)
    val tmpP = new org.apache.hadoop.fs.Path(dir, s".$HeaderFile.tmp")
    val out = fs.create(tmpP, false)
    try out.write(headerJson(spark, schema)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmpP, headerP))
      throw new IllegalStateException(s"cannot commit header: $headerP")
    schema.retentions.foreach(r => t.writeLevelFull(r, t.emptyLevel))
    t
  }

  /** [[create]] with the schema resolved the way carbon does it: the
    * first `storage-schemas.conf` rule matching `metric` supplies the
    * retentions, the first `storage-aggregation.conf` match (or carbon's
    * average/0.5 defaults) the method and xFilesFactor
    * ([[graft.model.StorageConf]]). Refuses a metric no schema rule
    * matches, as carbon refuses to create such a whisper file.
    */
  def createFromConf(
      spark: SparkSession, path: String, metric: String,
      conf: graft.model.StorageConf.Resolver): WhisperTable =
    conf.schemaFor(metric) match {
      case Some(schema) => create(spark, path, schema)
      case None => throw new IllegalArgumentException(
        s"no storage-schemas rule matches metric '$metric'")
    }

  /** S1 `Open`: attach to an existing table, reading the schema from the
    * persisted `_whisper.json` header — no caller-supplied schema, like
    * the reference's `Open` parsing the file header.
    */
  def open(spark: SparkSession, path: String): WhisperTable = {
    val (fs, dir) = fsOf(spark, path)
    val header = new org.apache.hadoop.fs.Path(dir, HeaderFile)
    if (!fs.exists(header))
      throw new IllegalStateException(s"no such table: $path")
    val in = fs.open(header)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val (schema, tz) = parseHeader(json)
    val sessionTz = spark.conf.get("spark.sql.session.timeZone")
    // a session whose timezone differs from the writer's would derive a
    // DIFFERENT day for the same bucket_ts: fetch pruning misses edge
    // days, writes fork duplicate day dirs, and vacuum deletes
    // partitions still holding in-retention rows — refuse loudly
    // instead (headers from before the tz field skip the check)
    for (t <- tz if !sameZone(t, sessionTz))
      throw new IllegalStateException(
        s"table $path was written under session timezone '$t' but this " +
          s"session uses '$sessionTz'; day partitioning would corrupt — " +
          "set spark.sql.session.timeZone to the writer's zone")
    new WhisperTable(spark, path, schema)
  }

  /** S1 `Open` with a caller-supplied schema — for attaching to bare
    * level directories produced by external pipelines (no header file).
    */
  def open(spark: SparkSession, path: String, schema: WhisperSchema): WhisperTable = {
    val (fs, dir) = fsOf(spark, path)
    if (!fs.exists(dir))
      throw new IllegalStateException(s"no such table: $path")
    new WhisperTable(spark, path, schema)
  }

  /** Bounded two-read of a `.wsp` file's header region: the 16-byte
    * metadata first for the archive COUNT, then exactly
    * `headerSize(count)` — a fixed 64-archive guess would reject a
    * format-valid file with more archives as 'corrupt archive table'.
    * Reads clamp to the file length so a truncated file fails with the
    * codec's named error, not a bare EOFException. Shared by the
    * single-file schema read and [[importWspGrouped]]'s executor sweep.
    */
  private[graft] def headerOf(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      totalLen: Long,
      name: String): graft.sources.WspHeader = {
    val in = fs.open(p)
    val bytes = try {
      val meta = new Array[Byte](
        math.min(graft.sources.WspCodec.MetadataSize.toLong, totalLen).toInt)
      in.readFully(0, meta)
      val count = graft.sources.WspCodec.archiveCount(meta, name)
      val n = math.min(graft.sources.WspCodec.headerSize(count).toLong, totalLen)
      val b = new Array[Byte](n.toInt)
      in.readFully(0, b)
      b
    } finally in.close()
    graft.sources.WspCodec.readHeader(bytes, name, totalLen)
  }

  /** Parse a WhisperSchema from one `.wsp` file's binary header — the
    * schema side of `Open`/`readHeader` against real reference storage.
    */
  def schemaFromWspFile(spark: SparkSession, file: String): WhisperSchema = {
    val (fs, p) = fsOf(spark, file)
    val h = headerOf(fs, p, fs.getFileStatus(p).getLen, file)
    WhisperSchema(
      h.archives.map(_.retention),
      AggregationMethod.fromId(h.aggregationType),
      h.xFilesFactor.toDouble)
  }

  /** The one recursive `.wsp` walk (file-only, `.wsp` suffix) — shared
    * by [[firstWspFile]] and [[importWspGrouped]] so a future skip rule
    * (hidden dirs, tmp-image names) can never apply to one walk and not
    * the other (r15 review: the import had re-grown its own copy).
    * Returns the statuses lazily with the qualified root.
    */
  private[graft] def wspWalk(spark: SparkSession, treeDir: String)
      : (org.apache.hadoop.fs.Path, Iterator[org.apache.hadoop.fs.LocatedFileStatus]) = {
    val (fs, dir) = fsOf(spark, treeDir)
    val qualified = fs.makeQualified(dir)
    val it = fs.listFiles(qualified, true)
    val files = new Iterator[org.apache.hadoop.fs.LocatedFileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): org.apache.hadoop.fs.LocatedFileStatus = it.next()
    }.filter(st => st.isFile && st.getPath.getName.endsWith(".wsp"))
    (qualified, files)
  }

  /** First `.wsp` under a tree — the file schema adoption decodes.
    * Shared by [[importWsp]] and the `wsp_set_agg` fixture so the
    * walk's skip rules can never diverge between them.
    */
  private[graft] def firstWspFile(spark: SparkSession, treeDir: String): String = {
    val (_, files) = wspWalk(spark, treeDir)
    if (files.hasNext) files.next().getPath.toString
    else throw new IllegalStateException(s"no .wsp files under $treeDir")
  }

  /** Migrate an EXISTING whisper tree into the engine in one call: adopt
    * the tree's schema from its first file's binary header, create the
    * table, and bulk-load every archive level through the `wsp` source —
    * the "switch to this library" motion for a reference user, no manual
    * schema and no conversion scripts. Assumes a homogeneous tree (one
    * retention config — whisper deployments vary config per
    * storage-schemas.conf pattern; import each such subtree separately);
    * files with a different ring geometry fail loudly in the scan.
    */
  def importWsp(spark: SparkSession, treeDir: String, tablePath: String): WhisperTable = {
    val schema = schemaFromWspFile(spark, firstWspFile(spark, treeDir))
    val t = create(spark, tablePath, schema)
    // pinned: one byte-decode of every file — the per-level archive
    // filter cannot prune inside a file, so an unpinned plan re-decoded
    // the whole tree once per retention level
    val pts = spark.read.format("wsp").load(treeDir).localCheckpoint(true)
    schema.retentions.zipWithIndex.foreach { case (r, i) =>
      t.writeLevelFull(r, pts.filter(col("archive") === i)
        .select(col("metric"), col("ts_s").as("bucket_ts"), col("value")))
    }
    t
  }

  /** [[importWsp]] for a HETEROGENEOUS tree — the real shape of a carbon
    * deployment, where storage-schemas.conf varies the retention config
    * per metric pattern. One distributed pass decodes every file
    * EXECUTOR-side (header + ring, exactly one read per file) into a
    * staging parquet table partitioned by the schema digest; the driver
    * then sees only the K DISTINCT schemas (a `distinct` over the
    * staging partition column — never a per-file structure), and each
    * schema's table under `tablePath/schema_<digest>` bulk-loads from
    * its partition-pruned staging slice. Metric names stay relative to
    * the tree root (`a/b/c.wsp` → `a.b.c`). Returns digest → table.
    *
    * Scale shape: the unavoidable driver cost is the listing (a planning
    * decision, same as any file source); everything per-file — header
    * parse, ring decode, schema grouping — is executor work, and plan
    * size is O(1) in file count (the r6 verdict's driver-bottleneck
    * finding: the old path collected one (schema, path) row per file and
    * shipped per-schema path lists through scan properties).
    */
  def importWspGrouped(
      spark: SparkSession,
      treeDir: String,
      tablePath: String): Map[String, WhisperTable] = {
    val (qualified, walk) = wspWalk(spark, treeDir)
    val all = walk.map(st => (st.getPath.toString, st.getLen)).toSeq
    require(all.nonEmpty, s"no .wsp files under $treeDir")

    val conf = graft.sources.WspTable.taskConf(spark)
    val rootStr = qualified.toString
    import spark.implicits._
    // (path, len) pairs ride from the driver's listing — the sweep is
    // exactly one open+read+decode per file, no second stat RPC. `spec`
    // is a parseable schema encoding ("spp:points,...|methodId|xff");
    // `dig` its md5, the staging partition key and the table suffix
    // (full digest — a truncated one invites cross-schema collisions
    // that surface as a baffling 'already exists' from create()).
    val staging = s"$tablePath/_import_staging"
    spark.sparkContext
      .parallelize(all, math.min(256, math.max(1, all.size / 64)))
      .mapPartitions { paths =>
        val root = new org.apache.hadoop.fs.Path(rootStr)
        paths.flatMap { case (p, len) =>
          val path = new org.apache.hadoop.fs.Path(p)
          val pfs = path.getFileSystem(conf.value.value)
          require(len <= Int.MaxValue,
            s"$p: $len bytes exceeds the 2 GB single-file limit")
          val bytes = new Array[Byte](len.toInt)
          val in = pfs.open(path)
          try in.readFully(0, bytes) finally in.close()
          val h = graft.sources.WspCodec.readHeader(bytes, p)
          val spec = h.archives.map(a =>
            s"${a.secondsPerPoint}:${a.numberOfPoints}").mkString(",") +
            s"|${h.aggregationType}|${h.xFilesFactor.toDouble}"
          val dig = graft.ops.Dedup.dirDigest(spec)
          val metric = graft.sources.WspTable.metricFor(root, path)
          graft.sources.WspCodec.decodePoints(bytes, p).map(pt =>
            (spec, dig, metric, pt.archive, pt.tsS, pt.value))
        }
      }
      .toDF("spec", "dig", "metric", "archive", "ts_s", "value")
      .write.mode("overwrite").partitionBy("dig").parquet(staging)

    // staging is deleted in the finally: a failure mid-load (bad schema
    // spec, create() collision, writeLevelFull error) must not leak the
    // staging tree — a rerun's mode("overwrite") could interleave its
    // partitions with the leftover's. Schema tables created BY THE
    // FAILING RUN are rolled back too (r15 review: leaving them made
    // the rerun deterministically die on create()'s exists check —
    // exactly the wedge the finally existed to prevent).
    val createdThisRun = Seq.newBuilder[String]
    try {
      val stagingDf = spark.read.parquet(staging)
      // K distinct schemas reach the driver — K is the storage-schemas.conf
      // rule count (tens), never the file count
      val specs = stagingDf.select("dig", "spec").distinct()
        .as[(String, String)].collect()
      specs.map { case (dig, spec) =>
        val Array(rets, methodId, xff) = spec.split('|')
        val schema = WhisperSchema(
          rets.split(',').toSeq.map { r =>
            val Array(spp, n) = r.split(':')
            Retention(spp.toInt, n.toInt)
          },
          AggregationMethod.fromId(methodId.toInt), xff.toDouble)
        val tableDir = s"$tablePath/schema_$dig"
        val t = create(spark, tableDir, schema)
        createdThisRun += tableDir
        val pts = stagingDf.filter(col("dig") === dig) // partition-pruned
        schema.retentions.zipWithIndex.foreach { case (r, i) =>
          t.writeLevelFull(r, pts.filter(col("archive") === i)
            .select(col("metric"), col("ts_s").as("bucket_ts"), col("value")))
        }
        dig -> t
      }.toMap
    } catch {
      case e: Throwable =>
        for (p <- createdThisRun.result())
          try fsOf(spark, p)._1.delete(new org.apache.hadoop.fs.Path(p), true)
          // best-effort rollback: NonFatal, not just IOException — an
          // object-store FS throwing RuntimeException from delete must
          // not mask the original failure being rethrown (r15 advice)
          catch { case scala.util.control.NonFatal(_) => () }
        throw e
    } finally {
      fsOf(spark, staging)._1.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
  }
}
