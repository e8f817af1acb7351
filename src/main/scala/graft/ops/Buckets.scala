package graft.ops

import java.time.{Instant, LocalDateTime, ZoneOffset}

import graft.functions.BoundParam.param
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampNTZType}

/** Shared time-bucket alignment expressions and the canonical `points`
  * view over the driver testdata (SURVEY.md §1.3, FIXTURES.md §2).
  *
  * Whisper stores integer-second unix timestamps and aligns them to an
  * archive's resolution with `interval - (interval mod secondsPerPoint)`
  * (reference: whisper.go → `Interval`; SURVEY.md §1.2). We keep every
  * timestamp as an epoch-seconds BIGINT column (`ts_s`) from the first
  * projection on: it is exactly whisper's native representation, it makes
  * the Spark and DuckDB oracle expressions structurally identical, and it
  * sidesteps timestamp-type/precision mismatches in the hash compare.
  *
  * Every expression here is a stock Catalyst `Column` — arithmetic stays
  * inside whole-stage codegen and pushes down to the Parquet scan where
  * applicable (SURVEY.md §4.3: zero custom expressions needed).
  */
object Buckets {

  /** Pinned "now" = 2024-01-31T00:00:00Z (FIXTURES.md: never wall-clock —
    * retention math must be deterministic across engines and runs).
    */
  val NowS: Long = 1706659200L

  /** Fixed oracle query window: F = 2024-01-10T00:00:00Z,
    * U = 2024-01-11T00:00:00Z (FIXTURES.md §2).
    */
  val FromS: Long = 1704844800L
  val UntilS: Long = 1704931200L

  /** Canonical 6-decimal output rounding for DIVISION-DERIVED doubles
    * (the avg family), shared textually by engine and oracle:
    * `floor(x·1e6 + 0.5) / 1e6` — three IEEE ops both engines evaluate
    * bit-identically. Native `round(x, 6)` is NOT portable at decimal
    * midpoints: Spark rounds the exact decimal expansion of the binary
    * double (HALF_UP), DuckDB scales by 1e6 first — for
    * `1391.13/32 = 43.47281249999999…` (binary) whose ×1e6 is exactly
    * 43472812.5, Spark says …812 and DuckDB …813 (the r10 sf0.1
    * avg-family hash misses). Only division can land on such midpoints
    * (testdata values carry ≤3 decimals, so sums/min/max stay exact);
    * power-of-two group counts make them common, hence the avg family
    * routes its output edge through THIS formula in both dialects.
    * Semantics: half-toward-+∞ at the midpoint — a deliberate, shared
    * spec; NULL propagates, and our magnitudes (|x| < 2^46/1e6) are far
    * from the formula's overflow edge.
    */
  def round6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** [[round6]] in the oracle dialect — the identical three-op text. */
  def round6Sql(x: String): String =
    s"floor(($x) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6"

  /** Epoch seconds of a timestamp column (truncates sub-second precision —
    * whisper timestamps are integer seconds, SURVEY.md §4.4 trap 5).
    */
  def epochS(ts: Column): Column = unix_timestamp(ts)

  /** Whisper interval alignment: floor epoch-seconds to a resolution.
    * `floor(ts_s / spp) * spp`, kept in this exact shape because the
    * DuckDB oracle uses the literally equivalent
    * `(ts_s // spp) * spp` (SURVEY.md §2.4: prefer the arithmetic form
    * over `window()` so the oracle SQL stays dialect-portable).
    */
  def alignTs(tsS: Column, spp: Int): Column =
    (floor(tsS / spp) * spp).cast("long")

  /** `ts_s` of raw `events.ts`: the UTC session makes NTZ equal to epoch. */
  private def rawTsS: Column = epochS(col("ts"))

  /** `fromS <= ts < untilS` on RAW `ts`: only that reaches `PushedFilters`. */
  private def tsRange(dt: DataType, fromS: Long, untilS: Long): Column = dt match {
    case TimestampNTZType =>
      col("ts") >= lit(LocalDateTime.ofEpochSecond(fromS, 0, ZoneOffset.UTC)) &&
        col("ts") < lit(LocalDateTime.ofEpochSecond(untilS, 0, ZoneOffset.UTC))
    case _ =>
      col("ts") >= lit(Instant.ofEpochSecond(fromS)) &&
        col("ts") < lit(Instant.ofEpochSecond(untilS))
  }

  /** Whisper `Fetch` endpoint semantics (SURVEY.md §4.4 trap 1): the
    * returned series starts at `floor(from, spp) + spp` (excludes the
    * bucket containing `from`) and ends at `floor(until, spp) + spp`
    * exclusive (includes the bucket containing `until`). The pair, with
    * whisper's equal-interval bump, is [[Fetch.fetchWindow]].
    */
  def fetchInterval(tSeconds: Long, spp: Int): Long =
    Math.floorDiv(tSeconds, spp.toLong) * spp + spp

  /** Dense `(metric, bucket_ts, value)` frame of a FOUND set of series:
    * each metric of `sparse` on every bucket of `[fromI, untilI)` step
    * `spp`, gaps NULL; a metric with no row is absent. One group-by of the
    * input builds the metric list and the lookup map together, so
    * densifying costs no second pass over the input and no spine join.
    */
  def densify(sparse: DataFrame, fromI: Long, untilI: Long, spp: Long): DataFrame =
    sparse.groupBy(col("metric"))
      .agg(map_from_entries(collect_list(struct(col("bucket_ts"), col("value"))))
        .as("values"))
      .select(col("metric"), explode(spine(fromI, untilI, spp)).as("bucket_ts"), col("values"))
      .select(col("metric"), col("bucket_ts"), col("values")(col("bucket_ts")).as("value"))

  /** Dense `(metric, bucket_ts, value)` frame of a NAMED set of series:
    * every name on every bucket of `[fromI, untilI)` step `spp`, gaps
    * NULL; a name with no row is all-NULL. `sparse` is filtered to the
    * names and the window, so every row it keeps is a key of the
    * names × [[grid]] side and the broadcast is bounded by the output.
    * The window bounds are bound parameters: a new window compiles no
    * class.
    */
  def densifyNamed(sparse: DataFrame, names: Seq[String],
      fromI: Long, untilI: Long, spp: Long): DataFrame = {
    val rows = sparse.filter(col("metric").isin(names: _*) &&
      col("bucket_ts") >= param(fromI) && col("bucket_ts") < param(untilI))
    grid(sparse.sparkSession, fromI, untilI, spp)
      .select(col("bucket_ts"), explode(typedLit(names)).as("metric"))
      .join(broadcast(rows), Seq("metric", "bucket_ts"), "left")
      .select(col("metric"), col("bucket_ts"), col("value"))
  }

  /** The buckets of `[fromI, untilI)` step `spp` as rows of one
    * partition: the [[spine]] exploded over one row.
    */
  def grid(spark: SparkSession, fromI: Long, untilI: Long, spp: Long): DataFrame =
    spark.range(0, 1, 1, 1).select(explode(spine(fromI, untilI, spp)).as("bucket_ts"))

  /** The buckets of `[fromI, untilI)` step `spp` as an array column that
    * folds to an array literal, which generated code holds by reference
    * (a `range` inlines its bounds, so it compiles a class per window).
    * Guarded: an empty `sequence` would fold to an error at planning.
    */
  def spine(fromI: Long, untilI: Long, spp: Long): Column =
    if (untilI <= fromI) typedLit(Array.empty[Long])
    else sequence(lit(fromI), lit(untilI - 1 - (untilI - 1 - fromI) % spp), lit(spp))

  /** The canonical `points(metric, ts_s, value)` fact view. Per SURVEY.md
    * §1.3 the role of whisper's point stream is played by
    * `events.parquet` with `metric := event_type`. Column-pruned select so
    * the Parquet scan reads only 3 of 6 columns.
    */
  def points(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type").as("metric"), rawTsS.as("ts_s"), col("value"))

  /** The raw events frame with the canonical `ts_s` derivation appended
    * — for ops that need non-point columns (event_id, user_id) next to
    * the same epoch-seconds time the whole engine computes on.
    */
  private[graft] def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet").withColumn("ts_s", rawTsS)

  /** The points view over `fromS <= ts_s < untilS` with a caller-chosen
    * metric expression.
    */
  private def pointsRangeOf(spark: SparkSession, sfDir: String,
      fromS: Long, untilS: Long, metric: Column): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.filter(tsRange(raw.schema("ts").dataType, fromS, untilS))
      .select(metric.as("metric"), rawTsS.as("ts_s"), col("value"))
  }

  /** [[points]] restricted to `fromS <= ts_s < untilS`. */
  def pointsInRange(spark: SparkSession, sfDir: String,
      fromS: Long, untilS: Long): DataFrame =
    pointsRangeOf(spark, sfDir, fromS, untilS, col("event_type"))

  /** [[points]] as a STREAMING source: the same canonical
    * `points(metric, ts_s, value)` view over `readStream` (file source,
    * schema probed by a batch read — the file-source contract requires
    * one up front). Feeds the streaming ingest paths so the batch
    * oracle SQL applies to them verbatim.
    */
  def pointsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val probe = spark.read.parquet(s"$sfDir/events.parquet")
    // events.parquet may be a single FILE: FileStreamSource force-sets
    // basePath to a NON-glob path itself and then requires it to be a
    // directory — a brace glob selecting exactly this table sidesteps
    // that (basePath falls back to the parent dir)
    spark.readStream.schema(probe.schema).parquet(s"$sfDir/{events.parquet}")
      .select(col("event_type").as("metric"), rawTsS.as("ts_s"), col("value"))
  }

  /** DuckDB fragment equivalent of [[points]] — prefixed into oracle SQL
    * as a CTE so Spark and oracle share one definition of the fact view.
    */
  val pointsSql: String =
    "pts AS (SELECT event_type AS metric, " +
      "CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s, value FROM events)"

  /** [[pointsInRange]] with DOTTED graphite paths: metric =
    * `shard<user_id mod 4>.<event_type>` (20 series). The fixture for
    * node-indexed render functions (groupByNode, aliasByNode) and
    * series selection (highestMax/highestAverage) — single-word event
    * names exercise neither the dot-bounded glob nor node arithmetic.
    */
  def pointsPathedInRange(spark: SparkSession, sfDir: String,
      fromS: Long, untilS: Long): DataFrame =
    pointsRangeOf(spark, sfDir, fromS, untilS,
      concat(lit("shard"), pmod(col("user_id"), lit(4)), lit("."),
        col("event_type")))

  /** DuckDB twin of [[pointsPathedInRange]]'s metric derivation, with a
    * caller-chosen CTE name so it can sit NEXT TO [[pointsSql]] (both
    * default to `pts`) in oracles that union the flat and dotted
    * namespaces.
    */
  def pointsPathedSqlNamed(cte: String): String =
    s"$cte AS (SELECT 'shard' || (user_id % 4) || '.' || event_type AS metric, " +
      "CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s, value FROM events)"

  /** DuckDB twin of [[pointsPathedInRange]]'s metric derivation. */
  val pointsPathedSql: String = pointsPathedSqlNamed("pts")

  /** [[pointsInRange]] with graphite 1.1 TAGGED metric names:
    * `<event_type>;shard=s<user_id mod 4>` (20 series) — the fixture
    * for the tag-DB surface (`seriesByTag` / `groupByTags` /
    * `aliasByTags`), where series selection is by tag predicate, not
    * name glob.
    */
  def pointsTaggedInRange(spark: SparkSession, sfDir: String,
      fromS: Long, untilS: Long): DataFrame =
    pointsRangeOf(spark, sfDir, fromS, untilS,
      concat(col("event_type"), lit(";shard=s"), pmod(col("user_id"), lit(4))))

  /** DuckDB twin of [[pointsTaggedInRange]]'s metric derivation. */
  val pointsTaggedSql: String =
    "pts AS (SELECT event_type || ';shard=s' || (user_id % 4) AS metric, " +
      "CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s, value FROM events)"
}
