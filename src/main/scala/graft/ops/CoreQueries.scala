package graft.ops

import graft.model.{AggregationMethod, Retentions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The whisper-core query registry: one `(SparkSession, sfDir) => DataFrame`
  * plus matching DuckDB oracle SQL per SURVEY.md §2 query key. Every query
  * obeys the determinism contract (SURVEY.md §5.2): epoch-second BIGINT
  * time columns, explicit ORDER BY, `round(double, 6)` at the output edge,
  * NULL not NaN, identical column aliases in both dialects.
  */
object CoreQueries {

  import Buckets.{NowS, pointsSql}
  private val std = Retentions.std
  private val lwwSchema = Retentions.lww

  /** F1 clamp (computed once in Scala, emitted as literals in both
    * dialects): request [now-40d, now+1h] clamps to [now-30d, now].
    */
  private val reqFrom = NowS - 40L * 86400
  private val reqUntil = NowS + 3600
  private val clampFrom = math.max(reqFrom, NowS - std.maxRetentionSeconds)
  private val clampUntil = math.min(reqUntil, NowS)

  // ---------------------------------------------------------------- scans

  /** S1 `scan_points`: the Open/read surface — full canonical projection. */
  def scanPoints(s: SparkSession, dir: String): DataFrame =
    Buckets.points(s, dir)
      .select(col("metric"), col("ts_s"), round(col("value"), 6).as("value"))
      .orderBy("metric", "ts_s", "value")

  val scanPointsSql: String =
    s"""WITH $pointsSql
       |SELECT metric, ts_s, round(value, 6) AS value FROM pts
       |ORDER BY metric, ts_s, value""".stripMargin

  /** `scan_props_json`: JSON scalar extraction over the `props` column —
    * the one scalar-function surface FIXTURES.md reserves for demos (the
    * reference has no scalar library at all, SURVEY.md §2.7). Pure
    * per-row projection; pushes column pruning to the scan.
    */
  def scanPropsJson(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  val scanPropsJsonSql: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** `carbon_ingest`: the carbon plaintext line protocol roundtrip —
    * the events view serialized to `metric value ts` lines
    * ([[graft.sources.Carbon.format]]), staged as a text file tree,
    * read back through `spark.read.text` + [[graft.sources.Carbon
    * .parse]], then LWW-aligned to the 1m level. The oracle never sees
    * the text (it derives the same level relationally from the parquet),
    * so a formatting or parsing defect — a precision loss, a split bug,
    * a dropped line — diverges the hashes. Java double↔string
    * round-trips exactly; that is the property under test.
    */
  /** Shared staged carbon line tree ([[carbonIngest]] and the frozen
    * `carbon_canary` read the SAME staging, so the canary adds no
    * build cost).
    */
  def carbonLinesPath(s: SparkSession, dir: String): String =
    graft.ops.Dedup.sharedIndexPath(
      s, dir, "events.parquet", "carbon") { root =>
      // stage as MANY line files, like a real carbon backfill tree: the
      // parquet source is one split, and a single text file caps the
      // parse at one task — the r12 key spent ~1 s of its 1.55 s median
      // running the regex chain single-threaded while 31 cores idled
      graft.sources.Carbon.format(Buckets.points(s, dir))
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").text(s"$root/lines")
    }

  def carbonIngest(s: SparkSession, dir: String): DataFrame = {
    val base = carbonLinesPath(s, dir)
    val parsed = graft.sources.Carbon.parse(
      s.read.text(s"$base/lines"), NowS)
    Ingest.lwwAlign(parsed, 60)
      .select(col("metric"), col("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val carbonIngestSql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM lww1m
       |ORDER BY metric, bucket_ts""".stripMargin

  /** F1 `fetch_range_filter`: clamped time-range predicate. Range bounds
    * go through [[Buckets.pointsInRange]] (raw-column parquet pushdown);
    * the metric predicate pushes as an `event_type = 'error'` string
    * filter through the alias.
    */
  def fetchRangeFilter(s: SparkSession, dir: String): DataFrame =
    Buckets.pointsInRange(s, dir, clampFrom, clampUntil + 1)
      .filter(col("metric") === "error")
      .select(col("ts_s"), round(col("value"), 6).as("value"))
      .orderBy("ts_s", "value")

  val fetchRangeFilterSql: String =
    s"""WITH $pointsSql
       |SELECT ts_s, round(value, 6) AS value FROM pts
       |WHERE metric = 'error' AND ts_s >= $clampFrom AND ts_s <= $clampUntil
       |ORDER BY ts_s, value""".stripMargin

  // ----------------------------------------------------- aggregation family

  /** A1–A5 `agg_*`: one tumbling-1h consolidation per method over raw
    * points. `last` uses the LWW total order (ts, value) — SURVEY.md §2.4
    * A3: deterministic, unlike Spark's order-dependent `last()`.
    */
  private def aggFamily(s: SparkSession, dir: String, m: AggregationMethod): DataFrame = {
    val grouped = Buckets.points(s, dir)
      .groupBy(col("metric"), Buckets.alignTs(col("ts_s"), 3600).as("bucket_ts"))
    m match {
      // Last rides lww_max (flat-primitive-buffer argmax — the
      // hash-aggregable form; a struct-keyed max_by plans SortAggregate)
      case AggregationMethod.Last =>
        grouped.agg(graft.functions.LwwMax.lwwMax(
            col("ts_s"), col("value")).as("w"))
          .select(col("metric"), col("bucket_ts"),
            round(col("w.value"), 6).as("value"))
          .orderBy("metric", "bucket_ts")
      case other =>
        val agg = Rollup.aggColumn(other, col("value"), col("ts_s"))
        // Average's division lands on decimal midpoints (power-of-two
        // window counts), where native round semantics differ across
        // engines — its output edge uses the shared round6 formula; the
        // other methods stay exact-decimal and keep native round
        val rounded = other match {
          case AggregationMethod.Average => Buckets.round6(agg)
          case _ => round(agg, 6)
        }
        grouped.agg(rounded.as("value")).orderBy("metric", "bucket_ts")
    }
  }

  def aggQuery(m: AggregationMethod)(s: SparkSession, dir: String): DataFrame =
    aggFamily(s, dir, m)

  def aggFamilySql(m: AggregationMethod): String = m match {
    case AggregationMethod.Last =>
      s"""WITH $pointsSql
         |SELECT metric, bucket_ts, round(value, 6) AS value FROM (
         |  SELECT metric, (ts_s // 3600) * 3600 AS bucket_ts, value,
         |         row_number() OVER (PARTITION BY metric, (ts_s // 3600) * 3600
         |                            ORDER BY ts_s DESC, value DESC) AS rn
         |  FROM pts) WHERE rn = 1
         |ORDER BY metric, bucket_ts""".stripMargin
    case other =>
      val f = other match {
        // exact fixed-point partial sums (the Rollup.fixedSum pin): both
        // engines sum the same scaled integers, so avg/sum are IEEE-exact
        // matches at any SF and any partition layout — and the Spark plan
        // keeps map-side partial aggregation (plain HashAggregate)
        case AggregationMethod.Average =>
          s"${Rollup.fixedSumSql()} / count(value)"
        case AggregationMethod.Sum     => Rollup.fixedSumSql()
        case AggregationMethod.Max     => "max(value)"
        case AggregationMethod.Min     => "min(value)"
        case AggregationMethod.AbsMax | AggregationMethod.AbsMin =>
          Rollup.absSql(other, "ts_s")
        case _ => throw new MatchError(other)
      }
      val rounded = other match {
        case AggregationMethod.Average => Buckets.round6Sql(f)
        case _ => s"round($f, 6)"
      }
      s"""WITH $pointsSql
         |SELECT metric, (ts_s // 3600) * 3600 AS bucket_ts,
         |       $rounded AS value
         |FROM pts GROUP BY 1, 2
         |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** `agg_avg_xff`: the xFilesFactor quality gate (SURVEY.md §2.4) on the
    * 1m→1h consolidation: total = 60 slots, xff = 0.05 → a 1h bucket is
    * emitted only when ≥3 distinct 1m slots are present. Input is the
    * 1m LWW level (whisper propagates archive slots, not raw points).
    */
  def aggAvgXff(s: SparkSession, dir: String): DataFrame =
    Rollup.propagate(Ingest.lwwAlign(Buckets.points(s, dir), 60),
        60, 3600, AggregationMethod.Average, 0.05)
      .select(col("metric"), col("bucket_ts"),
        Buckets.round6(col("value")).as("value"),
        col("known"), col("total"))
      .orderBy("metric", "bucket_ts")

  val aggAvgXffSql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |rolled AS (${Rollup.propagateSql("lww1m", 60, 3600, AggregationMethod.Average, 0.05)})
       |SELECT metric, bucket_ts, ${Buckets.round6Sql("value")} AS value,
       |       known, total
       |FROM rolled ORDER BY metric, bucket_ts""".stripMargin

  /** `agg_avg_zero`: whisper.py's avg_zero (method id 6) on the 1m→1h
    * consolidation — absent window slots count as ZERO, so the divisor is
    * the full 60-slot window, not the known count. Input is the 1m LWW
    * level: avg_zero is defined over archive slots (whisper.py passes
    * `neighborValues`, the raw window including `None`s), unlike A1–A5
    * which see only known values.
    */
  def aggAvgZero(s: SparkSession, dir: String): DataFrame =
    Rollup.propagate(Ingest.lwwAlign(Buckets.points(s, dir), 60),
        60, 3600, AggregationMethod.AvgZero, 0.0)
      .select(col("metric"), col("bucket_ts"),
        Buckets.round6(col("value")).as("value"),
        col("known"), col("total"))
      .orderBy("metric", "bucket_ts")

  val aggAvgZeroSql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |rolled AS (${Rollup.propagateSql("lww1m", 60, 3600, AggregationMethod.AvgZero, 0.0)})
       |SELECT metric, bucket_ts, ${Buckets.round6Sql("value")} AS value,
       |       known, total
       |FROM rolled ORDER BY metric, bucket_ts""".stripMargin

  /** `storage_conf_assign`: carbon storage-conf resolution as a query —
    * each distinct metric classified by BOTH conf files' first-match
    * rules (`StorageConf.ruleIndex`, the codegen'd when/rlike chain; NULL
    * agg_rule = carbon defaults apply). The oracle rebuilds the same
    * ordered CASE with `regexp_matches` — both engines do unanchored
    * regex search, and the patterns below stay inside the common
    * Java/RE2-safe subset.
    */
  private val confResolver = graft.model.StorageConf.resolver(
    """[errors]
      |pattern = ^error
      |retentions = 1m:1d,5m:7d,1h:30d
      |[commerce]
      |pattern = (purchase|signup)
      |retentions = 1m:1d
      |[default]
      |pattern = .*
      |retentions = 5m:7d
      |""".stripMargin,
    """[errs]
      |pattern = ^error
      |aggregationMethod = sum
      |xFilesFactor = 0
      |[clicks]
      |pattern = click
      |aggregationMethod = avg_zero
      |""".stripMargin)

  def storageConfAssign(s: SparkSession, dir: String): DataFrame = {
    import graft.model.StorageConf
    Buckets.points(s, dir).select(col("metric")).distinct()
      .withColumn("schema_rule",
        StorageConf.schemaRuleIndex(confResolver.schemas, col("metric")))
      .withColumn("agg_rule",
        StorageConf.ruleIndex(confResolver.aggs.map(_.pattern), col("metric")))
      .orderBy("metric")
  }

  val storageConfAssignSql: String = {
    def cases(patterns: Seq[String]): String =
      patterns.zipWithIndex.map { case (p, i) =>
        s"WHEN regexp_matches(metric, '$p') THEN $i"
      }.mkString("CASE ", " ", " END")
    s"""WITH $pointsSql
       |SELECT metric,
       |       ${cases(confResolver.schemas.map(_.pattern.regex))} AS schema_rule,
       |       ${cases(confResolver.aggs.map(_.pattern.regex))} AS agg_rule
       |FROM (SELECT DISTINCT metric FROM pts)
       |ORDER BY metric""".stripMargin
  }

  // ------------------------------------------------------------ write path

  /** U2 `upsert_batch_lww`: batch upsert = LWW dedup per aligned 1m slot. */
  def upsertBatchLww(s: SparkSession, dir: String): DataFrame =
    Ingest.lwwAlign(Buckets.points(s, dir), 60)
      .select(col("metric"), col("bucket_ts"), round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")

  val upsertBatchLwwSql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM lww1m
       |ORDER BY metric, bucket_ts""".stripMargin

  /** U3 `archive_routing`: per-archive landing counts under the std
    * schema (1m:1d, 5m:7d, 1h:30d), age measured from pinned now.
    */
  def archiveRouting(s: SparkSession, dir: String): DataFrame =
    Buckets.points(s, dir)
      .withColumn("archive", Ingest.archiveColumn(std, NowS))
      .groupBy("archive")
      .agg(count(lit(1)).as("n"), countDistinct(col("metric")).as("metrics"))
      .orderBy("archive")

  val archiveRoutingSql: String =
    s"""WITH $pointsSql
       |SELECT ${Ingest.archiveColumnSql(std, NowS)} AS archive,
       |       count(*) AS n, count(DISTINCT metric) AS metrics
       |FROM pts GROUP BY 1 ORDER BY archive""".stripMargin

  /** U4 `upsert_for_archive` (reference: whisper.go →
    * `UpdateManyForArchive`): the relational core of the caller-chosen-
    * archive write — routing BYPASSED in favor of the std schema's 5m
    * level, points outside that archive's OWN retention window rejected
    * (the ring cannot hold them — ≈77% of the 30-day testdata survives
    * the 7d window, so the gate is exercised in both directions), then
    * LWW alignment at the archive's resolution. The full write cycle
    * (day-partition merge + downward propagation) is
    * [[graft.WhisperTable.updateManyForArchive]], golden-tested in
    * WhisperTableSpec; this key pins the U4-specific routing/gate/align
    * semantics against the oracle the same way `upsert_batch_lww` pins
    * U2's.
    */
  def upsertForArchive(s: SparkSession, dir: String): DataFrame = {
    val r = std.retentions(1) // the 5m:7d level — caller's choice
    val age = lit(NowS) - col("ts_s")
    val accepted = Buckets.points(s, dir)
      .filter(age >= 0 && age < r.maxRetentionSeconds)
    Ingest.lwwAlign(accepted, r.secondsPerPoint)
      .select(col("metric"), col("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val upsertForArchiveSql: String = {
    val r = std.retentions(1)
    s"""WITH $pointsSql,
       |acc AS (
       |  SELECT metric, ts_s, value FROM pts
       |  WHERE $NowS - ts_s >= 0
       |    AND $NowS - ts_s < ${r.maxRetentionSeconds}),
       |lww AS (${Ingest.lwwAlignSql(r.secondsPerPoint, "acc")})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM lww
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** F3 `ingest_retention_filter`: accepted/rejected split under the
    * 1-day `lww` fixture schema (rejects ≈97% of the 30-day testdata —
    * the gate is exercised in both directions).
    */
  def ingestRetentionFilter(s: SparkSession, dir: String): DataFrame =
    Buckets.points(s, dir)
      .withColumn("status", Ingest.retentionStatus(lwwSchema, NowS))
      .groupBy("status")
      .agg(count(lit(1)).as("n"))
      .orderBy("status")

  val ingestRetentionFilterSql: String = {
    val maxRet = lwwSchema.maxRetentionSeconds
    s"""WITH $pointsSql
       |SELECT CASE WHEN $NowS - ts_s >= 0 AND $NowS - ts_s < $maxRet
       |            THEN 'accepted' ELSE 'rejected' END AS status,
       |       count(*) AS n
       |FROM pts GROUP BY 1 ORDER BY status""".stripMargin
  }

  // --------------------------------------------------------------- rollups

  /** R1/R2 `rollup_cascade_5m`: level 2 of the cascade — 1m LWW slots
    * consolidated 5× by Sum (xff=0, `tight`-style fixture).
    */
  private def cascade5m(s: SparkSession, dir: String): DataFrame =
    Rollup.propagate(Ingest.lwwAlign(Buckets.points(s, dir), 60),
      60, 300, AggregationMethod.Sum, 0.0)

  def rollupCascade5m(s: SparkSession, dir: String): DataFrame =
    cascade5m(s, dir)
      .select(col("metric"), col("bucket_ts"), round(col("value"), 6).as("value"),
        col("known"), col("total"))
      .orderBy("metric", "bucket_ts")

  private val cascade5mCtes =
    s"""$pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |r5m AS (${Rollup.propagateSql("lww1m", 60, 300, AggregationMethod.Sum, 0.0)})""".stripMargin

  val rollupCascade5mSql: String =
    s"""WITH $cascade5mCtes
       |SELECT metric, bucket_ts, round(value, 6) AS value, known, total
       |FROM r5m ORDER BY metric, bucket_ts""".stripMargin

  /** `rollup_cascade_1h`: level 3 — the 5m level consolidated 12× further.
    * Sum-of-sums, so `value` equals the 1m-level sum over the hour (the
    * §5.2 cascade-consistency property).
    */
  def rollupCascade1h(s: SparkSession, dir: String): DataFrame =
    Rollup.propagate(cascade5m(s, dir).select("metric", "bucket_ts", "value"),
        300, 3600, AggregationMethod.Sum, 0.0)
      .select(col("metric"), col("bucket_ts"), round(col("value"), 6).as("value"),
        col("known"), col("total"))
      .orderBy("metric", "bucket_ts")

  val rollupCascade1hSql: String =
    s"""WITH $cascade5mCtes,
       |r5v AS (SELECT metric, bucket_ts, value FROM r5m),
       |r1h AS (${Rollup.propagateSql("r5v", 300, 3600, AggregationMethod.Sum, 0.0)})
       |SELECT metric, bucket_ts, round(value, 6) AS value, known, total
       |FROM r1h ORDER BY metric, bucket_ts""".stripMargin

  /** `rollup_drift`: the avg-of-avg bias audit — whisper's cascade
    * aggregates each archive FROM THE NEXT-FINER ARCHIVE (1m → 5m → 1h),
    * so an `average` rollup stores the mean of 5-minute means, which
    * diverges from the true hourly mean wherever 5m buckets hold unequal
    * point counts. This key quantifies that divergence per (metric, 1h
    * bucket): the cascaded value, the direct 1m → 1h aggregation, their
    * drift, and a flag — the data-quality report that tells an operator
    * which series' coarse archives can be trusted for averages (sum/max/
    * min/last cascades are associative and never drift; avg is the one
    * whisper method with this bias, which is why the audit exists).
    *
    * Both recomputes share ONE materialized lww1m base (eager
    * localCheckpoint — without it each branch re-scanned and
    * re-shuffled the full point volume, two passes where one suffices;
    * the 1m level is retention-bounded, so the materialization is
    * archive-sized, not raw-point-sized; pinned no-events-scan in
    * PlanSpec). Each recompute is then the same partial-aggregated
    * bucket shuffle as the cascade keys, and the final join is keyed by
    * (metric, 1h bucket) — rollup-sized. Drift/flag compare the ROUNDED
    * values, so both engines decide `biased` on identical doubles.
    */
  def rollupDrift(s: SparkSession, dir: String): DataFrame = {
    val lww = Ingest.lwwAlign(Buckets.points(s, dir), 60)
      .select("metric", "bucket_ts", "value")
      .localCheckpoint(true)
    val avg5 = Rollup.propagate(lww, 60, 300, AggregationMethod.Average, 0.0)
      .select("metric", "bucket_ts", "value")
    val casc = Rollup.propagate(avg5, 300, 3600, AggregationMethod.Average, 0.0)
      .select(col("metric"), col("bucket_ts"),
        Buckets.round6(col("value")).as("cascaded"))
    val direct = Rollup.propagate(lww, 60, 3600, AggregationMethod.Average, 0.0)
      .select(col("metric"), col("bucket_ts"),
        Buckets.round6(col("value")).as("direct"))
    casc.join(direct, Seq("metric", "bucket_ts"))
      .select(col("metric"), col("bucket_ts"), col("cascaded"), col("direct"),
        round(col("cascaded") - col("direct"), 6).as("drift"),
        (col("cascaded") =!= col("direct")).cast("int").as("biased"))
      .orderBy("metric", "bucket_ts")
  }

  val rollupDriftSql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |a5 AS (${Rollup.propagateSql("lww1m", 60, 300, AggregationMethod.Average, 0.0)}),
       |a5v AS (SELECT metric, bucket_ts, value FROM a5),
       |c1h AS (${Rollup.propagateSql("a5v", 300, 3600, AggregationMethod.Average, 0.0)}),
       |d1h AS (${Rollup.propagateSql("lww1m", 60, 3600, AggregationMethod.Average, 0.0)}),
       |r AS (
       |  SELECT c.metric, c.bucket_ts,
       |         ${Buckets.round6Sql("c.value")} AS cascaded,
       |         ${Buckets.round6Sql("d.value")} AS direct
       |  FROM c1h c JOIN d1h d USING (metric, bucket_ts))
       |SELECT metric, bucket_ts, cascaded, direct,
       |       round(cascaded - direct, 6) AS drift,
       |       CAST(cascaded <> direct AS INT) AS biased
       |FROM r ORDER BY metric, bucket_ts""".stripMargin

  /** R3 `retention_expiry`: the 1m level after its 1-day ring horizon. */
  def retentionExpiry(s: SparkSession, dir: String): DataFrame =
    Rollup.retentionExpiry(
        Ingest.lwwAlign(Buckets.points(s, dir), 60), 86400L, NowS)
      .select(col("metric"), col("bucket_ts"), round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")

  val retentionExpirySql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM lww1m
       |WHERE bucket_ts >= ${NowS - 86400L}
       |ORDER BY metric, bucket_ts""".stripMargin

  // -------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_points" -> (scanPoints _),
    "fetch_range_filter" -> (fetchRangeFilter _),
    "fetch_dense_series" -> ((s, d) => Fetch.fetchDenseSeries(s, d)),
    "fetch_relative" -> ((s, d) => Fetch.fetchRelative(s, d)),
    "fetch_relative_tz" -> ((s, d) => Fetch.fetchRelativeTz(s, d)),
    "fetch_check_empty" -> ((s, d) => Fetch.fetchCheckEmpty(s, d)),
    "fetch_asof" -> ((s, d) => Fetch.fetchAsof(s, d)),
    "fetch_asof_scalable" -> ((s, d) => Fetch.fetchAsofScalable(s, d)),
    "fetch_downsample" -> ((s, d) => Fetch.fetchDownsample(s, d)),
    "fetch_many" -> ((s, d) => Fetch.fetchMany(s, d)),
    "fetch_glob" -> ((s, d) => Fetch.fetchGlob(s, d)),
    "metrics_find" -> ((s, d) => Fetch.metricsFindRoot(s, d)),
    "metrics_find_glob" -> ((s, d) => Fetch.metricsFindGlob(s, d)),
    "fetch_summarize" -> ((s, d) => Fetch.fetchSummarize(s, d)),
    "fetch_maxdatapoints" -> ((s, d) => Fetch.fetchMaxDatapoints(s, d)),
    "fetch_sum_series" -> ((s, d) => Fetch.fetchSumSeries(s, d)),
    "fetch_per_second" -> ((s, d) => Fetch.fetchPerSecond(s, d)),
    "fetch_moving_avg" -> ((s, d) => Fetch.fetchMovingAvg(s, d)),
    "render_target" -> ((s, d) => RenderTarget.renderTarget(s, d)),
    "render_target_smooth" -> ((s, d) => RenderTarget.renderTargetSmooth(s, d)),
    "render_target_rate" -> ((s, d) => RenderTarget.renderTargetRate(s, d)),
    "render_target_fill" -> ((s, d) => RenderTarget.renderTargetFill(s, d)),
    "render_target_timeshift" -> ((s, d) => RenderTarget.renderTargetTimeshift(s, d)),
    "render_target_ratio" -> ((s, d) => RenderTarget.renderTargetRatio(s, d)),
    "render_target_group" -> ((s, d) => RenderTarget.renderTargetGroup(s, d)),
    "render_target_top" -> ((s, d) => RenderTarget.renderTargetTop(s, d)),
    "render_target_hitcount" -> ((s, d) => RenderTarget.renderTargetHitcount(s, d)),
    "render_target_above" -> ((s, d) => RenderTarget.renderTargetAbove(s, d)),
    "render_target_percent" -> ((s, d) => RenderTarget.renderTargetPercent(s, d)),
    "render_target_sort" -> ((s, d) => RenderTarget.renderTargetSort(s, d)),
    "render_target_median" -> ((s, d) => RenderTarget.renderTargetMedian(s, d)),
    "render_target_filter" -> ((s, d) => RenderTarget.renderTargetFilter(s, d)),
    "render_target_current" -> ((s, d) => RenderTarget.renderTargetCurrent(s, d)),
    "render_target_pctile" -> ((s, d) => RenderTarget.renderTargetPctile(s, d)),
    "render_target_trim" -> ((s, d) => RenderTarget.renderTargetTrim(s, d)),
    "render_target_stdev" -> ((s, d) => RenderTarget.renderTargetStdev(s, d)),
    "render_target_constant" -> ((s, d) => RenderTarget.renderTargetConstant(s, d)),
    "render_target_gen" -> ((s, d) => RenderTarget.renderTargetGen(s, d)),
    "render_target_events" -> ((s, d) => RenderTarget.renderTargetEvents(s, d)),
    "render_target_consolidate" -> ((s, d) => RenderTarget.renderTargetConsolidate(s, d)),
    "render_target_diff" -> ((s, d) => RenderTarget.renderTargetDiff(s, d)),
    "render_target_math" -> ((s, d) => RenderTarget.renderTargetMath(s, d)),
    "render_target_spread" -> ((s, d) => RenderTarget.renderTargetSpread(s, d)),
    "render_target_stack" -> ((s, d) => RenderTarget.renderTargetStack(s, d)),
    "render_target_nonnull" -> ((s, d) => RenderTarget.renderTargetNonnull(s, d)),
    "render_target_select2" -> ((s, d) => RenderTarget.renderTargetSelect2(s, d)),
    "render_target_interp" -> ((s, d) => RenderTarget.renderTargetInterp(s, d)),
    "render_target_align" -> ((s, d) => RenderTarget.renderTargetAlign(s, d)),
    "render_target_band" -> ((s, d) => RenderTarget.renderTargetBand(s, d)),
    "render_target_union" -> ((s, d) => RenderTarget.renderTargetUnion(s, d)),
    "render_target_wavg" -> ((s, d) => RenderTarget.renderTargetWavg(s, d)),
    // no oracle entry — holtWinters' seasonal recurrence is not
    // SQL-expressible; driver records rows-only, spec golden-tests it
    "render_target_holt" -> ((s, d) => RenderTarget.renderTargetHolt(s, d)),
    "render_target_holt_input" ->
      ((s, d) => RenderTarget.renderTargetHoltInput(s, d)),
    "render_target_holt_bands" ->
      ((s, d) => RenderTarget.renderTargetHoltBands(s, d)),
    "render_target_minmax" -> ((s, d) => RenderTarget.renderTargetMinmax(s, d)),
    "render_target_resetint" -> ((s, d) => RenderTarget.renderTargetResetint(s, d)),
    "render_target_wildcards" -> ((s, d) => RenderTarget.renderTargetWildcards(s, d)),
    "render_target_tags" -> ((s, d) => RenderTarget.renderTargetTags(s, d)),
    "render_target_tagagg" -> ((s, d) => RenderTarget.renderTargetTagagg(s, d)),
    "render_target_aggregate" -> ((s, d) => RenderTarget.renderTargetAggregate(s, d)),
    "render_target_genmoving" -> ((s, d) => RenderTarget.renderTargetGenmoving(s, d)),
    "render_target_sortby" -> ((s, d) => RenderTarget.renderTargetSortby(s, d)),
    "render_target_lists" -> ((s, d) => RenderTarget.renderTargetLists(s, d)),
    "render_target_regress" -> ((s, d) => RenderTarget.renderTargetRegress(s, d)),
    "render_target_slice" -> ((s, d) => RenderTarget.renderTargetSlice(s, d)),
    "render_target_aggline" -> ((s, d) => RenderTarget.renderTargetAggline(s, d)),
    "render_target_fallback" -> ((s, d) => RenderTarget.renderTargetFallback(s, d)),
    "render_target_reduce" -> ((s, d) => RenderTarget.renderTargetReduce(s, d)),
    "render_target_unique" -> ((s, d) => RenderTarget.renderTargetUnique(s, d)),
    "render_target_between" -> ((s, d) => RenderTarget.renderTargetBetween(s, d)),
    "render_target_apply" -> ((s, d) => RenderTarget.renderTargetApply(s, d)),
    "render_target_useabove" -> ((s, d) => RenderTarget.renderTargetUseabove(s, d)),
    "render_target_wrap" -> ((s, d) => RenderTarget.renderTargetWrap(s, d)),
    "render_target_vertical" -> ((s, d) => RenderTarget.renderTargetVertical(s, d)),
    "render_target_compress" -> ((s, d) => RenderTarget.renderTargetCompress(s, d)),
    "render_target_aliasq" -> ((s, d) => RenderTarget.renderTargetAliasq(s, d)),
    "render_target_pie" -> ((s, d) => RenderTarget.renderTargetPie(s, d)),
    "agg_avg" -> aggQuery(AggregationMethod.Average) _,
    "agg_sum" -> aggQuery(AggregationMethod.Sum) _,
    "agg_last" -> aggQuery(AggregationMethod.Last) _,
    "agg_max" -> aggQuery(AggregationMethod.Max) _,
    "agg_min" -> aggQuery(AggregationMethod.Min) _,
    "agg_absmax" -> aggQuery(AggregationMethod.AbsMax) _,
    "agg_absmin" -> aggQuery(AggregationMethod.AbsMin) _,
    "agg_avg_zero" -> (aggAvgZero _),
    "agg_avg_xff" -> (aggAvgXff _),
    "upsert_batch_lww" -> (upsertBatchLww _),
    "upsert_for_archive" -> (upsertForArchive _),
    "archive_routing" -> (archiveRouting _),
    "ingest_retention_filter" -> (ingestRetentionFilter _),
    "rollup_cascade_5m" -> (rollupCascade5m _),
    "rollup_cascade_1h" -> (rollupCascade1h _),
    "rollup_drift" -> (rollupDrift _),
    "retention_expiry" -> (retentionExpiry _),
    "storage_conf_assign" -> (storageConfAssign _),
    "catalog_info" -> (Materialize.catalogInfo _),
    "create_rollup_tables" -> (Materialize.createRollupTables _),
    "fetch_archive_selection" -> (Materialize.fetchArchiveSelection _),
    "rollup_serve_1h" -> (Materialize.rollupServe1h _),
    "scan_props_json" -> (scanPropsJson _),
    "carbon_ingest" -> (carbonIngest _),
    // FROZEN bench canaries (ops/CanaryQueries.scala — do not edit)
    "render_target_canary" ->
      ((s, d) => CanaryQueries.renderTargetCanary(s, d)),
    "carbon_canary" -> ((s, d) => CanaryQueries.carbonCanary(s, d)),
    "multimodal_codec_canary" ->
      ((s, d) => CanaryQueries.multimodalCodecCanary(s, d))
  )

  val oracleSql: Map[String, String] = Map(
    "scan_points" -> scanPointsSql,
    "fetch_range_filter" -> fetchRangeFilterSql,
    "fetch_dense_series" -> Fetch.fetchDenseSeriesSql,
    "fetch_relative" -> Fetch.fetchRelativeSql,
    "fetch_relative_tz" -> Fetch.fetchRelativeTzSql,
    "fetch_check_empty" -> Fetch.fetchCheckEmptySql,
    "fetch_asof" -> Fetch.fetchAsofSql,
    // the two-pass skew-safe form is pinned row-identical to the
    // single-window form (ExtOpsSpec), so it shares the ASOF oracle
    "fetch_asof_scalable" -> Fetch.fetchAsofSql,
    "fetch_downsample" -> Fetch.fetchDownsampleSql,
    "fetch_many" -> Fetch.fetchManySql,
    "fetch_glob" -> Fetch.fetchGlobSql,
    "metrics_find" -> Fetch.metricsFindRootSql,
    "metrics_find_glob" -> Fetch.metricsFindGlobSql,
    "fetch_summarize" -> Fetch.fetchSummarizeSql,
    "fetch_maxdatapoints" -> Fetch.fetchMaxDatapointsSql,
    "fetch_sum_series" -> Fetch.fetchSumSeriesSql,
    "fetch_per_second" -> Fetch.fetchPerSecondSql,
    "fetch_moving_avg" -> Fetch.fetchMovingAvgSql,
    "render_target" -> RenderTarget.renderTargetSql,
    "render_target_smooth" -> RenderTarget.renderTargetSmoothSql,
    "render_target_rate" -> RenderTarget.renderTargetRateSql,
    "render_target_fill" -> RenderTarget.renderTargetFillSql,
    "render_target_timeshift" -> RenderTarget.renderTargetTimeshiftSql,
    "render_target_ratio" -> RenderTarget.renderTargetRatioSql,
    "render_target_group" -> RenderTarget.renderTargetGroupSql,
    "render_target_top" -> RenderTarget.renderTargetTopSql,
    "render_target_hitcount" -> RenderTarget.renderTargetHitcountSql,
    "render_target_above" -> RenderTarget.renderTargetAboveSql,
    "render_target_percent" -> RenderTarget.renderTargetPercentSql,
    "render_target_sort" -> RenderTarget.renderTargetSortSql,
    "render_target_median" -> RenderTarget.renderTargetMedianSql,
    "render_target_filter" -> RenderTarget.renderTargetFilterSql,
    "render_target_current" -> RenderTarget.renderTargetCurrentSql,
    "render_target_pctile" -> RenderTarget.renderTargetPctileSql,
    "render_target_trim" -> RenderTarget.renderTargetTrimSql,
    "render_target_stdev" -> RenderTarget.renderTargetStdevSql,
    "render_target_constant" -> RenderTarget.renderTargetConstantSql,
    "render_target_gen" -> RenderTarget.renderTargetGenSql,
    "render_target_events" -> RenderTarget.renderTargetEventsSql,
    "render_target_consolidate" -> RenderTarget.renderTargetConsolidateSql,
    "render_target_diff" -> RenderTarget.renderTargetDiffSql,
    "render_target_math" -> RenderTarget.renderTargetMathSql,
    "render_target_spread" -> RenderTarget.renderTargetSpreadSql,
    "render_target_stack" -> RenderTarget.renderTargetStackSql,
    "render_target_nonnull" -> RenderTarget.renderTargetNonnullSql,
    "render_target_select2" -> RenderTarget.renderTargetSelect2Sql,
    "render_target_interp" -> RenderTarget.renderTargetInterpSql,
    "render_target_align" -> RenderTarget.renderTargetAlignSql,
    "render_target_band" -> RenderTarget.renderTargetBandSql,
    "render_target_union" -> RenderTarget.renderTargetUnionSql,
    "render_target_wavg" -> RenderTarget.renderTargetWavgSql,
    "render_target_holt" -> RenderTarget.renderTargetHoltSql,
    "render_target_holt_input" -> RenderTarget.renderTargetHoltInputSql,
    "render_target_holt_bands" -> RenderTarget.renderTargetHoltBandsSql,
    "render_target_minmax" -> RenderTarget.renderTargetMinmaxSql,
    "render_target_resetint" -> RenderTarget.renderTargetResetintSql,
    "render_target_wildcards" -> RenderTarget.renderTargetWildcardsSql,
    "render_target_tags" -> RenderTarget.renderTargetTagsSql,
    "render_target_tagagg" -> RenderTarget.renderTargetTagaggSql,
    "render_target_aggregate" -> RenderTarget.renderTargetAggregateSql,
    "render_target_genmoving" -> RenderTarget.renderTargetGenmovingSql,
    "render_target_sortby" -> RenderTarget.renderTargetSortbySql,
    "render_target_lists" -> RenderTarget.renderTargetListsSql,
    "render_target_regress" -> RenderTarget.renderTargetRegressSql,
    "render_target_slice" -> RenderTarget.renderTargetSliceSql,
    "render_target_aggline" -> RenderTarget.renderTargetAgglineSql,
    "render_target_fallback" -> RenderTarget.renderTargetFallbackSql,
    "render_target_reduce" -> RenderTarget.renderTargetReduceSql,
    "render_target_unique" -> RenderTarget.renderTargetUniqueSql,
    "render_target_between" -> RenderTarget.renderTargetBetweenSql,
    "render_target_apply" -> RenderTarget.renderTargetApplySql,
    "render_target_useabove" -> RenderTarget.renderTargetUseaboveSql,
    "render_target_wrap" -> RenderTarget.renderTargetWrapSql,
    "render_target_vertical" -> RenderTarget.renderTargetVerticalSql,
    "render_target_compress" -> RenderTarget.renderTargetCompressSql,
    "render_target_aliasq" -> RenderTarget.renderTargetAliasqSql,
    "render_target_pie" -> RenderTarget.renderTargetPieSql,
    "agg_avg" -> aggFamilySql(AggregationMethod.Average),
    "agg_sum" -> aggFamilySql(AggregationMethod.Sum),
    "agg_last" -> aggFamilySql(AggregationMethod.Last),
    "agg_max" -> aggFamilySql(AggregationMethod.Max),
    "agg_min" -> aggFamilySql(AggregationMethod.Min),
    "agg_absmax" -> aggFamilySql(AggregationMethod.AbsMax),
    "agg_absmin" -> aggFamilySql(AggregationMethod.AbsMin),
    "agg_avg_zero" -> aggAvgZeroSql,
    "agg_avg_xff" -> aggAvgXffSql,
    "upsert_batch_lww" -> upsertBatchLwwSql,
    "upsert_for_archive" -> upsertForArchiveSql,
    "archive_routing" -> archiveRoutingSql,
    "ingest_retention_filter" -> ingestRetentionFilterSql,
    "rollup_cascade_5m" -> rollupCascade5mSql,
    "rollup_cascade_1h" -> rollupCascade1hSql,
    "rollup_drift" -> rollupDriftSql,
    "retention_expiry" -> retentionExpirySql,
    "storage_conf_assign" -> storageConfAssignSql,
    "catalog_info" -> Materialize.catalogInfoSql,
    "fetch_archive_selection" -> Materialize.fetchArchiveSelectionSql,
    "rollup_serve_1h" -> Materialize.rollupServe1hSql,
    "scan_props_json" -> scanPropsJsonSql,
    "carbon_ingest" -> carbonIngestSql,
    "render_target_canary" -> CanaryQueries.renderTargetCanarySql,
    "carbon_canary" -> CanaryQueries.carbonCanarySql,
    "multimodal_codec_canary" -> CanaryQueries.multimodalCodecCanarySql
    // create_rollup_tables: intentionally no oracle — the parquet write
    // IS the operator; driver records the rows-only check (SURVEY.md §2.1)
  )
}
