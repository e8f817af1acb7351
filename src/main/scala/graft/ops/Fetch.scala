package graft.ops

import graft.model.{Retention, WhisperSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Read path — whisper's only query, `Fetch(from, until)` (reference:
  * whisper.go → `func (whisper *Whisper) Fetch`; SURVEY.md §2.7 Q1).
  *
  * Whisper answers a fetch from the finest archive whose retention still
  * covers `now - from` (archive selection — the materialized-view-routing
  * analog, SURVEY.md §4.1), then returns a DENSE fixed-step series with
  * NaN for empty slots. Here: archive selection is a plain Scala resolver
  * over the rollup-table list, the window is [[fetchWindow]], and density
  * comes from [[Buckets]]' two entry points (gaps become NULL, not NaN —
  * SURVEY.md §4.4 trap 2): a caller that NAMES its series densifies with
  * [[Buckets.densifyNamed]], which left-joins the names × bucket grid to a
  * broadcast of the window's aggregate rows; a caller that FINDS them
  * (a glob, or every metric in the window) densifies with
  * [[Buckets.densify]], one bucket → value map per found series.
  *
  * Scale notes (100 TB): both are bounded by the request (series ×
  * `(until-from)/step` buckets), never by data volume. The heavy lifting
  * is the partial aggregation over the scan, which benefits from Parquet
  * row-group pruning on the pushed `ts` range filter.
  */
object Fetch {

  /** Q1 archive selection: the finest archive (rollup level) whose
    * retention covers the oldest requested instant. Plain function, not a
    * Catalyst rule, per SURVEY.md §4.1.
    */
  def selectArchive(schema: WhisperSchema, nowS: Long, fromS: Long): Retention = {
    val age = nowS - fromS
    schema.retentions.find(_.maxRetentionSeconds >= age)
      .getOrElse(schema.retentions.last)
  }

  /** Dense fixed-step series for one metric (SURVEY.md §7.2 slice).
    *
    * Endpoint semantics replicate whisper exactly (§4.4 trap 1): buckets
    * `floor(from,spp)+spp` (inclusive) .. `floor(until,spp)+spp`
    * (exclusive). A bucket `t` aggregates raw points with
    * `align(ts) == t`, i.e. raw `ts_s` in `[t, t+spp)`.
    */
  def denseSeries(
      pts: DataFrame,
      metric: String,
      fromS: Long,
      untilS: Long,
      spp: Int): DataFrame = {
    val (fromI, untilI) = requestWindow(fromS, untilS, spp)
    Buckets.densifyNamed(binned(pts, fromI, untilI, spp), Seq(metric), fromI, untilI, spp)
      .select(col("bucket_ts"), col("value"))
      .orderBy("bucket_ts")
  }

  /** The whisper fetch window in ALIGNED seconds: the interval pair
    * `floor(t, spp) + spp` of both ends, and whisper's equal-interval
    * bump — "if fromInterval == untilInterval, untilInterval += step",
    * so a range inside one step returns that step's bucket, never an
    * empty series. The bump applies only to a forward range: a fully
    * expired or fully future request clamps to `until < from`
    * (go-whisper returns nil there), and bumping on the intervals'
    * accidental equality would return a bucket outside the request.
    * Every window, the oracle's included, comes from here; a caller that
    * pre-restricts its scan must take the bounds from here too, or the
    * bumped bucket's rows are already gone.
    */
  private[graft] def fetchWindow(fromS: Long, untilS: Long,
      spp: Int): (Long, Long) = {
    val fromI = Buckets.fetchInterval(fromS, spp)
    val u0 = Buckets.fetchInterval(untilS, spp)
    (fromI, if (u0 == fromI && untilS >= fromS) u0 + spp else u0)
  }

  /** [[fetchWindow]] of a caller's request: an inverted one fails, as
    * whisper's `InvalidTimeInterval` does.
    */
  private[ops] def requestWindow(fromS: Long, untilS: Long,
      spp: Int): (Long, Long) = {
    require(fromS <= untilS, "invalid time interval")
    fetchWindow(fromS, untilS, spp)
  }

  /** Per-(metric, step bucket) mean of the raw points in
    * `[fromI, untilI)`: the fetched value of every series at `spp`.
    */
  private def binned(pts: DataFrame, fromI: Long, untilI: Long, spp: Int): DataFrame =
    pts.filter(col("ts_s") >= fromI && col("ts_s") < untilI)
      .groupBy(col("metric"), Buckets.alignTs(col("ts_s"), spp).as("bucket_ts"))
      .agg(Rollup.mean6(col("value")).as("value"))

  /** Query key `fetch_dense_series`: 1-minute average dense series for
    * metric 'view' over the fixed window [F, U] (FIXTURES.md §2). The
    * input is pre-restricted via [[Buckets.pointsInRange]] so the time
    * bounds reach the Parquet scan as pushed filters.
    */
  def fetchDenseSeries(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    denseSeries(Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      "view", Buckets.FromS, Buckets.UntilS, 60)
  }

  /** The one dense-series oracle body (spine left-join over the ranged
    * per-minute mean) — shared by the fixed and both relative fetch
    * keys, which used to carry three verbatim copies (r16 review; the
    * denseManySql factoring note's drift warning applied here too).
    */
  private def denseSeriesSql(fromI: Long, untilI: Long): String =
    s"""WITH ${Buckets.pointsSql},
       |agg AS (
       |  SELECT (ts_s // 60) * 60 AS bucket_ts, ${Rollup.mean6Sql()} AS value
       |  FROM pts
       |  WHERE metric = 'view' AND ts_s >= $fromI AND ts_s < $untilI
       |  GROUP BY 1
       |),
       |spine AS (SELECT CAST(range AS BIGINT) AS bucket_ts FROM range($fromI, $untilI, 60))
       |SELECT s.bucket_ts, a.value
       |FROM spine s LEFT JOIN agg a USING (bucket_ts)
       |ORDER BY s.bucket_ts""".stripMargin

  val fetchDenseSeriesSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    denseSeriesSql(fromI, untilI)
  }

  /** As-of sampling grid step: hourly marks over the [F, U) fetch day. */
  val AsofStepS = 3600L

  /** `fetch_asof`: as-of join / LOCF sampling — place every metric's
    * IRREGULAR point stream onto a fixed hourly grid, each mark carrying
    * the latest observation at or before it plus its staleness. This is
    * the one time-series join Spark has no native operator for (and
    * DuckDB ships as `ASOF JOIN` — its oracle here); whisper never needs
    * it because its ring is dense by construction, but any consumer
    * joining whisper data to event streams does.
    *
    * Built by composition (the SURVEY §2.9 preference order: compose
    * before custom plan): points and grid marks union into one frame,
    * one window per metric ordered by `(ts, is_point DESC)` carries the
    * last non-null observation forward — a point landing exactly ON a
    * mark sorts before it, giving ASOF's inclusive `grid >= ts` match.
    * Points pre-reduce to one row per (metric, second) via `max` (a
    * deterministic tie-break BOTH engines apply, since ASOF ties are
    * otherwise unspecified). One shuffle keyed by metric, in-partition
    * sort; volume per partition = that metric's points + 24 marks. At
    * 100 TB the hot-metric skew answer is the sessionize_scalable
    * two-pass shape: carry within (metric, day) locally, then stitch
    * day boundaries over the per-day tails.
    *
    * Null-valued points are dropped BEFORE the carry (both engines):
    * otherwise the value carry (ignoreNulls) and the timestamp carry
    * would disagree — a mark after a null point would pair the older
    * value with the null point's timestamp, and DuckDB's ASOF would
    * match the null row instead.
    */
  /** The shared points-∪-marks frame behind [[fetchAsof]] and
    * [[fetchAsofScalable]]: tie-reduced non-null points tagged
    * `is_pt = 1`, grid marks tagged `0`.
    */
  private def asofTagged(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pts = Buckets.pointsInRange(spark, sfDir, Buckets.FromS, Buckets.UntilS)
      .filter($"value".isNotNull)
      .groupBy($"metric", $"ts_s").agg(max($"value").as("value"))
    val spine = pts.select($"metric").distinct()
      .select($"metric", explode(sequence(
        lit(Buckets.FromS), lit(Buckets.UntilS - AsofStepS),
        lit(AsofStepS))).as("ts_s"))
    pts
      .select($"metric", $"ts_s", $"value", lit(1).as("is_pt"))
      .unionByName(spine.select($"metric", $"ts_s",
        lit(null).cast("double").as("value"), lit(0).as("is_pt")))
  }

  /** The output shape both as-of forms share: marks only, carried
    * value/ts renamed, staleness derived.
    */
  private def asofFinish(carried: DataFrame): DataFrame =
    carried.filter(col("is_pt") === 0)
      .select(col("metric"), col("ts_s").as("grid_ts"),
        round(col("av_"), 6).as("value"), col("at_").as("asof_ts"),
        (col("ts_s") - col("at_")).as("staleness_s"))
      .orderBy("metric", "grid_ts")

  def fetchAsof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy("metric")
      .orderBy($"ts_s".asc, $"is_pt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofFinish(asofTagged(spark, sfDir)
      .withColumn("av_", last($"value", ignoreNulls = true).over(w))
      .withColumn("at_",
        last(when($"is_pt" === 1, $"ts_s"), ignoreNulls = true).over(w)))
  }

  /** Block width of the skew-safe carry's pass 1 — four blocks over the
    * [F, U) day here; at scale, whatever unit spreads the hot key
    * (sessionize_scalable uses days).
    */
  val AsofBlockS = 21600L

  /** `fetch_asof_scalable`: the two-pass skew-safe form of
    * [[fetchAsof]] — the same shape [[graft.ops.PipelineOps
    * .sessionizeScalable]] uses for the same reason. A hot metric makes
    * the single per-metric carry window one giant sorted partition;
    * here pass 1 carries WITHIN (metric, time-block) — the hot key
    * spreads across its blocks — and pass 2 stitches block boundaries
    * by carrying each block's LAST observation (its tail) across the
    * per-(metric, block) tail frame, whose size is #blocks per metric,
    * never event volume. A mark's answer is its in-block carry when a
    * point precedes it in its own block, else the latest earlier
    * block's tail — exactly the global carry. Pinned row-identical to
    * [[fetchAsof]] (ExtOpsSpec) and sharing its DuckDB ASOF oracle.
    */
  def fetchAsofScalable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tagged = asofTagged(spark, sfDir)
      .withColumn("blk", expr(s"(ts_s - ${Buckets.FromS}) div $AsofBlockS"))
    // pass 1: carry within (metric, block) — the skew-spreading window
    val wB = Window.partitionBy("metric", "blk")
      .orderBy($"ts_s".asc, $"is_pt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = tagged
      .withColumn("lv_", last($"value", ignoreNulls = true).over(wB))
      .withColumn("lt_",
        last(when($"is_pt" === 1, $"ts_s"), ignoreNulls = true).over(wB))
    // pass 2: per-(metric, block) tails (struct max = max ts; ties
    // impossible after the tie-reduce), then the latest STRICTLY
    // EARLIER block's tail per block — a window over #blocks rows
    val tails = tagged.filter($"is_pt" === 1)
      .groupBy($"metric", $"blk")
      .agg(max(struct($"ts_s", $"value")).as("tail"))
    val blocks = tagged.select($"metric", $"blk").distinct()
    val wT = Window.partitionBy("metric").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val stitched = blocks
      .join(tails, Seq("metric", "blk"), "left")
      .withColumn("ptail", last($"tail", ignoreNulls = true).over(wT))
      .select($"metric", $"blk", $"ptail")
    asofFinish(local
      .join(stitched, Seq("metric", "blk"))
      .withColumn("av_", coalesce($"lv_", $"ptail.value"))
      .withColumn("at_", coalesce($"lt_", $"ptail.ts_s")))
  }

  val fetchAsofSql: String =
    s"""WITH ${Buckets.pointsSql},
       |rp AS (
       |  SELECT metric, ts_s, max(value) AS value FROM pts
       |  WHERE ts_s >= ${Buckets.FromS} AND ts_s < ${Buckets.UntilS}
       |    AND value IS NOT NULL
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, CAST(g.range AS BIGINT) AS grid_ts
       |  FROM (SELECT DISTINCT metric FROM rp) m,
       |       range(${Buckets.FromS}, ${Buckets.UntilS}, $AsofStepS) g)
       |SELECT s.metric, s.grid_ts, round(p.value, 6) AS value,
       |       p.ts_s AS asof_ts, s.grid_ts - p.ts_s AS staleness_s
       |FROM spine s ASOF LEFT JOIN rp p
       |  ON s.metric = p.metric AND s.grid_ts >= p.ts_s
       |ORDER BY s.metric, s.grid_ts""".stripMargin

  /** Downsample geometry: 15-minute buckets over the [F, U) fetch day —
    * 1440 per-minute points reduce to ≤96 visually-dominant ones.
    */
  val LtobBucketS = 900L

  /** `fetch_downsample`: largest-triangle-one-bucket (LTOB) visual
    * downsampling — per time bucket keep the point whose triangle with
    * its immediate neighbors has the largest effective area, plus the
    * series endpoints (Steinarsson 2013, "Downsampling Time Series for
    * Visual Representation"). The chart-serving complement to
    * `fetch_maxdatapoints`: consolidation averages buckets (right for
    * further math), LTOB keeps the REAL extreme points a human should
    * see (right for pixels — spikes survive).
    *
    * LTOB rather than LTTB deliberately: LTTB's selected-predecessor
    * recurrence is sequential per series (a mapGroups op, like
    * Holt-Winters), while LTOB's fixed-neighbor areas are pure window
    * algebra — lag/lead + one per-bucket rank, fully relational in both
    * engines, so the oracle can hash-check it. One shuffle keyed by
    * metric, in-partition sort; per-series state is three rows wide at
    * any point. Endpoint buckets keep the endpoint itself (rank orders
    * `is_endpoint` first — endpoints have no triangle).
    */
  def fetchDownsample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fromS = Buckets.FromS
    val untilS = Buckets.UntilS
    // sparse per-minute average of 'view' — the fetch_dense_series agg
    // without the spine (LTOB runs over observed points, not gaps)
    val agg = Buckets.pointsInRange(spark, sfDir, fromS, untilS)
      .filter($"metric" === "view")
      .groupBy($"metric", Buckets.alignTs($"ts_s", 60).as("ts_s"))
      .agg(Rollup.mean6($"value").as("value"))
    val wS = Window.partitionBy("metric").orderBy("ts_s")
    val wM = Window.partitionBy("metric")
    val withArea = agg
      .withColumn("xp", lag($"ts_s", 1).over(wS))
      .withColumn("yp", lag($"value", 1).over(wS))
      .withColumn("xn", lead($"ts_s", 1).over(wS))
      .withColumn("yn", lead($"value", 1).over(wS))
      .withColumn("is_endpoint",
        ($"ts_s" === min($"ts_s").over(wM) ||
          $"ts_s" === max($"ts_s").over(wM)).cast("int"))
      .withColumn("area", expr(
        "abs((xp - xn) * (value - yp) - (xp - ts_s) * (yn - yp)) / 2"))
      // integer division on both sides: CAST(double) would ROUND in
      // DuckDB but TRUNCATE in Spark — `div` / `//` agree exactly
      .withColumn("bucket", expr(s"(ts_s - $fromS) div $LtobBucketS"))
    val wB = Window.partitionBy("metric", "bucket")
      .orderBy($"is_endpoint".desc, $"area".desc_nulls_last, $"ts_s".asc)
    withArea.withColumn("rn", row_number().over(wB))
      .filter($"rn" === 1)
      .select($"metric", $"bucket", $"ts_s", $"value",
        Buckets.round6($"area").as("area"))
      .orderBy("metric", "bucket")
  }

  val fetchDownsampleSql: String =
    s"""WITH ${Buckets.pointsSql},
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS ts_s,
       |         ${Rollup.mean6Sql()} AS value
       |  FROM pts
       |  WHERE metric = 'view' AND ts_s >= ${Buckets.FromS}
       |    AND ts_s < ${Buckets.UntilS}
       |  GROUP BY 1, 2),
       |ar AS (
       |  SELECT metric, ts_s, value,
       |         lag(ts_s) OVER w AS xp, lag(value) OVER w AS yp,
       |         lead(ts_s) OVER w AS xn, lead(value) OVER w AS yn,
       |         CASE WHEN ts_s = min(ts_s) OVER m
       |                OR ts_s = max(ts_s) OVER m THEN 1 ELSE 0 END
       |           AS is_endpoint,
       |         (ts_s - ${Buckets.FromS}) // $LtobBucketS AS bucket
       |  FROM agg
       |  WINDOW w AS (PARTITION BY metric ORDER BY ts_s),
       |         m AS (PARTITION BY metric)),
       |scored AS (
       |  SELECT metric, bucket, ts_s, value, is_endpoint,
       |         abs((xp - xn) * (value - yp) - (xp - ts_s) * (yn - yp)) / 2
       |           AS area
       |  FROM ar),
       |ranked AS (
       |  SELECT metric, bucket, ts_s, value, area,
       |         row_number() OVER (PARTITION BY metric, bucket
       |           ORDER BY is_endpoint DESC, area DESC NULLS LAST,
       |                    ts_s ASC) AS rn
       |  FROM scored)
       |SELECT metric, bucket, ts_s, value, ${Buckets.round6Sql("area")} AS area
       |FROM ranked WHERE rn = 1 ORDER BY metric, bucket""".stripMargin

  /** `fetch_relative`: the graphite REQUEST layer — `from`/`until` as
    * attime strings ([[AtTime]]), the way every dashboard actually asks
    * (`?from=-1d&until=now`), resolved against the pinned render time
    * and served as the ordinary dense fetch. The oracle's window is
    * hand-derived from the semantics (now − 86400), NOT from
    * [[AtTime.parse]] — a parser bug shifts only the Spark side and the
    * hashes diverge.
    */
  def fetchRelative(spark: SparkSession, sfDir: String): DataFrame = {
    val fromS = AtTime.parse("-1d", Buckets.NowS)
    val untilS = AtTime.parse("now", Buckets.NowS)
    val (fromI, untilI) = fetchWindow(fromS, untilS, 60)
    denseSeries(Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      "view", fromS, untilS, 60)
  }

  val fetchRelativeSql: String = {
    val (fromI, untilI) =
      fetchWindow(Buckets.NowS - 86400L, Buckets.NowS, 60)
    denseSeriesSql(fromI, untilI)
  }

  /** `fetch_relative_tz`: graphite's `&tz=` request parameter —
    * `from=midnight&until=midnight+6h&tz=US/Eastern` resolved against
    * the pinned render time. NowS (2024-01-31T00:00:00Z) is 19:00 of
    * Jan 30 in US/Eastern (EST, UTC−5), so the USER's midnight is
    * 2024-01-30T00:00−05:00 = NowS − 68400 — 19 hours before UTC
    * midnight, not 24 or 5: exactly the window a non-tz-aware resolver
    * gets wrong. The oracle window is hand-derived from that offset,
    * NOT from [[AtTime.parse]], so a tz-resolution bug shifts only the
    * Spark side and the hashes diverge.
    */
  def fetchRelativeTz(spark: SparkSession, sfDir: String): DataFrame = {
    val tz = java.time.ZoneId.of("US/Eastern")
    val fromS = AtTime.parse("midnight", Buckets.NowS, tz)
    val untilS = AtTime.parse("midnight+6h", Buckets.NowS, tz)
    val (fromI, untilI) = fetchWindow(fromS, untilS, 60)
    denseSeries(Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      "view", fromS, untilS, 60)
  }

  val fetchRelativeTzSql: String = {
    // hand-derived: US/Eastern midnight of 2024-01-30 = NowS − 68400
    val (fromI, untilI) = fetchWindow(Buckets.NowS - 68400L,
      Buckets.NowS - 68400L + 6 * 3600L, 60)
    denseSeriesSql(fromI, untilI)
  }

  /** `fetch_check_empty`: newer go-whisper's `CheckEmpty(from, until)`
    * range-emptiness probe as an oracle-checked key — one row per
    * probed window with its verdict. Each probe is an EXISTENCE check
    * (`LIMIT 1` above the pushed time/metric filter), never a fetch:
    * the scan short-circuits at the first hit. Probes: the populated
    * standard window, and a window straddling the data's end (empty).
    */
  def fetchCheckEmpty(spark: SparkSession, sfDir: String): DataFrame = {
    val probes = Seq(
      ("view", Buckets.FromS, Buckets.UntilS),
      ("view", Buckets.NowS + 86400L, Buckets.NowS + 2 * 86400L))
    probes.map { case (m, f, u) =>
      val (fromI, untilI) = fetchWindow(f, u, 60)
      Buckets.pointsInRange(spark, sfDir, fromI, untilI)
        .filter(col("metric") === m)
        .limit(1)
        .agg(count(lit(1)).as("n"))
        .select(lit(m).as("metric"), lit(fromI).as("from_s"),
          lit(untilI).as("until_s"), (col("n") === 0).as("is_empty"))
    }.reduce(_ unionAll _).orderBy("from_s")
  }

  val fetchCheckEmptySql: String = {
    def one(m: String, f: Long, u: Long): String = {
      val (fromI, untilI) = fetchWindow(f, u, 60)
      s"""SELECT '$m' AS metric, CAST($fromI AS BIGINT) AS from_s,
         |  CAST($untilI AS BIGINT) AS until_s,
         |  NOT EXISTS(SELECT 1 FROM pts
         |             WHERE metric = '$m'
         |               AND ts_s >= $fromI AND ts_s < $untilI) AS is_empty""".stripMargin
    }
    s"""WITH ${Buckets.pointsSql}
       |${one("view", Buckets.FromS, Buckets.UntilS)}
       |UNION ALL
       |${one("view", Buckets.NowS + 86400L, Buckets.NowS + 2 * 86400L)}
       |ORDER BY from_s""".stripMargin
  }

  /** `fetch_many`: the batched multi-metric fetch ([[graft.WhisperTable
    * .fetchMany]]'s shape as an oracle-checked key) — ONE query returns
    * the dense series of EVERY metric in the window, instead of one
    * driver round-trip per metric. The output is (metrics × buckets) —
    * bounded by the request, never by data volume — and the scan stays
    * one pass: the serving shape a 100 TB dashboard fan-out needs.
    */
  def fetchMany(spark: SparkSession, sfDir: String): DataFrame =
    denseMany(spark, sfDir, metricRx = None)

  /** ONE dense multi-metric fetch shape behind [[fetchMany]] and
    * [[fetchGlob]] (they differed only by the glob pre-filter, stated
    * twice — the r13 review's drift warning: a fetch-semantics fix
    * applied to one copy silently skips the other).
    */
  private def denseMany(
      spark: SparkSession, sfDir: String, metricRx: Option[String]): DataFrame = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val all = Buckets.pointsInRange(spark, sfDir, fromI, untilI)
    val pts = metricRx.fold(all)(rx => all.filter(col("metric").rlike(rx)))
    Buckets.densify(binned(pts, fromI, untilI, 60), fromI, untilI, 60)
      .orderBy("metric", "bucket_ts")
  }

  /** Graphite metric-glob → anchored regex, identical in Java regex
    * (Spark `rlike`) and RE2 (DuckDB `regexp_matches`): `*` → `[^.]*`
    * and `?` → `[^.]` (globs never cross the dot hierarchy separator —
    * graphite's find semantics), `{a,b}` → `(a|b)`, `[...]` classes
    * pass through, every other regex metachar is escaped. Graphite
    * patterns have no bare commas outside braces, so `,` always maps
    * to alternation.
    */
  def globToRegex(glob: String): String = {
    // the whole body is grouped: a top-level comma (legal only inside
    // braces, but tolerated by graphite's parser) becomes GROUPED
    // alternation `^(a|b)$` — ungrouped `^a|b$` would silently turn
    // anchored match into prefix/suffix match under rlike search
    // semantics
    val sb = new StringBuilder("^(")
    var inClass = false
    var classOpened = false // just consumed '[' — '!' here is negation
    var negOpened = false // just consumed '[!' — ']' here is STILL literal
    glob.foreach {
      case '*' if !inClass => sb.append("[^.]*")
      case '?' if !inClass => sb.append("[^.]")
      case '{' if !inClass => sb.append('(')
      case '}' if !inClass => sb.append(')')
      case ',' if !inClass => sb.append('|')
      case '[' if inClass =>
        // a raw '[' INSIDE a class is Java class-union syntax but an
        // RE2 literal — escape it so both engines read the literal,
        // and do not re-arm the '!'-negation lookahead (r16 review)
        classOpened = false; negOpened = false; sb.append("\\[")
      case '[' => inClass = true; classOpened = true; sb.append('[')
      case '!' if classOpened =>
        // fnmatch negation (graphite's finders match via fnmatch):
        // '[!abc]' means NOT-in-set — regex spells it '[^abc]'; a
        // literal-looking '[!...]' class would instead match '!' plus
        // the listed chars, the exact inverse (r13 review). Hand the
        // just-opened state to negOpened so a ']' RIGHT AFTER '[!'
        // still takes the literal branch below (r16 ADVICE: the old
        // clear-here form emitted '[^]]', which both engines happen to
        // parse but only by relying on ']'-after-'[^' leniency)
        classOpened = false; negOpened = true; sb.append('^')
      case ']' if classOpened || negOpened =>
        // fnmatch: ']' FIRST in a class ('[' or '[!') is a LITERAL —
        // unescaped it closes an empty class, which Java REJECTS
        // (engine crash) while RE2 accepts it first-in-class (r16
        // review); the escaped form is a literal in both
        classOpened = false; negOpened = false; sb.append("\\]")
      case ']' => inClass = false; classOpened = false; sb.append(']')
      case '&' if inClass =>
        // '&&' inside a Java class is set INTERSECTION; RE2 reads a
        // literal — escape to pin the literal meaning in both
        classOpened = false; negOpened = false; sb.append("\\&")
      case '^' if classOpened =>
        // fnmatch treats a leading in-class '^' as the LITERAL caret —
        // negation is spelled only '[!...]' — but raw '^' right after
        // '[' is regex negation, the exact inverse (r13 ADVICE); escape
        // it ('^' later in a class — including right after '[!' — is
        // already literal in both Java regex and RE2)
        classOpened = false; sb.append("\\^")
      case c if !inClass && "\\.(){}*+?^$|".indexOf(c.toInt) >= 0 =>
        classOpened = false; sb.append('\\').append(c)
      case c => classOpened = false; negOpened = false; sb.append(c)
    }
    require(!inClass, s"unclosed '[' class in metric glob '$glob'")
    sb.append(")$").toString
  }

  /** Glob for the `fetch_glob` key — braces, star and question mark over
    * the five event metrics: matches click, signup, view; not error or
    * purchase.
    */
  val GlobPattern = "{click,sign*,v?ew}"

  /** `fetch_glob`: graphite's metric-FIND surface over one table —
    * [[fetchMany]] WITHOUT a driver-side metric list. The glob compiles
    * to a regex filter on the scan, and each matched series is densified
    * from its own aggregate rows ([[Buckets.densify]]), so the matched
    * set never reaches the driver. The reference layout resolves a glob
    * by walking the filesystem tree and opening one file per match; here
    * one pruned scan serves every matching series — the
    * `servers.*.cpu.load` dashboard query shape.
    */
  def fetchGlob(spark: SparkSession, sfDir: String): DataFrame =
    denseMany(spark, sfDir, metricRx = Some(globToRegex(GlobPattern)))

  val fetchGlobSql: String = denseManySql(Some(globToRegex(GlobPattern)))

  // ------------------------------------------- graphite /metrics/find

  /** Graphite's tree-browse endpoint — `/metrics/find?query=` (the
    * metric picker behind every dashboard's autocomplete and the
    * graphite-web tree pane, public API docs). A dotted glob addresses
    * nodes at its own depth; the answer is each matching node with
    * graphite's two flags: `leaf` (a series ends exactly here) and
    * `expandable` (series continue below). Both can be 1 at once — a
    * node that is a series AND a subtree gets a leaf icon and an expand
    * arrow.
    *
    * Relational form, no tree walk: project each metric's first
    * `depth(query)` dot-segments as its candidate node, filter by the
    * query's anchored regex ([[globToRegex]] — `*`/`?` never cross a
    * dot, so segment alignment is exact), and OR-fold the two flags per
    * node. One pass over metric names; the shuffle is keyed by node and
    * bounded by the namespace size at the queried depth, so at a
    * 100 TB deployment (tens of millions of series) this is a routine
    * single-column aggregate, where the reference layout pays a
    * filesystem walk per request.
    */
  /** Expand braces into alternative globs — graphite's finders expand
    * braces BEFORE matching (fnmatch has no brace syntax), so a DOTTED
    * alternative (`servers.{cpu.load,mem}`) addresses a different node
    * depth per alternative; computing one depth from the raw query
    * counted dots inside braces and dropped valid shallower nodes (r13
    * review). Nested braces expand recursively; commas split at the top
    * nesting level only.
    */
  private[graft] def expandBraces(q: String): Seq[String] = {
    // the OUTER brace matcher is class-aware too (r17 review): a '{' or
    // '}' inside a character class is a literal member under fnmatch —
    // the indexOf-based form paired the opening '{' of 'x.{a[}],b}'
    // with the '}' that is a class member (slicing an invalid
    // half-glob), and threw 'unbalanced braces' on 'x.[{]y', a legal
    // class-literal '{' with no braces to expand at all. Same fnmatch
    // lookahead as the splitter below: ']' right after '[' / '[!' is a
    // literal member, not the class close.
    var open = -1
    var close = -1
    var depth = 0
    var cls = false
    var clsOpened = false
    var negOpened = false
    var i = 0
    while (i < q.length && close < 0) {
      val c = q(i)
      if (!cls) {
        if (c == '[') { cls = true; clsOpened = true }
        else if (c == '{') { depth += 1; if (open < 0) open = i }
        else if (c == '}' && open >= 0) { depth -= 1; if (depth == 0) close = i }
      } else if (c == '!' && clsOpened) { clsOpened = false; negOpened = true }
      else if (c == ']' && (clsOpened || negOpened)) {
        clsOpened = false; negOpened = false // literal member
      } else {
        if (c == ']') cls = false
        clsOpened = false; negOpened = false
      }
      i += 1
    }
    if (open < 0) return Seq(q)
    require(close > open, s"unbalanced braces in metric glob '$q'")
    val (head, body, tail) =
      (q.substring(0, open), q.substring(open + 1, close), q.substring(close + 1))
    val alts = {
      val out = Seq.newBuilder[String]
      var d = 0
      // track character-class state too: a comma inside '[1,2]' is a
      // class member, not an alternative separator — the depth-only
      // splitter broke 'x.{a[1,2],b}' into invalid half-globs that
      // globToRegex then rejected (r16 review). The class tracker
      // mirrors globToRegex's fnmatch lookahead exactly (r16 ADVICE):
      // a ']' right after '[' or '[!' is a literal MEMBER, not the
      // class close — without it 'x.{a[],]y,b}' split mid-class into
      // the half-glob 'x.a[]' that globToRegex then rejects
      var cls = false
      var clsOpened = false // just consumed '['
      var negOpened = false // just consumed '[!'
      val sb = new StringBuilder
      body.foreach { c =>
        if (c == ',' && d == 0 && !cls) { out += sb.toString; sb.clear() }
        else {
          if (!cls) {
            if (c == '{') d += 1
            else if (c == '}') d -= 1
            else if (c == '[') { cls = true; clsOpened = true }
          } else if (c == '!' && clsOpened) {
            clsOpened = false; negOpened = true
          } else if (c == ']' && (clsOpened || negOpened)) {
            clsOpened = false; negOpened = false // literal member
          } else {
            if (c == ']') cls = false
            clsOpened = false; negOpened = false
          }
          sb.append(c)
        }
      }
      out += sb.toString
      out.result()
    }
    alts.flatMap(a => expandBraces(head + a + tail)).distinct
  }

  def metricsFind(metrics: DataFrame, query: String): DataFrame = {
    val parts = split(col("metric"), "\\.")
    def findOne(g: String): DataFrame = {
      val depth = g.count(_ == '.') + 1
      val rx = globToRegex(g)
      metrics
        .select(concat_ws(".", slice(parts, 1, depth)).as("node"),
          size(parts).as("nseg"))
        .filter(col("nseg") >= depth && col("node").rlike(rx))
        .groupBy(col("node"))
        .agg(max(when(col("nseg") === depth, 1).otherwise(0)).as("leaf"),
          max(when(col("nseg") > depth, 1).otherwise(0)).as("expandable"))
    }
    expandBraces(query).map(findOne) match {
      case Seq(one) => one
      case many =>
        // per-alternative depths may coincide on a node (e.g. 'a.{b,c}');
        // merge with OR'd flags, like graphite's finder result union
        many.reduce(_ unionByName _)
          .groupBy(col("node"))
          .agg(max(col("leaf")).as("leaf"),
            max(col("expandable")).as("expandable"))
    }
  }

  /** `metrics_find`: the root browse (`query=*`) over the union of the
    * flat and dotted fixture namespaces — the flat event series come
    * back `leaf=1`, the shard subtrees `expandable=1`, exercising both
    * flags in one result.
    */
  def metricsFindRoot(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val mets = Buckets.pointsInRange(spark, sfDir, fromI, untilI)
      .select(col("metric"))
      .unionByName(
        Buckets.pointsPathedInRange(spark, sfDir, fromI, untilI)
          .select(col("metric")))
    metricsFind(mets, "*").orderBy("node")
  }

  val metricsFindRootSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = globToRegex("*")
    s"""WITH ${Buckets.pointsSql},
       |${Buckets.pointsPathedSqlNamed("ptsp")},
       |mets AS (
       |  SELECT metric FROM pts WHERE ts_s >= $fromI AND ts_s < $untilI
       |  UNION ALL
       |  SELECT metric FROM ptsp WHERE ts_s >= $fromI AND ts_s < $untilI),
       |seg AS (
       |  SELECT array_to_string(string_split(metric, '.')[1:1], '.') AS node,
       |         len(string_split(metric, '.')) AS nseg
       |  FROM mets)
       |SELECT node,
       |       max(CASE WHEN nseg = 1 THEN 1 ELSE 0 END) AS leaf,
       |       max(CASE WHEN nseg > 1 THEN 1 ELSE 0 END) AS expandable
       |FROM seg
       |WHERE nseg >= 1 AND regexp_matches(node, '$rx')
       |GROUP BY node
       |ORDER BY node""".stripMargin
  }

  /** `metrics_find_glob`: a deep find — the [[GlobPattern]] event types
    * under the matching shards (`shard*.{click,sign*,v?ew}`), all pure
    * leaves; exercises brace/star/question segments below the root.
    */
  def metricsFindGlob(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val mets = Buckets.pointsPathedInRange(spark, sfDir, fromI, untilI)
      .select(col("metric"))
    metricsFind(mets, s"shard*.$GlobPattern").orderBy("node")
  }

  val metricsFindGlobSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = globToRegex(s"shard*.$GlobPattern")
    s"""WITH ${Buckets.pointsPathedSql},
       |seg AS (
       |  SELECT array_to_string(string_split(metric, '.')[1:2], '.') AS node,
       |         len(string_split(metric, '.')) AS nseg
       |  FROM pts WHERE ts_s >= $fromI AND ts_s < $untilI)
       |SELECT node,
       |       max(CASE WHEN nseg = 2 THEN 1 ELSE 0 END) AS leaf,
       |       max(CASE WHEN nseg > 2 THEN 1 ELSE 0 END) AS expandable
       |FROM seg
       |WHERE nseg >= 2 AND regexp_matches(node, '$rx')
       |GROUP BY node
       |ORDER BY node""".stripMargin
  }

  /** The dense multi-metric fetch as oracle text — ONE builder for both
    * [[fetchManySql]] and [[fetchGlobSql]], mirroring [[denseMany]]
    * (same r13 drift rationale as the Scala side).
    */
  private def denseManySql(metricRx: Option[String]): String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rxAnd = metricRx.fold("")(rx =>
      s"\n    AND regexp_matches(metric, '$rx')")
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI$rxAnd),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS value
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI$rxAnd
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r)
       |SELECT s.metric, s.bucket_ts, a.value
       |FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)
       |ORDER BY s.metric, s.bucket_ts""".stripMargin
  }

  val fetchManySql: String = denseManySql(None)

  // ------------------------------- graphite render fixtures (events.*)
  // Each key renders a target string through RenderTarget.evaluate over
  // the window's points; `*` matches exactly the five single-node event
  // metrics, the set the oracle's `DISTINCT metric` yields.

  /** `summarize()` interval for the `fetch_summarize` key: 10 minutes
    * over the fixed 24 h fixture window → ≤145 coarse buckets/metric.
    */
  val SummarizeIntervalS = 600

  /** Render point budget for `fetch_maxdatapoints`: 1440 minutes / 100
    * → consolidation factor 15, 96 output points per metric.
    */
  val MaxDataPoints = 100

  /** Query key `fetch_summarize`: 10-minute sums of the per-minute
    * multi-metric fetch over the fixed window — `summarize(events.*,
    * "10min", "sum")` in graphite terms.
    */
  def fetchSummarize(spark: SparkSession, sfDir: String): DataFrame =
    RenderTarget.evalFlat(spark, sfDir,
      s"summarize(*, '${SummarizeIntervalS / 60}min', 'sum')")

  val fetchSummarizeSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val iv = SummarizeIntervalS
    val lo = Math.floorDiv(fromI, iv.toLong) * iv
    val hiExcl = Math.floorDiv(untilI - 60, iv.toLong) * iv + iv
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS b, ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |  GROUP BY 1, 2),
       |coarse AS (
       |  SELECT metric, (b // $iv) * $iv AS bucket_ts,
       |         round(sum(v), 6) AS value
       |  FROM agg GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($lo, $hiExcl, $iv)) r)
       |SELECT s.metric, s.bucket_ts, c.value
       |FROM spine s LEFT JOIN coarse c USING (metric, bucket_ts)
       |ORDER BY s.metric, s.bucket_ts""".stripMargin
  }

  /** Query key `fetch_maxdatapoints`: the 1440-point per-minute fetch
    * consolidated under a 100-point render budget (factor 15 → 96
    * 15-minute averages per metric, groups aligned to the series start).
    */
  def fetchMaxDatapoints(spark: SparkSession, sfDir: String): DataFrame =
    RenderTarget.evalFlat(spark, sfDir, "*", maxDataPoints = MaxDataPoints)

  val fetchMaxDatapointsSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val n = ((untilI - fromI) / 60).toInt
    val factor = math.max(1, (n + MaxDataPoints - 1) / MaxDataPoints)
    val stepS = 60L * factor
    val groups = (n + factor - 1) / factor
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS b, ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |  GROUP BY 1, 2),
       |cons AS (
       |  SELECT metric, $fromI + ((b - $fromI) // $stepS) * $stepS AS bucket_ts,
       |         ${Rollup.mean6Sql("v")} AS value
       |  FROM agg GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, ${fromI + groups * stepS}, $stepS)) r)
       |SELECT s.metric, s.bucket_ts, c.value
       |FROM spine s LEFT JOIN cons c USING (metric, bucket_ts)
       |ORDER BY s.metric, s.bucket_ts""".stripMargin
  }

  /** Query key `fetch_sum_series`: `sumSeries(events.*)` — the five
    * event metrics collapsed to one 1440-point series.
    */
  def fetchSumSeries(spark: SparkSession, sfDir: String): DataFrame =
    RenderTarget.evalFlat(spark, sfDir, "sumSeries(*)").select("bucket_ts", "value")

  val fetchSumSeriesSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    s"""WITH ${Buckets.pointsSql},
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |  GROUP BY 1, 2),
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS value
       |  FROM agg GROUP BY 1),
       |spine AS (SELECT CAST(range AS BIGINT) AS bucket_ts
       |          FROM range($fromI, $untilI, 60))
       |SELECT s.bucket_ts, m.value
       |FROM spine s LEFT JOIN summed m USING (bucket_ts)
       |ORDER BY s.bucket_ts""".stripMargin
  }

  /** Query key `fetch_per_second`: `perSecond(events.*)` — per-metric
    * counter rates over the dense per-minute fetch (None on gaps,
    * resets, and the leading bucket).
    */
  def fetchPerSecond(spark: SparkSession, sfDir: String): DataFrame =
    RenderTarget.evalFlat(spark, sfDir, "perSecond(*)")

  val fetchPerSecondSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |lagged AS (
       |  SELECT metric, bucket_ts, v,
       |         lag(v) OVER (PARTITION BY metric ORDER BY bucket_ts) AS prev
       |  FROM dense)
       |SELECT metric, bucket_ts,
       |       CASE WHEN v IS NOT NULL AND prev IS NOT NULL AND v >= prev
       |            THEN ${Buckets.round6Sql("(v - prev) / 60")} END AS value
       |FROM lagged
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  /** Trailing window length (buckets) for `fetch_moving_avg`. */
  val MovingAvgWindow = 10

  /** Query key `fetch_moving_avg`: `movingAverage(events.*, 10)` — the
    * 10-minute trailing smooth of every metric's fetched series, with
    * graphite's extra-history pre-fetch so bucket one is already
    * full-windowed.
    */
  def fetchMovingAvg(spark: SparkSession, sfDir: String): DataFrame =
    RenderTarget.evalFlat(spark, sfDir, s"movingAverage(*, $MovingAvgWindow)",
      extS = MovingAvgWindow.toLong * 60)

  val fetchMovingAvgSql: String = {
    val (fromI, untilI) = fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val extFromI = fromI - MovingAvgWindow.toLong * 60
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $extFromI AND ts_s < $untilI),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
       |  WHERE ts_s >= $extFromI AND ts_s < $untilI
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($extFromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |winned AS (
       |  SELECT metric, bucket_ts,
       |         list(v) OVER (PARTITION BY metric ORDER BY bucket_ts
       |           ROWS BETWEEN ${MovingAvgWindow} PRECEDING AND 1 PRECEDING)
       |           AS lst,
       |         count(v) OVER (PARTITION BY metric ORDER BY bucket_ts
       |           ROWS BETWEEN ${MovingAvgWindow} PRECEDING AND 1 PRECEDING)
       |           AS cnt
       |  FROM dense),
       |smoothed AS (
       |  SELECT metric, bucket_ts,
       |         CASE WHEN cnt > 0 THEN ${Buckets.round6Sql(
                  "list_reduce(list_filter(lst, x -> x IS NOT NULL), " +
                    "(a, x) -> a + x) / cnt")}
       |         END AS value
       |  FROM winned)
       |SELECT metric, bucket_ts, value FROM smoothed
       |WHERE bucket_ts >= $fromI
       |ORDER BY metric, bucket_ts""".stripMargin
  }
}
