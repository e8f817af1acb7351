package graft.sources

import graft.ops.{Buckets, Dedup, Fetch, Ingest}
import graft.model.Retentions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked query over the `.wsp` binary path: parquet points →
  * LWW-aligned level → [[WspWrite]] `.wsp` files → [[WspDataSource]]
  * scan. The DuckDB oracle computes the same level directly from
  * parquet, so a hash match proves the byte-level encode → ring place →
  * decode → DSv2 scan pipeline is lossless (float64 values round-trip
  * bit-exactly through the format — whisper stores f64).
  */
object WspQueries {

  import Buckets.{NowS, pointsSql}

  /** 1m:1d ring (1440 slots), Last/LWW — the `lww` fixture schema. The
    * window [now−1d, now) holds exactly 1440 distinct 1m buckets, so
    * every aligned point owns a unique slot: write-side collisions
    * (ring laps) are exercised separately in WspSpec, where an oracle
    * cannot see them (DuckDB has no ring).
    */
  private val schema = Retentions.lww
  private val FromB = NowS - 86400L

  /** Export root — the shared materialize-once pattern ([[Dedup
    * .sharedIndexPath]]): freshness-keyed so a regenerated testdata dir
    * gets new files, built exactly once per JVM, shared by both wsp
    * query keys.
    */
  /** Write the 1m LWW window as a `.wsp` tree at `path` (files exist on
    * return). ONE definition shared by [[ensureExported]] and
    * [[ensureSetAgg]]'s private copy, so a fixture-schema change cannot
    * leave one caller silently testing a different geometry.
    */
  private def writeLwwTree(s: SparkSession, dir: String, path: String): Unit =
    WspWrite.exportLevel(Ingest.lwwAlign(Buckets.points(s, dir), 60)
      .filter(col("bucket_ts") >= FromB && col("bucket_ts") < NowS), path, schema)

  private def ensureExported(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp") { base =>
      writeLwwTree(s, dir, base)
    }

  /** `wsp_roundtrip`: write the 1m LWW level of the last retention day
    * as one `.wsp` file per metric, scan the tree back through
    * `format("wsp")`, and emit the canonical (metric, bucket_ts, value)
    * frame the oracle derives relationally.
    */
  def wspRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = ensureExported(s, dir)
    s.read.format("wsp").load(base)
      .select(col("metric"), col("ts_s").as("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val wspRoundtripSql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM lww1m
       |WHERE bucket_ts >= $FromB AND bucket_ts < $NowS
       |ORDER BY metric, bucket_ts""".stripMargin

  /** Q1 fetch window over the exported tree: the last 2 hours up to
    * pinned now ([[Fetch.fetchWindow]]).
    */
  private val (fetchFromI, fetchUntilI) = Fetch.fetchWindow(NowS - 7200, NowS - 3600, 60)

  /** The named series of the exported tree, dense over the fetch window.
    * The literal metric and `ts_s` filters reach the wsp scan: the
    * metric prunes files at planning, the range reaches the slot decoder.
    */
  private def wspDense(s: SparkSession, dir: String, metrics: Seq[String]): DataFrame = {
    val pts = s.read.format("wsp").load(ensureExported(s, dir))
      .filter(col("metric").isin(metrics: _*) &&
        col("ts_s") >= fetchFromI && col("ts_s") < fetchUntilI)
      .select(col("metric"), col("ts_s").as("bucket_ts"), round(col("value"), 6).as("value"))
    Buckets.densifyNamed(pts, metrics, fetchFromI, fetchUntilI, 60)
  }

  /** `wsp_fetch`: whisper's Fetch served DIRECTLY off the `.wsp` tree —
    * the reference's one query, against the reference's actual storage
    * format, executed as a Spark plan: the metric equality prunes to ONE
    * file at planning (exactly whisper's single `Open`), the ts range
    * reaches the slot decoder, and the dense gap-filled series comes
    * from [[Buckets.densifyNamed]], as a facade fetch's does.
    */
  def wspFetch(s: SparkSession, dir: String): DataFrame =
    wspDense(s, dir, Seq("error"))
      .select(col("bucket_ts"), col("value"))
      .orderBy("bucket_ts")

  val wspFetchSql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |spine AS (SELECT range AS bucket_ts
       |          FROM range($fetchFromI, $fetchUntilI, 60))
       |SELECT s.bucket_ts, round(l.value, 6) AS value
       |FROM spine s LEFT JOIN lww1m l
       |  ON l.metric = 'error' AND l.bucket_ts = s.bucket_ts
       |ORDER BY s.bucket_ts""".stripMargin

  /** `wsp_render_target`: the SAME dashboard target string as the
    * `render_target` key — `summarize(perSecond(glob), '10min', 'sum')`
    * — served off the `.wsp` TREE. The target's leaf glob prunes FILES
    * during the tree walk (passed as the scan's `metricGlob` option via
    * [[graft.ops.RenderTarget.leafGlobs]]), then metric find, per-minute
    * fetch, counter rates and 10-minute totals all run from that one
    * pruned scan — the dense series and their metric list both derive
    * from its per-minute aggregate: a graphite user points an existing
    * dashboard at the tree and the target runs unchanged.
    */
  def wspRenderTarget(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.RenderTarget
    val base = ensureExported(s, dir)
    val target = RenderTarget.TargetExpr1
    val globs = RenderTarget.leafGlobs(RenderTarget.parse(target))
    val scan = globs match {
      case Seq(g) => s.read.format("wsp").option("metricGlob", g).load(base)
      case _ => s.read.format("wsp").load(base)
    }
    RenderTarget.evaluate(s, scan.select(col("metric"), col("ts_s"), col("value")),
      target, NowS - 7200, NowS - 3600, 60)
  }

  val wspRenderTargetSql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(NowS - 7200, NowS - 3600, 60)
    val rx = graft.ops.Fetch.globToRegex(graft.ops.Fetch.GlobPattern)
    val lo = Math.floorDiv(fromI, 600L) * 600
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |tree AS (
       |  SELECT metric, bucket_ts AS ts_s, value FROM lww1m
       |  WHERE bucket_ts >= $FromB AND bucket_ts < $NowS),
       |mets AS (
       |  SELECT DISTINCT metric FROM tree
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${graft.ops.Rollup.mean6Sql()} AS v
       |  FROM tree
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT m.metric, r.bucket_ts FROM mets m,
       |    (SELECT CAST(range AS BIGINT) AS bucket_ts
       |     FROM range($fromI, $untilI, 60)) r),
       |dense AS (
       |  SELECT s.metric, s.bucket_ts, a.v
       |  FROM spine s LEFT JOIN agg a USING (metric, bucket_ts)),
       |rate AS (
       |  SELECT metric, bucket_ts,
       |         CASE WHEN v IS NOT NULL AND prev IS NOT NULL AND v >= prev
       |              THEN round((v - prev) / 60, 6) END AS value
       |  FROM (SELECT metric, bucket_ts, v,
       |               lag(v) OVER (PARTITION BY metric ORDER BY bucket_ts) AS prev
       |        FROM dense))
       |SELECT metric, (bucket_ts // 600) * 600 AS bucket_ts,
       |       round(sum(value), 6) AS value
       |FROM rate
       |GROUP BY 1, 2
       |HAVING (bucket_ts // 600) * 600 >= $lo
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  // ------------------------------------------------ multi-archive round trip

  /** The std 3-level geometry under Sum/xff-0 cascade derivation (the
    * `rollup_cascade_*` keys' semantics, so the oracle CTEs are the
    * already-proven cascade SQL). Each level is retention-filtered to
    * exactly its ring capacity before export.
    */
  private val MultiSchema = graft.model.WhisperSchema(
    Retentions.std.retentions, graft.model.AggregationMethod.Sum, 0.0)

  private def ensureExportedMulti(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_multi") { base =>
      val lww = Ingest.lwwAlign(Buckets.points(s, dir), 60)
      val r5m = graft.ops.Rollup.propagate(
        lww, 60, 300, graft.model.AggregationMethod.Sum, 0.0)
        .select(col("metric"), col("bucket_ts"), col("value"))
      val r1h = graft.ops.Rollup.propagate(
        r5m, 300, 3600, graft.model.AggregationMethod.Sum, 0.0)
        .select(col("metric"), col("bucket_ts"), col("value"))
      val levels = Seq(lww, r5m, r1h).zip(MultiSchema.retentions).zipWithIndex
        .map { case ((df, r), i) =>
          df.filter(col("bucket_ts") >= NowS - r.maxRetentionSeconds &&
              col("bucket_ts") < NowS)
            .withColumn("archive", lit(i))
        }
      WspWrite.export(levels.reduce(_ unionAll _), base, MultiSchema)
      ()
    }

  /** `wsp_roundtrip_multi`: ALL THREE archive levels of the std cascade
    * through the binary format — each level derived relationally,
    * ring-packed into its own archive, scanned back, and hash-compared
    * against the cascade SQL. Extends the single-level roundtrip's
    * lossless-codec proof to multi-archive files (previously only
    * golden-tested via `exportWsp`).
    */
  def wspRoundtripMulti(s: SparkSession, dir: String): DataFrame = {
    val base = ensureExportedMulti(s, dir)
    s.read.format("wsp").load(base)
      .select(col("metric"), col("archive"), col("spp"),
        col("ts_s").as("bucket_ts"), round(col("value"), 6).as("value"))
      .orderBy("metric", "archive", "bucket_ts")
  }

  val wspRoundtripMultiSql: String = {
    import graft.model.AggregationMethod.Sum
    import graft.ops.Rollup
    val rets = MultiSchema.retentions
    def levelSelect(cte: String, i: Int) = {
      val r = rets(i)
      s"""SELECT metric, CAST($i AS INT) AS archive,
         |       CAST(${r.secondsPerPoint} AS INT) AS spp, bucket_ts,
         |       round(value, 6) AS value
         |FROM $cte
         |WHERE bucket_ts >= ${NowS - r.maxRetentionSeconds}
         |  AND bucket_ts < $NowS""".stripMargin
    }
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |r5m AS (${Rollup.propagateSql("lww1m", 60, 300, Sum, 0.0)}),
       |r5v AS (SELECT metric, bucket_ts, value FROM r5m),
       |r1h AS (${Rollup.propagateSql("r5v", 300, 3600, Sum, 0.0)})
       |${levelSelect("lww1m", 0)}
       |UNION ALL
       |${levelSelect("r5v", 1)}
       |UNION ALL
       |${levelSelect("r1h", 2)}
       |ORDER BY metric, archive, bucket_ts""".stripMargin
  }

  /** `wsp_fetch_many`: the batched dashboard fan-out (the engine's
    * `fetchMany` advantage, SURVEY §2.7) against whisper storage — an
    * `isin` metric predicate pushes as `In` file pruning (N files opened
    * for N requested series, never the tree), one densify serves every
    * series' dense gap-filled frame.
    */
  def wspFetchMany(s: SparkSession, dir: String): DataFrame =
    wspDense(s, dir, Seq("error", "click")).orderBy("metric", "bucket_ts")

  val wspFetchManySql: String =
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |req AS (SELECT unnest(['error', 'click']) AS metric),
       |spine AS (SELECT metric, range AS bucket_ts
       |          FROM req, range($fetchFromI, $fetchUntilI, 60))
       |SELECT s.metric, s.bucket_ts, round(l.value, 6) AS value
       |FROM spine s LEFT JOIN lww1m l
       |  ON l.metric = s.metric AND l.bucket_ts = s.bucket_ts
       |ORDER BY s.metric, s.bucket_ts""".stripMargin

  // ------------------------------------------------- streaming wsp ingest

  /** The F3 accept window restricted to STRICTLY before now: the open
    * interval (now−1d, now) spans exactly 1440 one-minute buckets — the
    * lww ring's capacity — so no two accepted buckets share a slot and
    * the relational oracle (which has no ring) sees every written point.
    * The `ts_s = now` bucket would be slot-equivalent to `now−1d`.
    */
  private val StreamMidS = NowS - 43200L

  /** The live tree produced by [[graft.streaming.StreamIngest.wspWriter]]
    * run as TWO sequential AvailableNow streaming queries over the point
    * stream, split at [[StreamMidS]] by raw timestamp. Time-ordered
    * batches make the cross-batch slot merge reproduce exactly what one
    * batch LWW over all points computes (a later batch's winner for a
    * bucket is the global winner, and buckets only in the earlier batch
    * survive the merge untouched) — so the batch U2 oracle applies to
    * the streamed tree verbatim.
    */
  private def ensureStreamIngested(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_stream") { base =>
      val tree = s"$base/tree"
      Seq(col("ts_s") < StreamMidS, col("ts_s") >= StreamMidS)
        .zipWithIndex.foreach { case (band, i) =>
          val pts = Buckets.pointsStream(
            graft.streaming.StreamQueries.narrowSession(s), dir)
            .filter(band && col("ts_s") < NowS)
          graft.streaming.StreamIngest.wspWriter(pts, tree, schema, NowS)
            .option("checkpointLocation", s"$base/ckpt$i")
            .start().awaitTermination()
        }
    }

  /** `wsp_stream_ingest`: the streaming write path under the DuckDB
    * oracle — points streamed through `readStream` → per-batch F3 gate →
    * U3 routing → U2 LWW align → live-tree slot merge, then the tree
    * scanned back relationally. The only query key whose Spark side runs
    * a Structured Streaming query (the three streaming specs pin
    * streaming ≡ batch in-JVM; this pins it against the external oracle).
    */
  def wspStreamIngest(s: SparkSession, dir: String): DataFrame = {
    val base = ensureStreamIngested(s, dir)
    s.read.format("wsp").load(s"$base/tree")
      .select(col("metric"), col("ts_s").as("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val wspStreamIngestSql: String =
    s"""WITH $pointsSql,
       |acc AS (SELECT * FROM pts
       |        WHERE ts_s > ${NowS - 86400L} AND ts_s < $NowS),
       |lww1m AS (${Ingest.lwwAlignSql(60, "acc")})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM lww1m
       |ORDER BY metric, bucket_ts""".stripMargin

  // ----------------------------------------- whisper toolchain: fill/resize

  /** The "partially populated tree" fixture the fill/diff tool keys
    * share: every 3rd bucket of the LWW window, values doubled (so the
    * winner of any overlap is visible). ONE definition each side — the
    * DataFrame and the CTE must stay in lockstep or the two keys would
    * silently test different fixtures.
    */
  private def sparseLevel(s: SparkSession, dir: String): DataFrame =
    Ingest.lwwAlign(Buckets.points(s, dir), 60)
      .filter(col("bucket_ts") >= FromB && col("bucket_ts") < NowS)
      .filter(expr("(bucket_ts div 60) % 3 = 0"))
      .withColumn("value", col("value") * 2)

  private val sparseCte: String =
    """sparse AS (SELECT metric, bucket_ts, value * 2 AS value
      |           FROM win WHERE (bucket_ts // 60) % 3 = 0)""".stripMargin

  /** The LWW window as a shared CTE pair: `win` = the full level,
    * `sparse` = the fixture above.
    */
  private def winCtes: String =
    s"""$pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |win AS (SELECT * FROM lww1m
       |        WHERE bucket_ts >= $FromB AND bucket_ts < $NowS)""".stripMargin

  /** `wsp_fill`: whisper-fill over trees — a sparse dst tree (every 3rd
    * bucket, values doubled so the winner is visible) back-filled from
    * the full src tree. Existing dst slots must win; gaps take src
    * points; metrics missing in dst entirely get whole files. The oracle
    * is the coalesce over the two relational levels.
    */
  private def ensureFilled(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_fill") { base =>
      val srcTree = ensureExported(s, dir)
      WspWrite.exportLevel(sparseLevel(s, dir), s"$base/tree", schema)
      WspTools.fill(s, srcTree, s"$base/tree", schema)
      ()
    }

  def wspFill(s: SparkSession, dir: String): DataFrame = {
    val base = ensureFilled(s, dir)
    s.read.format("wsp").load(s"$base/tree")
      .select(col("metric"), col("ts_s").as("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val wspFillSql: String =
    s"""WITH $winCtes,
       |$sparseCte
       |SELECT w.metric, w.bucket_ts,
       |       round(coalesce(sp.value, w.value), 6) AS value
       |FROM win w LEFT JOIN sparse sp
       |  ON sp.metric = w.metric AND sp.bucket_ts = w.bucket_ts
       |ORDER BY w.metric, w.bucket_ts""".stripMargin

  /** `wsp_diff`: whisper-diff over trees — the full tree vs an UNFILLED
    * sparse sibling (every 3rd bucket, doubled values), emitting every
    * slot the two sides disagree on: value_b NULL where sparse has no
    * slot, both values where they differ (a doubled 0.0 equals 0.0 and
    * is correctly NOT a diff — the comparison is on raw stored values,
    * rounding is output-only). Oracle = the same full-outer diff over
    * the relational levels.
    */
  private def ensureSparse(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_sparse") { base =>
      WspWrite.exportLevel(sparseLevel(s, dir), s"$base/tree", schema)
      ()
    }

  def wspDiff(s: SparkSession, dir: String): DataFrame = {
    val full = ensureExported(s, dir)
    val base = ensureSparse(s, dir)
    WspTools.diff(s, full, s"$base/tree")
      .select(col("metric"), col("ts_s").as("bucket_ts"),
        round(col("value_a"), 6).as("value_a"),
        round(col("value_b"), 6).as("value_b"))
      .orderBy("metric", "bucket_ts")
  }

  val wspDiffSql: String =
    s"""WITH $winCtes,
       |$sparseCte
       |SELECT w.metric, w.bucket_ts,
       |       round(w.value, 6) AS value_a, round(sp.value, 6) AS value_b
       |FROM win w FULL OUTER JOIN sparse sp
       |  ON sp.metric = w.metric AND sp.bucket_ts = w.bucket_ts
       |WHERE w.value IS NULL OR sp.value IS NULL OR w.value != sp.value
       |ORDER BY w.metric, w.bucket_ts""".stripMargin

  /** `wsp_resize`: whisper-resize --aggregate over a tree — the 1m:1d
    * fixture re-derived as a 5m:1d tree (Average, xff 0), scanned back.
    * One propagate hop from the best-available source archive per time
    * range (here the single 1m archive covers the whole window), exactly
    * the tool's re-aggregation (no avg-of-avg drift).
    */
  private val ResizeSchema = graft.model.WhisperSchema(
    Seq(graft.model.Retention(300, 288)),
    graft.model.AggregationMethod.Average, 0.0)

  private def ensureResized(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_resize") { base =>
      val srcTree = ensureExported(s, dir)
      WspTools.resize(s, srcTree, s"$base/tree", ResizeSchema, NowS)
      ()
    }

  def wspResize(s: SparkSession, dir: String): DataFrame = {
    val base = ensureResized(s, dir)
    s.read.format("wsp").load(s"$base/tree")
      .select(col("metric"), col("ts_s").as("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val wspResizeSql: String = {
    import graft.model.AggregationMethod.Average
    s"""WITH $winCtes,
       |r5m AS (${graft.ops.Rollup.propagateSql("win", 60, 300, Average, 0.0)})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM r5m
       |WHERE bucket_ts >= ${NowS - 86400L} AND bucket_ts < $NowS
       |ORDER BY metric, bucket_ts""".stripMargin
  }

  // ------------------------------------------------------ deep resize

  /** The new tree for the DEEP resize: 10m for 2 days + 1h for 30 days,
    * Sum/xff-0 like the multi fixture it resizes. Both horizons reach
    * past the source's finest (1m:1d) archive, so the result depends on
    * history that exists ONLY in the source's coarser archives — the
    * case the r6 single-archive derivation silently dropped.
    */
  private val DeepSchema = graft.model.WhisperSchema(
    Seq(graft.model.Retention(600, 288), graft.model.Retention(3600, 720)),
    graft.model.AggregationMethod.Sum, 0.0)

  private def ensureResizedDeep(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_resize_deep") { base =>
      val srcTree = ensureExportedMulti(s, dir)
      WspTools.resize(s, srcTree, s"$base/tree", DeepSchema, NowS)
      ()
    }

  /** `wsp_resize_deep`: whisper-resize across RETENTION TIERS — the
    * 3-level std cascade tree re-derived as (10m:2d, 1h:30d). Per-range
    * best-archive routing: the last day of each new level consolidates
    * from the 1m archive, days 1–7 from the 5m archive, and the 1h
    * level's days 7–30 copy from the 1h archive — whisper's fetch rule
    * applied per target bucket. The oracle rebuilds every band
    * relationally from the same cascade CTEs.
    */
  def wspResizeDeep(s: SparkSession, dir: String): DataFrame = {
    val base = ensureResizedDeep(s, dir)
    s.read.format("wsp").load(s"$base/tree")
      .select(col("metric"), col("archive"), col("ts_s").as("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "archive", "bucket_ts")
  }

  val wspResizeDeepSql: String = {
    import graft.model.AggregationMethod.Sum
    import graft.ops.Rollup
    // mirror of WspTools.resize's band filters: ts bounds + exact
    // target-bucket band condition (finest source archive whose live
    // window overlaps the bucket wins)
    def bandSql(srcCte: String, retJ: Long, prevRet: Long,
        sppL: Int, horizon: Long): String = {
      val tsLo = math.max(NowS - retJ, NowS - horizon)
      val tsHi = if (prevRet == 0) NowS else NowS - prevRet
      val b = s"((bucket_ts // $sppL) * $sppL)"
      val bandCond =
        if (prevRet == 0) s"$b < $NowS"
        else s"$b + $sppL <= ${NowS - prevRet}"
      s"SELECT metric, bucket_ts, value FROM $srcCte " +
        s"WHERE bucket_ts >= $tsLo AND bucket_ts < $tsHi " +
        s"AND $b >= ${NowS - horizon} AND $bandCond"
    }
    val rets = MultiSchema.retentions
    def treeCte(src: String, i: Int): String =
      s"SELECT metric, bucket_ts, value FROM $src " +
        s"WHERE bucket_ts >= ${NowS - rets(i).maxRetentionSeconds} " +
        s"AND bucket_ts < $NowS"
    def lvl(cte: String, archive: Int): String =
      s"""SELECT metric, CAST($archive AS INT) AS archive, bucket_ts,
         |       round(value, 6) AS value FROM $cte""".stripMargin
    s"""WITH $pointsSql,
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |r5m AS (${Rollup.propagateSql("lww1m", 60, 300, Sum, 0.0)}),
       |r5v AS (SELECT metric, bucket_ts, value FROM r5m),
       |r1h0 AS (${Rollup.propagateSql("r5v", 300, 3600, Sum, 0.0)}),
       |t0 AS (${treeCte("lww1m", 0)}),
       |t1 AS (${treeCte("r5v", 1)}),
       |t2 AS (${treeCte("r1h0", 2)}),
       |s00 AS (${bandSql("t0", 86400L, 0L, 600, 172800L)}),
       |p00 AS (${Rollup.propagateSql("s00", 60, 600, Sum, 0.0)}),
       |s01 AS (${bandSql("t1", 604800L, 86400L, 600, 172800L)}),
       |p01 AS (${Rollup.propagateSql("s01", 300, 600, Sum, 0.0)}),
       |s10 AS (${bandSql("t0", 86400L, 0L, 3600, 2592000L)}),
       |p10 AS (${Rollup.propagateSql("s10", 60, 3600, Sum, 0.0)}),
       |s11 AS (${bandSql("t1", 604800L, 86400L, 3600, 2592000L)}),
       |p11 AS (${Rollup.propagateSql("s11", 300, 3600, Sum, 0.0)}),
       |s12 AS (${bandSql("t2", 2592000L, 604800L, 3600, 2592000L)})
       |${lvl("p00", 0)} UNION ALL ${lvl("p01", 0)}
       |UNION ALL ${lvl("p10", 1)} UNION ALL ${lvl("p11", 1)}
       |UNION ALL ${lvl("s12", 1)}
       |ORDER BY metric, archive, bucket_ts""".stripMargin
  }

  // ------------------------------------ whisper-merge / cross-geometry fill

  /** `wsp_merge`: whisper-merge over trees — the sparse doubled-value
    * tree merged INTO a copy of the full tree. Opposite collision rule
    * to fill: src wins (update_many overwrite), so every 3rd bucket
    * carries the doubled value and the rest keep the full tree's — the
    * coalesce oracle with the roles swapped.
    */
  private def ensureMerged(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_merge") { base =>
      val sparseTree = ensureSparse(s, dir)
      // a PRIVATE dst copy — merge mutates its destination
      WspWrite.exportLevel(
        Ingest.lwwAlign(Buckets.points(s, dir), 60)
          .filter(col("bucket_ts") >= FromB && col("bucket_ts") < NowS),
        s"$base/tree", schema)
      WspTools.merge(s, s"$sparseTree/tree", s"$base/tree", schema)
      ()
    }

  def wspMerge(s: SparkSession, dir: String): DataFrame = {
    val base = ensureMerged(s, dir)
    s.read.format("wsp").load(s"$base/tree")
      .select(col("metric"), col("ts_s").as("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val wspMergeSql: String =
    s"""WITH $winCtes,
       |$sparseCte
       |SELECT w.metric, w.bucket_ts,
       |       round(coalesce(sp.value, w.value), 6) AS value
       |FROM win w LEFT JOIN sparse sp
       |  ON sp.metric = w.metric AND sp.bucket_ts = w.bucket_ts
       |ORDER BY w.metric, w.bucket_ts""".stripMargin

  /** `wsp_fill_resample`: whisper-fill ACROSS retention configs — a
    * sparse 5m tree (every 3rd bucket, doubled) back-filled from the
    * FULL 1m tree: the source is re-derived under the 5m destination
    * schema (the resize consolidation) and the slot-keyed gap rule
    * applies — existing 5m dst slots win, gaps take the consolidated
    * value. Oracle = coalesce(sparse 5m, propagate(1m→5m)).
    */
  private def ensureFillResampled(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_fillrs") { base =>
      val srcTree = ensureExported(s, dir)
      val r5m = graft.ops.Rollup.propagate(
          Ingest.lwwAlign(Buckets.points(s, dir), 60)
            .filter(col("bucket_ts") >= FromB && col("bucket_ts") < NowS),
          60, 300, graft.model.AggregationMethod.Average, 0.0)
        .select(col("metric"), col("bucket_ts"), col("value"))
      WspWrite.exportLevel(
        r5m.filter(expr("(bucket_ts div 300) % 3 = 0"))
          .withColumn("value", col("value") * 2),
        s"$base/tree", ResizeSchema)
      WspTools.fillResample(s, srcTree, s"$base/tree", ResizeSchema, NowS)
      ()
    }

  def wspFillResample(s: SparkSession, dir: String): DataFrame = {
    val base = ensureFillResampled(s, dir)
    s.read.format("wsp").load(s"$base/tree")
      .select(col("metric"), col("ts_s").as("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val wspFillResampleSql: String = {
    import graft.model.AggregationMethod.Average
    s"""WITH $winCtes,
       |r5m0 AS (${graft.ops.Rollup.propagateSql("win", 60, 300, Average, 0.0)}),
       |r5m AS (SELECT metric, bucket_ts, value FROM r5m0
       |        WHERE bucket_ts >= ${NowS - 86400L} AND bucket_ts < $NowS),
       |sparse5 AS (SELECT metric, bucket_ts, value * 2 AS value
       |            FROM r5m WHERE (bucket_ts // 300) % 3 = 0)
       |SELECT r.metric, r.bucket_ts,
       |       round(coalesce(sp.value, r.value), 6) AS value
       |FROM r5m r LEFT JOIN sparse5 sp
       |  ON sp.metric = r.metric AND sp.bucket_ts = r.bucket_ts
       |ORDER BY r.metric, r.bucket_ts""".stripMargin
  }

  // ----------------------- whisper-set-aggregation-method / xfilesfactor

  /** The patched xFilesFactor for [[wspSetAgg]] — distinct from the
    * fixture schema's 0.5 so a silently-dropped xff patch also reddens
    * the hash, not only the method flip.
    */
  private val SetAggXff = 0.25

  /** `wsp_set_agg`: the `whisper-set-aggregation-method` /
    * `whisper-set-xfilesfactor` contrib tools END-TO-END — a private
    * copy of the exported tree is binary-patched in place
    * ([[WspTools.rewriteHeaders]]: Last/0.5 → Max/0.25), the schema is
    * then RE-ADOPTED from the patched header bytes
    * ([[graft.WhisperTable.schemaFromWspFile]] — the exact "switch to
    * this library" motion an importing user runs), and the key serves
    * the 1m→5m consolidation UNDER THE ADOPTED method and xff. The
    * oracle consolidates with LITERAL max/0.25: if the 4-byte patch,
    * the header decode, or the schema adoption dropped either change,
    * the engine consolidates Last/0.5 and the hash reddens — the whole
    * patch→decode→adopt→serve chain is the thing under test.
    */
  private def ensureSetAgg(s: SparkSession, dir: String): String =
    Dedup.sharedIndexPath(s, dir, "events.parquet", "wsp_setagg") { base =>
      // a PRIVATE tree copy — rewriteHeaders patches in place
      writeLwwTree(s, dir, s"$base/tree")
      WspTools.rewriteHeaders(s, s"$base/tree",
        method = Some(graft.model.AggregationMethod.Max),
        xff = Some(SetAggXff))
      // STATE-based sanity check, not a patched-flag count: the rewrite
      // map is at-least-once (task retry/speculation re-runs report
      // patched=false for files the first attempt already published, by
      // design), so assert the POST state instead — retry-proof
      val got = graft.WhisperTable.schemaFromWspFile(
        s, graft.WhisperTable.firstWspFile(s, s"$base/tree"))
      require(got.method == graft.model.AggregationMethod.Max &&
        got.xFilesFactor == SetAggXff,
        s"wsp_set_agg fixture: header patch did not land (${got.method}/" +
          s"${got.xFilesFactor})")
    }

  def wspSetAgg(s: SparkSession, dir: String): DataFrame = {
    val base = ensureSetAgg(s, dir)
    // re-adopt the schema from the PATCHED binary header — not from the
    // constants this file wrote; the adoption IS the test
    val adopted = graft.WhisperTable.schemaFromWspFile(
      s, graft.WhisperTable.firstWspFile(s, s"$base/tree"))
    val pts = s.read.format("wsp").load(s"$base/tree")
      .select(col("metric"), col("ts_s").as("bucket_ts"), col("value"))
    graft.ops.Rollup.propagate(pts, 60, 300, adopted.method,
        adopted.xFilesFactor)
      .select(col("metric"), col("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val wspSetAggSql: String =
    s"""WITH $winCtes,
       |r5 AS (${graft.ops.Rollup.propagateSql(
                  "win", 60, 300, graft.model.AggregationMethod.Max, SetAggXff)})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM r5
       |ORDER BY metric, bucket_ts""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wsp_set_agg" -> (wspSetAgg _),
    "wsp_roundtrip" -> (wspRoundtrip _),
    "wsp_roundtrip_multi" -> (wspRoundtripMulti _),
    "wsp_fetch" -> (wspFetch _),
    "wsp_fetch_many" -> (wspFetchMany _),
    "wsp_render_target" -> (wspRenderTarget _),
    "wsp_stream_ingest" -> (wspStreamIngest _),
    "wsp_fill" -> (wspFill _),
    "wsp_diff" -> (wspDiff _),
    "wsp_resize" -> (wspResize _),
    "wsp_resize_deep" -> (wspResizeDeep _),
    "wsp_merge" -> (wspMerge _),
    "wsp_fill_resample" -> (wspFillResample _))

  val oracleSql: Map[String, String] = Map(
    "wsp_set_agg" -> wspSetAggSql,
    "wsp_roundtrip" -> wspRoundtripSql,
    "wsp_roundtrip_multi" -> wspRoundtripMultiSql,
    "wsp_fetch" -> wspFetchSql,
    "wsp_fetch_many" -> wspFetchManySql,
    "wsp_render_target" -> wspRenderTargetSql,
    "wsp_stream_ingest" -> wspStreamIngestSql,
    "wsp_fill" -> wspFillSql,
    "wsp_diff" -> wspDiffSql,
    "wsp_resize" -> wspResizeSql,
    "wsp_resize_deep" -> wspResizeDeepSql,
    "wsp_merge" -> wspMergeSql,
    "wsp_fill_resample" -> wspFillResampleSql)
}
