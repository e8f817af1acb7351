package graft.ops

import graft.model.{AggregationMethod, Retentions, WhisperSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DDL-side surface: `Create` and header introspection (SURVEY.md §2.1
  * S2/S4), plus the materialized-rollup fetch path those enable.
  */
object Materialize {

  /** The cascade as data: derive the rollup level at resolution `spp`
    * from raw points by folding [[Rollup.propagate]] up the archive list
    * (finest level = U2 LWW alignment; each coarser level derives from
    * the previous). xff = 0 and Average here — the gated variants are the
    * `agg_avg_xff` / `rollup_cascade_*` query keys.
    */
  def levelFor(pts: DataFrame, schema: WhisperSchema, spp: Int): DataFrame = {
    val chain = schema.retentions.map(_.secondsPerPoint).takeWhile(_ <= spp)
    require(chain.nonEmpty && chain.last == spp, s"no archive at ${spp}s")
    val finest = Ingest.lwwAlign(pts, chain.head)
    chain.zip(chain.tail).foldLeft(finest) { case (lvl, (higher, lower)) =>
      Rollup.propagate(lvl, higher, lower, AggregationMethod.Average, 0.0)
        .select(col("metric"), col("bucket_ts"), col("value"))
    }
  }

  /** S4 `catalog_info`: the parsed-header introspection surface (`Size`,
    * `MaxRetention`, `AggregationMethod`, `Retentions`, ...) as one
    * catalog row per archive. Pure config — the oracle is a VALUES
    * literal generated from the same [[WhisperSchema]] object.
    */
  def catalogInfo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    catalogRows(Retentions.std)
      .toDF("archive_idx", "spp", "points", "retention_s", "method", "xff")
      .orderBy("archive_idx")
  }

  private def catalogRows(schema: WhisperSchema) =
    schema.retentions.zipWithIndex.map { case (r, i) =>
      (i + 1, r.secondsPerPoint, r.numberOfPoints, r.maxRetentionSeconds,
        schema.method.name, schema.xFilesFactor)
    }

  val catalogInfoSql: String = {
    val rows = catalogRows(Retentions.std).map { case (i, spp, pts, ret, m, xff) =>
      s"($i, $spp, $pts, CAST($ret AS BIGINT), '$m', $xff)"
    }.mkString(", ")
    s"""SELECT * FROM (VALUES $rows)
       |AS t(archive_idx, spp, points, retention_s, method, xff)
       |ORDER BY archive_idx""".stripMargin
  }

  /** S2 `create_rollup_tables`: materialize every archive level of the
    * std schema as Parquet partitioned by `date(bucket_ts)` — the
    * physical layout the 100 TB design calls for (directory pruning on
    * the fetch path; idempotent per-partition re-derivation). Returns a
    * per-level summary; registered rows-only (the write is the point).
    *
    * One materialization per (JVM-lifetime, sfDir): the summary rows are
    * remembered (plain values, never a cached plan — caches may be
    * dropped between bench queries) so a second caller (e.g.
    * [[rollupServe1h]] after `create_rollup_tables`, in either order)
    * reuses the already-written levels instead of re-deriving the
    * cascade.
    */
  private val materialized =
    new scala.collection.concurrent.TrieMap[String, Seq[(String, Int, Long, Long)]]

  /** The materialization root for a data dir — derived from a digest of
    * the dir path plus the input's (mtime, length)
    * ([[Dedup.freshDigest]]), so two dirs materialized in one JVM never
    * overwrite each other's levels (and the rewrite, which never serves
    * one chain from another, never serves one dir's queries from the
    * other's files), and re-generating the data under an
    * already-materialized path yields a NEW root instead of serving
    * stale levels.
    */
  def rollupBase(s: SparkSession, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_rollups_" +
      s"${Dedup.freshDigest(s, dir, "events.parquet")}_p${Dedup.jvmTag}"

  def createRollupTables(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = rollupBase(s, dir)
    materialized.getOrElseUpdate(base, {
      // same lifecycle as the dedup-family shared indexes: swept at JVM
      // exit, and creating under a fresh key prunes superseded/dead-pid
      // siblings of the graft_rollups family
      Dedup.registerTmpRoot(base)
      materializeLevels(s, dir, base, AggregationMethod.Average, 0.0)
    }).toDF("level", "spp", "rows", "day_partitions").orderBy("spp")
  }

  /** The std schema's levels under `base`, finest first. */
  private def levels(base: String, method: AggregationMethod, xff: Double) =
    graft.plans.RollupCatalog.chain(base, method, xff,
      Retentions.std.retentions.map(_.secondsPerPoint))

  /** The materialization engine behind [[createRollupTables]],
    * parametrized by chain root / method / xff so alternative chains
    * (e.g. a Max chain for the decomposable-rewrite path) share the one
    * implementation. Each level's `value` column carries the level's
    * facts ([[graft.plans.RollupCatalog.metadata]]), which is what lets
    * [[graft.plans.RollupRewrite]] serve from it.
    */
  def materializeLevels(
      s: SparkSession,
      dir: String,
      base: String,
      method: AggregationMethod,
      xff: Double): Seq[(String, Int, Long, Long)] = {
    import s.implicits._
    val pts = Buckets.points(s, dir)
    val chain = levels(base, method, xff)
    var prev: Option[DataFrame] = None
    chain.map { level =>
      val spp = level.spp
      // single-pass cascade: level N derives from level N-1's written
      // output, not by re-folding from raw (the round-1 form was O(L²)
      // passes over the fact table)
      val lvl = prev match {
        case None => Ingest.lwwAlign(pts, spp)
        case Some(p) =>
          Rollup.propagate(p, level.parentSpp, spp, method, xff)
            .select(col("metric"), col("bucket_ts"), col("value"))
      }
      // ONE materializing pass per level: the partitioned write itself.
      // The summary aggregation and the next level's derivation both
      // read the written parquet back (columnar, pruned — cheaper than
      // a second in-memory materialization barrier).
      // Repartition by day first: otherwise each of the shuffle
      // partitions sprays a file into every day directory (32×30 ≈ 960
      // tiny files).
      lvl.withColumn("value",
          col("value").as("value", graft.plans.RollupCatalog.metadata(chain, level)))
        .withColumn("day", to_date(timestamp_seconds(col("bucket_ts"))))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(level.path)
      // read back WITHOUT the facts: the next level's derivation is the
      // very aggregate the rewrite would serve from that next level's
      // path, which this loop has not written yet
      val written = s.read.schema(graft.plans.RollupCatalog.levelSchema())
        .parquet(level.path)
      val (rows, days) = written
        .agg(count(lit(1)), countDistinct(col("day"))).as[(Long, Long)].head()
      prev = Some(written.select(col("metric"), col("bucket_ts"), col("value")))
      (s"points_${spp}s", spp, rows, days)
    }
  }

  /** `rollup_serve_1h`: the materialized-rollup rewrite end-to-end — a
    * plain DataFrame aggregation of the 5m level to 1h resolution, with
    * [[graft.plans.RollupRewrite]] enabled so Catalyst serves it from the
    * pre-materialized 1h table instead (PlanSpec asserts the plan; this
    * key asserts the values against the full cascade oracle). Exactness
    * is by construction: the 1h table IS avg-of-5m with xff = 0.
    */
  def rollupServe1h(s: SparkSession, dir: String): DataFrame = {
    createRollupTables(s, dir) // idempotent
    graft.plans.RollupRewrite.setup(s)
    serve1hQuery(s, rollupBase(s, dir))
  }

  /** The serving aggregation itself — the PINNED mean
    * (round6(fixedSum/count)), not native avg: if the rewrite ever
    * fails to fire (metadata dropped, matcher drift), the fallback
    * aggregation must still hash-match the DuckDB oracle — native
    * double avg diverges at round6 midpoints (the r10 class).
    * [[graft.plans.RollupRewrite]] recognizes this exact shape
    * (fixedMeanPair) and serves it from the 1h level; the surviving
    * round6 wrapper is idempotent over the stored values. Exposed so
    * the spec can pin rewritten ≡ fallback on the SAME query.
    */
  private[graft] def serve1hQuery(s: SparkSession, base: String): DataFrame = {
    val chain = levels(base, AggregationMethod.Average, 0.0)
    graft.plans.RollupCatalog.read(s, chain, chain.find(_.spp == 300).get)
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(Rollup.mean6(col("value")).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val rollupServe1hSql: String =
    s"""WITH ${Buckets.pointsSql},
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |r5m AS (SELECT metric, bucket_ts, value FROM (
       |  ${Rollup.propagateSql("lww1m", 60, 300, AggregationMethod.Average, 0.0)})),
       |r1h AS (SELECT metric, bucket_ts, value FROM (
       |  ${Rollup.propagateSql("r5m", 300, 3600, AggregationMethod.Average, 0.0)}))
       |SELECT metric, bucket_ts, ${Buckets.round6Sql("value")} AS value FROM r1h
       |ORDER BY metric, bucket_ts""".stripMargin

  /** Q1 end-to-end: `fetch_archive_selection` — a fetch whose range age
    * (9 days) exceeds the 1m and 5m archive retentions, so
    * [[Fetch.selectArchive]] routes it to the 1h level; the dense series
    * is served from the cascade-derived level at that resolution. This is
    * the materialized-view-routing behavior whisper hard-codes in its
    * archive loop (SURVEY.md §4.1).
    */
  val FetchOldFromS: Long = Buckets.NowS - 9L * 86400
  val FetchOldUntilS: Long = Buckets.NowS - 8L * 86400

  def fetchArchiveSelection(s: SparkSession, dir: String): DataFrame = {
    val archive = Fetch.selectArchive(Retentions.std, Buckets.NowS, FetchOldFromS)
    val spp = archive.secondsPerPoint // = 3600 for a 9-day-old `from`
    val (fromI, untilI) = Fetch.fetchWindow(FetchOldFromS, FetchOldUntilS, spp)
    val level = levelFor(Buckets.points(s, dir), Retentions.std, spp)
      .select(col("metric"), col("bucket_ts"), round(col("value"), 6).as("value"))
    Buckets.densifyNamed(level, Seq("click"), fromI, untilI, spp)
      .select(col("bucket_ts"), col("value"))
      .orderBy("bucket_ts")
  }

  val fetchArchiveSelectionSql: String = {
    val spp = 3600
    val (fromI, untilI) = Fetch.fetchWindow(FetchOldFromS, FetchOldUntilS, spp)
    s"""WITH ${Buckets.pointsSql},
       |lww1m AS (${Ingest.lwwAlignSql(60)}),
       |r5m AS (SELECT metric, bucket_ts, value FROM (
       |  ${Rollup.propagateSql("lww1m", 60, 300, AggregationMethod.Average, 0.0)})),
       |r1h AS (SELECT metric, bucket_ts, value FROM (
       |  ${Rollup.propagateSql("r5m", 300, 3600, AggregationMethod.Average, 0.0)})),
       |agg AS (
       |  SELECT bucket_ts, round(value, 6) AS value FROM r1h
       |  WHERE metric = 'click' AND bucket_ts >= $fromI AND bucket_ts < $untilI),
       |spine AS (SELECT CAST(range AS BIGINT) AS bucket_ts FROM range($fromI, $untilI, $spp))
       |SELECT s.bucket_ts, a.value
       |FROM spine s LEFT JOIN agg a USING (bucket_ts)
       |ORDER BY s.bucket_ts""".stripMargin
  }
}
