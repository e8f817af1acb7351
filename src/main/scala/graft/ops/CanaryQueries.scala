package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FROZEN bench-canary queries — DO NOT EDIT (r15 verdict #1/#3).
  *
  * The bench tripwire normalizes per-key regressions by the ambient
  * ratio of a small set of plan-frozen keys. Through r15 those five
  * keys spanned the parquet-scan, wsp-decode, hash-agg and join shapes
  * — but NOT the two shapes that actually regressed at the r15 driver:
  * the render-evaluator path (driver-side recursion over a parsed
  * target tree, big Catalyst plans, modest execution) and the carbon
  * text path (regex parse chain + LWW aggregate). The r15 driver run
  * showed eight `render_target_*` keys at 2–12x their r14 medians while
  * the canary read ambient 1.05 and the SAME tree reproduced r14
  * medians on the builder rig (SWEEP_r16.md) — the gate was blind to
  * exactly the shapes under dispute.
  *
  * These two keys close that blind spot. They are deliberately
  * semantically trivial so no future correctness fix ever needs to
  * touch them:
  *
  *  - `render_target_canary`: the 2-leaf target
  *    `divideSeries(sumSeries(g), sumSeries(g))` — parse, two leaf
  *    evaluations off the shared ranged scan, dense spines, the
  *    broadcast one-series divisor join. Numerator ≡ denominator, so
  *    the VALUE is 1.0 wherever the sum is known and non-zero — any
  *    semantic drift in the evaluator still trips the oracle, but no
  *    dashboard-semantics bug can ever require editing this target.
  *  - `carbon_canary`: the staged carbon line tree re-parsed and
  *    LWW-aligned to the 5-minute level — same text-parse + LWW-agg
  *    shape as `carbon_ingest` (it reads the SAME shared staged lines,
  *    so it adds no staging cost), but a different level so the two
  *    keys stay distinguishable in the bench output.
  *  - `multimodal_codec_canary` (r17, r16 verdict "missing" #2): the
  *    mapPartitions-JVM-codec shape — constant-pixel BMPs through the
  *    REAL javax.imageio decode with closed-form channel sums.
  *
  * All are registered oracle keys like any other, and all appear in
  * [[graft.Bench]]'s CanaryKeys, so from r16 on the driver's per-round
  * canary line carries a measured ambient factor for the render and
  * carbon shapes alongside the scan/agg/join ones.
  */
object CanaryQueries {

  /** Frozen 2-leaf render target (see object scaladoc). */
  val TargetExprCanary: String = {
    val g = Fetch.GlobPattern
    s"divideSeries(sumSeries($g), sumSeries($g))"
  }

  def renderTargetCanary(spark: SparkSession, sfDir: String): DataFrame = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    RenderTarget.evaluate(spark,
      Buckets.pointsInRange(spark, sfDir, fromI, untilI),
      TargetExprCanary, Buckets.FromS, Buckets.UntilS, 60)
  }

  /** Oracle: the dense leaf eval once (numerator = denominator), then
    * divideSeries' guard — value wherever the sum is known and
    * non-zero, NULL otherwise. Mirrors `renderTargetRatioSql`'s chain
    * with `count(*)` replaced by the same sum.
    */
  val renderTargetCanarySql: String = {
    val (fromI, untilI) = Fetch.fetchWindow(Buckets.FromS, Buckets.UntilS, 60)
    val rx = Fetch.globToRegex(Fetch.GlobPattern)
    s"""WITH ${Buckets.pointsSql},
       |mets AS (
       |  SELECT DISTINCT metric FROM pts
       |  WHERE ts_s >= $fromI AND ts_s < $untilI
       |    AND regexp_matches(metric, '$rx')),
       |agg AS (
       |  SELECT metric, (ts_s // 60) * 60 AS bucket_ts,
       |         ${Rollup.mean6Sql()} AS v
       |  FROM pts
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
       |summed AS (
       |  SELECT bucket_ts, round(sum(v), 6) AS sv FROM dense GROUP BY 1)
       |SELECT 'sumSeries' AS metric, bucket_ts,
       |       CASE WHEN sv IS NOT NULL AND sv <> 0
       |            THEN round(sv / sv, 6) END AS value
       |FROM summed
       |ORDER BY bucket_ts""".stripMargin
  }

  /** Frozen carbon-shaped canary: re-parse the shared staged line tree
    * and LWW-align to the 5m level (see object scaladoc).
    */
  def carbonCanary(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.sources.Carbon.parse(
      s.read.text(s"${CoreQueries.carbonLinesPath(s, dir)}/lines"),
      Buckets.NowS)
    Ingest.lwwAlign(parsed, 300)
      .select(col("metric"), col("bucket_ts"),
        round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
  }

  val carbonCanarySql: String =
    s"""WITH ${Buckets.pointsSql},
       |lww5m AS (${Ingest.lwwAlignSql(300)})
       |SELECT metric, bucket_ts, round(value, 6) AS value FROM lww5m
       |ORDER BY metric, bucket_ts""".stripMargin

  /** Frozen codec-shaped canary (r16 verdict "missing" #2): the
    * mapPartitions-JVM-codec shape — id fan-out repartition, per-row
    * BMP synthesis, a REAL javax.imageio decode, a per-pixel integer
    * fold — was the ONE suite shape with no ambient instrument, and
    * exactly the shape whose full-suite elevation r16 could not
    * adjudicate. Semantically trivial by construction: every pixel of
    * the fixed 48x32 BMP is the SAME per-doc constant, so the decoded
    * channel sums are closed-form (1536 * channel) and no future
    * codec-semantics fix can ever need to edit this key. The decode
    * path (bmp24 synthesis, ImageIO read) is the SAME production code
    * `multimodal_decode_real` runs — the point is measuring that
    * shape's ambient, like `render_target_canary` reuses the real
    * render evaluator.
    */
  def multimodalCodecCanary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism).as[Long]
    ids.mapPartitions { it =>
      it.flatMap { id =>
        val bytes = Multimodal.bmp24(48, 32, (_, _) =>
          ((id % 256).toInt, ((id * 3) % 256).toInt, ((id * 7) % 256).toInt))
        Multimodal.decodeImage(bytes).map { im =>
          val (rs, gs, bs) = Multimodal.channelSums(im)
          (id, im.getWidth.toLong, im.getHeight.toLong, rs, gs, bs)
        }
      }
    }.toDF("doc_id", "width", "height", "r_sum", "g_sum", "b_sum")
      .orderBy("doc_id")
  }

  /** Oracle: constant geometry, channel sums in closed form — 48x32 =
    * 1536 identical pixels per channel.
    */
  val multimodalCodecCanarySql: String =
    """SELECT doc_id,
      |       CAST(48 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
      |       CAST(1536 * (doc_id % 256) AS BIGINT) AS r_sum,
      |       CAST(1536 * ((doc_id * 3) % 256) AS BIGINT) AS g_sum,
      |       CAST(1536 * ((doc_id * 7) % 256) AS BIGINT) AS b_sum
      |FROM documents
      |ORDER BY doc_id""".stripMargin
}
