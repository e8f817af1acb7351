package graft.ops

import graft.model.AggregationMethod
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Seeded randomized properties over the Spark operators (SURVEY.md §5.2).
  * Deterministic seeds; few iterations (each case runs real Spark jobs).
  */
class SparkPropsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def randomPts(rng: Random, n: Int) = {
    import spark.implicits._
    (1 to n).map { _ =>
      // values live on the engine's 6-decimal grid — the documented
      // input domain (testdata carries ≤3 decimals; every computed edge
      // rounds through Buckets.round6). Rollup's consolidation sums are
      // exact fixed-point over that grid, so a full-mantissa generator
      // would test values the engine never stores and see the 1e-6
      // quantization, not a defect.
      (if (rng.nextBoolean()) "m" else "n",
        rng.between(0L, 100000L),
        math.floor(rng.between(-100.0, 100.0) * 1e6 + 0.5) / 1e6)
    }.toDF("metric", "ts_s", "value")
  }

  test("property: denseSeries length is always (untilI - fromI) / spp") {
    val rng = new Random(42)
    for (_ <- 1 to 5) {
      val spp = Seq(10, 60, 300)(rng.nextInt(3))
      val from = rng.between(0L, 50000L)
      val until = from + rng.between(0L, 20000L)
      val df = Fetch.denseSeries(randomPts(rng, 200), "m", from, until, spp)
      val fromI = Buckets.fetchInterval(from, spp)
      val untilI = Buckets.fetchInterval(until, spp)
      assert(df.count() == (untilI - fromI) / spp)
    }
  }

  test("property: lwwAlign is idempotent and never grows") {
    val rng = new Random(7)
    for (_ <- 1 to 3) {
      val pts = randomPts(rng, 500)
      val once = Ingest.lwwAlign(pts, 60)
      val twice = Ingest.lwwAlign(
        once.select(org.apache.spark.sql.functions.col("metric"),
          org.apache.spark.sql.functions.col("bucket_ts").as("ts_s"),
          org.apache.spark.sql.functions.col("value")), 60)
      val a = once.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val b = twice.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a == b)
      assert(once.count() <= pts.count())
    }
  }

  test("property: rollup sum over any level equals sum of the level below") {
    val rng = new Random(13)
    for (_ <- 1 to 3) {
      val lww = Ingest.lwwAlign(randomPts(rng, 400), 60)
      val up = Rollup.propagate(lww, 60, 600, AggregationMethod.Sum, 0.0)
      val sumBelow = lww.agg(org.apache.spark.sql.functions.sum("value"))
        .collect().head.getDouble(0)
      val sumAbove = up.agg(org.apache.spark.sql.functions.sum("value"))
        .collect().head.getDouble(0)
      assert(math.abs(sumBelow - sumAbove) < 1e-6)
    }
  }

  test("property: consolidation over off-grid inputs equals consolidation over their grid projection") {
    // fixedSum's contract for inputs OFF the 6-decimal grid, stated as a
    // property instead of left implicit: each addend is rounded to the
    // grid before summing, so propagate(Sum) over raw full-mantissa
    // doubles equals propagate(Sum) over the explicitly pre-quantized
    // frame EXACTLY — quantization is the documented semantics of the
    // consolidation domain, not silent drift. A caller with genuinely
    // full-mantissa addends (ln() scores, v·w products) must use
    // orderedSumBy, which this equality would NOT hold for.
    import spark.implicits._
    val rng = new Random(97)
    for (_ <- 1 to 3) {
      val raw = (1 to 300).map { _ =>
        (if (rng.nextBoolean()) "m" else "n",
          rng.between(0L, 50000L), rng.between(-100.0, 100.0))
      }.toDF("metric", "ts_s", "value")
      val lww = Ingest.lwwAlign(raw, 60)
      val quant = lww.withColumn("value",
        org.apache.spark.sql.functions.expr("round(value * 1e6) / 1e6"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        Rollup.propagate(df, 60, 600, AggregationMethod.Sum, 0.0)
          .orderBy("metric", "bucket_ts").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows(lww) == rows(quant))
    }
  }

  test("property: two-pass sessionize equals single-window sessionize") {
    import spark.implicits._
    val rng = new Random(31)
    for (_ <- 1 to 3) {
      // dense-ish timestamps over 3 days: sessions form, some cross
      // midnight, some gaps exceed the threshold; plus exact-tie rows
      val rows = (1 to 600).map { _ =>
        (if (rng.nextBoolean()) "m" else "n",
          rng.between(0L, 3L * 86400L), rng.between(-10.0, 10.0))
      }
      val pts = (rows ++ rows.take(20)).toDF("metric", "ts_s", "value")
      val plain = PipelineOps.sessionizeFrom(pts).collect().map(_.toString)
      val scal = PipelineOps.sessionizeScalableFrom(pts).collect().map(_.toString)
      assert(plain.sameElements(scal))
    }
  }

  test("property: xff gate is monotone — raising xff never adds rows") {
    val rng = new Random(99)
    val lww = Ingest.lwwAlign(randomPts(rng, 400), 60)
    val counts = Seq(0.0, 0.25, 0.5, 0.75, 1.0).map(x =>
      Rollup.propagate(lww, 60, 600, AggregationMethod.Average, x).count())
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("property: summarize conserves the fetched series' total sum") {
    // graphite summarize(sum) only re-buckets the fetched values — the
    // null-skipping totals must agree for ANY window/interval alignment
    import org.apache.spark.sql.functions.sum
    val rng = new Random(57)
    for (_ <- 1 to 3) {
      val pts = randomPts(rng, 300)
      val from = rng.between(0L, 30000L)
      val until = from + rng.between(600L, 40000L)
      val iv = Seq(300, 600, 1800)(rng.nextInt(3))
      def tot(df: org.apache.spark.sql.DataFrame, c: String): Double =
        Option(df.agg(sum(c)).collect().head.get(0)).fold(0.0)(_.asInstanceOf[Double])
      val coarse = RenderTarget.evaluate(spark, pts, s"summarize(*, '${iv}s', 'sum')",
        from, until, 60)
      val dense = RenderTarget.evaluate(spark, pts, "sumSeries(*)", from, until, 60)
      // tolerance: each output bucket's round(…, 6) contributes ≤5e-7
      assert(math.abs(tot(coarse, "value") - tot(dense, "value")) < 1e-3)
    }
  }

  test("property: consolidate row count is metrics × ceil(n/factor), totals conserved for avg-free sums") {
    val rng = new Random(73)
    for (_ <- 1 to 3) {
      val pts = randomPts(rng, 250)
      val from = rng.between(0L, 30000L)
      val until = from + rng.between(600L, 30000L)
      val budget = Seq(7, 50, 1000)(rng.nextInt(3))
      val fromI = Buckets.fetchInterval(from, 60)
      val untilI = Buckets.fetchInterval(until, 60)
      val n = ((untilI - fromI) / 60).toInt
      val factor = math.max(1, (n + budget - 1) / budget)
      val groups = (n + factor - 1) / factor
      val df = RenderTarget.evaluate(spark, pts, "*", from, until, 60, budget)
      val mets = df.select("metric").distinct().count()
      assert(df.count() == mets * groups)
      // every output bucket lands on the origin-aligned step' grid
      val offGrid = df.filter(
        org.apache.spark.sql.functions.expr(s"(bucket_ts - $fromI) % ${60L * factor} != 0"))
      assert(offGrid.count() == 0)
    }
  }
}
