package graft

import graft.model.{AggregationMethod, Retention, WhisperSchema}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.mutable
import scala.util.Random

/** Model-based check of the full table LIFECYCLE: seeded-random schemas
  * (1–3 levels, all eight aggregation methods, xff ∈ {0, .25, .5, 1})
  * driven through randomized `updateMany` / `updateManyForArchive`
  * batches with advancing "now", then compared — via `fetch` /
  * `fetchMany` on every archive and every accepted/rejected split —
  * against an INDEPENDENT in-memory re-implementation of whisper's write
  * cycle (reference: whisper.go → `UpdateMany`/`propagate`/`Fetch`).
  * The model walks the semantics directly — per-point age routing, LWW
  * alignment per slot, propagated-over-direct-over-existing merge,
  * per-window xff-gated consolidation, ring expiry — with none of the
  * relational machinery (day partitions, semi-joins, partial
  * aggregation) the table uses, so a bug in either formulation surfaces
  * as a mismatch.
  *
  * Values are multiples of 0.25 with |v| ≤ 500, so raw double sums are
  * EXACT under any association, and propagated Average/AvgZero values
  * are grid-rounded at level emission in BOTH formulations (the r12
  * Rollup.propagate contract) — residual ulps between Spark's
  * partial-agg order and the model's fold are absorbed by a 1e-9
  * tolerance.
  */
class WhisperLifecycleModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Base = 1706659200L // 2024-01-31T00:00:00Z, the pinned NowS

  /** Independent re-implementation of the whisper write/fetch semantics
    * over plain maps: one (metric, bucket) → value map per archive.
    */
  private final class Model(schema: WhisperSchema) {
    val levels: Array[mutable.Map[(String, Long), Double]] =
      Array.fill(schema.retentions.length)(mutable.Map.empty)

    private def align(ts: Long, spp: Int): Long =
      Math.floorDiv(ts, spp.toLong) * spp

    private def agg(m: AggregationMethod, w: Seq[(Long, Double)], total: Long): Double = {
      val vs = w.map(_._2)
      m match {
        // Average/AvgZero round to the 6-decimal grid AT LEVEL EMISSION,
        // as Rollup.propagate does (r12): a propagated level is a stored
        // level, and stored values live on the engine's grid
        case AggregationMethod.Average =>
          math.floor(vs.sum / vs.size * 1e6 + 0.5) / 1e6
        case AggregationMethod.Sum     => vs.sum
        case AggregationMethod.Last    => w.maxBy(_._1)._2
        case AggregationMethod.Max     => vs.max
        case AggregationMethod.Min     => vs.min
        case AggregationMethod.AbsMax  =>
          w.sortBy { case (t, v) => (-math.abs(v), t, v) }.head._2
        case AggregationMethod.AbsMin  =>
          w.sortBy { case (t, v) => (math.abs(v), t, v) }.head._2
        case AggregationMethod.AvgZero =>
          math.floor(vs.sum / total * 1e6 + 0.5) / 1e6
      }
    }

    /** U3: 1-based finest archive covering the age; 0 = rejected. */
    private def route(tsS: Long, nowS: Long): Int = {
      val age = nowS - tsS
      if (age < 0) 0
      else schema.retentions.indexWhere(r => age < r.maxRetentionSeconds) + 1
    }

    def updateMany(pts: Seq[TimeSeriesPoint], nowS: Long): (Long, Long) =
      write(pts.map(p => (p, route(p.time, nowS))), nowS)

    def updateManyForArchive(
        pts: Seq[TimeSeriesPoint], spp: Int, nowS: Long): (Long, Long) = {
      val i = schema.retentions.indexWhere(_.secondsPerPoint == spp)
      val ret = schema.retentions(i).maxRetentionSeconds
      write(pts.map { p =>
        val age = nowS - p.time
        (p, if (age >= 0 && age < ret) i + 1 else 0)
      }, nowS)
    }

    /** One whisper write cycle: finest→coarsest, each level merging
      * direct LWW winners under propagated re-derivations over prior
      * content, expiring the ring, then consolidating the touched
      * windows for the next level behind the float32 xff gate.
      */
    private def write(routed: Seq[(TimeSeriesPoint, Int)], nowS: Long): (Long, Long) = {
      val accepted = routed.count(_._2 > 0).toLong
      var propagated: Map[(String, Long), Double] = Map.empty
      for ((r, i) <- schema.retentions.zipWithIndex) {
        val spp = r.secondsPerPoint
        val direct = routed.filter(_._2 == i + 1).map(_._1)
          .groupBy(p => (p.metric, align(p.time, spp)))
          .map { case (k, ps) => k -> ps.maxBy(p => (p.time, p.value)).value }
        val touched = direct.keySet ++ propagated.keySet
        val lvl = levels(i)
        // whisper order: finest written+propagated first, coarse DIRECT
        // points packed last — direct wins a contested coarse slot
        propagated.foreach { case (k, v) => lvl(k) = v }
        direct.foreach { case (k, v) => lvl(k) = v }
        lvl.filterInPlace { case ((_, b), _) => b >= nowS - r.maxRetentionSeconds }
        propagated = schema.retentions.lift(i + 1) match {
          case Some(next) =>
            val nspp = next.secondsPerPoint
            val total = (nspp / spp).toLong
            touched.map { case (m, b) => (m, align(b, nspp)) }
              .filter(_._2 >= nowS - r.maxRetentionSeconds)
              .flatMap { case (m, cb) =>
                val w = (0L until total).flatMap { j =>
                  val fb = cb + j * spp
                  lvl.get((m, fb)).map(v => (fb, v))
                }
                val gate = w.nonEmpty &&
                  (w.size.toDouble / total).toFloat >= schema.xFilesFactor.toFloat
                if (gate) Some((m, cb) -> agg(schema.method, w, total)) else None
              }.toMap
          case None => Map.empty
        }
      }
      (accepted, routed.size - accepted)
    }

    /** Q1: clamp, pick the finest covering archive, dense spine. */
    def fetch(metric: String, fromS: Long, untilS: Long, nowS: Long)
        : Seq[(Long, Option[Double])] = {
      val from = math.max(fromS, nowS - schema.maxRetentionSeconds)
      val until = math.min(untilS, nowS)
      val age = nowS - from
      val ai = schema.retentions.indexWhere(_.maxRetentionSeconds >= age) match {
        case -1 => schema.retentions.length - 1
        case k  => k
      }
      val spp = schema.retentions(ai).secondsPerPoint
      val fromI = Math.floorDiv(from, spp.toLong) * spp + spp
      val untilI = Math.floorDiv(until, spp.toLong) * spp + spp
      (fromI until untilI by spp.toLong).map(b => (b, levels(ai).get((metric, b))))
    }
  }

  private def randSchema(rnd: Random): WhisperSchema = {
    val nLevels = 1 + rnd.nextInt(3)
    val spp0 = Seq(5, 10, 60)(rnd.nextInt(3))
    var rets = Vector(Retention(spp0, 16 + rnd.nextInt(25)))
    for (_ <- 2 to nLevels) {
      val prev = rets.last
      val ratio = Seq(2, 3, 4, 6)(rnd.nextInt(4))
      val spp = prev.secondsPerPoint * ratio
      // span strictly increasing, and enough points to cover the next
      // level's consolidation window (validator rules 4 and 5)
      val points = (prev.maxRetentionSeconds / spp).toInt + 6 + rnd.nextInt(12)
      rets :+= Retention(spp, points)
    }
    val method = AggregationMethod.all(rnd.nextInt(AggregationMethod.all.size))
    val xff = Seq(0.0, 0.25, 0.5, 1.0)(rnd.nextInt(4))
    WhisperSchema(rets, method, xff)
  }

  private def randPoints(
      rnd: Random, schema: WhisperSchema, nowS: Long): Seq[TimeSeriesPoint] = {
    val maxRet = schema.maxRetentionSeconds
    (1 to 10 + rnd.nextInt(40)).map { _ =>
      val m = if (rnd.nextBoolean()) "m.a" else "m.b"
      // mostly in-retention; tails reach past the horizon (rejected) and
      // the future (rejected); a dedicated slice clusters around the
      // FINEST archive's horizon so coarse buckets straddling it receive
      // both direct writes (just-too-old side) and propagation
      // (still-fresh side) in one batch — the priority-merge case
      val finestRet = schema.retentions.head.maxRetentionSeconds
      val coarseSpp = schema.retentions.last.secondsPerPoint
      val ts = rnd.nextInt(12) match {
        case 0 => nowS + 1 + rnd.nextInt(1000)
        case 1 | 2 | 3 =>
          nowS - finestRet + coarseSpp - 1 - rnd.nextInt(2 * coarseSpp)
        case _ => nowS - (rnd.nextDouble() * maxRet * 1.15).toLong
      }
      val v = (rnd.nextInt(4001) - 2000) / 4.0
      TimeSeriesPoint(m, ts, v)
    }
  }

  private def checkFetch(
      table: WhisperTable, model: Model, metric: String,
      fromS: Long, untilS: Long, nowS: Long, ctx: String): Unit = {
    val got = table.fetch(metric, fromS, untilS, nowS).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSeq
    compareSeries(got, model.fetch(metric, fromS, untilS, nowS), ctx)
  }

  /** One comparison rule for every fetch path: identical spines, exact
    * gap agreement, value tolerance only for re-aggregated quotients.
    */
  private def compareSeries(
      got: Seq[(Long, Option[Double])], want: Seq[(Long, Option[Double])],
      ctx: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$ctx: spine mismatch")
    got.zip(want).foreach { case ((b, g), (_, w)) =>
      (g, w) match {
        case (Some(gv), Some(wv)) =>
          assert(math.abs(gv - wv) <= 1e-9 + math.abs(wv) * 1e-12,
            s"$ctx: bucket $b: $gv vs model $wv")
        case (a, bb) => assert(a == bb, s"$ctx: bucket $b: $a vs model $bb")
      }
    }
  }

  test("randomized lifecycle: table matches the in-memory whisper model") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val schema = randSchema(rnd)
      val dir = Files.createTempDirectory(s"graft_life_$seed").toFile
      dir.delete()
      val table = WhisperTable.create(spark, dir.getAbsolutePath, schema)
      val model = new Model(schema)
      var now = Base
      val ctx0 = s"seed=$seed schema=$schema"
      for (batch <- 1 to 3) {
        now += rnd.nextInt(schema.retentions.last.secondsPerPoint * 3).toLong
        val pts = randPoints(rnd, schema, now)
        val got = table.updateMany(pts.toDS(), now)
        val (acc, rej) = model.updateMany(pts, now)
        assert((got.accepted, got.rejected) == ((acc, rej)),
          s"$ctx0 batch=$batch: accept/reject split")
        // one spot fetch per batch over the freshest window
        val spp0 = schema.retentions.head.secondsPerPoint
        checkFetch(table, model, "m.a",
          now - spp0.toLong * (4 + rnd.nextInt(8)), now, now,
          s"$ctx0 batch=$batch fresh")
      }
      // caller-chosen-archive backfill (U4) on multi-level schemas
      if (schema.retentions.size >= 2) {
        val r1 = schema.retentions(1)
        val pts = (1 to 8 + rnd.nextInt(12)).map { _ =>
          val ts = now - (rnd.nextDouble() * r1.maxRetentionSeconds * 1.1).toLong
          TimeSeriesPoint("m.a", ts, (rnd.nextInt(4001) - 2000) / 4.0)
        }
        val got = table.updateManyForArchive(pts.toDS(), r1.secondsPerPoint, now)
        val (acc, rej) = model.updateManyForArchive(pts, r1.secondsPerPoint, now)
        assert((got.accepted, got.rejected) == ((acc, rej)), s"$ctx0 U4 split")
      }
      // full-horizon fetch per metric and archive-boundary windows
      for (m <- Seq("m.a", "m.b")) {
        checkFetch(table, model, m, now - schema.maxRetentionSeconds, now, now,
          s"$ctx0 full $m")
        schema.retentions.foreach { r =>
          checkFetch(table, model, m,
            now - r.maxRetentionSeconds + 1, now, now, s"$ctx0 $m@${r.secondsPerPoint}s")
        }
      }
      // fetchMany must agree with per-metric fetch spines
      val fm = table.fetchMany(Seq("m.a", "m.b"),
        now - schema.maxRetentionSeconds, now, now).collect()
      for (m <- Seq("m.a", "m.b")) {
        val rows = fm.filter(_.getString(0) == m)
          .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          .toSeq
        compareSeries(rows, model.fetch(m, now - schema.maxRetentionSeconds, now, now),
          s"$ctx0 fetchMany $m")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("super-day windows: day-partition bookkeeping matches the day-free model") {
    // 6h:7d cascading into 2d:24d — every consolidation window spans
    // THREE day partitions, so the write cycle's read-day widening
    // (reading the full source window beyond the touched days) and the
    // day-level vacuum both run; the model has no notion of days, which
    // is the point: any bookkeeping slip shows as a fetch mismatch
    import spark.implicits._
    val schema = WhisperSchema(
      Seq(Retention(21600, 28), Retention(172800, 12)),
      AggregationMethod.Average, 0.25)
    val dir = Files.createTempDirectory("graft_life_days").toFile
    dir.delete()
    val table = WhisperTable.create(spark, dir.getAbsolutePath, schema)
    val model = new Model(schema)
    val rnd = new Random(99)
    var now = Base
    for (batch <- 1 to 3) {
      now += rnd.nextInt(86400).toLong
      val pts = randPoints(rnd, schema, now)
      val got = table.updateMany(pts.toDS(), now)
      val (acc, rej) = model.updateMany(pts, now)
      assert((got.accepted, got.rejected) == ((acc, rej)), s"batch $batch split")
    }
    for (m <- Seq("m.a", "m.b")) {
      // full horizon (coarse archive, multi-day buckets) and the fresh
      // window (fine archive, 6h buckets)
      checkFetch(table, model, m, now - schema.maxRetentionSeconds, now, now,
        s"super-day full $m")
      checkFetch(table, model, m, now - 6 * 86400L, now, now, s"super-day 6d $m")
      checkFetch(table, model, m, now - 2 * 86400L, now, now, s"super-day 2d $m")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("a +05:30 session: 1h windows straddling local midnight match the model") {
    // under Asia/Kolkata local midnight is 18:30 UTC, so the 1h bucket
    // 18:00 UTC consolidates 5m buckets from two day partitions. Batch 1
    // writes only the local day before midnight, batch 2 only the day
    // after: re-deriving 18:00 must read the day batch 2 never writes
    import spark.implicits._
    val schema = graft.model.Retentions.std // 1m:1d, 5m:7d, 1h:30d
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try {
      val dir = Files.createTempDirectory("graft_life_kolkata").toFile
      dir.delete()
      val table = WhisperTable.create(spark, dir.getAbsolutePath, schema)
      val model = new Model(schema)
      val rnd = new Random(530)
      val midnight = Math.floorDiv(Base + 19800, 86400L) * 86400 - 19800
      def minutes(from: Long, n: Int): Seq[TimeSeriesPoint] =
        for (m <- Seq("m.a", "m.b"); k <- 0 until n) yield TimeSeriesPoint(
          m, from + 60L * k + rnd.nextInt(60), (rnd.nextInt(4001) - 2000) / 4.0)
      var now = Base
      for (batch <- 1 to 3) {
        now += rnd.nextInt(3600).toLong
        val pts = batch match {
          case 1 => minutes(midnight - 3600, 60)
          case 2 => minutes(midnight, 30)
          case _ => randPoints(rnd, schema, now) ++ minutes(midnight - 1800, 60)
        }
        val got = table.updateMany(pts.toDS(), now)
        val (acc, rej) = model.updateMany(pts, now)
        assert((got.accepted, got.rejected) == ((acc, rej)), s"batch $batch split")
        for (m <- Seq("m.a", "m.b")) {
          checkFetch(table, model, m, now - schema.maxRetentionSeconds, now, now,
            s"kolkata batch $batch full $m")
          schema.retentions.foreach { r =>
            checkFetch(table, model, m, now - r.maxRetentionSeconds + 1, now, now,
              s"kolkata batch $batch $m@${r.secondsPerPoint}s")
          }
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("strict update raises whisper's out-of-retention error") {
    val schema = WhisperSchema(Seq(Retention(10, 20)), AggregationMethod.Average, 0.5)
    val dir = Files.createTempDirectory("graft_life_strict").toFile
    dir.delete()
    val table = WhisperTable.create(spark, dir.getAbsolutePath, schema)
    val ex = intercept[IllegalArgumentException] {
      table.update("m.a", Base + 100, 1.0, Base) // future timestamp
    }
    assert(ex.getMessage.contains("not covered by any archives"))
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
