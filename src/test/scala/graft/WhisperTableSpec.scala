package graft

import graft.model.Retentions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Golden round-trip tests in the reference's own style (SURVEY.md §5.1:
  * Create → Update/UpdateMany → Fetch on temp storage, asserting exact
  * series values, xFF behavior, propagation, and out-of-retention drops).
  */
class WhisperTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val now = 1706659200L // pinned, aligned to every fixture step

  private def tmp(): String =
    Files.createTempDirectory("whisper_table").resolve("t").toString

  private def series(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Double])] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))

  test("create fails on an existing path; open fails on a missing one") {
    val p = tmp()
    WhisperTable.create(spark, p, Retentions.lww)
    assertThrows[IllegalStateException](WhisperTable.create(spark, p, Retentions.lww))
    assertThrows[IllegalStateException](WhisperTable.open(spark, p + "_nope", Retentions.lww))
    val reopened = WhisperTable.open(spark, p, Retentions.lww)
    assert(reopened.maxRetention == 86400L)
  }

  test("fully-expired and fully-future ranges fetch EMPTY, never a bucket") {
    // r15 review: after the F1 clamp a fully-expired (or all-future)
    // request has until < from; when both align to the SAME interval the
    // single-bucket bump used to fire and return a bucket OUTSIDE the
    // requested range — go-whisper returns nil there
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    import spark.implicits._
    t.updateMany(Seq(TimeSeriesPoint("m", now - 60, 1.0)).toDS(), now)
    val horizon = now - t.maxRetention
    // entirely before the retention horizon, inside one coarse bucket
    assert(t.fetch("m", horizon - 3000, horizon - 2900, now).count() == 0)
    assert(t.fetchMany(Seq("m"), horizon - 3000, horizon - 2900, now).count() == 0)
    assert(t.fetchGlob("m", horizon - 3000, horizon - 2900, now).count() == 0)
    // entirely in the future
    assert(t.fetch("m", now + 100, now + 200, now).count() == 0)
    // checkEmpty agrees: an empty window holds no live points
    assert(t.checkEmpty("m", horizon - 3000, horizon - 2900, now))
    // the legitimate single-bucket bump still works inside retention
    assert(t.fetch("m", now - 65, now - 61, now).count() == 1)
  }

  test("open refuses a session timezone different from the writer's") {
    // the day-partition layout is derived in the writer's session zone;
    // a different zone would mis-prune fetches and vacuum live days —
    // the header now records the zone and open() validates it
    val p = tmp()
    WhisperTable.create(spark, p, Retentions.std)
    assert(WhisperTable.open(spark, p).maxRetention ==
      Retentions.std.maxRetentionSeconds) // same zone: fine
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    try {
      val e = intercept[IllegalStateException](WhisperTable.open(spark, p))
      assert(e.getMessage.contains("timezone"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // normalization: an equivalent spelling of the same zone passes
    spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    try assert(WhisperTable.open(spark, p).maxRetention ==
      Retentions.std.maxRetentionSeconds)
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("round trip: updateMany then fetch returns the exact dense series") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    val pts = (0 until 10).map(i =>
      TimeSeriesPoint("m", now - 3600 + 60 * i + 5, i.toDouble))
    t.updateMany(pts.toDS(), now)
    val got = series(t.fetch("m", now - 3600, now - 3000, now))
    // fromInterval = now-3600+60; 10 buckets; slot i holds value i
    assert(got.map(_._1) == (1 to 10).map(i => now - 3600 + 60L * i))
    assert(got.take(9).map(_._2) == (1 to 9).map(i => Some(i.toDouble)))
    assert(got.last._2.isEmpty) // bucket at now-3000 never written
  }

  test("checkEmpty: existence probe agrees with fetch, never materializes the series") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    val pts = (0 until 10).map(i =>
      TimeSeriesPoint("m", now - 3600 + 60 * i + 5, i.toDouble))
    t.updateMany(pts.toDS(), now)
    assert(!t.checkEmpty("m", now - 3600, now - 3000, now))
    // written window, wrong metric → empty
    assert(t.checkEmpty("zzz", now - 3600, now - 3000, now))
    // a window after the last write → empty
    assert(t.checkEmpty("m", now - 2000, now - 1000, now))
  }

  test("fetch accepts graphite from/until time strings") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    val pts = (0 until 10).map(i =>
      TimeSeriesPoint("m", now - 3600 + 60 * i + 5, i.toDouble))
    t.updateMany(pts.toDS(), now)
    // '-1h'..'-50min' resolves to exactly [now-3600, now-3000]
    val str = series(t.fetch("m", "-1h", "now-50min", now))
    val abs = series(t.fetch("m", now - 3600, now - 3000, now))
    assert(str == abs)
  }

  test("fetchGlob serves every metric matching the graphite pattern, dots uncrossed") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.lww)
    val metrics = Seq("servers.a.cpu", "servers.b.cpu", "servers.a.mem",
      "servers.a.sub.cpu", "hosts.a.cpu")
    val pts = metrics.zipWithIndex.map { case (m, i) =>
      TimeSeriesPoint(m, now - 120, 10.0 + i)
    }
    t.updateMany(pts.toDS(), now)
    def names(pattern: String): Seq[String] =
      t.fetchGlob(pattern, now - 300, now, now).collect()
        .map(_.getString(0)).distinct.sorted.toSeq
    // * matches one hierarchy level only — never crosses a dot
    assert(names("servers.*.cpu") == Seq("servers.a.cpu", "servers.b.cpu"))
    assert(names("servers.*") == Seq.empty) // all fixtures are 3+ levels
    assert(names("*.a.{cpu,mem}") ==
      Seq("hosts.a.cpu", "servers.a.cpu", "servers.a.mem"))
    assert(names("servers.?.cpu") == Seq("servers.a.cpu", "servers.b.cpu"))
    // values ride along: the matched series carry their written points
    val rows = t.fetchGlob("servers.a.*", now - 300, now, now).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val got = rows.collect { case (m, _, Some(v)) => (m, v) }
    assert(got.toSet == Set(("servers.a.cpu", 10.0), ("servers.a.mem", 12.0)))
    // each member holds one point of the range, served dense with NULL
    // gaps over all 5 buckets, ordered by (metric, bucket_ts)
    val buckets = (-4 to 0).map(now + 60L * _)
    assert(rows == Seq(("servers.a.cpu", 10.0), ("servers.a.mem", 12.0)).flatMap {
      case (m, v) => buckets.map(b => (m, b, Some(v).filter(_ => b == now - 120)))
    })
    // a glob matching no metric, and one whose metrics hold no data in
    // the range, return no rows
    assert(t.fetchGlob("nothing.*", now - 300, now, now).count() == 0)
    assert(t.fetchGlob("servers.a.*", now - 3600, now - 600, now).count() == 0)
  }

  test("last write wins within and across updateMany batches") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.lww)
    val slot = now - 120 // 1m bucket
    t.updateMany(Seq(
      TimeSeriesPoint("m", slot + 10, 1.0),
      TimeSeriesPoint("m", slot + 40, 2.0)).toDS(), now) // 40 wins in-batch
    t.updateMany(Seq(TimeSeriesPoint("m", slot + 20, 9.0)).toDS(), now)
    // cross-batch: the stored winner keeps its aligned ts (= slot), so a
    // later raw ts in a new batch overwrites it — whisper slot overwrite
    val got = series(t.fetch("m", slot - 60, slot, now))
    assert(got.contains((slot, Some(9.0))))
  }

  test("propagation: coarser archives serve consolidated values") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    val base = now - 3600
    val pts = (0 until 10).map(i =>
      TimeSeriesPoint("m", base + 60 * i, i.toDouble))
    t.updateMany(pts.toDS(), now)
    // a fetch whose `from` is 2 days old routes to the 5m archive (age >
    // 1d retention of the 1m archive); Average of the five 1m slots
    val got = series(t.fetch("m", now - 2 * 86400, now, now)).toMap
    assert(got(base) == Some(2.0))       // avg(0,1,2,3,4) in window [base, base+300)
    assert(got(base + 300) == Some(7.0)) // avg(5..9)
  }

  test("xFilesFactor gate: 9/10 slots passes at xff=0.9, 8/10 does not") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.gate) // 1m:1h,10m:6h Max .9
    val winA = now - 1200 // 10m-aligned window, fully in the past hour
    val winB = now - 2400
    val pts =
      (0 until 9).map(i => TimeSeriesPoint("m", winA + 60 * i, 10.0 + i)) ++
        (0 until 8).map(i => TimeSeriesPoint("m", winB + 60 * i, 50.0 + i))
    t.updateMany(pts.toDS(), now)
    // age > 1h → the 10m archive answers
    val got = series(t.fetch("m", now - 7200, now, now)).toMap
    assert(got(winA) == Some(18.0)) // Max of 10..18, gate 0.9 >= 0.9
    assert(got(winB).isEmpty)       // gate 0.8 < 0.9 → never written
  }

  test("out-of-retention and future points are dropped (F3)") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.lww) // 1d retention
    t.updateMany(Seq(
      TimeSeriesPoint("m", now - 2 * 86400, 1.0), // too old
      TimeSeriesPoint("m", now + 60, 2.0),        // future
      TimeSeriesPoint("m", now - 120, 3.0)).toDS(), now)
    val got = series(t.fetch("m", now - 600, now, now))
    assert(got.flatMap(_._2) == Seq(3.0))
  }

  test("Sum consolidation cascades through all three archive levels") {
    import spark.implicits._
    val schema = graft.model.WhisperSchema(
      Retentions.std.retentions, graft.model.AggregationMethod.Sum, 0.0)
    val t = WhisperTable.create(spark, tmp(), schema)
    val base = now - 7200 // 1h-aligned, recent
    // one point per minute for a full hour, value 1.0 each
    t.updateMany((0 until 60).map(i =>
      TimeSeriesPoint("m", base + 60 * i, 1.0)).toDS(), now)
    // 8-day-old `from` routes to the 1h archive: its bucket must hold the
    // sum-of-sums = 60.0 (1m slots → 5m sums of 5 → 1h sum of 12)
    val got = series(t.fetch("m", now - 8 * 86400, now, now)).toMap
    assert(got(base) == Some(60.0))
    // the 5m archive (2-day-old from) holds twelve 5.0 sums
    val got5 = series(t.fetch("m", now - 2 * 86400, now, now)).toMap
    for (k <- 0 until 12) assert(got5(base + 300 * k) == Some(5.0))
  }

  test("updateManyForArchive writes the chosen archive, never the finer ones") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std) // 1m,5m,1h avg
    val base = now - 3600 // RECENT: age-routing would pick the 1m archive
    // 35 minutes of 1m-cadence points → 7 of the hour's 12 5m slots,
    // enough to clear std's 0.5 xFilesFactor at the 1h propagation
    val res = t.updateManyForArchive((0 until 35).map(i =>
      TimeSeriesPoint("m", base + 60 * i, (i + 1).toDouble)).toDS(), 300, now)
    assert(res.accepted == 35 && res.rejected == 0)
    // the 5m archive holds the LWW-aligned slots (the last 1m point in
    // each 5m window wins the slot under LWW alignment)
    val got5 = series(t.fetch("m", now - 2 * 86400, now, now)).toMap
    assert(got5(base) == Some(5.0) && got5(base + 300) == Some(10.0))
    // the FINER 1m archive was never written — a fetch routed there is
    // all gaps, unlike updateMany which would have landed these points
    val got1 = series(t.fetch("m", now - 3600 * 2, now, now))
    assert(got1.forall(_._2.isEmpty))
    // the coarser 1h level was propagated from the 5m write:
    // avg(5,10,...,35) over the 7 known slots, 7/12 >= xff 0.5
    val got1h = series(t.fetch("m", now - 8 * 86400, now, now)).toMap
    assert(got1h(base) == Some(20.0))
    // outside the 5m archive's own 7d window → rejected, strict raises
    val old = Seq(TimeSeriesPoint("m", now - 8 * 86400, 1.0)).toDS()
    assert(t.updateManyForArchive(old, 300, now).rejected == 1)
    intercept[IllegalArgumentException](
      t.updateManyForArchive(old, 300, now, strict = true))
    intercept[IllegalArgumentException](
      t.updateManyForArchive(old, 45, now)) // no 45s archive
  }

  test("createFromConf resolves carbon storage confs to the table header") {
    val conf = graft.model.StorageConf.resolver(
      "[apps]\npattern = ^app\\.\nretentions = 1m:1d,5m:7d,1h:30d",
      "[counts]\npattern = \\.count$\naggregationMethod = sum\nxFilesFactor = 0")
    val t = WhisperTable.createFromConf(spark, tmp(), "app.req.count", conf)
    assert(t.schema.retentions == Retentions.std.retentions)
    assert(t.aggregationMethod == graft.model.AggregationMethod.Sum &&
      t.xFilesFactor == 0.0)
    // reopen from the persisted header: the conf-resolved schema survives
    val back = WhisperTable.open(spark, t.path)
    assert(back.schema == t.schema)
    intercept[IllegalArgumentException](
      WhisperTable.createFromConf(spark, tmp(), "sys.cpu", conf))
  }

  test("AvgZero consolidation divides by window size; AbsMax keeps the sign") {
    import spark.implicits._
    // graphite's whisper.py methods end-to-end through the table path:
    // create → updateMany → cascade → archive-routed fetch
    val az = WhisperTable.create(spark, tmp(), graft.model.WhisperSchema(
      Retentions.std.retentions, graft.model.AggregationMethod.AvgZero, 0.0))
    val base = now - 3600
    // two of the five 1m slots in [base, base+300) hold 10.0: the three
    // absent slots count as zero → 20/5, not 20/2
    az.updateMany(Seq(TimeSeriesPoint("m", base, 10.0),
      TimeSeriesPoint("m", base + 60, 10.0)).toDS(), now)
    val gotAz = series(az.fetch("m", now - 2 * 86400, now, now)).toMap
    assert(gotAz(base) == Some(4.0))
    val am = WhisperTable.create(spark, tmp(), graft.model.WhisperSchema(
      Retentions.std.retentions, graft.model.AggregationMethod.AbsMax, 0.0))
    am.updateMany(Seq(TimeSeriesPoint("m", base, 3.0),
      TimeSeriesPoint("m", base + 60, -8.0),
      TimeSeriesPoint("m", base + 120, 5.0)).toDS(), now)
    val gotAm = series(am.fetch("m", now - 2 * 86400, now, now)).toMap
    assert(gotAm(base) == Some(-8.0)) // |-8| largest, sign preserved
  }

  test("Min consolidation serves the window minimum from the 5m archive") {
    import spark.implicits._
    val schema = graft.model.WhisperSchema(
      Retentions.std.retentions, graft.model.AggregationMethod.Min, 0.0)
    val t = WhisperTable.create(spark, tmp(), schema)
    val base = now - 3600
    // values 9,8,...,0 over ten 1m slots: window minima are 5 and 0
    t.updateMany((0 until 10).map(i =>
      TimeSeriesPoint("m", base + 60 * i, (9 - i).toDouble)).toDS(), now)
    val got = series(t.fetch("m", now - 2 * 86400, now, now)).toMap
    assert(got(base) == Some(5.0))       // min(9,8,7,6,5)
    assert(got(base + 300) == Some(0.0)) // min(4,3,2,1,0)
  }

  test("Last consolidation takes the latest finer slot across levels") {
    import spark.implicits._
    val schema = graft.model.WhisperSchema(
      Retentions.parseRetentionDefs("1m:1d,5m:7d"),
      graft.model.AggregationMethod.Last, 0.0)
    val t = WhisperTable.create(spark, tmp(), schema)
    val base = now - 3600
    t.updateMany(Seq(
      TimeSeriesPoint("m", base + 0, 1.0),
      TimeSeriesPoint("m", base + 120, 2.0),
      TimeSeriesPoint("m", base + 240, 3.0), // latest 1m slot of window 1
      TimeSeriesPoint("m", base + 300, 7.0)  // only slot of window 2
    ).toDS(), now)
    val got = series(t.fetch("m", now - 2 * 86400, now, now)).toMap
    assert(got(base) == Some(3.0))
    assert(got(base + 300) == Some(7.0))
  }

  test("updateMany is idempotent: replaying the same batch changes nothing") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    val pts = (0 until 20).map(i =>
      TimeSeriesPoint("m", now - 3600 + 60 * i, i.toDouble)).toDS()
    t.updateMany(pts, now)
    val first = series(t.fetch("m", now - 3600, now, now))
    t.updateMany(pts, now)
    val second = series(t.fetch("m", now - 3600, now, now))
    assert(first == second)
  }

  test("fetchMany returns every metric's dense series in one query") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.lww)
    t.updateMany(Seq(
      TimeSeriesPoint("a", now - 300, 1.0),
      TimeSeriesPoint("b", now - 240, 2.0)).toDS(), now)
    // requested out of order, plus "c" with no data in the range
    val many = t.fetchMany(Seq("c", "b", "a"), now - 600, now, now).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // identical to the single-metric fetches, concatenated in
    // (metric, bucket_ts) order
    val single = Seq("a", "b", "c").flatMap { m =>
      series(t.fetch(m, now - 600, now, now)).map { case (ts, v) => (m, ts, v) }
    }
    assert(many.toSeq == single)
    assert(many.count(_._3.isDefined) == 2)
    // each series is dense over the 10 buckets; "c" is all NULL
    val buckets = (-9 to 0).map(now + 60L * _)
    assert(single.filter(_._1 == "a").map(_._2) == buckets)
    assert(many.filter(_._1 == "c").toSeq == buckets.map(b => ("c", b, None)))
  }

  test("a never-written or missing level reads as empty") {
    val p = tmp()
    val t = WhisperTable.create(spark, p, Retentions.std)
    val buckets = (-9 to 0).map(now + 60L * _)
    // created, never written: the level directory holds no parquet file
    assert(series(t.fetch("m", now - 600, now, now)) == buckets.map((_, None)))
    assert(t.checkEmpty("m", now - 600, now, now))
    // a partial create leaves a level directory absent
    val dir = new org.apache.hadoop.fs.Path(s"$p/points_60s")
    dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    assert(series(t.fetch("m", now - 600, now, now)) == buckets.map((_, None)))
    assert(t.fetchGlob("*", now - 600, now, now).count() == 0)
    assert(t.checkEmpty("m", now - 600, now, now))
  }

  test("a level file without the level columns fails every read loudly") {
    // a schema-given parquet read serves a missing column as NULLs; the
    // reads must refuse the foreign file instead of answering NULL slots
    import spark.implicits._
    val p = tmp()
    val t = WhisperTable.create(spark, p, Retentions.std)
    Seq(("m", now - 60, 1.0)).toDF("metric", "bucket_ts", "val")
      .write.parquet(s"$p/points_60s/day=2024-01-30")
    def loud(read: => Any): Unit = {
      val e = intercept[Exception](read)
      assert(e.getMessage.contains("value"), e.getMessage)
    }
    loud(t.fetch("m", now - 600, now, now).collect())
    loud(t.fetchMany(Seq("m"), now - 600, now, now).collect())
    loud(t.fetchGlob("*", now - 600, now, now).collect())
    loud(t.checkEmpty("m", now - 600, now, now))
  }

  test("a facade read runs at most two Spark jobs, three for a glob") {
    // construction plus collect: no schema-inference job, no exchange or
    // range-sampling job for the dense order
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    t.updateMany((0 until 10).flatMap(i => Seq(
      TimeSeriesPoint("h.a", now - 600 + 60 * i, i.toDouble),
      TimeSeriesPoint("h.b", now - 600 + 60 * i, -i.toDouble))).toDS(), now)
    def jobs(read: => Any): Int =
      org.apache.spark.graftprobe.Jobs.counted(spark.sparkContext)(read)
    assert(jobs(t.fetch("h.a", now - 600, now, now).collect()) <= 2)
    assert(jobs(t.fetchMany(Seq("h.a", "h.b"), now - 600, now, now).collect()) <= 2)
    assert(jobs(t.fetchGlob("h.*", now - 600, now, now).collect()) <= 3)
  }

  test("fetch prunes day partitions via a partition filter") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    t.updateMany(Seq(
      TimeSeriesPoint("m", now - 2 * 86400, 1.0), // older day (5m archive)
      TimeSeriesPoint("m", now - 120, 2.0)).toDS(), now)
    val plan = t.fetch("m", now - 3600, now, now).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val idx = plan.indexOf("PartitionFilters")
    assert(idx >= 0, s"no partition filters in fetch plan:\n$plan")
    assert(plan.substring(idx, math.min(plan.length, idx + 250)).contains("day"),
      s"partition filter does not constrain day:\n$plan")
  }

  test("header round trip: open without a schema reads _whisper.json") {
    import spark.implicits._
    val p = tmp()
    val t = WhisperTable.create(spark, p, Retentions.gate) // 1m:1h,10m:6h Max .9
    val pts = (0 until 9).map(i =>
      TimeSeriesPoint("m", now - 1200 + 60 * i, 10.0 + i))
    t.updateMany(pts.toDS(), now)
    val u = WhisperTable.open(spark, p) // no schema argument
    assert(u.schema == Retentions.gate)
    assert(u.aggregationMethod == graft.model.AggregationMethod.Max)
    assert(u.xFilesFactor == 0.9)
    assert(series(u.fetch("m", now - 7200, now, now)) ==
      series(t.fetch("m", now - 7200, now, now)))
  }

  test("strict F3: update raises whisper's error; lenient updateMany counts") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.lww) // 1d retention
    val res = t.updateMany(Seq(
      TimeSeriesPoint("m", now - 2 * 86400, 1.0), // too old
      TimeSeriesPoint("m", now + 60, 2.0),        // future
      TimeSeriesPoint("m", now - 120, 3.0)).toDS(), now)
    assert(res == UpdateResult(accepted = 1, rejected = 2))
    val ex = intercept[IllegalArgumentException](
      t.update("m", now - 2 * 86400, 4.0, now))
    assert(ex.getMessage.contains("not covered by any archives"))
    t.update("m", now - 60, 5.0, now) // in-retention single point still lands
    val got = series(t.fetch("m", now - 600, now, now))
    assert(got.flatMap(_._2).toSet == Set(3.0, 5.0))
  }

  test("an empty or all-rejected batch counts its points and touches no level") {
    // the counts are observed with count(when): a sum over zero rows
    // would be NULL
    import spark.implicits._
    val p = tmp()
    val t = WhisperTable.create(spark, p, Retentions.std)
    def snapshot() = t.retentions.flatMap { r =>
      val dir = java.nio.file.Paths.get(s"$p/points_${r.secondsPerPoint}s")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.map(f =>
          (dir.relativize(f).toString, f.toFile.lastModified(), f.toFile.length())).toSet
      finally walk.close()
    }.toSet
    val before = snapshot()
    assert(t.updateMany(Seq.empty[TimeSeriesPoint].toDS(), now) == UpdateResult(0, 0))
    val rejected = Seq(
      TimeSeriesPoint("m", now + 60, 1.0),            // future
      TimeSeriesPoint("m", now - 40 * 86400, 2.0))    // older than 30d
    assert(t.updateMany(rejected.toDS(), now) == UpdateResult(0, 2))
    intercept[IllegalArgumentException](
      t.updateMany(rejected.toDS(), now, strict = true))
    // strict refuses the whole batch before any write, the good point too
    intercept[IllegalArgumentException](t.updateMany(
      (rejected :+ TimeSeriesPoint("m", now - 60, 3.0)).toDS(), now, strict = true))
    assert(snapshot() == before)
  }

  test("a write cycle runs a bounded number of Spark jobs per level") {
    // each level pins its fresh rows once and derives its day sets on
    // that pin; a level with no fresh rows runs no job at all
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    val ids = 0 until 1000
    // one point per series in one minute: 1 of 5 slots is under the 5m
    // level's xFF of 0.5, so only the 1m level writes
    val live = ids.map(s => TimeSeriesPoint(s"s.$s", now - 50, s.toDouble))
    // a direct write into every level
    val all = ids.flatMap(s => Seq(
      TimeSeriesPoint(s"s.$s", now - 30, 1.0),
      TimeSeriesPoint(s"s.$s", now - 2 * 86400, 2.0),
      TimeSeriesPoint(s"s.$s", now - 10 * 86400, 3.0)))
    t.updateMany(live.toDS(), now) // the levels hold data before counting
    def jobs(pts: Seq[TimeSeriesPoint]): Int = {
      val ds = pts.toDS()
      var res = UpdateResult(-1, -1)
      val n = org.apache.spark.graftprobe.Jobs.counted(spark.sparkContext) {
        res = t.updateMany(ds, now)
      }
      assert(res == UpdateResult(pts.size, 0))
      n
    }
    val liveJobs = jobs(live)
    assert(liveJobs <= 18, s"live-shaped cycle ran $liveJobs jobs")
    val allJobs = jobs(all)
    assert(allJobs <= 34, s"all-level cycle ran $allJobs jobs")
    assert(series(t.fetch("s.7", now - 10 * 86400 - 3600, now - 10 * 86400, now))
      .flatMap(_._2) == Seq(3.0))
  }

  test("incremental write: untouched day partitions are not rewritten") {
    import spark.implicits._
    val p = tmp()
    val t = WhisperTable.create(spark, p, Retentions.std)
    val old = now - 3 * 86400 // routes directly to the 5m archive
    t.updateMany(Seq(TimeSeriesPoint("m", old + 10, 42.0)).toDS(), now)
    val oldDay = java.time.Instant.ofEpochSecond(old)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val dayDir = new java.io.File(s"$p/points_300s/day=$oldDay")
    assert(dayDir.isDirectory)
    def snapshot() = dayDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    val before = snapshot()
    // second batch touches only the current day at every level
    t.updateMany(Seq(TimeSeriesPoint("m", now - 120, 7.0)).toDS(), now)
    assert(snapshot() == before) // same files, same mtimes: never rewritten
    // and both days' data are served
    val got = series(t.fetch("m", now - 4 * 86400, now, now)).toMap
    assert(got(old) == Some(42.0))
  }

  test("propagation covers only buckets written this cycle (partial-expiry safe)") {
    import spark.implicits._
    // tight: 1s:120, 10s:1h, Sum, xff 0 — finer retention is 120 s
    val t = WhisperTable.create(spark, tmp(), Retentions.tight)
    val now1 = 1050L
    t.updateMany((0 until 10).map(i =>
      TimeSeriesPoint("m", 1000L + i, 1.0)).toDS(), now1)
    // coarse bucket 1000 holds sum(10 × 1.0)
    assert(series(t.fetch("m", 920, 1005, now1)).toMap.apply(1000L) == Some(10.0))
    // advance now so finer slots 1000..1004 expire (horizon 1005): a new
    // write elsewhere must NOT re-derive bucket 1000 from the partial
    // finer window (that would shrink the Sum to 5.0)
    val now2 = 1125L
    t.updateMany(Seq(TimeSeriesPoint("m", 1120L, 2.0)).toDS(), now2)
    val got = series(t.fetch("m", 995, 1010, now2)).toMap
    assert(got(1000L) == Some(10.0))
  }

  test("direct write to a coarser archive for late-but-covered data (U3)") {
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.std)
    // age 3 days: outside the 1m archive (1d) but inside 5m:7d → lands
    // directly in the 5m archive without touching the 1m level
    val old = now - 3 * 86400
    t.updateMany(Seq(TimeSeriesPoint("m", old + 10, 42.0)).toDS(), now)
    val got = series(t.fetch("m", now - 4 * 86400, now - 3 * 86400 + 600, now)).toMap
    assert(got(old) == Some(42.0)) // 5m bucket of `old+10` is `old` (aligned)
  }

  test("a contested coarse slot keeps the direct write over the propagated value") {
    // the one instant a coarse bucket takes both in one cycle: a direct
    // point exactly at the finest horizon, on a coarse step, beside finer
    // points in the same bucket. whisper packs the direct points into
    // the coarse archive after propagating, so the direct write wins
    import spark.implicits._
    val t = WhisperTable.create(spark, tmp(), Retentions.tight) // 1s:120, 10s:1h, Sum
    val now1 = 1200L
    t.updateMany((TimeSeriesPoint("m", now1 - 120, 100.0) +: // age 120: the 10s level
      (1081L to 1089L).map(ts => TimeSeriesPoint("m", ts, 1.0))).toDS(), now1)
    assert(series(t.fetch("m", 1070, 1085, now1)) == Seq(1080L -> Some(100.0)))
  }
}
