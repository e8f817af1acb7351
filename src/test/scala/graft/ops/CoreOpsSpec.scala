package graft.ops

import graft.model.{AggregationMethod, Retentions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic-trap tests (SURVEY.md §4.4) on tiny in-memory frames. */
class CoreOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pts(rows: (String, Long, Double)*) = {
    import spark.implicits._
    rows.toDF("metric", "ts_s", "value")
  }

  // a render target over `p` on [from, until] at a 60 s step
  private def render(p: org.apache.spark.sql.DataFrame, target: String,
      from: Long, until: Long, maxDataPoints: Int = 0) =
    RenderTarget.evaluate(spark, p, target, from, until, 60, maxDataPoints)

  test("fetchInterval endpoints: floor + step (trap 1)") {
    assert(Buckets.fetchInterval(120, 60) == 180) // aligned → next bucket
    assert(Buckets.fetchInterval(121, 60) == 180)
    assert(Buckets.fetchInterval(179, 60) == 180)
    assert(Buckets.fetchInterval(180, 60) == 240)
  }

  test("denseSeries length == (until' - from')/step and gaps are NULL") {
    val df = Fetch.denseSeries(pts(("m", 65L, 1.0), ("m", 200L, 4.0)),
      "m", 0L, 600L, 60)
    val rows = df.collect()
    assert(rows.length == 10) // (660-60)/60
    assert(rows.head.getLong(0) == 60)
    assert(rows.last.getLong(0) == 600)
    // ts 65 → bucket 60; ts 200 → bucket 180; everything else NULL
    val byBucket = rows.map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(byBucket(60).contains(1.0))
    assert(byBucket(180).contains(4.0))
    assert(byBucket(120).isEmpty && byBucket(600).isEmpty)
  }

  test("denseSeries excludes the bucket containing `from`, includes `until`'s") {
    // point in bucket 0 (ts 30) must NOT appear for from=0 (fromInterval=60);
    // until=119 lives in bucket 60, which is the last bucket returned.
    val df = Fetch.denseSeries(pts(("m", 30L, 9.0), ("m", 70L, 2.0)),
      "m", 0L, 119L, 60)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(60L))
    assert(rows(0).getDouble(1) == 2.0)
    // aligned until=120 extends the series by one (empty) bucket
    val rows2 = Fetch.denseSeries(pts(("m", 30L, 9.0), ("m", 70L, 2.0)),
      "m", 0L, 120L, 60).collect()
    assert(rows2.map(_.getLong(0)).toSeq == Seq(60L, 120L))
    assert(rows2(1).isNullAt(1))
  }

  test("lwwAlign: latest raw timestamp wins, value breaks exact ties") {
    val df = Ingest.lwwAlign(pts(
      ("m", 100L, 1.0), ("m", 110L, 2.0),   // same 1m bucket → ts 110 wins
      ("m", 130L, 7.0), ("m", 130L, 3.0),   // exact ts tie → larger value wins
      ("n", 100L, 5.0)), 60)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("m", 60L, 2.0), ("m", 120L, 7.0), ("n", 60L, 5.0)))
  }

  test("propagate: xff gate edge — known/total exactly == xff is kept (>=)") {
    // 1m level with 3 of 5 slots in one 5m window: ratio 0.6
    val level = pts(("m", 0L, 1.0), ("m", 60L, 2.0), ("m", 120L, 3.0))
      .withColumnRenamed("ts_s", "bucket_ts")
    def known(xff: Double) =
      Rollup.propagate(level, 60, 300, AggregationMethod.Sum, xff).count()
    assert(known(0.6) == 1)   // == xff → kept
    assert(known(0.601) == 0) // just above → dropped
    assert(known(0.0) == 1)
  }

  test("propagate: xff gate compares in float32, as whisper does") {
    // whisper stores xff as float32 and computes float32(known) /
    // float32(total) >= xff. 3 known of 10 slots at xff = 0.3 sits
    // exactly ON the boundary in that arithmetic and must be kept.
    // (When ratio == xff mathematically, float32 and double gates agree —
    // the float32 form is exact-representation fidelity with the
    // reference's comparison, asserted here at the boundary.)
    val level = pts(("m", 0L, 1.0), ("m", 60L, 2.0), ("m", 120L, 3.0))
      .withColumnRenamed("ts_s", "bucket_ts")
    val out = Rollup.propagate(level, 60, 600, graft.model.AggregationMethod.Sum, 0.3)
    assert(out.count() == 1)
  }

  test("propagate: Average divides by known count, not window size (trap 3)") {
    val level = pts(("m", 0L, 1.0), ("m", 60L, 3.0))
      .withColumnRenamed("ts_s", "bucket_ts")
    val row = Rollup.propagate(level, 60, 300, AggregationMethod.Average, 0.0)
      .collect().head
    assert(row.getAs[Double]("value") == 2.0) // (1+3)/2, NOT /5
    assert(row.getAs[Long]("known") == 2 && row.getAs[Long]("total") == 5)
  }

  test("propagate: Last takes the latest finer slot in the window") {
    val level = pts(("m", 0L, 9.0), ("m", 240L, 4.0))
      .withColumnRenamed("ts_s", "bucket_ts")
    val row = Rollup.propagate(level, 60, 300, AggregationMethod.Last, 0.0)
      .collect().head
    assert(row.getAs[Double]("value") == 4.0)
  }

  test("propagate: AvgZero divides by window size, absent slots count as 0") {
    // whisper.py avg_zero: sum(x or 0 for x in neighborValues)/len(...)
    val level = pts(("m", 0L, 1.0), ("m", 60L, 3.0))
      .withColumnRenamed("ts_s", "bucket_ts")
    val row = Rollup.propagate(level, 60, 300, AggregationMethod.AvgZero, 0.0)
      .collect().head
    assert(row.getAs[Double]("value") == 0.8) // (1+3)/5, NOT /2
    assert(row.getAs[Long]("known") == 2 && row.getAs[Long]("total") == 5)
  }

  test("propagate: AbsMax keeps the sign and breaks abs ties earliest-first") {
    val level = pts(("m", 0L, 3.0), ("m", 60L, -7.0), ("m", 120L, 5.0),
        ("n", 0L, -4.0), ("n", 60L, 4.0)) // abs tie → first in window order
      .withColumnRenamed("ts_s", "bucket_ts")
    val rows = Rollup.propagate(level, 60, 300, AggregationMethod.AbsMax, 0.0)
      .collect().map(r => r.getAs[String]("metric") -> r.getAs[Double]("value"))
      .toMap
    assert(rows("m") == -7.0) // largest magnitude, sign preserved
    assert(rows("n") == -4.0) // whisper.py max(key=abs) keeps the first
  }

  test("propagate: AbsMin takes the value closest to zero, earliest on ties") {
    val level = pts(("m", 0L, 3.0), ("m", 60L, -2.0), ("m", 120L, 6.0),
        ("n", 0L, 5.0), ("n", 60L, -5.0))
      .withColumnRenamed("ts_s", "bucket_ts")
    val rows = Rollup.propagate(level, 60, 300, AggregationMethod.AbsMin, 0.0)
      .collect().map(r => r.getAs[String]("metric") -> r.getAs[Double]("value"))
      .toMap
    assert(rows("m") == -2.0)
    assert(rows("n") == 5.0) // abs tie → earliest slot wins
  }

  test("aggregation method ids 6-8 round-trip graphite's on-disk enum") {
    assert(AggregationMethod.fromId(6) == AggregationMethod.AvgZero)
    assert(AggregationMethod.fromId(7) == AggregationMethod.AbsMax)
    assert(AggregationMethod.fromId(8) == AggregationMethod.AbsMin)
    assert(AggregationMethod.fromName("avg_zero").id == 6)
    AggregationMethod.all.foreach { m =>
      assert(AggregationMethod.fromId(m.id) == m)
      assert(AggregationMethod.fromName(m.name) == m)
    }
  }

  test("archiveColumn routes by age with strict retention bound (U3)") {
    val now = 10L * 86400
    val df = pts(
      ("m", now - 10, 1.0),          // age 10 → archive 1 (1m:1d)
      ("m", now - 86400, 1.0),       // age == 1d → archive 2 (5m:7d)
      ("m", now - 8 * 86400, 1.0),   // age 8d → archive 3 (1h:30d)
      ("m", now + 5, 1.0))           // future → 0
      .withColumn("archive", Ingest.archiveColumn(Retentions.std, now))
    assert(df.select("archive").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 0))
  }

  test("retentionStatus accepts [0, maxRetention) ages only (F3)") {
    val now = 100L * 86400
    val df = pts(
      ("m", now, 1.0),                   // age 0 → accepted
      ("m", now - 86400 + 1, 1.0),       // just inside 1d → accepted
      ("m", now - 86400, 1.0),           // age == maxRetention → rejected
      ("m", now + 1, 1.0))               // future → rejected
      .withColumn("st", Ingest.retentionStatus(Retentions.lww, now))
    assert(df.select("st").collect().map(_.getString(0)).toSeq ==
      Seq("accepted", "accepted", "rejected", "rejected"))
  }

  test("selectArchive picks finest archive covering now-from (Q1)") {
    val now = Buckets.NowS
    assert(Fetch.selectArchive(Retentions.std, now, now - 3600).secondsPerPoint == 60)
    assert(Fetch.selectArchive(Retentions.std, now, now - 86400).secondsPerPoint == 60)
    assert(Fetch.selectArchive(Retentions.std, now, now - 86401).secondsPerPoint == 300)
    assert(Fetch.selectArchive(Retentions.std, now, now - 8 * 86400).secondsPerPoint == 3600)
    // older than every archive → coarsest (fetch clamps the range anyway)
    assert(Fetch.selectArchive(Retentions.std, now, now - 60 * 86400).secondsPerPoint == 3600)
  }

  test("cascade consistency: sum-of-5m-sums equals direct 1h sum over LWW") {
    val p = pts((1 to 500).map(i => ("m", i * 37L % 7200, i.toDouble)): _*)
    val lww = Ingest.lwwAlign(p, 60)
    val via5m = Rollup.propagate(
      Rollup.propagate(lww, 60, 300, AggregationMethod.Sum, 0.0)
        .select("metric", "bucket_ts", "value"),
      300, 3600, AggregationMethod.Sum, 0.0)
      .select("metric", "bucket_ts", "value")
    val direct = Rollup.propagate(lww, 60, 3600, AggregationMethod.Sum, 0.0)
      .select("metric", "bucket_ts", "value")
    val a = via5m.collect().map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    val b = direct.collect().map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    assert(a == b)
  }

  test("globToRegex: graphite find semantics, regex metachars neutralized") {
    def m(glob: String, s: String): Boolean = s.matches(Fetch.globToRegex(glob))
    // star and ? stay within one hierarchy level
    assert(m("servers.*.cpu", "servers.web1.cpu"))
    assert(!m("servers.*.cpu", "servers.web1.sub.cpu"))
    assert(!m("servers.*", "servers.a.cpu"))
    assert(m("servers.we?1.cpu", "servers.web1.cpu"))
    assert(!m("servers.we?.cpu", "servers.web1.cpu"))
    // braces alternate, classes pass through
    assert(m("m.{cpu,mem}", "m.cpu") && m("m.{cpu,mem}", "m.mem"))
    assert(!m("m.{cpu,mem}", "m.cpumem"))
    assert(m("disk[0-9].io", "disk7.io") && !m("disk[0-9].io", "diskX.io"))
    // a literal dot never acts as regex-any; other metachars are literal
    assert(!m("a.b", "aXb"))
    assert(m("rate(+)", "rate(+)") && !m("rate(+)", "rate("))
    assert(m("a|b", "a|b") && !m("a|b", "a"))
    // fnmatch negated classes: '[!...]' is NOT-in-set (r13 review: the
    // verbatim passthrough matched the exact inverse)
    assert(m("servers[!0].cpu", "servers1.cpu"))
    assert(!m("servers[!0].cpu", "servers0.cpu"))
    // any-but-'0' includes '!' itself, exactly as fnmatch has it
    assert(m("servers[!0].cpu", "servers!.cpu"))
    // '!' outside a class, and not first-in-class, stays literal
    assert(m("a!b", "a!b"))
    assert(m("x[a!]y", "x!y") && m("x[a!]y", "xay"))
    // a leading in-class '^' is the LITERAL caret under fnmatch —
    // negation is spelled only '[!...]' (r13 ADVICE: raw passthrough
    // made it regex negation, the exact inverse)
    assert(m("x[^a]y", "x^y") && m("x[^a]y", "xay"))
    assert(!m("x[^a]y", "xby"))
    // '^' later in a class was already literal; unchanged
    assert(m("x[a^]y", "x^y") && m("x[a^]y", "xay") && !m("x[a^]y", "xby"))
  }

  test("metricsFind expands dotted brace alternatives per-depth (r13 review)") {
    import spark.implicits._
    val mets = Seq("servers.cpu.load", "servers.mem", "servers.mem.used",
      "servers.disk").toDF("metric")
    val got = Fetch.metricsFind(mets, "servers.{cpu.load,mem}")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    // 'mem' is a depth-2 alternative (leaf AND expandable via mem.used),
    // 'cpu.load' a depth-3 one — graphite brace-expands before matching
    assert(got == Set(("servers.cpu.load", 1, 0), ("servers.mem", 1, 1)))
  }

  test("denseSeries: a range inside one step bucket returns that bucket") {
    // whisper fetch: fromInterval == untilInterval → untilInterval +=
    // step ("always include the next point"), never an empty series
    val df = Fetch.denseSeries(pts(("m", 125L, 4.0)), "m",
      100L, 110L, 60).collect()
    assert(df.map(_.getLong(0)).toSeq == Seq(120L))
    assert(df(0).getDouble(1) == 4.0)
  }

  test("fetchWindow carries the equal-interval bump to the scan range") {
    // callers pre-restrict the scan by the window; computing the bump
    // only inside denseSeries is too late — pointsInRange(x, x) is the
    // EMPTY range and the single bucket came back NULL where whisper
    // returns its value (r16 review)
    val (f, u) = Fetch.fetchWindow(100L, 110L, 60)
    assert(f == 120L && u == 180L, s"got ($f, $u)")
    // distinct intervals: no bump
    val (f2, u2) = Fetch.fetchWindow(100L, 200L, 60)
    assert(f2 == 120L && u2 == 240L)
    // end-to-end: a pre-restricted equal-interval fetch keeps the value
    val pre = pts(("m", 125L, 4.0)).filter(col("ts_s") >= f && col("ts_s") < u)
    val df = Fetch.denseSeries(pre, "m", 100L, 110L, 60).collect()
    assert(df.map(_.getLong(0)).toSeq == Seq(120L) && df(0).getDouble(1) == 4.0)
  }

  // every entry point that derives a fetch window, as (name, (from, until)
  // => frame) over `p` at a 60 s step; each frame has bucket_ts and value
  private def windowed(p: org.apache.spark.sql.DataFrame)
      : Seq[(String, (Long, Long) => org.apache.spark.sql.DataFrame)] = Seq(
    "denseSeries" -> ((f, u) => Fetch.denseSeries(p, "m.a", f, u, 60)),
    "evaluate(m.*)" -> ((f, u) => render(p, "m.*", f, u)),
    "evaluate(m.*) at maxDataPoints 1" -> ((f, u) => render(p, "m.*", f, u, 1)),
    "evaluate(summarize(m.*, '1min', 'sum'))" ->
      ((f, u) => render(p, "summarize(m.*, '1min', 'sum')", f, u)),
    "evaluate(sumSeries(m.*))" -> ((f, u) => render(p, "sumSeries(m.*)", f, u)),
    "evaluate(perSecond(m.*))" -> ((f, u) => render(p, "perSecond(m.*)", f, u)),
    "evaluate(movingAverage(m.*, 1))" -> ((f, u) => render(p, "movingAverage(m.*, 1)", f, u)))

  test("a window inside one step returns that step's bucket from every entry point") {
    // whisper's equal-interval bump: 100 → 110 is the bucket 120, which
    // holds the point at 125. movingAverage(1) shows the bucket before it
    // (the point at 65); perSecond has no predecessor, so None
    val p = pts(("m.a", 65L, 2.0), ("m.a", 125L, 4.0))
    val expected = Map("evaluate(movingAverage(m.*, 1))" -> Some(2.0),
      "evaluate(perSecond(m.*))" -> None)
    val wrong = windowed(p).flatMap { case (name, read) =>
      val got = read(100L, 110L).collect().toSeq.map(r =>
        (r.getAs[Long]("bucket_ts"), Option(r.getAs[java.lang.Double]("value")).map(_.toDouble)))
      if (got == Seq((120L, expected.getOrElse(name, Some(4.0))))) None
      else Some(s"$name returned $got")
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("an inverted window fails loudly from every entry point") {
    // whisper raises InvalidTimeInterval when from > until
    val quiet = windowed(pts(("m.a", 125L, 4.0))).flatMap { case (name, read) =>
      scala.util.Try(read(200L, 100L).collect()) match {
        case scala.util.Failure(e: IllegalArgumentException)
            if e.getMessage.contains("invalid time interval") => None
        case other => Some(s"$name: $other")
      }
    }
    assert(quiet.isEmpty, quiet.mkString("; "))
  }

  test("globToRegex class edges: leading ']', inner '[', '&&' (r16)") {
    def m(glob: String, s: String): Boolean = s.matches(Fetch.globToRegex(glob))
    // fnmatch: ']' FIRST in a class is a literal member (unescaped it
    // closed an empty class — Java threw PatternSyntaxException)
    assert(m("[]]x", "]x") && !m("[]]x", "ax"))
    assert(m("[!]]x", "ax") && !m("[!]]x", "]x"))
    // a raw '[' inside a class is a literal, never Java class-union
    assert(m("x[[a]y", "x[y") && m("x[[a]y", "xay") && !m("x[[a]y", "xby"))
    // '&&' inside a class is two literal members, never intersection
    assert(m("x[a&&b]y", "x&y") && m("x[a&&b]y", "xay"))
  }

  test("globToRegex negated-class edges: '[!]]', '[!!]', '[!^]' (r17)") {
    def m(glob: String, s: String): Boolean = s.matches(Fetch.globToRegex(glob))
    // ']' right after '[!' is a literal member — the emitted escape
    // must be unambiguous in BOTH engines, not rely on Java/RE2
    // leniency for ']'-after-'[^' (r16 ADVICE); pin the emission too
    assert(Fetch.globToRegex("[!]]x") == "^([^\\]]x)$")
    assert(m("[!]ab]x", "cx") && !m("[!]ab]x", "]x") && !m("[!]ab]x", "ax"))
    // a second '!' is an ordinary member of a negated class
    assert(m("[!!a]x", "bx") && !m("[!!a]x", "!x") && !m("[!!a]x", "ax"))
    // '^' right after '[!' is a literal member (fnmatch has no '^')
    assert(m("[!^a]x", "bx") && !m("[!^a]x", "^x") && !m("[!^a]x", "ax"))
  }

  test("expandBraces: a comma inside a class is not an alternative split") {
    assert(Fetch.expandBraces("x.{a[1,2],b}").toSet == Set("x.a[1,2]", "x.b"))
    // and the expanded class still compiles and matches per fnmatch
    def m(glob: String, s: String): Boolean = s.matches(Fetch.globToRegex(glob))
    assert(m("x.a[1,2]", "x.a1") && m("x.a[1,2]", "x.a,") &&
      !m("x.a[1,2]", "x.a3"))
  }

  test("expandBraces: braces inside a class are literals, not expansion (r17)") {
    // the OUTER matcher must not pair '{' with a '}' that is a class
    // member, and a class-literal '{' with no real braces must not
    // throw 'unbalanced braces' (r17 review — fnmatch accepts both)
    assert(Fetch.expandBraces("x.{a[}],b}").toSet == Set("x.a[}]", "x.b"))
    assert(Fetch.expandBraces("x.[{]y") == Seq("x.[{]y"))
    def m(glob: String, s: String): Boolean = s.matches(Fetch.globToRegex(glob))
    assert(m("x.a[}]", "x.a}") && !m("x.a[}]", "x.ab"))
    assert(m("x.[{]y", "x.{y") && !m("x.[{]y", "x.ay"))
  }

  test("expandBraces: leading ']' in a class is a member, not the close (r17)") {
    // r16 ADVICE: the splitter's class tracker closed on the FIRST ']'
    // even where fnmatch (and globToRegex) read a leading ']' as a
    // literal member — 'x.{a[],]y,b}' split mid-class into the
    // half-glob 'x.a[]' that globToRegex rejects via require(!inClass)
    assert(Fetch.expandBraces("x.{a[],]y,b}").toSet == Set("x.a[],]y", "x.b"))
    assert(Fetch.expandBraces("x.{a[!],]y,b}").toSet == Set("x.a[!],]y", "x.b"))
    def m(glob: String, s: String): Boolean = s.matches(Fetch.globToRegex(glob))
    assert(m("x.a[],]y", "x.a]y") && m("x.a[],]y", "x.a,y") &&
      !m("x.a[],]y", "x.aby"))
  }

  test("summarizeSeries: epoch-aligned buckets, null-skipping sum, partial edges") {
    // window [0, 1200): fetch minutes 60..1200; interval 600 → epoch
    // buckets 0 (minutes 60..540 — PARTIAL: excludes the from-bucket 0),
    // 600 (minutes 600..1140) and 1200 (minute 1200 only).
    val df = render(
      pts(("m", 65L, 1.0), ("m", 130L, 3.0), ("m", 650L, 10.0), ("m", 1205L, 7.0)),
      "summarize(m, '10min', 'sum')", 0L, 1200L)
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 600L, 1200L))
    // bucket 0 sums the minute-averages 1.0 (ts 65) + 3.0 (ts 130)
    assert(rows(0).getDouble(2) == 4.0)
    assert(rows(1).getDouble(2) == 10.0)
    assert(rows(2).getDouble(2) == 7.0)
    // a metric with no points in a coarse bucket gets NULL, not 0
    val gap = render(pts(("m", 65L, 1.0), ("m", 1205L, 7.0)),
      "summarize(m, '10min', 'sum')", 0L, 1200L).collect()
    assert(gap(1).isNullAt(2))
  }

  test("summarizeSeries sums the fetched averages, not the raw points") {
    // two raw points in ONE minute average to 2.0 first; summarize(sum)
    // must add 2.0 — graphite operates on the fetched series
    val df = render(pts(("m", 65L, 1.0), ("m", 70L, 3.0)),
      "summarize(m, '10min', 'sum')", 0L, 600L).collect()
    // aligned until=600 includes minute 600 → an empty trailing bucket
    assert(df.map(_.getLong(1)).toSeq == Seq(0L, 600L))
    assert(df(0).getDouble(2) == 2.0)
    assert(df(1).isNullAt(2))
  }

  test("consolidateSeries: origin-aligned groups, factor from maxDataPoints") {
    // 10 minutes at 60 s = 10 points, budget 4 → factor 3, groups 4 of
    // step 180 starting at fromI=60 (NOT epoch-aligned: 60, 240, 420, 600)
    val df = render(
      pts(("m", 65L, 1.0), ("m", 130L, 3.0), ("m", 250L, 8.0), ("m", 600L, 5.0)),
      "m", 0L, 600L, maxDataPoints = 4)
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(60L, 240L, 420L, 600L))
    assert(rows(0).getDouble(2) == 2.0) // avg(1.0, 3.0) — null minute skipped
    assert(rows(1).getDouble(2) == 8.0)
    assert(rows(2).isNullAt(2)) // all-null group stays NULL
    assert(rows(3).getDouble(2) == 5.0) // partial tail group kept
  }

  test("consolidateSeries: consolidateBy func + render xFilesFactor gate") {
    val p = pts(("m", 65L, 1.0), ("m", 130L, 3.0), ("m", 250L, 8.0),
      ("m", 600L, 5.0))
    // 'max' consolidation over the same grid as the average test
    val mx = render(p, "consolidateBy(m, 'max')", 0L, 600L, maxDataPoints = 4)
      .collect()
    assert(mx(0).getDouble(2) == 3.0 && mx(1).getDouble(2) == 8.0)
    assert(mx(2).isNullAt(2) && mx(3).getDouble(2) == 5.0)
    // xff 0.5: a 3-slot group needs ≥1.5 known → group 1 (2 known)
    // passes, group 2 (1 of 3) and the 1-slot tail (1 of 1) judge
    // against their own grid sizes
    val gated = render(p, "xFilesFactor(consolidateBy(m, 'avg'), 0.5)", 0L, 600L,
      maxDataPoints = 4).collect()
    assert(gated(0).getDouble(2) == 2.0)
    assert(gated(1).isNullAt(2)) // 1/3 known < 0.5
    assert(gated(2).isNullAt(2))
    assert(gated(3).getDouble(2) == 5.0) // tail: 1/1 known
  }

  test("sumSeries: cross-metric null-skipping sum, all-None bucket stays NULL") {
    // window [0, 180): buckets 60, 120. m1 covers both, m2 only 60.
    val df = render(
      pts(("m1", 65L, 1.0), ("m1", 125L, 4.0), ("m2", 70L, 2.0)),
      "sumSeries(m*)", 0L, 180L).select("bucket_ts", "value").collect()
    assert(df.map(_.getLong(0)).toSeq == Seq(60L, 120L, 180L))
    assert(df(0).getDouble(1) == 3.0) // 1.0 + 2.0, m2's gap skipped at 120
    assert(df(1).getDouble(1) == 4.0)
    assert(df(2).isNullAt(1)) // no member live → None, not 0
  }

  test("perSecondSeries: rate over dense buckets, None on gap/reset/lead") {
    // m counter: 60→100, 120→160, 180 gap, 240→220 (RESET), 300→280
    val df = render(
      pts(("m", 65L, 100.0), ("m", 125L, 160.0), ("m", 245L, 220.0), ("m", 305L, 280.0)),
      "perSecond(m)", 0L, 300L).collect()
    val v = df.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(df.map(_.getLong(1)).toSeq == Seq(60L, 120L, 180L, 240L, 300L))
    assert(v(0).isEmpty)          // leading bucket: no predecessor
    assert(v(1).contains(1.0))    // (160-100)/60
    assert(v(2).isEmpty)          // gap bucket is None
    assert(v(3).isEmpty)          // predecessor None (gap breaks the pair)
    assert(v(4).contains(1.0))    // (280-220)/60
    // counter reset: v < prev → None, not a negative rate
    val r2 = render(
      pts(("m", 65L, 500.0), ("m", 125L, 20.0)), "perSecond(m)", 0L, 120L).collect()
    assert(r2(1).isNullAt(2))
  }

  test("movingAverageSeries: exclusive trailing window over pre-fetched history") {
    // window 2, range [120, 240): output buckets 180, 240. Graphite's
    // movingWindow averages the N points strictly BEFORE each point
    // (current excluded — the r13 review fix): bucket 180 sees buckets
    // {60, 120} and bucket 240 sees {120, 180}. The point at ts 125
    // (bucket 120) is OUTSIDE the requested range but inside both
    // windows — graphite's extra-history fetch.
    val df = render(
      pts(("m", 125L, 6.0), ("m", 185L, 2.0), ("m", 245L, 10.0)),
      "movingAverage(m, 2)", 120L, 240L).collect()
    assert(df.map(_.getLong(1)).toSeq == Seq(180L, 240L))
    assert(df(0).getDouble(2) == 6.0) // avg of preceding {6.0@120}
    assert(df(1).getDouble(2) == 4.0) // avg of preceding {6.0@120, 2.0@180}
    // None members are skipped, not zero-filled; all-None window → None
    // output buckets 120, 180, 240: the 8.0@60 history point feeds
    // bucket 120's window (preceding {0, 60}); later windows with no
    // valid points stay None
    val g = render(pts(("m", 65L, 8.0)), "movingAverage(m, 2)", 60L, 240L).collect()
    assert(g.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq ==
      Seq(Some(8.0), Some(8.0), None))
  }

  test("consolidateSeries under budget is the identity on the dense fetch") {
    val p = pts(("m", 65L, 1.0), ("m", 250L, 8.0))
    val cons = render(p, "m", 0L, 600L, maxDataPoints = 100)
      .collect().map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val dense = Fetch.denseSeries(p, "m", 0L, 600L, 60)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(cons.toSeq == dense.toSeq)
  }

  test("rollup_drift matches a driver recompute; bias ⟺ value divergence") {
    val dir = "/root/testdata/sf0.001"
    val lww = Ingest.lwwAlign(Buckets.points(spark, dir), 60)
      .select("metric", "bucket_ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    def avgBy(rows: Seq[(String, Long, Double)], spp: Long) =
      rows.groupBy { case (m, ts, _) => (m, ts / spp * spp) }
        .map { case (k, v) => (k, v.map(_._3).sum / v.size) }
    val a5 = avgBy(lww, 300).toSeq.map { case ((m, ts), v) => (m, ts, v) }
    val c1h = avgBy(a5, 3600)
    val d1h = avgBy(lww, 3600)
    val got = CoreQueries.rollupDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getInt(5)))
    assert(got.length == c1h.size)
    // the fixture exercises both verdicts (the whole point of the audit)
    assert(got.exists(_._6 == 1) && got.exists(_._6 == 0))
    for ((m, ts, casc, direct, drift, biased) <- got) {
      assert(math.abs(casc - c1h((m, ts))) < 1e-6, s"cascaded $m@$ts")
      assert(math.abs(direct - d1h((m, ts))) < 1e-6, s"direct $m@$ts")
      assert(math.abs(drift - (casc - direct)) < 2e-6, s"drift $m@$ts")
      assert((biased == 1) == (casc != direct), s"flag $m@$ts")
    }
  }
}
