package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Target-string grammar + composition semantics (the graphite render
  * `?target=` surface): each function keeps graphite's semantics, and
  * the two graphite rules — history pre-fetch and step tracking — must
  * propagate through nesting.
  */
class RenderTargetSpec extends AnyFunSuite {
  import RenderTarget.{Call, Leaf}

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

  // shuffle exchanges in an executed plan, through AQE's query stages
  private def shuffles(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    plan match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1 + shuffles(e.child)
      case o => (o.children ++ o.subqueries).map(shuffles).sum
    }
  }

  test("parser: nesting, quoted args, glob with braces and classes") {
    assert(RenderTarget.parse("servers.*.cpu") == Leaf("servers.*.cpu"))
    assert(RenderTarget.parse("perSecond(m.a)") == Call("perSecond", Leaf("m.a"), Nil))
    assert(RenderTarget.parse("summarize(perSecond({a,b}.req), '10min', 'sum')") ==
      Call("summarize", Call("perSecond", Leaf("{a,b}.req"), Nil), Seq("10min", "sum")))
    assert(RenderTarget.parse("movingAverage(sumSeries(disk[0-9].io), 5)") ==
      Call("movingAverage", Call("sumSeries", Leaf("disk[0-9].io"), Nil), Seq("5")))
    // a name that merely looks like a function is a glob
    assert(RenderTarget.parse("perSecondish.metric") == Leaf("perSecondish.metric"))
    intercept[IllegalArgumentException](RenderTarget.parse("perSecond(m.a"))
    intercept[IllegalArgumentException](RenderTarget.parse("summarize(m, '10min') extra"))
  }

  test("durationS: graphite time offsets") {
    assert(RenderTarget.durationS("90") == 90)
    assert(RenderTarget.durationS("10min") == 600)
    assert(RenderTarget.durationS("2h") == 7200)
    assert(RenderTarget.durationS("1day") == 86400)
    intercept[IllegalArgumentException](RenderTarget.durationS("10mon"))
  }

  test("r15 review pins: hitcount step, timeStack defaults, py-replacement") {
    // hitcount coarsens the step like summarize — history above it must
    // extend by n×interval, and combines with summarize members agree
    val e = RenderTarget.parse("movingAverage(hitcount(m.a, '1h'), 3)")
    assert(RenderTarget.stepS(e, 60) == 3600)
    assert(RenderTarget.historyExtS(e, 60) == 3 * 3600)
    val mixed = RenderTarget.parse(
      "group(hitcount(m.a, '1h'), summarize(m.b, '1h', 'sum'))")
    assert(RenderTarget.stepS(mixed, 60) == 3600)
    // timeStack's three args are optional (graphite defaults 1d, 0, 7)
    val bare = RenderTarget.parse("timeStack(m.a)")
    assert(RenderTarget.historyExtS(bare, 60) == 7L * 86400)
    val one = RenderTarget.parse("timeStack(m.a, '1h')")
    assert(RenderTarget.historyExtS(one, 60) == 7L * 3600)
    // Holt-Winters bootstrap rounds UP onto the child's step grid
    val hw = RenderTarget.parse("holtWintersForecast(m.a, 3, '90s')")
    assert(RenderTarget.historyExtS(hw, 60) == 120)
    // aliasSub replacement is python re.sub syntax: \1 = backreference
    val p = pts(("ip-1-2-3TCP42", 65L, 1.0))
    val out = RenderTarget.evaluate(spark, p,
      """aliasSub(ip*TCP*, '^.*TCP(\d+)', '\1')""", 0L, 120L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(out == Seq("42"),
      s"python backreference must rename to the captured group, got $out")
  }

  test("r15 review pins: bare timeStack renders the default stack") {
    val p = pts(("m.a", 65L, 1.0))
    val rows = RenderTarget.evaluate(spark, p, "timeStack(m.a)", 0L, 120L, 60)
      .collect()
    // 8 shifted copies (i in 0..7), each the dense 2-bucket window
    assert(rows.map(_.getString(0)).distinct.length == 8)
  }

  test("r15 review pins: weightedAverage is dense, aliasByNode multi-node") {
    // a bucket where every member is a gap must emit a NULL row, not
    // vanish (dense-grid invariant); metric layout: node 1 pairs sides
    val p = pts(("v.x", 65L, 10.0), ("w.x", 65L, 2.0),
      ("v.x", 245L, 30.0), ("w.x", 245L, 3.0)) // bucket 120/180: gaps
    val rows = RenderTarget.evaluate(spark, p,
      "weightedAverage(v.*, w.*, 1)", 0L, 300L, 60)
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq(60L, 120L, 180L, 240L, 300L),
      s"gap buckets must stay on the grid as NULL rows, got $rows")
    assert(rows(0)._2.contains(10.0) && rows(3)._2.contains(30.0))
    assert(rows(1)._2.isEmpty && rows(2)._2.isEmpty && rows(4)._2.isEmpty)
    // aliasByNode joins ALL requested nodes with '.'
    val p2 = pts(("servers.dc1.web01.cpu", 65L, 1.0))
    val named = RenderTarget.evaluate(spark, p2,
      "aliasByNode(servers.*.*.cpu, 1, 2)", 0L, 120L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(named == Seq("dc1.web01"), s"got $named")
  }

  test("history extension and step propagate through nesting") {
    val e = RenderTarget.parse("movingAverage(summarize(m.a, '5min'), 4)")
    // summarize coarsens step to 300; the window then needs 4×300
    assert(RenderTarget.stepS(e, 60) == 300)
    assert(RenderTarget.historyExtS(e, 60) == 1200)
    val e2 = RenderTarget.parse("movingAverage(movingAverage(m.a, 3), 2)")
    assert(RenderTarget.historyExtS(e2, 60) == 300)
  }

  test("a rate and a window mean on a 6th-decimal midpoint round through round6") {
    // 0.00015 / 60 and the mean of 1.000002 and 1.000003 land on a
    // midpoint of the 6th decimal, where Spark's native round (of the
    // shortest decimal string) and the oracle's round6 disagree
    val rate = pts(("m.a", 65L, 0.0), ("m.a", 125L, 0.00015))
    val mean = pts(("m.a", 65L, 1.000002), ("m.a", 125L, 1.000003))
    // (target, points, from, until, bucket, expected value there)
    val cases = Seq(
      ("perSecond(m.*)", rate, 0L, 240L, 120L, 3.0e-6),
      ("movingAverage(m.*, 2)", mean, 120L, 180L, 180L, 1.000002),
      ("movingWindow(m.*, 2, 'average')", mean, 120L, 180L, 180L, 1.000002),
      ("movingWindow(m.*, 2, 'avg')", mean, 120L, 180L, 180L, 1.000002))
    val wrong = cases.flatMap { case (target, p, from, until, bucket, want) =>
      val got = RenderTarget.evaluate(spark, p, target, from, until, 60).collect()
        .filter(_.getAs[Long]("bucket_ts") == bucket)
        .map(r => Option(r.getAs[java.lang.Double]("value")).map(_.toDouble)).toSeq
      if (got == Seq(Some(want))) None else Some(s"$target gave $got")
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("evaluate: summarize over a rate trims to the aligned coarse bucket") {
    // rate of a steady +60/min counter is 1.0; 5-min sums of 1.0-rates
    val rows = (0 to 20).map(i => ("m.a", i * 60L + 5, 100.0 + 60 * i))
    val df = RenderTarget.evaluate(spark, pts(rows: _*),
      "summarize(perSecond(m.a), '5min', 'sum')", 300L, 1200L, 60).collect()
    // fromI=360 → lo=300; buckets 300..1200
    assert(df.map(_.getLong(1)).toSeq == Seq(300L, 600L, 900L, 1200L))
    // bucket 300 covers fetched minutes 360..540; minute 360 leads the
    // series (no predecessor → None), leaving 3 rates of 1.0
    assert(df(0).getDouble(2) == 3.0)
    assert(df(1).getDouble(2) == 5.0)
    assert(df(2).getDouble(2) == 5.0)
    assert(df(3).getDouble(2) == 1.0) // partial: minute 1200 only
  }

  test("parser: signed and decimal numeric literals") {
    assert(RenderTarget.parse("scale(m.a, 0.5)") ==
      Call("scale", Leaf("m.a"), Seq("0.5")))
    assert(RenderTarget.parse("offset(m.a, -3)") ==
      Call("offset", Leaf("m.a"), Seq("-3")))
    assert(RenderTarget.parse("timeShift(m.a, '1h')") ==
      Call("timeShift", Leaf("m.a"), Seq("1h")))
    intercept[IllegalArgumentException](RenderTarget.parse("scale(m.a, -)"))
  }

  test("parser: digit-leading series arguments vs numeric literals") {
    // a token after ',' that parses as a number but CONTINUES with
    // metric characters is a digit-leading metric, not a literal
    assert(RenderTarget.parse("sumSeries(a.b, 2xx.count)") ==
      Call("sumSeries", Seq(Leaf("a.b"), Leaf("2xx.count")), Nil))
    // dashed nodes: the reversed-IP/hostname shape
    assert(RenderTarget.parse("sumSeries(a.b, 10-0-0-1.cpu)") ==
      Call("sumSeries", Seq(Leaf("a.b"), Leaf("10-0-0-1.cpu")), Nil))
    // a plain number stays a literal
    assert(RenderTarget.parse("movingAverage(m.a, 10)") ==
      Call("movingAverage", Leaf("m.a"), Seq("10")))
    // scientific notation is a literal, not a glob continuation
    assert(RenderTarget.parse("scale(m.a, 1e3)") ==
      Call("scale", Leaf("m.a"), Seq("1e3")))
    assert(RenderTarget.parse("scale(m.a, 1.5e-2)") ==
      Call("scale", Leaf("m.a"), Seq("1.5e-2")))
    // sign-started tokens never re-parse as metrics: unquoted duration
    // units fail loudly AT PARSE, not with an eval-time mystery
    intercept[IllegalArgumentException](RenderTarget.parse("timeShift(m.a, -1h)"))
  }

  test("parser: exponent-shaped metric names in series-only arg slots") {
    // regression (r10 judge, ScalaCheck seed QmjXL23NPpiSfhIz1OrFI8TRy
    // PXLdmjfjDsvlvSEDCK=): a series slot of a combine received a token
    // that is BOTH a legal metric node and a well-formed exponent
    // (`3e5`) and the old grammar committed to the numeric reading,
    // wedging the literal tail on the series that followed. Combines
    // and the other SeriesArgFuncs take no unquoted numerics in leading
    // slots, so the series reading wins there.
    assert(
      RenderTarget.parse("absolute(averageSeries(6f5g, 3e5, vi0j._tmp))") ==
      Call("absolute", Seq(Call("averageSeries",
        Seq(Leaf("6f5g"), Leaf("3e5"), Leaf("vi0j._tmp")), Nil)), Nil))
    // whitespace-insignificance on the same shape (the failing property)
    assert(
      RenderTarget.parse("absolute( averageSeries( 6f5g , 3e5 , vi0j._tmp ) )") ==
      RenderTarget.parse("absolute(averageSeries(6f5g, 3e5, vi0j._tmp))"))
    assert(RenderTarget.parse("sumSeries(a.b, 10e2)") ==
      Call("sumSeries", Seq(Leaf("a.b"), Leaf("10e2")), Nil))
    assert(RenderTarget.parse("group(m.a, 42)") ==
      Call("group", Seq(Leaf("m.a"), Leaf("42")), Nil))
    // OUTSIDE the series-only set the numeric reading is unchanged
    assert(RenderTarget.parse("scale(m.a, 3e5)") ==
      Call("scale", Leaf("m.a"), Seq("3e5")))
    // and a quoted literal in a SeriesArgFuncs tail stays a literal
    assert(RenderTarget.parse("aggregateSeriesLists(a.*, b.*, 'sum')") ==
      Call("aggregateSeriesLists", Seq(Leaf("a.*"), Leaf("b.*")), Seq("sum")))
  }

  test("timeShift contributes to the history extension; '+' rejected") {
    val e = RenderTarget.parse("timeShift(movingAverage(m.a, 5), '1h')")
    assert(RenderTarget.historyExtS(e, 60) == 300 + 3600)
    assert(RenderTarget.stepS(e, 60) == 60)
    val plus = RenderTarget.parse("timeShift(m.a, '+1h')")
    intercept[IllegalArgumentException](RenderTarget.historyExtS(plus, 60))
  }

  test("asPercent: members share of the per-bucket total; gaps stay None") {
    val p = pts(("m.a", 65L, 30.0), ("m.b", 65L, 10.0), ("m.a", 125L, 5.0))
    val out = RenderTarget.evaluate(spark, p, "asPercent(m.*)", 0L, 120L, 60)
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
    assert(out.toSeq == Seq(
      ("m.a", 60L, Some(75.0)), ("m.a", 120L, Some(100.0)),
      ("m.b", 60L, Some(25.0)), ("m.b", 120L, None)))
  }

  test("limit(sortByTotal) selects top series; exclude/grep/aliasSub rename") {
    val p = pts(("m.a", 65L, 100.0), ("m.b", 65L, 10.0), ("m.c", 65L, 50.0))
    val top = RenderTarget.evaluate(spark, p, "limit(sortByTotal(m.*), 2)",
      0L, 60L, 60).collect().map(_.getString(0)).distinct
    assert(top.toSeq == Seq("m.a", "m.c"))
    val ex = RenderTarget.evaluate(spark, p, "exclude(m.*, 'b')",
      0L, 60L, 60).collect().map(_.getString(0)).distinct
    assert(ex.toSeq == Seq("m.a", "m.c"))
    val gr = RenderTarget.evaluate(spark, p, "aliasSub(grep(m.*, 'b'), '^m', 'x')",
      0L, 60L, 60).collect().map(_.getString(0)).distinct
    assert(gr.toSeq == Seq("x.b"))
  }

  test("currentAbove keeps by last KNOWN value; trailing gaps don't hide it") {
    // m.a's last point is in bucket 120 (180 is a gap): still its
    // current value; m.b current = 5 → dropped by currentAbove 20
    val p = pts(("m.a", 65L, 1.0), ("m.a", 125L, 42.0),
      ("m.b", 65L, 50.0), ("m.b", 185L, 5.0))
    val keep = RenderTarget.evaluate(spark, p, "currentAbove(m.*, 20)",
      0L, 180L, 60).collect().map(_.getString(0)).distinct
    assert(keep.toSeq == Seq("m.a"))
  }

  test("movingMedian/movingSum window; stdev population deviation") {
    val p = pts(("m.a", 65L, 1.0), ("m.a", 125L, 9.0), ("m.a", 185L, 2.0))
    val med = RenderTarget.evaluate(spark, p, "movingMedian(m.a, 2)",
      120L, 180L, 60).collect().map(r => Option(r.get(2)))
    // graphite's movingWindow EXCLUDES the current point: bucket 180
    // sees the two PRECEDING buckets {60:1, 120:9} → median 5.0
    assert(med.last == Some(5.0))
    val ms = RenderTarget.evaluate(spark, p, "movingSum(m.a, 3)",
      120L, 180L, 60).collect().map(r => Option(r.get(2)))
    // preceding {0:∅, 60:1, 120:9} → 10.0
    assert(ms.last == Some(10.0))
    val sd = RenderTarget.evaluate(spark, p, "stdev(m.a, 2)",
      120L, 180L, 60).collect().map(r => Option(r.get(2)))
    // stdev is graphite's OTHER lineage — current point INCLUDED:
    // population stddev of {9, 2} = 3.5
    assert(sd.last == Some(3.5))
  }

  test("percentileOfSeries collapses members; removeAbovePercentile masks") {
    val p = pts(("m.a", 65L, 1.0), ("m.b", 65L, 2.0), ("m.c", 65L, 3.0),
      ("m.d", 65L, 4.0))
    val pc = RenderTarget.evaluate(spark, p, "percentileOfSeries(m.*, 50)",
      0L, 60L, 60).collect()
    assert(pc.map(_.getString(0)).toSeq == Seq("percentileOfSeries"))
    assert(pc.head.getDouble(2) == 2.5) // continuous median of 1..4
    val tr = RenderTarget.evaluate(spark, p, "removeAbovePercentile(m.*, 75)",
      0L, 60L, 60).collect()
      .map(r => (r.getString(0), Option(r.get(2)))).toMap
    // 75th pct of each single-value series is the value itself → kept
    assert(tr("m.a") == Some(1.0) && tr("m.d") == Some(4.0))
  }

  test("constantLine draws the grid; consolidateBy + xFilesFactor cap points") {
    val cl = RenderTarget.evaluate(spark, pts(("m.a", 65L, 1.0)),
      "constantLine(42.5)", 0L, 120L, 60).collect()
    assert(cl.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("42.5", 60L, 42.5), ("42.5", 120L, 42.5)))
    // 4 minute slots → maxDataPoints 2 → 2-slot frames anchored at lo:
    // {60,120} and {180,240}; 'max' consolidation
    val p = pts(("m.a", 65L, 1.0), ("m.a", 245L, 7.0))
    val noXff = RenderTarget.evaluate(spark, p,
      "consolidateBy(m.a, 'max')", 0L, 240L, 60, maxDataPoints = 2)
      .collect().map(r => (r.getLong(1), Option(r.get(2))))
    assert(noXff.toSeq == Seq((60L, Some(1.0)), (180L, Some(7.0))))
    // xff 0.6: both frames know only 1 of 2 slots → None
    val xff = RenderTarget.evaluate(spark, p,
      "consolidateBy(xFilesFactor(m.a, 0.6), 'max')", 0L, 240L, 60,
      maxDataPoints = 2)
      .collect().map(r => (r.getLong(1), Option(r.get(2))))
    assert(xff.toSeq == Seq((60L, None), (180L, None)))
  }

  test("members, a divisor and a generator render on the gathered aggregate") {
    // targets whose members union or join: the rows are graphite's, and
    // the only shuffle is the shared aggregate's (reused by every leaf)
    val p = pts(("a.x", 65L, 1.0), ("a.x", 125L, 2.0), ("a.y", 65L, 3.0),
      ("b.x", 65L, 4.0), ("b.x", 125L, 8.0))
    for ((target, expect) <- Seq(
        "sumSeries(a.*, b.*)" ->
          Seq(("sumSeries", 60L, Some(8.0)), ("sumSeries", 120L, Some(10.0))),
        "divideSeries(a.*, sumSeries(b.*))" ->
          Seq(("a.x", 60L, Some(0.25)), ("a.x", 120L, Some(0.25)),
            ("a.y", 60L, Some(0.75)), ("a.y", 120L, None)),
        "sumSeries(a.*, constantLine(1))" ->
          Seq(("sumSeries", 60L, Some(5.0)), ("sumSeries", 120L, Some(3.0))))) {
      val df = RenderTarget.evaluate(spark, p, target, 0L, 120L, 60)
      assert(df.collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
        .toSeq == expect, target)
      assert(shuffles(df.queryExecution.executedPlan) == 1,
        s"$target:\n${df.queryExecution.executedPlan}")
    }
  }

  test("an aggregate estimated above one partition keeps its exchanges") {
    val p = pts(("a.x", 65L, 1.0), ("a.x", 125L, 2.0), ("a.y", 65L, 3.0),
      ("b.x", 65L, 4.0), ("b.x", 125L, 8.0))
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prior = spark.conf.get(key)
    for (target <- Seq("sumSeries(a.*, b.*)", "movingAverage(a.*, 1)")) {
      def render() = RenderTarget.evaluate(spark, p, target, 0L, 120L, 60)
      val small = render()
      spark.conf.set(key, "1")
      val wide = try render() finally spark.conf.set(key, prior)
      assert(wide.collect().toSeq == small.collect().toSeq, target)
      assert(shuffles(wide.queryExecution.executedPlan) >
        shuffles(small.queryExecution.executedPlan), target)
    }
  }

  test("diffSeries None-as-0; multiplySeries strict; range/stddev combines") {
    val p = pts(("m.a", 65L, 5.0), ("m.b", 65L, 3.0), ("m.a", 125L, 2.0))
    def vals(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    // bucket 120: b is None → treated as 0 for diff, strict for multiply
    assert(vals("diffSeries(m.a, m.b)") == Seq(Some(2.0), Some(2.0)))
    assert(vals("multiplySeries(m.a, m.b)") == Seq(Some(15.0), None))
    assert(vals("rangeOfSeries(m.*)") == Seq(Some(2.0), Some(0.0)))
    assert(vals("stddevSeries(m.*)") == Seq(Some(1.0), Some(0.0)))
  }

  test("pointwise math tier: log/pow/sqrt/invert/scaleToSeconds/offsetToZero") {
    val p = pts(("m.a", 65L, 100.0), ("m.a", 125L, 4.0))
    def vals(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    assert(vals("logarithm(m.a, 10)") == Seq(Some(2.0), Some(0.60206)))
    assert(vals("pow(m.a, 2)") == Seq(Some(10000.0), Some(16.0)))
    assert(vals("squareRoot(m.a)") == Seq(Some(10.0), Some(2.0)))
    assert(vals("invert(m.a)") == Seq(Some(0.01), Some(0.25)))
    // ×(120/60) = doubling at the 60 s step
    assert(vals("scaleToSeconds(m.a, 120)") == Seq(Some(200.0), Some(8.0)))
    assert(vals("offsetToZero(m.a)") == Seq(Some(96.0), Some(0.0)))
    // negative sqrt and log of non-positive are None, not NaN
    val neg = pts(("m.a", 65L, -4.0))
    assert(RenderTarget.evaluate(spark, neg, "squareRoot(m.a)", 0L, 60L, 60)
      .collect().map(r => Option(r.get(2))).toSeq == Seq(None))
    assert(RenderTarget.evaluate(spark, neg, "logarithm(m.a)", 0L, 60L, 60)
      .collect().map(r => Option(r.get(2))).toSeq == Seq(None))
  }

  test("selection tier 2: maximumAbove/lowestAverage/highestCurrent/nPercentile") {
    val p = pts(
      ("m.a", 65L, 100.0), ("m.a", 125L, 1.0),   // spiky, avg 50.5
      ("m.b", 65L, 90.0), ("m.b", 125L, 85.0),   // spiky, avg 87.5
      ("m.c", 65L, 10.0), ("m.c", 125L, 20.0))   // calm
    def mets(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(mets("maximumAbove(m.*, 80)") == Seq("m.a", "m.b"))
    assert(mets("maximumBelow(m.*, 80)") == Seq("m.c"))
    assert(mets("lowestAverage(maximumAbove(m.*, 80), 1)") == Seq("m.a"))
    assert(mets("highestCurrent(m.*, 1)") == Seq("m.b"))
    assert(mets("lowestCurrent(m.*, 1)") == Seq("m.a"))
    // nPercentile: every bucket becomes the series' own percentile line
    val np = RenderTarget.evaluate(spark, p, "nPercentile(m.c, 100)",
      0L, 120L, 60).collect().map(_.getDouble(2)).toSeq
    assert(np == Seq(20.0, 20.0))
  }

  test("timeStack overlays shifted copies; isNonNull/changed flag presence") {
    val p = pts(("m.a", 65L, 1.0), ("m.a", 125L, 2.0))
    val st = RenderTarget.evaluate(spark, p, "timeStack(m.a, '1min', 0, 1)",
      0L, 120L, 60).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)))).toSeq
    // @-0 is the series itself; @-1 shows each bucket's predecessor
    assert(st == Seq(
      ("m.a@-0", 60L, Some(1.0)), ("m.a@-0", 120L, Some(2.0)),
      ("m.a@-1", 60L, None), ("m.a@-1", 120L, Some(1.0))))
    val g = pts(("m.a", 65L, 1.0), ("m.a", 185L, 2.0)) // gap at 120
    val ch = RenderTarget.evaluate(spark, g, "changed(isNonNull(m.a))",
      0L, 180L, 60).collect().map(_.getDouble(2)).toSeq
    // presence 1,0,1 → changed 0(first),1,1
    assert(ch == Seq(0.0, 1.0, 1.0))
  }

  test("interpolate bridges linearly within the limit; edges stay None") {
    // grid 60..360: 1.0 at 60, gap ×2, 4.0 at 240, trailing gap
    val p = pts(("m.a", 65L, 1.0), ("m.a", 245L, 4.0))
    val in = RenderTarget.evaluate(spark, p, "interpolate(m.a, 3)",
      0L, 360L, 60).collect().map(r => Option(r.get(2))).toSeq
    assert(in == Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None, None))
    // run longer than the limit stays None
    val lim = RenderTarget.evaluate(spark, p, "interpolate(m.a, 1)",
      0L, 360L, 60).collect().map(r => Option(r.get(2))).toSeq
    assert(lim == Seq(Some(1.0), None, None, Some(4.0), None, None))
  }

  test("summarize alignToFrom anchors at the request, not the epoch") {
    val rows = (1 to 10).map(i => ("m.a", i * 60L + 5, 1.0))
    // fromI = 120; '3min' epoch buckets would start at 0/180/360 —
    // alignToFrom starts at 120
    val a = RenderTarget.evaluate(spark, pts(rows: _*),
      "summarize(m.a, '3min', 'sum', true)", 60L, 600L, 60).collect()
    assert(a.map(_.getLong(1)).toSeq == Seq(120L, 300L, 480L))
    assert(a.map(_.getDouble(2)).toSeq == Seq(3.0, 3.0, 3.0))
  }

  test("aliasByMetric / substr slice metric nodes; averageOutsidePercentile") {
    val p = pts(("dc1.web.cpu", 65L, 1.0))
    def name(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 60L, 60)
      .collect().head.getString(0)
    assert(name("aliasByMetric(dc1.web.cpu)") == "cpu")
    assert(name("substr(dc1.web.cpu, 1)") == "web.cpu")
    assert(name("substr(dc1.web.cpu, 1, 2)") == "web")
    // 5 series, averages 1..5; the [20th, 80th] band keeps only the ends
    val q = pts(("m.a", 65L, 1.0), ("m.b", 65L, 2.0), ("m.c", 65L, 3.0),
      ("m.d", 65L, 4.0), ("m.e", 65L, 5.0))
    val keep = RenderTarget.evaluate(spark, q,
      "averageOutsidePercentile(m.*, 80)", 0L, 60L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(keep == Seq("m.a", "m.e"))
  }

  test("group unions lists; groupByNodes keys multi-node; weightedAverage") {
    val p = pts(("dc1.web.cpu", 65L, 10.0), ("dc1.db.cpu", 65L, 30.0),
      ("dc2.web.cpu", 65L, 20.0))
    val g = RenderTarget.evaluate(spark, p, "group(dc1.*.cpu, dc2.*.cpu)",
      0L, 60L, 60).collect().map(_.getString(0)).toSeq
    assert(g == Seq("dc1.db.cpu", "dc1.web.cpu", "dc2.web.cpu"))
    val gn = RenderTarget.evaluate(spark, p, "groupByNodes(*.*.cpu, 'sum', 1, 2)",
      0L, 60L, 60).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(gn == Seq(("db.cpu", 30.0), ("web.cpu", 30.0)))
    // value=weight → Σv²/Σv; keys at node 1: web (10, 20 dup → name-max
    // dc2 wins → 20), db (30) → (400+900)/50 = 26
    val wa = RenderTarget.evaluate(spark, p,
      "weightedAverage(*.*.cpu, *.*.cpu, 1)", 0L, 60L, 60).collect()
    assert(wa.map(_.getString(0)).toSeq == Seq("weightedAverage"))
    assert(wa.head.getDouble(2) == 26.0)
  }

  test("holtWinters: constant series forecasts itself, bands collapse, " +
      "aberration flags the spike") {
    // constant 10 every minute 60..600; spike 100 at 480
    val flat = (1 to 10).map(i => ("m.a", i * 60L + 5, 10.0))
    val spiky = flat.map { case (m, t, v) =>
      if (t == 485L) (m, t, 100.0) else (m, t, v) }
    // season 2 min, bootstrap 4 min of pre-history before from=240
    def run(t: String, rows: Seq[(String, Long, Double)]) =
      RenderTarget.evaluate(spark, pts(rows: _*), t, 240L, 600L, 60)
        .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
    val fc = run("holtWintersForecast(m.a, 3, '4min', '2min')", flat)
    assert(fc.forall(_._3 == Some(10.0)), fc.mkString(", "))
    val bands = run("holtWintersConfidenceBands(m.a, 3, '4min', '2min')", flat)
    assert(bands.map(_._1).distinct.toSeq == Seq("m.a@lower", "m.a@upper"))
    assert(bands.forall(_._3 == Some(10.0))) // zero deviation → collapsed
    val ab = run("holtWintersAberration(m.a, 3, '4min', '2min')", spiky)
    val byTs = ab.map(r => r._2 -> r._3.get.asInstanceOf[Double]).toMap
    assert(byTs(480L) > 50.0, s"spike not flagged: $byTs")
    assert(byTs(300L) == 0.0 && byTs(360L) == 0.0 && byTs(420L) == 0.0)
  }

  test("smartSummarize/delay/minMax/integralByInterval/EMA semantics") {
    val p = pts(("m.a", 65L, 1.0), ("m.a", 125L, 3.0), ("m.a", 185L, 5.0),
      ("m.a", 245L, 7.0))
    def vals(t: String, from: Long = 0L, until: Long = 240L) =
      RenderTarget.evaluate(spark, p, t, from, until, 60)
        .collect().map(r => Option(r.get(2))).toSeq
    // smartSummarize anchors 2-min buckets at fromI=120, not the epoch
    val sm = RenderTarget.evaluate(spark, p,
      "smartSummarize(m.a, '2min', 'sum')", 60L, 240L, 60).collect()
    assert(sm.map(_.getLong(1)).toSeq == Seq(120L, 240L))
    assert(sm.map(_.getDouble(2)).toSeq == Seq(8.0, 7.0))
    assert(vals("delay(m.a, 1)") == Seq(None, Some(1.0), Some(3.0), Some(5.0)))
    assert(vals("minMax(m.a)") ==
      Seq(Some(0.0), Some(0.333333), Some(0.666667), Some(1.0)))
    // integral resets at each 2-min boundary (epoch-aligned chunks:
    // {60}, {120,180}, {240})
    assert(vals("integralByInterval(m.a, '2min')") ==
      Seq(Some(1.0), Some(3.0), Some(8.0), Some(7.0)))
    // EMA with N=3 → α=0.5, seeded at 1 in the pre-fetched history:
    // 1, 2, 3.5, then the one requested bucket shows 5.25
    assert(vals("exponentialMovingAverage(m.a, 3)", 180L, 240L) ==
      Seq(Some(5.25)))
  }

  test("wildcards combines, pointwise aliases, and generators") {
    val p = pts(("dc1.web.cpu", 65L, 10.0), ("dc2.web.cpu", 65L, 30.0),
      ("dc1.db.cpu", 65L, 5.0))
    val sw = RenderTarget.evaluate(spark, p,
      "sumSeriesWithWildcards(*.*.cpu, 0)", 0L, 60L, 60).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(sw == Seq(("db.cpu", 5.0), ("web.cpu", 40.0)))
    val aw = RenderTarget.evaluate(spark, p,
      "averageSeriesWithWildcards(*.*.cpu, 0, 1)", 0L, 60L, 60).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(aw == Seq(("cpu", 15.0)))
    // the wildcard product is graphite's strict safeMul: a None member
    // (dc2.web.cpu at 120) makes its bucket None
    val pm = pts(("dc1.web.cpu", 65L, 10.0), ("dc2.web.cpu", 65L, 30.0),
      ("dc1.web.cpu", 125L, 2.0), ("dc1.db.cpu", 65L, 5.0), ("dc1.db.cpu", 125L, 4.0))
    for (t <- Seq("multiplySeriesWithWildcards(*.*.cpu, 0)",
        "aggregateWithWildcards(*.*.cpu, 'multiply', 0)")) {
      val rows = RenderTarget.evaluate(spark, pm, t, 0L, 120L, 60).collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)))).toSeq
      assert(rows == Seq(("db.cpu", 60L, Some(5.0)), ("db.cpu", 120L, Some(4.0)),
        ("web.cpu", 60L, Some(300.0)), ("web.cpu", 120L, None)), t)
    }
    def one(t: String) = RenderTarget.evaluate(spark,
      pts(("m.a", 65L, 2.0)), t, 0L, 60L, 60).collect().head
    assert(one("add(m.a, 5)").getDouble(2) == 7.0)
    assert(one("exp(m.a)").getDouble(2) == 7.389056)
    assert(one("sigmoid(m.a)").getDouble(2) == 0.880797)
    assert(one("roundFunction(scale(m.a, 1.28), 1)").getDouble(2) == 2.6)
    val idr = one("identity('t')")
    assert(idr.getString(0) == "t" && idr.getDouble(2) == 60.0)
    assert(one("sinFunction('s', 2)").getDouble(2) ==
      BigDecimal(math.sin(60.0) * 2).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("seriesByTag selects by tag predicates; groupByTags/aliasByTags") {
    val p = pts(
      ("cpu;dc=us-east;host=a", 65L, 1.0),
      ("cpu;dc=us-west;host=b", 65L, 2.0),
      ("cpu;dc=eu-1;host=c", 65L, 4.0),
      ("mem;dc=us-east;host=a", 65L, 8.0))
    def mets(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 60L, 60)
      .collect().map(_.getString(0)).toSeq
    assert(mets("seriesByTag('name=cpu', 'dc=~us-.*')") ==
      Seq("cpu;dc=us-east;host=a", "cpu;dc=us-west;host=b"))
    assert(mets("seriesByTag('dc=us-east')") ==
      Seq("cpu;dc=us-east;host=a", "mem;dc=us-east;host=a"))
    assert(mets("seriesByTag('name!=mem', 'dc!=~us-.*')") ==
      Seq("cpu;dc=eu-1;host=c"))
    // tag-expr with parens inside quotes parses (quoted-Leaf grammar)
    assert(mets("seriesByTag('dc=~(us-east|eu-1)')") ==
      Seq("cpu;dc=eu-1;host=c", "cpu;dc=us-east;host=a",
        "mem;dc=us-east;host=a"))
    val grouped = RenderTarget.evaluate(spark, p,
      "groupByTags(seriesByTag('name=cpu'), 'sum', 'dc')", 0L, 60L, 60)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(grouped == Seq(("cpu;dc=eu-1", 4.0), ("cpu;dc=us-east", 1.0),
      ("cpu;dc=us-west", 2.0)))
    val aliased = RenderTarget.evaluate(spark, p,
      "aliasByTags(seriesByTag('name=mem'), 'host', 'dc')", 0L, 60L, 60)
      .collect().map(_.getString(0)).toSeq
    assert(aliased == Seq("a.us-east"))
  }

  test("the gathered aggregate holds only series a tag selection or glob names") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val p = pts(("err;dc=a", 65L, 2.0), ("err;dc=a", 125L, 3.0),
      ("req;dc=a", 65L, 4.0), ("req;dc=a", 125L, 6.0),
      ("other;dc=a", 65L, 5.0), ("other;dc=a", 125L, 5.0),
      ("app.x", 65L, 1.0), ("noise.y", 65L, 7.0))
    def readsShuffle(q: SparkPlan): Boolean = q match {
      case i: org.apache.spark.sql.execution.InputAdapter => readsShuffle(i.child)
      case r: AQEShuffleReadExec => readsShuffle(r.child)
      case _: ShuffleQueryStageExec => true
      case _ => false
    }
    // output rows of each final aggregate: the one over the shuffle
    def gathered(q: SparkPlan): Seq[Long] = q match {
      case a: AdaptiveSparkPlanExec => gathered(a.executedPlan)
      case s: QueryStageExec => gathered(s.plan)
      case a: BaseAggregateExec if readsShuffle(a.child) =>
        Seq(a.metrics("numOutputRows").value)
      case o => (o.children ++ o.subqueries).flatMap(gathered)
    }
    for ((target, expect, rows) <- Seq(
        ("divideSeries(seriesByTag('name=err'), sumSeries(seriesByTag('name=req')))",
          Seq((60L, Some(0.5)), (120L, Some(0.5))), 4L),
        ("sumSeries(seriesByTag('name=err'), app.*)",
          Seq((60L, Some(3.0)), (120L, Some(3.0))), 3L))) {
      val df = RenderTarget.evaluate(spark, p, target, 0L, 120L, 60)
      assert(df.collect().map(r => (r.getLong(1), Option(r.get(2)))).toSeq == expect, target)
      val got = gathered(df.queryExecution.executedPlan)
      assert(got.nonEmpty && got.forall(_ == rows),
        s"$target: final aggregates output $got rows, want $rows each:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("filterSeries/highest/lowest/removeEmptySeries selection forms") {
    val p = pts(("m.a", 65L, 100.0), ("m.a", 125L, 1.0),
      ("m.b", 65L, 90.0), ("m.b", 125L, 85.0),
      ("m.c", 65L, 10.0), ("m.c", 125L, 20.0))
    def mets(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(mets("filterSeries(m.*, 'max', '>', 80)") == Seq("m.a", "m.b"))
    assert(mets("filterSeries(m.*, 'last', '<=', 20)") == Seq("m.a", "m.c"))
    assert(mets("filterSeries(m.*, 'sum', '>=', 101)") == Seq("m.a", "m.b"))
    assert(mets("highest(m.*, 1, 'average')") == Seq("m.b"))
    // maxes: a=100, b=90, c=20 → lowest 2 by max keeps c and b
    assert(mets("lowest(m.*, 2, 'max')") == Seq("m.b", "m.c"))
    // m.c's values all fall below the floor → its series goes all-None
    // and removeEmptySeries drops it from the frame
    assert(mets("removeEmptySeries(removeBelowValue(m.*, 50))") ==
      Seq("m.a", "m.b"))
  }

  test("presentational functions parse and pass data through unchanged") {
    val p = pts(("m.a", 65L, 2.5))
    val styled = "secondYAxis(color(dashed(lineWidth(m.a, 2), 5), 'red'))"
    val out = RenderTarget.evaluate(spark, p, styled, 0L, 60L, 60)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(("m.a", 60L, 2.5)))
    val cacti = RenderTarget.evaluate(spark, p, "cactiStyle(stacked(m.a))",
      0L, 60L, 60).collect()
    assert(cacti.head.getDouble(2) == 2.5)
  }

  test("pointwise: scale/offset/absolute propagate None and round") {
    val p = pts(("m.a", 65L, 2.5), ("m.a", 185L, -4.0))
    val df = RenderTarget.evaluate(spark, p,
      "absolute(offset(scale(m.a, -2), 1))", 0L, 240L, 60).collect()
    // minute 60: |2.5·−2 + 1| = 4; minute 120 is a gap → None; 180: |9|
    assert(df.map(r => Option(r.get(2))).toSeq ==
      Seq(Some(4.0), None, Some(9.0), None))
  }

  test("derivative passes resets through; nonNegativeDerivative gates them") {
    val p = pts(("m.a", 65L, 10.0), ("m.a", 125L, 14.0), ("m.a", 185L, 3.0),
      ("m.a", 245L, 5.0))
    val d = RenderTarget.evaluate(spark, p, "derivative(m.a)", 0L, 240L, 60)
      .collect().map(r => Option(r.get(2)))
    assert(d.toSeq == Seq(None, Some(4.0), Some(-11.0), Some(2.0)))
    val nn = RenderTarget.evaluate(spark, p, "nonNegativeDerivative(m.a)",
      0L, 240L, 60).collect().map(r => Option(r.get(2)))
    assert(nn.toSeq == Seq(None, Some(4.0), None, Some(2.0)))
  }

  test("integral accumulates across gaps, emits None at them") {
    val p = pts(("m.a", 65L, 1.0), ("m.a", 185L, 2.0), ("m.a", 245L, 3.0))
    val df = RenderTarget.evaluate(spark, p, "integral(m.a)", 0L, 240L, 60)
      .collect().map(r => Option(r.get(2)))
    assert(df.toSeq == Seq(Some(1.0), None, Some(3.0), Some(6.0)))
  }

  test("keepLastValue bridges short runs whole, leaves long and leading runs") {
    // grid 60..660: v at 60; gap 120..180 (len 2 ≤ limit); v at 240;
    // gap 300..480 (len 4 > limit); v at 540; trailing gap 600..660 (len 2)
    val p = pts(("m.a", 65L, 1.0), ("m.a", 245L, 2.0), ("m.a", 545L, 3.0))
    val df = RenderTarget.evaluate(spark, p, "keepLastValue(m.a, 2)",
      0L, 660L, 60).collect().map(r => Option(r.get(2)))
    assert(df.toSeq == Seq(Some(1.0), Some(1.0), Some(1.0), Some(2.0),
      None, None, None, None, Some(3.0), Some(3.0), Some(3.0)))
    // leading gap: no predecessor → stays None even under the limit
    val lead = RenderTarget.evaluate(spark,
      pts(("m.a", 185L, 7.0)), "keepLastValue(m.a, 5)",
      0L, 240L, 60).collect().map(r => Option(r.get(2)))
    assert(lead.toSeq == Seq(None, None, Some(7.0), Some(7.0)))
  }

  test("timeShift re-stamps a summarized series and trims past until") {
    // child values: minute-of-day index; shift by 10 minutes at 5-min step
    val rows = (0 to 20).map(i => ("m.a", i * 60L + 5, i.toDouble))
    val df = RenderTarget.evaluate(spark, pts(rows: _*),
      "timeShift(summarize(m.a, '5min', 'sum'), '10min')", 600L, 1200L, 60)
      .collect()
    // requested coarse grid 600..1200; bucket b shows the child's b−600
    assert(df.map(_.getLong(1)).toSeq == Seq(600L, 900L, 1200L))
    // child bucket 0 sums fetched minutes 60..240 (fetchInterval drops
    // minute 0) = 1+2+3+4; buckets 300,600 are full 5-minute sums
    assert(df.map(_.getDouble(2)).toSeq == Seq(10.0, 5 + 6 + 7 + 8 + 9.0,
      10 + 11 + 12 + 13 + 14.0))
  }

  test("parser: multiple series arguments then literal tail") {
    assert(RenderTarget.parse("divideSeries(sumSeries(a.b), countSeries(a.b))") ==
      Call("divideSeries",
        Seq(Call("sumSeries", Leaf("a.b"), Nil),
          Call("countSeries", Leaf("a.b"), Nil)), Nil))
    assert(RenderTarget.parse("sumSeries(a.one, a.two, b.*)") ==
      Call("sumSeries", Seq(Leaf("a.one"), Leaf("a.two"), Leaf("b.*")), Nil))
    assert(RenderTarget.parse("groupByNode(s.*.m, 1, 'sum')") ==
      Call("groupByNode", Seq(Leaf("s.*.m")), Seq("1", "sum")))
  }

  test("combine family: avg/min/max skip None; countSeries counts members") {
    val p = pts(("m.a", 65L, 2.0), ("m.a", 125L, 4.0), ("m.b", 65L, 6.0))
    def run(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(r => (r.getString(0), Option(r.get(2)))).toSeq
    // grid 60,120: m.a=(2,4), m.b=(6,None)
    assert(run("averageSeries(m.*)") ==
      Seq(("averageSeries", Some(4.0)), ("averageSeries", Some(4.0))))
    assert(run("maxSeries(m.*)") ==
      Seq(("maxSeries", Some(6.0)), ("maxSeries", Some(4.0))))
    assert(run("minSeries(m.*)") ==
      Seq(("minSeries", Some(2.0)), ("minSeries", Some(4.0))))
    // member count is constant — None members still count
    assert(run("countSeries(m.*)") ==
      Seq(("countSeries", Some(2.0)), ("countSeries", Some(2.0))))
  }

  test("divideSeries: None and zero divisors yield None; divisor shape enforced") {
    val p = pts(("m.a", 65L, 10.0), ("m.a", 125L, 20.0),
      ("z.t", 65L, 5.0), ("z.t", 125L, 0.0))
    val df = RenderTarget.evaluate(spark, p,
      "divideSeries(sumSeries(m.*), sumSeries(z.*))", 0L, 180L, 60)
      .collect().map(r => Option(r.get(2)))
    // 10/5=2; 20/0 → None; bucket 180: both None → None
    assert(df.toSeq == Seq(Some(2.0), None, None))
    intercept[IllegalArgumentException](RenderTarget.evaluate(spark, p,
      "divideSeries(sumSeries(m.*), z.t)", 0L, 180L, 60))
  }

  test("groupByNode aggregates per node; aliasByNode renames") {
    val p = pts(("s0.click", 65L, 1.0), ("s1.click", 65L, 3.0),
      ("s0.view", 65L, 5.0))
    val g = RenderTarget.evaluate(spark, p, "groupByNode(s?.*, 1, 'sum')",
      0L, 60L, 60).collect().map(r => (r.getString(0), Option(r.get(2)))).toSeq
    assert(g == Seq(("click", Some(4.0)), ("view", Some(5.0))))
    val a = RenderTarget.evaluate(spark, p, "aliasByNode(s?.*, 0)",
      0L, 60L, 60).collect().map(_.getString(0)).toSeq
    assert(a.sorted == Seq("s0", "s0", "s1"))
  }

  test("node indices follow python list semantics: negatives from the end") {
    // -1 = last dot-node, the most common dashboard form (r15 advice);
    // all four node-addressed functions share the one resolver
    val p = pts(("servers.dc1.web01.cpu", 65L, 1.0),
      ("servers.dc2.web02.cpu", 65L, 3.0))
    val a = RenderTarget.evaluate(spark, p,
      "aliasByNode(servers.*.*.cpu, -3, -2)", 0L, 60L, 60)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(a == Seq("dc1.web01", "dc2.web02"), s"got $a")
    val g = RenderTarget.evaluate(spark, p,
      "groupByNode(servers.*.*.cpu, -1, 'sum')", 0L, 60L, 60)
      .collect().map(r => (r.getString(0), Option(r.get(2)))).toSeq
    assert(g == Seq(("cpu", Some(4.0))), s"got $g")
    val gn = RenderTarget.evaluate(spark, p,
      "groupByNodes(servers.*.*.cpu, 'sum', 0, -1)", 0L, 60L, 60)
      .collect().map(r => (r.getString(0), Option(r.get(2)))).toSeq
    assert(gn == Seq(("servers.cpu", Some(4.0))), s"got $gn")
    // an index past either end resolves to NULL, same as positive form
    val oob = RenderTarget.evaluate(spark, p,
      "aliasByNode(servers.*.*.cpu, -9)", 0L, 60L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(oob == Seq(""), s"got $oob")
    // reduceSeries: the tag node addressed from the end, key = the rest
    val rp = pts(("s0.click", 65L, 30.0), ("s0.view", 65L, 60.0))
    val red = RenderTarget.evaluate(spark, rp,
      "reduceSeries(mapSeries(s*.*, 0), 'asPercent', -1, 'click', 'view')",
      0L, 60L, 60).collect()
      .map(r => (r.getString(0), Option(r.get(2)))).toSeq
    assert(red == Seq(("s0", Some(50.0))), s"got $red")
    // weightedAverage pairs sides by a negative node too
    val wp = pts(("v.x", 65L, 10.0), ("w.x", 65L, 2.0))
    val wa = RenderTarget.evaluate(spark, wp,
      "weightedAverage(v.*, w.*, -1)", 0L, 60L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    assert(wa == Seq(Some(10.0)), s"got $wa")
  }

  test("highestAverage keeps top-n by requested-window mean, ties by name") {
    val rows = Seq(("p.a", 65L, 1.0), ("p.b", 65L, 9.0), ("p.c", 65L, 5.0),
      ("p.d", 65L, 9.0))
    val df = RenderTarget.evaluate(spark, pts(rows: _*),
      "highestAverage(p.*, 2)", 0L, 60L, 60).collect()
    assert(df.map(_.getString(0)).sorted.toSeq == Seq("p.b", "p.d"))
    val m = RenderTarget.evaluate(spark, pts(rows: _*),
      "highestMax(p.*, 3)", 0L, 60L, 60).collect()
    assert(m.map(_.getString(0)).sorted.toSeq == Seq("p.b", "p.c", "p.d"))
  }

  test("highestAverage ranks only the requested window, not pre-fetch history") {
    // m.hist is huge ONLY in the pre-fetched history below from
    // (bucket 240 sits inside movingAverage's extension, below fromI=360)
    val rows = Seq(("m.hist", 245L, 1000.0), ("m.hist", 365L, 1.0),
      ("m.live", 245L, 1.0), ("m.live", 365L, 5.0))
    val df = RenderTarget.evaluate(spark, pts(rows: _*),
      "movingAverage(highestAverage(m.*, 1), 2)", 300L, 420L, 60).collect()
    assert(df.map(_.getString(0)).distinct.toSeq == Seq("m.live"))
  }

  test("transformNull fills, remove(Below|Above)Value blank to None, alias renames") {
    val p = pts(("m.a", 65L, 10.0), ("m.a", 185L, 30.0))
    def vals(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 180L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    assert(vals("transformNull(m.a, 7)") == Seq(Some(10.0), Some(7.0), Some(30.0)))
    assert(vals("transformNull(m.a)") == Seq(Some(10.0), Some(0.0), Some(30.0)))
    assert(vals("removeBelowValue(m.a, 20)") == Seq(None, None, Some(30.0)))
    assert(vals("removeAboveValue(m.a, 20)") == Seq(Some(10.0), None, None))
    val a = RenderTarget.evaluate(spark, p, "alias(m.a, 'renamed')", 0L, 180L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(a == Seq("renamed"))
  }

  test("hitcount totals rate×step per interval, None only when all members None") {
    // per-minute rates 2.0 at minutes 60..240; minutes 300+ empty
    val rows = (1 to 4).map(i => ("m.a", i * 60L + 5, 2.0))
    val df = RenderTarget.evaluate(spark, pts(rows: _*),
      "hitcount(m.a, '5min')", 0L, 540L, 60).collect()
    assert(df.map(_.getLong(1)).toSeq == Seq(0L, 300L))
    // bucket 0 covers minutes 60..240: 4 × 2.0 × 60 = 480 hits;
    // bucket 300 (minutes 300..540) is all-None → None
    assert(Option(df(0).get(2)) == Some(480.0))
    assert(Option(df(1).get(2)).isEmpty)
  }

  test("averageAbove keeps threshold ties (inclusive) and drops the rest") {
    val p = pts(("m.lo", 65L, 1.0), ("m.mid", 65L, 5.0), ("m.hi", 65L, 9.0))
    val kept = RenderTarget.evaluate(spark, p, "averageAbove(m.*, 5)",
      0L, 60L, 60).collect().map(_.getString(0)).sorted.toSeq
    assert(kept == Seq("m.hi", "m.mid"))
  }

  test("evaluate: movingAverage pre-fetches history through sumSeries") {
    // two metrics, values 1.0 at every minute 0..600; sumSeries = 2.0
    // everywhere; movingAverage(3) needs minutes back to fromI-180
    val rows = for (m <- Seq("m.a", "m.b"); i <- 0 to 10)
      yield (m, i * 60L + 5, 1.0)
    val df = RenderTarget.evaluate(spark, pts(rows: _*),
      "movingAverage(sumSeries(m.*), 3)", 240L, 600L, 60).collect()
    assert(df.map(_.getLong(1)).toSeq == Seq(300L, 360L, 420L, 480L, 540L, 600L))
    // full trailing windows everywhere because history was pre-fetched
    assert(df.forall(_.getDouble(2) == 2.0))
    assert(df.forall(_.getString(0) == "sumSeries"))
  }

  test("aggregate: named aggregators, strict multiply, first-minus-rest diff") {
    val p = pts(("m.a", 65L, 10.0), ("m.b", 65L, 4.0), ("m.c", 65L, 1.0),
      ("m.a", 125L, 6.0), ("m.b", 125L, 2.0)) // m.c absent at 120
    def one(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(one("aggregate(m.*, 'median')") ==
      Seq((60L, Some(4.0)), (120L, Some(4.0))))
    // strict safeMul: m.c None at 120 → bucket None
    assert(one("aggregate(m.*, 'multiply')") ==
      Seq((60L, Some(40.0)), (120L, None)))
    // diff = first-by-name minus the rest; None counts as 0 (not all-None)
    assert(one("aggregate(m.*, 'diff')") ==
      Seq((60L, Some(5.0)), (120L, Some(4.0))))
    // the generic name matches the dedicated combine's output
    assert(one("aggregate(m.*, 'sum')") ==
      RenderTarget.evaluate(spark, p, "sumSeries(m.*)", 0L, 120L, 60)
        .collect().map(r => (r.getLong(1), Option(r.get(2)))).sortBy(_._1).toSeq)
  }

  test("movingWindow: duration windows, any aggregator; movingAverage '2min'") {
    val rows = for (i <- 0 to 10) yield ("m.a", i * 60L + 5, i.toDouble)
    val p = pts(rows: _*)
    val mw = RenderTarget.evaluate(spark, p,
      "movingWindow(m.a, '3min', 'max')", 240L, 600L, 60)
      .collect().map(_.getDouble(2)).toSeq
    // grid (240, 600] = buckets 300..600 holding values 5..10; the
    // trailing 3-bucket max at bucket 60i EXCLUDES the current point
    // (graphite's movingWindow slice) → max{i-3, i-2, i-1} = i-1
    // (full windows, history pre-fetched)
    assert(mw == Seq(4.0, 5.0, 6.0, 7.0, 8.0, 9.0))
    val ma = RenderTarget.evaluate(spark, p,
      "movingAverage(m.a, '2min')", 240L, 600L, 60)
      .collect().map(_.getDouble(2)).toSeq
    // avg of the two PRECEDING points {i-2, i-1} = i - 1.5
    assert(ma == Seq(3.5, 4.5, 5.5, 6.5, 7.5, 8.5))
    // the WRAPPED aggregators (count's cast, range's subtraction) must
    // window correctly too — the fuzz-found MISSING_GROUP_BY regression
    val mc = RenderTarget.evaluate(spark, p,
      "movingWindow(m.a, 3, 'count')", 240L, 600L, 60)
      .collect().map(_.getDouble(2)).toSeq
    assert(mc == Seq.fill(6)(3.0))
    val mr = RenderTarget.evaluate(spark, p,
      "movingWindow(m.a, 3, 'range')", 240L, 600L, 60)
      .collect().map(_.getDouble(2)).toSeq
    assert(mr == Seq.fill(6)(2.0))
  }

  test("sortBy/sortByMinima/mostDeviant selection; unique first-wins") {
    val p = pts(("m.a", 65L, 1.0), ("m.a", 125L, 9.0),   // stddev 4, min 1
      ("m.b", 65L, 5.0), ("m.b", 125L, 5.0),             // stddev 0, min 5
      ("m.c", 65L, -3.0), ("m.c", 125L, -1.0))           // never positive
    def mets(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(_.getString(0)).distinct.sorted.toSeq
    assert(mets("limit(sortBy(m.*, 'stddev', true), 1)") == Seq("m.a"))
    assert(mets("limit(sortBy(m.*, 'min'), 1)") == Seq("m.c"))
    // sortByMinima drops series that never go positive, even bare
    assert(mets("sortByMinima(m.*)") == Seq("m.a", "m.b"))
    assert(mets("mostDeviant(m.*, 1)") == Seq("m.a"))
    assert(mets("unique(m.a, m.*)") == Seq("m.a", "m.b", "m.c"))
  }

  test("divideSeriesLists pairs by name rank; sumSeriesLists None-as-0") {
    val p = pts(("a.x", 65L, 10.0), ("a.y", 65L, 20.0),
      ("b.x", 65L, 2.0), ("b.y", 65L, 5.0))
    val div = RenderTarget.evaluate(spark, p, "divideSeriesLists(a.*, b.*)",
      0L, 60L, 60).collect()
      .map(r => (r.getString(0), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(div == Seq(
      ("divideSeries(a.x,b.x)", Some(5.0)),
      ("divideSeries(a.y,b.y)", Some(4.0))))
    val s = RenderTarget.evaluate(spark, p, "sumSeriesLists(a.*, b.*)",
      0L, 120L, 60).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
      .filter(_._2 == 120L).sortBy(_._1).toSeq
    // bucket 120 has no data on either side → None (not 0)
    assert(s.map(_._3) == Seq(None, None))
  }

  test("linearRegression reproduces a perfect line; timeSlice masks outside") {
    val rows = for (i <- 0 to 4) yield ("m.a", i * 60L + 5, 3.0 + 2.0 * i)
    val p = pts(rows: _*)
    // grid (0, 240] = buckets 60..240 holding 5, 7, 9, 11 — already a
    // perfect line, so the fit reproduces it exactly
    val lr = RenderTarget.evaluate(spark, p, "linearRegression(m.a)",
      0L, 240L, 60).collect().map(_.getDouble(2)).toSeq
    assert(lr == Seq(5.0, 7.0, 9.0, 11.0))
    val ts = RenderTarget.evaluate(spark, p, "timeSlice(m.a, 60, 120)",
      0L, 240L, 60).collect().map(r => Option(r.get(2))).toSeq
    assert(ts == Seq(Some(5.0), Some(7.0), None, None))
  }

  test("linearRegression startSourceAt/endSourceAt: the fit ignores data outside the source window") {
    val rows = (for (i <- 1 to 4) yield ("m.a", i * 60L + 5, 3.0 + 2.0 * i)) :+
      ("m.a", 305L, 100.0) // outlier AFTER the source window
    val p = pts(rows: _*)
    // source = buckets 60..240 (a perfect slope-2 line): the fit must
    // exclude the bucket-300 outlier and project 13, 15 past it
    val lr = RenderTarget.evaluate(spark, p,
      "linearRegression(m.a, '0', '240')", 0L, 360L, 60)
      .collect().map(_.getDouble(2)).toSeq
    assert(lr == Seq(5.0, 7.0, 9.0, 11.0, 13.0, 15.0))
    // a source window BEFORE the display window extends the leaf scan
    // (historyExtS) — fit on the early line, serve only the display grid
    val proj = RenderTarget.evaluate(spark, p,
      "linearRegression(m.a, '0', '240')", 240L, 360L, 60)
      .collect().map(_.getDouble(2)).toSeq
    assert(proj == Seq(13.0, 15.0))
    // review r10: an UN-step-aligned request from with an absolute
    // source start must keep the extended spine on the alignTs grid —
    // a raw fromS−src extension desynced every bucket join (all-NULL)
    val odd = RenderTarget.evaluate(spark, p, "linearRegression(m.a, '100')",
      250L, 360L, 60).collect()
    assert(odd.nonEmpty && odd.forall(r => !r.isNullAt(2)),
      "misaligned history extension desynced the render grid")
    // the frame only extends BACKWARD: a source window past the request
    // until would silently fit on clipped data — it must throw instead
    // (review r10; graphite re-fetches the source range, we don't)
    intercept[IllegalArgumentException] {
      RenderTarget.evaluate(spark, p,
        "linearRegression(m.a, '0', '600')", 0L, 360L, 60)
    }
    intercept[IllegalArgumentException] { // window entirely after until
      RenderTarget.evaluate(spark, p,
        "linearRegression(m.a, '420', '600')", 0L, 360L, 60)
    }
  }

  test("generators span the history-extended grid; step args propagate") {
    import spark.implicits._
    val none = Seq.empty[(String, Long, Double)].toDF("metric", "ts_s", "value")
    // movingSum over a generator: the head windows need the generator's
    // HISTORY buckets — a grid starting at the display edge gave 7, 14
    // instead of full 21s (review r10)
    val ms = RenderTarget.evaluate(spark, none,
      "movingSum(constantLine(7), 3)", 240L, 360L, 60)
      .collect().map(_.getDouble(2)).toSeq
    assert(ms == Seq(21.0, 21.0))
    // a non-default generator step must propagate to stepS: combining
    // with a 60s leaf is a loud step-mismatch, never a sparse union
    intercept[IllegalArgumentException] {
      RenderTarget.evaluate(spark, none,
        "sumSeries(m.a, randomWalk('w', 300))", 0L, 600L, 60)
    }
  }

  test("aggregate xFilesFactor gates buckets; strict forms reject it") {
    val p = pts(("m.a", 65L, 10.0), ("m.b", 65L, 4.0), ("m.c", 65L, 1.0),
      ("m.a", 125L, 6.0), ("m.b", 125L, 2.0)) // m.c absent at 120: 2/3 known
    def one(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 120L, 60)
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(one("aggregate(m.*, 'sum', 0.7)") ==
      Seq((60L, Some(15.0)), (120L, None)))       // 0.667 < 0.7 → gated
    assert(one("aggregate(m.*, 'sum', 0.5)") ==
      Seq((60L, Some(15.0)), (120L, Some(8.0))))  // over known values
    // the strict fold has no known-values form to gate — fail loudly,
    // never silently ignore the argument
    intercept[IllegalArgumentException](one("aggregate(m.*, 'multiply', 0.5)"))
  }

  test("randomWalk is seeded-deterministic; events counts per bucket") {
    import spark.implicits._
    val none = Seq.empty[(String, Long, Double)].toDF("metric", "ts_s", "value")
    def walk(seed: Int) = RenderTarget.evaluate(spark, none,
      s"randomWalk('w', 60, $seed)", 0L, 600L, 60)
      .collect().map(_.getDouble(2)).toSeq
    val w5 = walk(5)
    assert(w5.head == 0.0)                 // graphite: value₀ = 0
    assert(w5 == walk(5))                  // same seed → same walk
    assert(w5 != walk(6))                  // different seed → different walk
    // each step moves by U[-0.5, 0.5): increments strictly bounded
    w5.sliding(2).foreach {
      // inc ∈ [-0.5, 0.5); +1e-6 slack for the per-value 6-dp round
      case Seq(a, b) => assert(math.abs(b - a) <= 0.500001, s"step $a -> $b")
      case _ => ()
    }
    // events: per-bucket count of matching event types, zeros not gaps
    val p = pts(("view", 65L, 1.0), ("view", 70L, 9.0), ("click", 75L, 2.0),
      ("view", 185L, 3.0))
    val ev = RenderTarget.evaluate(spark, p, "events('view')", 0L, 240L, 60)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(ev == Seq((60L, 2.0), (120L, 0.0), (180L, 1.0), (240L, 0.0)))
    assert(RenderTarget.evaluate(spark, p, "events('view', 'click')",
      0L, 120L, 60).collect().map(_.getDouble(2)).toSeq == Seq(3.0, 0.0))
    // '*' is the all-events wildcard in ANY tag position, not just the
    // first (review r10: the filter bound only to the first parsed tag)
    val all = RenderTarget.evaluate(spark, p, "events('*')", 0L, 120L, 60)
      .collect().map(_.getDouble(2)).toSeq
    assert(all == Seq(3.0, 0.0))
    assert(RenderTarget.evaluate(spark, p, "events('view', '*')",
      0L, 120L, 60).collect().map(_.getDouble(2)).toSeq == all)
    // empty-string tags are IGNORED in any position (not match-nothing):
    // events('view','') ≡ events('view'), pinning the uniform rule
    assert(RenderTarget.evaluate(spark, p, "events('view', '')",
      0L, 120L, 60).collect().map(_.getDouble(2)).toSeq == Seq(2.0, 0.0))
  }

  test("aggregateLine flattens; fallbackSeries switches on emptiness") {
    val p = pts(("m.a", 65L, 2.0), ("m.a", 125L, 4.0))
    val line = RenderTarget.evaluate(spark, p, "aggregateLine(m.a, 'avg')",
      0L, 120L, 60).collect().map(_.getDouble(2)).toSeq
    assert(line == Seq(3.0, 3.0))
    // primary matches → fallback suppressed
    val kept = RenderTarget.evaluate(spark, p,
      "fallbackSeries(m.a, constantLine(7))", 0L, 60L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(kept == Seq("m.a"))
    // primary empty → the constant line serves
    val fb = RenderTarget.evaluate(spark, p,
      "fallbackSeries(zzz.none, constantLine(7))", 0L, 60L, 60)
      .collect().map(r => (r.getString(0), r.getDouble(2))).distinct.toSeq
    assert(fb == Seq(("7", 7.0)))
  }

  test("reduceSeries pivots matcher members per map group") {
    val p = pts(("s0.click", 65L, 30.0), ("s0.view", 65L, 60.0),
      ("s1.click", 65L, 10.0), ("s1.view", 65L, 40.0))
    val out = RenderTarget.evaluate(spark, p,
      "reduceSeries(mapSeries(s*.*, 0), 'asPercent', 1, 'click', 'view')",
      0L, 60L, 60).collect()
      .map(r => (r.getString(0), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(out == Seq(("s0", Some(50.0)), ("s1", Some(25.0))))
  }

  test("threshold names its line; annotations cumulative/setXFilesFactor; " +
    "time/sin aliases; confidence area = bands") {
    val p = pts(("m.a", 65L, 1.0))
    val thr = RenderTarget.evaluate(spark, p, "threshold(5, 'limit', 'red')",
      0L, 120L, 60).collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(thr.forall(_ == ("limit", 5.0)))
    assert(RenderTarget.consolidationOf(
      RenderTarget.parse("cumulative(m.a)")).contains("sum"))
    assert(RenderTarget.xffOf(
      RenderTarget.parse("setXFilesFactor(m.a, 0.25)")).contains(0.25))
    val t = RenderTarget.evaluate(spark, p, "time('t', 60)", 0L, 120L, 60)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(t.forall { case (b, v) => v == b.toDouble })
    val area = RenderTarget.evaluate(spark, p,
      "holtWintersConfidenceArea(m.a)", 0L, 60L, 60)
      .collect().map(_.getString(0)).distinct.sorted.toSeq
    assert(area == Seq("m.a@lower", "m.a@upper"))
  }

  test("aggregate('last') picks the LAST SERIES IN NAME ORDER per bucket") {
    // three series, same bucket: safeLast = the name-max member's value
    // — deterministic, never encounter order
    val p = pts(("m.a", 65L, 1.0), ("m.b", 65L, 2.0), ("m.c", 65L, 3.0))
    val out = RenderTarget.evaluate(spark, p, "aggregate(m.*, 'last')",
      0L, 60L, 60).collect().map(_.getDouble(2)).toSeq
    assert(out == Seq(3.0))
  }

  test("applyByNode with no matching series is empty, and fallback serves") {
    val p = pts(("s0.used", 65L, 30.0))
    val empty = RenderTarget.evaluate(spark, p,
      "applyByNode(zz*.used, 0, 'scale(%.used, 2)')", 0L, 60L, 60)
    assert(empty.count() == 0)
    val fb = RenderTarget.evaluate(spark, p,
      "fallbackSeries(applyByNode(zz*.used, 0, 'scale(%.used, 2)'), " +
        "constantLine(9))", 0L, 60L, 60)
      .collect().map(_.getDouble(2)).toSeq
    assert(fb == Seq(9.0))
  }

  test("applyByNode evaluates the template per node group; newName renames") {
    val p = pts(("s0.used", 65L, 30.0), ("s0.total", 65L, 60.0),
      ("s1.used", 65L, 10.0), ("s1.total", 65L, 40.0))
    val out = RenderTarget.evaluate(spark, p,
      "applyByNode(s*.used, 0, 'asPercent(%.used, sumSeries(%.total))')",
      0L, 60L, 60).collect()
      .map(r => (r.getString(0), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(out == Seq(("s0.used", Some(50.0)), ("s1.used", Some(25.0))))
    val named = RenderTarget.evaluate(spark, p,
      "applyByNode(s*.used, 0, 'scale(%.used, 2)', '%.doubled')",
      0L, 60L, 60).collect()
      .map(r => (r.getString(0), r.getDouble(2))).sortBy(_._1).toSeq
    assert(named == Seq(("s0.doubled", 60.0), ("s1.doubled", 20.0)))
  }

  test("useSeriesAbove serves the rewritten twin of qualifying series") {
    val p = pts(("s0.req", 65L, 100.0), ("s0.lat", 65L, 7.0),
      ("s1.req", 65L, 10.0), ("s1.lat", 65L, 3.0))
    val out = RenderTarget.evaluate(spark, p,
      "useSeriesAbove(s*.req, 50, 'req', 'lat')", 0L, 60L, 60)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    // only s0's requests clear 50 → only s0's LATENCY serves
    assert(out == Seq(("s0.lat", 7.0)))
  }

  test("maxValue recovers counter wraps in nonNegativeDerivative/perSecond") {
    // 0..255 counter: 250 → 4 is a wrap (delta 255−250+4+1 = 10), but a
    // value ABOVE maxValue still yields None
    val p = pts(("m.a", 65L, 250.0), ("m.a", 125L, 4.0),
      ("m.a", 185L, 300.0), ("m.a", 245L, 310.0))
    val nn = RenderTarget.evaluate(spark, p,
      "nonNegativeDerivative(m.a, 255)", 0L, 240L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    // 300 and 310 exceed the ceiling → None at and after them
    assert(nn == Seq(None, Some(10.0), None, None))
    // without maxValue the wrap is a reset → None
    val bare = RenderTarget.evaluate(spark, p,
      "nonNegativeDerivative(m.a)", 0L, 240L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    assert(bare == Seq(None, None, Some(296.0), Some(10.0)))
    val ps = RenderTarget.evaluate(spark, p, "perSecond(m.a, 255)",
      0L, 120L, 60).collect().map(r => Option(r.get(2))).toSeq
    assert(ps == Seq(None, Some(10.0 / 60)).map(_.map(x =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("removeEmptySeries honors the optional xFilesFactor") {
    // m.full known 3/3 buckets, m.half 1/3, m.none 0/3
    val p = pts(("m.full", 65L, 1.0), ("m.full", 125L, 1.0),
      ("m.full", 185L, 1.0), ("m.half", 65L, 1.0))
    def mets(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 180L, 60)
      .collect().map(_.getString(0)).distinct.sorted.toSeq
    assert(mets("removeEmptySeries(m.*)") == Seq("m.full", "m.half"))
    assert(mets("removeEmptySeries(m.*, 0.5)") == Seq("m.full"))
  }

  test("powSeries folds in name order; logit guards the unit interval") {
    val p = pts(("m.a", 65L, 2.0), ("m.b", 65L, 3.0), ("m.c", 65L, 2.0),
      ("m.a", 125L, 4.0)) // b, c absent at 120 → strict None
    val pw = RenderTarget.evaluate(spark, p, "powSeries(m.*)", 0L, 120L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    assert(pw == Seq(Some(64.0), None)) // (2^3)^2
    val lg = RenderTarget.evaluate(spark,
      pts(("m.a", 65L, 0.5), ("m.a", 125L, 2.0)), "logit(m.a)", 0L, 120L, 60)
      .collect().map(r => Option(r.get(2))).toSeq
    assert(lg == Seq(Some(0.0), None)) // logit(0.5) = 0; 2.0 out of range
  }

  test("removeBetweenPercentile keeps only band-escaping series") {
    // spread 1..9 plus one outlier: continuous p10 = 1.9, p90 = 13.1 —
    // the STRICT band (graphite's lo < v < hi) lets the low edge (1)
    // and the outlier escape; 2..9 sit inside and drop
    val rows = (0 to 8).map(i => (s"m.q$i", 65L, 1.0 + i)) :+
      ("m.out", 65L, 50.0)
    val kept = RenderTarget.evaluate(spark, pts(rows: _*),
      "removeBetweenPercentile(m.*, 90)", 0L, 60L, 60)
      .collect().map(_.getString(0)).distinct.sorted.toSeq
    assert(kept == Seq("m.out", "m.q0"))
  }

  test("verticalLine: marker series, attime resolution, window guard") {
    val p = pts(("m.a", 65L, 1.0))
    // labeled marker at an epoch attime; two 1-second unit points
    val rows = RenderTarget.evaluate(spark, p,
      "verticalLine('120', 'deploy')", 0L, 240L, 60)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("deploy", 120L, 1.0), ("deploy", 121L, 1.0)))
    // label defaults to the attime string itself
    val unlabeled = RenderTarget.evaluate(spark, p,
      "verticalLine('120')", 0L, 240L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(unlabeled == Seq("120"))
    // graphite raises when the instant is outside the request window;
    // the lower bound here is the RENDERED window's first instant
    // (fromI = 60), so a marker in the partial first bucket raises
    // instead of silently vanishing in the final trim
    intercept[IllegalArgumentException] {
      RenderTarget.evaluate(spark, p, "verticalLine('500')", 0L, 240L, 60)
    }
    intercept[IllegalArgumentException] {
      RenderTarget.evaluate(spark, p, "verticalLine('30')", 0L, 240L, 60)
    }
    // the overlay use case: a marker riding along a real series through
    // group() — step-exempt, so the shared-step require must not trip
    val over = RenderTarget.evaluate(spark, p,
      "group(m.a, verticalLine('120', 'd'))", 0L, 240L, 60)
      .collect().map(_.getString(0)).distinct.sorted.toSeq
    assert(over == Seq("d", "m.a"))
    // ... including STYLED markers — the normal way one is drawn
    // (alias/presentation wrappers must stay step-exempt)
    val styled = RenderTarget.evaluate(spark, p,
      "group(m.a, alias(color(verticalLine('120'), 'red'), 'deploy'))",
      0L, 240L, 60)
      .collect().map(_.getString(0)).distinct.sorted.toSeq
    assert(styled == Seq("deploy", "m.a"))
  }

  test("compressPeriodicGaps: modal step rebuild, tie rule, sparse passthrough") {
    // m.a reports every 3rd minute bucket → deltas all 180 → the new
    // grid is dense at 180 with no gaps left
    val pA = pts(("m.a", 65L, 1.0), ("m.a", 245L, 2.0),
      ("m.a", 425L, 3.0), ("m.a", 605L, 4.0))
    val a = RenderTarget.evaluate(spark, pA,
      "compressPeriodicGaps(m.a)", 0L, 660L, 60)
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).toSeq
    assert(a == Seq(60L -> Some(1.0), 240L -> Some(2.0),
      420L -> Some(3.0), 600L -> Some(4.0)))
    // tied delta counts (120 ×2, 240 ×2) → the SMALLEST wins; grid
    // points with no exact-hit value stay None
    val pB = pts(("m.b", 65L, 1.0), ("m.b", 185L, 2.0), ("m.b", 425L, 3.0),
      ("m.b", 545L, 4.0), ("m.b", 785L, 5.0))
    val b = RenderTarget.evaluate(spark, pB,
      "compressPeriodicGaps(m.b)", 0L, 840L, 60)
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).toSeq
    assert(b == Seq(60L -> Some(1.0), 180L -> Some(2.0), 300L -> None,
      420L -> Some(3.0), 540L -> Some(4.0), 660L -> None, 780L -> Some(5.0)))
    // <2 known points: no detectable period — the series passes through
    // on its original (gappy) grid
    val pC = pts(("m.c", 65L, 9.0))
    val c = RenderTarget.evaluate(spark, pC,
      "compressPeriodicGaps(m.c)", 0L, 240L, 60)
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).toSeq
    assert(c == Seq(60L -> Some(9.0), 120L -> None, 180L -> None,
      240L -> None))
    // duplicate member rows (group(m.a, m.a)) consolidate instead of
    // poisoning the modal delta with zeros (sequence(lo, hi, 0) throws)
    val dup = RenderTarget.evaluate(spark, pA,
      "compressPeriodicGaps(group(m.a, m.a))", 0L, 660L, 60)
      .collect().map(r => (r.getLong(1), Option(r.get(2)))).toSeq
    assert(dup == a)
  }

  test("aliasQuery: rewrite, sub-fetch current value, pinned %-formats") {
    val p = pts(("web.view", 65L, 1.0), ("web.view", 125L, 2.0),
      ("web.click", 65L, 10.0), ("web.click", 125L, 20.5))
    def name(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 180L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    // %d truncates toward zero (python's int()); current = last known
    // minute-mean of the REWRITTEN query (web.click at bucket 120)
    assert(name("aliasQuery(web.view, 'view', 'click', 'v (c: %d)')") ==
      Seq("v (c: 20)"))
    // %.1f renders exactly one decimal in both engines
    assert(name("aliasQuery(web.view, 'view', 'click', 'c=%.1f pct')") ==
      Seq("c=20.5 pct"))
    // a derived query matching nothing keeps the original name
    // (documented deviation from graphite's raise)
    assert(name("aliasQuery(web.view, 'view', 'nope', 'x %d')") ==
      Seq("web.view"))
    // negative current value: %d still truncates TOWARD ZERO
    val pn = pts(("web.view", 65L, 1.0), ("web.click", 65L, -3.7))
    val neg = RenderTarget.evaluate(spark, pn,
      "aliasQuery(web.view, 'view', 'click', 'c: %d')", 0L, 120L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(neg == Seq("c: -3"))
    // python re.sub replacement semantics: \1 is a group backreference
    // (graphite's documented channel.frequency.\1 example shape)
    val bk = RenderTarget.evaluate(spark, p,
      """aliasQuery(web.view, '(\w+)\.view', '\1.click', 'c: %d')""",
      0L, 180L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(bk == Seq("c: 20"))
    // precision on %d/%s would render a silently-wrong legend → rejected
    intercept[IllegalArgumentException] {
      RenderTarget.evaluate(spark, p,
        "aliasQuery(web.view, 'view', 'click', 'b %.3d')", 0L, 180L, 60)
        .collect()
    }
    // a SECOND spec would pass through as literal text → rejected
    intercept[IllegalArgumentException] {
      RenderTarget.evaluate(spark, p,
        "aliasQuery(web.view, 'view', 'click', '%d of %d')", 0L, 180L, 60)
        .collect()
    }
    // python's %% renders a literal percent in the fixed text
    val pct = RenderTarget.evaluate(spark, p,
      "aliasQuery(web.view, 'view', 'click', 'c=%.1f%%')", 0L, 180L, 60)
      .collect().map(_.getString(0)).distinct.toSeq
    assert(pct == Seq("c=20.5%"))
  }

  test("evaluatePie reduces each series to one slice value per mode") {
    val p = pts(("m.a", 65L, 2.0), ("m.a", 125L, 4.0), ("m.b", 65L, 7.0))
    def pie(mode: String) = RenderTarget.evaluatePie(
      spark, p, "m.*", 0L, 180L, 60, mode)
      .collect().map(r => (r.getString(0), Option(r.get(1)))).toSeq
    // average folds KNOWN buckets only (m.a: (2+4)/2; m.b: 7/1)
    assert(pie("average") == Seq("m.a" -> Some(3.0), "m.b" -> Some(7.0)))
    assert(pie("maximum") == Seq("m.a" -> Some(4.0), "m.b" -> Some(7.0)))
    assert(pie("minimum") == Seq("m.a" -> Some(2.0), "m.b" -> Some(7.0)))
    intercept[IllegalArgumentException] {
      RenderTarget.evaluatePie(spark, p, "m.*", 0L, 180L, 60, "median")
    }
    // a series with no in-window points never reaches the frame at all
    // (the leaf fetch derives its member set from in-window rows)
    val pn = pts(("m.a", 65L, 2.0), ("m.c", 100065L, 9.0))
    val slices = RenderTarget.evaluatePie(spark, pn, "m.*", 0L, 180L, 60)
      .collect().map(r => (r.getString(0), Option(r.get(1)))).toSeq
    assert(slices == Seq("m.a" -> Some(2.0)))
  }

  test("a missing required argument fails naming the function and the argument") {
    val p = pts(("m.a", 65L, 1.0))
    for ((target, f, arg) <- Seq(
        ("filterSeries(m.*, 'max', '>')", "filterSeries", "threshold"),
        ("useSeriesAbove(m.*, 1)", "useSeriesAbove", "search"),
        ("highestMax(m.*)", "highestMax", "n"),
        ("currentBelow(m.*)", "currentBelow", "n"),
        ("highestCurrent(m.*)", "highestCurrent", "n"),
        ("limit(sortByMaxima(m.*))", "limit", "n"),
        ("nPercentile(m.*)", "nPercentile", "n"),
        ("timeSlice(m.*)", "timeSlice", "startSliceAt"),
        ("scale(m.*)", "scale", "factor"),
        ("offset(m.*)", "offset", "factor"),
        ("add(m.*)", "add", "constant"),
        ("pow(m.*)", "pow", "factor"),
        ("removeBelowValue(m.*)", "removeBelowValue", "n"),
        ("removeAboveValue(m.*)", "removeAboveValue", "n"),
        ("scaleToSeconds(m.*)", "scaleToSeconds", "seconds"),
        ("alias(m.*)", "alias", "newName"),
        ("aliasSub(m.*)", "aliasSub", "search"),
        ("aliasSub(m.*, 'a')", "aliasSub", "replace"))) {
      val e = intercept[IllegalArgumentException](
        RenderTarget.evaluate(spark, p, target, 0L, 120L, 60))
      assert(e.getMessage == s"$f: missing argument '$arg'", target)
    }
  }

  test("graphite's selector aliases return exactly the rows of their general forms") {
    // seeded frames over values 0..4, so statistics tie often: m.b
    // copies m.a (equal statistics on different names), m.c is flat at
    // the threshold 2, and m.z is above the removeAboveValue cut
    // everywhere, so it reaches the selectors as an all-None series
    val s = "removeAboveValue(m.*, 100)"
    val pairs = Seq(
      s"highestMax($s, 2)" -> s"highest($s, 2, 'max')",
      s"highestAverage($s, 2)" -> s"highest($s, 2, 'average')",
      s"lowestAverage($s, 2)" -> s"lowest($s, 2, 'average')",
      s"averageAbove($s, 2)" -> s"filterSeries($s, 'average', '>=', 2)",
      s"averageBelow($s, 2)" -> s"filterSeries($s, 'average', '<=', 2)",
      s"maximumAbove($s, 2)" -> s"filterSeries($s, 'max', '>', 2)",
      s"maximumBelow($s, 2)" -> s"filterSeries($s, 'max', '<', 2)",
      s"minimumAbove($s, 2)" -> s"filterSeries($s, 'min', '>', 2)",
      s"minimumBelow($s, 2)" -> s"filterSeries($s, 'min', '<', 2)",
      s"currentAbove($s, 2)" -> s"filterSeries($s, 'current', '>=', 2)",
      s"currentBelow($s, 2)" -> s"filterSeries($s, 'current', '<=', 2)",
      s"limit(sortByMaxima($s), 2)" -> s"highest($s, 2, 'max')",
      s"limit(sortByTotal($s), 2)" -> s"highest($s, 2, 'sum')",
      s"limit(sortBy($s, 'max'), 2)" -> s"lowest($s, 2, 'max')",
      s"limit(sortBy($s, 'stddev', true), 2)" -> s"highest($s, 2, 'stddev')",
      s"limit(sortByName($s), 2)" -> s"limit($s, 2)",
      // the outer sort orders the list limit cuts
      s"limit(sortByName(sortByMaxima($s)), 2)" -> s"limit($s, 2)",
      s"limit(sortByMaxima(sortByName($s)), 2)" -> s"highest($s, 2, 'max')",
      s"highestCurrent($s, 10)" -> s"highest(removeEmptySeries($s), 10, 'current')",
      s"lowestCurrent($s, 2)" -> s"lowest(removeEmptySeries($s), 2, 'current')")
    for (seed <- Seq(7, 8, 9)) {
      val rnd = new scala.util.Random(seed)
      def ts(i: Int) = i * 60L + 65
      // a random series with each of the 5 slots known at odds 4 in 5
      def random(m: String) = (0 until 5).filter(_ => rnd.nextInt(5) > 0)
        .map(i => (m, ts(i), rnd.nextInt(5).toDouble))
      val a = random("m.a")
      val p = pts(a ++ a.map(_.copy(_1 = "m.b")) ++ random("m.d") ++ random("m.e") ++
        Seq(0, 1, 3, 4).map(i => ("m.c", ts(i), 2.0)) ++
        (0 until 5).map(i => ("m.z", ts(i), 500.0)): _*)
      def run(t: String) = RenderTarget.evaluate(spark, p, t, 0L, 300L, 60)
        .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2)))).toSeq
      for ((alias, general) <- pairs)
        assert(run(alias) == run(general), s"seed $seed: $alias vs $general")
      // the deliberate difference: highestCurrent never selects the
      // all-None series, even with n above the number of known series,
      // where highest(…, 'current') fills up with it
      val known = run(s"highestCurrent($s, 10)").map(_._1).distinct
      assert(!known.contains("m.z") && known.contains("m.c"), s"seed $seed: $known")
      assert(run(s"highest($s, 10, 'current')").map(_._1).distinct.contains("m.z"))
    }
  }

  test("pyReplacement translates python re.sub syntax to Java") {
    // \1 → $1 (backreference), $ → \$ (literal), \\ stays an escaped
    // backslash — so graphite-style replacements work verbatim
    assert(RenderTarget.pyReplacement("""a\1b""") == """a$1b""")
    assert(RenderTarget.pyReplacement("""cost$x""") == """cost\$x""")
    assert(RenderTarget.pyReplacement("""a\\b""") == """a\\b""")
  }
}
