package perfbench

import graft.WhisperTable
import graft.model.Retentions
import graft.ops.RenderTarget
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** `serve_live`: one client, closed loop, over a table of [[NSeries]]
  * series whose history fills every archive, and over its `.wsp` export.
  * The loop runs rounds of [[Round]]: 20 reads in seeded order — 40 %
  * single-series `fetch`, 20 % `fetchMany` of 10 series, 20 % `fetchGlob`
  * of one host, 20 % `RenderTarget.evaluate` of `sumSeries(<host>.*)`
  * over the wsp source with `metricGlob`, each class spread over the 1m,
  * 5m and 1h archives — with one live write halfway through: a minute of
  * every series as a carbon batch through `updateMany`. The mix is fixed per round so a
  * run's figures do not depend on how a seed happened to draw it; series
  * and hosts are Zipf-popular.
  */
final class ServeLive(ctx: Ctx) extends Workload(ctx) {
  private val NSeries = 1000
  private val NHosts = NSeries / Series.Metrics.size
  /** (read class, archive) pairs of one round; 0 = 1m, 1 = 5m, 2 = 1h. */
  private val Round: Seq[(String, Int)] =
    Seq(0, 0, 0, 1, 1, 1, 2, 2).map("fetch" -> _) ++
      Seq(0, 1, 2, 0).map("fetch_many" -> _) ++
      Seq(0, 1, 2, 1).map("fetch_glob" -> _) ++
      Seq(0, 1, 2, 2).map("render" -> _)
  private val schema = Retentions.std
  private val writer = new CarbonWriter(ctx)
  private val now = ctx.now

  private var table: WhisperTable = _
  private var tree: String = _
  private var model: WhisperModel = _
  private var treeModel: WhisperModel = _
  private var lives = 0
  private var exported = (0.0, 0L, 0L, 0L) // (s, files, points, bytes)
  private lazy val seriesPop = (new Zipf(NSeries, 1.1), Series.permutation(ctx.rng, NSeries))
  private lazy val hostPop = (new Zipf(NHosts, 1.1), Series.permutation(ctx.rng, NHosts))

  private val readS = mutable.ArrayBuffer.empty[Double]
  private val byClass = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val construct = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val execute = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val scan = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private def series(): String = Series.name(seriesPop._2(seriesPop._1.sample(ctx.rng)))
  private def host(): Int = hostPop._2(hostPop._1.sample(ctx.rng))

  /** A range served by archive `a` (0 = 1m, 1 = 5m, 2 = 1h) that always
    * overlaps the history written there, so every read does the same kind
    * of work (an empty range takes a shorter path through the engine).
    */
  private def range(a: Int): (Long, Long) = {
    val r = ctx.rng
    val (from, len) = a match {
      // history: 1m in [now - 80 min, now - 60 min), 5m in
      // [now - 25 h, now - 24 h), 1h in [now - 7 d - 6 h, now - 7 d); each
      // range starts at most its minimum length before the data
      case 0 => (now - 90 * 60 + 60L * r.nextInt(15), 60L * (30 + r.nextInt(31)))
      case 1 => (now - 25 * 3600 - 1800 + 300L * r.nextInt(6), 3600L * (1 + r.nextInt(3)))
      case _ => (now - 7 * CarbonGen.Day - 9 * 3600 + 3600L * r.nextInt(4), 3600L * (6 + r.nextInt(19)))
    }
    (from, math.min(from + len, now))
  }

  private def liveWrite(): Unit = {
    val pts = CarbonGen.live(ctx.rng, NSeries, lives, now)
    val batch = CarbonBatch(pts.map(CarbonGen.line), pts, 0, 0)
    lives += 1
    val file = ctx.writeLines(ctx.freshDir("live").resolve("batch.txt"), batch.lines)
    op(s"live write $lives")(writer.write(table, file))(writer.check(_, batch))
    model.applyBatch(pts)
  }

  /** Plans `df` (timed as construction), collects it (timed as
    * execution) and, traced, reads the scan counters off the final plan.
    */
  private def serve(cls: String)(build: => DataFrame): Seq[Row] = tracer.span(cls) {
    val t0 = System.nanoTime
    val df = tracer.span(s"$cls.construct")(build)
    val t1 = System.nanoTime
    val rows = tracer.span(s"$cls.execute")(df.collect().toSeq)
    if (tracer.enabled) {
      construct.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e6
      execute.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (System.nanoTime - t1) / 1e6
      scanCounters(cls, df, rows.size)
    }
    rows
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
  }

  /** Scan counters off the executed plan. A read whose scan ran in an
    * earlier job (fetchGlob checkpoints its filtered scan while it is
    * planned) has no scan node here and is left out of the file and row
    * ratios; its bytes still show in the span's task input.
    */
  private def scanCounters(cls: String, df: DataFrame, returned: Int): Unit = {
    val layer = if (cls == "render") "wsp_scan" else "fetch"
    val found = leaves(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec =>
        def m(k: String) = f.metrics.get(k).fold(0L)(_.value)
        (m("numFiles"), m("filesSize"), m("numOutputRows"))
      case b: BatchScanExec =>
        val files = b.inputPartitions.flatMap {
          case p: graft.sources.WspInputPartition => p.files
          case _ => Nil
        }
        (files.size.toLong, files.map(_._2).sum, b.metrics.get("numOutputRows").fold(0L)(_.value))
    }
    if (found.nonEmpty) {
      scan(s"$layer.files") += found.map(_._1).sum
      scan(s"$layer.bytes") += found.map(_._2).sum
      scan(s"$layer.rows") += found.map(_._3).sum
      scan(s"$layer.returned") += returned
      scan(s"$layer.reads") += 1
    }
  }

  private def read(kind: String, a: Int, timed: Boolean): Unit = {
    val (from, until) = range(a)
    val arch = Seq("1m", "5m", "1h")(a)
    val (cls, result) =
      if (kind == "fetch") {
        val m = series()
        s"fetch.$arch" -> op(s"fetch $m $arch")(serve("fetch")(table.fetch(m, from, until, now))) {
          rows => Tsdb.compare("fetch", rows.map(r => Row(m, r.getLong(0), r.get(1))), Seq(m),
            model.fetch(_, from, until))
        }
      } else if (kind == "fetch_many") {
        val ms = Iterator.continually(series()).distinct.take(10).toSeq.sorted
        "fetch.many" -> op(s"fetchMany $arch")(serve("fetch_many")(table.fetchMany(ms, from, until, now))) {
          rows => Tsdb.compare("fetchMany", rows, ms, model.fetch(_, from, until))
        }
      } else if (kind == "fetch_glob") {
        val h = host()
        // the glob returns the host's series that hold data in the range
        val ms = Series.ofHost(h).filter(model.fetch(_, from, until).exists(_._2.nonEmpty)).sorted
        "fetch.glob" -> op(s"fetchGlob $arch")(
          serve("fetch_glob")(table.fetchGlob(Series.hostGlob(h), from, until, now))) {
          rows => Tsdb.compare("fetchGlob", rows, ms, model.fetch(_, from, until))
        }
      } else {
        val h = host()
        val glob = Series.hostGlob(h)
        val spp = treeModel.spp(a)
        val fromI = Math.floorDiv(from, spp) * spp + spp
        val untilI = Math.floorDiv(until, spp) * spp + spp
        val buckets = (fromI until untilI by spp).toVector
        val members = Series.ofHost(h)
        val sums = buckets.map(b => b -> {
          val vs = members.flatMap(treeModel.at(a, _, b))
          if (vs.isEmpty) None else Some(vs.sum)
        })
        // sumSeries over a glob with no data in range has no members
        val expect = if (sums.exists(_._2.nonEmpty)) sums else Vector.empty
        "render" -> op(s"render $glob $arch")(serve("render") {
          val pts = spark.read.format("wsp").option("metricGlob", glob).load(tree)
            .filter(col("spp") === spp).select("metric", "ts_s", "value")
          RenderTarget.evaluate(spark, pts, s"sumSeries($glob)", from, until, spp.toInt)
        }) { rows => Tsdb.compare("render", rows, if (expect.isEmpty) Nil else Seq("sumSeries"),
          _ => expect) }
      }
    if (timed) result.foreach { case (s, _) =>
      readS += s
      byClass.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += s
    }
  }

  def setup(): Unit = {
    val dir = ctx.freshDir("serve")
    table = WhisperTable.create(spark, dir.resolve("table").toString, schema)
    model = new WhisperModel(schema, now)
    val hist = CarbonGen.history(ctx.rng, NSeries, now)
    val batch = CarbonBatch(hist.map(CarbonGen.line), hist, 0, 0)
    val file = ctx.writeLines(dir.resolve("history.txt"), batch.lines)
    op("history write")(writer.write(table, file))(writer.check(_, batch))
    model.applyBatch(hist)
    tree = dir.resolve("wsp").toString
    // the export is the tree the render reads serve from; it runs once,
    // here, and its time is the wsp_export layer's figure
    op("wsp export")(table.exportWsp(tree).collect()) { m =>
      if (m.length == NSeries) Nil else Seq(s"export wrote ${m.length} series, expected $NSeries")
    }.foreach { case (s, m) => exported = (s, m.length, m.map(_.getLong(1)).sum, m.map(_.getLong(2)).sum) }
    treeModel = model.copy()
    // warm-up: the first calls of each read family compile its plans and
    // leave the JIT warm enough that the timed round does not drift
    Seq("fetch" -> 0, "fetch_many" -> 1, "fetch_glob" -> 2, "render" -> 1,
      "fetch" -> 1, "fetch_many" -> 2, "fetch_glob" -> 0, "render" -> 2)
      .foreach { case (k, a) => read(k, a, timed = false) }
  }

  def run(deadlineNs: Long): Unit = {
    writer.reset()
    while (System.nanoTime < deadlineNs) {
      val order = Series.permutation(ctx.rng, Round.size)
      order.zipWithIndex.foreach { case (i, k) =>
        if (k == Round.size / 2) liveWrite()
        read(Round(i)._1, Round(i)._2, timed = true)
      }
    }
    ctx.log(s"serve_live: ${readS.size} reads timed, $lives live writes; " +
      s"p90 has ${Stats.beyond(readS.size, 0.9)} samples beyond it" +
      Stats.highestSupported(readS.size).fold("")(q => s", highest supported percentile p${q * 100}"))
  }

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> readS.size / readS.sum,
    "op_p50_ms" -> Stats.median(readS.toSeq) * 1e3,
    "op_p90_ms" -> Stats.percentile(readS.toSeq, 0.9) * 1e3)

  def perLayer: Map[String, Double] = {
    def med(m: mutable.HashMap[String, mutable.ArrayBuffer[Double]], k: String) =
      m.get(k).filter(_.nonEmpty).fold(0.0)(b => Stats.median(b.toSeq))
    import Stats.ratio
    def jobs(name: String) = {
      val s = tracer.named(name)
      ratio(s.map(_.total("jobs")).sum, s.size)
    }
    val fetchExec = Seq("fetch", "fetch_many", "fetch_glob").flatMap(execute.getOrElse(_, Nil))
    writer.layerMetrics ++ Map(
      "driver.construct_ms.fetch" -> med(construct, "fetch"),
      "driver.construct_ms.fetch_many" -> med(construct, "fetch_many"),
      "driver.construct_ms.fetch_glob" -> med(construct, "fetch_glob"),
      "driver.construct_ms.render" -> med(construct, "render"),
      "driver.jobs_per_op.fetch" -> jobs("fetch"),
      "driver.jobs_per_op.fetch_many" -> jobs("fetch_many"),
      "driver.jobs_per_op.fetch_glob" -> jobs("fetch_glob"),
      "driver.jobs_per_op.render" -> jobs("render"),
      "wsp_export.s" -> exported._1,
      "wsp_export.files" -> exported._2.toDouble,
      "wsp_export.points_per_s" -> ratio(exported._3.toDouble, exported._1),
      "wsp_export.bytes" -> exported._4.toDouble,
      "serve.reads" -> readS.size.toDouble,
      "serve.read_p50_ms" -> Stats.median(readS.toSeq) * 1e3,
      "serve.read_p90_ms" -> Stats.percentile(readS.toSeq, 0.9) * 1e3,
      "fetch.latency_ms.1m" -> med(byClass, "fetch.1m") * 1e3,
      "fetch.latency_ms.5m" -> med(byClass, "fetch.5m") * 1e3,
      "fetch.latency_ms.1h" -> med(byClass, "fetch.1h") * 1e3,
      "fetch.latency_ms.many" -> med(byClass, "fetch.many") * 1e3,
      "fetch.latency_ms.glob" -> med(byClass, "fetch.glob") * 1e3,
      "fetch.execute_ms" -> (if (fetchExec.isEmpty) 0.0 else Stats.median(fetchExec)),
      "fetch.files_read" -> ratio(scan("fetch.files"), scan("fetch.reads")),
      "fetch.bytes_read" -> ratio(scan("fetch.bytes"), scan("fetch.reads")),
      "fetch.rows_scanned_per_row_returned" -> ratio(scan("fetch.rows"), scan("fetch.returned")),
      "render.latency_ms" -> med(byClass, "render") * 1e3,
      "render.execute_ms" -> med(execute, "render"),
      "wsp_scan.files_read" -> ratio(scan("wsp_scan.files"), scan("wsp_scan.reads")),
      "wsp_scan.bytes_read" -> ratio(scan("wsp_scan.bytes"), scan("wsp_scan.reads")),
      "wsp_scan.rows_decoded_per_row_returned" ->
        ratio(scan("wsp_scan.rows"), scan("wsp_scan.returned")))
  }
}
