package graft

import graft.model.Retentions
import graft.ops.RenderTarget
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** A serve read whose window or glob differs from every earlier read
  * compiles no new class: the per-request values reach generated code as
  * bound parameters, never as inlined literals. Counted with Spark's own
  * compile histogram, which ticks once per compile-cache miss.
  */
class ServeCodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val now = 1706659200L
  private val hosts = Seq("servers.dc0.host000", "servers.dc0.host001", "servers.dc0.host002")
  private val metrics = Seq("cpu", "mem", "load")

  private lazy val (table, tree) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("serve_codegen")
    val t = WhisperTable.create(spark, dir.resolve("t").toString, Retentions.std)
    val pts = for {
      (h, hi) <- hosts.zipWithIndex
      (m, mi) <- metrics.zipWithIndex
      k <- 1 to 120
    } yield TimeSeriesPoint(s"$h.$m", now - 60L * k, (hi * 10 + mi + k).toDouble)
    t.updateMany(pts.toDS(), now)
    val tree = dir.resolve("wsp").toString
    t.exportWsp(tree).collect()
    (t, tree)
  }

  private def compiles(body: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  /** Rows of `read(window, host)` at a warm-up window, then the classes a
    * second read at a new window (and a new host) compiles. */
  private def secondReadCompiles(
      read: ((Long, Long), String) => org.apache.spark.sql.DataFrame): Long = {
    assert(read((now - 3600, now - 1800), hosts(0)).collect().nonEmpty)
    var rows = 0
    val n = compiles { rows = read((now - 3000, now - 1260), hosts(1)).collect().length }
    assert(rows > 0, "the second read returned no rows")
    n
  }

  test("fetch at a new window compiles no class") {
    assert(secondReadCompiles { case ((f, u), h) => table.fetch(s"$h.cpu", f, u, now) } == 0)
  }

  test("fetchMany at a new window compiles no class") {
    assert(secondReadCompiles { case ((f, u), h) =>
      table.fetchMany(metrics.map(m => s"$h.$m"), f, u, now) } == 0)
  }

  test("fetchGlob at a new window and host compiles no class") {
    assert(secondReadCompiles { case ((f, u), h) => table.fetchGlob(s"$h.*", f, u, now) } == 0)
  }

  /** Classes a second wsp render of `target(<host>.*)` compiles. */
  private def renderCompiles(target: String => String, maxDataPoints: Int = 0): Long =
    secondReadCompiles { case ((f, u), h) =>
      val pts = spark.read.format("wsp").option("metricGlob", s"$h.*").load(tree)
        .filter(col("spp") === 60).select("metric", "ts_s", "value")
      RenderTarget.evaluate(spark, pts, target(s"$h.*"), f, u, 60, maxDataPoints)
    }

  test("a sumSeries render over the wsp source at a new window and host compiles no class") {
    assert(renderCompiles(g => s"sumSeries($g)") == 0)
  }

  // each judges its series over the displayed window, or (the last)
  // consolidates to fewer points than the window has buckets
  for ((target, cap) <- Seq[(String => String, Int)](
      (g => s"highestMax($g, 1)", 0),
      (g => s"averageAbove($g, 0)", 0),
      (g => s"removeAbovePercentile($g, 80)", 0),
      (g => s"limit(sortByMaxima($g), 2)", 0),
      (g => s"sumSeries($g)", 10))) {
    val name = target("<host>.*") + (if (cap > 0) s" at maxDataPoints $cap" else "")
    test(s"the render $name over the wsp source at a new window and host compiles no class") {
      assert(renderCompiles(target, cap) == 0)
    }
  }

  // a generator beside the glob: its spine is an exploded array held by
  // reference, not a `range` whose bounds are inlined
  for (target <- Seq[String => String](
      g => s"sumSeries($g, constantLine(1))",
      g => s"group($g, threshold(5))")) {
    test(s"the render ${target("<host>.*")} over the wsp source at a new window and host " +
        "compiles no class") {
      assert(renderCompiles(target) == 0)
    }
  }
}
