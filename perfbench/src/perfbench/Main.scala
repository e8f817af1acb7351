package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** What every workload shares: the session, the tracer, a private work
  * directory for generated inputs and outputs, and the seeded RNG.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path, seed: Long) {
  val rng = new SplittableRandom(seed)
  val now: Long = graft.ops.Buckets.NowS
  private var dirs = 0

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** A fresh directory under the work directory. */
  def freshDir(prefix: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(s"$prefix-$dirs"))
  }

  def writeLines(p: Path, lines: Seq[String]): Path =
    Files.write(p, lines.asJava)
}

/** A workload: set-up (including warm-up on throwaway inputs), then a
  * closed loop of operations until the deadline. Every operation that
  * throws or fails an output check counts as failed, and its time is
  * never recorded.
  */
abstract class Workload(val ctx: Ctx) {
  var attempted = 0L
  var failed = 0L
  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  def setup(): Unit
  def run(deadlineNs: Long): Unit
  /** The end-to-end metrics, by name (see [[Metrics.EndToEnd]]). */
  def endToEnd: Map[String, Double]
  /** This workload's share of [[Metrics.PerLayer]]; the rest read 0. */
  def perLayer: Map[String, Double]

  /** Runs one operation and then, untimed, its output check: the
    * operation's wall time in seconds with its result, or None when it
    * threw or its check failed.
    */
  protected def op[A](what: String)(body: => A)(check: A => Seq[String]): Option[(Double, A)] = {
    attempted += 1
    val t0 = System.nanoTime
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime - t0) / 1e9
    val problems = result match {
      case Left(e) =>
        ctx.log(s"FAILED $what: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        Seq("threw")
      case Right(a) =>
        try check(a) catch {
          case NonFatal(e) => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}")
        }
    }
    ctx.log(f"$what: $secs%.3f s")
    if (problems.isEmpty) result.toOption.map(secs -> _)
    else {
      problems.take(5).foreach(p => ctx.log(s"FAILED CHECK $what: $p"))
      failed += 1
      None
    }
  }
}

object Metrics {
  /** (name, unit) of every end-to-end metric; each workload reports all. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** (name, unit) of every per-layer metric; a layer a workload does not
    * run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.construct_ms.fetch" -> "ms",
    "driver.construct_ms.fetch_many" -> "ms",
    "driver.construct_ms.fetch_glob" -> "ms",
    "driver.construct_ms.render" -> "ms",
    "driver.construct_s.curate" -> "s",
    "driver.gap_s.write_cycle" -> "s",
    "driver.jobs_per_op.write_cycle" -> "count",
    "driver.jobs_per_op.fetch" -> "count",
    "driver.jobs_per_op.fetch_many" -> "count",
    "driver.jobs_per_op.fetch_glob" -> "count",
    "driver.jobs_per_op.render" -> "count",
    "driver.jobs_per_op.curate" -> "count",
    "driver.codegen_compiles" -> "count",
    "carbon.lines" -> "count",
    "carbon.accepted" -> "count",
    "carbon.dropped" -> "count",
    "carbon.parse_s" -> "s",
    "write_cycle.count" -> "count",
    "write_cycle.wall_s" -> "s",
    "write_cycle.task_s" -> "s",
    "write_cycle.cpu_s" -> "s",
    "write_cycle.gc_s" -> "s",
    "write_cycle.shuffle_write_bytes" -> "B",
    "write_cycle.spill_bytes" -> "B",
    "write_cycle.input_bytes" -> "B",
    "write_cycle.output_bytes" -> "B",
    "write_cycle.files_written" -> "count",
    "write_cycle.bytes_written_per_point" -> "B/point",
    "write_cycle.points_per_s" -> "points/s",
    "write_cycle.storage_bytes_per_point" -> "B/row",
    "serve.reads" -> "count",
    "serve.read_p50_ms" -> "ms",
    "serve.read_p90_ms" -> "ms",
    "fetch.latency_ms.1m" -> "ms",
    "fetch.latency_ms.5m" -> "ms",
    "fetch.latency_ms.1h" -> "ms",
    "fetch.latency_ms.many" -> "ms",
    "fetch.latency_ms.glob" -> "ms",
    "fetch.execute_ms" -> "ms",
    "fetch.files_read" -> "count",
    "fetch.bytes_read" -> "B",
    "fetch.rows_scanned_per_row_returned" -> "ratio",
    "render.latency_ms" -> "ms",
    "render.execute_ms" -> "ms",
    "wsp_scan.files_read" -> "count",
    "wsp_scan.bytes_read" -> "B",
    "wsp_scan.rows_decoded_per_row_returned" -> "ratio",
    "wsp_export.s" -> "s",
    "wsp_export.files" -> "count",
    "wsp_export.bytes" -> "B",
    "wsp_export.points_per_s" -> "points/s",
    "curate.docs" -> "count",
    "curate.construct_s" -> "s",
    "curate.execute_s" -> "s",
    "shard_pack.s" -> "s",
    "manifest_write.s" -> "s",
    "curate.task_s" -> "s",
    "curate.shuffle_bytes" -> "B",
    "curate.spill_bytes" -> "B",
    "stages.count" -> "count",
    "stages.tasks" -> "count",
    "stages.max_over_median_task_ms" -> "ratio",
    "jvm.gc_s" -> "s",
    "trace.spans" -> "count",
    "trace.overhead_s" -> "s")
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val launchMs = arg(args, "launch-ms").toLong
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = java.nio.file.Paths.get(arg(args, "work")).toAbsolutePath
    val out = java.nio.file.Paths.get(arg(args, "out")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Tracer(spark, traced), work, seed)
    val wl: Workload = workload match {
      case "ingest_bulk" => new IngestBulk(ctx)
      case "serve_live" => new ServeLive(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.setup()
    val setupS = (System.currentTimeMillis - launchMs) / 1e3
    ctx.log(f"set-up done in $setupS%.2f s")
    ctx.tracer.beginTimed()
    val (gc0, cg0) = (gcMs(), compiles())
    val t0 = System.nanoTime
    wl.run(t0 + (seconds * 1e9).toLong)
    val loopS = (System.nanoTime - t0) / 1e9
    ctx.tracer.drain()
    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val e2e = wl.endToEnd ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb())
        Metrics.EndToEnd.map { case (n, u) =>
          (n, u, e2e.getOrElse(n, throw new IllegalStateException(s"$workload did not report $n")))
        }
      } else {
        val tracer = ctx.tracer
        val stages = tracer.all.filter(_.parent.isEmpty)
        val skewN = stages.map(_.total("skewed_stages")).sum
        val layer = wl.perLayer ++ Map(
          "driver.codegen_compiles" -> (compiles() - cg0).toDouble,
          "stages.count" -> stages.map(_.total("stages")).sum,
          "stages.tasks" -> stages.map(_.total("tasks")).sum,
          "stages.max_over_median_task_ms" ->
            (if (skewN == 0) 0.0 else stages.map(_.total("skew_sum")).sum / skewN),
          "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
          "trace.spans" -> tracer.all.size.toDouble,
          "trace.overhead_s" -> tracer.overheadS)
        val unknown = layer.keySet -- Metrics.PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        tracer.write(out.resolveSibling(s"trace-$workload-seed$seed.jsonl"))
        Metrics.PerLayer.map { case (n, u) => (n, u, layer.getOrElse(n, 0.0)) }
      }
    ctx.log(f"timed loop $loopS%.2f s, ${wl.attempted} ops, ${wl.failed} failed")
    val json = Seq(
      "\"correct\":" + (wl.failed == 0),
      "\"attempted\":" + wl.attempted,
      "\"failed\":" + wl.failed,
      "\"metrics\":" + metrics.map { case (n, u, v) =>
        s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}")).mkString("{", ",", "}")
    Files.write(out, (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
