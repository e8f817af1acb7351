package perfbench

import graft.{TimeSeriesPoint, UpdateResult, WhisperTable}
import graft.sources.Carbon
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** The carbon write path both TSDB workloads drive: plaintext lines →
  * `spark.read.text` → `Carbon.parsedObserved` → `updateMany`, with the
  * exact count checks against the generator.
  */
final class CarbonWriter(ctx: Ctx) {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var cycles = 0
  var lines = 0L
  var accepted = 0L
  var dropped = 0L
  /** Points `updateMany` accepted into an archive. */
  var stored = 0L
  var filesWritten = 0L

  /** Zeroes the counters: the per-layer figures cover the timed loop. */
  def reset(): Unit = { lines = 0; accepted = 0; dropped = 0; stored = 0; filesWritten = 0 }

  /** What one write cycle reported. */
  final case class Cycle(parsed: Long, dropped: Long, result: UpdateResult)

  /** One write cycle over a staged carbon file. In a traced run the
    * parse is first materialized on its own, so its time shows apart.
    */
  def write(table: WhisperTable, file: Path): Cycle = {
    cycles += 1
    val startMs = System.currentTimeMillis
    val (pts, obs) = Carbon.parsedObserved(
      spark.read.text(file.toString), ctx.now, s"carbon_parse_$cycles")
    if (tracer.enabled) tracer.span("carbon_parse")(pts.count())
    val result = tracer.span("write_cycle") {
      table.updateMany(
        pts.select(col("metric"), col("ts_s").as("time"), col("value"))
          .as(Encoders.product[TimeSeriesPoint]),
        ctx.now)
    }
    if (tracer.enabled)
      filesWritten += Tsdb.files(java.nio.file.Paths.get(table.path))
        .count(p => Files.getLastModifiedTime(p).toMillis >= startMs)
    val m = obs.get
    Cycle(m("accepted").asInstanceOf[Long], m("dropped").asInstanceOf[Long], result)
  }

  /** Count checks of one cycle against its generated batch. */
  def check(c: Cycle, b: CarbonBatch): Seq[String] = {
    lines += b.lines.size
    accepted += c.parsed
    dropped += c.dropped
    stored += c.result.accepted
    Seq(
      "carbon accepted" -> (c.parsed, b.valid.size.toLong),
      "carbon dropped" -> (c.dropped, b.malformed.toLong),
      "updateMany accepted" -> (c.result.accepted, b.accepted.toLong),
      "updateMany rejected" -> (c.result.rejected, b.tooOld.toLong))
      .collect { case (what, (got, want)) if got != want => s"$what $got, expected $want" }
  }

  /** The carbon and write-cycle layer figures of a traced run, per cycle. */
  def layerMetrics: Map[String, Double] = {
    import Stats.ratio
    val cycles = tracer.named("write_cycle")
    val n = cycles.size.toDouble
    val cycleMs = cycles.map(_.wallMs).sum
    def per(k: String) = ratio(cycles.map(_.total(k)).sum, n)
    Map(
      "driver.gap_s.write_cycle" -> ratio(cycles.map(c => c.wallMs - c.busyMs).sum, n) / 1e3,
      "driver.jobs_per_op.write_cycle" -> per("jobs"),
      "carbon.lines" -> lines.toDouble,
      "carbon.accepted" -> accepted.toDouble,
      "carbon.dropped" -> dropped.toDouble,
      "carbon.parse_s" -> ratio(tracer.named("carbon_parse").map(_.wallMs).sum, n) / 1e3,
      "write_cycle.count" -> n,
      "write_cycle.wall_s" -> ratio(cycleMs, n) / 1e3,
      "write_cycle.task_s" -> per("task_ms") / 1e3,
      "write_cycle.cpu_s" -> per("cpu_ms") / 1e3,
      "write_cycle.gc_s" -> per("gc_ms") / 1e3,
      "write_cycle.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "write_cycle.spill_bytes" -> per("spill_bytes"),
      "write_cycle.input_bytes" -> per("input_bytes"),
      "write_cycle.output_bytes" -> per("output_bytes"),
      "write_cycle.files_written" -> ratio(filesWritten, n),
      "write_cycle.bytes_written_per_point" ->
        ratio(cycles.map(_.total("output_bytes")).sum, stored),
      "write_cycle.points_per_s" -> ratio(stored, cycleMs / 1e3))
  }
}

object Tsdb {
  /** Regular files under `dir` (recursively). */
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def bytes(dir: Path): Long = files(dir).map(Files.size).sum

  /** Compares fetched rows `(metric, bucket_ts, value)` with the model's
    * dense series for `metrics`: same length per metric, same values.
    */
  def compare(what: String, rows: Seq[Row], metrics: Seq[String],
      expect: String => Vector[(Long, Option[Double])]): Seq[String] = {
    val got = rows.groupBy(_.getString(0))
    val extra = got.keySet -- metrics
    (if (extra.nonEmpty) Seq(s"$what: unexpected series ${extra.take(3)}") else Nil) ++
      metrics.flatMap { m =>
        val e = expect(m)
        val g = got.getOrElse(m, Nil).map(r =>
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
        if (g.size != e.size) Seq(s"$what $m: ${g.size} slots, expected ${e.size}")
        else g.zip(e).collect {
          case ((gb, gv), (eb, ev)) if gb != eb || !WhisperModel.same(ev, gv) =>
            s"$what $m @$eb: got ($gb, $gv), expected $ev"
        }.take(3)
      }
  }
}
