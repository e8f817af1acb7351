package perfbench

import graft.WhisperTable
import graft.model.Retentions
import scala.collection.mutable

/** `ingest_bulk`: one writer, closed loop. Each scenario creates a fresh
  * table, writes [[Batches]] carbon batches of [[Minutes]] minutes of
  * [[NSeries]] series back to back into the SAME day partition (the
  * cost of a cycle grows as the day fills, which spreading batches over
  * days would hide), then exports the table as a `.wsp` tree. Scenarios
  * repeat while the time allows one more.
  */
final class IngestBulk(ctx: Ctx) extends Workload(ctx) {
  private val NSeries = 2000
  private val Minutes = 15
  private val Batches = 3
  private val Sampled = 8
  private val shares = Shares(gap = 0.03, rewrite = 0.02, late = 0.01,
    tooOld = 0.005, malformed = 0.005)
  private val schema = Retentions.std
  private val writer = new CarbonWriter(ctx)

  private val cycleS = mutable.ArrayBuffer.empty[Double]
  private val exportS = mutable.ArrayBuffer.empty[Double]
  private var exportPoints = 0L
  private var exportFiles = 0L
  private var exportBytes = 0L
  private var storage = (0L, 0L) // (bytes on disk, rows stored)

  /** One scenario; only `timed` ones feed the metrics. */
  private def scenario(nSeries: Int, minutes: Int, timed: Boolean): Unit = {
    val dir = ctx.freshDir("ingest")
    val tablePath = dir.resolve("table")
    val table = WhisperTable.create(spark, tablePath.toString, schema)
    val sampled = Series.permutation(ctx.rng, nSeries).take(Sampled).map(Series.name).toSet
    val model = new WhisperModel(schema, ctx.now)
    val day0 = ctx.now - CarbonGen.Day
    for (b <- 0 until Batches) {
      val from = day0 + 60L * minutes * b
      val batch = CarbonGen.batch(ctx.rng, nSeries, from, minutes,
        if (b > 0) Some(from - 60L * minutes) else None, ctx.now, shares)
      val file = ctx.writeLines(dir.resolve(s"batch-$b.txt"), batch.lines)
      op(s"write cycle $b")(writer.write(table, file))(writer.check(_, batch))
        .foreach { case (s, _) => if (timed) cycleS += s }
      model.applyBatch(batch.valid.filter(p => sampled(p.metric)))
    }
    val tree = dir.resolve("wsp")
    op("wsp export")(tracer.span("wsp_export")(table.exportWsp(tree.toString).collect())) {
      manifest =>
        val m = sampled.toSeq.sorted
        // one dense fetch per archive covers its whole retention
        val checks = Seq(ctx.now - CarbonGen.Day, ctx.now - 7 * CarbonGen.Day,
          ctx.now - 30 * CarbonGen.Day).flatMap { from =>
          Tsdb.compare(s"fetchMany from ${ctx.now - from}s back",
            table.fetchMany(m, from, ctx.now, ctx.now).collect().toSeq, m,
            model.fetch(_, from, ctx.now))
        }
        val exported = manifest.map(r => r.getString(0) -> r.getLong(1)).toMap
        val missing = (0 until nSeries).map(Series.name).filterNot(exported.contains)
        checks ++
          (if (manifest.length != nSeries)
            Seq(s"export wrote ${manifest.length} series, expected $nSeries (missing ${missing.take(3)})")
          else Nil)
    }.foreach { case (s, manifest) =>
      if (timed) {
        exportS += s
        exportPoints += manifest.map(_.getLong(1)).sum
        exportFiles += manifest.length
        exportBytes += manifest.map(_.getLong(2)).sum
        if (tracer.enabled) {
          val rows = schema.retentions.map(r =>
            spark.read.parquet(tablePath.resolve(s"points_${r.secondsPerPoint}s").toString).count()).sum
          storage = (storage._1 + Tsdb.bytes(tablePath), storage._2 + rows)
        }
      }
    }
  }

  def setup(): Unit = scenario(nSeries = 40, minutes = 5, timed = false)

  def run(deadlineNs: Long): Unit = {
    writer.reset()
    do scenario(NSeries, Minutes, timed = true) while (System.nanoTime < deadlineNs)
  }

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> writer.stored / cycleS.sum,
    "op_p50_ms" -> Stats.median(cycleS.toSeq) * 1e3,
    "op_p90_ms" -> Stats.percentile(cycleS.toSeq, 0.9) * 1e3)

  def perLayer: Map[String, Double] = {
    import Stats.ratio
    writer.layerMetrics ++ Map(
      "write_cycle.storage_bytes_per_point" -> ratio(storage._1, storage._2),
      "wsp_export.s" -> ratio(exportS.sum, exportS.size),
      "wsp_export.files" -> ratio(exportFiles, exportS.size),
      "wsp_export.bytes" -> ratio(exportBytes, exportS.size),
      "wsp_export.points_per_s" -> ratio(exportPoints, exportS.sum))
  }
}
