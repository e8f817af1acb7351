package perfbench

import graft.ops.{Curation, PipelineOps}
import java.nio.file.Path
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** `corpus_curate`: sequential corpora, closed loop. Each corpus of
  * [[NDocs]] documents is generated fresh into a new directory (so the
  * engine's freshness-keyed index memo misses, as it does for a user's
  * new corpus), then: `Curation.curate` → decisions written as parquet
  * → keep filter → kept corpus written → `PipelineOps.shardPackScalable`
  * → shard manifest written as parquet. No TSDB layer runs here.
  */
final class CorpusCurate(ctx: Ctx) extends Workload(ctx) {
  private val NDocs = 600

  private val corpusS = mutable.ArrayBuffer.empty[Double]
  private var docs = 0L

  private def stage(n: Int): (Path, Corpus) = {
    val dir = ctx.freshDir("corpus")
    val c = CorpusGen.corpus(ctx.rng, n)
    val langs = Vector("en", "es", "de", "fr", "zh")
    val s = spark
    import s.implicits._
    c.docs.map(d => (d.id, d.text, langs((d.id % 5).toInt), s"src${d.id % 20}", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    (dir, c)
  }

  private final case class Out(decisions: Path, manifest: Path)

  private def pipeline(dir: Path): Out = {
    val decisions = dir.resolve("decisions")
    val keptDir = dir.resolve("kept")
    val manifest = dir.resolve("shards")
    tracer.span("curate") {
      val cur = tracer.span("curate.construct")(Curation.curate(spark, dir.toString))
      tracer.span("curate.execute")(cur.write.parquet(decisions.toString))
    }
    val packed = tracer.span("shard_pack") {
      val keep = spark.read.parquet(decisions.toString).filter(col("keep") === 1).select("doc_id")
      spark.read.parquet(dir.resolve("documents.parquet").toString).join(keep, "doc_id")
        .write.parquet(keptDir.resolve("documents.parquet").toString)
      PipelineOps.shardPackScalable(spark, keptDir.toString)
    }
    tracer.span("manifest_write")(packed.write.parquet(manifest.toString))
    Out(decisions, manifest)
  }

  /** Every curation decision against the plant, documents conserved, and
    * the shard manifest equal to the sequential first-fit packing.
    */
  private def check(c: Corpus, o: Out): Seq[String] = {
    val rows = spark.read.parquet(o.decisions.toString).collect()
    val got = rows.map(r => r.getAs[Long]("doc_id") -> DocExpect(
      r.getAs[Long]("n_tokens"), r.getAs[Int]("keep_dedup"), r.getAs[Int]("keep_clean"),
      r.getAs[Int]("keep_quality"))).toMap
    val keepOk = rows.forall(r => r.getAs[Int]("keep") == got(r.getAs[Long]("doc_id")).keep)
    val decisions =
      (if (got.size != c.expect.size) Seq(s"curate kept ${got.size} docs of ${c.expect.size}")
      else Nil) ++
        (if (keepOk) Nil else Seq("keep is not the conjunction of the gates")) ++
        c.expect.toSeq.sortBy(_._1).collect {
          case (id, e) if !got.get(id).contains(e) => s"doc $id: got ${got.get(id)}, expected $e"
        }.take(5)
    val kept = c.expect.toSeq.filter(_._2.keep == 1).sortBy(_._1)
    val shards = spark.read.parquet(o.manifest.toString).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("shard")))
      .sortBy(_._1).toSeq
    val prior = kept.scanLeft(0L)(_ + _._2.nTokens)
    val expectShards = kept.zip(prior).map { case ((id, e), p) =>
      (id, e.nTokens, p / PipelineOps.ShardTokens) }
    val packing =
      if (shards == expectShards) Nil
      else Seq(s"shard manifest: ${shards.size} rows, expected ${expectShards.size}; first " +
        s"difference ${shards.zipAll(expectShards, null, null).find(p => p._1 != p._2)}")
    decisions ++ packing
  }

  private def corpus(n: Int, timed: Boolean): Unit = {
    val (dir, c) = stage(n)
    op(s"curate ${dir.getFileName}")(pipeline(dir))(check(c, _)).foreach { case (s, _) =>
      if (timed) {
        corpusS += s
        docs += n
      }
    }
  }

  /** Two small corpora: the first compiles the plans, the second leaves
    * the driver's planning code warm enough that the first timed corpus
    * is not slower than the next.
    */
  def setup(): Unit = for (_ <- 0 until 2) corpus(200, timed = false)

  /** Corpora until the deadline, and at least two, so every run reports a
    * median and a tail of the same number of corpora.
    */
  def run(deadlineNs: Long): Unit = {
    var n = 0
    while (n < 2 || System.nanoTime < deadlineNs) { corpus(NDocs, timed = true); n += 1 }
  }

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> docs / corpusS.sum,
    "op_p50_ms" -> Stats.median(corpusS.toSeq) * 1e3,
    "op_p90_ms" -> Stats.percentile(corpusS.toSeq, 0.9) * 1e3)

  def perLayer: Map[String, Double] = {
    import Stats.ratio
    val cur = tracer.named("curate")
    val n = cur.size.toDouble
    def mean(name: String) = ratio(tracer.named(name).map(_.wallMs).sum, n) / 1e3
    def per(k: String) = ratio(cur.map(_.total(k)).sum, n)
    Map(
      "driver.construct_s.curate" -> mean("curate.construct"),
      "driver.jobs_per_op.curate" -> per("jobs"),
      "curate.docs" -> docs.toDouble,
      "curate.construct_s" -> mean("curate.construct"),
      "curate.execute_s" -> mean("curate.execute"),
      "shard_pack.s" -> mean("shard_pack"),
      "manifest_write.s" -> mean("manifest_write"),
      "curate.task_s" -> per("task_ms") / 1e3,
      "curate.shuffle_bytes" -> per("shuffle_write_bytes"),
      "curate.spill_bytes" -> per("spill_bytes"))
  }
}
