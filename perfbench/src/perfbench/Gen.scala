package perfbench

import java.util.SplittableRandom

/** One carbon point as the generator emitted it. */
final case class Pt(metric: String, ts: Long, value: Double)

/** Zipf(`s`) over ranks 0 until `n`, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** The graphite series hierarchy: `servers.dc<d>.host<hhh>.<metric>`,
  * ten metrics per host and [[HostsPerDc]] hosts per data centre, so a
  * host glob (`servers.dc0.host007.*`) selects ten series.
  */
object Series {
  val Metrics: Vector[String] = Vector("cpu_user", "cpu_system", "cpu_iowait",
    "mem_used", "mem_free", "disk_read", "disk_write", "net_rx", "net_tx", "load1")
  val HostsPerDc = 25

  def hostPath(host: Int): String =
    f"servers.dc${host / HostsPerDc}.host${host % HostsPerDc}%03d"
  def name(i: Int): String = s"${hostPath(i / Metrics.size)}.${Metrics(i % Metrics.size)}"
  def hostGlob(host: Int): String = s"${hostPath(host)}.*"
  def ofHost(host: Int): Seq[String] = Metrics.indices.map(m => name(host * Metrics.size + m))

  /** A seeded permutation: popularity rank → series (or host) index. */
  def permutation(rng: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}

/** Shares of the special cases among a batch's points. `gap`: minutes a
  * series skips (exercises the xFF gate); `rewrite`: extra writes to a
  * minute already written, in this batch or the previous one (LWW);
  * `late`: points 1–7 days old (routed straight to the 5m archive);
  * `tooOld`: points older than every archive (rejected); `malformed`:
  * lines carbon must drop.
  */
final case class Shares(gap: Double, rewrite: Double, late: Double,
    tooOld: Double, malformed: Double)

/** A carbon plaintext batch and what parsing and routing it must yield. */
final case class CarbonBatch(lines: Vector[String], valid: Vector[Pt],
    malformed: Int, tooOld: Int) {
  def accepted: Int = valid.size - tooOld
}

object CarbonGen {
  val Day = 86400L

  /** Values on a 0.01 grid: exact in a double, and on the engine's
    * 6-decimal grid, so the expected rollups are exact too.
    */
  def value(rng: SplittableRandom): Double = rng.nextInt(100000) / 100.0

  def line(p: Pt): String = s"${p.metric} ${p.value} ${p.ts}"

  private def malformedLine(rng: SplittableRandom, metric: String): String = {
    val v = value(rng)
    rng.nextInt(4) match {
      case 0 => s"$metric $v"
      case 1 => s"$metric notanumber 1706600000"
      case 2 => s"$metric $v 1706600000 extra"
      case _ => s"$metric $v 17e"
    }
  }

  /** `minutes` minutes of one point per minute per series, starting at
    * `fromTs` (minute-aligned), plus the [[Shares]] of special cases.
    * Rewrites land in this batch's minutes or, when `prevFromTs` is
    * given, in the previous batch's.
    */
  def batch(rng: SplittableRandom, nSeries: Int, fromTs: Long, minutes: Int,
      prevFromTs: Option[Long], now: Long, sh: Shares): CarbonBatch = {
    val pts = Vector.newBuilder[Pt]
    for (s <- 0 until nSeries; m <- 0 until minutes) {
      val name = Series.name(s)
      if (rng.nextDouble() >= sh.gap)
        pts += Pt(name, fromTs + 60L * m + rng.nextInt(60), value(rng))
      if (rng.nextDouble() < sh.rewrite) {
        val base = prevFromTs match {
          case Some(p) if rng.nextBoolean() => p + 60L * rng.nextInt(minutes)
          case _ => fromTs + 60L * m
        }
        pts += Pt(name, base + rng.nextInt(60), value(rng))
      }
    }
    val regular = pts.result()
    val n = regular.size
    def count(share: Double) = math.round(share * n).toInt
    def someSeries() = Series.name(rng.nextInt(nSeries))
    // late: age in [1 d, 7 d) routes to the 5m archive; too old: beyond
    // the 30 d horizon of every archive
    val late = Vector.fill(count(sh.late))(
      Pt(someSeries(), now - Day - 1 - rng.nextLong(6 * Day - 1), value(rng)))
    val old = Vector.fill(count(sh.tooOld))(
      Pt(someSeries(), now - 30 * Day - 1 - rng.nextLong(5 * Day), value(rng)))
    val valid = regular ++ late ++ old
    val bad = Vector.fill(count(sh.malformed))(malformedLine(rng, someSeries()))
    // interleave so malformed lines sit among good ones, as in a stream
    val lines = rng.ints(0, Int.MaxValue).limit((valid.size + bad.size).toLong)
      .toArray.zip(valid.map(line) ++ bad).sortBy(_._1).map(_._2).toVector
    CarbonBatch(lines, valid, bad.size, old.size)
  }

  /** Serving history: 20 minutes of 1m points ending an hour before
    * `now`, an hour of 5m points a day back and 6 hours of hourly points a
    * week back — every archive holds data, and the last hour is left to
    * live writes.
    */
  def history(rng: SplittableRandom, nSeries: Int, now: Long): Vector[Pt] = {
    val out = Vector.newBuilder[Pt]
    for (s <- 0 until nSeries) {
      val name = Series.name(s)
      for (m <- 0 until 20 if rng.nextDouble() >= 0.05)
        out += Pt(name, now - 80 * 60 + 60L * m + rng.nextInt(60), value(rng))
      for (k <- 0 until 12)
        out += Pt(name, now - 25 * 3600 + 300L * k + rng.nextInt(300), value(rng))
      for (h <- 0 until 6)
        out += Pt(name, now - 7 * Day - 6 * 3600 + 3600L * h + rng.nextInt(3600), value(rng))
    }
    out.result()
  }

  /** Live batch `k`: one point for every series in minute `k mod 60` of
    * the last hour (a later lap rewrites the minute: LWW).
    */
  def live(rng: SplittableRandom, nSeries: Int, k: Int, now: Long): Vector[Pt] = {
    val minute = now - 3600 + 60L * (k % 60)
    Vector.tabulate(nSeries)(s => Pt(Series.name(s), minute + rng.nextInt(60), value(rng)))
  }
}

/** One generated document. */
final case class Doc(id: Long, text: String)

/** What curation must decide for one corpus document. */
final case class DocExpect(nTokens: Long, keepDedup: Int, keepClean: Int,
    keepQuality: Int) {
  def keep: Int = keepDedup * keepClean * keepQuality
}

final case class Corpus(docs: Vector[Doc], expect: Map[Long, DocExpect]) {
  def nPlanted: (Int, Int, Int) = (
    expect.values.count(_.keepDedup == 0),
    expect.values.count(_.keepClean == 0),
    expect.values.count(_.keepQuality == 0))
}

/** Seeded corpora with planted exact and near duplicates, planted
  * benchmark contamination and planted low-quality documents.
  *
  * Benchmark documents (ids below `bench`) draw from three-syllable
  * words, corpus documents from two-syllable words and the stopwords,
  * so a corpus document shares a 3-token shingle with the benchmark only
  * where a span was planted. Random corpus documents share almost no
  * shingles, so the only near-duplicate pairs are the planted copies;
  * a near copy differs in its last token only (Jaccard ≥ 37/39, far
  * above the engine's 0.5 threshold and its LSH recall knee).
  */
object CorpusGen {
  private val Cons = "bcdfghjklmnprstvz"
  private val Vows = "aeiou"
  private def syl(i: Int): String = s"${Cons(i / Vows.length)}${Vows(i % Vows.length)}"
  private val NSyl = Cons.length * Vows.length

  private def corpusWord(rng: SplittableRandom): String =
    syl(rng.nextInt(NSyl)) + syl(rng.nextInt(NSyl))
  private def benchWord(rng: SplittableRandom): String =
    syl(rng.nextInt(NSyl)) + syl(rng.nextInt(NSyl)) + syl(rng.nextInt(NSyl))

  /** The stopwords of the engine's quality score. */
  private val Stop = Vector("a", "the")

  private def plain(rng: SplittableRandom): Vector[String] =
    Vector.fill(40 + rng.nextInt(61))(
      if (rng.nextDouble() < 0.08) Stop(rng.nextInt(Stop.size)) else corpusWord(rng))

  /** The engine's quality gate, recomputed from the tokens with the
    * same double operations and 6-decimal rounding.
    */
  def keepQuality(toks: Seq[String]): Int = {
    def round6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val n = toks.length.toLong
    val counts = toks.groupBy(identity).values.map(_.size.toLong)
    val stop = toks.count(Stop.contains).toLong
    val top = round6(counts.max.toDouble / n)
    val q = round6((counts.size.toDouble / n) * (1.0 - stop.toDouble / n))
    if (q >= graft.ops.Curation.CurateMinQuality &&
      top <= graft.ops.Curation.CurateMaxTopShare) 1 else 0
  }

  def corpus(rng: SplittableRandom, n: Int,
      bench: Int = graft.ops.Curation.BenchmarkDocs): Corpus = {
    require(n > bench + 10, s"corpus of $n docs leaves no room past the benchmark")
    val benchToks = Vector.fill(bench)(Vector.fill(30 + rng.nextInt(31))(benchWord(rng)))
    val docs = Vector.newBuilder[Doc]
    val expect = Map.newBuilder[Long, DocExpect]
    benchToks.zipWithIndex.foreach { case (t, i) => docs += Doc(i.toLong, t.mkString(" ")) }
    val originals = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    for (id <- bench until n) {
      val r = rng.nextDouble()
      val (toks, dedup, clean) =
        if (r < 0.03 && originals.nonEmpty)
          (originals.remove(rng.nextInt(originals.size)), 0, 1)
        else if (r < 0.06 && originals.nonEmpty) {
          val o = originals.remove(rng.nextInt(originals.size))
          var w = corpusWord(rng)
          while (w == o.last) w = corpusWord(rng)
          (o.updated(o.size - 1, w), 0, 1)
        } else if (r < 0.09) {
          val b = benchToks(rng.nextInt(bench))
          val at = rng.nextInt(b.size - 5)
          val p = plain(rng)
          val cut = rng.nextInt(p.size)
          (p.take(cut) ++ b.slice(at, at + 5) ++ p.drop(cut), 1, 0)
        } else if (r < 0.11) {
          val w = corpusWord(rng)
          (Vector.fill(30)(w) ++ Vector.fill(10)(corpusWord(rng)), 1, 1)
        } else {
          val p = plain(rng)
          originals += p
          (p, 1, 1)
        }
      docs += Doc(id.toLong, toks.mkString(" "))
      expect += id.toLong -> DocExpect(toks.size.toLong, dedup, clean, keepQuality(toks))
    }
    Corpus(docs.result(), expect.result())
  }
}
