package perfbench

import graft.model.Retentions
import java.util.SplittableRandom

/** Tests of the benchmark's pure parts: percentile selection, generator
  * determinism and the expected-value model the output checks rely on.
  * Exits non-zero on any failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val now = graft.ops.Buckets.NowS
    val day = CarbonGen.Day

    // ---- percentiles
    check("nearest rank") {
      Stats.rank(100, 0.9) == 90 && Stats.rank(10, 0.5) == 5 && Stats.rank(1, 0.9) == 1 &&
        Stats.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0
    }
    check("median of odd and even samples") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }
    check("p90 has ten samples beyond it from 100 samples on") {
      Stats.beyond(99, 0.9) == 9 && Stats.beyond(100, 0.9) == 10
    }
    check("highest percentile with ten samples beyond it") {
      Stats.highestSupported(10).isEmpty && Stats.highestSupported(20).contains(0.5) &&
        Stats.highestSupported(40).contains(0.75) && Stats.highestSupported(100).contains(0.9) &&
        Stats.highestSupported(999).contains(0.95) && Stats.highestSupported(1000).contains(0.99)
    }

    // ---- generators
    val sh = Shares(gap = 0.05, rewrite = 0.05, late = 0.02, tooOld = 0.02, malformed = 0.02)
    def batch(seed: Long) =
      CarbonGen.batch(new SplittableRandom(seed), 50, now - day, 10, Some(now - day - 600), now, sh)
    check("carbon batches repeat per seed and differ across seeds") {
      batch(7) == batch(7) && batch(7).lines != batch(8).lines
    }
    check("carbon batch counts add up") {
      val b = batch(7)
      b.lines.size == b.valid.size + b.malformed && b.malformed > 0 && b.tooOld > 0 &&
        b.valid.count(p => now - p.ts >= 30 * day) == b.tooOld
    }
    check("corpora repeat per seed and differ across seeds") {
      val c = CorpusGen.corpus(new SplittableRandom(7), 400)
      c == CorpusGen.corpus(new SplittableRandom(7), 400) &&
        c.docs != CorpusGen.corpus(new SplittableRandom(8), 400).docs
    }
    check("corpus plants duplicates, contamination and low quality") {
      val c = CorpusGen.corpus(new SplittableRandom(7), 2000)
      val (dups, dirty, poor) = c.nPlanted
      c.docs.size == 2000 && c.expect.size == 2000 - graft.ops.Curation.BenchmarkDocs &&
        dups > 20 && dirty > 20 && poor > 20
    }
    check("quality gate recomputed from tokens") {
      CorpusGen.keepQuality(Seq.fill(30)("x") ++ (1 to 10).map(i => s"w$i")) == 0 &&
        CorpusGen.keepQuality((1 to 40).map(i => s"w$i")) == 1 &&
        CorpusGen.keepQuality((1 to 20).map(i => s"w$i") ++ Seq.fill(20)("the")) == 0
    }

    // ---- expected-value model (Retentions.std: 1m:1d, 5m:7d, 1h:30d, avg, xff 0.5)
    def model() = new WhisperModel(Retentions.std, now)
    val t = now - 7200 // minute-, 5m- and hour-aligned
    check("routing: by age to the finest covering archive, else rejected") {
      val m = model()
      m.route(now - 10) == 0 && m.route(now - day) == 1 && m.route(now - 7 * day) == 2 &&
        m.route(now - 30 * day) == -1 && m.route(now + 1) == -1
    }
    check("LWW within a batch: greatest (ts, value) wins") {
      val m = model()
      m.applyBatch(Seq(Pt("s", t + 40, 1.0), Pt("s", t + 10, 9.0), Pt("s", t + 40, 2.0)))
      m.at(0, "s", t).contains(2.0)
    }
    check("LWW across batches: the later batch wins") {
      val m = model()
      m.applyBatch(Seq(Pt("s", t + 50, 1.0)))
      m.applyBatch(Seq(Pt("s", t + 5, 3.0)))
      m.at(0, "s", t).contains(3.0)
    }
    check("rollup: 6-decimal mean of known slots when xff is met") {
      val m = model()
      val (acc, rej) = m.applyBatch(Seq(Pt("s", t, 1.0), Pt("s", t + 60, 2.0), Pt("s", t + 120, 2.0)))
      acc == 3 && rej == 0 && m.at(1, "s", t).contains(1.666667) &&
        WhisperModel.mean6(Seq(1.0, 2.0, 2.0)) == 1.666667
    }
    check("xFF gate: 2 of 5 slots propagate nothing") {
      val m = model()
      m.applyBatch(Seq(Pt("s", t, 1.0), Pt("s", t + 60, 2.0)))
      m.at(1, "s", t).isEmpty
    }
    check("a later cycle completing the window propagates") {
      val m = model()
      m.applyBatch(Seq(Pt("s", t, 1.0), Pt("s", t + 60, 2.0)))
      m.applyBatch(Seq(Pt("s", t + 240, 6.0)))
      m.at(1, "s", t).contains(3.0)
    }
    check("cascade: an hour needs 6 of its 12 5m slots") {
      val m = model()
      // one minute in each of five 5m windows: 1/5 < xff, nothing rolls up
      m.applyBatch((0 until 5).map(k => Pt("s", t + 300L * k, 1.0 + k)))
      val none = m.at(1, "s", t).isEmpty && m.at(2, "s", t).isEmpty
      val full = (0 until 6 * 5).map(k => Pt("s", t + 60L * k, 2.0))
      m.applyBatch(full)
      none && m.at(1, "s", t).contains(2.0) && m.at(2, "s", t).contains(2.0)
    }
    check("late points land in 5m directly and roll up to 1h") {
      val m = model()
      val h = now - 2 * day
      m.applyBatch((0 until 6).map(k => Pt("s", h + 300L * k + 7, 4.0 + k)))
      m.at(1, "s", h).contains(4.0) && m.at(2, "s", h).contains(6.5) && m.at(0, "s", h).isEmpty
    }
    check("fetch window: archive choice, step and slot count") {
      val m = model()
      val (a1, f1, u1) = m.window(now - 3600, now)
      val (a2, _, _) = m.window(now - 2 * day, now)
      val (a3, _, _) = m.window(now - 10 * day, now)
      val one = m.fetch("s", t + 5, t + 5)
      a1 == 0 && (u1 - f1) / 60 == 60 && a2 == 1 && a3 == 2 && one.size == 1 &&
        m.fetch("s", now - 7 * day, now).size == 7 * 288
    }

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
