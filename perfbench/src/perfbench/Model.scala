package perfbench

import graft.model.WhisperSchema
import scala.collection.mutable

/** The expected-value model behind the TSDB output checks: an in-memory
  * whisper table that applies the documented write-cycle semantics point
  * by point, independently of the engine.
  *
  *  - routing: a point goes to the finest archive whose retention exceeds
  *    its age; future points and points older than every archive are
  *    rejected;
  *  - LWW: within a batch the point with the greatest (ts, value) wins a
  *    bucket; across batches the later batch wins;
  *  - rollup: each coarse bucket a cycle touches is re-derived from the
  *    finer level as the 6-decimal mean of its known slots, and written
  *    only when known/total (as float32) reaches the xFilesFactor; a
  *    direct write to the coarse level in the same cycle wins over it.
  *
  * It holds only the series it is fed, so a caller may model a sample.
  */
final class WhisperModel(schema: WhisperSchema, now: Long) {
  private val spps = schema.retentions.map(_.secondsPerPoint.toLong).toVector
  private val rets = schema.retentions.map(_.maxRetentionSeconds).toVector
  private val levels = Vector.fill(spps.size)(mutable.HashMap.empty[(String, Long), Double])

  private def align(ts: Long, spp: Long) = Math.floorDiv(ts, spp) * spp

  /** 0-based archive for a point, or -1 when it is rejected. */
  def route(ts: Long): Int = {
    val age = now - ts
    if (age < 0) -1 else rets.indexWhere(age < _)
  }

  /** Apply one write cycle; returns (accepted, rejected). */
  def applyBatch(points: Seq[Pt]): (Long, Long) = {
    val routed = points.map(p => (p, route(p.ts)))
    var propagated = Map.empty[(String, Long), Double]
    for (i <- spps.indices) {
      val spp = spps(i)
      val direct = routed.collect { case (p, a) if a == i => p }
        .groupBy(p => (p.metric, align(p.ts, spp)))
        .map { case (k, ps) => k -> ps.maxBy(p => (p.ts, p.value)).value }
      val level = levels(i)
      level ++= propagated
      level ++= direct
      val touched = direct.keySet ++ propagated.keySet
      propagated = if (i + 1 == spps.size) Map.empty else {
        val nspp = spps(i + 1)
        val horizon = now - rets(i)
        touched.map { case (m, b) => (m, align(b, nspp)) }
          .filter(_._2 >= horizon)
          .flatMap { case (m, cb) =>
            val window = (cb until cb + nspp by spp).flatMap(b => level.get((m, b)))
            val total = nspp / spp
            if (window.nonEmpty &&
              (window.size.toDouble / total).toFloat >= schema.xFilesFactor.toFloat)
              Some((m, cb) -> WhisperModel.mean6(window))
            else None
          }.toMap
      }
    }
    (routed.count(_._2 >= 0).toLong, routed.count(_._2 < 0).toLong)
  }

  /** The fetch window: (archive, first bucket, end bucket exclusive). */
  def window(fromS: Long, untilS: Long): (Int, Long, Long) = {
    val from = math.max(fromS, now - rets.max)
    val until = math.min(untilS, now)
    val a0 = rets.indexWhere(_ >= now - from)
    val a = if (a0 < 0) spps.size - 1 else a0
    val spp = spps(a)
    val fromI = Math.floorDiv(from, spp) * spp + spp
    val untilI0 = Math.floorDiv(until, spp) * spp + spp
    (a, fromI, if (untilI0 == fromI && until >= from) untilI0 + spp else untilI0)
  }

  def spp(archive: Int): Long = spps(archive)

  /** The dense series fetch must return: one slot per bucket. */
  def fetch(metric: String, fromS: Long, untilS: Long): Vector[(Long, Option[Double])] = {
    val (a, fromI, untilI) = window(fromS, untilS)
    (fromI until untilI by spps(a)).map(b => b -> levels(a).get((metric, b))).toVector
  }

  /** The stored value at one archive, or None. */
  def at(archive: Int, metric: String, bucket: Long): Option[Double] =
    levels(archive).get((metric, bucket))

  def copy(): WhisperModel = {
    val c = new WhisperModel(schema, now)
    levels.indices.foreach(i => c.levels(i) ++= levels(i))
    c
  }
}

object WhisperModel {
  /** The engine's consolidation mean: an exact fixed-point sum of micro
    * units, divided by the count, rounded half-up to 6 decimals.
    */
  def mean6(xs: Seq[Double]): Double = {
    val micro = xs.map(v => Math.round(v * 1e6)).sum
    math.floor(micro.toDouble / 1e6 / xs.size * 1e6 + 0.5) / 1e6
  }

  /** Two expected and actual values agree: both missing, or equal to
    * within half the 6-decimal grid step.
    */
  def same(expected: Option[Double], actual: Option[Double]): Boolean =
    (expected, actual) match {
      case (None, None) => true
      case (Some(e), Some(a)) => math.abs(e - a) <= 5e-7
      case _ => false
    }
}
