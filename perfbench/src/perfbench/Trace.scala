package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One traced interval around a call into a layer. Counters are
  * attributed by the [[Tracer]]'s listener to the innermost span whose
  * job group launched the work; [[total]] adds the descendants.
  */
final class Span(val id: Int, val name: String, val parent: Option[Span], val startNs: Long) {
  var endNs = 0L
  val children = mutable.ArrayBuffer.empty[Span]
  private[perfbench] val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private[perfbench] val counters = mutable.HashMap.empty[String, Double]

  def wallMs: Double = (endNs - startNs) / 1e6
  /** Wall time minus the part of it the child spans cover. */
  def selfMs: Double = wallMs - children.map(_.wallMs).sum
  def subtree: Seq[Span] = this +: children.toSeq.flatMap(_.subtree)

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def own(key: String): Double = synchronized(counters.getOrElse(key, 0.0))
  def total(key: String): Double = subtree.map(_.own(key)).sum

  /** Milliseconds in which at least one Spark job of this subtree ran. */
  def busyMs: Double = {
    val iv = subtree.flatMap(s => s.synchronized(s.jobs.toList)).sortBy(_._1)
    var busy = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      if (s > hi) { if (hi > lo) busy += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (hi > lo) busy += hi - lo
    busy.toDouble
  }
}

/** Spans plus a `SparkListener` that attributes jobs, stages and task
  * counters to them. Each span sets a Spark job group; the listener maps
  * a job's group back to its span. Disabled, [[span]] only runs its body
  * and registers nothing, so untraced runs pay no tracing cost.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val jobOf = new ConcurrentHashMap[Int, (Span, Long)]()
  private val stageOf = new ConcurrentHashMap[Int, Span]()
  private val taskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val roots = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private var overheadNs = 0L
  private val GroupPrefix = "perfbench-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .flatMap(g => Option(byId.get(g.stripPrefix(GroupPrefix).toInt)))
        .foreach { s =>
          jobOf.put(e.jobId, (s, e.time))
          e.stageIds.foreach(stageOf.put(_, s))
          s.add("jobs", 1)
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOf.remove(e.jobId)).foreach { case (s, t0) =>
        s.synchronized(s.jobs += ((t0, e.time)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOf.get(e.stageId)).foreach { s =>
        // the listener bus calls one listener from one thread at a time
        taskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
          e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.add("task_ms", m.executorRunTime.toDouble)
          s.add("cpu_ms", m.executorCpuTime / 1e6)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOf.get(e.stageInfo.stageId)).foreach { s =>
        s.add("stages", 1)
        s.add("tasks", e.stageInfo.numTasks.toDouble)
        Option(taskMs.remove(e.stageInfo.stageId)).map(_.toSeq).filter(_.size >= 2)
          .foreach { d =>
            val med = Stats.median(d.map(_.toDouble))
            if (med > 0) {
              s.add("skewed_stages", 1)
              s.add("skew_sum", d.max / med)
            }
          }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  private def group(s: Span): Unit = sc.setJobGroup(GroupPrefix + s.id, s.name)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(byId.size + 1, name, current, System.nanoTime)
      byId.put(s.id, s)
      current match { case Some(p) => p.children += s; case None => roots += s }
      val prev = current
      current = Some(s)
      group(s)
      try body
      finally {
        s.endNs = System.nanoTime
        current = prev
        prev match { case Some(p) => group(p); case None => sc.clearJobGroup() }
      }
    }

  /** Blocks until the listener has seen every event so far. */
  def drain(): Unit = if (enabled) {
    val t = System.nanoTime
    org.apache.spark.perfbench.Bus.drain(sc)
    overheadNs += System.nanoTime - t
  }

  /** Drops the set-up spans: the per-layer figures cover the timed loop. */
  def beginTimed(): Unit = { drain(); roots.clear(); overheadNs = 0L }

  def overheadS: Double = overheadNs / 1e9
  def all: Seq[Span] = roots.toSeq.flatMap(_.subtree)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Writes every span as one JSON object per line. A span's job-busy
    * time plus its driver gap is its wall time by construction; the gap
    * is named `driver_gap_ms` (planning, driver-side collects and
    * listing in the calling thread).
    */
  def write(path: java.nio.file.Path): Unit = {
    val keys = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
      "input_bytes", "output_bytes")
    val lines = all.map { s =>
      val busy = s.busyMs
      val fields = Seq(
        "id" -> s.id.toString,
        "parent" -> s.parent.map(_.id.toString).getOrElse("null"),
        "name" -> Json.str(s.name),
        "wall_ms" -> Json.num(s.wallMs),
        "self_ms" -> Json.num(s.selfMs),
        "job_busy_ms" -> Json.num(busy),
        "driver_gap_ms" -> Json.num(s.wallMs - busy)) ++
        (keys ++ (s.synchronized(s.counters.keySet.toSeq).diff(keys)).sorted)
          .map(k => k -> Json.num(s.total(k)))
      fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

/** The few JSON forms the benchmark prints. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a finite number: $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}
