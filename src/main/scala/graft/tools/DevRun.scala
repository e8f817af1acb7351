package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev harness: time registered queries and dump formatted plans.
  * Usage: runMain graft.tools.DevRun <key[,key...]> [sfDir]
  *        [--explain] [--phases] [--metrics] [--codegen]
  * `--explain` prints plans through [[normalizePlan]], so the output of
  * two revisions diffs cleanly.
  * Repeating a key in the list re-runs it codegen-warm — the cheap way
  * to split first-execution compilation from steady-state cost.
  */
object DevRun {
  def main(args: Array[String]): Unit = {
    // flags never occupy positional slots: 'DevRun <key> --codegen'
    // must not read sfDir="--codegen" and crash on a path that does
    // not exist (r17 review — three flags deep, the footgun compounds)
    val pos = args.filterNot(_.startsWith("--"))
    // comma-separated keys share ONE JVM/session: a serial profiling
    // loop over N keys pays Spark startup once (fork := true makes
    // per-key sbt invocations cost ~40 s each) and mirrors the bench's
    // one-JVM context; later keys run JIT-warm, which is the bench's
    // steady-state too
    // drop empty segments (',key' / 'a,,b') and validate every key UP
    // FRONT: an unknown key used to throw a bare NoSuchElementException
    // mid-loop, after Spark startup cost was already paid (r17 advice)
    val keys = pos.headOption.toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    require(keys.nonEmpty, "no query keys given")
    val unknown = keys.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query key(s): ${unknown.mkString(", ")} — see SparkEntry.queries")
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (key <- keys) {
    // construction is timed too: queries with eager barriers
    // (localCheckpoint / iterative loops / writes) do most of their work
    // while the DataFrame is being BUILT, not in the final count
    val tc = System.nanoTime()
    val df = SparkEntry.queries(key)(spark, sfDir)
    val dtc = (System.nanoTime() - tc) / 1e9
    // phases BEFORE --explain: explainString forces the whole
    // queryExecution pipeline (analyzed→optimized→executed lazy vals),
    // so timing after it would read 0.000 s for both planning phases
    if (args.contains("--phases")) {
      // split DRIVER-side planning from execution: analysis+optimizer+
      // physical planning are single-threaded driver work (the shape
      // the r15 driver-rig regression concentrated in), execution is
      // the 32-thread part. AQE replans during execution, so this is a
      // lower bound on the driver-side share.
      val ta = System.nanoTime()
      df.queryExecution.optimizedPlan
      val dta = (System.nanoTime() - ta) / 1e9
      val tp = System.nanoTime()
      df.queryExecution.executedPlan
      val dtp = (System.nanoTime() - tp) / 1e9
      println(f"[devrun] $key phases: construct $dtc%.3f s, " +
        f"analyze+optimize $dta%.3f s, physical $dtp%.3f s")
    }
    if (args.contains("--explain"))
      // scalastyle:off println
      println(normalizePlan(
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))))
    val t0 = System.nanoTime()
    val n = df.count()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[devrun] $key: $n rows in $dt%.2f s (+ $dtc%.2f s construction)")
    if (args.contains("--metrics")) {
      // per-operator SQLMetrics of the plan just executed (rows, timing)
      // — the stage-level attribution the UI would show, with the UI off.
      // count() above executes its OWN query execution, so re-execute
      // this df's plan and read the final (AQE-replanned) tree.
      val qe = df.queryExecution
      qe.executedPlan.execute().count()
      def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
        val ms = p.metrics.toSeq
          .filter { case (_, m) => m.value > 0 }
          .sortBy(_._1)
          .map { case (k, m) => s"$k=${m.value}" }
          .mkString(", ")
        println(s"[metrics] ${"  " * d}${p.nodeName}: $ms")
        p.children.foreach(walk(_, d + 1))
        p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(finalPlan(q.plan), d + 1)
          case _ => ()
        }
      }
      walk(finalPlan(qe.executedPlan), 0)
    }
    if (args.contains("--codegen")) {
      // dump the whole-stage generated Java: the ground truth for
      // whether codegen subexpression elimination actually collapsed a
      // repeated expression (a Filter condition that inlines the same
      // regexp five times reads as ONE subExpr function iff CSE fired —
      // the optimized-plan text cannot answer that, only this can).
      // Execute THIS df's own plan first: count() above plans a
      // separate query execution, so this one's AdaptiveSparkPlan would
      // still report "Found 0 WholeStageCodegen subtrees" un-finalized
      val plan = df.queryExecution.executedPlan
      plan.execute().count()
      println(org.apache.spark.sql.execution.debug.codegenString(plan))
    }
    // mirror Bench.quiesce between keys: a key that persists or
    // localCheckpoints RDDs must not leave blocks pinned to skew the
    // NEXT key's timing in long multi-key profiling loops (r17 advice)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
    }
    // scalastyle:on println
    spark.stop()
  }

  /** Make a formatted plan diff-stable across JVMs and edits. Catalyst
    * expression ids, plan_ids and rdd ids are JVM-global counters, so
    * each family is renumbered by FIRST APPEARANCE within the plan —
    * deterministic for an unchanged plan shape, still distinct within a
    * plan. Run-local parts (shared-index tmp root digest + pid, JVM
    * identity hashes, RDD creation-site line numbers) are masked.
    */
  private[tools] def normalizePlan(plan: String): String = {
    def renumber(s: String, pat: scala.util.matching.Regex,
        fmt: Int => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
      pat.replaceAllIn(s, m =>
        scala.util.matching.Regex.quoteReplacement(
          fmt(ids.getOrElseUpdate(m.group(1), ids.size + 1))))
    }
    val exprIds = renumber(plan, "#(\\d+)".r, n => s"#$n")
    val planIds = renumber(exprIds, "plan_id=(\\d+)".r, n => s"plan_id=$n")
    // rdd ids renumber rather than mask: two distinct checkpointed RDDs
    // must stay distinguishable so a subtree switching sources diffs.
    // Both spellings ('rdd_12', 'MapPartitionsRDD[12]') count every RDD
    // the JVM created before, including earlier queries'.
    val rddIds = renumber(renumber(planIds, "rdd_([0-9]+)".r, n => s"rdd_$n"),
      "RDD\\[([0-9]+)\\]".r, n => s"RDD[$n]")
    rddIds
      .replaceAll("(graft_[A-Za-z0-9_]+?)_[0-9a-f]{32}_p[0-9]+",
        "$1_DIGEST_pPID")
      // JVM object identities: typed-aggregate instances, broadcast
      // byte arrays, ObjectMapPartitions lambdas
      .replaceAll("\\$\\$Lambda\\$[0-9]+/0x[0-9a-fA-F]+", "\\$\\$Lambda")
      // identity hashes only where the text looks like a JVM `toString`
      // (a bare `\w@hex` mask would also rewrite a literal like 'a@cafe'):
      // either the token before '@' is package/inner-class-qualified
      // (contains '.' or '$'), or the hex run is 6+ digits
      .replaceAll("([\\w$.\\]]*[.$][\\w$\\]]*)@[0-9a-fA-F]{1,16}\\b",
        "$1@HASH")
      // JVM array-type toStrings ('[B@4a2f', '[[J@ff') are bare (no
      // dot/$) and can hash under 6 hex digits — mask them at ANY length
      .replaceAll("(\\[+[BCDFIJSZ])@[0-9a-fA-F]{1,16}\\b", "$1@HASH")
      .replaceAll("([\\w\\]])@[0-9a-fA-F]{6,16}\\b", "$1@HASH")
      // RDD creation-site annotations ('... at localCheckpoint at
      // Similarity.scala:539'): the line moves with every edit above the
      // call site; the file name stays so a subtree switching sources
      // still diffs
      .replaceAll("(at [A-Za-z0-9_]+\\.scala):\\d+", "$1:LINE")
  }
}
