package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: touch every input table once so the first timed query does
    // not absorb file-listing, footer-read and codegen/JIT startup costs
    for (t <- Seq("events", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    // sorted order: deterministic run-to-run and across rounds (Map
    // iteration order is hash-based and changes as keys are added).
    // SPARK_GRAFT_ONLY (comma-separated keys) restricts the run — a
    // local profiling aid; the driver never sets it. Parsed BEFORE the
    // warm-up/staging phases so a restricted profiling run doesn't pay
    // the full suite's warm-up and index builds.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def selected(k: String): Boolean = only.forall(_.contains(k))
    // streaming keys run a per-key harness whose cold cost is the real
    // first ingest of the TIMED corpus into the memoized state stores —
    // measured (r13), a sibling-dir warm run does not cut it, so
    // warming/staging them would only run every harness twice
    def warmable(k: String): Boolean =
      !k.startsWith("stream_") && k != "wsp_stream_ingest"
    // codegen warm-up: run the hot plan SHAPES on tiny inputs so the
    // first query of each family doesn't absorb whole-stage-codegen
    // compilation (generated code is cached by source text, which
    // depends on plan shape + schema, not on input size).
    try {
      // the agg family, warmed with the REAL registered queries on the
      // smallest sibling scale factor: generated code is cached by
      // source text, which depends on plan shape + schema (identical
      // across sf dirs) and not on the input files — so the timed run
      // hits the codegen cache exactly. Consumption mirrors the timed
      // loop's count() (count() over an Aggregate prunes the aggregate
      // expressions, so a differently-consumed warm-up compiles a
      // DIFFERENT generated class).
      val warmDir = {
        val sib = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
        if (sib.isDirectory) sib.getPath else sfDir
      }
      val warmKeys: Seq[String] =
        if (warmDir != sfDir)
          // a distinct sibling exists: warm EVERY batch key's generated
          // code there (cheap rows, identical plan shape ⇒ identical
          // codegen cache key) — r12's cold total carried ~0.2-0.8 s of
          // first-compile per key across ~180 keys. Memoized indexes
          // build against the SIBLING digest, so the timed dir's builds
          // stay measurable (the earlier dedup_simhash-specific rule,
          // generalized in r13).
          SparkEntry.queries.keys.filter(warmable).toSeq.sorted
        else
          // no sibling: warm only the input-free generated-walk plans
          // and the agg family — on the timed dir itself a broad warm-up
          // would memoize shared indexes and the timed run would
          // silently stop measuring them
          Seq("agg_avg", "agg_avg_xff", "agg_avg_zero", "agg_last",
            "agg_max", "agg_min", "agg_sum", "agg_absmax", "agg_absmin",
            "render_target_compress", "render_target_reduce")
      for (k <- warmKeys.filter(selected))
        try { SparkEntry.queries(k)(spark, warmDir).count(); () }
        catch { case _: Throwable => () }
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
      ops.Dedup.shingleSet(docs).groupBy("doc_id").count()
    } catch { case _: Throwable => () }
    // Index staging (r12 action #7): the shared persisted indexes
    // (shingle/minhash tables, ANN codebooks, BM25 postings, DSIR
    // weights, wsp fixture trees) build EAGERLY inside query
    // CONSTRUCTION (Dedup.sharedIndexPath), so constructing each frame
    // once — no count(), no execution — amortizes the builds before
    // timing begins, exactly like a production deployment that builds
    // an index once and serves it. Run-1 "cold" then measures the
    // query's own first execution (codegen, scans), not the build.
    // The rollup-materialization keys are EXCLUDED: create_rollup_tables'
    // build IS the operator under test, and rollup_serve_1h's
    // construction would trigger that same build pre-timing.
    val stagingStart = System.nanoTime()
    val staged = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => warmable(k) && selected(k) &&
        k != "create_rollup_tables" && k != "rollup_serve_1h")
      .count { k =>
        try { SparkEntry.queries(k)(spark, sfDir); true }
        catch { case _: Throwable => false }
      }
    println(s"""{"metric":"staging","value":${
      (System.nanoTime() - stagingStart) / 1e9},"unit":"sec","keys":$staged}""")
    // per-key MEDIAN of Runs timings: one-shot timing rode ±15-50%
    // environment/JIT noise across rounds (r6 verdict: ~30 untouched
    // keys drifted 1.3-1.5x with no plan change), which made
    // round-over-round grading unreliable. The first (cold) run is
    // reported separately. Since r13's staging phase, shared index
    // builds land in the `staging` metric line, NOT in run 1: for
    // batch keys `queries_cold` measures the query's own first
    // EXECUTION (codegen, scans), while streaming keys' run 1 still
    // carries their real first corpus ingest (unstaged by design).
    val Runs = 3
    def quiesce(): Unit = {
      // drop caches a query may have pinned so later timings don't pay
      // eviction/GC pressure from earlier queries' leftover blocks;
      // localCheckpoint blocks live outside the catalog cache, so
      // unpersist them explicitly; then force a full GC so the next
      // query starts from a quiet heap (the in-bench 50x blowups of
      // otherwise-4s queries in round 1 were GC pressure, not plan)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      System.runFinalization()
      System.gc()
    }
    // SPARK_GRAFT_PROBE: per-run attribution deltas for the two
    // same-JVM context mechanisms the r15/r16/r17 "untouched keys ran
    // 1.4-3x hot in SOME full-suite runs" episodes could hide behind —
    // GC time inside the timed window (driver planning is allocation-
    // heavy; an 8g heap shared with 200 keys' leftover state makes
    // planning-heavy keys pay mixed-collection pauses) and Janino
    // recompilation (the generated-class cache holds 100 entries
    // JVM-wide — spark.sql.codegen.cache.maxEntries — so a steady rep
    // whose classes were evicted recompiles silently; compile_n > 0 on
    // rep 2+ IS the thrash signature, bypassing the shape warm-up
    // above). Deltas are read BEFORE quiesce() so its forced full GCs
    // don't pollute the attribution. Off (default): zero extra work in
    // the timed path beyond two env-checked branches. A local
    // diagnostic like SPARK_GRAFT_ONLY — the driver never sets it.
    val probe = probeEnabled(sys.env.get("SPARK_GRAFT_PROBE"))
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def compileCount(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    var failedRuns = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        // streaming keys' run 1 is their real first corpus ingest
        // (unstaged by design, see warmable above) — with a flat
        // median over Runs=3 the reported median was structurally the
        // WORSE of the two served runs (r15 driver: stream_rollup runs
        // [5.73, 0.42, 0.13] → median 0.42 vs r14's 0.15 — accounting,
        // not plan; r15 verdict #2). One extra run gives streaming
        // served medians the same 3-sample jitter protection batch
        // keys get; run 1 still reports separately as the cold time.
        val n = if (warmable(name)) Runs else Runs + 1
        val samples = (0 until n).map { i =>
          // label the jobs this rep submits (guide §1.5): any UI or
          // event-log session maps stages back to "<key>#<rep>" instead
          // of an anonymous count() — sets one thread-local property,
          // nanosecond-scale, identical on every rep so timings across
          // reps stay comparable
          spark.sparkContext.setJobDescription(s"bench:$name#$i")
          val g0 = if (probe) gcMs() else 0L
          val c0 = if (probe) compileCount() else 0L
          val dt = timed(fn(spark, sfDir).count())
          val gd = if (probe) gcMs() - g0 else 0L
          val cd = if (probe) compileCount() - c0 else 0L
          quiesce()
          (dt, gd, cd)
        }
        spark.sparkContext.setJobDescription(null)
        if (probe)
          println(s"""{"metric":"probe","key":"$name","gc_ms":[${
            samples.map(_._2).mkString(",")}],"compile_n":[${
            samples.map(_._3).mkString(",")}]}""")
        // a failed run is reported and never timed: its time-to-failure
        // would read as a (fast) timing
        val runs = samples.map(_._1)
        for ((Left(e), i) <- runs.zipWithIndex) {
          failedRuns += 1
          println(errorRecord(name, i, e))
        }
        val times = runs.collect { case Right(t) => t }
        val steady = (if (warmable(name)) runs else runs.tail)
          .collect { case Right(t) => t }
        // `times` keeps ALL runs (the runs file diagnoses memoization
        // misses by the ingest run's size); `steady` is the ONE served
        // view the median here and the tripwire below both judge —
        // carried in the tuple so the rule cannot fork between them
        Option.when(steady.nonEmpty)((name, steady.sorted.apply(steady.size / 2),
          times.head, times, steady))
      }.flatten
    // regression tripwire: diff per-key medians against the rolling BEST
    // (per-key MIN) over the last three driver artifacts (BENCH_r*.json)
    // plus the committed BENCH_FULL.json. The r16 predecessor compared
    // against "newest driver artifact, BENCH_FULL fills the clipped
    // tail" — which let a regression POISON ITS OWN BASELINE: a key that
    // regressed in the builder's close-out run entered the next round's
    // committed baseline pre-elevated and the driver diff read ~1.1x
    // (r16 verdict: multimodal_decode_real ran 2.8x its r15 driver
    // median, invisible because the committed baseline was itself
    // elevated). Min over a 3-round window defeats single-round
    // poisoning while aging out stale medians from keys whose workload
    // was later legitimately re-scoped to do strictly more.
    val prevBench: Map[String, Double] = try {
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
        .takeRight(3)
      val full = new java.io.File("BENCH_FULL.json")
      // per-file reads: ONE unreadable artifact must degrade the
      // baseline to the remaining files, not silently collapse the
      // whole map to empty and make the tripwire + canary vacuous for
      // the round (r17 review; parsePrevBench already tolerates garbage
      // CONTENT, this tolerates read failures)
      val texts = (files ++ (if (full.isFile) Seq(full) else Nil)).flatMap { f =>
        try Some(new String(java.nio.file.Files.readAllBytes(f.toPath)))
        catch { case _: Throwable => None }
      }
      bestBaseline(texts)
    } catch { case _: Throwable => Map.empty }
    def json(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Canary normalization (r14 verdict #1): r14's driver medians rose
    // 13% across keys whose code was UNTOUCHED — the tripwire could not
    // distinguish "rig ran hot" from "plan regressed". A small set of
    // plan-frozen keys (code untouched for >=5 rounds, spanning the
    // parquet-scan, wsp-decode, hash-agg and join shapes) measures the
    // rig itself: their median now/baseline ratio is this round's
    // ambient factor, and the tripwire threshold scales by it. Since
    // r17 the baseline is the rolling-best map above, so canary ratios
    // read "this rig vs the best rig in the window" — self-consistent
    // with the per-key diffs, which use the same window, so rig effects
    // still cancel in the flag rule. The set mixes
    // the three sub-0.2s keys the r14 verdict named with two mid-weight
    // keys above the tripwire's own 0.2s noise floor so one jittery
    // sub-noise draw cannot swing the median of five.
    // r16 adds the two FROZEN shape canaries (ops/CanaryQueries.scala):
    // the r15 driver run regressed 8 render keys 2-12x while this set
    // read ambient 1.05 — no canary shared the render evaluator's
    // driver-heavy planning profile or carbon's text-parse profile.
    // Ratios only contribute once a key has a previous-round median, so
    // adding them never destabilizes the quorum rule below.
    // r17 adds the codec-shape canary (multimodal_codec_canary): the
    // mapPartitions-JVM-codec shape (per-row synthesis + javax.imageio
    // decode + pixel fold) had no ambient instrument and was exactly
    // the shape of r16's unadjudicated multimodal_decode_real elevation
    val CanaryKeys =
      Seq("scan_points", "wsp_roundtrip", "doc_fingerprint", "agg_sum",
        "fetch_many", "render_target_canary", "carbon_canary",
        "multimodal_codec_canary")
    val canaryRatios = CanaryKeys.flatMap { k =>
      for {
        p <- prevBench.get(k) if p > 0
        r <- results.find(_._1 == k)
      } yield (k, r._2 / p)
    }
    val canaryRatio =
      if (canaryRatios.isEmpty) 1.0
      else canaryRatios.map(_._2).sorted.apply(canaryRatios.size / 2)
    // floor 1.0: a lucky fast rig must not tighten the gate and
    // manufacture regressions; cap 2.0: past that the rig is too noisy
    // to grade AND a real regression inside a canary key itself must
    // not relax the whole round's gate unboundedly. QUORUM: with fewer
    // than 3 canary baselines (deep artifact truncation, fresh
    // checkout) the "median of five" jitter protection is gone — one
    // sub-noise key's lucky draw would set the whole round's gate — so
    // the tripwire falls back to unnormalized (norm 1.0, the strictest
    // form) rather than trusting a 1-2 key sample.
    val canaryNorm =
      if (canaryRatios.size < 3) 1.0
      else math.max(1.0, math.min(2.0, canaryRatio))
    // printed AFTER the big per-key line (below) so it survives the
    // driver's keep-the-tail stdout truncation
    // per-key ratios print under a `canary_` prefix so a tail-truncated
    // artifact can never feed a RATIO into next round's parsePrevBench
    // as if it were that key's previous MEDIAN
    val canaryLine = s"""{"metric":"canary","ratio":$canaryRatio,""" +
      s""""norm":$canaryNorm,"keys":${
        json(canaryRatios.map { case (k, v) => ("canary_" + k, v) })}}"""
    val slower = results.flatMap { case (k, med, _, times, steady) =>
      // 0.2 s floor: sub-noise keys flap on scheduler jitter, not plans.
      // Consistency gate (r12 verdict #5, tightened r14 per ADVICE):
      // flag when a MAJORITY of runs exceed 1.5x the previous median —
      // a real plan regression is slow in (almost) all runs (r12's
      // rollup_serve_1h: 0.54/0.56/0.51 vs prev 0.22), while a warmup
      // slope has fast tail runs (r12's render_target_compress:
      // 0.98/0.64/0.53 vs prev 0.40). The r13 every-run form let a
      // genuine regression hide behind ONE lucky scheduler draw; the
      // run spread is emitted alongside so warmup-slope false positives
      // can still be re-graded. Since r15 the 1.5x threshold scales by
      // the canary norm above, so an ambient-hot rig doesn't flag
      // untouched keys (r14's false-positive cluster).
      // streaming keys: judge the SERVED runs only (the tuple's steady
      // view — the ingest run is structurally huge and would count as
      // one "slow" vote)
      prevBench.get(k)
        .filter(p => p >= 0.2 &&
          steady.count(_ > p * 1.5 * canaryNorm) * 2 > steady.size)
        .map(p => (k, p, med, times))
    }
    val qs = json(results.map(r => (r._1, r._2)))
    val cold = json(results.map(r => (r._1, r._3)))
    val total = results.map(_._2).sum
    val totalCold = results.map(_._3).sum
    // cold map FIRST, medians LAST: the driver artifact keeps only the
    // TAIL of stdout, so whatever survives truncation should be the
    // steady-state medians — r11's artifact surfaced cold-run times as
    // if they were per-key cost (streaming keys read 11.8 s when their
    // steady-state median was 0.1-0.3 s)
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$Runs,""" +
        s""""stream_runs":${Runs + 1},""" +
        s""""queries_cold":$cold,"queries":$qs,"sf":"$sfDir"}"""
    println(fullLine)
    // the driver's BENCH_r{N}.json keeps only the TAIL of stdout, which
    // clips ~2/3 of the per-key medians out of the committed artifact —
    // persist the complete map to a file too (committed per round), so
    // every per-key regression is auditable and the next round's
    // tripwire diffs against a COMPLETE baseline. The file also carries
    // every individual run time: a key whose runs are ~flat at build
    // cost has a memoization miss in THAT environment (r10's
    // multi-second streaming medians), which median+cold alone can't
    // distinguish from a slow plan.
    val runsJson = results.map { r =>
      "\"" + r._1 + "\":[" + r._4.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // between the big map and the final summary so it survives the
    // driver's keep-the-tail stdout truncation
    println(canaryLine)
    if (slower.nonEmpty)
      println(slower.map { case (k, p, n, ts) =>
        f""""$k":{"prev":$p%.2f,"now":$n%.2f,"runs":[""" +
          ts.map(t => f"$t%.2f").mkString(",") + "]}" }
        .mkString("""{"metric":"slower_than_prev_round","keys":{""", ",", "}}"))
    // short summary LAST: the driver keeps only the tail of stdout, so the
    // big per-key line above can lose its own headline to truncation
    // (BENCH_r07.json did). total = sum of per-key medians (steady-state);
    // total_cold = sum of first runs — since r13 batch keys' shared
    // index builds are pre-staged (reported in the `staging` line), so
    // this is first-EXECUTION cost plus the streaming keys' real first
    // corpus ingest. Cross-round comparisons against pre-r13 artifacts
    // must add the staging line back.
    // runs = steady samples per key; streaming keys execute one extra
    // (the ingest run, reported in cold + the runs file), recorded as
    // stream_runs so the artifact cannot contradict its own run arrays
    println(s"""{"metric":"total","value":$total,"total_cold":$totalCold,""" +
      s""""unit":"sec","runs":$Runs,"stream_runs":${Runs + 1},""" +
      s""""keys":${results.size},"sf":"$sfDir"}""")
    spark.stop()
    // driver-parseable contract line, printed LAST (r18; r17 verdict #1):
    // the driver's BENCH_r*.json keeps only a ~2 KB stdout TAIL and its
    // per-key parse has read `parsed: null` in every round — the full
    // medians line above is ~13 KB and prints early enough that the tail
    // always beheads it mid-map. This line repeats the SAME medians
    // (3-decimal — sub-millisecond precision carries no signal across
    // reps anyway) with the map FIRST and the summary fields LAST, and
    // sorts the map by ASCENDING median, so however the 2 KB window cuts
    // the line its surviving suffix holds (a) the most EXPENSIVE keys —
    // the ones a perf differ must see — and (b) the total + canary
    // fields, which close the line. A parser reading the complete stdout
    // (post-StdoutOutput, build.sbt) gets all keys in one json.loads.
    // Printed AFTER spark.stop() so no late executor/stop logging can
    // interleave into the final window. Additions-only: every line above
    // is byte-identical to r17 and the timed region ended long ago.
    // Double.toString is locale-independent (an f"%.3f" would follow the
    // JVM default locale and could emit comma decimals — invalid JSON)
    def f3(v: Double): Double = math.round(v * 1000).toDouble / 1000
    val qsCompact = json(results.sortBy(_._2).map(r => (r._1, f3(r._2))))
    val canaryCompact = s"""{"ratio":${f3(canaryRatio)},"norm":${
      f3(canaryNorm)},"keys":${json(canaryRatios.map {
        case (k, v) => ("canary_" + k, f3(v)) })}}"""
    val lastLine = s"""{"metric":"total","queries":$qsCompact,""" +
      s""""canary":$canaryCompact,"value":$total,"total_cold":$totalCold,""" +
      s""""unit":"sec","runs":$Runs,"stream_runs":${Runs + 1},""" +
      s""""keys":${results.size},"sf":"$sfDir"}"""
    println(lastLine)
    // one write, so the file never mixes lines from two rounds, and ONLY
    // for a full run: a SPARK_GRAFT_ONLY-restricted profiling pass must
    // not clobber the complete committed baseline with a partial map.
    // parsePrevBench keeps the FIRST `"queries":{` occurrence, which here
    // is the full-precision line, so the compact mirror of the last
    // stdout line does not shift baselines
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL.json"),
        Seq(fullLine, s"""{"metric":"runs","queries_runs":$runsJson}""",
          canaryLine, lastLine).mkString("", "\n", "\n"))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] BENCH_FULL.json not written: $e") }
    if (failedRuns > 0) {
      System.err.println(s"[bench] $failedRuns run(s) failed: see the error records")
      sys.exit(1)
    }
  }

  /** One timed rep: the seconds `run` took, or the error it threw — a
    * failing key's time-to-failure is never a timing.
    */
  private[graft] def timed(run: => Any): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try { run; Right((System.nanoTime() - t0) / 1e9) }
    catch { case scala.util.control.NonFatal(e) => Left(e) }
  }

  /** The stdout record of a failed rep: the key, the rep and the error. */
  private[graft] def errorRecord(key: String, rep: Int, e: Throwable): String = {
    val msg = e.toString.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    s"""{"metric":"error","key":"$key","rep":$rep,"error":"$msg"}"""
  }

  /** Value semantics for SPARK_GRAFT_PROBE, not presence: `=0`, empty,
    * or `false` (any case, e.g. exported-but-disabled in a prior shell)
    * mean OFF — extracted pure for the unit pin (r17 review #3).
    */
  private[graft] def probeEnabled(v: Option[String]): Boolean =
    v.exists(s => s.nonEmpty && s != "0" && !s.equalsIgnoreCase("false"))

  /** Per-key rolling-best baseline: parse each artifact text and keep
    * the MINIMUM positive median seen for every key. Zero/negative
    * entries (older artifacts timed a key that errored near 0 or at -1)
    * are dropped so they can never become an unbeatable baseline.
    */
  private[graft] def bestBaseline(artifacts: Seq[String]): Map[String, Double] =
    artifacts.map(parsePrevBench)
      .foldLeft(Map.empty[String, Double]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) =>
          if (v <= 0) a else a + (k -> math.min(a.getOrElse(k, v), v))
        }
      }

  /** Best-effort per-key timings from a prior round's BENCH_r*.json.
    * The driver wraps our stdout in its own JSON (`{n, rc, tail, …}`)
    * and keeps only the TAIL of the output, so (a) the per-key pairs sit
    * ESCAPED inside the `tail` string (`\"key\":0.21`), (b) map
    * markers — and any prefix of the stream — may be truncated away,
    * and (c) the surviving text also carries the other map and summary
    * fields. So: unescape, then (1) if the `"queries":{` MEDIAN-map
    * marker survived, parse that section alone — since r12 the medians
    * print LAST precisely so tail-truncation preserves them; (2) with
    * no marker (deep truncation, or a pre-r12 artifact whose leading
    * median map lost its header), scan the whole text for name:number
    * pairs keeping the FIRST occurrence per key — in both stream
    * layouts that prefers whichever complete map survived — and drop
    * the known non-key fields. The r10 predecessor required the marker
    * verbatim and unescaped nothing, which made the tripwire silently
    * vacuous on every real driver artifact.
    */
  private[graft] def parsePrevBench(raw: String): Map[String, Double] = {
    val txt = raw.replace("\\\"", "\"")
    val meta = Set("n", "rc", "cpus", "sf", "value", "total_cold", "runs",
      "stream_runs", "keys", "prev", "now", "ratio", "norm", "rep")
    val pair = "\"([A-Za-z0-9_]+)\":([0-9]+\\.?[0-9]*(?:[Ee][+-]?[0-9]+)?)".r
    def scan(section: String): Map[String, Double] =
      pair.findAllMatchIn(section)
        .foldLeft(Map.empty[String, Double]) { (m, g) =>
          val k = g.group(1)
          if (meta(k) || m.contains(k)) m
          else m + (k -> g.group(2).toDouble)
        }
    // scanning from the marker keeps FIRST-occurrence semantics inside
    // the section: medians head it in both stream layouts (pre-r12 the
    // cold map follows the medians; since r12 the medians are the last
    // map), so the median wins wherever both survived truncation
    val marker = txt.indexOf("\"queries\":{")
    scan(if (marker >= 0) txt.substring(marker) else txt)
  }
}
