package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md north star: pushdown, pruning and
  * join strategy must survive refactors — "the plan you'd want, not the
  * first one that passed").
  */
class PlanSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  // parquet scans in the executed tree of a collected adaptive query: the
  // formatted explain also prints the initial plan and the details of
  // both plans' nodes, so only the tree under "== Final Plan ==" counts
  private def finalScans(p: String): Int =
    p.linesIterator.dropWhile(!_.contains("== Final Plan ==")).drop(1)
      .takeWhile(!_.contains("== Initial Plan ==")).count(_.contains("Scan parquet"))

  test("fetch queries push the time range into the parquet scan") {
    // Pin BOTH bounds, on the RAW ts column, in either timestamp
    // encoding (micros NTZ / tz-adjusted): a range filter on the derived
    // unix_timestamp(ts) gives correct answers from full-table scans.
    // This test is the tripwire.
    for (q <- Seq(Fetch.fetchDenseSeries(spark, dir),
                  Fetch.fetchRelativeTz(spark, dir),
                  Fetch.fetchAsof(spark, dir),
                  CoreQueries.fetchRangeFilter(spark, dir))) {
      val p = plan(q)
      assert(p.contains("PushedFilters") &&
        (p.contains("GreaterThanOrEqual(ts") || p.contains("GreaterThan(ts")),
        s"lower time bound did not reach the scan:\n$p")
      assert(p.contains("LessThan(ts"),
        s"upper time bound did not reach the scan:\n$p")
    }
  }

  test("fact-view reads leave the caller's session conf untouched") {
    // a library read must not change its caller's session conf
    val s = spark.newSession()
    val key = SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key
    assert(!s.conf.getAll.contains(key), s"$key preset on a fresh session")
    Buckets.points(s, dir)
    Buckets.pointsInRange(s, dir, Buckets.FromS, Buckets.UntilS)
    Buckets.eventsRaw(s, dir)
    Buckets.pointsStream(s, dir)
    CoreQueries.scanPropsJson(s, dir)
    assert(s.conf.getAll.get(key).isEmpty,
      s"a fact-view read set $key on the caller's session")
  }

  test("scan_points prunes to the three needed columns") {
    val p = plan(CoreQueries.scanPoints(spark, dir))
    assert(!p.contains("user_id") && !p.contains("props") && !p.contains("event_id"),
      s"scan reads more columns than the projection needs:\n$p")
  }

  test("fetch_dense_series joins spine to aggregate without a sort-merge shuffle") {
    val p = plan(Fetch.fetchDenseSeries(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast join for the bounded spine:\n$p")
  }

  test("summarize, maxDataPoints and sumSeries renders re-aggregate with no window") {
    // each render densifies its leaf by exploding the bucket spine
    // (Generate) over the map-side partially aggregated per-minute
    // series, then re-buckets or combines that dense frame with a
    // grouped aggregate. None of the three needs a Window operator.
    for (q <- Seq(Fetch.fetchSummarize(spark, dir),
                  Fetch.fetchMaxDatapoints(spark, dir),
                  Fetch.fetchSumSeries(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("Window"), s"unexpected window operator:\n$p")
      assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
      assert(p.contains("Generate"), s"expected the bucket spine exploded:\n$p")
    }
  }

  test("fetch_per_second / moving_avg window by metric, never a global partition") {
    for (q <- Seq(Fetch.fetchPerSecond(spark, dir),
                  Fetch.fetchMovingAvg(spark, dir))) {
      val p = plan(q)
      assert(p.contains("Window"), s"expected the series window:\n$p")
      // the window's partition spec must include the metric column —
      // an empty PARTITION BY would serialize the whole series range
      assert(p.contains("windowspecdefinition(metric#"),
        s"series window not partitioned by metric:\n$p")
    }
  }

  test("render pointwise tier adds no shuffle over the bare rate plan") {
    // scale(nonNegativeDerivative(g), 60) must cost exactly what
    // perSecond(g) costs: the arithmetic fuses into the window's
    // downstream projection — same number of exchanges; and the render
    // rate plan costs no more than the fetch_per_second fixture's
    def exchanges(p: String) = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    val rate = plan(RenderTarget.renderTargetRate(spark, dir))
    val fromI = Buckets.fetchInterval(Buckets.FromS, 60)
    val untilI = Buckets.fetchInterval(Buckets.UntilS, 60)
    val perSecond = plan(RenderTarget.evaluate(spark,
      Buckets.pointsInRange(spark, dir, fromI, untilI),
      s"perSecond(${Fetch.GlobPattern})", Buckets.FromS, Buckets.UntilS, 60))
    val bare = plan(Fetch.fetchPerSecond(spark, dir))
    assert(exchanges(rate) == exchanges(perSecond),
      s"pointwise transforms added a shuffle:\n$rate")
    assert(exchanges(rate) <= exchanges(bare),
      s"the render rate plan shuffles more than the rate fetch:\n$rate")
  }

  test("multi-leaf render targets execute one base-table scan") {
    // two DIFFERENT leaf globs: each Leaf re-filters the one shared
    // (metric, bucket) aggregate, so the subtrees below the aggregation
    // exchange are canonically identical and exchange reuse runs the
    // scan + partial aggregate once. Reuse materializes at runtime
    // under AQE — execute, then inspect the final plan.
    val q = RenderTarget.evaluate(spark,
      Buckets.pointsInRange(spark, dir, 1704844860L, 1704931260L),
      "divideSeries(sumSeries(click), sumSeries(v?ew))",
      Buckets.FromS, Buckets.UntilS, 60)
    q.collect()
    val p = plan(q)
    assert(finalScans(p) == 1 || p.contains("ReusedExchange") ||
      p.contains("ReusedQueryStage"),
      s"each leaf still scans the base table:\n$p")
    // the fence is the explicit OptimizerFence expression, not the old
    // vacuous rand() guard a smarter optimizer could prove away
    assert(!p.contains("rand("), s"rand()-based fence resurfaced:\n$p")
  }

  test("render_target_canary: the FROZEN canary plan stays pinned") {
    // the bench tripwire's render-shaped ambient reference
    // (ops/CanaryQueries.scala): 2 leaves off one ranged scan, pushed
    // ts bounds, broadcast joins only, leaf subtrees deduped by AQE
    // stage reuse at runtime. Any drift here silently re-bases the
    // driver's ambient measurements — this pin makes drift loud.
    val q = CanaryQueries.renderTargetCanary(spark, dir)
    q.collect()
    val p = plan(q)
    assert(p.contains("PushedFilters") && p.contains("LessThan(ts"),
      s"time bounds did not reach the canary's scan:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      finalScans(p) == 1,
      s"canary leaves stopped sharing the base scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"canary gained a non-broadcast join:\n$p")
    assert(!p.contains("rand("), s"rand()-based fence in the canary:\n$p")
  }

  test("carbon_canary shares carbon_ingest's staged lines and LWW shape") {
    // the carbon-shaped ambient reference must never add staging cost:
    // both keys resolve to the SAME shared tmp root, and the canary's
    // plan is the same text scan + projection + hash aggregate
    val canary = CanaryQueries.carbonCanary(spark, dir)
    val p = plan(canary)
    assert(p.contains("Scan text"), s"canary lost the text-parse leg:\n$p")
    assert(p.contains("max_by") || p.contains("lww"),
      s"canary lost the LWW aggregate:\n$p")
    // the canary's text scan must read the SAME staged root
    // carbon_ingest stages — a canary staging its own copy would add
    // exactly the cost the shared root exists to avoid
    val sharedRoot = CoreQueries.carbonLinesPath(spark, dir)
    assert(p.contains(sharedRoot),
      s"canary does not scan the shared staged lines at $sharedRoot:\n$p")
  }

  test("carbon parse tokenizes each line exactly ONCE") {
    // r16 verdict #2: unfenced, the `ok` filter pushed below the token
    // projection and alias substitution re-inlined the regex into each
    // of its five conjuncts; FilterExec codegen does not CSE across
    // conjuncts (verified on the generated Java: six distinct regexp
    // evaluation sites per line), so every line paid SIX regex passes.
    // The fenced tokenizer (Carbon.classified) pins the filter above
    // the projection: the optimized plan must carry exactly one
    // regexp_extract_all, with the filter referencing the token ARRAY
    // attribute, not re-deriving it.
    val p = plan(CoreQueries.carbonIngest(spark, dir))
    val n = "regexp_extract_all".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 tokenization site, got $n:\n$p")
  }

  test("multi-series fetch fixtures scan the table once") {
    // the found series and their values come from one aggregate of one
    // scan: no second, metric-only pass builds the metric list
    for (q <- Seq(Fetch.fetchGlob(spark, dir), Fetch.fetchMany(spark, dir))) {
      val p = plan(q)
      // the formatted plan names each node twice: in the tree and as the
      // "(<id>) Scan parquet" header of its details
      val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).size
      assert(scans == 1, s"expected one scan, got $scans:\n$p")
    }
  }

  test("applyByNode prefix subtrees reuse the shared scan at runtime") {
    // the template evaluates once per node prefix; every prefix
    // subtree re-filters the one shared aggregate, so AQE stage reuse
    // must collapse the repeated scan+partial-aggregate exchanges
    val q = RenderTarget.evaluate(spark,
      Buckets.pointsPathedInRange(spark, dir, 1704844860L, 1704931260L),
      "applyByNode(shard*.click, 0, 'asPercent(%.click, sumSeries(%.*))')",
      Buckets.FromS, Buckets.UntilS, 60)
    q.collect()
    val p = plan(q)
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      finalScans(p) == 1,
      s"each prefix subtree still scans the base table:\n$p")
  }

  test("render fill stacks run-length windows on one metric sort") {
    // keepLastValue needs THREE window passes (cumulative run ids,
    // per-run null counts, then integral's running sum) — all
    // metric-clustered, so they must share one exchange, not add three
    val p = plan(RenderTarget.renderTargetFill(spark, dir))
    val windows = "(?m)^\\(\\d+\\) Window".r.findAllIn(p).size
    assert(windows >= 3, s"expected the stacked windows:\n$p")
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size <= 4,
      s"window stack re-shuffled between passes:\n$p")
    assert(p.contains("windowspecdefinition(metric#"),
      s"windows not metric-partitioned:\n$p")
  }

  test("render top-N selection ranks tiny and rejoins broadcast-semi") {
    val p = plan(RenderTarget.renderTargetTop(spark, dir))
    assert(p.contains("LeftSemi"), s"expected a semi join for selection:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ranking should be a per-series TakeOrdered, not a full sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the one-row-per-series ranking side must broadcast:\n$p")
  }

  test("LWW dedup and rollups aggregate with map-side combine, no window") {
    // max_by over a struct ordering key plans as SortAggregate (struct
    // buffers aren't hash-aggregable) — that's fine: what matters at
    // scale is the partial_ (map-side) step bounding shuffle volume by
    // distinct buckets, and the absence of a per-partition Window sort
    // over raw rows.
    for (q <- Seq(CoreQueries.upsertBatchLww(spark, dir),
                  CoreQueries.rollupCascade5m(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("Window"), s"unexpected window operator:\n$p")
      assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
    }
  }

  test("similarity_topk broadcasts the query side") {
    val p = plan(Similarity.similarityTopk(spark, dir))
    assert(p.contains("Broadcast"), s"query side should broadcast:\n$p")
  }

  test("sample_stratified is a pure map-side filter (no join, no aggregate)") {
    val p = plan(PipelineOps.sampleStratified(spark, dir))
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(!p.contains("Aggregate"), s"unexpected aggregate:\n$p")
  }

  test("split_assign is a pure map-side projection (no join, no aggregate)") {
    val p = plan(Curation.splitAssign(spark, dir))
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(!p.contains("Aggregate"), s"unexpected aggregate:\n$p")
  }

  test("decontaminate broadcasts the benchmark shingle set") {
    val p = plan(Curation.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"unbounded pair scan:\n$p")
  }

  test("sessionize_scalable windows events by (metric, day), not metric alone") {
    val p = plan(PipelineOps.sessionizeScalable(spark, dir))
    // the event-level sort/window keys must include the day column —
    // that is the skew spread; only the session-level pass keys by metric
    // (window skew is NOT AQE's job — key widening is the mitigation)
    assert(p.contains("day"), s"no day partitioning in event pass:\n$p")
    // and the hot-key pass still executes adaptively
    assert(p.contains("AdaptiveSparkPlan"), s"plan is not adaptive:\n$p")
  }

  test("text_lm_score head-token join is AQE-skew-join eligible") {
    // the Zipf-skewed token join's documented mitigation is AQE skew
    // splitting; eligibility = the runtime configs are on AND the join
    // is the SHUFFLE shape the skew optimizer can split. At test scale
    // the count tables would broadcast (which dodges skew but only while
    // they fit an executor), so force the 100 TB shuffle-join regime
    // before asserting the shape.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(TextAnalysis.textLmScore(spark, dir))
      assert(p.contains("AdaptiveSparkPlan"), s"plan is not adaptive:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"token join is not a shuffle join under no-broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("shard_pack_scalable keys the per-document window by block") {
    val p = plan(PipelineOps.shardPackScalable(spark, dir))
    // the doc-level running sum must be partitioned (by blk); only the
    // #blocks-row offset pass may run in one partition
    assert(p.contains("windowspecdefinition(blk"),
      s"per-doc window is not block-partitioned:\n$p")
    // block offsets ride a broadcast, not a shuffle of the doc frame
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"offsets are not broadcast:\n$p")
  }

  test("source_cap windows by source — per-source sorts, never a global one") {
    val p = plan(PipelineOps.sourceCap(spark, dir))
    assert(p.contains("windowspecdefinition(source"),
      s"cap rank is not source-partitioned:\n$p")
    // one projection pass besides the window: no join, no aggregate
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"cap plan grew a join or aggregate:\n$p")
  }

  test("consolidation means partial-aggregate — no collect_list on the hot path") {
    // The r11 ordered-fold regression pin: Average/Sum consolidation and
    // the dense-fetch grid mean must plan as codegen'd HashAggregate with
    // a map-side partial_sum (one partial per group through the shuffle),
    // NOT as ObjectHashAggregate building a collect_list — the latter
    // ships every raw point through the shuffle, spp-ratio× more bytes
    // (300× for 1s→5m) on the engine's signature operator at 100 TB.
    for ((name, q) <- Seq(
        "agg_avg" -> CoreQueries.aggQuery(
          graft.model.AggregationMethod.Average)(spark, dir),
        "agg_sum" -> CoreQueries.aggQuery(
          graft.model.AggregationMethod.Sum)(spark, dir),
        "fetch_dense_series" -> Fetch.fetchDenseSeries(spark, dir))) {
      val p = plan(q)
      assert(p.contains("partial_sum"),
        s"$name lost map-side partial aggregation:\n$p")
      assert(!p.contains("collect_list") && !p.contains("ObjectHashAggregate"),
        s"$name consolidates via a collected list again:\n$p")
    }
  }

  test("wsp_diff joins trees by slot key — no product, both sides pruned scans") {
    val p = plan(graft.sources.WspQueries.wspDiff(spark, dir))
    assert(!p.contains("CartesianProduct"), s"diff degenerated to a product:\n$p")
    assert(p.contains("BatchScan wsp"), s"diff does not scan the wsp source:\n$p")
  }

  test("resize bands push their ts windows into the slot decoder, no dedup shuffle") {
    import spark.implicits._
    val tree = java.nio.file.Files.createTempDirectory("plan_resize").toString
    val srcSchema = graft.model.WhisperSchema(
      Seq(graft.model.Retention(10, 6), graft.model.Retention(60, 5)),
      graft.model.AggregationMethod.Sum, 0.0)
    graft.sources.WspWrite.export(Seq(
      ("cpu", 0, 1000L, 1.0), ("cpu", 1, 840L, 7.0))
      .toDF("metric", "archive", "bucket_ts", "value"), tree, srcSchema)
    val p = plan(graft.sources.WspTools.rederive(spark, tree,
      graft.model.WhisperSchema(Seq(graft.model.Retention(60, 5)),
        graft.model.AggregationMethod.Sum, 0.0), 1030L))
    // ONE tree scan, not one per (level × band) — metric-only file
    // pruning means every extra scan re-reads every file's bytes; the
    // globally-valid window [now − maxHorizon, now) = [730, 1030) is
    // pushed into the slot decoder of that single scan
    assert(p.contains("ts_s=[730,1029]"),
      s"global ts window did not reach the wsp scan:\n$p")
    assert("BatchScan wsp".r.findAllIn(p).size <= 2, // tree node + detail
      s"resize derivation planned more than one tree scan:\n$p")
    // band admission is inline and disjoint by construction: no
    // cross-band dedup (no Window), one aggregate, no product
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"resize derivation grew a dedup shuffle or product:\n$p")
    assert(p.contains("HashAggregate"), s"no aggregate in the derivation:\n$p")
  }

  test("wsp scans are COLUMNAR: batches feed codegen through ColumnarToRow") {
    // the formatted plan of an unexecuted AQE query hides codegen and
    // columnar wrappers — run it and inspect the EXECUTED plan
    val df = graft.sources.WspQueries.wspRoundtrip(spark, dir)
    df.collect()
    val executed = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(executed.toString.contains("ColumnarToRow"),
      s"wsp scan is not vectorized (no ColumnarToRow above the BatchScan):\n$executed")
  }

  test("dedup_minhash never falls back to an all-pairs product") {
    // the underlying pipeline, not the materialized pair index the
    // public entry serves from
    val p = plan(Dedup.minhashPairsImpl(spark, dir))
    assert(!p.contains("CartesianProduct"), s"all-pairs scan in LSH path:\n$p")
  }

  test("dedup_embedding tiles the pair scan — no unbounded nested loop") {
    val p = plan(Dedup.dedupEmbedding(spark, dir))
    assert(!p.contains("CartesianProduct"), s"bare cross join over the corpus:\n$p")
    // the only nested-loop allowed is against the tiny broadcast tile
    // index; the corpus-vs-corpus side must be an equi (hash) join
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join over the corpus:\n$p")
  }

  test("ANN serving plans are index reads — no training stage in the query") {
    // the Lloyd/assignment machinery must live in the one-time index
    // build (annIndexShared), never in the serving plan: no posexplode
    // means, no localCheckpoint scan of a training pass — just parquet
    // reads of the persisted codebook + assignment, probed and reranked
    for (q <- Seq(Similarity.similarityAnnIvf(spark, dir),
                  Similarity.similarityAnnKmeans(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("Generate") && !p.contains("posexplode"),
        s"training-stage explode leaked into the ANN serving plan:\n$p")
      assert(!p.contains("ExistingRDD") && !p.contains("LocalTableScan"),
        s"checkpointed training frame leaked into the serving plan:\n$p")
      assert(p.contains("Scan parquet"),
        s"serving plan does not read the persisted index:\n$p")
    }
  }

  test("dedup_semantic is an index-read equi-join — no all-pairs, no training") {
    // SemDeDup's scale contract: pairs enumerate ONLY within clusters,
    // via an equi-join on cent_id against the persisted k-means
    // assignment; the Lloyd machinery must stay in the one-time index
    // build, exactly like the ANN serving pin above
    val p = plan(Similarity.dedupSemantic(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs scan leaked into the semantic dedup plan:\n$p")
    assert(!p.contains("Generate") && !p.contains("posexplode"),
      s"training-stage explode leaked into the semantic dedup plan:\n$p")
    assert(!p.contains("ExistingRDD") && !p.contains("LocalTableScan"),
      s"checkpointed training frame leaked into the plan:\n$p")
    assert(p.contains("Scan parquet"),
      s"plan does not read the persisted index:\n$p")
  }

  test("dedup_substring shuffles 16-byte span hashes, never span text") {
    val p = plan(Dedup.dedupSubstring(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"all-pairs scan in the substring dedup plan:\n$p")
    // the docfreq aggregation must combine map-side and key its
    // exchange on the md5 span hash — a shuffle keyed on raw span
    // strings would move ~8 tokens of text per position at scale
    assert(p.contains("partial_"),
      s"expected map-side partial aggregation for span docfreq:\n$p")
    assert(p.contains("hashpartitioning(sk#"),
      s"span shuffle not keyed on the md5 hash column:\n$p")
  }

  test("mix_temperature broadcasts budgets and windows per source") {
    val p = plan(PipelineOps.mixTemperature(spark, dir))
    // the per-source budget table is k rows — it must broadcast back
    // onto the corpus, never shuffle-join it
    assert(p.contains("BroadcastHashJoin"),
      s"budget table joined without broadcast:\n$p")
    assert(p.contains("windowspecdefinition(source#"),
      s"fill window not partitioned by source:\n$p")
  }

  test("PQ serving is an index read: codes scan + broadcast LUT, no training") {
    // the Lloyd pass and the encode pass live in pqIndexShared's one-time
    // build; serving explodes the persisted CODES array (by design — the
    // ~12 B/vector layout), joins the broadcast 640-row query LUT, and
    // re-ranks only the shortlist. Training leaks would show up as a
    // checkpointed frame (ExistingRDD) or a non-broadcast join.
    val p = plan(Similarity.similarityAnnPq(spark, dir))
    assert(p.contains("Scan parquet"),
      s"PQ serving does not read the persisted index:\n$p")
    assert(!p.contains("ExistingRDD") && !p.contains("LocalTableScan"),
      s"checkpointed training frame leaked into the PQ serving plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unbounded product in the PQ serving plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"PQ serving shuffled a join that must broadcast:\n$p")
  }

  test("similarity_topk_agg aggregates with a map-side partial step") {
    val p = plan(Similarity.similarityTopkAgg(spark, dir))
    assert(p.contains("partial"), s"expected partial top-k buffers:\n$p")
    assert(!p.contains("Window"), s"Aggregator form must not plan a window:\n$p")
  }

  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  test("RollupRewrite serves a 1h re-aggregation of the 5m level from the 1h table") {
    // materialize + enable the rule, then aggregate the 5m table to 1h:
    // the optimized plan must scan points_3600s with NO aggregate left
    val served = Materialize.rollupServe1h(spark, dir)
    assert(scannedPaths(served).exists(_.contains("points_3600s")),
      s"expected the materialized 1h level to be scanned: ${scannedPaths(served)}")
    assert(!hasAggregate(served), "aggregate should have been rewritten away")
    // and the values are identical to reading the 1h table directly
    import org.apache.spark.sql.functions._
    val base = Materialize.rollupBase(spark, dir)
    val direct = spark.read.parquet(s"$base/points_3600s")
      .select(col("metric"), col("bucket_ts"), round(col("value"), 6).as("value"))
      .orderBy("metric", "bucket_ts")
    assert(served.collect().toSeq == direct.collect().toSeq)
  }

  test("lm_score/entropy fold as exact integer HashAggregates — no collect_list") {
    // r13: both keys moved from ordered collect_list folds (every
    // instance through the shuffle, ObjectHashAggregate, libm ln in the
    // addends) to portable-ln model tables quantized to micro-units +
    // exact BIGINT sums — the dsir pattern. This pin keeps them there.
    for (k <- Seq("text_lm_score", "text_entropy")) {
      val p = plan(graft.SparkEntry.queries(k)(spark, dir))
      assert(!p.contains("collect_list"), s"$k refolds via collect_list:\n$p")
      assert(!p.contains("ObjectHashAggregate"),
        s"$k lost codegen'd hash aggregation:\n$p")
      assert(p.contains("HashAggregate"), s"$k lost HashAggregate:\n$p")
    }
  }

  test("the LWW family plans as HashAggregate — no sort-based aggregation") {
    // the r12 carbon_ingest finding: struct-keyed max_by buffers are not
    // UnsafeRow-mutable, so every LWW aggregate planned as partial/final
    // SortAggregate (two extra sorts per ingest-shaped query at 100x
    // volume). LwwMax (flat primitive buffer slots) restores
    // HashAggregate with map-side partial max; this pin keeps the whole
    // family there.
    val lwwShaped = Seq(
      "carbon_ingest", "upsert_batch_lww", "upsert_for_archive", "agg_last")
    for (k <- lwwShaped) {
      val p = plan(graft.SparkEntry.queries(k)(spark, dir))
      assert(!p.contains("SortAggregate"),
        s"$k regressed to sort-based aggregation:\n$p")
      assert(p.contains("HashAggregate"), s"$k lost HashAggregate:\n$p")
    }
  }

  test("RollupRewrite serves the column-pruned count() shape with no re-group") {
    // df.count() prunes the aggregate expressions, leaving a
    // groupings-only Aggregate — the shape the r12 bench actually
    // measured, which fell back to scanning + shuffling the full 5m
    // level (the driver's 2.4x rollup_serve_1h regression). It must now
    // substitute to a bare Project over the 1h level: key-unique by
    // construction, so no distinct re-group (a full-level shuffle at
    // 100 TB) may survive.
    val served = Materialize.rollupServe1h(spark, dir)
    val counted = served.groupBy().count()
    assert(scannedPaths(counted).exists(_.contains("points_3600s")),
      s"count() path not served from the level: ${scannedPaths(counted)}")
    val aggs = counted.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    // exactly the global count aggregate — the grouping Aggregate gone
    assert(aggs.size == 1 && aggs.head.groupingExpressions.isEmpty,
      s"grouping re-aggregate survived the count() rewrite:\n${counted.queryExecution.optimizedPlan}")
    // and the count equals the level's row count (= the group count)
    val base = Materialize.rollupBase(spark, dir)
    assert(counted.head().getLong(0) ==
      spark.read.parquet(s"$base/points_3600s").count())
  }

  test("rollup_serve_1h: rewritten plan ≡ raw fallback aggregation, exactly") {
    // The serving key's correctness must NOT depend on the optimizer
    // rule firing: the query aggregates with the PINNED mean
    // (round6(fixedSum/count)), so the unrewritten plan hash-matches the
    // oracle too. Run the identical query with the rule removed and
    // compare row-for-row against the rewritten result.
    val served = Materialize.rollupServe1h(spark, dir).collect().toSeq
    val base = Materialize.rollupBase(spark, dir)
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.RollupRewrite)
    try {
      val fallback = Materialize.serve1hQuery(spark, base)
      assert(hasAggregate(fallback), "rule removed — plan must aggregate")
      assert(fallback.collect().toSeq == served,
        "fallback aggregation diverged from the rewritten serve")
    } finally spark.experimental.extraOptimizations = saved
  }

  test("RollupRewrite serves transitively for decomposable methods (Max chain)") {
    import org.apache.spark.sql.functions._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rollups_max"
    Materialize.materializeLevels(spark, dir, base,
      graft.model.AggregationMethod.Max, 0.0)
    graft.plans.RollupRewrite.setup(spark)
    // 1m → 1h SKIPS the 5m derivation edge, but max-of-max over nested
    // windows composes exactly: the rewrite must fire transitively
    val q = spark.read.parquet(s"$base/points_60s")
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(max(col("value")).as("value"))
    assert(scannedPaths(q).exists(_.contains("points_3600s")),
      s"transitive Max rewrite did not fire: ${scannedPaths(q)}")
    assert(!hasAggregate(q))
    // and the values equal the flat aggregate's (decomposability)
    val got = q.orderBy("metric", "bucket_ts").collect().toSeq
    val direct = spark.read.parquet(s"$base/points_3600s")
      .select("metric", "bucket_ts", "value")
      .orderBy("metric", "bucket_ts").collect().toSeq
    assert(got == direct)
  }

  test("RollupRewrite leaves non-derivation-edge aggregates untouched") {
    import org.apache.spark.sql.functions._
    Materialize.rollupServe1h(spark, dir) // ensures levels + rule active
    val base = Materialize.rollupBase(spark, dir)
    // 1m → 1h skips the 5m derivation edge: avg-of-avg would be wrong,
    // so the rule must NOT fire and the plan keeps its Aggregate
    val skip = spark.read.parquet(s"$base/points_60s")
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(avg(col("value")).as("value"))
    assert(hasAggregate(skip), "rewrite fired across a non-derivation edge")
    // sum over the 5m level is not the level's method (Average) either
    val wrongMethod = spark.read.parquet(s"$base/points_300s")
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(sum(col("value")).as("value"))
    assert(hasAggregate(wrongMethod), "rewrite fired for a mismatched aggregation method")
  }

  test("RollupRewrite fires through a metric filter and preserves it") {
    import org.apache.spark.sql.functions._
    Materialize.rollupServe1h(spark, dir) // ensures levels + rule active
    val base = Materialize.rollupBase(spark, dir)
    // the most common real fetch shape: ONE metric at a coarse resolution
    val q = spark.read.parquet(s"$base/points_300s")
      .filter(col("metric") === "click")
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(avg(col("value")).as("value"))
    assert(scannedPaths(q).exists(_.contains("points_3600s")),
      s"filtered re-aggregation was not served from the 1h level: ${scannedPaths(q)}")
    assert(!hasAggregate(q), "aggregate should have been rewritten away")
    val got = q.orderBy("bucket_ts").collect().toSeq
    val direct = spark.read.parquet(s"$base/points_3600s")
      .filter(col("metric") === "click")
      .select("metric", "bucket_ts", "value")
      .orderBy("bucket_ts").collect().toSeq
    assert(got == direct)
  }

  test("RollupRewrite does NOT fire through value or bucket_ts filters") {
    import org.apache.spark.sql.functions._
    Materialize.rollupServe1h(spark, dir)
    val base = Materialize.rollupBase(spark, dir)
    // pre-aggregation row selection on value changes the aggregate
    val onValue = spark.read.parquet(s"$base/points_300s")
      .filter(col("value") > 0.5)
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(avg(col("value")).as("value"))
    assert(hasAggregate(onValue), "rewrite fired through a value filter")
    // an unaligned time range yields partial coarse windows
    val onTs = spark.read.parquet(s"$base/points_300s")
      .filter(col("bucket_ts") > 1706000000L)
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(avg(col("value")).as("value"))
    assert(hasAggregate(onTs), "rewrite fired through a bucket_ts filter")
  }

  test("servableFrom refuses any chain with a nonzero xFF gate") {
    // structural guard, tested on chain values (materializing a
    // gated chain on this sparse testdata empties mid-cascade): a gated
    // level DROPPED low-fill buckets, so it must not answer a user's
    // plain re-aggregation — not even on its direct derivation edge
    import graft.plans.RollupCatalog._
    import graft.model.AggregationMethod.Max
    val g = "/tmp/plan-spec-gated-chain"
    val g60 = LevelInfo(60, 0, g, Max, 0.0)
    val g300 = LevelInfo(300, 60, g, Max, 0.5)
    val g3600 = LevelInfo(3600, 300, g, Max, 0.0)
    val gated = Seq(g60, g300, g3600)
    assert(!servableFrom(gated, g60, g300), "gated direct edge served")
    assert(!servableFrom(gated, g60, g3600), "gated Max intermediate served")
    // the direct edge ABOVE the gated level stays exact: g3600 was
    // derived ungated from g300-as-stored, so re-aggregating the g300
    // table itself is servable
    assert(servableFrom(gated, g300, g3600))
    // control: the identical chain ungated serves transitively
    val ungated = chain("/tmp/plan-spec-ungated-chain", Max, 0.0, Seq(60, 300, 3600))
    val Seq(u60, u300, u3600) = ungated
    assert(servableFrom(ungated, u60, u3600) && servableFrom(ungated, u60, u300))
  }

  test("RollupRewrite serves Last (max_by) chains transitively") {
    import org.apache.spark.sql.functions._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rollups_last"
    Materialize.materializeLevels(spark, dir, base,
      graft.model.AggregationMethod.Last, 0.0)
    graft.plans.RollupRewrite.setup(spark)
    // 1m → 1h skips the 5m edge; last-of-last composes like max
    val q = spark.read.parquet(s"$base/points_60s")
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(expr("max_by(value, bucket_ts)").as("value"))
    assert(scannedPaths(q).exists(_.contains("points_3600s")),
      s"transitive Last rewrite did not fire: ${scannedPaths(q)}")
    assert(!hasAggregate(q))
    val got = q.orderBy("metric", "bucket_ts").collect().toSeq
    val direct = spark.read.parquet(s"$base/points_3600s")
      .select("metric", "bucket_ts", "value")
      .orderBy("metric", "bucket_ts").collect().toSeq
    assert(got == direct)
  }

  test("RollupRewrite serves AbsMax magnitude chains transitively") {
    import org.apache.spark.sql.functions._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rollups_absmax"
    Materialize.materializeLevels(spark, dir, base,
      graft.model.AggregationMethod.AbsMax, 0.0)
    graft.plans.RollupRewrite.setup(spark)
    // 1m → 1h skips the 5m edge; the earliest-first magnitude winner
    // composes exactly (servableFrom scaladoc) — the canonical
    // aggColumn struct shape must be recognized and rewritten away
    val q = spark.read.parquet(s"$base/points_60s")
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(Rollup.aggColumn(graft.model.AggregationMethod.AbsMax,
        col("value"), col("bucket_ts")).as("value"))
    assert(scannedPaths(q).exists(_.contains("points_3600s")),
      s"transitive AbsMax rewrite did not fire: ${scannedPaths(q)}")
    assert(!hasAggregate(q))
    val got = q.orderBy("metric", "bucket_ts").collect().toSeq
    val direct = spark.read.parquet(s"$base/points_3600s")
      .select("metric", "bucket_ts", "value")
      .orderBy("metric", "bucket_ts").collect().toSeq
    assert(got == direct)
    // AvgZero must NOT compose across a skipped edge (it would divide by
    // the window size twice). methodMatches has no AvgZero shape today,
    // so a plan-level check would pass vacuously — pin the chain rule
    // itself: direct edge servable, skipped edge refused
    import graft.plans.RollupCatalog.{chain, servableFrom}
    val az = chain("/az", graft.model.AggregationMethod.AvgZero, 0.0, Seq(60, 300, 3600))
    val Seq(az60, az300, az3600) = az
    assert(servableFrom(az, az300, az3600), "direct avg_zero edge must serve")
    assert(!servableFrom(az, az60, az3600),
      "avg_zero served across a skipped edge (double-divides the window)")
  }

  test("a copy of a level keeps its facts but is not served as that level") {
    import org.apache.spark.sql.functions._
    Materialize.rollupServe1h(spark, dir) // ensures levels + rule active
    val base = Materialize.rollupBase(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_level_copy")
    try {
      // same last path segment as the level: only the full path differs
      val copy = s"$tmp/points_300s"
      spark.read.parquet(s"$base/points_300s").write.parquet(copy)
      def at1h(level: String) = spark.read.parquet(level)
        .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
        .agg(avg(col("value")).as("value"))
      assert(graft.plans.RollupCatalog.fromMetadata(
          spark.read.parquet(copy).schema("value").metadata).isDefined,
        "the copy lost the level metadata")
      val copied = at1h(copy)
      assert(hasAggregate(copied), "a copy was served as the level it was copied from")
      assert(!scannedPaths(copied).exists(_.contains("points_3600s")))
      // control: the same aggregation of the level itself is served
      assert(!hasAggregate(at1h(s"$base/points_300s")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("with the Average and Max chains both materialized, Max is served from the Max chain") {
    import org.apache.spark.sql.functions._
    Materialize.rollupServe1h(spark, dir) // the Average chain + the rule
    val avgBase = Materialize.rollupBase(spark, dir)
    val maxBase = s"${System.getProperty("java.io.tmpdir")}/graft_rollups_max"
    Materialize.materializeLevels(spark, dir, maxBase,
      graft.model.AggregationMethod.Max, 0.0)
    def maxAt1h(level: String) = spark.read.parquet(level)
      .groupBy(col("metric"), Buckets.alignTs(col("bucket_ts"), 3600).as("bucket_ts"))
      .agg(max(col("value")).as("value"))
    val fromMax = maxAt1h(s"$maxBase/points_300s")
    assert(!hasAggregate(fromMax), "Max re-aggregation of the Max chain not served")
    assert(scannedPaths(fromMax).nonEmpty &&
      scannedPaths(fromMax).forall(_.endsWith("graft_rollups_max/points_3600s")),
      s"served from outside the Max chain's 1h level: ${scannedPaths(fromMax)}")
    // Max over the Average chain's level is not that chain's method: it
    // stays an aggregation of its own level, never a Max-chain scan
    val fromAvg = maxAt1h(s"$avgBase/points_300s")
    assert(hasAggregate(fromAvg), "Max served from the Average chain")
    val avgRoot = new java.io.File(avgBase).getName
    assert(scannedPaths(fromAvg).forall(_.endsWith(s"$avgRoot/points_300s")),
      s"Average-chain Max read another level: ${scannedPaths(fromAvg)}")
  }

  test("dedup_incremental probes the bloom in-plan; confirm join stays anti") {
    val p = plan(Dedup.dedupIncremental(spark, dir))
    // the membership prefilter is the native expression, not a UDF —
    // its name in the plan is the proof it stayed a codegen'd Filter
    assert(p.contains("bloom_might_contain"),
      s"no in-plan bloom probe (did the prefilter fall off?):\n$p")
    // exactness comes from the anti-join on the bloom-positive slice
    assert(p.contains("LeftAnti"), s"no exact-confirm anti join:\n$p")
  }

  test("dsir_weight broadcasts the bucket-weight table, never the tokens") {
    val p = plan(Curation.dsirWeight(spark, dir))
    // the <=256-row bucket→weight frame rides a broadcast back onto the
    // compact per-(doc,bucket) count frame; a shuffle join here would
    // re-shuffle real volume at 100 TB
    assert(p.contains("BroadcastHashJoin"),
      s"bucket weights not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"count frame is being shuffle-joined:\n$p")
    // serving = ONE corpus explode against the persisted weight table
    // (formatted plans list each node twice: tree + detail); the
    // training aggregates (bucket totals cross join) must be absent —
    // they live in the amortized index build, not the query (review
    // r10: the inline-model form executed the corpus explode 3x while
    // its docs claimed a single pass)
    assert("Generate".r.findAllIn(p).size <= 2,
      s"serving plan re-derives the model (extra explode):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"training cross-join leaked into the serving plan:\n$p")
  }

  test("embed_project is a pure map-side pass — one presentation shuffle only") {
    // the JL matrix is 16 literal rows baked into the projection; the
    // whole audit must stay in the scan's stage. A Generate (explode
    // form), a join (matrix-as-data form) or a second Exchange (groupBy
    // form) would all mean the zero-shuffle shape regressed.
    val p = plan(Similarity.embedProject(spark, dir))
    assert(!p.contains("Generate") && !p.contains("Join"),
      s"projection left the map side:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, // tree + detail listing of the one sort
      s"more than the presentation-sort exchange:\n$p")
  }

  test("bm25_search serves from the persisted postings index, terms pushed") {
    val p = plan(TextAnalysis.bm25Search(spark, dir))
    // serving must READ the index, not rebuild it: no token explode at
    // query time (the build's one corpus explode is amortized), and the
    // query-term In predicate reaches the postings parquet scan as a
    // pushed filter so row groups prune on the term column at 100 TB
    assert(!p.contains("Generate"),
      s"query-time token explode — index rebuild leaked into serving:\n$p")
    assert(p.contains("PushedFilters") && p.contains("In(t, "),
      s"term In predicate did not reach the postings scan:\n$p")
    // query table broadcast; top-k via the rank-limit pushdown
    assert(p.contains("BroadcastHashJoin"), s"query terms not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-k not pushed into a rank limit:\n$p")
  }

  test("knn_classify and mine_negatives broadcast the anchor side") {
    for (q <- Seq(Similarity.knnClassify(spark, dir),
                  Similarity.mineNegatives(spark, dir))) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
        s"anchor side not broadcast — corpus would shuffle:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"unbounded cartesian in the scoring pass:\n$p")
      assert(p.contains("WindowGroupLimit"),
        s"neighbor top-k not pushed into a rank limit:\n$p")
    }
  }

  test("token_bpe_merges iterates over the checkpointed vocab, not the corpus") {
    // Sennrich's scale rule: ONE corpus pass builds (word, freq); every
    // BPE iteration then runs over the tiny vocab table. The corpus pass
    // lives in the eager localCheckpoint, so the final plan must read
    // checkpoint RDDs — never the documents parquet (a documents scan
    // here means an iteration re-reads the corpus: 3+ full passes at
    // 100 TB instead of one).
    val p = plan(TextAnalysis.tokenBpeMerges(spark, dir))
    assert(!p.contains("documents.parquet"),
      s"a BPE iteration re-reads the corpus:\n$p")
    assert(p.contains("ExistingRDD"),
      s"vocab table is not the checkpointed one-pass build:\n$p")
  }

  test("text_blocklist is a pure map-side pass — one presentation shuffle only") {
    // the blocklist is a literal in the filter lambda (a real wordlist
    // broadcasts); a Join (list-as-data form) or an extra Exchange
    // (explode+groupBy form) would mean the zero-shuffle shape regressed
    val p = plan(TextAnalysis.textBlocklist(spark, dir))
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"blocklist gate left the map side:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, // tree + detail of the one sort
      s"more than the presentation-sort exchange:\n$p")
  }

  test("rank_fusion composes index serving — lexical arm stays pushed") {
    // fusing must not degrade either arm: the BM25 side still serves
    // from the persisted postings index with the query-term In predicate
    // pushed (no query-time token explode), and the fusion join runs
    // over top-k lists, never corpus rows
    val p = plan(Similarity.rankFusion(spark, dir))
    assert(!p.contains("Generate"),
      s"query-time token explode — an index rebuild leaked into fusion:\n$p")
    assert(p.contains("PushedFilters") && p.contains("In(t, "),
      s"term In predicate no longer reaches the postings scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"unbounded cartesian in the fusion join:\n$p")
  }

  test("corpus_report is one aggregation pass — no self-joins") {
    // five summary columns must NOT mean five passes: one groupBy(source)
    // carries them all (the distinct-count expansion included), with
    // map-side partial aggregation
    val p = plan(Curation.corpusReport(spark, dir))
    assert(!p.contains("Join"), s"summary decomposed into self-joins:\n$p")
    assert(p.contains("partial_"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("dedup_threshold_sweep shares the index-read pair-scan contract") {
    // same contract as the dedup_semantic pin: within-cluster pairs via
    // an equi-join on the persisted assignment — never all-pairs, no
    // training stage (the 1-row totals broadcast is the only BNLJ)
    val p = plan(Similarity.dedupThresholdSweep(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"all-pairs scan leaked into the sweep plan:\n$p")
    // the one allowed Generate is the stack unpivot over the 1-row
    // summary — a SECOND one would be a training-stage explode
    assert("Generate".r.findAllIn(p).size <= 2, // tree + detail listing
      s"training-stage explode leaked into the sweep plan:\n$p")
    assert(!p.contains("posexplode"),
      s"training-stage posexplode leaked into the sweep plan:\n$p")
    assert(!p.contains("ExistingRDD"),
      s"checkpointed training frame leaked into the plan:\n$p")
    assert(p.contains("Scan parquet"),
      s"sweep does not read the persisted index:\n$p")
  }

  test("split_balance assigns map-side and only broadcasts totals") {
    val p = plan(Curation.splitBalance(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"assignment left the map side:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"per-split totals not broadcast:\n$p")
  }

  test("rollup_drift aggregates both arms off ONE materialized lww base") {
    // each hourly recompute must read the checkpointed 1m level, not
    // re-scan + re-shuffle the raw points per branch (two full passes
    // of the event volume at 100 TB)
    val p = plan(CoreQueries.rollupDrift(spark, dir))
    assert(!p.contains("events.parquet"),
      s"a drift arm re-reads the raw points:\n$p")
    assert(p.contains("ExistingRDD"),
      s"lww base is not the materialized one-pass build:\n$p")
  }

  /** Partition-less WindowExec nodes in a key's physical plan. A global
    * window moves ALL its input to one partition — fine on a k-row or
    * request-bounded frame, a scale-killer on a data-volume frame — so
    * each one must be accounted for. The census lives in WINDOWS.md;
    * these pins fail when a NEW global window appears in an audited key,
    * forcing a re-audit.
    */
  private def globalWindows(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val root = df.queryExecution.executedPlan
    val p = root match { case a: AdaptiveSparkPlanExec => a.inputPlan
                         case o => o }
    p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.size
  }

  test("global-window census: every partition-less window is bounded") {
    // sketch_quantile: ONE global cumsum over the histogram frame —
    // ≤ QuantileSubBins·(#magnitude bands) rows, schema-bounded
    assert(globalWindows(TextAnalysis.sketchQuantile(spark, dir)) == 1)
    // shard_pack: the documented oracle shape (one corpus prefix sum);
    // its scalable twin carries exactly one global window too, but over
    // the per-BLOCK offset frame (corpus/width rows, broadcast-sized)
    assert(globalWindows(PipelineOps.shardPack(spark, dir)) == 1)
    assert(globalWindows(PipelineOps.shardPackScalable(spark, dir)) == 1)
    // the ANN serving paths read the persisted index: the seed-ranking
    // global window is BUILD-only and must not appear at serving time
    assert(globalWindows(Similarity.similarityAnnPq(spark, dir)) == 0)
    assert(globalWindows(Similarity.knnClassifyAnn(spark, dir)) == 0)
    // generator-backed render keys: a generator's partitionBy(metric)
    // is a CONSTANT the optimizer folds away, so its cumulative-walk
    // window goes global — on the request-bounded generator grid.
    // compressPeriodicGaps itself adds ZERO windows (one aggregation
    // replaces the lag + row_number pair); the 4 are the lazy child
    // re-evaluated once per consumer. A real (non-generator) child is
    // partitioned by genuine metric values and contributes none.
    assert(globalWindows(RenderTarget.renderTargetGen(spark, dir)) == 1)
    assert(globalWindows(RenderTarget.renderTargetCompress(spark, dir)) == 4)
    assert(globalWindows(RenderTarget.renderTargetVertical(spark, dir)) == 0)
    assert(globalWindows(RenderTarget.renderTargetAliasq(spark, dir)) == 0)
    assert(globalWindows(Similarity.similarityAnnSrp(spark, dir)) == 0)
  }

  test("dedup_substring_salted spreads the Zipf-head key over salt buckets") {
    // the docfreq join must key on (sk, salt): a pathological span key
    // then lands on 16 reducers instead of one — AQE splits hot
    // PARTITIONS but cannot subdivide one hot KEY in a hash join
    val p = plan(Dedup.dedupSubstringSalted(spark, dir))
    assert(p.contains("salt"),
      s"salted twin joins without the salt column:\n$p")
    // row-pinned identical to the capped form (they share one oracle)
    val a = Dedup.dedupSubstringCapped(spark, dir).collect().map(_.toString)
    val b = Dedup.dedupSubstringSalted(spark, dir).collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("multimodal_join_bucketed joins shuffle-free off the bucketed layout") {
    // the whole point of the bucketed twin: the scans' bucketing
    // satisfies the sort-merge join's distribution requirement, so the
    // ONLY exchange left is the final orderBy's rangepartitioning —
    // neither join side shuffles (at 100 TB that is the difference
    // between a clustered-layout read and re-hashing both tables per
    // query)
    val p = plan(Similarity.multimodalJoinBucketed(spark, dir))
    assert(p.contains("SortMergeJoin"),
      s"bucketed twin lost its sort-merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a join side shuffles despite the bucketed layout:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"scan does not use the bucket spec:\n$p")
    // and the layout must not change a single row
    val a = Similarity.multimodalJoin(spark, dir).collect().map(_.toString)
    val b = Similarity.multimodalJoinBucketed(spark, dir).collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("similarity_ann_srp serves from the persisted signature index") {
    // the 16 literal-plane dot products live in the one-time index
    // BUILD; serving must read the signature parquet and join buckets —
    // a plane literal in the serving plan means the index is being
    // rebuilt per query
    val p = plan(Similarity.similarityAnnSrp(spark, dir))
    assert(p.contains("Scan parquet"),
      s"serving does not read the persisted signature index:\n$p")
    assert(!p.contains("dotproductf(embedding"),
      s"signature bits recomputed in the serving plan:\n$p")
  }

  test("knn_classify_ann serves candidates from the persisted index") {
    // the production-path pin of item X40: candidates come from the
    // trained IVF index parquet (codebook + assignment), never from an
    // inline training stage (same contract as cluster_stats)
    val p = plan(Similarity.knnClassifyAnn(spark, dir))
    assert(!p.contains("posexplode"),
      s"training-stage explode leaked into the serving plan:\n$p")
    assert(p.contains("Scan parquet"),
      s"serving does not read the persisted index:\n$p")
  }

  test("dedup_ngram_jaccard size lookups broadcast — pairs never re-shuffle") {
    // r15: sizes is one row per document, so both size joins must be
    // broadcast hash joins; a SortMergeJoin/ShuffledHashJoin here means
    // the Σdf(df−1)/2 pair frame is being exchanged twice for a lookup
    // a few KB wide (the r14 shape this replaced)
    val p = plan(Dedup.dedupNgramJaccard(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"size lookups lost their broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"pair frame re-shuffled for a per-doc size lookup:\n$p")
    // r18: the df² explode and the pair aggregate run on EXPLICIT-count
    // repartitions (exempt from AQE coalescing) — AQE sized those stages
    // by their exchanges' bytes (4/13 MB → 3/10 tasks) while the explode
    // ran ~100× bigger than the bytes AQE measured, and the pair agg
    // thrashed the codegen fast map at ~113k keys/task (probe chains of
    // ~300). Two REPARTITION_BY_NUM exchanges pin the fix in place.
    assert("REPARTITION_BY_NUM".r.findAllIn(p).size >= 2,
      s"explode/pair-agg parallelism no longer pinned against AQE " +
        s"coalescing:\n$p")
  }

  test("multimodal_decode_real is one shuffle-free codec map + output sort") {
    // the real-codec oracle key: fixture synthesis, imageio decode and
    // the integer thumbnail all live in ONE partition-wise object map;
    // the only exchange is the final doc_id output ordering, and there
    // is no join anywhere
    val p = plan(Multimodal.multimodalDecodeReal(spark, dir))
    assert(!p.contains("Join"), s"unexpected join in the codec plan:\n$p")
    // exactly two exchanges: the 8-byte id fan-out BEFORE the codec map
    // (one small split would otherwise serialize the whole decode on a
    // single core) and the final doc_id output ordering
    assert("(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"codec plan shuffles more than fan-out + output sort:\n$p")
    assert(p.contains("MapPartitions"),
      s"partition-wise codec stage missing:\n$p")
  }

  test("cluster_stats is an index read — no training stage in the audit") {
    // same contract as the ANN serving pin: the audit reads the
    // persisted codebook + assignment and aggregates; the Lloyd/assign
    // machinery must stay in the one-time index build
    val p = plan(Similarity.clusterStats(spark, dir))
    assert(!p.contains("Generate") && !p.contains("posexplode"),
      s"training-stage explode leaked into the audit plan:\n$p")
    assert(!p.contains("ExistingRDD"),
      s"checkpointed training frame leaked into the audit plan:\n$p")
    assert(p.contains("Scan parquet"),
      s"audit does not read the persisted index:\n$p")
  }
}
