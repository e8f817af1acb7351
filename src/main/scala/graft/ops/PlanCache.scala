package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo of ANALYZED QUERY PLANS (lazy DataFrame handles)
  * for pure-DAG query keys — "plan interning" (r18; r17 verdict #7,
  * prototyped on the render family and extended to every key whose
  * construction is a pure DAG build).
  *
  * What is cached is the lazy plan object only, NEVER rows: every
  * action against a memoized handle re-executes the full computation
  * from the parquet inputs (PlanCacheSpec pins this by regenerating the
  * input file and watching the re-read change, and pins plan identity
  * against a fresh build). The entry key carries the data dir plus
  * [[Dedup.freshDigest]] of the three canonical inputs, so a
  * regenerated input under the same path rebuilds instead of serving a
  * stale file listing (the r2 stale-data footgun rule, applied to
  * plans; superseded-digest entries linger in the session map until the
  * session dies — bounded at #keys × #regenerations, trivially small).
  * Entries live in a [[SessionCache]], so a DataFrame is only ever
  * served to the session that analyzed it and the map dies with the
  * application (the r13/r14 leak hardening).
  *
  * WHY (measured, r18): constructing a registered query costs
  * 0.1–1.0 s of driver-side work — eager per-Dataset analysis of deep
  * DAGs (the render evaluator compiles a parsed target into a
  * 40–100-operator frame; its compile is 2–5× the sf0.1 execution) —
  * re-paid identically on every invocation with zero data dependence.
  * A serving deployment compiles a query once and re-serves the plan;
  * re-planning an UNCHANGED query per request is driver overhead. At
  * 100 TB the execution grows and this driver constant does not — but a
  * per-key benchmark's floor is exactly this constant.
  *
  * Scope is deliberately allowlisted (the verdict's blast-radius
  * warning) — see SparkEntry.planCacheable: no streaming state, no
  * construction-time writes (rollup materialization), no eager
  * localCheckpoint (a later cache clear would evict its blocks
  * UNRECOVERABLY: truncated lineage cannot recompute), no
  * construction-time collect/head whose embedded result would outlive
  * the invocation (observed-range sizing), and not the wsp family (its
  * scan lists the tree when it is planned, so a memoized plan would
  * serve a stale listing).
  * Kill switch: SPARK_GRAFT_PLAN_CACHE=0 (value semantics, [[enabled]]).
  */
object PlanCache {
  private val cache = new SessionCache[DataFrame]

  /** `=0` / `false` disable; unset or anything else keeps the cache on. */
  private[graft] def enabled(v: Option[String]): Boolean =
    v.forall(s => s != "0" && !s.equalsIgnoreCase("false"))

  private lazy val on = enabled(sys.env.get("SPARK_GRAFT_PLAN_CACHE"))

  /** The canonical inputs a batch key can derive from; a missing file
    * digests as absent (constant), which is correct for fixture dirs.
    */
  private val Inputs =
    Seq("documents.parquet", "events.parquet", "embeddings.parquet")

  /** Memoized `build` of a pure-DAG query frame for this (session, dir,
    * input-freshness, key).
    */
  def memo(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    if (!on) build
    else {
      val fresh = Inputs.map(f => Dedup.freshDigest(s, dir, f)).mkString
      cache.forSession(s).getOrElseUpdate(s"$key|$dir|$fresh", build)
    }
}
