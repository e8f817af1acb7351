package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] is an operator from SURVEY.md §2's inventory;
  * every key that is ANSI-SQL-expressible also appears in [[oracleSql]]
  * with DuckDB SQL producing the identical (column-name-matched, ordered,
  * 6-decimal-rounded, NULL-not-NaN) result on the same parquet tables.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Fetch.fetchDenseSeries(spark, "/root/testdata/sf0.001")

  /** Keys whose construction is NOT a pure DAG build and therefore can
    * never be served a memoized plan handle (see PlanCache's scaladoc
    * for the failure mode behind each class):
    */
  private val planCacheExclude: Set[String] = Set(
    // rollup materialization: construction-time writes / the eager lww
    // localCheckpoint (create_rollup_tables IS the write under test and
    // rollup_serve_1h's construction triggers that same build)
    "create_rollup_tables", "rollup_serve_1h", "rollup_cascade_5m",
    "rollup_cascade_1h", "rollup_drift",
    // eager per-iteration localCheckpoints: a cache clear between bench
    // reps would evict blocks whose TRUNCATED lineage cannot recompute
    "token_bpe_merges", "token_bpe_apply",
    // construction sizes blocks from an observed-id-range head(): a
    // memoized handle would embed that result across invocations
    "shard_pack_scalable")

  /** Pure-DAG keys get their analyzed plan memoized ([[PlanCache]];
    * r18, r17 verdict #7 — prototyped on the render family at a
    * measured 100 % planning cut with byte-identical plans, then
    * extended to every key that passes the purity audit above).
    * Streaming keys hold per-invocation state, and a wsp scan lists its
    * tree when it is planned, so a memoized wsp plan would serve a stale
    * listing — both stay unwrapped.
    */
  private def planCacheable(k: String): Boolean =
    !k.startsWith("stream_") && !k.startsWith("wsp_") &&
      !planCacheExclude(k)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val base = CoreQueries.queries ++ ExtQueries.queries ++
      graft.sources.WspQueries.queries ++ graft.streaming.StreamQueries.queries
    base.map {
      case (k, fn) if planCacheable(k) =>
        k -> ((s: SparkSession, d: String) =>
          PlanCache.memo(s, d, k)(fn(s, d)))
      case other => other
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ ExtQueries.oracleSql ++
      graft.sources.WspQueries.oracleSql ++ graft.streaming.StreamQueries.oracleSql
}
