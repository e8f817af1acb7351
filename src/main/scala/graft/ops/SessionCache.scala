package graft.ops

import org.apache.spark.sql.SparkSession

/** A per-SparkSession, per-path cache whose entries actually die with
  * the session.
  *
  * The r13 form was a bare `WeakHashMap[SparkSession, TrieMap[...]]` in
  * each call site — but a cached `DataFrame` strongly references its
  * owning session, so the value chain pinned the weak KEY and no entry
  * could ever be collected: a stopped session leaked for the JVM
  * lifetime (r13 ADVICE). Weak keys alone cannot fix
  * a value→key strong reference; this helper evicts EXPLICITLY instead,
  * two ways:
  *
  *   - on application end, via a `SparkListener` (the listener itself is
  *     owned by the context's listener bus and is released when the
  *     context stops, so it adds no pin of its own; `SparkSession.stop()`
  *     stops the underlying context, so application end covers every
  *     whole-JVM lifecycle this engine runs);
  *   - by an LRU cap of [[SessionCache.MaxSessions]] session entries —
  *     sibling `newSession()` clones have no close event while the
  *     shared context lives (r14 ADVICE: a long-lived multi-session
  *     server discarding clones would pin their caches forever), so the
  *     map is access-ordered and the eldest session's entry drops when a
  *     new one would exceed the cap. Eviction only costs a rebuild on
  *     the (unlikely) next use of an evicted-but-live session; values
  *     are derived caches, never state.
  */
final class SessionCache[V] {

  private val cache = new java.util.LinkedHashMap[
      SparkSession, scala.collection.concurrent.TrieMap[String, V]](
      16, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[
          SparkSession, scala.collection.concurrent.TrieMap[String, V]])
        : Boolean = size > SessionCache.MaxSessions
  }

  /** Contexts whose application-end listener is already wired. ONE
    * listener per CONTEXT, not per session: a per-session listener
    * would itself accumulate on the shared listener bus as clones churn
    * (the same unbounded-growth class the LRU cap bounds), and the bus
    * pays every registered listener on every event. Weak set — a
    * stopped context's entry vanishes with it; guarded by the cache
    * lock.
    */
  private val wired = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean])

  /** The session's path-keyed map, creating (and wiring eviction) on
    * first access.
    */
  def forSession(s: SparkSession): scala.collection.concurrent.TrieMap[String, V] =
    cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = new scala.collection.concurrent.TrieMap[String, V]
        cache.put(s, m)
        val sc = s.sparkContext
        if (!wired.contains(sc)) {
          // application end covers every session of the context — clear
          // the lot (Spark runs one active context per JVM)
          try {
            sc.addSparkListener(
              new org.apache.spark.scheduler.SparkListener {
                override def onApplicationEnd(
                    e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                    : Unit = {
                  cache.synchronized { cache.clear(); wired.remove(sc) }
                  ()
                }
              })
            wired.add(sc)
            ()
          } catch {
            // context already stopped: nothing will ever fire — don't cache
            case _: IllegalStateException => cache.remove(s)
          }
        } else if (sc.isStopped) {
          // the context was wired but has since ended: a late forSession
          // on a stopped session must not insert an entry with no
          // eviction path left (the listener also un-wires on fire, so
          // this branch is a belt-and-braces probe against the race
          // between a caller and the bus delivering application end)
          cache.remove(s)
        }
      }
      m
    }

  /** Live session entries — test/introspection hook for the LRU cap. */
  private[ops] def size: Int = cache.synchronized(cache.size)
}

object SessionCache {
  /** Per-JVM bound on session entries per cache instance. Generous for
    * this engine's lifecycles (one root session + one narrow clone per
    * streaming key ⇒ well under 20) while bounding a server that churns
    * clones.
    */
  val MaxSessions = 64
}
