package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped memoizer for expensive derived state (fitted models,
  * trained codebooks and merge tables, registered views).
  *
  * Reachability contract (the round-4 review found the previous
  * WeakHashMap-of-strong-values ineffective — a cached DataFrame/model
  * strongly references its SparkSession through queryExecution, so per
  * the WeakHashMap javadoc the entry was never reclaimed):
  *
  *  - the session key is WEAK (WeakHashMap) — nothing here strongly pins
  *    a stopped session;
  *  - every value is held through a SOFT reference, so the only path
  *    from this cache back to the session key is softly reachable. For
  *    session-free values (local LR/KMeans coefficients, codebook
  *    arrays) the entry dies as soon as the caller drops the session;
  *    for session-bearing values (DataFrames, ALS factor frames) the
  *    session is kept at most SOFTLY reachable — the GC clears soft
  *    references under memory pressure (before OOM), after which the
  *    WeakHashMap entry is discarded. Bounded, not immortal.
  *
  * A cleared soft reference simply recomputes — memoization is a cache,
  * not a correctness dependency (all cached computations are
  * deterministic).
  */
final class SessionMemo[K, V <: AnyRef] {
  private val maps = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[K, java.lang.ref.SoftReference[V]]]

  def getOrElseUpdate(spark: SparkSession, key: K)(mk: => V): V = {
    val m = maps.synchronized {
      maps.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty)
    }
    def live = m.get(key).flatMap(r => Option(r.get))
    live.getOrElse {
      // Atomic like the TrieMap.getOrElseUpdate this replaced: without
      // the lock two concurrent callers would both run the expensive mk
      // (double fits, orphaned caches/checkpoints). Computes for
      // different keys of one session serialize — they are rare and
      // heavyweight, contention is not a concern.
      m.synchronized {
        live.getOrElse {
          val v = mk
          m.put(key, new java.lang.ref.SoftReference(v))
          v
        }
      }
    }
  }

  /** Unconditional overwrite — for memo slots that track mutable session
    * state (e.g. which corpus dir a set of temp views points at). */
  def put(spark: SparkSession, key: K, v: V): Unit = {
    val m = maps.synchronized {
      maps.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty)
    }
    m.put(key, new java.lang.ref.SoftReference(v)): Unit
  }

  /** Test hook: drop every memoized entry (forces reload/recompute). */
  private[graft] def clear(): Unit = maps.synchronized(maps.clear())
}
