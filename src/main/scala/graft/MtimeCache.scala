package graft

/** Mtime-guarded in-JVM memo — the shared staleness guard for every
  * cache keyed by a source table's directory (r17 verdict #4: the
  * bucketed-table caches were dir-keyed while `Tables.rowCount` had
  * already moved to an mtime guard, so an in-process regeneration of a
  * source could serve a stale co-located table whose SIZES were current
  * but whose DATA was not — worse than a stale count).
  *
  * One (sourceMtime, value) entry per key: a changed mtime REPLACES the
  * entry (never accumulates), an unchanged mtime serves the memo. The
  * compute runs inside ConcurrentHashMap.compute's per-bin lock, so
  * concurrent same-key callers build once — the same contract the
  * previous computeIfAbsent sites relied on.
  */
final class MtimeCache[V] {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, V)]()

  /** `fresh` rejects an entry the mtime alone cannot (e.g. a model bound
    * to another SparkSession); a rejected entry is replaced like a stale
    * one. */
  def apply(key: String, mtime: Long, fresh: V => Boolean = (_: V) => true)(
      compute: => V): V =
    cache.compute(key, (_, cur) =>
      if (cur != null && cur._1 == mtime && fresh(cur._2)) cur else (mtime, compute))._2
}
