package graft.util

import org.apache.spark.sql.DataFrame

/** Bounded LRU memo — the one eviction discipline behind every engine
  * cache (GraphX graphs, relational round frames, ANN/PQ/BPE indexes,
  * compacted stores): an accessOrder LinkedHashMap capped at `max`, the
  * evicted value's persisted state released via `onEvict`. A long-lived
  * session touching many snapshots or corpora keeps at most `max`
  * entries pinned instead of accumulating every one forever. */
private[graft] final class LruMemo[K, V](max: Int, onEvict: V => Unit) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = this.size() > max
      if (evict) onEvict(e.getValue)
      evict
    }
  }
  def getOrBuild(key: K)(build: => V): V = {
    synchronized {
      val hit = m.get(key)
      if (hit != null) return hit
    }
    // build OUTSIDE the monitor: a multi-minute index build must not
    // block concurrent hits on other keys. On a lost race the loser's
    // duplicate is released through the same onEvict hook; a build that
    // throws leaves no entry, so the next call rebuilds.
    val v = build
    synchronized {
      val raced = m.get(key)
      if (raced != null) { onEvict(v); raced }
      else { m.put(key, v); v }
    }
  }
  def size: Int = synchronized(m.size())
  def contains(key: K): Boolean = synchronized(m.containsKey(key))
}

private[graft] object LruMemo {

  /** Free an eager localCheckpoint's blocks (the §18 release discipline
    * for DataFrame loops and memo eviction): the checkpoint parks
    * edge/vertex-scale partitions in the block manager keyed by an
    * internal RDD that only the checkpointed plan references — the
    * CacheManager never tracks it, so `unpersist` on the Dataset is a
    * no-op, and dropping the DataFrame leaves reclamation to the
    * ContextCleaner, which only runs after a driver GC; meanwhile a
    * filling storage pool evicts the session's MEMOIZED views and later
    * queries pay full recomputes (the §16 tail-poisoning disease, round
    * 9). Unpersist the backing RDD (the LogicalRDD leaf) explicitly the
    * moment no downstream plan will read it again. A caller still
    * holding a released frame fails loudly on the missing block, never
    * silently. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
}
