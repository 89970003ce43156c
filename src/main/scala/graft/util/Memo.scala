package graft.util

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graphx.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

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
      case r: LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
}

/** The temporaries one [[Staged.run]] scope pinned: `stage(df)` persists
  * a materialization barrier, `stage.checkpoint(df)` makes an eager
  * localCheckpoint, `stage.own(x)` takes over a frame or graph a callee
  * pinned; all of them are released, in that order, when the scope
  * ends. */
private[graft] final class Stage private[util] () {
  private val releases = mutable.ArrayBuffer.empty[() => Unit]

  /** Persist `df` at MEMORY_AND_DISK, unless it is already cached — a
    * frame the caller (or a memo) holds is used as is and never released
    * here. Returns `df`. */
  def apply(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      releases += (() => df.unpersist(blocking = false))
    }
    df
  }

  /** An eager localCheckpoint of `df` that this scope releases. */
  def checkpoint(df: DataFrame): DataFrame = own(df.localCheckpoint(true))

  /** Take over the release of `df`, a frame a callee pinned and handed
    * to this scope: unpersisted if it is cached, its blocks released if
    * it is an eager checkpoint, left alone if it is neither. Returns
    * `df`. */
  def own(df: DataFrame): DataFrame = {
    if (df.storageLevel != StorageLevel.NONE) releases += (() => df.unpersist(blocking = false))
    else if (df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      releases += (() => LruMemo.releaseCheckpoint(df))
    df
  }

  /** Take over the release of a cached graph a GraphX algorithm
    * returned. Returns `g`. */
  def own[V, E](g: Graph[V, E]): Graph[V, E] = {
    releases += (() => g.unpersist(blocking = false))
    g
  }

  // non-blocking and best effort: a failed release must not mask the
  // body's own failure, and the ContextCleaner still reclaims the rest
  private[util] def release(): Unit =
    releases.foreach(r => try r() catch { case NonFatal(_) => })
}

/** One scope for an operator's temporary frames — the single release
  * path for everything an operator pins on the way to its result.
  *
  * {{{
  * Staged.run { stage =>
  *   val toks = stage(docs.select(...))      // barrier, released below
  *   ...
  *   out.localCheckpoint(true)               // the result: not released
  * }
  * }}}
  *
  *  - Ownership: the scope releases exactly the frames it pinned and
  *    the ones handed to it with `own`. A frame whose storage level is
  *    already set when staged (the caller's `cache()`, a memoized view)
  *    is read through and left as it was.
  *  - Release on failure: release runs in a `finally`, so a job that
  *    throws inside the body leaves no staged frame pinned for the life
  *    of the session; an eager checkpoint whose own job threw (staged or
  *    the result) is released too. The body's value must not need the
  *    staged frames afterwards: end it with an eager
  *    `localCheckpoint(true)` (or a collect) so the result is
  *    materialized while they are still held.
  *  - Known race: the cache is shared by every session of a context and
  *    keyed by plan, so two sessions staging an equal plan at the same
  *    time share one cache entry, and the first scope to end drops it
  *    under the other. Results stay correct; the other scope only
  *    recomputes what it reads afterwards.
  */
private[graft] object Staged {
  def run[T](body: Stage => T): T = {
    val stage = new Stage
    try org.apache.spark.sql.graftshim.FailedCheckpoints.releasedOnFailure(body(stage))
    finally stage.release()
  }
}
