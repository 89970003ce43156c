package graft.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graphx.Graph
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.Relations
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
  /** The values held now; an eviction hook sees its own among them. */
  def values: Seq[V] = synchronized(m.values().asScala.toList)
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
  * ends. `stage.iterate` carries an iterative loop's round state, each
  * round's predecessor released as its successor is pinned;
  * `stage.rounds` runs a fixed-round loop planned once and pins only its
  * last round. */
private[graft] final class Stage private[util] () {
  private val releases = mutable.ArrayBuffer.empty[() => Unit]
  private val handedOff = mutable.ArrayBuffer.empty[() => Unit]

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
    Stage.releaseOf(df).foreach(releases += _)
    df
  }

  /** Hand `df`, a pinned frame that is part of the scope's result, to
    * the caller if the scope returns, and release it if the scope throws
    * (a later step failing after `df` was pinned). Returns `df`. */
  def handOff(df: DataFrame): DataFrame = {
    Stage.releaseOf(df).foreach(handedOff += _)
    df
  }

  /** Take over the release of a cached graph a GraphX algorithm
    * returned. Returns `g`. */
  def own[V, E](g: Graph[V, E]): Graph[V, E] = {
    releases += (() => g.unpersist(blocking = false))
    g
  }

  /** Loop-carried round state: runs `step(state, round)` for rounds 1 to
    * `maxRounds`, or until `until(state)` holds after a round. The step
    * builds AND pins its round's frame (an eager checkpoint or a
    * persist); the driver owns only pinning order, release and stopping:
    *
    *  - the predecessor is released as soon as its successor is pinned,
    *    so at most two round states are alive at once (a `start` that
    *    pins nothing is never released);
    *  - if a step or the stop test throws, the live state is released
    *    before the exception propagates (an eager checkpoint whose own
    *    job failed is this scope's, see [[Staged]]);
    *  - the final state goes back to the caller, who releases it (or
    *    hands it to [[own]]).
    *
    * The stop test sees each pinned round state, never `start`. */
  def iterate(start: DataFrame, maxRounds: Int, until: DataFrame => Boolean = _ => false)(
      step: (DataFrame, Int) => DataFrame): Rounds = {
    def free(df: DataFrame): Unit = Stage.releaseOf(df).foreach(Stage.quietly)
    var state = start
    try {
      var round = 0
      var stopped = false
      while (!stopped && round < maxRounds) {
        round += 1
        val next = step(state, round)
        require(Stage.releaseOf(next).isDefined, s"round $round returned a frame it did not pin")
        free(state)
        state = next
        stopped = until(state)
      }
      Rounds(state, stopped)
    } catch { case e: Throwable => free(state); throw e }
  }

  /** Runs `n` rounds of `loop` as ONE job and pins only the last round:
    * every round is its prepared plan over the previous round's rows, the
    * last one is checkpointed eagerly (declaring `HashPartitioning(key,
    * width)`), and each round runs as one stage of that checkpoint's job.
    * `metrics` (named aggregate columns) are observed on the same job
    * and read only once the checkpoint has returned. If the job fails,
    * its checkpoint is this scope's to release (see [[Staged]]); nothing
    * else was pinned. The state is handed off ([[handOff]]): the caller
    * releases it (or hands it to [[own]]). */
  def rounds(loop: PreparedRounds, n: Int, metrics: Column*): Observed = {
    val last = loop.result(n)
    val observation = Observation()
    val observed =
      if (metrics.isEmpty) last else last.observe(observation, metrics.head, metrics.tail: _*)
    val state = handOff(
      Relations.hashPartitioned(observed.localCheckpoint(true), loop.key, loop.width))
    Observed(state, if (metrics.isEmpty) Map.empty else observation.get)
  }

  private[util] def release(): Unit = releases.foreach(Stage.quietly)
  private[util] def releaseHandedOff(): Unit = handedOff.foreach(Stage.quietly)
}

private[util] object Stage {
  /** How to release `df`: unpersist a cached frame, free an eager
    * checkpoint's blocks; None for a frame that pins nothing of its own. */
  def releaseOf(df: DataFrame): Option[() => Unit] =
    if (df.storageLevel != StorageLevel.NONE) Some(() => df.unpersist(blocking = false))
    else if (df.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      Some(() => LruMemo.releaseCheckpoint(df))
    else None

  // non-blocking and best effort: a failed release must not mask the
  // body's own failure, and the ContextCleaner still reclaims the rest
  def quietly(release: () => Unit): Unit = try release() catch { case NonFatal(_) => }
}

/** What [[Stage.iterate]] hands back: the final round state (the caller
  * releases it) and whether the stop test, rather than the round cap,
  * ended the loop. */
private[graft] final case class Rounds(state: DataFrame, converged: Boolean)

/** What [[Stage.rounds]] hands back: the last round's state (the caller
  * releases it) and the metrics observed on the job that pinned it, by
  * name. */
private[graft] final case class Observed(state: DataFrame, metrics: Map[String, Any])

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
  *    the result) is released too, and so is every frame the body handed
  *    off as part of its result (`handOff`). The body's value must not
  *    need the staged frames afterwards: end it with an eager
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
    catch { case e: Throwable => stage.releaseHandedOff(); throw e }
    finally stage.release()
  }
}
