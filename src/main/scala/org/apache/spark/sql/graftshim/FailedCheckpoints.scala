package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDDOperationScope

/** Eager local checkpoints whose job fails: `localCheckpoint(true)`
  * registers its RDD as persisted before the job that fills it runs, so
  * a job that throws leaves that RDD pinned, holding whatever blocks its
  * finished tasks stored. RDD scopes and checkpoint state are
  * `private[spark]`, so the bridge lives in this package. */
object FailedCheckpoints {

  /** Runs `body` inside a new RDD operation scope. If it throws, every
    * checkpoint created inside that scope that never completed is
    * unpersisted before the exception propagates. Scopes are carried per
    * thread, so another thread's checkpoint in flight is never touched,
    * and a completed checkpoint (a memo's, say) is never released. */
  def releasedOnFailure[T](body: => T): T = SparkContext.getActive match {
    case None => body
    case Some(sc) =>
      RDDOperationScope.withScope(sc, "staged", allowNesting = true, ignoreParent = false) {
        val scopeId = Option(sc.getLocalProperty(SparkContext.RDD_SCOPE_KEY))
          .map(RDDOperationScope.fromJson(_).id)
        try body
        catch {
          case e: Throwable =>
            sc.getPersistentRDDs.values
              .filter(r => r.checkpointData.isDefined && !r.isCheckpointed &&
                r.scope.exists(_.getAllScopes.exists(s => scopeId.contains(s.id))))
              .foreach(_.unpersist(blocking = false))
            throw e
        }
      }
  }
}
