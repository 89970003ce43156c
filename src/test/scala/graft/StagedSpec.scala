package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.{LruMemo, Staged}

/** The one staging scope: what it pins it releases, on success and on
  * failure, and a frame the caller already cached is left alone. */
class StagedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def rddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cacheEntries: Int = org.apache.spark.sql.graftshim.CacheEntries.count(spark)
  private def frame(tag: Long) = spark.range(0, 100).select((col("id") * tag).as("x"))

  test("stage(df) persists for the scope and releases at its end") {
    val df = frame(3)
    val n = Staged.run { stage =>
      assert(stage(df).storageLevel == StorageLevel.MEMORY_AND_DISK)
      df.count()
    }
    assert(n == 100L)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("a frame the caller cached is read through and stays cached") {
    val df = frame(5).cache()
    try {
      Staged.run(stage => stage(df).count())
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally df.unpersist(blocking = true)
  }

  test("a failing body still releases its staged frames and checkpoints") {
    val (ids0, entries0) = (rddIds, cacheEntries)
    val df = frame(7)
    val e = intercept[IllegalStateException](Staged.run { stage =>
      stage(df).count()
      stage.checkpoint(df.where(col("x") > 10))
      throw new IllegalStateException("after staging")
    })
    assert(e.getMessage == "after staging")
    assert(df.storageLevel == StorageLevel.NONE)
    assert(rddIds -- ids0 == Set.empty[Int])
    assert(cacheEntries == entries0)
  }

  test("a handed-off frame stays pinned when the scope returns and is released when it throws") {
    val (ids0, entries0) = (rddIds, cacheEntries)
    val e = intercept[IllegalStateException](Staged.run { stage =>
      stage.handOff(frame(13).persist(StorageLevel.MEMORY_AND_DISK)).count()
      stage.handOff(frame(17).localCheckpoint(true))
      throw new IllegalStateException("after the hand-off")
    })
    assert(e.getMessage == "after the hand-off")
    assert(rddIds -- ids0 == Set.empty[Int])
    assert(cacheEntries == entries0)
    val (kept, cp) = Staged.run { stage =>
      val kept = stage.handOff(frame(19).persist(StorageLevel.MEMORY_AND_DISK))
      kept.count()
      (kept, stage.handOff(frame(23).localCheckpoint(true)))
    }
    try {
      assert(kept.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(rddIds.contains(
        cp.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id))
      assert(cacheEntries == entries0 + 1)
    } finally {
      kept.unpersist(blocking = true)
      LruMemo.releaseCheckpoint(cp)
    }
  }

  test("an eager checkpoint whose job fails leaves no RDD pinned") {
    val ids0 = rddIds
    val bad = frame(11).select(
      when(col("x") === 22, raise_error(lit("planted failure"))).otherwise(col("x")).as("x"))
    intercept[Exception](Staged.run(_ => bad.localCheckpoint(true)))
    assert(rddIds -- ids0 == Set.empty[Int])
  }

  test("checkpoints and owned graphs are released; the result stays") {
    val ids0 = rddIds
    val out = Staged.run { stage =>
      val g = stage.own(org.apache.spark.graphx.Graph.fromEdges(
        spark.sparkContext.parallelize(Seq(org.apache.spark.graphx.Edge(1L, 2L, ()))), ()))
      val c = stage.checkpoint(frame(13))
      assert(g.edges.count() == 1L)
      c.where(col("x") > 0).localCheckpoint(true)
    }
    try {
      assert(out.count() == 99L)
      assert((rddIds -- ids0).size == 1, "only the result's checkpoint is pinned")
    } finally LruMemo.releaseCheckpoint(out)
    assert(rddIds -- ids0 == Set.empty[Int])
  }

  // Stage.iterate, the driver of every loop that carries pinned round
  // state: x + 1 per round over an eager checkpoint of 0..99
  private def checkpointRdd(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get
  private def plusOne(s: org.apache.spark.sql.DataFrame) =
    s.select((col("x") + 1).as("x")).localCheckpoint(true)
  private def least(s: org.apache.spark.sql.DataFrame): Long = s.agg(min(col("x"))).head().getLong(0)

  test("iterate: a step failing in round 3 leaves no round state pinned") {
    val ids0 = rddIds
    val e = intercept[Exception](Staged.run { stage =>
      stage.iterate(frame(1).localCheckpoint(true), 5) { (s, round) =>
        if (round < 3) plusOne(s)
        else s.select(when(col("x") === 22, raise_error(lit("planted failure")))
          .otherwise(col("x")).as("x")).localCheckpoint(true)
      }
    })
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted failure")))
    assert(rddIds -- ids0 == Set.empty[Int])
  }

  test("iterate: a 5-round run pins exactly the state it returns") {
    val ids0 = rddIds
    val out = Staged.run(stage => stage.iterate(frame(1).localCheckpoint(true), 5)((s, _) => plusOne(s)))
    try {
      assert(!out.converged)
      assert(least(out.state) == 5L)
      assert(rddIds -- ids0 == Set(checkpointRdd(out.state)))
    } finally LruMemo.releaseCheckpoint(out.state)
    assert(rddIds -- ids0 == Set.empty[Int])
  }

  test("iterate: no more than two round states are pinned at any step") {
    val ids0 = rddIds
    var pinned = Seq.empty[Int]
    val out = Staged.run(stage => stage.iterate(frame(1).localCheckpoint(true), 6,
      until = { s => pinned :+= (rddIds -- ids0).size; false }) { (s, _) =>
      val next = plusOne(s)
      pinned :+= (rddIds -- ids0).size
      next
    })
    try {
      // after each step: its predecessor and its own state; after each
      // release, before the stop test: the new state alone
      assert(pinned == Seq.fill(6)(Seq(2, 1)).flatten)
    } finally LruMemo.releaseCheckpoint(out.state)
  }

  test("iterate: the stop test ends the loop before the cap and says so") {
    val ids0 = rddIds
    val stopped = Staged.run(stage =>
      stage.iterate(frame(1).localCheckpoint(true), 10, until = least(_) >= 3L)((s, _) => plusOne(s)))
    try {
      assert(stopped.converged)
      assert(least(stopped.state) == 3L)
    } finally LruMemo.releaseCheckpoint(stopped.state)
    val capped = Staged.run(stage =>
      stage.iterate(frame(1).localCheckpoint(true), 2, until = least(_) >= 3L)((s, _) => plusOne(s)))
    try assert(!capped.converged && least(capped.state) == 2L)
    finally LruMemo.releaseCheckpoint(capped.state)
    assert(rddIds -- ids0 == Set.empty[Int])
  }
}
