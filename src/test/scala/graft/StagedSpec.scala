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
}
