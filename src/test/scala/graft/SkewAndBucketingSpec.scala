package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.GraftGraph
import graft.log.{BulkFactStore, FactLog}
import graft.util.SkewJoin

class SkewAndBucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join matches the plain join on skewed data") {
    import spark.implicits._
    // 10k rows hammering one hot key + a sprinkle of others
    val big = (1 to 10000).map(i => (if (i % 10 == 0) i % 7 else 0, i.toLong))
      .toDF("k", "payload")
    val small = Seq((0, "hot"), (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"), (6, "f"))
      .toDF("k", "name")
    val plain = big.join(small, "k").groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.salted(big, small, "k", col("payload"))
      .groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    // the salted big side spreads the hot key over multiple sub-keys
    val spread = big.withColumn("_salt", pmod(xxhash64(col("payload")), lit(16)))
      .where(col("k") === 0).select("_salt").distinct().count()
    assert(spread > 8)
  }

  test("saltedCount matches plain count per key") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i % 3, i.toLong)).toDF("k", "v")
    val plain = df.groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.saltedCount(df, "k", col("v"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("AQE splits the skewed partition of a sort-merge join (skew=true in the final plan)") {
    import spark.implicits._
    // one hot key carrying ~200k wide rows vs a tiny median: the hot
    // partition exceeds both the skew factor (5× median) and the lowered
    // byte threshold, so AQE must replan the SMJ with skew splitting
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force sort-merge
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50KB")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val payload = "x" * 64
      val big = spark.range(0, 220000).select(
        when(col("id") % 100 === 0, col("id") % 97 + 1).otherwise(0L)
          .cast("long").as("k"),
        concat(lit(payload), col("id").cast("string")).as("payload"))
      val dim = (0L to 100L).map(k => (k, s"name_$k")).toDF("k", "name")
      val joined = big.join(dim, "k")
      // AQE finalizes THIS DataFrame's adaptive plan only when it is
      // executed directly (count()/noop-write plan their own queries)
      assert(joined.collect().length == 220000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE plan not finalized:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skew join (is the hot partition above threshold?):\n$plan")
      // and correctness is unaffected: same counts as a non-AQE salted join
      val viaSalt = SkewJoin.salted(big, dim, "k", col("payload"))
      assert(viaSalt.count() == 220000L)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def savedWithBuckets(g: GraftGraph, n: Int): BulkFactStore =
    FactLog.open(spark, TestSpark.savedWithBuckets(g.log, n))

  test("bucketed fact table: point lookup prunes to one bucket and reads correct values") {
    val g = new GraftGraph(spark)
    val vs = (1 to 50).map(i => { val v = g.addVertex(); v.setProperty("n", i.toLong); v })
    val store = savedWithBuckets(g, 8)
    val target = vs(16)
    // point read THROUGH the snapshot stack: the e = id filter must push
    // below the latest-wins aggregation into the bucketed scan
    val snap = graft.snapshot.Snapshot.head(store)
    val df = snap.currentFacts.where(col("e") === target.id)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"expected bucket pruning on point lookup:\n$plan")
    // and the handle facade reads the right value over the same store
    val view = new graft.graph.SnapshotGraphView(snap)
    assert(view.vertex(target.id).get.getProperty("n") == 17L)
    assert(view.vertex(-1L).isEmpty)
  }

  test("bucketed fact table: per-entity aggregation plans without an exchange") {
    val g = new GraftGraph(spark)
    val vs = (1 to 50).map(_ => g.addVertex())
    vs.foreach(v => v.setProperty("p", 1L))
    val t = savedWithBuckets(g, 4).factsDF
    // group by the bucket column: bucketed layout satisfies the
    // distribution, so no shuffle exchange appears before the agg
    val agg = t.groupBy(col("e")).agg(max(col("tx")))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(e#"),
      s"expected no exchange on bucketed groupBy:\n$plan")
    assert(agg.count() == 50) // one row per vertex entity
  }
}
