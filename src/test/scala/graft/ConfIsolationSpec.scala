package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.gx.{GraphXTraversal, HyperAnf}
import graft.projection.TpchGraph

/** The iterative operators build their partitioned frames under the
  * session's own conf: every SQL job they run carries (through
  * `SQLExecution.withSQLConfPropagated`, which copies the session's SQL
  * conf into the job's properties) the session's AQE switch and shuffle
  * width, never a value an operator set for itself. */
class ConfIsolationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  test("gx operators run every job under the session's AQE and shuffle-width conf") {
    // a fresh copy of the fixture, so no memoized frame hides a build
    val dir = TestSpark.fixtureCopies("/root/testdata/sf0.001", 1,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")).head
    val snap = TpchGraph.snapshot(spark, dir)
    val session = Keys.map(k => k -> spark.conf.get(k)).toMap
    val seen = new ConcurrentLinkedQueue[(Int, Map[String, String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.sql.execution.id") != null)
          .foreach(p => seen.add(e.jobId -> Keys.flatMap(k => Option(p.getProperty(k)).map(k -> _)).toMap))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraphXTraversal.pageRankRelationalDF(spark, snap).collect()
      GraphXTraversal.communitiesLpaDF(spark, snap).collect()
      HyperAnf.hyperAnfDF(spark, snap).collect()
      val unmemoized = Seq(GraphXTraversal.kTrussDF(spark, snap),
        GraphXTraversal.randomWalksDF(spark, snap))
      unmemoized.foreach(_.collect())
      unmemoized.foreach(graft.util.LruMemo.releaseCheckpoint)
      org.apache.spark.sql.graftshim.ListenerBus.drain(spark)
    } finally spark.sparkContext.removeSparkListener(listener)

    val jobs = seen.asScala.toSeq
    assert(jobs.count(_._2.contains("spark.sql.shuffle.partitions")) > 10,
      s"too few SQL jobs carried the session conf: $jobs")
    val off = jobs.filter { case (_, conf) => conf.exists { case (k, v) => session(k) != v } }
    assert(off.isEmpty, s"jobs ran under conf the session does not have (session: $session): $off")
  }
}
