package graft.gx

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, In, InSet}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerBus

import graft.TestSpark
import graft.projection.TpchGraph
import graft.util.{LruMemo, PreparedRounds, Staged}

/** The fixed-round loop driver ([[graft.util.Stage.rounds]] over a
  * [[PreparedRounds]]): the prepared PageRank family and SSSP give the
  * rows of the per-round re-planned loops they replaced (kept here as the
  * reference), the round template is planned over a placeholder that
  * leaks no round-0 predicate, every read of the state is substituted, a
  * failing round leaves nothing pinned, and n rounds run as one job. */
class PreparedRoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val DagLabels = Seq("placed", "contains", "supplied_by")
  private def width = GraphXTraversal.sessionWidth(spark)
  private def rddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  // seeded sources (of the 150 customers) and landmark sets (of the 10
  // suppliers) at sf0.001
  private val rnd = new scala.util.Random(17)
  private val sources = rnd.shuffle((1L to 150L).toList).take(5).map(TpchGraph.VCustomer + _)
  private val landmarkSets = Seq.fill(5)(
    rnd.shuffle((1L to 10L).toList).take(3).sorted.map(TpchGraph.VSupplier + _))

  /** The PageRank loop as it ran before it was planned once: ranks
    * re-planned under AQE every round, fused two rounds per
    * `v`-partitioned checkpoint, from a checkpointed r_0. */
  private def replannedPageRank(contrib: DataFrame, verts: DataFrame, iters: Int,
                                src: Option[Long]): Map[Long, Double] = {
    val fuse = 2
    val out = Staged.run { stage =>
      val start = GraphXTraversal.partitionedCheckpoint(GraphXTraversal.pageRankStart(verts, src), "v")
      stage.iterate(start, (iters + fuse - 1) / fuse) { (ranks, r) =>
        val fused = math.min(fuse, iters - (r - 1) * fuse)
        GraphXTraversal.partitionedCheckpoint(
          (1 to fused).foldLeft(ranks)((rk, _) => GraphXTraversal.pageRankRound(contrib, verts, rk, src)), "v")
      }.state
    }
    try ranksOf(out) finally LruMemo.releaseCheckpoint(out)
  }

  /** The SSSP loop as it ran before: an inlined `isin` start checkpoint
    * and one re-planned, checkpointed round at a time. */
  private def replannedSssp(edges: DataFrame, landmarks: Seq[Long], rounds: Int): Set[(Long, Long, Long)] = {
    val out = Staged.run { stage =>
      val start = GraphXTraversal.partitionedCheckpoint(
        edges.select(col("src").as("vertex_id"))
          .unionAll(edges.select(col("dst").as("vertex_id"))).distinct()
          .where(col("vertex_id").isin(landmarks: _*))
          .select(col("vertex_id"), col("vertex_id").as("landmark_id"), lit(0L).as("dist_w")),
        "vertex_id", width)
      stage.iterate(start, rounds) { (dist, _) =>
        GraphXTraversal.partitionedCheckpoint(GraphXTraversal.ssspRound(edges, dist, width), "vertex_id", width)
      }.state
    }
    try triples(out) finally LruMemo.releaseCheckpoint(out)
  }

  private def ranksOf(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  private def triples(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def assertSameRanks(what: String, prepared: Map[Long, Double], reference: Map[Long, Double]): Unit = {
    assert(prepared.keySet == reference.keySet, s"$what: vertex sets differ")
    reference.foreach { case (v, r) =>
      assert(math.abs(prepared(v) - r) <= 1e-12 * math.max(1.0, math.abs(r)),
        s"$what vertex $v: prepared ${prepared(v)}, re-planned $r")
    }
  }

  test("the prepared PageRank family equals the per-round re-planned ranks") {
    val snap = TpchGraph.snapshot(spark, dir)
    val contrib = GraphXTraversal.contribEdges(snap)
    val verts = GraphXTraversal.vertexFrame(snap)
    val weighted = contrib.select(col("u"), col("v"), col("wq").as("w"))
    val cases = Seq(("global", contrib, None), ("weighted", weighted, None)) ++
      sources.map(s => (s"personalized from $s", contrib, Some(s)))
    cases.foreach { case (what, edges, src) =>
      val ran = GraphXTraversal.pageRankRounds(edges, verts, 10, src)
      val prepared = try ranksOf(ran.state) finally LruMemo.releaseCheckpoint(ran.state)
      val reference = replannedPageRank(edges, verts, 10, src)
      assertSameRanks(what, prepared, reference)
      // the normalization's inputs, observed on the rounds' own job
      assert(ran.metrics("nv") == reference.size.toLong, what)
      val s = ran.metrics("s").asInstanceOf[Double]
      assert(math.abs(s - reference.values.sum) <= 1e-9 * math.max(1.0, s), what)
    }
  }

  test("the prepared SSSP equals the per-round re-planned distances") {
    val snap = TpchGraph.snapshot(spark, dir)
    val edges = GraphXTraversal.weightedEdges(snap, DagLabels)
    landmarkSets.foreach { lms =>
      val out = GraphXTraversal.ssspWeightedDF(spark, snap, lms, DagLabels, 4)
      val prepared = try triples(out) finally LruMemo.releaseCheckpoint(out)
      val reference = replannedSssp(edges, lms, 4)
      assert(prepared.size > lms.size, s"landmarks $lms reach nothing")
      assert(prepared == reference, s"landmarks $lms")
    }
  }

  test("the SSSP round template holds no landmark predicate") {
    val snap = TpchGraph.snapshot(spark, dir)
    val lms = landmarkSets.head
    val loop = GraphXTraversal.ssspLoop(GraphXTraversal.weightedEdges(snap, DagLabels), lms, width)
    def predicates(p: org.apache.spark.sql.execution.SparkPlan) = p.collect { case n =>
      n.expressions.flatMap(_.collect {
        case e @ (_: In | _: InSet | _: ArrayContains) => e
        case e: graft.snapshot.PinSet => e
      })
    }.flatten
    assert(predicates(loop.start).nonEmpty, s"the start does not select the landmarks:\n${loop.start}")
    assert(predicates(loop.template).isEmpty, s"the round template filters on landmarks:\n${loop.template}")
    lms.foreach(lm => assert(!loop.template.toString.contains(lm.toString),
      s"landmark $lm appears in the round template:\n${loop.template}"))
  }

  // a state of 20 keys, k-partitioned at the session width
  private def keyed(x: Column): DataFrame =
    spark.range(0, 20).select(col("id").as("k"), x.as("x")).repartition(width, col("k"))

  test("a body that reads its state twice has both reads substituted") {
    val start = keyed(col("id") + 1)
    // each key joins itself: x doubles every round, and a read left on
    // the (empty) placeholder would empty the join
    val loop = PreparedRounds(start, "k", width) { s =>
      s.as("a").join(s.as("b"), "k").select(col("k"), (col("a.x") + col("b.x")).as("x"))
    }
    val leaves = loop.template.collect { case s: RDDScanExec => s }
    assert(leaves.size == 2, s"the template reads the state ${leaves.size} times:\n${loop.template}")
    val out = Staged.run(_.rounds(loop, 3)).state
    try {
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (0L until 20L).map(k => k -> (k + 1) * 8).toMap)
    } finally LruMemo.releaseCheckpoint(out)
  }

  test("a round that fails leaves nothing pinned") {
    val start = keyed(lit(0L))
    // round r sees x = r - 1: the third round raises
    val loop = PreparedRounds(start, "k", width) { s =>
      s.select(col("k"),
        when(col("x") === 2L, raise_error(lit("planted round-3 failure"))).otherwise(col("x") + 1).as("x"))
    }
    val ids0 = rddIds
    val e = intercept[Exception](Staged.run(_.rounds(loop, 5, count(lit(1)).as("n"))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted round-3 failure")), e)
    assert(rddIds -- ids0 == Set.empty[Int], "the failed rounds left an RDD persisted")
    // the same loop for two rounds succeeds
    val ok = Staged.run(_.rounds(loop, 2, count(lit(1)).as("n")))
    try {
      assert(ok.metrics("n") == 20L)
      assert(ok.state.collect().forall(_.getLong(1) == 2L))
      assert(rddIds -- ids0 == Set(ok.state.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id))
    } finally LruMemo.releaseCheckpoint(ok.state)
  }

  test("n rounds run as one job, one stage per round") {
    val n = 6
    // round 0 aggregates (one exchange); each round moves every key to
    // its successor mod 20 and sums (one exchange)
    val start = spark.range(0, 200).select((col("id") % 20).as("k"), col("id").as("x"))
      .groupBy(col("k")).agg(sum(col("x")).as("x"))
    def round(s: DataFrame) = s.select(((col("k") + 1) % 20).as("k"), (col("x") + col("k")).as("x"))
      .groupBy(col("k")).agg(sum(col("x")).as("x"))
    val loop = PreparedRounds(start, "k", width)(round)
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    ListenerBus.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val o = Staged.run(_.rounds(loop, n)).state
      ListenerBus.drain(spark)
      o
    } finally spark.sparkContext.removeSparkListener(listener)
    try {
      val started = jobs.asScala.toSeq
      assert(started.size == 1, s"${started.size} jobs for $n rounds")
      // round 0's exchange, one per round, and the checkpoint's result stage
      assert(started.head.stageInfos.size == n + 2)
      val reference = (1 to n).foldLeft(start)((s, _) => round(s))
      assert(out.collect().toSet == reference.collect().toSet)
    } finally LruMemo.releaseCheckpoint(out)
  }
}
