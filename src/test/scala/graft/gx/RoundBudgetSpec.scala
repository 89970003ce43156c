package graft.gx

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

import graft.TestSpark
import graft.model.{A, PropType}
import graft.projection.TpchGraph

/** The per-round budget of the relational round loops, read off what a
  * call actually ran: every executed query's final adaptive plan (a
  * `QueryExecutionListener`) and every job with its stages (a
  * `SparkListener`). The loops planned once (PageRank, SSSP) are held to
  * their prepared round template: it broadcasts nothing and runs exactly
  * one shuffle, and a call runs all its rounds as one job, one stage per
  * round, plus a fixed number of result jobs, each named below. */
class RoundBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val DagLabels = Seq("placed", "contains", "supplied_by")

  /** What one call ran: the final plan of every query it executed and the
    * number of stages of every job it started, in start order. */
  private final case class Ran(plans: Seq[SparkPlan], stages: Seq[Int]) {
    def jobs: Int = stages.size
  }

  private def traced(call: => Unit): Ran = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new ConcurrentLinkedQueue[(Int, Int)]()
    val queries = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val starts = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId -> e.stageInfos.size)
    }
    ListenerBus.drain(spark)
    spark.listenerManager.register(queries)
    spark.sparkContext.addSparkListener(starts)
    try {
      call
      ListenerBus.drain(spark)
    } finally {
      spark.sparkContext.removeSparkListener(starts)
      spark.listenerManager.unregister(queries)
    }
    Ran(plans.asScala.toSeq, jobs.asScala.toSeq.sortBy(_._1).map(_._2))
  }

  // the plan's nodes, adaptive wrappers and query stages opened
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Asserts a prepared plan has `joins` joins, broadcasts nothing and
    * runs `shuffles` shuffles. */
  private def assertPlan(what: String, plan: SparkPlan, joins: Int, shuffles: Int): Unit = {
    val ns = nodes(plan)
    assert(ns.count(_.isInstanceOf[BaseJoinExec]) == joins, s"$what joins:\n$plan")
    val broadcasts = ns.count {
      case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => true
      case _ => false
    }
    assert(broadcasts == 0, s"$what broadcasts:\n$plan")
    assert(ns.count(_.isInstanceOf[ShuffleExchangeLike]) == shuffles, s"$what shuffles:\n$plan")
  }

  /** Asserts the call ran its rounds in its first job, one stage per
    * round after `startStages` (round 0's) plus the checkpoint's result
    * stage; planned no round adaptively (no executed plan joins); and
    * started exactly the named `fixedJobs`. */
  private def assertBudget(ran: Ran, rounds: Int, startStages: Int,
                           fixedJobs: Map[String, Int]): Unit = {
    val joined = ran.plans.filter(p => nodes(p).exists(_.isInstanceOf[BaseJoinExec]))
    assert(joined.isEmpty, s"a round was planned per call:\n${joined.headOption.orNull}")
    assert(ran.stages.headOption.contains(startStages + rounds + 1),
      s"the rounds job ran ${ran.stages.headOption} stages for $rounds rounds")
    val budget = fixedJobs.values.sum
    info(s"${ran.jobs} jobs (stages ${ran.stages.mkString(", ")}), budget $budget")
    assert(ran.jobs <= budget, s"${ran.jobs} jobs, budget ${fixedJobs.mkString(", ")} = $budget")
  }

  private def ranks(rows: Array[org.apache.spark.sql.Row]): Map[Long, Double] =
    rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("personalized PageRank: no broadcast, one shuffle per round, two jobs per round") {
    val snap = TpchGraph.snapshot(spark, dir)
    val iters = 10
    // builds the memoized contribution edges and vertex frame untraced
    GraphXTraversal.personalizedPageRankRelationalDF(spark, snap, 3000043L, iters, 30).collect()
    val src = 3000042L
    val loop = GraphXTraversal.pageRankLoop(
      GraphXTraversal.contribEdges(snap), GraphXTraversal.vertexFrame(snap), Some(src))
    assertPlan("r_0", loop.start, joins = 0, shuffles = 0)
    assertPlan("the round", loop.template, joins = 2, shuffles = 1)
    var rows: Array[org.apache.spark.sql.Row] = null
    val ran = traced {
      val out = GraphXTraversal.personalizedPageRankRelationalDF(spark, snap, src, iters, 30)
      rows = out.collect()
    }
    assertBudget(ran, iters, startStages = 0, fixedJobs = Map(
      "the rounds, r_0 and the observed normalization sums (one checkpoint)" -> 1,
      "top-k cut checkpoint" -> 1,
      "the caller's collect" -> 1))
    val twin = ranks(GraphXTraversal.personalizedPageRankDF(spark, snap, src, iters, 30).collect())
    val rel = ranks(rows)
    assert(rel.keySet == twin.keySet)
    twin.foreach { case (v, r) => assert(math.abs(rel(v) - r) <= 1e-4 + 1e-9, s"vertex $v") }
  }

  test("weighted SSSP: no broadcast, one shuffle per round, two jobs per round") {
    val snap = TpchGraph.snapshot(spark, dir)
    val rounds = 4
    GraphXTraversal.ssspWeightedDF(spark, snap, Seq(4000004L), DagLabels, rounds).collect()
    val lms = Seq(4000001L, 4000002L, 4000003L)
    val loop = GraphXTraversal.ssspLoop(GraphXTraversal.weightedEdges(snap, DagLabels), lms,
      GraphXTraversal.sessionWidth(spark))
    assertPlan("round-0 distances", loop.start, joins = 0, shuffles = 1)
    assertPlan("the round", loop.template, joins = 1, shuffles = 1)
    var rows: Array[(Long, Long, Long)] = null
    val ran = traced {
      rows = GraphXTraversal.ssspWeightedDF(spark, snap, lms, DagLabels, rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    assertBudget(ran, rounds, startStages = 1, fixedJobs = Map(
      "the rounds and round-0 distances (one checkpoint)" -> 1,
      "the caller's collect" -> 1))

    // the shortest-path equations over the snapshot's own edges: d(lm) =
    // 0, d(v) <= w + d(u) on every edge v -> u, and every reached v > 0
    // is tight on some edge
    val qty = snap.prop("quantity", PropType.PDouble, A.Edge).collect()
      .map(r => r.getLong(0) -> r.getDouble(1).toLong).toMap
    val edges = snap.edges.where(col("label").isin(DagLabels: _*))
      .select("id", "outV", "inV").collect()
      .map(r => (r.getLong(1), r.getLong(2), qty.getOrElse(r.getLong(0), 1L))).toSeq
    val d = rows.map { case (v, lm, x) => (v, lm) -> x }.toMap
    assert(d.size > lms.size)
    lms.foreach(lm => assert(d.get((lm, lm)).contains(0L), s"landmark $lm"))
    edges.foreach { case (v, u, w) =>
      lms.foreach(lm => d.get((u, lm)).foreach(du =>
        assert(d.get((v, lm)).exists(_ <= du + w), s"edge $v -> $u relaxes to $lm")))
    }
    val out = edges.groupBy(_._1)
    d.foreach { case ((v, lm), x) =>
      assert(x == 0 && lms.contains(v) ||
        x > 0 && out.getOrElse(v, Nil).exists { case (_, u, w) => d.get((u, lm)).contains(x - w) },
        s"($v, $lm) = $x is tight on no edge")
    }
  }

  /** Asserts `ran` started at most `budget` jobs and at least one per
    * round (so the call ran its rounds instead of hitting a memo). Only
    * jobs are counted: whether AQE broadcasts a round's join at this
    * size does not move the bound. */
  private def assertJobs(ran: Ran, rounds: Int, budget: Int): Unit = {
    info(s"${ran.jobs} jobs, budget $budget")
    assert(ran.jobs >= rounds, s"${ran.jobs} jobs for $rounds rounds: the call did not run")
    assert(ran.jobs <= budget, s"${ran.jobs} jobs, budget $budget")
  }

  // The budgets below are the job counts of the same calls on the same
  // fixture and session (local[4], 4 shuffle partitions) at commit
  // e44ba58, where each loop released its round state by hand: the
  // ported loops may run fewer jobs, never more. k-core's is its count
  // since its stop test reads "no vertex below k" off the pinned peel
  // (30 before, with a no-op confirmation peel and a count per round).
  private val LpaJobs = 20
  private val KCoreJobs = 22
  private val KTrussJobs = 116
  private val HyperAnfJobs = 31

  test("LPA: the rounds stay within the hand-released loop's job count") {
    val snap = TpchGraph.snapshot(spark, dir)
    GraphXTraversal.pairEdges(snap, 30.0).count() // the memoized pair graph, untraced
    // rounds = 3: a key no other caller memoizes
    val ran = traced(GraphXTraversal.communitiesLpaDF(spark, snap, rounds = 3).collect())
    assertJobs(ran, rounds = 3, budget = LpaJobs)
  }

  test("k-core: the peel stays within the hand-released loop's job count") {
    val snap = TpchGraph.snapshot(spark, dir)
    val pairs = GraphXTraversal.pairEdges(snap, 30.0)
    pairs.count()
    val ran = traced(GraphXTraversal.kCorePeel(pairs, 12, 12).collect())
    assertJobs(ran, rounds = 3, budget = KCoreJobs)
  }

  test("k-truss: the peel stays within the hand-released loop's job count") {
    val snap = TpchGraph.snapshot(spark, dir)
    val pairs = GraphXTraversal.pairEdges(snap, 30.0)
    pairs.count()
    // the budget includes each peel round's one (t2, t3) exchange of the
    // u-partitioned oriented frame under the closing semi-join probe
    val ran = traced(GraphXTraversal.kTrussPeel(pairs, 4, 8).collect())
    assertJobs(ran, rounds = 3, budget = KTrussJobs)
  }

  test("HyperANF: the systolic rounds stay within the hand-released loop's job count") {
    val snap = TpchGraph.snapshot(spark, dir)
    HyperAnf.anfWidth(snap, DagLabels) // the memoized label-edge count, untraced
    // hops = 4: a key no other caller memoizes
    val ran = traced(HyperAnf.hyperAnfDF(spark, snap, hops = 4, DagLabels).collect())
    assertJobs(ran, rounds = 4, budget = HyperAnfJobs)
  }
}
