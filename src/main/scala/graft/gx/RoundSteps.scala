package graft.gx

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.snapshot.Snapshot
import graft.util.{LruMemo, PreparedRounds}

/** EVIDENCE TOOLING (r15, closing the r14 verdict's plan-evidence gap):
  * ONE round/step of each iterative operator, built over the
  * SAME shared checkpointed frames the real loops use, for PlanDump —
  * the registered queries' final plans show only a checkpointed result
  * scan, so the per-round Exchange placement (whether a round
  * re-exchanges a frame GraphXTraversal.partitionedCheckpoint declared
  * hash-partitioned on its join key) is invisible without these. Every
  * step calls its loop's own round body on the loop's own start state.
  * None is registered as a query and none is reachable from
  * Bench/Verify. PlanDump runs a step before it prints the plan, so the
  * dump is the final adaptive plan. Each returns a [[Step]]: the frame
  * plus the staging checkpoints it pinned (the shared memoized frames
  * stay with their memos), released once the plan text is captured.
  * The loops planned once are listed apart ([[prepared]]): their
  * template is the round that runs. */
private[graft] object RoundSteps {

  /** A step frame and the step-owned staging checkpoints behind it. */
  final case class Step(df: DataFrame, staging: Seq[DataFrame] = Nil) {
    def release(): Unit = staging.foreach(LruMemo.releaseCheckpoint)
  }

  private val DagLabels = Seq("placed", "contains", "supplied_by")
  private val Landmarks = Seq(4000001L, 4000002L, 4000003L)

  /** Random-walk step 1 over the partitioned edge checkpoint. */
  def walkStep(spark: SparkSession, snap: Snapshot): Step = {
    val edges = GraphXTraversal.walkEdges(snap)
    val frontier = GraphXTraversal.walkStart(edges, 3000000L, 4000000L).localCheckpoint(true)
    Step(GraphXTraversal.walkStep(edges, frontier, 1), Seq(edges, frontier))
  }

  /** One synchronous LPA round over the lpaEdges frame, from the round-0
    * labeling. */
  def lpaRound(spark: SparkSession, snap: Snapshot): Step = {
    val ed = GraphXTraversal.lpaEdges(GraphXTraversal.pairEdges(snap, 30.0))
    val labels = GraphXTraversal.lpaStart(ed).localCheckpoint(true)
    Step(GraphXTraversal.lpaRound(ed, labels), Seq(ed, labels))
  }

  /** One HyperANF systolic round over the anfEdges frame and the
    * round-0 registers, both partitioned at the operator's own width. */
  def hyperanfRound(spark: SparkSession, snap: Snapshot): Step = {
    val width = HyperAnf.anfWidth(snap, DagLabels)
    val edges = HyperAnf.anfEdges(snap, DagLabels, width)
    val regs = GraphXTraversal.partitionedCheckpoint(HyperAnf.anfRegs0(edges), "v", width)
    Step(HyperAnf.anfRound(edges, regs, width), Seq(edges, regs))
  }

  /** One k-core peel (k = 12) over the checkpointed pair-edge frame. */
  def kcoreRound(spark: SparkSession, snap: Snapshot): Step = {
    val edges = GraphXTraversal.pairEdges(snap, 30.0).localCheckpoint(true)
    Step(GraphXTraversal.kcoreRound(edges, 12), Seq(edges))
  }

  /** The first k-truss support round (k = 4) from the loop's start
    * state, over the staged oriented frame the round pins. */
  def ktrussRound(spark: SparkSession, snap: Snapshot): Step = {
    val start = GraphXTraversal.ktrussStart(GraphXTraversal.pairEdges(snap, 30.0), 2)
      .localCheckpoint(true)
    val oriented = Seq.newBuilder[DataFrame]
    val round = GraphXTraversal.ktrussRound(start, 2, o => { oriented += o; o })
    Step(round, oriented.result() :+ start)
  }

  /** The level-1 forward σ round of the landmark-betweenness sweep, over
    * the unstaged tree. */
  def betweennessRound(spark: SparkSession, snap: Snapshot): Step = {
    val sp = GraphXTraversal.shortestPathsDF(spark, snap, Landmarks, DagLabels)
    Step(GraphXTraversal.sigmaLevel(GraphXTraversal.betweennessTree(snap, sp, DagLabels),
      GraphXTraversal.sigmaStart(sp), 1))
  }

  /** Registry for PlanDump: name → round-step frame builder. */
  val steps: Map[String, (SparkSession, Snapshot) => Step] = Map(
    "walk_step" -> walkStep,
    "lpa_round" -> lpaRound,
    "hyperanf_round" -> hyperanfRound,
    "kcore_round" -> kcoreRound,
    "ktruss_round" -> ktrussRound,
    "betweenness_round" -> betweennessRound)

  /** The loops planned once ([[graft.util.PreparedRounds]]), whose
    * template IS the round that runs: the global PageRank loop over the
    * shared contribEdges / vertexFrame checkpoints, and the relaxation
    * loop over the memoized weighted edges. Nothing is pinned. */
  val prepared: Map[String, (SparkSession, Snapshot) => PreparedRounds] = Map(
    "pagerank_round" -> ((_, snap) => GraphXTraversal.pageRankLoop(
      GraphXTraversal.contribEdges(snap), GraphXTraversal.vertexFrame(snap), None)),
    "sssp_round" -> ((spark, snap) => GraphXTraversal.ssspLoop(
      GraphXTraversal.weightedEdges(snap, DagLabels), Landmarks, GraphXTraversal.sessionWidth(spark))))
}
