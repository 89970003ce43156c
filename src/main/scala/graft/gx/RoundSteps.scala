package graft.gx

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.snapshot.Snapshot
import graft.util.LruMemo

/** EVIDENCE TOOLING (r15, closing the r14 verdict's plan-evidence gap):
  * ONE un-fused round/step of each iterative operator, built over the
  * SAME shared checkpointed frames the real loops use, for PlanDump —
  * the registered queries' final plans show only a checkpointed result
  * scan, so the per-round Exchange placement (whether a round
  * re-exchanges a frame GraphXTraversal.partitionedCheckpoint declared
  * hash-partitioned on its join key) is invisible without these. The
  * PageRank, SSSP and HyperANF steps call their loops' own round bodies;
  * the others mirror theirs verbatim. None is registered as a query and
  * none is reachable from Bench/Verify. PlanDump runs a step before it
  * prints the plan, so the dump is the final adaptive plan. Each returns a [[Step]]: the frame plus the staging
  * checkpoints it pinned (the shared memoized frames stay with their
  * memos), released once the plan text is captured. */
private[graft] object RoundSteps {

  /** A step frame and the step-owned staging checkpoints behind it. */
  final case class Step(df: DataFrame, staging: Seq[DataFrame] = Nil) {
    def release(): Unit = staging.foreach(LruMemo.releaseCheckpoint)
  }

  private val DagLabels = Seq("placed", "contains", "supplied_by")
  private val Landmarks = Seq(4000001L, 4000002L, 4000003L)

  /** One relational PageRank round over the shared contribEdges /
    * vertexFrame checkpoints (pageRankRounds' own body, ranks seeded
    * uniform like round 1 of the global variant). */
  def pagerankRound(spark: SparkSession, snap: Snapshot): Step = {
    val verts = GraphXTraversal.vertexFrame(snap)
    val ranks = GraphXTraversal.pageRankStart(verts, None)
    Step(GraphXTraversal.pageRankRound(GraphXTraversal.contribEdges(snap), verts, ranks, None),
      Seq(ranks))
  }

  /** One random-walk step over the partitioned edge checkpoint (mirrors
    * randomWalksDF's per-step body at t = 1). */
  def walkStep(spark: SparkSession, snap: Snapshot): Step = {
    val edges = GraphXTraversal.partitionedCheckpoint(
      snap.edges.select(col("outV").as("v"), col("inV").as("u")), "v")
    val frontier = edges.select(col("v")).distinct()
      .where(col("v") >= 3000000L && col("v") < 4000000L)
      .select(col("v").as("walk_id"), col("v"))
      .localCheckpoint(true)
    Step(frontier.join(edges, "v")
      .select(col("walk_id"), col("u"),
        md5(concat_ws(":", col("walk_id"), lit(1), col("u"))).as("h"))
      .groupBy(col("walk_id"))
      .agg(min(struct(col("h"), col("u"))).as("m"))
      .select(col("walk_id"), col("m.u").as("v")),
      Seq(edges, frontier))
  }

  /** One synchronous LPA round over the lpaEdges frame (mirrors
    * lpaRounds' loop body with the round-0 labeling). */
  def lpaRound(spark: SparkSession, snap: Snapshot): Step = {
    val g = GraphXTraversal.pairGraph(snap, 30.0)
    val pairs = spark.createDataFrame(
      g.edges.map(e => (e.srcId, e.dstId))).toDF("a", "b")
    val ed = GraphXTraversal.lpaEdges(pairs)
    val labels = ed.select(col("x").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
      .localCheckpoint(true)
    val counts = ed.join(labels.select(col("v").as("y"), col("lbl")), "y")
      .groupBy(col("x").as("v"), col("lbl"))
      .agg(count(lit(1)).as("c"))
    Step(counts.groupBy(col("v"))
      .agg(min_by(col("lbl"),
        struct((-col("c")).as("nc"), col("lbl").as("l"))).as("lbl")),
      Seq(ed, labels))
  }

  /** One Bellman–Ford relaxation round over the memoized weighted edge
    * frame (ssspWeightedDF's own body, from the round-0 distances). */
  def ssspRound(spark: SparkSession, snap: Snapshot): Step = {
    val edges = GraphXTraversal.weightedEdges(snap, DagLabels)
    val width = GraphXTraversal.sessionWidth(spark)
    val dist = GraphXTraversal.ssspStart(edges, Landmarks, width)
    Step(GraphXTraversal.ssspRound(edges, dist, width), Seq(dist))
  }

  /** One HyperANF systolic round over the anfEdges frame and the
    * round-0 registers, both partitioned at the operator's own width
    * (calls the extracted bodies). */
  def hyperanfRound(spark: SparkSession, snap: Snapshot): Step = {
    val width = HyperAnf.anfWidth(snap, DagLabels)
    val edges = HyperAnf.anfEdges(snap, DagLabels, width)
    val regs = GraphXTraversal.partitionedCheckpoint(HyperAnf.anfRegs0(edges), "v", width)
    Step(HyperAnf.anfRound(edges, regs, width), Seq(edges, regs))
  }

  /** One k-core peel round over the checkpointed pair-edge frame
    * (mirrors kCorePeel's loop body, k = 12). */
  def kcoreRound(spark: SparkSession, snap: Snapshot): Step = {
    val g = GraphXTraversal.pairGraph(snap, 30.0)
    val pairs = spark.createDataFrame(
      g.edges.map(e => (e.srcId, e.dstId))).toDF("a", "b")
    val edges = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val alive = deg.where(col("d") >= 12).select(col("v"))
    Step(edges
      .join(alive.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(alive.select(col("v").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b")),
      Seq(edges))
  }

  /** One k-truss support round over the checkpointed pair-edge frame
    * (kTrussPeel's per-round core is exactly edgeSupport). */
  def ktrussRound(spark: SparkSession, snap: Snapshot): Step = {
    val g = GraphXTraversal.pairGraph(snap, 30.0)
    val pairs = spark.createDataFrame(
      g.edges.map(e => (e.srcId, e.dstId))).toDF("a", "b")
    val edges = pairs.select(col("a"), col("b")).localCheckpoint(true)
    Step(GraphXTraversal.edgeSupport(edges)
      .where(col("support") >= 2).select(col("a"), col("b")),
      Seq(edges))
  }

  /** One forward σ round of the landmark-betweenness sweep (mirrors
    * betweennessLandmarksDF's level-1 body over the persisted tree). */
  def betweennessRound(spark: SparkSession, snap: Snapshot): Step = {
    val sp = GraphXTraversal.shortestPathsDF(spark, snap, Landmarks, DagLabels)
    val e = snap.edges.where(col("label").isin(DagLabels: _*))
      .select(col("outV").as("u"), col("inV").as("w"))
    val tree = e
      .join(sp.select(col("vertex_id").as("u"), col("landmark_id").as("lm"),
        col("dist").as("du")), "u")
      .join(sp.select(col("vertex_id").as("w2"), col("landmark_id").as("lm2"),
        col("dist").as("dw")),
        col("w") === col("w2") && col("lm") === col("lm2"))
      .where(col("dw") === col("du") - 1)
      .select(col("u"), col("w"), col("lm"), col("du"))
    val prev = sp.where(col("dist") === 0)
      .select(col("vertex_id").as("pw"), col("landmark_id").as("plm"),
        lit(1L).as("psigma"))
    Step(tree.where(col("du") === 1)
      .join(prev, col("w") === col("pw") && col("lm") === col("plm"))
      .groupBy(col("u"), col("lm"))
      .agg(sum(col("psigma")).as("sigma"))
      .select(col("u").as("v"), col("lm"), col("sigma")))
  }

  /** Registry for PlanDump: name → round-step frame builder. */
  val steps: Map[String, (SparkSession, Snapshot) => Step] = Map(
    "pagerank_round" -> pagerankRound,
    "walk_step" -> walkStep,
    "lpa_round" -> lpaRound,
    "sssp_round" -> ssspRound,
    "hyperanf_round" -> hyperanfRound,
    "kcore_round" -> kcoreRound,
    "ktruss_round" -> ktrussRound,
    "betweenness_round" -> betweennessRound)
}
