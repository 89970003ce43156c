package graft.gx

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, LogicalRDD, ProjectExec,
  RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.projection.TpchGraph

/** Every round that reads a partitioned checkpoint: the staged scan
  * declares `HashPartitioning(key, width)` over an RDD of exactly
  * `width` partitions, and the round plan as it runs (the executed plan,
  * or a loop's prepared template) shuffles nothing straight out of that
  * scan (through per-row operators only) — at the
  * session's width and at a width the operator chose itself. */
class PartitionedCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val DagLabels = Seq("placed", "contains", "supplied_by")
  private def sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def relation(df: DataFrame): LogicalRDD =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => r
      case p => fail(s"not a checkpoint:\n$p")
    }

  private def assertDeclared(staged: DataFrame, key: String, width: Int): Unit = {
    val r = relation(staged)
    r.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), n) =>
        assert(a.name == key && n == width,
          s"declares hashpartitioning(${a.name}, $n), expected ($key, $width)")
      case p => fail(s"declares $p, expected hashpartitioning($key, $width)")
    }
    assert(r.rdd.getNumPartitions == width)
  }

  // the executed plan's nodes, adaptive wrappers and query stages opened
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  // checkpoint scans a node reads through per-row operators only
  private def rowScans(p: SparkPlan): Seq[Int] = p match {
    case s: RDDScanExec => Seq(s.rdd.id)
    case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec | _: InputAdapter =>
      p.children.flatMap(rowScans)
    case _ => Nil
  }

  /** Runs `round` and asserts each staged frame's layout, that the round
    * reads it, and that exactly `shuffled` of those reads feed a shuffle
    * (0 unless the round also reads the frame by another key). */
  private def assertRoundReuses(round: DataFrame,
                                staged: Seq[(DataFrame, String, Int)],
                                shuffled: Int = 0): Unit = {
    round.collect()
    assertPlanReuses(round.queryExecution.executedPlan, staged, shuffled)
  }

  /** [[assertRoundReuses]] over a physical plan as it runs. */
  private def assertPlanReuses(plan: SparkPlan, staged: Seq[(DataFrame, String, Int)],
                               shuffled: Int = 0): Unit = {
    val all = nodes(plan)
    val reads = all.collect { case s: RDDScanExec => s.rdd.id }
    val shuffledReads = all.collect { case e: ShuffleExchangeLike => e.child }.flatMap(rowScans)
    staged.foreach { case (df, key, width) =>
      assertDeclared(df, key, width)
      val id = relation(df).rdd.id
      assert(reads.count(_ == id) > shuffled, s"the round does not read the $key-partitioned frame:\n$plan")
      assert(shuffledReads.count(_ == id) == shuffled,
        s"the round re-exchanges the $key-partitioned frame:\n$plan")
    }
  }

  private def withStep(name: String)(check: RoundSteps.Step => Unit): Unit = {
    val step = RoundSteps.steps(name)(spark, TpchGraph.snapshot(spark, dir))
    try check(step) finally step.release()
  }

  test("an explicit width is declared and kept by a keyed join and aggregation") {
    val facts = spark.range(0, 200).select((col("id") % 17).as("k"), col("id").as("x"))
    val dim = spark.range(0, 17).select(col("id").as("k"), (col("id") * 3).as("y"))
    val expected = facts.join(dim, "k").groupBy(col("k")).agg(sum(col("x") * col("y")))
      .collect().toSet
    Seq(2, 3, 8).foreach { w =>
      val staged = GraphXTraversal.partitionedCheckpoint(facts, "k", w)
      try {
        val round = staged.join(dim, "k").groupBy(col("k")).agg(sum(col("x") * col("y")))
        assertRoundReuses(round, Seq((staged, "k", w)))
        assert(round.collect().toSet == expected)
      } finally graft.util.LruMemo.releaseCheckpoint(staged)
    }
  }

  test("an empty frame still checkpoints to the declared width") {
    val empty = GraphXTraversal.partitionedCheckpoint(
      spark.range(0, 10).where(col("id") < 0).select(col("id").as("k")), "k", 3)
    try {
      assertDeclared(empty, "k", 3)
      assert(empty.count() == 0)
    } finally graft.util.LruMemo.releaseCheckpoint(empty)
  }

  private def prepared(name: String): graft.util.PreparedRounds =
    RoundSteps.prepared(name)(spark, TpchGraph.snapshot(spark, dir))

  test("pagerank round: contribution edges and vertices keep their layout") {
    val snap = TpchGraph.snapshot(spark, dir)
    assertPlanReuses(prepared("pagerank_round").template, Seq(
      (GraphXTraversal.contribEdges(snap), "u", sessionWidth),
      (GraphXTraversal.vertexFrame(snap), "v", sessionWidth)))
  }

  test("SSSP round: the weighted edges keep their layout") {
    val snap = TpchGraph.snapshot(spark, dir)
    assertPlanReuses(prepared("sssp_round").template,
      Seq((GraphXTraversal.weightedEdges(snap, DagLabels), "dst", sessionWidth)))
  }

  test("LPA round: the symmetrized edges keep their layout") {
    withStep("lpa_round") { step =>
      assertRoundReuses(step.df, Seq((step.staging.head, "y", sessionWidth)))
    }
  }

  test("walk step: the walked edges keep their layout") {
    withStep("walk_step") { step =>
      assertRoundReuses(step.df, Seq((step.staging.head, "v", sessionWidth)))
    }
  }

  test("HyperANF round: edges and registers at the operator's own width") {
    val width = HyperAnf.anfWidth(TpchGraph.snapshot(spark, dir), DagLabels)
    assert(width != sessionWidth, "the case needs a width other than the session's")
    withStep("hyperanf_round") { step =>
      val Seq(edges, regs) = step.staging
      assertRoundReuses(step.df, Seq((edges, "dst", width), (regs, "v", width)))
    }
  }

  test("k-truss wedge join: both sides read the oriented edges in their layout") {
    val g = GraphXTraversal.pairGraph(TpchGraph.snapshot(spark, dir), 30.0)
    val edges = spark.createDataFrame(g.edges.map(e => (e.srcId, e.dstId)))
      .toDF("a", "b").localCheckpoint(true)
    val oriented = GraphXTraversal.partitionedCheckpoint(
      GraphXTraversal.orientedEdges(edges), "u")
    // both wedge sides read the frame as is; the closing semi-join
    // probes it by the (u, w) pair, a different key, so that read alone
    // is shuffled
    try assertRoundReuses(GraphXTraversal.edgeSupportFromOriented(edges, oriented),
      Seq((oriented, "u", sessionWidth)), shuffled = 1)
    finally Seq(edges, oriented).foreach(graft.util.LruMemo.releaseCheckpoint)
  }
}
