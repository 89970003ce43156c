package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainUtils, FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.gx.RoundSteps.Step
import graft.pipeline.TextOps
import graft.util.LruMemo

/** Dev tool: print the executed plan of named registered queries —
  * `runMain graft.PlanDump <sfDir> <query1,query2,...>`. The curated
  * excerpts in PLANS.md are captured with this. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", graft.functions.GraftExtensions.configValue)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLAN_MODE=formatted emits `explain("formatted")` text
    // (operator list + details: PushedFilters/ReadSchema/join build side)
    // — the shape the r14 plan-evidence files under plans/ record.
    // SPARK_GRAFT_PLAN_MODE=codegen runs each step and prints the
    // whole-stage sources it compiled: a value inlined as a literal shows
    // up here as a per-parameter recompile.
    val mode = sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "")
    names.foreach { n =>
      println(s"==== $n ====")
      println(text(spark, dir, n, mode))
    }
    spark.stop()
  }

  // checkpointing ops show only a LogicalRDD once executed — these names
  // print the plan of the operator's own last localCheckpoint action
  // instead ([[lastCheckpointPlan]]): the final plan of the real call,
  // reading its staged frames
  private val inner: Map[String, (SparkSession, String) => DataFrame] = {
    def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
    Map(
      "decontaminate_inner" -> ((s, d) => TextOps.decontaminate(
        docs(s, d).where(col("doc_id") % 25 =!= 0),
        docs(s, d).where(col("doc_id") % 25 === 0), n = 3)),
      "unigram_logprob_inner" -> ((s, d) => TextOps.unigramLogProb(docs(s, d))),
      "bm25_scores_inner" -> ((s, d) =>
        TextOps.bm25Scores(docs(s, d), Seq("spark", "join", "window"))),
      "local_bridges_inner" -> ((s, d) => graft.gx.GraphXTraversal.localBridges(
        s, graft.projection.TpchGraph.snapshot(s, d), 30.0)))
  }

  // `durable_` names: the sf dir's events store saved to a temp root and
  // reopened, then the read a temporal_mix request makes at inner pins
  private val durable: Map[String, (graft.log.BulkFactStore, Long) => DataFrame] = {
    import graft.model.{A, PropType}
    def at(log: graft.log.BulkFactStore, tx: Long) = graft.snapshot.Snapshot.head(log).asOfTxId(tx)
    Map(
      "durable_asof_prop" -> ((log, head) => at(log, head / 2).prop("value", PropType.PDouble, A.Vertex)
        .join(at(log, head / 2).prop("last_type", PropType.PString, A.Vertex).withColumnRenamed("v", "type"), "e")),
      "durable_diff" -> ((log, head) => at(log, head * 3 / 4).differenceFacts(at(log, head / 4))),
      "durable_chain" -> ((log, _) => graft.temporal.VersionChains.chains(log)
        .where(col("e") === graft.projection.EventsReplay.VUser + 1)))
  }

  /** The executed plan text printed for `name` in `mode` ("",
    * "formatted" or "codegen"): an `_inner` name, a `durable_` read, one of the
    * iterative operators' per-round [[graft.gx.RoundSteps]] (the
    * registered queries return checkpointed results, so the inner
    * Exchange placement is only visible through these), or a registered
    * query. Whatever the step pinned or wrote is released once the text
    * is captured. A loop planned once prints its round-0 plan and its
    * round template, the plans that run, unexecuted: they never change
    * at run time. */
  private[graft] def text(spark: SparkSession, dir: String, name: String,
                          mode: String): String =
    graft.gx.RoundSteps.prepared.get(name) match {
      case Some(loop) =>
        val prepared = loop(spark, graft.projection.TpchGraph.snapshot(spark, dir))
        Seq("start" -> prepared.start, "round" -> prepared.template)
          .map { case (part, plan) => s"== $part ==\n${planText(plan, mode)}" }.mkString("\n")
      case None => executedText(spark, dir, name, mode)
    }

  private def executedText(spark: SparkSession, dir: String, name: String,
                           mode: String): String = {
    val (qe, release) = inner.get(name) match {
      case Some(call) =>
        val (qe, result) = lastCheckpointPlan(spark)(call(spark, dir))
        (qe, () => LruMemo.releaseCheckpoint(result))
      case None if durable.contains(name) =>
        val root = java.nio.file.Files.createTempDirectory("graft_durable").toFile
        graft.projection.EventsReplay.build(spark, dir).save(root.toString)
        val log = graft.log.FactLog.open(spark, root.toString)
        (durable(name)(log, log.headTx).queryExecution,
          () => org.apache.commons.io.FileUtils.deleteDirectory(root))
      case None =>
        val step = graft.gx.RoundSteps.steps.get(name)
          .map(_(spark, graft.projection.TpchGraph.snapshot(spark, dir)))
          .getOrElse(Step(SparkEntry.queries(name)(spark, dir)))
        (step.df.queryExecution, () => step.release())
    }
    try {
      executed(qe)
      mode match {
        case "formatted" => qe.explainString(FormattedMode)
        case _ => planText(qe.executedPlan, mode)
      }
    } finally release()
  }

  private def planText(plan: SparkPlan, mode: String): String = mode match {
    case "codegen" => codegenText(plan)
    case "formatted" =>
      val out = new StringBuilder
      ExplainUtils.processPlan(plan, (s: String) => { out ++= s; () })
      out.toString
    case _ => plan.toString
  }

  /** Runs `qe` unless it already ran, so an adaptive plan is final: the
    * printed plan is the one AQE executed (its runtime join strategies
    * and partition counts), not the initial plan. */
  private def executed(qe: QueryExecution): Unit = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec if a.isFinalPlan =>
    case _ => qe.toRdd.count()
  }

  /** Runs `call` and returns the query execution of its LAST
    * `localCheckpoint` action — for an operator that ends in an eager
    * checkpoint, the final adaptive plan it actually ran — with the
    * call's result, whose checkpoint the caller releases. The listener
    * sees the action after it returns, so the bus is drained (bounded)
    * before reading it. */
  private[graft] def lastCheckpointPlan(spark: SparkSession)(
      call: => DataFrame): (QueryExecution, DataFrame) = {
    @volatile var last: QueryExecution = null
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") last = qe
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = call
      org.apache.spark.sql.graftshim.ListenerBus.drain(spark)
      require(last != null, "the call ran no localCheckpoint action")
      (last, result)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every whole-stage subtree of the (executed) plan with its generated
    * source (`debug.codegenStringSeq`). */
  private def codegenText(plan: SparkPlan): String = {
    val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
    stages.zipWithIndex.map { case ((subtree, code, _), i) =>
      s"== Subtree ${i + 1} / ${stages.size} ==\n$subtree\nGenerated code:\n$code"
    }.mkString(s"Found ${stages.size} WholeStageCodegen subtrees.\n", "\n", "")
  }
}
