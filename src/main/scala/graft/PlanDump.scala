package graft

import org.apache.spark.sql.SparkSession
import graft.gx.RoundSteps.Step

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
    // checkpointing ops show only a LogicalRDD once executed — expose
    // their PRE-checkpoint plans under dedicated names
    def docs = spark.read.parquet(s"$dir/documents.parquet")
    val inner: Map[String, () => Step] = Map(
      "decontaminate_inner" -> (() => Step(graft.pipeline.TextOps.decontaminate(
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 25 =!= 0),
        docs.where(org.apache.spark.sql.functions.col("doc_id") % 25 === 0),
        n = 3, checkpoint = false))),
      "unigram_logprob_inner" -> (() =>
        Step(graft.pipeline.TextOps.unigramLogProb(docs, checkpoint = false))),
      "bm25_scores_inner" -> (() => Step(graft.pipeline.TextOps.bm25Scores(
        docs, Seq("spark", "join", "window"), checkpoint = false)))) ++
      // iterative operators' per-round plans (r15 evidence tooling): the
      // registered queries return checkpointed results, so the inner
      // Exchange placement is only visible through these
      graft.gx.RoundSteps.steps.map { case (n, fn) =>
        n -> (() => fn(spark, graft.projection.TpchGraph.snapshot(spark, dir)))
      }
    // SPARK_GRAFT_PLAN_MODE=formatted emits `explain("formatted")` text
    // (operator list + details: PushedFilters/ReadSchema/join build side)
    // — the shape the r14 plan-evidence files under plans/ record.
    // SPARK_GRAFT_PLAN_MODE=codegen runs each step and prints the
    // whole-stage sources it compiled: a value inlined as a literal shows
    // up here as a per-parameter recompile.
    val mode = sys.env.getOrElse("SPARK_GRAFT_PLAN_MODE", "")
    names.foreach { n =>
      println(s"==== $n ====")
      val step = inner.get(n).map(_.apply())
        .getOrElse(Step(SparkEntry.queries(n)(spark, dir)))
      println(if (mode == "codegen") codegenText(step)
              else planText(step, mode == "formatted"))
    }
    spark.stop()
  }

  /** The step's plan text; its staging checkpoints are released once the
    * text is captured, since nothing reads them afterwards. */
  private[graft] def planText(step: Step, formatted: Boolean): String =
    try {
      if (formatted)
        step.df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      else step.df.queryExecution.executedPlan.toString
    } finally step.release()

  /** Runs the step (so an adaptive plan is final) and returns every
    * whole-stage subtree with its generated source
    * (`debug.codegenStringSeq`); staging is released as in [[planText]]. */
  private[graft] def codegenText(step: Step): String =
    try {
      step.df.queryExecution.toRdd.count()
      val stages = org.apache.spark.sql.execution.debug
        .codegenStringSeq(step.df.queryExecution.executedPlan)
      stages.zipWithIndex.map { case ((subtree, code, _), i) =>
        s"== Subtree ${i + 1} / ${stages.size} ==\n$subtree\nGenerated code:\n$code"
      }.mkString(s"Found ${stages.size} WholeStageCodegen subtrees.\n", "\n", "")
    } finally step.release()
}
