package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.PreparedPlans

/** A fixed-round loop whose round is planned once: `template` is the
  * round body's physical plan over a placeholder for the state (see
  * [[PreparedPlans.placeholder]]: the state's columns and declared
  * `HashPartitioning(key, width)`, no statistics, no constraints), and
  * round r is that same plan with the placeholder's scans reading round
  * r-1's rows — one fixed dataflow per superstep, as in Pregelix. `start`
  * is round 0's plan, read lazily. Both are planned without adaptive
  * execution, and both end hash-partitioned on `key` at `width` (a root
  * repartition the plan already satisfies adds no exchange).
  *
  * Nothing runs until an action reads [[result]]; that action's job then
  * runs each round as one stage. Loops that need an action between
  * rounds (a stop test, a per-round output) drive [[after]] from
  * [[Stage.iterate]]: each pinned round is then one job, planned never. */
private[graft] final class PreparedRounds private (
    val start: SparkPlan, val template: SparkPlan, leaf: DataFrame,
    val key: String, val width: Int) {

  // round n's rows, a new RDD per reader: round n's exchanges are built
  // once, each reading round n-1 through readers of its own
  private def rows(n: Int): () => RDD[InternalRow] =
    (1 to n).foldLeft(PreparedPlans.rows(start, leaf, () => sys.error("round 0 reads no state"))) {
      (prev, _) => PreparedPlans.rows(template, leaf, prev)
    }

  /** The state after `n` rounds, as a frame declaring its layout. Lazy:
    * nothing is pinned and no job has run. */
  def result(n: Int): DataFrame =
    PreparedPlans.declared(leaf.sparkSession, template.schema, rows(n)(), key, width)

  /** The round after `state`, this loop's state as a frame over an RDD
    * (a checkpoint, or [[result]]), as a frame declaring its layout.
    * Lazy, like [[result]]. */
  def after(state: DataFrame): DataFrame = {
    val rows = state.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    require(PreparedRounds.columns(state.schema) == PreparedRounds.columns(template.schema),
      s"the state is ${state.schema.simpleString}, the round reads ${template.schema.simpleString}")
    PreparedPlans.declared(leaf.sparkSession, template.schema,
      PreparedPlans.rows(template, leaf, () => rows)(), key, width)
  }
}

private[graft] object PreparedRounds {

  /** Plans `start` and one `round` over the placeholder, once. The body is
    * called exactly once; its result must have `start`'s columns, names
    * and types, in order. */
  def apply(start: DataFrame, key: String, width: Int)(
      round: DataFrame => DataFrame): PreparedRounds = {
    val leaf = PreparedPlans.placeholder(start.sparkSession, start.schema, key, width)
    def planned(df: DataFrame) = {
      val plan = PreparedPlans.prepare(df.repartition(width, col(key)))
      require(PreparedPlans.hashPartitioned(plan, key, width),
        s"planned as ${plan.outputPartitioning}, not hash-partitioned on $key at $width")
      plan
    }
    val template = planned(round(leaf))
    require(columns(template.schema) == columns(start.schema),
      s"the round returns ${template.schema.simpleString}, the state is ${start.schema.simpleString}")
    new PreparedRounds(planned(start), template, leaf, key, width)
  }

  private def columns(s: org.apache.spark.sql.types.StructType) = s.map(f => f.name -> f.dataType)
}
