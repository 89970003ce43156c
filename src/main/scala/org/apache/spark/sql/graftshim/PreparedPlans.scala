package org.apache.spark.sql.graftshim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  PartitioningCollection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => Classic}
import org.apache.spark.sql.execution.{LeafExecNode, LogicalRDD, QueryExecution, RDDScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

/** Physical plans prepared once and run many times, each time over new
  * input rows: the fixed-dataflow round of an iterative loop. Planning
  * goes through the non-adaptive preparation rules (the ones Spark uses
  * for subquery plans), so the exchanges, join strategies and partition
  * counts are decided once and never re-adapted while a round runs; the
  * session's own AQE switch is read, never set. The planner and
  * `LogicalRDD`'s statistics arguments are `private[sql]`, so the bridge
  * lives in this package. */
object PreparedPlans {

  /** A frame standing for a loop's state: the columns of `schema`, all
    * nullable, declaring `HashPartitioning(key, width)` over `width` empty
    * partitions, with no statistics and no constraints — so nothing the
    * optimizer infers from the rows that will replace it (a predicate
    * that held in round 0, say) is planned into the rounds. */
  def placeholder(spark: SparkSession, schema: StructType, key: String, width: Int): DataFrame = {
    val session = spark.asInstanceOf[Classic]
    val rdd = session.sparkContext.parallelize(Seq.empty[InternalRow], width)
    declared(session, schema.asNullable, rdd, key, width)
  }

  /** `rdd`, rows of `schema` already hash-partitioned on the column `key`
    * into `width` partitions, as a frame that declares that layout, with
    * no statistics and no constraints. Runs nothing. */
  def declared(spark: SparkSession, schema: StructType, rdd: RDD[InternalRow],
               key: String, width: Int): DataFrame = {
    val session = spark.asInstanceOf[Classic]
    val output = DataTypeUtils.toAttributes(schema)
    val Seq(k) = output.filter(_.name == key)
    Dataset.ofRows(session, LogicalRDD(output, rdd, HashPartitioning(Seq(k), width))(session))
  }

  /** `df` analyzed, optimized and planned once, without adaptive
    * execution: a physical plan that can be executed again and again. */
  def prepare(df: DataFrame): SparkPlan = {
    val session = df.sparkSession.asInstanceOf[Classic]
    session.withActive(QueryExecution.prepareExecutedPlan(session, df.queryExecution.optimizedPlan))
  }

  /** Whether `plan`'s rows come out hash-partitioned on its column `key`
    * into `width` partitions. */
  def hashPartitioned(plan: SparkPlan, key: String, width: Int): Boolean = {
    val k = plan.output.filter(_.name == key)
    def on(p: Partitioning): Boolean = p match {
      case h: HashPartitioning =>
        h.numPartitions == width && h.expressions.length == 1 &&
          k.exists(_.semanticEquals(h.expressions.head))
      case PartitioningCollection(ps) => ps.exists(on)
      case _ => false
    }
    on(plan.outputPartitioning)
  }

  /** Copies of `plan`'s rows, one new RDD per call, with every scan of
    * the frame `leaf` reading an RDD of its own from `input()`. Lazy:
    * builds RDD lineage and runs no job. Each exchange of `plan` (and
    * everything below it) is built once, here, so its stage runs once
    * however many copies read it; the operators above the exchanges are
    * new instances in every copy. An RDD that one task computes twice —
    * a state read twice in one round, say — thus never shares operator
    * state (a sort's buffer) between the two computations. */
  def rows(plan: SparkPlan, leaf: DataFrame, input: () => RDD[InternalRow]): () => RDD[InternalRow] = {
    val session = leaf.sparkSession.asInstanceOf[Classic]
    val from = leaf.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    // plan nodes capture the active session when built, copies included
    def substituted(p: SparkPlan): SparkPlan = session.withActive(p.transformUp {
      case s: RDDScanExec if s.rdd eq from => s.copy(rdd = input())
    })
    val above = session.withActive(plan.transformDown {
      case e: Exchange => BuiltExchange(substituted(e))
    })
    () => session.withActive(substituted(above.clone()).execute())
  }
}

/** An exchange of a prepared plan, built once: every copy of the plan
  * above it reads the same shuffle (or broadcast), so its stage runs
  * once. */
final case class BuiltExchange(exchange: SparkPlan) extends LeafExecNode {
  override def output: Seq[Attribute] = exchange.output
  override def outputPartitioning: Partitioning = exchange.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = exchange.execute()
  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = exchange.executeBroadcast[T]()
}
