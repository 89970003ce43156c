package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.Exchange
import graft.graph.GraftGraph
import graft.log.{BulkFactStore, FactLog}
import graft.model.{A, PropType}
import graft.snapshot.Snapshot
import graft.temporal.VersionChains

/** The per-request costs of a temporal read: pins enter generated code as
  * bound parameters, so reads at different pins share one compiled class,
  * and the driver-resident log is one partition, so latest-wins over it
  * needs no exchange. */
class TemporalReadPathSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** A history of 3 vertices, 2 edges, property rewrites and removals:
    * txs 0..head, with every element touched again and again. */
  private def history(): GraftGraph = {
    val g = new GraftGraph(spark)
    val vs = (1 to 3).map(_ => g.addVertex())
    val es = Seq(g.addEdge(vs(0), vs(1), "a"), g.addEdge(vs(1), vs(2), "b"))
    (1 to 20).foreach { i =>
      vs(i % 3).setProperty("p", i.toLong)
      es(i % 2).setProperty("w", i.toLong)
      if (i % 7 == 0) vs(i % 3).removeProperty("p")
    }
    g.removeEdge(es(0))
    vs(0).setProperty("p", 99L)
    g
  }

  /** Runs `df` itself (so its adaptive plan is final) and keys each row's
    * values by column name. */
  private def rows(df: DataFrame): Set[Map[String, Any]] =
    df.collect().map(_.getValuesMap[Any](df.columns.toSeq)).toSet

  /** Whole-stage sources of the plan that ran (the final adaptive plan
    * once `df` has been collected). */
  private def codegen(df: DataFrame): Seq[String] =
    codegenStringSeq(df.queryExecution.executedPlan).map(_._2)

  private def bucketBounds(plan: SparkPlan): Seq[(String, Long)] =
    collect(plan) { case s: FileSourceScanExec => s }.flatMap(_.partitionFilters).collect {
      case LessThanOrEqual(l, Literal(b, _)) if l.references.exists(_.name == "txBucket") =>
        "<=" -> b.toString.toLong
      case GreaterThanOrEqual(l, Literal(b, _)) if l.references.exists(_.name == "txBucket") =>
        ">=" -> b.toString.toLong
    }

  test("reads at different pins share generated code; rows and bucket pruning unchanged") {
    val g = history()
    val head = g.log.headTx
    assert(head > 40)
    val dir = Files.createTempDirectory("graftpins").toString
    val size = 10L
    g.log.save(dir, txBucketSize = size)
    val durable = Snapshot.head(FactLog.open(spark, dir))
    val mem = Snapshot.head(g.log)
    // (name, read at a pin pair, expected literal bucket bounds)
    val shapes: Seq[(String, (Snapshot, Long, Long) => DataFrame, (Long, Long) => Seq[(String, Long)])] = Seq(
      ("since", (s, p, _) => s.since(p), (p, _) => Seq(">=" -> p / size)),
      ("asOfTxId.prop", (s, p, _) => s.asOfTxId(p).prop("p", PropType.PLong, A.Vertex),
        (p, _) => Seq("<=" -> p / size)),
      ("fused differenceFacts", (s, p, q) => s.asOfTxId(p).differenceFacts(s.asOfTxId(q)),
        (p, _) => Seq("<=" -> p / size)))
    for ((name, read, bounds) <- shapes) {
      val sources = Seq((37L, 14L), (26L, 5L)).map { case (p, q) =>
        val df = read(durable, p, q)
        val got = rows(df)
        assert(got == rows(read(mem, p, q)), s"$name at ($p, $q): rows differ from the MemFactLog read")
        assert(got.nonEmpty, s"$name at ($p, $q): empty answer proves nothing")
        assert(bucketBounds(df.queryExecution.executedPlan) == bounds(p, q),
          s"$name at ($p, $q): literal bucket bounds missing from PartitionFilters")
        codegen(df)
      }
      assert(sources.head.nonEmpty, s"$name: no whole-stage codegen")
      assert(sources.head == sources(1), s"$name: generated code differs between pins")
    }
  }

  test("latest-wins over a MemFactLog snapshot plans no exchange; rows unchanged") {
    val g = history()
    val log = g.log
    // the same log as a multi-partition bulk store: the shuffled reference
    val spread = new BulkFactStore(spark,
      spark.createDataset(log.allFacts).toDF().repartition(4),
      spark.createDataset(log.allTouches).toDF().repartition(4),
      spark.createDataset(log.allTxs).toDF().repartition(4))
    def noExchange(df: DataFrame, what: String): Unit = {
      df.collect()
      val exchanges = collect(df.queryExecution.executedPlan) { case e: Exchange => e }
      assert(exchanges.isEmpty, s"$what plans an exchange:\n${df.queryExecution.executedPlan}")
    }
    for (pin <- Seq(Long.MaxValue, 30L, 12L)) {
      val (m, r) = (new Snapshot(log, pin), new Snapshot(spread, pin))
      noExchange(m.currentFacts, s"currentFacts at $pin")
      noExchange(m.edges, s"edges at $pin")
      assert(rows(m.prop("p", PropType.PLong, A.Vertex)) == rows(r.prop("p", PropType.PLong, A.Vertex)),
        s"prop at $pin")
      assert(rows(m.edges) == rows(r.edges), s"edges at $pin")
    }
    noExchange(VersionChains.chains(log), "VersionChains.chains")
    assert(rows(VersionChains.chains(log)) == rows(VersionChains.chains(spread)))
    assert(rows(VersionChains.chains(log)).size == log.allTouches.size)
  }
}
