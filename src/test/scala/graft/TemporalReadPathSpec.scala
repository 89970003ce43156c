package graft

import java.nio.file.{Files, Paths}
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import graft.graph.GraftGraph
import graft.log.{BulkFactStore, FactLog, MemFactLog}
import graft.model.{A, Fact, PropType, Touch}
import graft.snapshot.Snapshot
import graft.temporal.VersionChains

/** The per-request costs of a temporal read: pins enter generated code as
  * bound parameters, so reads at different pins share one compiled class;
  * the driver-resident log is one partition, encoded once, so latest-wins
  * over it needs no exchange and a read encodes only new facts; and the
  * durable log is bucketed by entity, so per-entity reads over it need no
  * shuffle. */
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

  /** The reads of the snapshot and temporal layers that group, join or
    * window by entity, at a pin pair. */
  private val entityReads: Seq[(String, (Snapshot, Long, Long) => DataFrame)] = Seq(
    ("asOfTxId.prop", (s, p, _) => s.asOfTxId(p).prop("p", PropType.PLong, A.Vertex)),
    ("prop join prop", (s, p, q) => s.asOfTxId(p).prop("p", PropType.PLong, A.Vertex)
      .join(s.asOfTxId(q).prop("p", PropType.PLong, A.Vertex).withColumnRenamed("v", "v2"), "e")),
    ("fused differenceFacts", (s, p, q) => s.asOfTxId(p).differenceFacts(s.asOfTxId(q))),
    ("VersionChains.chains", (s, _, _) => VersionChains.chains(s.store)))

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  test("a bucketed durable log plans per-entity reads without a shuffle; rows unchanged") {
    val g = history()
    val mem = Snapshot.head(g.log)
    val rnd = new Random(5)
    for (n <- Seq(1, 3)) {
      val store = FactLog.open(spark, TestSpark.savedWithBuckets(g.log, n, txBucketSize = 10L))
      val durable = Snapshot.head(store)
      for ((name, read) <- entityReads; _ <- 1 to 3) {
        val (p, q) = (rnd.nextInt(g.log.headTx.toInt + 1).toLong, rnd.nextInt(g.log.headTx.toInt + 1).toLong)
        val df = read(durable, p, q)
        val got = rows(df)
        assert(got == rows(read(mem, p, q)), s"$name at ($p, $q), $n buckets: rows differ from the MemFactLog read")
        assert(shuffles(df).isEmpty,
          s"$name at ($p, $q), $n buckets: shuffle over the log:\n${df.queryExecution.executedPlan}")
      }
    }
  }

  test("a store saved in the tx-partitioned layout without buckets still opens; rows unchanged") {
    val g = history()
    val dir = Files.createTempDirectory("graftunbucketed").toString
    g.log.factsDF.withColumn("txBucket", expr("tx div 10"))
      .write.partitionBy("txBucket").parquet(s"$dir/facts")
    g.log.touchesDF.write.parquet(s"$dir/touches")
    g.log.txsDF.write.parquet(s"$dir/txs")
    Files.write(Paths.get(dir, "_graft_meta"), "txBucketSize=10\npreDeduped=false\n".getBytes("UTF-8"))
    val store = FactLog.open(spark, dir)
    assert(store.txBucketSize.contains(10L))
    val scans = collect(store.factsDF.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.relation.bucketSpec.isEmpty))
    val (durable, mem) = (Snapshot.head(store), Snapshot.head(g.log))
    for ((name, read) <- entityReads; (p, q) <- Seq((37L, 14L), (12L, 30L))) {
      assert(rows(read(durable, p, q)) == rows(read(mem, p, q)), s"$name at ($p, $q)")
    }
    assert(rows(durable.since(20L)) == rows(mem.since(20L)))
    // the contrast the bucketed layout removes: latest-wins shuffles here
    assert(shuffles(durable.asOfTxId(37L).prop("p", PropType.PLong, A.Vertex)).nonEmpty)
  }

  test("empty facts and touches tables round-trip through the bucketed layout") {
    val log = new MemFactLog(spark)
    val empty = FactLog.open(spark, TestSpark.savedWithBuckets(log, 1))
    assert(empty.factsDF.count() == 0 && empty.touchesDF.count() == 0 && empty.headTx == -1L)
    assert(Snapshot.head(empty).currentFacts.count() == 0)
    // facts but no touches: a bucketed write of the empty touches frame
    // leaves no file, so the reader must not need one for the schema
    (1 to 5).foreach(_ => log.commit(Seq(Fact.of(log.newEntityId(), A.ElementType, A.Vertex, 0L))))
    val store = FactLog.open(spark, TestSpark.savedWithBuckets(log, 1))
    assert(store.touchesDF.count() == 0)
    assert(store.touchesDF.schema.fieldNames.toSeq ==
      org.apache.spark.sql.Encoders.product[Touch].schema.fieldNames.toSeq)
    assert(rows(Snapshot.head(store).currentFacts) == rows(Snapshot.head(log).currentFacts))
    assert(VersionChains.chains(store).count() == 0)
  }

  test("a MemFactLog read encodes only the facts committed since the previous read") {
    val log = history().log
    val first = log.factsDF
    val (seen, n0) = (log.encodedFacts, first.count())
    assert(seen == log.allFacts.size)
    (1 to 7).foreach(_ => log.commit(Seq(Fact.of(log.newEntityId(), A.ElementType, A.Vertex, 0L))))
    val next = log.factsDF
    assert(log.encodedFacts - seen == 7)
    log.factsDF
    assert(log.encodedFacts - seen == 7, "a read with no new commits encoded rows")
    // a frame keeps the rows of its read; later commits do not leak in
    assert(first.count() == n0 && next.count() == n0 + 7)
    assert(next.collect().toSeq == spark.createDataset(log.allFacts).toDF().collect().toSeq)
  }
}
