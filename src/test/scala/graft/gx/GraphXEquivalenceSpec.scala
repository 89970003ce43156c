package graft.gx

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.IntegerType

import graft.TestSpark
import graft.pipeline.TextOps
import graft.projection.TpchGraph
import graft.util.LruMemo.releaseCheckpoint

/** The relational graph rounds against GraphX as the reference: connected
  * components, BFS, triangles and degrees give GraphX's rows, row for row,
  * on the fixture's subgraphs and on planted shapes. */
class GraphXEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val DagLabels = Seq("placed", "contains", "supplied_by")

  /** GraphX's graph over an (a, b) pair frame: edge endpoints only. */
  private def graphOf(pairs: DataFrame): Graph[Unit, Unit] =
    Graph.fromEdges(pairs.select("a", "b").rdd.map(r => Edge(r.getLong(0), r.getLong(1), ())), ())

  /** Runs `use` over GraphX's graph of `pairs`, then unpersists it. */
  private def withGraph[T](pairs: DataFrame)(use: Graph[Unit, Unit] => T): T = {
    val g = graphOf(pairs)
    try use(g) finally g.unpersist(blocking = false)
  }

  private def graphxComponents(pairs: DataFrame): Set[(Long, Long)] = withGraph(pairs) { g =>
    val cc = g.connectedComponents()
    try cc.vertices.collect().toSet finally cc.unpersist(blocking = false)
  }

  private def components(pairs: DataFrame): Set[(Long, Long)] = {
    val labels = GraphXTraversal.components(pairs)
    try labels.select("v", "lbl").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    finally releaseCheckpoint(labels)
  }

  test("connected components: sf0.001 in_nation gives GraphX's labels") {
    val snap = TpchGraph.snapshot(spark, dir)
    val ours = GraphXTraversal.componentsDF(spark, snap, Seq("in_nation"))
    try {
      val rows = ours.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(rows.nonEmpty)
      assert(rows == graphxComponents(GraphXTraversal.labelPairs(snap, Seq("in_nation"))))
    } finally releaseCheckpoint(ours)
  }

  test("connected components: the dedup_clusters pair graph gives GraphX's labels") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = TextOps.dedupMinHashLsh(docs, 0.8)
    try {
      assert(pairs.count() > 0, "the fixture has no near-dup pair")
      assert(components(pairs) == graphxComponents(pairs))
    } finally releaseCheckpoint(pairs)
  }

  test("connected components: a planted 200-vertex path and a disjoint pair") {
    import spark.implicits._
    // the smallest id sits at one end, so its label walks the whole path
    // one vertex per round: ~200 rounds, every one pinned and released
    val pairs = ((0L until 199L).map(i => (i, i + 1)) :+ ((1000L, 1001L))).toDF("a", "b")
    val ours = components(pairs)
    assert(ours == graphxComponents(pairs))
    assert(ours == ((0L until 200L).map(_ -> 0L) ++ Seq(1000L -> 1000L, 1001L -> 1000L)).toSet)
  }

  test("BFS: ShortestPaths' rows, landmark self-rows and an INT dist; a landmark on no edge has none") {
    val snap = TpchGraph.snapshot(spark, dir)
    // region 0 lies on no edge of the order DAG
    val landmarks = Seq(4000001L, 4000002L, 1000000L)
    val ours = GraphXTraversal.shortestPathsDF(spark, snap, landmarks, DagLabels)
    assert(ours.schema("dist").dataType == IntegerType)
    val rows = ours.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ref = withGraph(GraphXTraversal.labelPairs(snap, DagLabels)) { g =>
      val sp = ShortestPaths.run(g, landmarks)
      try sp.vertices.collect().toSeq.flatMap { case (v, m) => m.map { case (lm, d) => (v, lm, d) } }.toSet
      finally sp.unpersist(blocking = false)
    }
    assert(rows == ref)
    assert(rows.contains((4000001L, 4000001L, 0)) && rows.contains((4000002L, 4000002L, 0)))
    assert(!rows.exists(_._2 == 1000000L))
  }

  test("triangles: census and per-vertex triangles and clustering match GraphX triangleCount") {
    val snap = TpchGraph.snapshot(spark, dir)
    val (deg, tri, nv, ne) = withGraph(GraphXTraversal.pairEdges(snap, 30.0)) { g =>
      val tg = g.triangleCount()
      try (g.degrees.collect().toMap, tg.vertices.collect().toMap, g.numVertices, g.numEdges)
      finally tg.unpersist(blocking = false)
    }
    assert(tri.values.sum > 0, "the fixture's pair graph closes no triangle")
    val census = GraphXTraversal.triangleCensusDF(spark, snap).head()
    assert((census.getLong(0), census.getLong(1), census.getLong(2)) == ((nv, ne, tri.values.sum / 3L)))
    val coeff = GraphXTraversal.clusteringCoeffDF(spark, snap)
    try {
      val rows = coeff.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(rows.keySet == deg.keySet)
      rows.foreach { case (v, (d, t, c)) =>
        assert(d == deg(v).toLong && t == tri(v).toLong, s"vertex $v")
        val expect = if (d < 2) 0d else BigDecimal(2d * t / (d * (d - 1)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(c == expect, s"vertex $v coeff")
      }
    } finally releaseCheckpoint(coeff)
  }

  test("degrees: the pair graph's degree frame is GraphX's degrees") {
    val pairs = GraphXTraversal.pairEdges(TpchGraph.snapshot(spark, dir), 30.0)
    val ours = GraphXTraversal.degrees(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = withGraph(pairs)(_.degrees.collect().toMap)
    assert(ours == ref.map { case (v, d) => v -> d.toLong })
  }
}
