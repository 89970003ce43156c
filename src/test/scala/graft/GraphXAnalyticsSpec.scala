package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.projection.TpchGraph

/** Iterative GraphX analytics over the snapshot graph: connected
  * components (oracle-checked against the nation-star structure by the
  * driver; structural invariants here) and PageRank (rows-only by the
  * driver; the rank ORDER is the testable property — hub vertices that
  * whole in-stars point at must outrank their leaves). */
class GraphXAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("connected components: one star per nation, nation id is the component") {
    val snap = TpchGraph.snapshot(spark, dir)
    val rows = graft.gx.GraphXTraversal.componentsDF(spark, snap, Seq("in_nation"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byComponent = rows.groupBy(_._2)
    // every component is keyed by a nation vertex (2M band) that is its
    // own member, and members are only nations/customers/suppliers
    byComponent.foreach { case (comp, members) =>
      assert(comp >= 2000000L && comp < 3000000L, s"component $comp not a nation id")
      assert(members.exists(_._1 == comp), s"component $comp missing its nation")
      members.foreach { case (vid, _) =>
        assert(vid >= 2000000L && vid < 5000000L, s"vertex $vid outside expected bands")
      }
    }
    // isolated vertices (orders/parts/regions have no in_nation edge) excluded
    assert(rows.forall { case (vid, _) => vid < 5000000L && vid >= 2000000L })
    assert(byComponent.size > 1) // the subgraph is NOT one blob
  }

  test("star pagerank: iteration 3 is the exact fixpoint and matches the closed form") {
    val snap = TpchGraph.snapshot(spark, dir)
    def ranks(n: Int): Map[Long, Double] =
      graft.gx.GraphXTraversal.pageRankStarDF(spark, snap, numIter = n)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val it3 = ranks(3)
    // convergence proof: one more iteration changes nothing (3-level DAG)
    assert(it3 == ranks(4))
    // closed form computed independently from the raw tables
    import org.apache.spark.sql.functions.col
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey").cast("long"), col("s_nationkey").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nations = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val members = (cust.map(_._2) ++ supp.map(_._2)).groupBy(identity).map { case (k, v) => k -> v.length }
    val nRank = nations.map { case (nk, _) => nk -> (0.15 + 0.85 * 0.15 * members.getOrElse(nk, 0)) }.toMap
    val rRank = nations.groupBy(_._2).map { case (rk, ns) =>
      rk -> (0.15 + 0.85 * ns.map(n => nRank(n._1)).sum)
    }
    val raw: Map[Long, Double] =
      cust.map { case (ck, _) => (3000000L + ck) -> 0.15 }.toMap ++
        supp.map { case (sk, _) => (4000000L + sk) -> 0.15 }.toMap ++
        nRank.map { case (nk, r) => (2000000L + nk) -> r } ++
        rRank.map { case (rk, r) => (1000000L + rk) -> r }
    val scale = raw.size / raw.values.sum
    val expected = raw.map { case (v, r) => v -> BigDecimal(r * scale)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }
    assert(it3.keySet == expected.keySet)
    val off = it3.filter { case (v, r) => math.abs(r - expected(v)) > 1e-9 }
    assert(off.isEmpty, s"ranks differ from closed form: ${off.take(5)}")
  }

  test("triangle census: GraphX count matches a direct wedge-closure recount") {
    val snap = TpchGraph.snapshot(spark, dir)
    val row = graft.gx.GraphXTraversal.triangleCensusDF(spark, snap).head()
    val (nParts, nEdges, nTris) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nParts > 0 && nEdges > 0)
    // independent recount from the raw table: same pair set, brute wedge
    // closure in driver memory (fine at sf0.001)
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_quantity") >= 30)
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = li.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val expectTris = pairs.toSeq.map { case (a, b) =>
      adj.getOrElse(a, Set.empty).count(c => c > b && pairs.contains((b, c)))
    }.sum
    assert(nEdges == pairs.size.toLong, s"edges $nEdges vs ${pairs.size}")
    assert(nParts == pairs.flatMap(p => Seq(p._1, p._2)).size.toLong)
    assert(nTris == expectTris.toLong, s"triangles $nTris vs $expectTris")
  }

  test("clustering coefficient: per-vertex recount; totals tie to the census") {
    val snap = TpchGraph.snapshot(spark, dir)
    val rows = graft.gx.GraphXTraversal.clusteringCoeffDF(spark, snap).collect()
    assert(rows.nonEmpty)
    // formula and bound invariants on every vertex
    rows.foreach { r =>
      val (d, t, c) = (r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
        r.getAs[Double]("coeff"))
      assert(d >= 1) // Graph.fromEdges keeps only edge endpoints
      assert(t <= d * (d - 1) / 2, s"triangles $t exceed C($d,2)")
      val expect = if (d < 2) 0d else 2d * t / (d * (d - 1))
      assert(math.abs(c - expect) < 5e-5)
    }
    // per-vertex triangle credits sum to 3× the census total
    val census = graft.gx.GraphXTraversal.triangleCensusDF(spark, snap).head()
    assert(rows.map(_.getAs[Long]("triangles")).sum == 3 * census.getLong(2))
    assert(rows.length.toLong == census.getLong(0)) // one row per part
  }

  test("shortest paths: BFS levels land on the DAG's closed-form distances") {
    val snap = TpchGraph.snapshot(spark, dir)
    val rows = graft.gx.GraphXTraversal
      .shortestPathsDF(spark, snap, Seq(4000001L, 4000002L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    // distance is fully determined by the vertex id band: suppliers 0,
    // parts 1, orders 2, customers 3 — and nothing else appears
    rows.foreach { case (vid, lm, d) =>
      assert(lm == 4000001L || lm == 4000002L)
      val expected =
        if (vid >= 6000000L) 2
        else if (vid >= 5000000L) 1
        else if (vid >= 4000000L) 0
        else 3
      assert(d == expected, s"vertex $vid landmark $lm dist $d != $expected")
      if (d == 0) assert(vid == lm) // only the landmark itself sits at 0
    }
  }

  test("betweenness landmarks: general sweep equals a driver-side integer Brandes recount") {
    val snap = TpchGraph.snapshot(spark, dir)
    val got = graft.gx.GraphXTraversal
      .betweennessLandmarksDF(spark, snap, Seq(4000001L, 4000002L, 4000003L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent recount from the raw tables with the same quantized
    // integer recursion (brute force in driver memory, fine at sf0.001)
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"),
        col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val acc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (lm <- Seq(1L, 2L, 3L)) {
      // σ: per-edge multiplicities (contains/supplied_by are per lineitem row)
      val s1 = li.filter(_._3 == lm).groupBy(_._2).map { case (p, rs) => p -> rs.size.toLong }
      val s2 = li.filter(t => s1.contains(t._2)).groupBy(_._1)
        .map { case (o, rs) => o -> rs.map(t => s1(t._2)).sum }
      val s3 = s2.toSeq.groupBy { case (o, _) => ord(o) }
        .map { case (c, os) => c -> os.map(_._2).sum }
      // δ: the quantized recursion (σv·(1e6+δu)) div σu, leaves 0
      val d2 = s2.map { case (o, so) => o -> (so * 1000000L) / s3(ord(o)) }
      val d1 = li.filter(t => s1.contains(t._2)).groupBy(_._2)
        .map { case (p, rs) =>
          p -> rs.map(t => (s1(p) * (1000000L + d2(t._1))) / s2(t._1)).sum }
      d2.foreach { case (o, d) => acc(6000000L + o) += d }
      d1.foreach { case (p, d) => acc(5000000L + p) += d }
    }
    val expected = acc.filter(_._2 > 0).toMap
    assert(got.nonEmpty)
    assert(got == expected, {
      val diff = (got.keySet ++ expected.keySet)
        .filter(k => got.get(k) != expected.get(k)).take(5)
      s"first diffs: ${diff.map(k => (k, got.get(k), expected.get(k)))}"
    })
  }

  test("betweenness landmarks: mid-level leaves still contribute (left-join δ contract)") {
    // lm ← a ← b (level-2 LEAF) and lm ← a ← c ← e: b has no deeper tree
    // predecessor, so an INNER δ-join would silently drop its σ·10⁶ term
    // from δ(a) — this shape never occurs on the order DAG, so only a
    // custom graph exercises it
    val g = new graft.graph.GraftGraph(TestSpark.spark)
    val lm = g.addVertex(); val a = g.addVertex(); val b = g.addVertex()
    val c = g.addVertex(); val e = g.addVertex()
    g.addEdge(a, lm, "x"); g.addEdge(b, a, "x")
    g.addEdge(c, a, "x"); g.addEdge(e, c, "x")
    val snap = graft.snapshot.Snapshot.head(g.log)
    val got = graft.gx.GraphXTraversal
      .betweennessLandmarksDF(spark, snap, Seq(lm.id), Seq("x"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // σ ≡ 1 everywhere; δ(c) = 10⁶ (from e); δ(a) = 10⁶ (from leaf b)
    // + 2·10⁶ (from c) = 3·10⁶ — the inner-join bug reported 2·10⁶
    assert(got(c.id) == 1000000L)
    assert(got(a.id) == 3000000L)
    assert(got.size == 2) // b and e are leaves (δ 0); the landmark is excluded
  }

  test("ssspWeighted: relaxation picks the cheap 2-hop path over heavy direct edges") {
    // a →(40) lm, a →(12) lm (parallel multi-edge), a →(3) m →(5) lm,
    // u → a with NO quantity (cost 1): the order-DAG twin never has a
    // cheaper-long-path shape, so only a custom graph proves the
    // relaxation is MIN-COST (a closed-form-level bug would report 12)
    val g = new graft.graph.GraftGraph(TestSpark.spark)
    val lm = g.addVertex(); val a = g.addVertex()
    val m = g.addVertex(); val u = g.addVertex()
    g.addEdge(a, lm, "x").setProperty("quantity", 40.0: java.lang.Double)
    g.addEdge(a, lm, "x").setProperty("quantity", 12.0: java.lang.Double)
    g.addEdge(a, m, "x").setProperty("quantity", 3.0: java.lang.Double)
    g.addEdge(m, lm, "x").setProperty("quantity", 5.0: java.lang.Double)
    g.addEdge(u, a, "x") // weightless → cost 1
    val snap = graft.snapshot.Snapshot.head(g.log)
    val got = graft.gx.GraphXTraversal
      .ssspWeightedDF(spark, snap, Seq(lm.id), Seq("x"), rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((lm.id, lm.id)) == 0L)
    assert(got((m.id, lm.id)) == 5L)
    assert(got((a.id, lm.id)) == 8L, s"min-cost must beat both direct edges: $got")
    assert(got((u.id, lm.id)) == 9L)
    assert(got.size == 4)
    // extra rounds are idempotent at the fixpoint
    val more = graft.gx.GraphXTraversal
      .ssspWeightedDF(spark, snap, Seq(lm.id), Seq("x"), rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(more == got)
  }

  test("randomWalks: hash-argmin next hop, sink termination, determinism, edge-validity") {
    // custom graph: v fans out to {a, b, c} (the argmin choice point),
    // then a chain c1 → c2 → c3 (sink) pins termination behavior
    val g = new graft.graph.GraftGraph(TestSpark.spark)
    val v = g.addVertex(); val a = g.addVertex(); val b = g.addVertex()
    val c = g.addVertex(); val c2 = g.addVertex(); val c3 = g.addVertex()
    g.addEdge(v, a, "x"); g.addEdge(v, b, "x"); g.addEdge(v, c, "x")
    g.addEdge(a, c2, "x"); g.addEdge(b, c2, "x"); g.addEdge(c, c2, "x")
    g.addEdge(c2, c3, "x")
    val snap = graft.snapshot.Snapshot.head(g.log)
    val rows = graft.gx.GraphXTraversal
      .randomWalksDF(spark, snap, steps = 5, startLo = 0L, startHi = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // independent driver-side replay of the coin: md5 hex of "w:t:u"
    def coin(w: Long, t: Int, u: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$w:$t:$u".getBytes("UTF-8"))
      d.map(x => f"${x & 0xff}%02x").mkString
    }
    val expectedStep1 = Seq(a.id, b.id, c.id).minBy(u => (coin(v.id, 1, u), u))
    assert(rows((v.id, 0L)) == v.id && rows((v.id, 1L)) == expectedStep1)
    // whoever step 1 picked, step 2 must be c2 and step 3 the sink c3;
    // the walk then ENDS — no step-4/5 rows
    assert(rows((v.id, 2L)) == c2.id && rows((v.id, 3L)) == c3.id)
    assert(!rows.contains((v.id, 4L)) && !rows.contains((v.id, 5L)))
    // starts require ≥1 out-edge: c3 (pure sink) must not start a walk
    assert(!rows.contains((c3.id, 0L)))

    // real snapshot: every consecutive pair is a real edge, exactly one
    // vertex per (walk, step), and the corpus is run-to-run identical
    val rsnap = TpchGraph.snapshot(spark, dir)
    val w1 = graft.gx.GraphXTraversal.randomWalksDF(spark, rsnap)
    val edges = rsnap.edges.selectExpr("outV", "inV").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val seq = w1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byWalk = seq.groupBy(_._1)
    assert(byWalk.nonEmpty)
    byWalk.foreach { case (w, hops) =>
      val path = hops.sortBy(_._2)
      assert(path.head._2 == 0L && path.head._3 == w, s"walk $w must start at itself")
      assert(path.map(_._2).toSeq == (0L until path.length).toSeq,
        s"walk $w steps not contiguous")
      path.sliding(2).foreach {
        case Array(x, y) => assert(edges((x._3, y._3)),
          s"walk $w hop ${x._3}→${y._3} is not an edge")
        case _ =>
      }
    }
    val again = graft.gx.GraphXTraversal.randomWalksDF(spark, rsnap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == seq.toSet)
  }

  test("adaptive width: proportional to the filtered edge count, floored and capped") {
    import graft.gx.HyperAnf.widthFor
    // small subgraph → narrow (the measured-good sf0.1 point reproduced:
    // ~765k edges land on 8 partitions at 100k edges each; tiny
    // subgraphs collapse to 1). HyperANF, the one caller, building at
    // the derived width is PartitionedCheckpointSpec's HyperANF case.
    val perPartition = 100000L
    assert(widthFor(0L, perPartition) == 1)
    assert(widthFor(1L, perPartition) == 1)
    assert(widthFor(perPartition, perPartition) == 1)
    assert(widthFor(765000L, perPartition) == 8)
    // large subgraph → proportional, until the parallelism cap binds
    // (4× defaultParallelism — on a 1000-executor cluster that cap only
    // binds past ~10^9 edges, exactly when every core should be busy)
    val cap = 4 * spark.sparkContext.defaultParallelism
    assert(widthFor(100L * perPartition, perPartition) == math.min(100, cap))
    assert(widthFor(Long.MaxValue / 2, perPartition) == cap)
  }

  test("pagerank: nation/region hubs outrank leaf vertices") {
    val snap = TpchGraph.snapshot(spark, dir)
    val top = graft.gx.GraphXTraversal.pageRankDF(spark, snap, numIter = 10, topK = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 30)
    // ranks come back sorted descending
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last))
    // the top of the list is hub vertices — rank flows along the edge
    // direction into regions (nations point at them) and suppliers
    // (every supplied_by part edge points at one of few suppliers)
    val top10 = top.take(10).map(_._1)
    assert(top10.exists(v => v >= 1000000L && v < 2000000L),
      s"expected region hubs in the top 10, got ${top10.toSeq}")
    assert(top10.forall(v => !(v >= 3000000L && v < 4000000L)),
      s"customers are leaves and must not top the ranking: ${top10.toSeq}")
  }

  test("personalized pagerank: mass stays near the source's forward cone") {
    val snap = TpchGraph.snapshot(spark, dir)
    val src = 3000042L // customer 42
    val top = graft.gx.GraphXTraversal
      .personalizedPageRankDF(spark, snap, src, numIter = 10, topK = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 30)
    assert(top.map(_._2).sliding(2).forall(p => p.head >= p.last))
    // teleport returns only to the source: it must dominate the ranking
    assert(top.head._1 == src, s"source should rank first, got ${top.head}")
    // everything ranked sits in the source's forward cone: the source
    // itself, its nation/region, its orders, or parts/suppliers they
    // reach — customers OTHER than the source get zero mass (nothing
    // points at a customer in this graph)
    top.map(_._1).foreach { v =>
      assert(v == src || !(v >= 3000000L && v < 4000000L),
        s"foreign customer $v cannot receive personalized mass")
    }
  }

  test("relational pagerank == GraphX pagerank (global and personalized)") {
    val snap = TpchGraph.snapshot(spark, dir)
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the relational rounds replay GraphX's exact recurrence + final
    // normalization, so the round(4) top-30 must agree pairwise — the
    // same contract the DuckDB twin holds both implementations to
    val gxFull = asMap(graft.gx.GraphXTraversal.pageRankDF(spark, snap, 10, 30))
    val relFull = asMap(graft.gx.GraphXTraversal.pageRankRelationalDF(spark, snap, 10, 30))
    assert(relFull.keySet == gxFull.keySet,
      s"vertex sets differ: only-gx=${gxFull.keySet -- relFull.keySet} only-rel=${relFull.keySet -- gxFull.keySet}")
    gxFull.foreach { case (v, r) =>
      assert(math.abs(relFull(v) - r) <= 1e-4 + 1e-9, s"vertex $v: gx=$r rel=${relFull(v)}")
    }
    val src = 3000042L
    val gxP = asMap(graft.gx.GraphXTraversal.personalizedPageRankDF(spark, snap, src, 10, 30))
    val relP = asMap(graft.gx.GraphXTraversal.personalizedPageRankRelationalDF(spark, snap, src, 10, 30))
    assert(relP.keySet == gxP.keySet,
      s"vertex sets differ: only-gx=${gxP.keySet -- relP.keySet} only-rel=${relP.keySet -- gxP.keySet}")
    gxP.foreach { case (v, r) =>
      assert(math.abs(relP(v) - r) <= 1e-4 + 1e-9, s"vertex $v: gx=$r rel=${relP(v)}")
    }
  }

  test("assortativity: matches a driver-side Pearson recount of the pair graph") {
    import org.apache.spark.sql.functions.col
    val snap = TpchGraph.snapshot(spark, dir)
    val row = graft.gx.GraphXTraversal.assortativityDF(spark, snap).head()
    val (nEdges, r) = (row.getLong(0), row.getDouble(1))
    assert(r >= -1.0 && r <= 1.0)
    // independent recount from the raw pair edges
    val bulkIds = snap.prop("quantity", graft.model.PropType.PDouble, graft.model.A.Edge)
      .where(col("v") >= 30.0).select(col("e").as("id"))
    val bulk = snap.edges.where(col("label") === "contains").join(bulkIds, "id")
    val l = bulk.select(col("outV").as("o"), col("inV").as("a"))
    val rr = bulk.select(col("outV").as("o"), col("inV").as("b"))
    val es = l.join(rr, "o").where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(nEdges == es.length)
    val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, o) => v -> o.length.toLong }
    val xs = es.flatMap(e => Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
    val n = BigInt(xs.length)
    val sx = BigInt(xs.map(_._1).sum); val sy = BigInt(xs.map(_._2).sum)
    val sxy = BigInt(xs.map(p => p._1 * p._2).sum)
    val sxx = BigInt(xs.map(p => p._1 * p._1).sum)
    val syy = BigInt(xs.map(p => p._2 * p._2).sum)
    val want = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
    assert(math.abs(r - BigDecimal(want).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12,
      s"assortativity $r != recount $want")
  }

  test("sync LPA communities: match a driver-side reference replay of the rounds") {
    import org.apache.spark.sql.functions.col
    val snap = TpchGraph.snapshot(spark, dir)
    val rounds = 4
    val got = graft.gx.GraphXTraversal.communitiesLpaDF(spark, snap, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: collect the pair edges, replay the same
    // synchronous rounds with the (count desc, label asc) pick
    val bulkIds = snap.prop("quantity", graft.model.PropType.PDouble, graft.model.A.Edge)
      .where(col("v") >= 30.0).select(col("e").as("id"))
    val bulk = snap.edges.where(col("label") === "contains").join(bulkIds, "id")
    val l = bulk.select(col("outV").as("o"), col("inV").as("a"))
    val rr = bulk.select(col("outV").as("o"), col("inV").as("b"))
    val es = l.join(rr, "o").where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val nbrs = (es.map(e => e._1 -> e._2) ++ es.map(e => e._2 -> e._1))
      .groupBy(_._1).map { case (v, o) => v -> o.map(_._2) }
    var lbl: Map[Long, Long] = nbrs.keysIterator.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      lbl = nbrs.map { case (v, ns) =>
        v -> ns.map(lbl).groupBy(identity).toSeq
          .map { case (lab, o) => (lab, o.length) }
          .minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    assert(got.keySet == lbl.keySet)
    assert(got == lbl, "GraphX LPA diverged from the reference replay")
    // non-degenerate at this data: propagation actually merged labels
    assert(got.values.toSet.size < got.size)
    // modularity: driver-side recount with the same exact-integer chain
    val row = graft.gx.GraphXTraversal.modularityDF(spark, snap, rounds).head()
    assert(row.getLong(0) == es.length.toLong)
    assert(row.getLong(1) == lbl.values.toSet.size.toLong)
    val m = es.length.toLong
    val inC = es.count(e => lbl(e._1) == lbl(e._2)).toLong
    val degC = es.flatMap(e => Seq(lbl(e._1), lbl(e._2)))
      .groupBy(identity).map { case (c, o) => c -> o.length.toLong }
    val inByC = es.filter(e => lbl(e._1) == lbl(e._2))
      .groupBy(e => lbl(e._1)).map { case (c, o) => c -> o.length.toLong }
    assert(inByC.values.sum == inC)
    val num = degC.map { case (c, dc) =>
      4L * m * inByC.getOrElse(c, 0L) - dc * dc }.sum
    val want = BigDecimal(num.toDouble / (4.0 * m * m))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(2) == want, s"modularity ${row.getDouble(2)} != $want")
    // Q is a proper fraction of a real labeling
    assert(row.getDouble(2) > -1.0 && row.getDouble(2) < 1.0)
  }

  test("k-core: peels converge to the fixpoint; every survivor keeps degree >= k") {
    import org.apache.spark.sql.functions.col
    val snap = TpchGraph.snapshot(spark, dir)
    // the registered contract's k: at sf0.001 this genuinely peels
    // (converges after 3 rounds, 174 of 200 vertices survive) — the
    // invariants are the fixpoint (one more round changes nothing) and
    // the core property itself
    val core = graft.gx.GraphXTraversal.kCoreDF(spark, snap, k = 12, rounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val coreMore = graft.gx.GraphXTraversal.kCoreDF(spark, snap, k = 12, rounds = 13)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == coreMore, "peeling had not converged within the round budget")
    assert(core.nonEmpty && core.values.forall(_ >= 12),
      s"survivors below k: ${core.filter(_._2 < 12)}")
    // independent recount: rebuild the pair edge set and take degrees
    // within the surviving vertex set only
    val bulkIds = snap.prop("quantity", graft.model.PropType.PDouble, graft.model.A.Edge)
      .where(col("v") >= 30.0).select(col("e").as("id"))
    val bulk = snap.edges.where(col("label") === "contains").join(bulkIds, "id")
    val l = bulk.select(col("outV").as("o"), col("inV").as("a"))
    val r = bulk.select(col("outV").as("o"), col("inV").as("b"))
    val es = l.join(r, "o").where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val inCore = core.keySet
    val recount = es.filter(e => inCore(e._1) && inCore(e._2))
      .flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (v, o) => v -> o.length.toLong }
    assert(recount == core, "kCoreDF degrees disagree with the driver recount")
  }

  test("k-core peel loops to the fixpoint past the nominal rounds; converged flag is honest") {
    import spark.implicits._
    // 5-cycle with a 3-vertex pendant chain, k=2: the chain peels one
    // vertex per round (8, then 7, then 6) — three peels plus the no-op
    // confirmation, past a nominal rounds=1 — and the cycle IS the
    // unique 2-core. The old fixed-round contract would have returned
    // the half-peeled graph here.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L),
      (5L, 6L), (6L, 7L), (7L, 8L)).toDF("a", "b")
    val out = graft.gx.GraphXTraversal.kCorePeel(pairs, k = 2, rounds = 1)
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out.forall(r => r.getLong(1) == 2L && r.getBoolean(2)))
    // a pure path has NO 2-core: the fixpoint is empty, reached well
    // past the nominal budget (two endpoints peel per round)
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    assert(graft.gx.GraphXTraversal.kCorePeel(path, k = 2, rounds = 1).count() == 0L)
  }

  test("k-truss peel: support recount, cascade past nominal rounds, honest empty fixpoint") {
    import spark.implicits._
    // K4 (every edge closes 2 triangles) with a pendant triangle hanging
    // off vertex 4 (its edges close 1): at k=4 the pendant peels in round
    // 1, the K4 stays support-2 everywhere, and the no-op confirmation
    // lands past a nominal rounds=1 — the loop must keep going.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val pendant = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val out = graft.gx.GraphXTraversal
      .kTrussPeel((k4 ++ pendant).toDF("a", "b"), k = 4, rounds = 1)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == k4.toSet)
    assert(out.forall(r => r.getLong(2) == 2L && r.getBoolean(3)),
      "K4 survivors must all carry support 2 in the fixpoint subgraph")
    // two triangles sharing edge (2,3): that edge alone has support 2,
    // but stripped of its support-1 neighbors it supports nothing — the
    // 4-truss is EMPTY, reached only by re-supporting after the peel
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    assert(graft.gx.GraphXTraversal.kTrussPeel(twoTri, k = 4, rounds = 1).count() == 0L)
    // k=3 keeps both triangles intact: every edge closes one, the shared
    // edge two — and nothing peels, so round 1 already confirms
    val t3 = graft.gx.GraphXTraversal.kTrussPeel(twoTri, k = 3, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3 == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L))
  }

  test("Hill tail exponent: hand-built degrees match the closed form; ties can't show") {
    import spark.implicits._
    // degrees 8, 4, 2, 1, 1 with k=2: α = 2 / (ln(8/2) + ln(4/2)) =
    // 2/ln(8) ≈ 0.9618 on the micro-quantized grid
    val deg = Seq((1L, 8L), (2L, 4L), (3L, 2L), (4L, 1L), (5L, 1L)).toDF("v", "d")
    val row = graft.gx.GraphXTraversal.tailAlphaFromDegrees(deg, 2).head()
    assert(row.getLong(0) == 2L && row.getLong(1) == 2L)
    assert(row.getDouble(2) == 0.9618, s"alpha ${row.getDouble(2)}")
    // a tie AT the cut: degrees 8, 4, 4, 4 — whichever tied vertex ranks
    // third, the VALUE d_(k+1) and the top-k values are the same
    val tied = Seq((1L, 8L), (2L, 4L), (3L, 4L), (4L, 4L)).toDF("v", "d")
    val t = graft.gx.GraphXTraversal.tailAlphaFromDegrees(tied, 2).head()
    assert(t.getLong(1) == 4L)
    // α = 2 / (ln(8/4) + ln(4/4)) = 2/ln2 ≈ 2.8854
    assert(t.getDouble(2) == 2.8854, s"alpha ${t.getDouble(2)}")
  }

  test("LPA planted hub: a 1e5-neighbor star propagates without per-vertex histogram maps") {
    // star graph: hub 0 with 100k leaves. The former aggregateMessages
    // merge built the hub's full neighbor-label histogram as ONE
    // Map[Long,Int] on a single task; the relational rounds shuffle
    // (vertex, label) count rows instead, so this runs in bounded task
    // memory at any hub degree. Round semantics are pinned exactly:
    //   r1: hub sees 100k distinct labels once each -> tie-break to the
    //       smallest (1); every leaf sees only the hub (0) -> 0
    //   r2: hub sees all leaves at 0 -> 0; leaves see the hub at 1 -> 1
    val edges = spark.range(1L, 100001L)
      .select(org.apache.spark.sql.functions.lit(0L).as("a"),
        org.apache.spark.sql.functions.col("id").as("b"))
    val labels = graft.gx.GraphXTraversal.lpaRounds(edges, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 100001)
    assert(labels(0L) == 0L)
    assert((1L to 100000L).forall(labels(_) == 1L))
  }

  test("modularity numerator: exact past Long — 4·m·in_c over 2^63 must not wrap") {
    import spark.implicits._
    // synthetic per-community stats for a graph with m = 3e9 edges
    // (> 2^31) and one dominant community: 4·m·in_c = 2.4e19 > Long.Max,
    // where the former Long chain silently wrapped per-row. Counts are
    // injected, not materialized — the contract is the integer chain.
    val m = 3000000000L
    val stats = Seq(
      (Option(2000000000L), 4500000000L),
      (Option.empty[Long], 1500000000L)).toDF("in_c", "deg_c")
    val got = BigInt(
      graft.gx.GraphXTraversal.modularityNumerator(m, stats).toBigInteger)
    val want =
      (BigInt(4) * m * 2000000000L - BigInt(4500000000L) * 4500000000L) +
        (BigInt(0) - BigInt(1500000000L) * 1500000000L)
    // the dominant community's term alone exceeds Long range — the case
    // under test is genuinely outside the old representation
    assert(BigInt(4) * m * 2000000000L > BigInt(Long.MaxValue))
    assert(got == want, s"numerator $got != $want")
  }

  test("adamic-adar: closed wedges score 1/ln(deg) in exact micros") {
    import spark.implicits._
    // 4-cycle plus the (1,3) diagonal: edge (1,3) closes through BOTH
    // degree-2 vertices 2 and 4; every other edge closes through one
    // degree-3 vertex — closed forms 2/ln2 and 1/ln3
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)).toDF("a", "b")
    val r = graft.gx.GraphXTraversal.adamicAdarPairs(e0).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> ((x.getLong(2), x.getLong(3)))).toMap
    val m2 = math.floor(1e6 / math.log(2) + 0.5).toLong
    val m3 = math.floor(1e6 / math.log(3) + 0.5).toLong
    assert(r((1L, 3L)) == ((2L, 2 * m2)))
    assert(r((1L, 2L)) == ((1L, m3)))
    assert(r((2L, 3L)) == ((1L, m3)))
    assert(r((3L, 4L)) == ((1L, m3)))
    assert(r((1L, 4L)) == ((1L, m3)))
    assert(r.size == 5)
  }

  test("assortativity moments: exact past Long — a single d·d' over 2^63 must not wrap") {
    import spark.implicits._
    // two endpoint-degree rows; the hub-hub row's product 4e9·4e9 =
    // 1.6e19 > Long.Max, where the former Long sum wrapped per-row.
    // Degrees are injected, not materialized — the contract is the
    // integer moment chain itself.
    val xy = Seq((4000000000L, 4000000000L), (1L, 1L)).toDF("x", "y")
    val (n, sx, sy, sxy, sxx, syy) =
      graft.gx.GraphXTraversal.assortativityMoments(xy)
    val big = BigInt(4000000000L)
    assert(big * big > BigInt(Long.MaxValue))
    assert(n == 2L)
    assert(sx == big + 1 && sy == big + 1)
    assert(sxy == big * big + 1)
    assert(sxx == big * big + 1 && syy == big * big + 1)
    // perfectly correlated endpoints -> Pearson r = 1 through the
    // same BigInt combination the operator uses
    val num = (BigInt(n) * sxy - sx * sy).toDouble
    val den = math.sqrt((BigInt(n) * sxx - sx * sx).toDouble) *
      math.sqrt((BigInt(n) * syy - sy * sy).toDouble)
    assert(math.abs(num / den - 1.0) < 1e-12)
  }

  /** Id of the RDD backing an eager localCheckpoint (its LogicalRDD leaf). */
  private def backingRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get

  // label sets no other caller memoizes, so each call below inserts a new
  // key and the first one is the least recently used after the last
  private val freshLabelSets = Seq(Seq("placed"), Seq("contains"),
    Seq("supplied_by"), Seq("in_region"), Seq("placed", "contains"))

  test("gx memos: MaxCachedGraphs + 1 keys evict and release the LRU entry; hits are identical") {
    import graft.gx.GraphXTraversal.{MaxCachedGraphs, pairEdges, weightedEdges}
    assert(freshLabelSets.size == MaxCachedGraphs + 1)
    val snap = TpchGraph.snapshot(spark, dir)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet

    val frames = freshLabelSets.map(weightedEdges(snap, _))
    val firstRdd = backingRddId(frames.head)
    val lastRdd = backingRddId(frames.last)
    assert(!persisted.contains(firstRdd), "evicted checkpoint still pinned")
    assert(persisted.contains(lastRdd))
    assert(weightedEdges(snap, freshLabelSets.last) eq frames.last)
    // the key is the SORTED label set
    assert(weightedEdges(snap, freshLabelSets.last.reverse) eq frames.last)

    // quantity cuts no other caller memoizes
    val pairs = (1 to MaxCachedGraphs + 1).map(i => pairEdges(snap, 40.0 + i))
    assert(!persisted.contains(backingRddId(pairs.head)), "evicted pair frame still pinned")
    assert(persisted.contains(backingRddId(pairs.last)))
    assert(pairEdges(snap, 40.0 + MaxCachedGraphs + 1) eq pairs.last)
  }

  test("localBridgesDF: memoized per (snap, minQty); repeats pin nothing new, eviction releases") {
    import graft.gx.GraphXTraversal.{MaxCachedGraphs, localBridgesDF}
    val snap = TpchGraph.snapshot(spark, dir)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val first = localBridgesDF(spark, snap, 30.0)
    val pinnedAfterFirst = persisted.size
    (1 to 3).foreach { _ =>
      assert(localBridgesDF(spark, snap, 30.0) eq first)
    }
    assert(persisted.size <= pinnedAfterFirst, "repeated calls pinned new RDDs")
    val firstRdd = backingRddId(first)
    assert(persisted.contains(firstRdd))
    (1 to MaxCachedGraphs).foreach(i => localBridgesDF(spark, snap, 30.0 + i))
    assert(!persisted.contains(firstRdd), "evicted bridges checkpoint still pinned")
  }

  test("communitiesLpaDF: memoized per key; repeats are identical, eviction releases") {
    import graft.gx.GraphXTraversal.{MaxCachedGraphs, communitiesLpaDF}
    val snap = TpchGraph.snapshot(spark, dir)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // round counts no other caller memoizes, so each call is a new key
    val first = communitiesLpaDF(spark, snap, rounds = 5)
    assert(communitiesLpaDF(spark, snap, rounds = 5) eq first)
    val firstRdd = backingRddId(first)
    assert(persisted.contains(firstRdd))
    (1 to MaxCachedGraphs).foreach(i => communitiesLpaDF(spark, snap, rounds = 5 + i))
    assert(!persisted.contains(firstRdd), "evicted LPA labeling still pinned")
  }

  test("shortestPathsDF: memoized per key; repeats are identical, eviction releases") {
    import graft.gx.GraphXTraversal.{MaxCachedGraphs, shortestPathsDF}
    val snap = TpchGraph.snapshot(spark, dir)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // single-landmark sets no other caller memoizes
    val first = shortestPathsDF(spark, snap, Seq(4000001L))
    assert(shortestPathsDF(spark, snap, Seq(4000001L)) eq first)
    val firstRdd = backingRddId(first)
    assert(persisted.contains(firstRdd))
    (1 to MaxCachedGraphs).foreach(i => shortestPathsDF(spark, snap, Seq(4000001L + i)))
    assert(!persisted.contains(firstRdd), "evicted shortest-path levels still pinned")
  }

  // the generated sources of a prepared loop's start and round plans
  private def preparedCode(loop: graft.util.PreparedRounds): Seq[String] = {
    val stages = Seq(loop.start, loop.template)
      .flatMap(org.apache.spark.sql.execution.debug.codegenStringSeq(_))
    assert(stages.exists(_._1.contains("Join")), "no round plan was generated")
    stages.map(_._2).sorted
  }

  test("personalized pagerank: the source is bound, so two sources run the same generated code") {
    import graft.gx.GraphXTraversal
    val snap = TpchGraph.snapshot(spark, dir)
    def code(src: Long): Seq[String] = preparedCode(GraphXTraversal.pageRankLoop(
      GraphXTraversal.contribEdges(snap), GraphXTraversal.vertexFrame(snap), Some(src)))
    val (codeA, codeB) = (code(3000042L), code(3000007L))
    val specific = codeA.diff(codeB).size
    assert(specific == 0, s"$specific of ${codeA.size} round-plan sources are source-specific")
    Seq(3000042L, 3000007L).foreach { src =>
      val rel = GraphXTraversal.personalizedPageRankRelationalDF(spark, snap, src, 10, 30)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val gx = GraphXTraversal.personalizedPageRankDF(spark, snap, src, 10, 30)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rel.keySet == gx.keySet, s"src $src: vertex sets differ")
      gx.foreach { case (v, r) =>
        assert(math.abs(rel(v) - r) <= 1e-4 + 1e-9, s"src $src vertex $v: gx=$r rel=${rel(v)}")
      }
    }
  }

  test("weighted SSSP: the landmark set is bound, so two sets run the same generated code") {
    import graft.gx.GraphXTraversal
    val snap = TpchGraph.snapshot(spark, dir)
    val labels = Seq("placed", "contains", "supplied_by")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def code(lms: Seq[Long]): Seq[String] = preparedCode(
      GraphXTraversal.ssspLoop(GraphXTraversal.weightedEdges(snap, labels), lms, width))
    val (codeA, codeB) = (code(Seq(4000001L, 4000002L, 4000003L)), code(Seq(4000005L, 4000009L)))
    val specific = codeA.diff(codeB).size
    assert(specific == 0, s"$specific of ${codeA.size} start and round sources are landmark-specific")
  }

  test("RoundSteps: dumping every step's plan releases its staging checkpoints") {
    import graft.gx.RoundSteps
    val snap = TpchGraph.snapshot(spark, dir)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def dumpAll(): Unit = (RoundSteps.steps.keys ++ RoundSteps.prepared.keys).foreach { n =>
      assert(PlanDump.text(spark, dir, n, mode = "").nonEmpty)
    }
    dumpAll() // builds the shared memoized frames the steps read
    val before = persisted
    // every step stages at least one checkpoint, except betweenness and
    // k-core, which read only memoized frames
    val staged = RoundSteps.steps.map { case (name, build) =>
      val step = build(spark, snap)
      val n = step.staging.size
      step.release()
      name -> n
    }
    assert(staged.collect { case (name, 0) => name }.toSet == Set("betweenness_round", "kcore_round"))
    assert(persisted == before)
    dumpAll()
    assert(persisted == before, "a step's staging checkpoint is still pinned after its dump")
  }

  test("PlanDump _inner plans are the executed plans over staged frames, nothing left pinned") {
    def rddIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def cacheEntries = org.apache.spark.sql.graftshim.CacheEntries.count(spark)
    Seq("decontaminate_inner", "unigram_logprob_inner", "bm25_scores_inner").foreach { n =>
      val (ids0, entries0) = (rddIds, cacheEntries)
      val text = PlanDump.text(spark, dir, n, mode = "")
      assert(text.startsWith("AdaptiveSparkPlan isFinalPlan=true"), s"$n: ${text.take(200)}")
      assert(text.contains("InMemoryTableScan"), s"$n reads no staged frame:\n$text")
      assert(!text.linesIterator.next().contains("Scan ExistingRDD"), s"$n root is a checkpoint scan")
      assert(rddIds -- ids0 == Set.empty[Int], s"$n left RDDs persisted")
      assert(cacheEntries == entries0, s"$n left frames cached")
    }
  }

  test("TpchGraph.snapshot: an evicted build leaves no persisted RDD behind") {
    import graft.projection.TpchGraph.MaxCachedSnapshots
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val dirs = TestSpark.fixtureCopies(dir, MaxCachedSnapshots + 1,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
    val before = persisted
    val first = TpchGraph.snapshot(spark, dirs.head)
    assert(first.currentFacts.count() > 0 && first.edges.count() > 0)
    // currentFacts, edges and the lineitem frame both of them read
    val pinned = persisted -- before
    assert(pinned.size == 3, s"expected three persisted frames, got $pinned")
    dirs.tail.foreach(d => TpchGraph.snapshot(spark, d).edges.count())
    assert((persisted & pinned).isEmpty, "the evicted build left RDDs persisted")
  }

  test("snapshot memos: one dir in MaxCachedSnapshots + 1 sessions keeps the live sessions' views") {
    import graft.projection.EventsReplay
    import graft.projection.TpchGraph.MaxCachedSnapshots
    import org.apache.spark.storage.StorageLevel.NONE
    // a dir no other test reads; every session's build is one plan, one cache entry
    val d = TestSpark.fixtureCopies(dir, 1, Seq("region", "nation", "customer",
      "supplier", "part", "orders", "lineitem", "events")).head
    val sessions = Seq.fill(MaxCachedSnapshots + 1)(spark.newSession())
    val graphs = sessions.map { s => val g = TpchGraph.snapshot(s, d); g.edges.count(); g }
    val events = sessions.map { s => val e = EventsReplay.snapshot(s, d); e.currentFacts.count(); e }
    // the last build evicted the first session's entries; the rest stay memoized
    sessions.tail.zip(graphs.tail).foreach { case (s, g) => assert(TpchGraph.snapshot(s, d) eq g) }
    sessions.tail.zip(events.tail).foreach { case (s, e) => assert(EventsReplay.snapshot(s, d) eq e) }
    graphs.tail.foreach { g =>
      assert(g.edges.storageLevel != NONE && g.currentFacts.storageLevel != NONE,
        "an eviction dropped views a memoized session still reads")
    }
    events.tail.foreach { e =>
      assert(Seq(e.currentFacts, e.store.factsDF, e.store.touchesDF).forall(_.storageLevel != NONE),
        "an eviction dropped views a memoized session still reads")
    }
  }
}
