package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.graph.GraftGraph
import graft.model.{A, PropType}
import graft.pipeline.{SketchOps, TextOps, VectorOps}
import graft.projection.{EventsReplay, TpchGraph}
import graft.snapshot.Snapshot
import graft.streaming.EventStream
import graft.util.Staged

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` twin where
  * SQL-expressible) per implemented operator from SURVEY.md §2 and the
  * LLM-pipeline brief. Column names are aliased identically on both sides
  * (the driver's compare hashes columns sorted by name). */
object SparkEntry {

  import TpchGraph._

  /** Flagship: the 3-hop traversal (FluxBenchmarkTestSuite.java:30-56
    * re-expressed set-at-a-time) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    hop3(spark, "/root/testdata/sf0.001")

  // ---- helpers ----

  /** Parse a wall-clock literal AS UTC, independent of the JVM default
    * timezone (Timestamp.valueOf would use the host zone, silently
    * shifting every asOf boundary vs the oracle's naive timestamps). */
  private def ts(s: String) = Timestamp.from(
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  private def docs(spark: SparkSession, dir: String) =
    spark.read.parquet(s"$dir/documents.parquet")
  private def emb(spark: SparkSession, dir: String) =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Typed vertex property view (e, <alias>). */
  private def vprop(s: Snapshot, key: String, t: PropType, alias: String): DataFrame =
    s.prop(key, t, A.Vertex).select(col("e"), col("v").as(alias))

  /** The relational CONTRACT of the order-dependent BFD packing
    * (VERDICT r7 #5), one row: every doc packed exactly once, token
    * mass preserved, over-budget bins are EXACTLY the oversize
    * singletons (BFD never overfills an open bin), and the bin count
    * inside the BFD bound — ≤1 half-empty bin per shard means every
    * other non-oversize bin carries more than budget/2 tokens, so
    * bins − oversize ≤ shards + Σsmall/(budget/2+1). Shared by
    * `pack_invariants` and `curation_pipeline_pack`. */
  private def packInvariants(packed0: DataFrame, budget: Int,
                             shards: Int = 8): DataFrame = Staged.run { stage =>
    val packed = stage.checkpoint(packed0)
    // coalesce: sums over an EMPTY packing must report 0, not null
    // (an all-filtered upstream is a legal, checkable state)
    val agg = packed.agg(
      coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
      coalesce(sum(col("total_tokens")), lit(0L)).as("total_tokens"),
      coalesce(sum(when(col("total_tokens") > budget, 1L).otherwise(0L)), lit(0L))
        .as("oversize_bins"),
      coalesce(sum(when(col("total_tokens") > budget && col("n_docs") > 1, 1L)
        .otherwise(0L)), lit(0L)).as("overfull_bins"),
      count(lit(1)).as("n_bins"),
      coalesce(sum(when(col("total_tokens") <= budget, col("total_tokens"))
        .otherwise(0L)), lit(0L)).as("small_tokens"))
    val distinctDocs = packed.select(explode(col("doc_ids")).as("doc_id"))
      .agg(countDistinct(col("doc_id")).as("distinct_docs"))
    agg.join(distinctDocs, lit(true))
      .select(col("n_docs"), col("distinct_docs"), col("total_tokens"),
        col("oversize_bins"), col("overfull_bins"),
        (col("n_bins") - col("oversize_bins") <=
          lit(shards) + floor(col("small_tokens") / lit(budget / 2 + 1)))
          .as("bins_within_bound"))
      .localCheckpoint(true)
  }

  /** Memoized compacted / retained stores per (session, sf dir, cutoff)
    * — the deployment shape (ADVICE r6): compaction is a ONE-TIME
    * maintenance pass, billed as `build_compaction` in Bench like the
    * IVF/PQ index builds, so the registered queries measure the
    * post-compaction READ, not a per-rep rewrite. */
  private[graft] object CompactionCache {
    // same LRU bound as the ANN/graph caches (compacted stores hold
    // localCheckpoint blocks; eviction drops the reference and lets the
    // ContextCleaner reclaim them)
    private val cache = new graft.util.LruMemo[
      (SparkSession, String, Option[Timestamp]), graft.log.BulkFactStore](
      VectorOps.MaxCachedIndexes, _ => ())
    def compacted(s: SparkSession, d: String): graft.log.BulkFactStore =
      cache.getOrBuild((s, d, None))(
        graft.log.Compaction.compact(s, EventsReplay.snapshot(s, d).store))
    // keyed on the cutoff TIMESTAMP, not its resolved tx: resolveTx is a
    // Spark aggregation over the (unpersisted) txs table, and paying it
    // per call would put a redundant job inside every cached read
    def retained(s: SparkSession, d: String, cutoff: Timestamp): graft.log.BulkFactStore =
      cache.getOrBuild((s, d, Some(cutoff))) {
        val st = EventsReplay.snapshot(s, d).store
        graft.log.Compaction.compactBefore(s, st, st.resolveTx(cutoff))
      }
  }

  /** Memoized base-build + incremental append per (session, sf dir):
    * base index over vec_id % 7 != 0, the residue class appended via
    * [[VectorOps.ivfAppend]]. Construction is billed in `build_ivf`. */
  private[graft] object IvfAppendCache {
    private val cache = new graft.util.LruMemo[
      (SparkSession, String), VectorOps.IvfAppended](
      VectorOps.MaxCachedIndexes, _.index.indexed.unpersist(false))
    def get(s: SparkSession, d: String): VectorOps.IvfAppended =
      cache.getOrBuild((s, d)) {
        val e = s.read.parquet(s"$d/embeddings.parquet")
        val base = VectorOps.ivfBuild(e.where(pmod(col("vec_id"), lit(7)) =!= 0))
        VectorOps.ivfAppend(base, e.where(pmod(col("vec_id"), lit(7)) === 0))
      }
  }

  /** recall@10 of an ANN result against the exact top-10: (q, hits,
    * recall). `ann` must carry (q, nb); `truth` is bruteForceTopK's
    * (q, nb, sim). The oracle twins re-derive BOTH sides in DuckDB (the
    * replicated-index CTE chain vs its own exact rank), so the recall
    * numbers are cross-engine-checked, not assumed. */
  private def annRecall(ann: DataFrame, truth: DataFrame): DataFrame =
    ann.join(truth.select(col("q"), col("nb"), lit(1L).as("hit")), Seq("q", "nb"), "left")
      .groupBy(col("q"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("q"), col("hits"), round(col("hits") / 10d, 4).as("recall"))

  /** One-row (n_vertices, n_edges) of live elements in a snapshot. */
  private def liveElementCounts(snap: Snapshot): DataFrame =
    snap.currentFacts.where(col("attr") === A.ElementType)
      .agg(
        coalesce(sum(when(col("vStr") === A.Vertex, 1L).otherwise(0L)), lit(0L)).as("n_vertices"),
        coalesce(sum(when(col("vStr") === A.Edge, 1L).otherwise(0L)), lit(0L)).as("n_edges"))

  private def hop3(spark: SparkSession, dir: String): DataFrame = {
    // customer -placed-> order -contains-> part -supplied_by-> supplier,
    // purely as chained edge equi-joins on the snapshot's edges view (the
    // reference's per-vertex nested loop, set-at-a-time).
    val e = TpchGraph.snapshot(spark, dir).edges
    val placed = e.where(col("label") === "placed")
      .select(col("outV").as("c"), col("inV").as("o"))
    val contains = e.where(col("label") === "contains")
      .select(col("outV").as("o"), col("inV").as("p"))
    val supplied = e.where(col("label") === "supplied_by")
      .select(col("outV").as("p"), col("inV").as("s"))
    placed.join(contains, "o").join(supplied, "p")
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("s")).as("n_suppliers"))
  }

  /** Scripted CRUD session (addVertex/addEdge/setProperty/removeProperty/
    * removeVertex cascade) through the interactive API, read back through
    * the set-oriented Snapshot path. */
  private def crudGraph(spark: SparkSession): GraftGraph = {
    val g = new GraftGraph(spark)
    val alice = g.addVertex(); alice.setProperty("name", "alice")
    val bob = g.addVertex(); bob.setProperty("name", "bob")
    val carol = g.addVertex(); carol.setProperty("name", "carol")
    val dave = g.addVertex(); dave.setProperty("name", "dave")
    g.addEdge(alice, bob, "knows")
    g.addEdge(bob, carol, "knows")
    g.addEdge(dave, alice, "knows")
    g.addEdge(carol, dave, "likes")
    alice.setProperty("age", 30L); alice.setProperty("age", 31L)
    bob.setProperty("tmp", "x"); bob.removeProperty("tmp")
    g.removeVertex(dave) // cascades: removes dave→alice and carol→dave
    g
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 scans / lookups / counts over the TPC-H graph projection ----
    "scan_vertices" -> ((s, d) =>
      TpchGraph.snapshot(s, d).vertexIds.select(col("id"))),

    "scan_edges" -> ((s, d) =>
      TpchGraph.snapshot(s, d).edges.select(col("id"), col("label"), col("outV"), col("inV"))),

    "sql_serving" -> { (s, d) =>
      // the serving layer (Rexster analog): snapshot relations published
      // to the session catalog, then queried with PLAIN SQL across two
      // views — what a Thrift/Connect client would run
      graft.serve.GraftViews.register(TpchGraph.snapshot(s, d))
      s.sql("""SELECT e.label, count(*) AS n_edges,
               |  count(DISTINCT v.id) AS n_src
               |FROM graft_edges e JOIN graft_vertex_ids v ON v.id = e.outV
               |GROUP BY e.label""".stripMargin)
    },

    "lookup_vertex" -> { (s, d) =>
      val snap = TpchGraph.snapshot(s, d)
      val cid = VCustomer + 42L
      vprop(snap, "name", PropType.PString, "name")
        .join(vprop(snap, "acctbal", PropType.PDouble, "acctbal"), "e")
        .join(vprop(snap, "mktsegment", PropType.PString, "mktsegment"), "e")
        .where(col("e") === cid)
        .select(col("e").as("id"), col("name"), col("acctbal"), col("mktsegment"))
    },

    "lookup_edge" -> { (s, d) =>
      val snap = TpchGraph.snapshot(s, d)
      // probe id: the first contains edge (min orderkey, seq 1) —
      // computed from the raw table so the lookup itself stays a pure
      // point filter on the edge id (getEdge, FluxGraph.java:123-134)
      val ok = s.read.parquet(s"$d/lineitem.parquet")
        .agg(min(col("l_orderkey")).cast("long")).head.getLong(0)
      val eid = EContains + ok * graft.projection.TpchGraph.LiStride + 1L
      snap.edges.where(col("id") === eid)
        .join(snap.prop("quantity", PropType.PDouble, A.Edge)
          .select(col("e").as("id"), col("v").as("quantity")), "id")
        .select(col("id"), col("label"), col("outV"), col("inV"), col("quantity"))
    },

    "filter_by_prop" -> ((s, d) =>
      TpchGraph.snapshot(s, d)
        .elementsByProp("mktsegment", PropType.PString, "BUILDING", A.Vertex)
        .select(col("id"))),

    "count_by_prop" -> ((s, d) =>
      TpchGraph.snapshot(s, d)
        .elementsByProp("mktsegment", PropType.PString, "BUILDING", A.Vertex)
        .agg(count(lit(1)).as("cnt"))),

    "edges_by_label" -> ((s, d) =>
      TpchGraph.snapshot(s, d).edges.where(col("label") === "placed")
        .select(col("id"), col("outV"), col("inV"))),

    "edges_by_prop" -> ((s, d) =>
      // attr-value scan on EDGE properties (§2.1 #6, beyond the label
      // fast-path): every contains edge whose returnflag is 'R'
      TpchGraph.snapshot(s, d)
        .elementsByProp("returnflag", PropType.PString, "R", A.Edge)
        .select(col("id"))),

    // ---- §2.4 traversals ----
    "both_edges" -> { (s, d) =>
      // BOTH-direction incident edges as the reference's out ++ in concat
      // (bag semantics, §2.4 #38) for one part vertex
      val vid = VPart + 42L
      val e = TpchGraph.snapshot(s, d).edges
      e.where(col("outV") === vid).select(col("id"), lit("out").as("dir"))
        .unionAll(e.where(col("inV") === vid).select(col("id"), lit("in").as("dir")))
    },

    "out_edges" -> { (s, d) =>
      TpchGraph.snapshot(s, d).edges
        .where(col("outV") === (VCustomer + 42L))
        .select(col("id"), col("label"))
    },

    "out_edges_labeled" -> { (s, d) =>
      // vertex.getEdges(dir, labels...) (§2.4 #28): direction + label
      // filter in one pass over the edges view
      TpchGraph.snapshot(s, d).edges
        .where(col("outV") === (VCustomer + 42L) && col("label") === "placed")
        .select(col("id"), col("label"))
    },

    "degree_histogram" -> { (s, d) =>
      // graph-wide degree distribution: two hash aggregations (outV, then
      // degree), both with map-side partials — the standard analytics
      // shape over the edges view
      TpchGraph.snapshot(s, d).edges
        .groupBy(col("outV")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
    },

    "hop1_neighbors" -> { (s, d) =>
      TpchGraph.snapshot(s, d).edges.where(col("label") === "placed")
        .select(col("outV").as("src"), col("inV").as("dst"))
    },

    "hop2_parts" -> { (s, d) =>
      val e = TpchGraph.snapshot(s, d).edges
      val placed = e.where(col("label") === "placed" && col("outV") === (VCustomer + 42L))
        .select(col("inV").as("o"))
      val contains = e.where(col("label") === "contains")
        .select(col("outV").as("o"), col("inV").as("id"))
      placed.join(contains, "o").select(col("id")).distinct()
    },

    "hop3_traversal" -> ((s, d) => hop3(s, d)),

    "hop3_graphx" -> ((s, d) =>
      graft.gx.GraphXTraversal.hop3(s, TpchGraph.snapshot(s, d))),

    "connected_components" -> ((s, d) =>
      // undirected CC on the in_nation subgraph: one star per nation
      // (nation + its customers + suppliers); component id = min member
      // id = the nation vertex (2M+n < 3M+c < 4M+s), which is what the
      // oracle derives relationally from the known star structure while
      // the relational min-label rounds run the GENERAL algorithm
      graft.gx.GraphXTraversal.componentsDF(
        s, TpchGraph.snapshot(s, d), Seq("in_nation"))),

    "pagerank" -> ((s, d) =>
      // static PageRank as relational rounds on the in_nation/in_region
      // star DAG, where 3 iterations ARE the fixpoint and the oracle
      // computes the closed form relationally (normalization included)
      // — the general iterative engine checked against a known
      // structure, like connected_components. The full-graph GraphX
      // twin (pageRankDF) stays spec-gated in GraphXAnalyticsSpec.
      graft.gx.GraphXTraversal.pageRankStarDF(s, TpchGraph.snapshot(s, d))),

    "pagerank_full" -> ((s, d) =>
      // static PageRank over the FULL snapshot graph, 10 fixed
      // iterations, top-30 cut — the RELATIONAL power method (§42):
      // result-identical to the GraphX Pregel variant (spec-proven
      // pairwise in GraphXAnalyticsSpec) but each round moves only the
      // vertex-sized rank frame against pre-partitioned contribution
      // edges, where Pregel ships replicated vertex views. The GraphX
      // twin pageRankDF stays spec-gated. Oracle: 10 unrolled
      // join+aggregate steps over the edge union, then rank·|V|/Σrank.
      graft.gx.GraphXTraversal.pageRankRelationalDF(
        s, TpchGraph.snapshot(s, d), 10, 30)),

    "pagerank_personal" -> ((s, d) =>
      // personalized PageRank from customer 42: teleport returns only to
      // the source, rank = proximity to it. Relational rounds sharing
      // pagerank_full's memoized contribution edges; GraphX twin
      // spec-gated. Oracle unrolls the same delta-teleport power method
      // and the sum-to-1 normalization.
      graft.gx.GraphXTraversal.personalizedPageRankRelationalDF(
        s, TpchGraph.snapshot(s, d), 3000042L, 10, 30)),

    "triangle_count" -> ((s, d) =>
      // triangle census of the bulk-quantity part-co-occurrence graph
      // from one degree-oriented edge-support pass (k-truss's wedge
      // join); the oracle recomputes it with a 3-way relational self-join
      graft.gx.GraphXTraversal.triangleCensusDF(s, TpchGraph.snapshot(s, d))),

    "shortest_paths" -> ((s, d) =>
      // BFS to supplier landmarks over the order DAG: the SSSP
      // relaxation rounds at unit weight, stopped when a round reaches
      // no new pair; the DAG's level structure gives the oracle a
      // 3-join closed form
      graft.gx.GraphXTraversal.shortestPathsDF(
        s, TpchGraph.snapshot(s, d), Seq(4000001L, 4000002L, 4000003L))),

    "harmonic_centrality" -> ((s, d) =>
      // Σ 1/dist to the supplier landmarks over the order DAG (NEW r11),
      // each reciprocal quantized to integer micros before the order-free
      // sum; rides the same BFS rounds as shortest_paths, and the twin
      // the same closed-form level structure
      graft.gx.GraphXTraversal.harmonicCentralityDF(
        s, TpchGraph.snapshot(s, d), Seq(4000001L, 4000002L, 4000003L))),

    "sssp_weighted" -> ((s, d) =>
      // weighted Bellman–Ford to the supplier landmarks (NEW r14
      // session 2): min-cost over quantity-weighted contains edges,
      // pure long arithmetic — general relational relaxation rounds
      // under test, closed-form level mins in the twin
      graft.gx.GraphXTraversal.ssspWeightedDF(
        s, TpchGraph.snapshot(s, d), Seq(4000001L, 4000002L, 4000003L))),

    "graph_walks" -> ((s, d) =>
      // deterministic DeepWalk training sequences (NEW r14 session 3):
      // one fixed-length walk per customer vertex, next hop = md5
      // hash-argmin over out-neighbors — reproducible bit-for-bit in
      // any engine, frontier-sized state per step; the twin unrolls
      // the same argmin per step
      graft.gx.GraphXTraversal.randomWalksDF(s, TpchGraph.snapshot(s, d))),

    "hyperanf" -> ((s, d) =>
      // HyperANF neighborhood function (NEW r14): per-vertex dense
      // 64-register HLL arrays of the out-ball, grown one hop per
      // systolic relational round (|V| rows regardless of ball sizes,
      // changed-frontier pulls only — never the ball membership
      // itself); pinned-integer estimator as a pure projection. The
      // twin derives exact balls from the DAG's closed form and
      // replays the registers + estimator bit-for-bit
      graft.gx.HyperAnf.hyperAnfDF(s, TpchGraph.snapshot(s, d))),

    "effective_diameter" -> ((s, d) =>
      // 90% effective diameter from the same sketches: N(h) = Σ_v est,
      // decimal-safe ×10/×9 integer compare (NEW r14)
      graft.gx.HyperAnf.effectiveDiameterDF(s, TpchGraph.snapshot(s, d))),

    "betweenness_landmarks" -> ((s, d) =>
      // Brandes dependency accumulation to the supplier landmarks
      // (NEW r12): general level-synchronized relational sweep with
      // the INTEGER-quantized δ recursion ((σv·(1e6+δu)) div σu — no
      // float ratios, engine-exact); the twin derives the same
      // integers from the DAG's closed-form level structure
      graft.gx.GraphXTraversal.betweennessLandmarksDF(
        s, TpchGraph.snapshot(s, d), Seq(4000001L, 4000002L, 4000003L))),

    "clustering_coeff" -> ((s, d) =>
      // per-vertex local clustering coefficient on the same pair graph;
      // the oracle recomputes per-vertex wedge closure + degrees in SQL
      graft.gx.GraphXTraversal.clusteringCoeffDF(s, TpchGraph.snapshot(s, d))),

    "kcore" -> ((s, d) =>
      // 12-core peeled to the FIXPOINT (nominal 12 rounds, hard cap 64)
      // with an honest `converged` flag; the oracle unrolls the peels as
      // sequential CTE steps plus one extra round to verify convergence
      graft.gx.GraphXTraversal.kCoreDF(s, TpchGraph.snapshot(s, d))),

    "pagerank_weighted" -> ((s, d) =>
      // quantity-weighted rank (NEW r11): contains edges propagate in
      // proportion to line-item quantity — relational power iteration
      // over the memoized weighted contribution edges; the twin unrolls
      // the same weighted rounds
      graft.gx.GraphXTraversal.pageRankWeightedDF(s, TpchGraph.snapshot(s, d))),

    "ktruss" -> ((s, d) =>
      // 4-truss: every surviving edge closes >= 2 triangles in the
      // surviving subgraph — the edge-cohesion dual of kcore, peeled to
      // the (order-independent) fixpoint with the same honest
      // `converged` flag; the twin unrolls the support peels + 1
      graft.gx.GraphXTraversal.kTrussDF(s, TpchGraph.snapshot(s, d))),

    "rich_club" -> ((s, d) =>
      // hub interconnectedness (NEW r11): φ(k) = 2E_k/(N_k(N_k−1)) over
      // degree thresholds — exact integer club/edge counts, one
      // round(6) division per row; the twin replays each threshold's
      // semi-joins
      graft.gx.GraphXTraversal.richClubDF(s, TpchGraph.snapshot(s, d))),

    "degree_tail_alpha" -> ((s, d) =>
      // Hill tail-exponent of the pair-graph degree distribution (NEW
      // r11): the scale-free/hub-heaviness scalar — ln-degrees in
      // integer micros over the top-k order statistics, one final
      // division; the twin replays the same cut and integer chain
      graft.gx.GraphXTraversal.degreeTailAlphaDF(s, TpchGraph.snapshot(s, d))),

    "local_bridges" -> ((s, d) =>
      // weak ties (NEW r11): pair-graph edges with triangle support 0 —
      // the links joining otherwise-separate neighborhoods — with
      // endpoint degrees attached; the twin anti-joins the wedge-closure
      // support table
      graft.gx.GraphXTraversal.localBridgesDF(s, TpchGraph.snapshot(s, d))),

    "communities_lpa" -> ((s, d) =>
      // 4 synchronous label-propagation rounds over the pair graph with
      // the deterministic (count desc, label asc) tie-break — GraphX's
      // built-in LPA is map-iteration-order nondeterministic, this one
      // is a pure function; the twin unrolls the same rounds
      graft.gx.GraphXTraversal.communitiesLpaDF(s, TpchGraph.snapshot(s, d))),

    "community_modularity" -> ((s, d) =>
      // Newman Q of the LPA labeling: exact integer numerator
      // Σ(4·m·in_c − deg_c²), ONE final division by 4m² (the
      // assortativity doctrine) — the twin replays the LPA rounds then
      // the same integer chain
      graft.gx.GraphXTraversal.modularityDF(s, TpchGraph.snapshot(s, d))),

    "assortativity" -> ((s, d) =>
      // Newman degree-mixing coefficient over the pair graph; every
      // aggregate stays an exact integer until the single final
      // division, so the oracle replays the double bit-for-bit
      graft.gx.GraphXTraversal.assortativityDF(s, TpchGraph.snapshot(s, d))),

    "adamic_adar" -> ((s, d) =>
      // link-prediction tie strength on EXISTING pair-graph edges:
      // Σ 1/ln(deg w) over common neighbors, each wedge quantized to
      // integer micros before the order-free sum; wedge join + semi-join
      // against the canonical edge set (the triangle census's shape)
      graft.gx.GraphXTraversal.adamicAdarDF(s, TpchGraph.snapshot(s, d))),

    // ---- §2.3 query builder (has + interval), §2.3 property surface ----
    "query_has_interval" -> { (s, d) =>
      val snap = TpchGraph.snapshot(s, d)
      snap.elementsByProp("mktsegment", PropType.PString, "BUILDING", A.Vertex)
        .join(vprop(snap, "acctbal", PropType.PDouble, "acctbal"),
          col("id") === col("e"))
        .where(col("acctbal") >= 1000d && col("acctbal") < 5000d)
        .select(col("id"))
    },

    "property_keys" -> ((s, d) =>
      TpchGraph.snapshot(s, d).propFacts(A.Vertex).select(col("key")).distinct()),

    "edge_property_keys" -> ((s, d) =>
      TpchGraph.snapshot(s, d).propFacts(A.Edge).select(col("key")).distinct()),

    "edge_props" -> { (s, d) =>
      // typed property read on edges: quantity of every `contains` edge
      TpchGraph.snapshot(s, d).prop("quantity", PropType.PDouble, A.Edge)
        .select(col("e").as("id"), col("v").as("quantity"))
    },

    // ---- §2.6 temporal (events replayed as backdated txs) ----
    "asof_values" -> { (s, d) =>
      val snap = EventsReplay.snapshot(s, d).asOf(ts("2024-01-15 00:00:00"))
      val lt = vprop(snap, "last_type", PropType.PString, "last_type")
        .select(col("e").as("id"), col("last_type"))
      val vl = vprop(snap, "value", PropType.PDouble, "value")
        .select(col("e").as("id"), col("value"))
      lt.join(vl, Seq("id"), "left")
    },

    "version_count" -> ((s, d) =>
      graft.temporal.VersionChains.versionCounts(EventsReplay.snapshot(s, d).store)),

    // log compaction: rewrite the multi-tx event store as latest-wins
    // live facts only (preDeduped → later snapshots skip the latest-wins
    // shuffle); the head state must survive the rewrite EXACTLY, which
    // the full-history oracle checks
    // retention compaction: history at or before Jan-10 squashed, later
    // history kept verbatim — an asOf at Jan-15 must still be EXACT (the
    // same oracle as asof_values, over a store whose early history is gone)
    "retained_state" -> { (s, d) =>
      val retained = CompactionCache.retained(s, d, ts("2024-01-10 00:00:00"))
      val snap = new Snapshot(retained).asOf(ts("2024-01-15 00:00:00"))
      val lt = vprop(snap, "last_type", PropType.PString, "last_type")
        .select(col("e").as("id"), col("last_type"))
      val vl = vprop(snap, "value", PropType.PDouble, "value")
        .select(col("e").as("id"), col("value"))
      lt.join(vl, Seq("id"), "left")
    },

    "compacted_state" -> { (s, d) =>
      val comp = CompactionCache.compacted(s, d)
      val snap = new Snapshot(comp)
      val lt = vprop(snap, "last_type", PropType.PString, "last_type")
        .select(col("e").as("id"), col("last_type"))
      val vl = vprop(snap, "value", PropType.PDouble, "value")
        .select(col("e").as("id"), col("value"))
      lt.join(vl, Seq("id"), "left")
    },

    "version_chain" -> { (s, d) =>
      val st = EventsReplay.snapshot(s, d).store
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      st.touchesDF.where(col("e") === lit(EventsReplay.VUser + 7L))
        .join(st.txsDF, "tx")
        .withColumn("t_start", date_format(col("txInstant"), fmt))
        .withColumn("t_end",
          lead(col("t_start"), 1).over(Window.partitionBy(col("e")).orderBy(col("tx"))))
        .select(col("tx"), col("t_start"), col("t_end"))
    },

    "version_intervals" -> { (s, d) =>
      val st = EventsReplay.snapshot(s, d).store
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      graft.temporal.VersionChains.intervals(st)
        .select(col("e").as("id"), col("tx"),
          date_format(col("validFrom"), fmt).as("v_from"),
          date_format(col("validTo"), fmt).as("v_to"))
    },

    "neighbors_by_name" -> { (s, d) =>
      // attribute filter + reverse traversal: everyone in nation NATION_7
      val snap = TpchGraph.snapshot(s, d)
      val nation = snap.elementsByProp("name", PropType.PString, "NATION_7", A.Vertex)
        .select(col("id").as("nid"))
      snap.edges.where(col("label") === "in_nation")
        .join(nation, col("inV") === col("nid"))
        .select(col("outV").as("id"))
    },

    "asof_diff" -> { (s, d) =>
      // the engine-API difference graph (DiffGraph.of → Snapshot
      // .differenceFacts), projected onto the `value` property — same
      // result as a hand-written anti-join of the two asOf value views
      val head = EventsReplay.snapshot(s, d)
      graft.graph.DiffGraph.of(
          head.asOf(ts("2024-01-20 00:00:00")), head.asOf(ts("2024-01-10 00:00:00")))
        .factsDF
        .where(col("attr") === "value.double." + A.Vertex)
        .select(col("e").as("id"), col("vDouble").as("value"))
    },

    "diff_workingset" -> { (s, d) =>
      // difference(ws, d1, d2) over the bulk store, scoped to users 0-49:
      // every changed fact (both properties) with the normalize step
      val head = EventsReplay.snapshot(s, d)
      val ws = s.range(0, 50).select((lit(EventsReplay.VUser) + col("id")).as("e"))
      graft.graph.DiffGraph.of(
          head.asOf(ts("2024-01-20 00:00:00")), head.asOf(ts("2024-01-10 00:00:00")),
          Some(ws))
        .factsDF
        .where(col("attr") =!= A.ElementType)
        .select(col("e").as("id"), col("attr"),
          col("vStr").as("v_str"), col("vDouble").as("v_dbl"))
    },

    "supplier_revenue" -> { (s, d) =>
      // analytics over EDGE properties: revenue per supplier. The contains
      // edge (order→part) carries the lineitem measures; the supplied_by
      // edge (part→supplier) of the SAME lineitem shares its key offset —
      // pure equi-joins over the snapshot views, decimal sums for an
      // order-independent exact aggregate.
      val snap = TpchGraph.snapshot(s, d)
      val ep = snap.prop("extendedprice", PropType.PDouble, A.Edge)
        .select(col("e"), col("v").as("extendedprice"))
      val di = snap.prop("discount", PropType.PDouble, A.Edge)
        .select(col("e"), col("v").as("discount"))
      val sb = snap.edges.where(col("label") === "supplied_by")
        .select((col("id") - ESuppliedBy + EContains).as("e"),
          col("inV").as("supplier"))
      ep.join(di, "e").join(sb, "e")
        .groupBy(col("supplier"))
        // sum in DECIMAL (order-independent, exact), present as double
        .agg(sum((col("extendedprice") * (lit(1d) - col("discount")))
          .cast("decimal(18,4)")).as("revenue"))
        .select(col("supplier"), round(col("revenue").cast("double"), 2).as("revenue"))
    },

    "sql_views" -> { (s, d) =>
      // the spark.sql relational surface over registered snapshot views
      // (SURVEY §1.4) — suppliers per nation via plain SQL on
      // graft_edges ⋈ graft_vertex_props; Catalyst prunes and pushes
      // through the views like any subquery
      TpchGraph.snapshot(s, d).createViews("graft")
      s.sql("""
        SELECT p.vStr AS nation, CAST(count(*) AS BIGINT) AS n_suppliers
        FROM graft_edges e
        JOIN graft_vertex_props p ON e.inV = p.e
        WHERE e.label = 'in_nation' AND p.key = 'name'
          AND e.outV >= 4000000 AND e.outV < 5000000
        GROUP BY p.vStr""")
    },

    // ---- OLAP breadth over snapshot views: grouped top-k, rollup, pivot ----
    "top_orders_per_customer" -> { (s, d) =>
      // top-3 orders per customer by totalprice: ONE shuffle on the
      // group key, rank filter inside whole-stage codegen — the grouped
      // top-k shape that replaces a global sort at scale
      val snap = TpchGraph.snapshot(s, d)
      val placed = snap.edges.where(col("label") === "placed")
        .select(col("outV").as("customer"), col("inV").as("order_v"))
      val tp = snap.prop("totalprice", PropType.PDouble, A.Vertex)
        .select(col("e").as("order_v"), col("v").as("totalprice"))
      placed.join(tp, "order_v")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("customer"))
            .orderBy(col("totalprice").desc, col("order_v"))))
        .where(col("rk") <= 3)
        .select(col("customer"), col("order_v"), col("totalprice"), col("rk"))
    },

    "orders_rollup" -> { (s, d) =>
      // ROLLUP lattice (year, priority) → (year) → () in one pass —
      // Catalyst expands the grouping sets without re-reading the input
      val snap = TpchGraph.snapshot(s, d)
      val od = snap.prop("orderdate", PropType.PTimestamp, A.Vertex)
        .select(col("e"), year(col("v")).as("o_year"))
      val op = snap.prop("orderpriority", PropType.PString, A.Vertex)
        .select(col("e"), col("v").as("priority"))
      val tp = snap.prop("totalprice", PropType.PDouble, A.Vertex)
        .select(col("e"), col("v").as("totalprice"))
      od.join(op, "e").join(tp, "e")
        .rollup(col("o_year"), col("priority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total"))
    },

    "orders_pivot" -> { (s, d) =>
      // pivot with an EXPLICIT value list (deterministic columns, no
      // extra distinct-scan job); parquet-safe aliases
      val snap = TpchGraph.snapshot(s, d)
      val od = snap.prop("orderdate", PropType.PTimestamp, A.Vertex)
        .select(col("e"), year(col("v")).as("o_year"))
      val op = snap.prop("orderpriority", PropType.PString, A.Vertex)
        .select(col("e"), col("v").as("priority"))
      od.join(op, "e")
        .groupBy(col("o_year"))
        .pivot("priority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .toDF("o_year", "p1_urgent", "p2_high", "p3_medium",
          "p4_not_specified", "p5_low")
        // pivot-count leaves NULL where a (year, priority) cell is empty;
        // the relational twin counts 0 — align on 0
        .select(col("o_year") +:
          Seq("p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low")
            .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    },

    "time_ids" -> { (s, d) =>
      // getTimeId set-at-a-time (§2.6 #36): max tx touching each element
      // over facts ∪ touches, one hash aggregation
      graft.temporal.VersionChains.timeIds(EventsReplay.snapshot(s, d).store)
        .select(col("e").as("id"), col("timeId").as("time_id"))
    },

    "since_facts" -> { (s, d) =>
      // db.since(t) (ImmutableFluxGraph.java:81): raw facts appended
      // after a checkpoint — the incremental-consumer surface (instants
      // are monotone in tx, so the instant cut equals the tx cut)
      val head = EventsReplay.snapshot(s, d)
      val t = head.store.resolveTx(ts("2024-01-20 00:00:00"))
      head.since(t).where(col("attr") === "value.double." + A.Vertex)
        .select(col("e").as("id"), col("tx"), col("vDouble").as("value"), col("added"))
    },

    "version_next_values" -> { (s, d) =>
      // getNextVersion's value read (§2.6 #43-44), the lead twin of
      // version_prev_values: null next_value marks the head version
      val st = EventsReplay.snapshot(s, d).store
      val w = Window.partitionBy(col("e")).orderBy(col("tx"))
      st.factsDF.where(col("attr") === "value.double." + A.Vertex)
        .select(col("e"), col("tx"), when(col("added"), col("vDouble")).as("value"))
        .withColumn("next_value", lead(col("value"), 1).over(w))
        .select(col("e").as("id"), col("tx"), col("value"), col("next_value"))
    },

    "time_aware_filter" -> { (s, d) =>
      // TimeAwareFilter (§2.3 #26) set-at-a-time: the versions of one
      // element whose tx instant falls inside [Jan 10, Jan 20) — the bulk
      // twin of getPreviousVersions(intervalFilter) on a handle
      val st = EventsReplay.snapshot(s, d).store
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      st.touchesDF.where(col("e") === lit(EventsReplay.VUser + 7L))
        .join(st.txsDF, "tx")
        .where(col("txInstant") >= lit(ts("2024-01-10 00:00:00")) &&
          col("txInstant") < lit(ts("2024-01-20 00:00:00")))
        .select(col("tx"), date_format(col("txInstant"), fmt).as("at"))
    },

    "version_prev_values" -> { (s, d) =>
      // getPreviousVersion's value read, set-at-a-time for EVERY version of
      // EVERY element: one lag window partitioned by element (§2.6 41-44)
      val st = EventsReplay.snapshot(s, d).store
      val w = Window.partitionBy(col("e")).orderBy(col("tx"))
      st.factsDF.where(col("attr") === "value.double." + A.Vertex)
        .select(col("e"), col("tx"), when(col("added"), col("vDouble")).as("value"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("e").as("id"), col("tx"), col("value"), col("prev_value"))
    },

    // ---- §2.2 mutations through the interactive API (static oracles) ----
    "crud_timeline" -> { (s, d) =>
      // removeEdge (§2.2 #14) + clear (#18) + asOf reads: live element
      // counts at three checkpoints spanning an edge removal and a clear()
      val g = new GraftGraph(s)
      g.setTransactionTime(ts("2024-01-01 00:00:00"))
      val a = g.addVertex(); val b = g.addVertex(); val c = g.addVertex()
      val e1 = g.addEdge(a, b, "knows")
      g.addEdge(b, c, "knows"); g.addEdge(c, a, "knows")
      g.setTransactionTime(ts("2024-02-01 00:00:00")); g.removeEdge(e1)
      g.setTransactionTime(ts("2024-03-01 00:00:00")); g.clear()
      val head = Snapshot.head(g.log)
      Seq("jan" -> "2024-01-15 00:00:00", "feb" -> "2024-02-15 00:00:00",
        "mar" -> "2024-03-15 00:00:00").map { case (tag, at) =>
        liveElementCounts(head.asOf(ts(at)))
          .select(lit(tag).as("tag"), col("n_vertices"), col("n_edges"))
      }.reduce(_.unionAll(_))
    },

    "crud_remove_property" -> { (s, d) =>
      // removeProperty (§2.2 #17) with temporal visibility: `age` is live
      // at jan, retracted at feb; `name` survives both checkpoints
      val g = new GraftGraph(s)
      g.setTransactionTime(ts("2024-01-01 00:00:00"))
      val v = g.addVertex()
      v.setProperty("name", "n"); v.setProperty("age", 30L)
      g.setTransactionTime(ts("2024-02-01 00:00:00"))
      v.removeProperty("age")
      val head = Snapshot.head(g.log)
      Seq("jan" -> "2024-01-15 00:00:00", "feb" -> "2024-02-15 00:00:00")
        .map { case (tag, at) =>
          head.asOf(ts(at)).propFacts(A.Vertex).where(col("e") === v.id)
            .select(lit(tag).as("tag"), col("key"))
        }.reduce(_.unionAll(_))
    },

    "crud_version_pins" -> { (s, d) =>
      // isCurrentVersion (§2.3 #24) + getPreviousVersion's read surface
      // (§2.6 #42) through the handle API: the unpinned head sees the
      // latest value, the pinned previous version the old one
      val g = new GraftGraph(s)
      val v = g.addVertex()
      v.setProperty("p", 1L); v.setProperty("p", 2L)
      val prev = v.getPreviousVersion
      s.createDataFrame(Seq(
        ("head", v.isCurrentVersion, v.getProperty("p").asInstanceOf[Long]),
        ("prev", prev.isCurrentVersion, prev.getProperty("p").asInstanceOf[Long])))
        .toDF("tag", "is_current", "p")
    },

    "crud_intx" -> { (s, d) =>
      // explicit transaction batching (§2.2 #19): one inTx commits several
      // ops as ONE tx; a throwing inTx rolls back and leaks nothing
      val g = new GraftGraph(s)
      g.inTx {
        val a = g.addVertex(); val b = g.addVertex()
        g.addEdge(a, b, "knows")
        a.setProperty("name", "a")
      }
      val h1 = g.log.headTx
      val n1 = (g.getVertices().size + g.getEdges().size).toLong
      try g.inTx { g.addVertex(); throw new RuntimeException("rollback me") }
      catch { case e: RuntimeException if e.getMessage == "rollback me" => }
      val h2 = g.log.headTx
      val n2 = (g.getVertices().size + g.getEdges().size).toLong
      s.createDataFrame(Seq(("batch", h1, n1), ("rollback", h2, n2)))
        .toDF("tag", "head_tx", "n_elements")
    },

    "key_index_registry" -> { (s, d) =>
      // key-index registry round-trip (§2.8 #50-52)
      val g = new GraftGraph(s)
      g.createKeyIndex("name", A.Vertex)
      g.createKeyIndex("weight", A.Edge)
      g.createKeyIndex("age", A.Vertex)
      g.dropKeyIndex("age", A.Vertex)
      s.createDataFrame(
        g.getIndexedKeys(A.Vertex).toSeq.sorted.map(k => (A.Vertex, k)) ++
          g.getIndexedKeys(A.Edge).toSeq.sorted.map(k => (A.Edge, k)))
        .toDF("kind", "key")
    },

    "crud_is_deleted" -> { (s, d) =>
      // isDeleted (§2.3 #23) set-at-a-time: elements with history but no
      // live facts — an anti-join of ever-seen ids against the snapshot
      val g = crudGraph(s)
      val snap = Snapshot.head(g.log)
      snap.history.select(col("e")).distinct()
        .join(snap.currentFacts.select(col("e")).distinct(), Seq("e"), "left_anti")
        .select(col("e").as("id"))
    },

    "element_version_diff" -> { (s, d) =>
      // per-element difference of two version handles (§2.6 #47)
      val g = new GraftGraph(s)
      val v = g.addVertex()
      v.setProperty("age", 30L); v.setProperty("name", "alice")
      v.setProperty("age", 31L)
      val facts = g.difference(v, v.getPreviousVersion)
      s.createDataFrame(facts.map(f => (f.attr, f.vLong.longValue)))
        .toDF("attr", "v_long")
    },

    "persist_roundtrip" -> { (s, d) =>
      // storage URI save + open (§2.1 #11): write the CRUD session's log
      // as tx-bucketed parquet, reopen as a bulk store, count live elements
      val g = crudGraph(s)
      val root = "/root/repo/target/tmp/persist_roundtrip"
      g.log.save(root, txBucketSize = 10L)
      liveElementCounts(Snapshot.head(graft.log.FactLog.open(s, root)))
    },

    "log_checksums" -> ((s, d) =>
      // replication/backup integrity audit: per-attr fact counts plus an
      // ADDITIVE md5 checksum (Σ uint32(md5(row)) mod 2^61) — order-free,
      // so replicas compare without sorts or row pairing; the twin
      // re-derives every fact of the TPC-H projection and replays the sum
      graft.log.LogAudit.checksums(TpchGraph.snapshot(s, d).store.factsDF)),

    "read_formats" -> { (s, d) =>
      // GraphML / GraphSON / GML sources (§2.1 #8-10): load the same tiny
      // graph from each format, read edges back through the snapshot stack
      def edgesOf(load: GraftGraph => Unit, fmt: String): DataFrame = {
        val g = new GraftGraph(s)
        load(g)
        val snap = Snapshot.head(g.log)
        val names = snap.prop("name", PropType.PString, A.Vertex)
        snap.edges
          .join(names.select(col("e").as("outV"), col("v").as("src_name")), "outV")
          .join(names.select(col("e").as("inV"), col("v").as("dst_name")), "inV")
          .select(lit(fmt).as("fmt"), col("src_name"), col("label"), col("dst_name"))
      }
      val graphml =
        """<?xml version="1.0" encoding="UTF-8"?>
          |<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
          |  <key id="name" for="node" attr.name="name" attr.type="string"/>
          |  <key id="weight" for="edge" attr.name="weight" attr.type="float"/>
          |  <graph id="G" edgedefault="directed">
          |    <node id="1"><data key="name">marko</data></node>
          |    <node id="2"><data key="name">vadas</data></node>
          |    <edge id="7" source="1" target="2" label="knows"><data key="weight">0.5</data></edge>
          |  </graph>
          |</graphml>""".stripMargin
      val graphson =
        """{"graph": {"mode": "NORMAL",
          |  "vertices": [
          |    {"_id": "1", "_type": "vertex", "name": "marko"},
          |    {"_id": "2", "_type": "vertex", "name": "vadas"}
          |  ],
          |  "edges": [
          |    {"_id": "7", "_type": "edge", "_outV": "1", "_inV": "2", "_label": "knows", "weight": 0.5}
          |  ]}}""".stripMargin
      val gml =
        """graph [
          |  directed 1
          |  node [ id 1 name "marko" ]
          |  node [ id 2 name "vadas" ]
          |  edge [ source 1 target 2 label "knows" weight 0.5 ]
          |]""".stripMargin
      edgesOf(g => { graft.io.GraphReaders.inputGraphML(g,
          new java.io.ByteArrayInputStream(graphml.getBytes("UTF-8"))); () }, "graphml")
        .unionAll(edgesOf(g => { graft.io.GraphReaders.inputGraphSON(g, graphson); () }, "graphson"))
        .unionAll(edgesOf(g => { graft.io.GraphReaders.inputGML(g, gml); () }, "gml"))
    },

    "mutations_crud" -> { (s, d) =>
      val g = crudGraph(s)
      val snap = Snapshot.head(g.log)
      val names = snap.prop("name", PropType.PString, A.Vertex)
        .select(col("e"), col("v"))
      snap.edges
        .join(names.select(col("e").as("outV"), col("v").as("src_name")), "outV")
        .join(names.select(col("e").as("inV"), col("v").as("dst_name")), "inV")
        .select(col("src_name"), col("label"), col("dst_name"))
    },

    "property_type_dance" -> { (s, d) =>
      val g = new GraftGraph(s)
      val v = g.addVertex()
      v.setProperty("x", 1: java.lang.Integer) // Integer shares "long" attr
      v.setProperty("x", 2L)                   //   ⇒ plain overwrite
      v.setProperty("x", "s")                  // type change ⇒ retract+add
      v.setProperty("y", 1.5f)                 // float attr
      v.setProperty("y", 2.5d)                 // float→double type change
      Snapshot.head(g.log).currentFacts
        .where(col("e") === v.id && !col("attr").isin(A.reserved.toSeq: _*))
        .select(col("attr"), col("vStr"), col("vLong"), col("vDouble"))
    },

    "temporal_backdate" -> { (s, d) =>
      val g = new GraftGraph(s)
      g.setTransactionTime(ts("2024-01-01 00:00:00"))
      val v = g.addVertex()
      v.setProperty("p", 1L)
      g.setTransactionTime(ts("2024-02-01 00:00:00")); v.setProperty("p", 2L)
      g.setTransactionTime(ts("2024-03-01 00:00:00")); v.removeProperty("p")
      g.setTransactionTime(ts("2024-04-01 00:00:00")); v.setProperty("p", 4L)
      val snaps = Seq("jan" -> "2024-01-15 00:00:00", "feb" -> "2024-02-15 00:00:00",
        "mar" -> "2024-03-15 00:00:00", "apr" -> "2024-04-15 00:00:00")
      snaps.map { case (tag, at) =>
        Snapshot.head(g.log).asOf(ts(at)).prop("p", PropType.PLong, A.Vertex)
          .where(col("e") === v.id)
          .select(lit(tag).as("tag"), col("v").as("p"))
      }.reduce(_.unionAll(_))
    },

    // ---- LLM-pipeline: text analysis + dedup ----
    "text_stats" -> ((s, d) => TextOps.textStats(docs(s, d))),
    "token_counts" -> ((s, d) => TextOps.tokenCounts(docs(s, d))),
    "lang_stats" -> ((s, d) => TextOps.langStats(docs(s, d))),
    "quality_scores" -> { (s, d) =>
      TextOps.qualityScores(docs(s, d)).select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        round(col("punct_ratio"), 4).as("punct_ratio"),
        round(col("upper_ratio"), 4).as("upper_ratio"),
        round(col("chars_per_token"), 4).as("chars_per_token"))
    },
    "similar_docs" -> { (s, d) =>
      // exact "documents like this one" top-k: doc 0's 3-gram shingles
      // broadcast against the corpus, Jaccard-ranked
      val ds = docs(s, d)
      TextOps.similarDocs(ds, ds.where(col("doc_id") === 0), 10)
    },
    "dedup_exact" -> ((s, d) => TextOps.dedupExact(docs(s, d))),
    "dedup_minhash" -> ((s, d) => TextOps.dedupMinHashLsh(docs(s, d), 0.8)),
    "dedup_clusters" -> ((s, d) =>
      // near-dup pairs → GraphX connected components → one kept
      // representative per transitive cluster; oracle recomputes the
      // closure with a recursive CTE over the exact-Jaccard pair set
      TextOps.dedupClusters(docs(s, d), 0.8)),
    "dedup_keep_best" -> ((s, d) =>
      // same clusters, best-keeper policy: keep the LONGEST doc per
      // cluster (max n_chars, ties to min doc_id) — integer argmax
      TextOps.dedupKeepBest(docs(s, d), 0.8)),
    "dedup_simhash" -> ((s, d) => TextOps.simhashPairs(docs(s, d), 3)),
    "dedup_edit" -> ((s, d) =>
      // character-level verify over the LSH candidates: the contract is
      // the exact integer predicate 5·lev ≤ max_len — no float anywhere
      TextOps.dedupEditPairs(docs(s, d), 0.8)),
    "dedup_containment" -> ((s, d) =>
      // asymmetric near-dup: short doc quoted inside a long one —
      // containment |S(A)∩S(B)|/|S(A)| over the df-bounded indexed
      // vocabulary; Jaccard-family dedup is blind to this direction
      TextOps.containmentPairs(docs(s, d), 3, 0.8)),
    "winnow_fingerprints" -> ((s, d) =>
      // MOSS winnowing: any shared ≥(w+2)-token run shares a selected
      // fingerprint; md5 grams so the twin replays bit-for-bit
      TextOps.winnowFingerprints(docs(s, d), 4)),
    "lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),
    "doc_fingerprint" -> ((s, d) =>
      // md5-family fingerprint (r10): engine-portable, so the driver
      // hash-matches instead of the old xxhash64 rows-only fallback
      docs(s, d).select(col("doc_id"),
        TextOps.fingerprintPortable(col("text")).as("fp"))),
    "bottomk_sketch" -> ((s, d) =>
      // engine-portable bottom-k minhash twin of doc_fingerprint: the k
      // smallest md5(shingle) per doc, re-derived bit-for-bit in DuckDB
      TextOps.bottomKSketch(docs(s, d), 5)),
    "domain_mix" -> ((s, d) =>
      // per-source quota sampling by stable md5 priority, with the exact
      // hash-threshold prune that bounds the window at 100 TB
      TextOps.domainMix(docs(s, d), 10)),
    "tfidf_topterms" -> ((s, d) => TextOps.tfidfTopTerms(docs(s, d), 5)),
    "heavy_hitters" -> ((s, d) => TextOps.heavyHitters(docs(s, d), 10)),
    "heavy_hitters_sketch" -> ((s, d) =>
      // Misra–Gries bounded-memory twin (native graft_topfreq aggregate);
      // rows-only — summary contents depend on partial-merge order — with
      // the MG error-bound gate in PipelineSpec
      TextOps.heavyHittersSketch(docs(s, d), 10)),
    "hh_sketch_audit" -> ((s, d) =>
      // the ORACLED projection of the Misra–Gries summary: per (lang,
      // token) the provable invariants (guaranteed-survivor containment
      // + the n/(capacity+1) under-count bound) hold for EVERY
      // partial-merge order, so the twin emits TRUE from exact counts
      // and any aggregate bug flips a row — capacity 16 < the 31-token
      // vocab, so eviction actually fires
      TextOps.heavyHittersSketchAudit(docs(s, d), 16)),
    "dedup_url" -> { (s, d) =>
      // URL-level dedup (NEW r12): the documents table carries no URL, so
      // the harness synthesizes THREE deterministic surface variants per
      // canonical page (the MediaSynth pattern — both engines derive
      // identical inputs): scheme/host case, www., :443, trailing slash,
      // tracking params, param order, fragment. The operator under test
      // is canonicalUrl + dedupUrls; the twin is CLOSED-FORM (it emits
      // the intended canonical target directly), so any canonicalization
      // deviation mismatches instead of being replayed.
      val g = expr("doc_id div 3").cast("string")
      val url = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("https://"), col("source"), lit(".example.com/page/"),
            g, lit("?id="), g, lit("&z=2&a=1")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("HTTPS://WWW."), col("source"), lit(".Example.com:443/page/"),
            g, lit("/?utm_source=x&z=2&a=1&id="), g))
        .otherwise(
          concat(lit("https://"), col("source"), lit(".example.com/page/"),
            g, lit("?a=1&id="), g, lit("&z=2&utm_campaign=c&fbclid=zz#frag")))
      TextOps.dedupUrls(docs(s, d).withColumn("url", url), col("url"))
    },
    "dedup_url_incremental" -> { (s, d) =>
      // Daily-ingest URL dedup (r12): batch = doc_id >= 400 vs the
      // accumulated history, keyed by canonical URL. The synthesized
      // crawl is revisit-heavy on a single host: page = doc_id % 430,
      // so batch pages 400-429 are genuinely new (survive) while pages
      // 0-69 are revisits of history URLs (dropped by the anti-join);
      // surface variants rotate with doc_id % 3 as in dedup_url.
      val g = pmod(col("doc_id"), lit(430)).cast("string")
      val url = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("https://crawl.example.com/page/"), g,
            lit("?id="), g, lit("&z=2&a=1")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("HTTPS://WWW.Crawl.Example.com:443/page/"), g,
            lit("/?utm_source=x&z=2&a=1&id="), g))
        .otherwise(
          concat(lit("https://crawl.example.com/page/"), g,
            lit("?a=1&id="), g, lit("&z=2&utm_campaign=c&fbclid=zz#frag")))
      val all = docs(s, d).withColumn("url", url)
      TextOps.dedupUrlsIncremental(
        all.where(col("doc_id") >= 400), all.where(col("doc_id") < 400))
    },
    "host_stats" -> { (s, d) =>
      // Domain-level curation audit (r12): per canonical host — docs,
      // distinct pages (canonical URLs), distinct normalized texts
      // (the gap to n_docs is the host's exact-dup mass), total chars.
      // Same three-variant URL surface as dedup_url, so the twin is
      // closed-form on the intended canonical host/page.
      val g = expr("doc_id div 3").cast("string")
      val url = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("https://"), col("source"), lit(".example.com/page/"),
            g, lit("?id="), g, lit("&z=2&a=1")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("HTTPS://WWW."), col("source"), lit(".Example.com:443/page/"),
            g, lit("/?utm_source=x&z=2&a=1&id="), g))
        .otherwise(
          concat(lit("https://"), col("source"), lit(".example.com/page/"),
            g, lit("?a=1&id="), g, lit("&z=2&utm_campaign=c&fbclid=zz#frag")))
      TextOps.hostStats(docs(s, d).withColumn("url", url), col("url"))
    },
    "vocab_drift" -> ((s, d) =>
      // token-distribution drift of the incoming batch vs the corpus
      // (NEW r12): smoothed KL(batch‖history) in order-free integer
      // picos + the top-20 divergent tokens (TakeOrdered cut); the
      // daily-ingest monitoring twin of typeDriftDaily
      TextOps.vocabDrift(
        docs(s, d).where(col("doc_id") >= 400),
        docs(s, d).where(col("doc_id") < 400))),
    "perplexity_tiers" -> ((s, d) =>
      // CCNet-style per-language head/middle/tail LM-perplexity tertiles
      // over the corpus bigram model — integer-micro NLL sums, exact
      // rational ordering, integer tertile boundaries (TextOps doctrine).
      TextOps.perplexityTiers(docs(s, d))),
    "dup_spans" -> ((s, d) =>
      // exact duplicated-substring spans (Lee et al. ACL'22): maximal
      // runs of corpus-repeated 13-grams — substring-level dedup signal
      // inside otherwise-distinct docs; the twin replays gram flags and
      // the same gaps-and-islands merge
      TextOps.dupSpans(docs(s, d))),
    "dedup_substrings" -> ((s, d) =>
      // the dup_spans INTERVENTION: excise flagged spans, rebuild the
      // cleaned token stream; clean docs pass through intact — the twin
      // replays spans, coverage, and the ordered reassembly
      TextOps.removeDupSpans(docs(s, d))),
    "hash_embed" -> ((s, d) =>
      // feature-hashing embeddings: exact signed-count cells, md5-keyed
      // — the model-free text→vector bridge; exploded to (doc_id, j, v)
      // scalar rows (the compare contract takes scalar columns), which
      // also pins the dense assembly including the zero cells
      TextOps.hashEmbed(docs(s, d))
        .select(col("doc_id"), posexplode(col("vec")).as(Seq("j", "v")))
        .select(col("doc_id"), col("j").cast("long").as("j"), col("v"))),
    "hybrid_rrf" -> ((s, d) =>
      // hybrid lexical+vector retrieval with reciprocal-rank fusion:
      // BM25 micros rank (exact integers) ⊕ hashEmbed-cosine rank (raw
      // bit-identical folds) → 1/(60+r) fused, emitted as floor micros
      // — the production two-channel search primitive; the twin replays
      // both channels and the fusion arithmetic
      TextOps.hybridSearch(docs(s, d), Seq("spark", "join", "window"))),
    "text_ann_hashed" -> ((s, d) => Staged.run { stage =>
      // similarity search over TEXT with no external model: hashEmbed →
      // brute-force cosine top-5 (zero vectors filtered on both sides —
      // cosine is undefined there)
      val e = stage.checkpoint(TextOps.hashEmbed(docs(s, d))
        .select(col("doc_id").as("vec_id"),
          expr("transform(vec, x -> CAST(x AS DOUBLE))").as("embedding"))
        .where(expr("exists(embedding, x -> x != 0D)")))
      VectorOps.bruteForceTopK(e, e.where(col("vec_id") < 5), 5).localCheckpoint(true)
    }),
    "cms_heavy_hitters" -> ((s, d) =>
      // Count-Min estimates for the exact top-20: counters are SUMS
      // (order-independent, unlike MG), so the full d×w state and the
      // min-over-rows probe replay exactly in the twin — the portable-
      // sketch doctrine's frequency member beside graft_hll and Bloom
      TextOps.cmsHeavyHitters(docs(s, d))),
    "gram_novelty" -> ((s, d) =>
      // per-doc staleness: distinct 3-grams first seen in an earlier doc
      // — the scalar ranking twin of dup_spans (gram-keyed attribution,
      // integer counts; the one float is a ratio of those integers)
      TextOps.gramNovelty(docs(s, d))),
    "heaps_law" -> ((s, d) =>
      // vocabulary-growth checkpoints (Heaps' law): first-occurrence
      // rank per token + broadcast range-join against 10 cutoffs —
      // cumulative distinct WITHOUT per-prefix rescans
      TextOps.heapsLaw(docs(s, d))),
    "zipf_slope" -> ((s, d) =>
      // rank–frequency OLS slope per lang: ranks from the frequency
      // HISTOGRAM (no vocabulary sort), moments as integer micros
      TextOps.zipfSlope(docs(s, d))),
    "token_entropy" -> ((s, d) =>
      // unigram entropy per lang in nats: c·ln c as integer micros,
      // DECIMAL sum, one final double expression
      TextOps.tokenEntropy(docs(s, d))),
    "dsir_weights" -> ((s, d) =>
      // DSIR importance weights toward the 'en' slice: hashed-bigram
      // profiles, integer floor-log2 ratios (bin-length — no libm log
      // crosses the engine boundary), doc score = Σ count·λ
      TextOps.dsirWeights(docs(s, d))),
    "tokenizer_fertility" -> ((s, d) =>
      // bytes/chars per BPE-ish token by language — the tokenizer-cost
      // audit; one lang-keyed aggregation
      TextOps.tokenizerFertility(docs(s, d))),
    "bottomk_quantiles" -> ((s, d) =>
      // deterministic KMV bottom-k sample (md5 order on o_orderkey) →
      // exact nearest-rank quantiles over the sample: the oracle-able,
      // mergeable alternative to approx_percentile's merge-order state
      SketchOps.bottomKQuantiles(
        s.read.parquet(s"$d/orders.parquet"),
        col("o_orderkey"), col("o_totalprice"))),
    "lang_length_quantiles" -> ((s, d) =>
      // the group-wise sketch: independent per-lang bottom-k samples,
      // same exact nearest-rank contract within each group
      SketchOps.groupBottomKQuantiles(
        docs(s, d), col("lang"), col("doc_id"), col("n_chars"))),
    "quota_apportion" -> ((s, d) =>
      // Hamilton largest-remainder quotas: Σ quota = budget exactly,
      // leftover seats by (remainder desc, source) — integer window math
      // over the #sources dimension
      TextOps.quotaApportion(docs(s, d), 1000L)),
    "epoch_plan" -> ((s, d) =>
      // the data-recipe table: equal token budget per source, epoch cap
      // with one largest-remainder redistribution round, epochs as the
      // exact integer epochs_ppm (NEW r11; at sf0.01 the constants
      // exercise capped, capped-by-redistribution, and uncapped paths)
      TextOps.epochPlan(docs(s, d), 110000L, 4L)),
    "shard_manifest" -> ((s, d) =>
      // deterministic training shards: multiplicative-hash shard + a
      // second-hash shuffled position per shard — no global sort, one
      // shuffle by shard (NEW r11)
      TextOps.shardManifest(docs(s, d), 8)),
    "quality_tiers" -> ((s, d) =>
      // CCNet-style head/middle/tail by within-lang LM plausibility —
      // integer bitlen-logprob score, integer-exact tertile cuts
      TextOps.qualityTiers(docs(s, d))),
    "bpe_merges" -> ((s, d) =>
      // distributed BPE merge LEARNING (Sennrich'16) over the word-
      // frequency dictionary: one corpus token count, then 8 rounds of
      // vocabulary-sized pair counts + map-only greedy merge folds —
      // the driver sees one row per round. Training memoized (a
      // tokenizer trains once; billed as build_bpe)
      TextOps.bpeMergesCached(s, d, 8)),
    "bpe_encode" -> ((s, d) =>
      // fertility under the learned segmentation: subwords/word by
      // language via a broadcast join of the dictionary-sized final
      // symbol table — integer sums, one final division
      TextOps.bpeEncodeStatsCached(s, d, 8)),
    "bpe_vocab" -> ((s, d) =>
      // the learned tokenizer's vocabulary artifact: surviving subwords
      // with corpus frequency — dictionary-sized end to end
      TextOps.bpeVocabCached(s, d, 8)),
    "bpe_doc_tokens" -> ((s, d) =>
      // per-doc token counts under the LEARNED tokenizer — the
      // context-budget number; broadcast join of the dictionary-sized
      // segmentation, one doc-keyed sum
      TextOps.bpeDocTokensCached(s, d, 8)),
    "source_chi2" -> ((s, d) =>
      // per-source χ² vs the pooled token distribution (slice-drift
      // audit); unobserved cells fold into a closed-form term, every
      // cell quantized to integer micros before the per-source sum
      TextOps.sourceChi2(docs(s, d))),
    "crosslingual_leakage" -> ((s, d) =>
      // verbatim 5-gram sharing across language pairs (translation /
      // copy-paste contamination invisible to per-language dedup);
      // gram-keyed self-join, ≤ C(L,2) rows per gram
      TextOps.crossLingualLeakage(docs(s, d), 5)),
    "source_embedding_drift" -> ((s, d) =>
      // per-source centroid vs corpus centroid cosine — the embedding-
      // space slice-drift twin of source_chi2; quantized integer sums,
      // DECIMAL cross-products, one final double expression
      VectorOps.sourceEmbeddingDrift(emb(s, d), docs(s, d))),
    "source_label_mix" -> ((s, d) =>
      // topic-mix audit: (source, label) contingency of the labeled
      // embedding set — what each feed contains, by cluster label
      VectorOps.sourceLabelMix(emb(s, d), docs(s, d))),
    "dedup_incremental" -> { (s, d) =>
      // the daily-ingest shape: docs ≥ 400 are "today's batch", the rest
      // the accumulated corpus; survivors = batch reps with unseen text
      val all = docs(s, d)
      TextOps.dedupIncremental(
        all.where(col("doc_id") >= 400), all.where(col("doc_id") < 400))
    },
    "dedup_incremental_lsh" -> { (s, d) =>
      // the NEAR-dup twin of dedup_incremental: today's batch against
      // the corpus's LSH band index (candidates from the band equi-join,
      // exact-Jaccard verify); twin replays the exact cross-set Jaccard
      val all = docs(s, d)
      TextOps.dedupIncrementalLsh(
        all.where(col("doc_id") >= 400), all.where(col("doc_id") < 400), 0.8)
    },
    "chunk_dedup" -> ((s, d) =>
      // paragraph-level dedup: identical 50-token windows collapsed
      // corpus-wide to their first (doc_id, chunk_id) owner — catches
      // sub-document boilerplate whole-doc dedup never sees
      TextOps.chunkDedup(docs(s, d))),
    "mixture_weights" -> ((s, d) =>
      // α=0.5 temperature mixing over sources, 1000-doc budget: the
      // sampling-ratio table a multi-source training run is configured from
      TextOps.mixtureWeights(docs(s, d), 0.5, 1000L)),
    "lang_confusion" -> ((s, d) =>
      // labeled lang vs langId prediction — the is-the-filter-good-enough
      // evaluation table; |langs|²-bounded output
      TextOps.langConfusion(docs(s, d))),
    "lang_id_trained" -> ((s, d) =>
      // supervised-style hashed-feature classifier (NEW r12): per-bucket
      // majority label trained on doc_id%10<8, holdout majority vote —
      // all integer argmax, profile broadcast; confusion matrix out
      TextOps.langIdTrained(docs(s, d))),
    "quality_classifier" -> ((s, d) =>
      // model-based quality filter (r12 verdict item 3): labels are the
      // CCNet-style qualityTiers tertiles, features the langIdTrained
      // hashed-token buckets, training the per-bucket integer majority
      // on doc_id%10<8; twin replays label derivation + both argmaxes
      TextOps.qualityClassifier(docs(s, d))),
    "split_balance" -> ((s, d) =>
      // per-(split,lang) doc/token counts + within-split share — the
      // split-skew audit over the deterministic hash split
      TextOps.splitBalance(docs(s, d))),
    "split_stratified" -> ((s, d) =>
      // exact per-(lang,source) split proportions with integer-exact
      // cut thresholds — the per-stratum twin of split_assign
      TextOps.splitStratified(docs(s, d))),
    "budget_sample" -> ((s, d) =>
      // materialize the per-source token-budget sample in stable md5
      // order: integer running totals, exactly replayable
      TextOps.budgetSample(docs(s, d), 1000L)),
    "weighted_sample" -> ((s, d) =>
      // Efraimidis–Spirakis: inclusion ∝ token count, deterministic
      // md5-derived uniforms, distributed TakeOrdered top-k
      TextOps.weightedSample(docs(s, d), 100)),
    "bigram_logprob" -> ((s, d) =>
      // add-k-smoothed bigram LM scoring — one (w1,w2) shuffle, context
      // counts re-aggregated FROM the bigram table, V one distinct-count
      TextOps.bigramLogProb(docs(s, d))),
    "pmi_collocations" -> ((s, d) =>
      // top-20 adjacent pairs by PMI, ranked on the exact-integer ratio
      // (ln only for display — engines round ln differently at rank
      // boundaries); marginals re-aggregated FROM the pair counts
      TextOps.pmiTopPairs(docs(s, d), minCount = 5L, k = 20)),
    "length_percentiles" -> ((s, d) =>
      // per-lang percent_rank of doc length — exact tie-aware rational,
      // the distribution-aware filter bound
      TextOps.lengthPercentiles(docs(s, d))),
    "standardize_embeddings" -> ((s, d) =>
      // per-dim whitening; order-independent contract — exact integer
      // Σxq/Σxq² over 1e-4-quantized inputs (map-side partials fold to
      // dims rows pre-shuffle), broadcast-applied
      VectorOps.standardize(emb(s, d))),
    "user_features" -> ((s, d) =>
      // RFM-style per-user feature table: one hash agg, all algebraic.
      // mean_value is dropped from the oracle contract: total/count hits
      // exact 4-decimal half-points where the two engines' round
      // algorithms disagree by construction (see userFeatures note)
      EventStream.userFeatures(graft.projection.EventsReplay.rawEvents(s, d))
        .drop("mean_value")),
    "source_overlap" -> ((s, d) =>
      // cross-source duplication matrix over the LSH-bounded pair set —
      // the provenance report before dropping a source
      TextOps.sourceOverlap(docs(s, d), 0.8)),
    "source_overlap_sketch" -> ((s, d) =>
      // the 100 TB form of the provenance report: pairwise
      // distinct-shingle Jaccard by portable-HLL register algebra —
      // one corpus scan to a #sources·4096-row register table, union
      // by elementwise max, inclusion–exclusion estimates (exact twin
      // is quadratic and ORACLE_SKIP at scale; this one never pairs
      // documents at all)
      TextOps.sourceOverlapSketch(docs(s, d))),
    "curation_funnel" -> ((s, d) =>
      // per-stage survivor counts of the cleaning pipeline in ONE scan
      // (conditional aggregates over staged cumulative flags)
      TextOps.curationFunnel(docs(s, d))),
    "curation_pipeline" -> ((s, d) =>
      // the COMPOSED end-to-end chain: clean → decontaminate → domainMix
      // → splitStratified as one DataFrame plan (stage relations feed
      // the next stage; no driver round-trip) — the twin replays every
      // stage's oracle CTE nested in sequence
      TextOps.curationPipeline(docs(s, d))),
    "curation_pipeline_pack" -> { (s, d) =>
      // packSequences composed DOWNSTREAM of the full curation chain:
      // pack the pipeline's train split and emit the provable BFD
      // invariants (the pack_invariants contract over curated docs)
      val trainDocs = docs(s, d).join(
        TextOps.curationPipeline(docs(s, d))
          .where(col("split") === "train").select(col("doc_id")), "doc_id")
      packInvariants(TextOps.packSequences(trainDocs, budgetTokens = 512), 512)
    },
    "curation_pipeline_sem" -> ((s, d) =>
      // the SEMANTIC-guard composition: clean → embedding-space
      // decontamination (max cosine vs the eval docs' embeddings, the
      // paraphrase leakage the 13-gram chain misses) → domainMix →
      // hash split — the twin replays clean in the shared cd CTE and
      // the semantic stage as the decontaminate_semantic cross join
      TextOps.curationPipelineSem(docs(s, d), emb(s, d))),

    // ---- LLM-pipeline: similarity search ----
    "embedding_norms" -> ((s, d) => VectorOps.norms(emb(s, d))),
    "embedding_outliers" -> ((s, d) =>
      // per-label farthest-from-centroid screen (NEW r14 session 3):
      // exact-integer c²·d² ranking on the 1e-4 grid — the mislabel/
      // corruption pass before contrastive training
      VectorOps.embeddingOutliers(emb(s, d))),
    "ann_topk" -> { (s, d) =>
      val e = emb(s, d)
      VectorOps.bruteForceTopK(e, e.where(col("vec_id") < 10), 10)
    },
    "ann_lsh" -> { (s, d) =>
      val e = emb(s, d)
      VectorOps.lshTopK(e, e.where(col("vec_id") < 10), 10)
    },
    "ann_hamming" -> { (s, d) =>
      // binary-tier baseline (NEW r11): top-10 by Hamming distance over
      // 64-bit sign sketches (8 bytes/vector hot, floats stay cold) —
      // the twin re-packs the same bits and replays the exact rank
      val e = emb(s, d)
      VectorOps.hammingTopK(e, e.where(col("vec_id") < 10), 10)
    },
    "embedding_isotropy" -> ((s, d) =>
      // embedding-collapse audit (NEW r11): cosine histogram over
      // deterministic-offset pairs — pure integer pairing, HOF-fold
      // cosines the twin replays term-for-term, floor buckets + exact
      // micro sums
      VectorOps.cosineHistogram(emb(s, d))),
    "dedup_hamming" -> ((s, d) =>
      // binary-tier near-dup MINING (NEW r11): multi-index byte-chunk
      // buckets -> exact XOR-popcount verify at ham <= 20 — complete by
      // pigeonhole for ham <= 7, the LSH candidates∩predicate contract
      // above; the twin replays the same chunks, join, and verify
      VectorOps.hammingNearDupPairs(emb(s, d))),
    "ann_hamming_recall" -> { (s, d) =>
      // how much the 32×-compressed binary tier gives up: recall@10 of
      // the Hamming rank vs exact cosine truth, per query — integer hit
      // counts, one round(4) division (the ann_ivf_recall shape)
      val e = emb(s, d)
      val qs = e.where(col("vec_id") < 10)
      val ham = VectorOps.hammingTopK(e, qs, 10)
      val exact = VectorOps.bruteForceTopK(e, qs, 10)
      ham.join(exact.select(col("q"), col("nb"), lit(1).as("hit")),
          Seq("q", "nb"), "left_outer")
        .groupBy(col("q"))
        .agg(count(col("hit")).as("hits"))
        .select(col("q"), col("hits"),
          round(col("hits") / 10.0, 4).as("recall"))
    },
    "ann_pq" -> { (s, d) =>
      // PQ ADC search over the memoized codebooks/codes (build billed as
      // build_pq); rows-only — code assignments are engine-specific —
      // with the recall-vs-exact gate in PipelineSpec
      val (cb, codes) = VectorOps.PqCache.get(s, d)
      VectorOps.pqTopK(emb(s, d), codes, cb,
        emb(s, d).where(col("vec_id") < 10), 10)
    },
    "ann_ivfpq" -> { (s, d) =>
      // the IVF(prune)+PQ(compress) composition over both memoized
      // structures; rows-only, recall gated in PipelineSpec
      val (cb, codes) = VectorOps.PqCache.get(s, d)
      VectorOps.ivfPqTopK(VectorOps.IvfCache.index(s, d), codes, cb,
        emb(s, d), emb(s, d).where(col("vec_id") < 10), 10)
    },
    "ann_ivf" -> { (s, d) =>
      // search against the MEMOIZED trained index (build billed once as
      // build_ivf, like the graph projections — a deployment reuses its
      // ANN index across query batches, it does not retrain per query)
      VectorOps.ivfSearch(
        VectorOps.IvfCache.index(s, d), emb(s, d).where(col("vec_id") < 10), 10)
    },
    "ann_ivf_cells" -> ((s, d) =>
      // IVF health audit (r12): per-cell population + micro-quantized
      // centroid-affinity sums over the memoized trained index — the
      // balance/drift table an ANN deployment monitors.
      VectorOps.ivfCellStats(VectorOps.IvfCache.index(s, d))),
    "knn_graph" -> { (s, d) =>
      // the whole corpus as the query side (NEW r11): top-5 neighbors
      // per vector via the memoized DEDUP-scaled index (k = ⌈√N⌉ cells,
      // so the batch self-search stays O(N^1.5) like dedup_semantic —
      // a fixed-k index would make this O(N²/k)); query side NOT
      // broadcast — cell equi-join with both sides shuffled, the
      // bucketed kNN-graph build SemDeDup-style clustering starts from
      VectorOps.IvfCache.knnGraphFrame(s, d)
    },
    "knn_mutual_rate" -> { (s, d) =>
      // neighborhood symmetry audit (NEW r11): the fraction of kNN-graph
      // edges whose reverse edge also exists — low mutual rate means hub
      // vectors dominate neighborhoods (the k-occurrence skew that
      // degrades kNN classification); one self-semi-join on the memoized
      // graph + exact integer counts, one round(4) division
      val nn = VectorOps.IvfCache.knnGraphFrame(s, d)
        .select(col("q"), col("nb"))
      val mutual = nn.join(
        nn.select(col("nb").as("q"), col("q").as("nb")), Seq("q", "nb"), "left_semi")
      val n = nn.count()
      val m = mutual.count()
      import s.implicits._
      Seq((n, m,
        BigDecimal(m.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("n_edges", "n_mutual", "mutual_rate")
    },
    "knn_label_purity" -> { (s, d) =>
      // embedding-quality audit (NEW r11): per label, the fraction of
      // its vectors' kNN slots holding the SAME label, over the same
      // memoized dedup-scaled kNN graph as knn_graph — exact integer
      // hit/pair counts, one round(4) division; the twin replays the
      // IVF chain + the two label joins
      val e = emb(s, d)
      VectorOps.labelPurity(VectorOps.IvfCache.knnGraphFrame(s, d), e)
    },
    "ann_ivf_filtered" -> { (s, d) =>
      // metadata-filtered vector search: neighbors restricted to 'en'
      // documents (vec_id == doc_id) BEFORE exact scoring — the
      // pre-filter semantics a selective predicate needs; same memoized
      // index and probe plan as ann_ivf
      VectorOps.ivfSearchFiltered(
        VectorOps.IvfCache.index(s, d),
        emb(s, d).where(col("vec_id") < 10),
        docs(s, d).where(col("lang") === "en")
          .select(col("doc_id").as("vec_id")), 10)
    },
    "ann_ivf_opened" -> { (s, d) =>
      // search over the index REOPENED from its parquet persistence —
      // the cold-start deployment path (open-once is billed in build_ivf;
      // this measures search). Rows-only like ann_ivf; result parity with
      // the built index is gated in PipelineSpec.
      VectorOps.ivfSearch(
        VectorOps.IvfCache.opened(s, d), emb(s, d).where(col("vec_id") < 10), 10)
    },
    "ann_ivf_appended" -> { (s, d) =>
      // search over an index built on 6/7 of the corpus and INCREMENTALLY
      // extended with the rest (ivfAppend: assign-to-frozen-centroids, no
      // retrain) — the daily-append deployment shape. Rows-only;
      // recall-vs-rebuilt and staleness gates live in PipelineSpec.
      VectorOps.ivfSearch(
        IvfAppendCache.get(s, d).index, emb(s, d).where(col("vec_id") < 10), 10)
    },
    "ann_ivf_health" -> { (s, d) =>
      // IVF self-maintenance decision row (r12 verdict item 6): the
      // integer staleness/imbalance inputs + rebuild verdict over the
      // memoized appended index (base = 6/7 of the corpus, appended =
      // the rest assigned to frozen centroids). The twin replays the
      // build+append chain and the exact cross-multiplied compares.
      VectorOps.ivfHealth(IvfAppendCache.get(s, d).index,
        pmod(col("nb"), lit(7)) === 0)
    },
    "ann_nsw" -> { (s, d) =>
      // graph-based ANN (NEW r14 session 2): fixed-round NSW beam
      // search over the memoized kNN graph — per-query cost scales
      // with beam×rounds, never with N or cell population (the third
      // ANN paradigm beside the partition/IVF and hash/LSH families);
      // the twin unrolls the walk round by round over its replayed
      // knn_graph chain
      val e = emb(s, d)
      pipeline.VectorOps.nswSearch(
        pipeline.VectorOps.IvfCache.knnGraphFrame(s, d), e,
        e.where(col("vec_id") < 10))
    },
    "ann_nsw_recall" -> { (s, d) =>
      // NSW quality made driver-visible: recall@10 vs the exact
      // brute-force top-10 (the ann_ivf_recall contract)
      val e = emb(s, d)
      val qs = e.where(col("vec_id") < 10)
      annRecall(
        pipeline.VectorOps.nswSearch(
          pipeline.VectorOps.IvfCache.knnGraphFrame(s, d), e, qs)
          .select(col("q"), col("nb")),
        pipeline.VectorOps.bruteForceTopK(e, qs, 10))
    },
    "ann_ivf_recall" -> { (s, d) =>
      // ANN QUALITY made driver-visible (VERDICT r7 missing #1):
      // recall@10 of the memoized IVF search vs the exact brute-force
      // top-10, computed per query IN the query. The DuckDB twin
      // re-derives both sides from the raw table — the replicated
      // k-means/probe chain for the ANN side, its own
      // list_cosine_similarity rank for the truth side.
      val e = emb(s, d)
      val qs = e.where(col("vec_id") < 10)
      annRecall(
        VectorOps.ivfSearch(VectorOps.IvfCache.index(s, d), qs, 10)
          .select(col("q"), col("nb")),
        VectorOps.bruteForceTopK(e, qs, 10))
    },
    "ann_ivfpq_recall" -> { (s, d) =>
      // same contract for the composed IVF+PQ path: the twin replays
      // coarse quantizer, codebooks, ADC shortlist, and re-rank, then
      // scores recall against its own exact top-10
      val e = emb(s, d)
      val qs = e.where(col("vec_id") < 10)
      val (cb, codes) = VectorOps.PqCache.get(s, d)
      annRecall(
        VectorOps.ivfPqTopK(VectorOps.IvfCache.index(s, d), codes, cb, e, qs, 10)
          .select(col("qid").as("q"), col("vec_id").as("nb")),
        VectorOps.bruteForceTopK(e, qs, 10))
    },
    "dedup_semantic" -> ((s, d) =>
      // SemDeDup shape: IVF cells ARE the dedup clustering — exact
      // cosine verify only within a cell. k = max(16, ⌈√N⌉) balances
      // verify (Σ|cell|² ≈ N·√N) against the flat build (N·k = N·√N) —
      // both O(N^1.5), vs N²/16 verify at the r9 pinned k=16. The twin
      // replays the same k-derivation and k-means chain.
      VectorOps.semanticDedupPairs(VectorOps.IvfCache.dedupIndex(s, d), 0.45)),
    "rp_project" -> ((s, d) =>
      // Johnson–Lindenstrauss 64→16 with the md5-derived ±1 matrix —
      // map-side column arithmetic, no shuffle; twin re-derives the
      // matrix and replays the fold bit-for-bit
      VectorOps.randomProjectLong(emb(s, d), 16, 64)),
    "mmr_rerank" -> { (s, d) =>
      // diversity-aware retrieval: MMR greedy over the bounded brute-force
      // shortlist for query 0; twin unrolls the same greedy picks
      val e = emb(s, d)
      VectorOps.mmrRerank(e, e.where(col("vec_id") === 0), k = 5, shortlist = 20)
    },
    "hard_negatives" -> { (s, d) =>
      // contrastive-mining shortlist: top-10 most-similar NON-duplicate
      // neighbors (sim < the dedup_embedding threshold 0.45, so the
      // excluded band is exactly what dedup would collapse)
      val e = emb(s, d)
      VectorOps.hardNegatives(e, e.where(col("vec_id") < 10), 10, 0.45)
    },
    "matryoshka_recall" -> { (s, d) =>
      // dimension-adaptive retrieval audit: recall@10 of brute-force
      // search over the FIRST 16 of 64 dims vs full-dim exact truth —
      // the MRL question (how much ranking the prefix keeps) with the
      // same driver-visible contract as rp_recall
      val e = emb(s, d)
      val pre = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      annRecall(
        VectorOps.bruteForceTopK(pre, pre.where(col("vec_id") < 10), 10)
          .select(col("q"), col("nb")),
        VectorOps.bruteForceTopK(e, e.where(col("vec_id") < 10), 10))
    },
    "rp_recall" -> { (s, d) =>
      // how much geometry the 4× reduction keeps, driver-visible the
      // same way as ann_ivf_recall: recall@10 of brute-force search in
      // PROJECTED space vs exact search in the original space
      val e = emb(s, d)
      val proj = VectorOps.randomProject(e, 16, 64)
        .select(col("vec_id"), col("proj").as("embedding"))
      annRecall(
        VectorOps.bruteForceTopK(proj, proj.where(col("vec_id") < 10), 10)
          .select(col("q"), col("nb")),
        VectorOps.bruteForceTopK(e, e.where(col("vec_id") < 10), 10))
    },
    "label_centroids" -> ((s, d) =>
      VectorOps.labelCentroids(emb(s, d).withColumn("label", col("label").cast("long")))),
    "label_centroid_vectors" -> ((s, d) =>
      // the full centroid VECTOR per label via the native graft_vec_mean
      // TypedImperativeAggregate (one buffer per group, no posexplode in
      // the AGGREGATION — the explode below unpacks k centroid rows for
      // the driver compare, which hashes scalar columns only)
      VectorOps.labelCentroidVectors(emb(s, d).withColumn("label", col("label").cast("long")))
        .select(col("label"), posexplode(col("centroid")).as(Seq("i", "m")))
        .select(col("label"), col("i").cast("long").as("i"), round(col("m"), 6).as("m"))),
    "dedup_embedding" -> { (s, d) =>
      // threshold tuned to the synthetic corpus (max pairwise cosine ≈ .5);
      // band width adapts to N (r12) so per-band buckets stay ~128 rows —
      // fixed 4-bit bands made the candidate join quadratic at sf1+
      val e = emb(s, d)
      val rpb = VectorOps.lshRowsPerBand(e.count())
      VectorOps.embeddingNearDupPairs(e, threshold = 0.45,
        bands = 64 / rpb, rowsPerBand = rpb)
    },
    "clean_corpus" -> ((s, d) =>
      TextOps.cleanCorpus(docs(s, d), Seq("en", "de"), 100L, 2000L)),

    // ---- LLM-pipeline: curation ops (repetition / PII / split / chunk /
    //      quantize) ----
    "repetition_stats" -> ((s, d) => TextOps.repetitionStats(docs(s, d))),
    "pii_scrub" -> { (s, d) =>
      // the corpus is synthetic word salad with no PII, so inject a
      // deterministic email + IPv4 + phone per doc — the oracle replays
      // the same injection, making the count AND redaction paths
      // hash-checked end-to-end rather than trivially zero
      val withPii = docs(s, d).withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".1 call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-1234")))
      TextOps.piiRedact(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("redacted"))
    },
    "split_assign" -> ((s, d) =>
      TextOps.splitAssign(docs(s, d), "doc_id")
        .select(col("doc_id"), col("bucket"), col("split"))),
    "split_leakage_safe" -> ((s, d) =>
      // near-dup-aware split: hash by CLUSTER so a doc and its 0.9-Jaccard
      // copy always share a side; oracle replays the CC closure + the
      // same integer bucket arithmetic on cluster_id
      TextOps.splitLeakageSafe(docs(s, d), 0.8)),
    "chunk_docs" -> ((s, d) => TextOps.chunkDocs(docs(s, d))),
    "quantize_int8" -> ((s, d) => VectorOps.quantizeInt8(emb(s, d))),

    // ---- LLM-pipeline: decontamination / distribution stats / LM score ----
    "decontaminate" -> { (s, d) =>
      // eval set = every 25th doc (the held-out benchmark); find training
      // docs sharing any word 3-gram with it (3 because the synthetic docs
      // are ~30-60 tokens; production default is 13)
      val ds = docs(s, d)
      TextOps.decontaminate(
        ds.where(col("doc_id") % 25 =!= 0),
        ds.where(col("doc_id") % 25 === 0), n = 3)
    },
    "decontaminate_lsh" -> { (s, d) =>
      // the NEAR-dup decontamination member: training docs surviving
      // after dropping everything with shingle Jaccard ≥ 0.8 to any
      // eval doc (banded LSH candidates, exact verify)
      val ds = docs(s, d)
      TextOps.decontaminateLsh(
        ds.where(col("doc_id") % 25 =!= 0),
        ds.where(col("doc_id") % 25 === 0), 0.8)
    },
    "eval_coverage" -> { (s, d) =>
      // assembled-leakage audit: per eval doc, the fraction of its
      // shingles exposed ANYWHERE in train — compromise the pairwise
      // decontamination passes cannot see
      val ds = docs(s, d)
      TextOps.evalCoverage(
        ds.where(col("doc_id") % 25 =!= 0),
        ds.where(col("doc_id") % 25 === 0), 3)
    },
    "dup_ratio_by_source" -> ((s, d) =>
      // which feed is internally duplicated: per-source drop share
      // under cluster-collapse dedup (memoized pair graph → CC)
      TextOps.dupRatioBySource(docs(s, d), 0.8)),
    "decontaminate_semantic" -> { (s, d) =>
      // the semantic complement of the n-gram check: flag training
      // vectors whose max cosine vs the eval embedding set (vec_id < 16)
      // crosses 0.35 — catches paraphrased leakage no 13-gram sees.
      // Zero-shuffle projection: eval rides in the plan as a literal
      val e = emb(s, d)
      VectorOps.decontaminateSemantic(
        e.where(col("vec_id") >= 16), e.where(col("vec_id") < 16), 0.35)
    },
    "decontaminate_bloom" -> { (s, d) =>
      // the 100 TB decontamination shape: Bloom prefilter (built by
      // Spark's BloomFilterAggregate via graft_bloom_agg) + exact verify
      // join — same contract as decontaminate, so the twin is shared
      val ds = docs(s, d)
      TextOps.decontaminateBloom(
        ds.where(col("doc_id") % 25 =!= 0),
        ds.where(col("doc_id") % 25 === 0), n = 3)
    },
    "length_quantiles" -> ((s, d) =>
      TextOps.lengthQuantiles(docs(s, d))
        .select(col("lang"), col("n_docs").cast("long").as("n_docs"),
          col("p10"), col("p50"), col("p90"))),
    "vocab_stats" -> ((s, d) =>
      TextOps.vocabStats(docs(s, d))
        .select(col("lang"), col("total_tokens").cast("long").as("total_tokens"),
          col("distinct_tokens").cast("long").as("distinct_tokens"))),
    "unigram_logprob" -> ((s, d) => TextOps.unigramLogProb(docs(s, d))),
    "multimodal_meta" -> ((s, d) =>
      // binary-column round-trip: synthesize REAL container headers
      // (PNG/GIF/BMP/WAV/MP4/JPEG — the last exercising the SOF marker
      // walk through skipped APP0+DQT segments) from doc_id, parse them
      // back in ONE partition-mapped pass; oracle re-derives each field
      // from the doc_id arithmetic — equality proves the byte round-trip
      pipeline.MediaSynth.mediaMetaQuery(s, d)),
    "media_stats" -> ((s, d) =>
      // per-format corpus audit (NEW r11) over the SAME parsed headers:
      // counts + integer sums only (sum skips the format's null fields
      // in both engines; no rounded means — the half-point class). The
      // twin aggregates the doc_id arithmetic, so a parser drift in any
      // single field shows as a sum mismatch.
      pipeline.MediaSynth.mediaMetaQuery(s, d)
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n"),
          sum(col("width").cast("long")).as("sum_width"),
          sum(col("height").cast("long")).as("sum_height"),
          sum(col("duration_ms")).as("sum_duration_ms"))),
    "multimodal_dedup" -> ((s, d) =>
      // exact media dedup by content digest over the synthesized
      // binary column (WAV payloads genuinely collide: bytes depend on
      // d mod 2/3/10 only). The twin keys each item by the GENERATIVE
      // parameters instead of bytes, so Spark must recover the same
      // equivalence classes from the raw payload alone
      pipeline.MultimodalOps.dedupExactMedia(
        pipeline.MediaSynth.synthesize(docs(s, d).select(col("doc_id"))))),
    "multimodal_neardup" -> ((s, d) =>
      // byte-level media NEAR-dup (r12 verdict item 2): payloads gain a
      // class-seeded high-entropy body, then truncated (d%7==3) and
      // re-muxed-suffix (d%7==5) variants are PLANTED as extra rows —
      // no digest matches, so exact dedup misses them by construction.
      // The aligned-chunk + CC operator must recover cluster == byte
      // class of the base; the twin re-derives the classes from doc_id
      // arithmetic alone (it never sees a byte)
      pipeline.MultimodalOps.nearDupMedia(
        pipeline.MediaSynth.plantNearDups(
          pipeline.MediaSynth.synthesize(docs(s, d).select(col("doc_id")))))),
    "multimodal_perceptual" -> ((s, d) =>
      // perceptual tier over DECODABLE payloads (r13 verdict item 3):
      // real 24-bit BMP pixels / 16-bit WAV PCM are decoded and hashed
      // (8×8 luma aHash / 16-window gain-normalized energy envelope);
      // planted brightness-shifted + volume-halved variants share NO
      // payload byte with their base, so every byte tier misses them
      // and only the decoded-feature invariance can recover
      // cluster == perceptual class — which the twin re-derives from
      // doc_id arithmetic alone (the generative-twin pattern)
      pipeline.MultimodalOps.nearDupPerceptual(
        pipeline.MediaSynth.plantPerceptualVariants(
          pipeline.MediaSynth.synthesizeDecodable(docs(s, d).select(col("doc_id")))))),
    "multimodal_perceptual_gif" -> ((s, d) =>
      // perceptual tier over a COMPRESSED format decodable codec-free
      // (r14 session 2): real LZW palette GIFs are decoded by the
      // from-scratch GIF/LZW walker and folded into the same 8×8 luma
      // aHash; planted variants re-encode the same luma grid through a
      // fixed-point-free palette permutation + uniform +8 shift, so
      // every LZW data byte AND every palette entry differs from the
      // base while the decoded grid is exactly base+8 — byte tiers
      // miss the pair by construction, the twin re-derives
      // cluster == GIF class from doc_id arithmetic alone
      pipeline.MultimodalOps.nearDupPerceptual(
        pipeline.MediaSynth.plantGifVariants(
          pipeline.MediaSynth.synthesizeGif(docs(s, d).select(col("doc_id")))))),

    "cdc_invariants" -> ((s, d) =>
      // the CONTENT-DEFINED near-dup tier's census entry (r13 verdict
      // item 2): chunk layouts aren't SQL-replayable, so the registered
      // contract is the clustering's exact-integer invariant row
      // (coverage, planted insertion/truncation/suffix/exact-copy
      // variants co-clustered with their base, keep/member consistency,
      // min-chunk floor) — the twin re-derives every count from the
      // planted-id arithmetic and pins the violation columns at 0
      pipeline.MultimodalOps.cdcInvariants(
        pipeline.MediaSynth.plantCdcVariants(
          pipeline.MediaSynth.synthesize(docs(s, d).select(col("doc_id")))))),
    "vocab_sketch" -> ((s, d) =>
      // FULL oracle since r10: the portable md5 HLL (graft_hll) — the
      // twin replays register indexes/ranks from md5 hex and repeats
      // the one shared estimate expression (was rows-only under HLL++,
      // whose register layout is engine-private)
      TextOps.vocabSketch(docs(s, d))),
    "profile_documents" -> ((s, d) =>
      // one-pass column profiler (exact distincts for the oracle; the
      // approx twin is the extreme-scale path, gated in UtilSpec)
      graft.util.Profile.profile(
        docs(s, d), Seq("doc_id", "lang", "source", "n_chars"))),
    "bm25_scores" -> ((s, d) =>
      // BM25 topic scoring against a fixed query-term set; one corpus
      // shuffle (tf), broadcast df, oracle recomputes the closed form
      TextOps.bm25Scores(docs(s, d), Seq("spark", "join", "window"))),
    "pack_sequences" -> ((s, d) =>
      // FULL oracle since r10 (was rows-only): packing is a pure
      // function of the doc set — value-keyed shards, (n desc, id)
      // order, canonical (tightest-fit, lowest-index) choice — so the
      // twin replays the BFD recurrence per shard in a recursive CTE
      // and pins bin membership, not just the invariants
      TextOps.packSequences(docs(s, d), budgetTokens = 512)
        .select(col("bin_id"), col("n_docs"), col("total_tokens"))),
    "pack_invariants" -> ((s, d) =>
      // BFD packing contract over the raw corpus (see packInvariants:
      // coverage, token mass, oversize-singleton, bin-count bound); the
      // twin re-derives all counts from the raw docs
      packInvariants(
        TextOps.packSequences(docs(s, d), budgetTokens = 512), 512)),

    // ---- event analytics: gap sessionization (same transform runs on a
    //      stream — EventStream.sessionize) ----
    "user_sessions" -> { (s, d) =>
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      EventStream.sessionize(
          graft.projection.EventsReplay.rawEvents(s, d), "10 minutes")
        .select(col("user_id"),
          date_format(col("session_start"), fmt).as("session_start"),
          date_format(col("session_end"), fmt).as("session_end"),
          col("n_events").cast("long").as("n_events"))
    },

    // tumbling-window counts: the batch twin of the watermarked streaming
    // aggregation (EventStream.windowedCounts — stream side gated in
    // EventStreamSpec); epoch-aligned 1h windows match DuckDB time_bucket
    "window_counts" -> { (s, d) =>
      EventStream.windowedCounts(graft.projection.EventsReplay.rawEvents(s, d))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n").cast("long").as("n"))
    },
    "windowed_distinct" -> { (s, d) =>
      // per-(hour, type) distinct-user HLL — 2^12 bytes of state per
      // group on a stream vs one row per user for exact distinct; the
      // twin replays the md5 registers and the shared estimate
      EventStream.windowedDistinctUsers(
          graft.projection.EventsReplay.rawEvents(s, d))
        .select(
          date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("nonzero_registers"),
          col("register_sum"), col("est_users"))
    },
    "windowed_value_quantiles" -> { (s, d) =>
      // per-(hour, type) value quantiles from the native KMV bottom-k
      // sample (graft_bottomk) — O(k) state per group where exact
      // quantiles hold every value and approx_percentile is merge-order
      // state; the twin replays the md5 sample and the rank selection
      EventStream.windowedValueQuantiles(
          graft.projection.EventsReplay.rawEvents(s, d))
        .select(
          date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("n_sample"),
          col("p25"), col("p50"), col("p75"))
    },

    "windowed_topk" -> { (s, d) =>
      // per-(hour, type) top-5 events BY VALUE from the native bounded
      // graft_topk heap — O(k) state per group on a stream where a rank
      // window holds the whole window; kept set is deterministic
      // (value desc, event_id asc), so the twin is a plain rank window
      EventStream.windowedTopK(
          graft.projection.EventsReplay.rawEvents(s, d))
        .select(
          date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("rk"), col("event_id"), col("value"))
    },

    // day-over-day event-type KL drift — the data-monitoring signal a
    // feed pipeline alerts on; everything past the (day,type) count is
    // dimension-sized
    "event_drift" -> ((s, d) =>
      EventStream.typeDriftDaily(graft.projection.EventsReplay.rawEvents(s, d))),

    // first-active-day cohorts × day offsets — the retention matrix;
    // two user-keyed aggregations riding one hash partitioning
    "retention_cohorts" -> ((s, d) =>
      EventStream.retentionCohorts(graft.projection.EventsReplay.rawEvents(s, d))),

    // funnel conversion: first purchase within 2h of each click — the
    // stream-stream interval-join shape (EventStream.funnelPairs runs
    // watermarked on live feeds; parity gated in EventStreamSpec), batch
    // twin aggregated with min(struct) so the pair set never window-sorts
    "funnel_first" -> ((s, d) =>
      EventStream.funnelFirst(
        graft.projection.EventsReplay.rawEvents(s, d), "click", "purchase")),

    // as-of join: each click picks the user's latest purchase at-or-before
    // it — union + ordered window carry (ONE key shuffle, no theta-join
    // blowup); DuckDB's native ASOF LEFT JOIN is the oracle
    "asof_join" -> { (s, d) =>
      val ev = graft.projection.EventsReplay.rawEvents(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      graft.operators.TemporalJoins.asofJoin(
          clicks, purchases, Seq("user_id"), "ts", "ts",
          Seq("purchase_id", "purchase_value"), matchedTsCol = "purchase_ts")
        .select(col("event_id"), col("user_id"),
          col("purchase_id"),
          col("purchase_value"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"))
    },

    // Revenue concentration (NEW r11): the Gini coefficient of
    // per-customer order revenue — the "how head-heavy is the
    // distribution" audit run on any weight column before sampling
    // against it. Revenue quantizes to integer micros per order, the
    // per-customer sums and the rank moments Σx / Σi·x ride
    // DECIMAL(38,0)/HUGEINT (Σi·x is O(n²·x) — far past Long at scale),
    // and the emitted value is floor(g·10⁶) — floor of the identical
    // double, never a round() whose half-breaking could differ. The
    // rank rides Ranks.prefixRank (range shuffle + per-partition
    // offsets) — no task ever sorts the whole customer dimension.
    "gini_revenue" -> { (s, d) =>
      import s.implicits._
      val d38 = "decimal(38,0)"
      val rev = s.read.parquet(s"$d/orders.parquet")
        .select(col("o_custkey").cast("long").as("c"),
          floor(col("o_totalprice") * lit(1e6) + lit(0.5)).cast("long").as("m"))
        .groupBy(col("c")).agg(sum(col("m")).as("x"))
      val ranked = graft.operators.Ranks.prefixRank(
        rev, Seq(col("x").asc, col("c").asc), "i")
      val agg = ranked.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("b"),
        sum(col("i").cast(d38) * col("x").cast(d38)).as("a")).head()
      val n = agg.getLong(0)
      val b = agg.getDecimal(1).doubleValue
      val a = agg.getDecimal(2).doubleValue
      val g = 2.0 * a / (n.toDouble * b) - (n + 1.0) / n
      val gm = math.floor(g * 1e6).toLong
      Seq((n, gm, gm / 1e6)).toDF("n_customers", "gini_micro", "gini")
    },

    // Lorenz deciles (NEW r11): the table behind [[gini_revenue]] —
    // per revenue decile (rank-ordered customers, explicit integer
    // decile formula ⌊(i−1)·10∕n⌋+1 so both engines cut identically),
    // customer count and the decile's share of total revenue in exact
    // integer micros via BigInt/HUGEINT FLOOR division (no float
    // division anywhere). Ten bounded rows; the rank is the same
    // distributed prefix rank as gini (and `i` is a Long, so the
    // (i−1)·10 product can't wrap past 214.7M customers the way the
    // old 32-bit row_number() silently would).
    "revenue_deciles" -> { (s, d) =>
      import s.implicits._
      val d38 = "decimal(38,0)"
      val rows = Staged.run { stage =>
        val rev = stage(s.read.parquet(s"$d/orders.parquet")
          .select(col("o_custkey").cast("long").as("c"),
            floor(col("o_totalprice") * lit(1e6) + lit(0.5)).cast("long").as("m"))
          .groupBy(col("c")).agg(sum(col("m")).as("x")))
        val nCust = rev.count()
        graft.operators.Ranks.prefixRank(rev, Seq(col("x").asc, col("c").asc), "i")
          .withColumn("n", lit(nCust))
          .withColumn("decile", expr("((i - 1) * 10) div n") + lit(1))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"), sum(col("x").cast(d38)).as("xs"))
          .collect()
      }
      val total = rows.map(r => BigInt(r.getDecimal(2).toBigInteger)).sum
      rows.toSeq.map { r =>
        val xs = BigInt(r.getDecimal(2).toBigInteger)
        (r.getLong(0), r.getLong(1), (xs * 1000000 / total).toLong)
      }.toDF("decile", "n_customers", "share_micro")
    },

    // Market-basket lift (NEW r11): for part pairs co-bought in ≥2
    // orders (the synthetic baskets are sparse — max support 5 at
    // sf0.01), lift = N·c_ab∕(c_a·c_b) over the distinct (order, part)
    // basket relation — the association-rule primitive. The PMI
    // contract: the ratio is the same double op-sequence on the same
    // integers in both engines (rank-safe), emitted through
    // round(ln,4); top-20 by (ratio desc, a, b). Pair generation is
    // the order-keyed self-join bounded by items-per-order. The cut is
    // orderBy+limit = TakeOrderedAndProject (per-partition heaps, the
    // PMI pattern) — the rank window then sees 20 rows, never the full
    // qualifying pair set.
    "basket_lift" -> { (s, d) => Staged.run { stage =>
      val snap = TpchGraph.snapshot(s, d)
      val baskets = stage(snap.edges.where(col("label") === "contains")
        .select(col("outV").as("o"), col("inV").as("p")).distinct())
      val nOrders = baskets.select(col("o")).distinct().count()
      val ca = baskets.groupBy(col("p")).agg(count(lit(1)).as("c"))
      val pairs = baskets.select(col("o"), col("p").as("a"))
        .join(baskets.select(col("o"), col("p").as("b")), "o")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= 2)
      import org.apache.spark.sql.expressions.Window
      pairs
        .join(ca.select(col("p").as("a"), col("c").as("c_a")), "a")
        .join(ca.select(col("p").as("b"), col("c").as("c_b")), "b")
        .select(col("a"), col("b"), col("c_a"), col("c_b"), col("c_ab"),
          ((col("c_ab") * lit(nOrders.toDouble)) /
            (col("c_a") * col("c_b")).cast("double")).as("ratio"))
        .orderBy(col("ratio").desc, col("a"), col("b")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ratio").desc, col("a"), col("b"))))
        .select(col("a"), col("b"), col("c_a"), col("c_b"), col("c_ab"),
          round(log(col("ratio")), 4).as("log_lift"),
          col("rk").cast("long").as("rk"))
        .localCheckpoint(true)
    }},

    // graph motif: two orders by the same customer containing the same
    // part. ΣC(n,2) needs NO pair join (the r9 plan materialized every
    // order-pair — per-(customer, part) quadratic, a hot key at 100×
    // is a blowup): count orders per (customer, part) — rows are
    // already distinct on (customer, part, order) — then sum n·(n−1)/2.
    // Two hash aggregations with map-side partials, skew-proof.
    "motif_shared_part" -> { (s, d) =>
      val snap = TpchGraph.snapshot(s, d)
      val placed = snap.edges.where(col("label") === "placed")
        .select(col("outV").as("customer"), col("inV").as("order_v"))
      val contains = snap.edges.where(col("label") === "contains")
        .select(col("outV").as("order_v"), col("inV").as("part_v")).distinct()
      val co = placed.join(contains, "order_v")
      co.groupBy(col("customer"), col("part_v"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 2)
        .groupBy(col("customer"))
        .agg(sum((col("n") * (col("n") - 1) / 2).cast("long")).as("n_motifs"))
    },

    // LOCF gap-fill (NEW r11): every event carries the user's most
    // recent purchase value so far — the last-observation-carried-
    // forward feature join a training pipeline runs to densify sparse
    // signals, as ONE running window per user (single shuffle on
    // user_id; state is per-user-sequence, not corpus-scale). The
    // deterministic (ts, event_id) order pins ties; the value double
    // passes through unchanged, so the twin is bit-exact.
    "events_locf" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      graft.projection.EventsReplay.rawEvents(s, d)
        .select(col("event_id"), col("user_id"),
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w).as("last_purchase_value"))
    },

    // Per-user event-type TRANSITION counts (NEW r11): the first-order
    // Markov table behavioral models and funnel diagnostics start from
    // — one lead() window per user (single user_id shuffle, the
    // events_locf layout), then a types²-bounded count aggregation.
    // All-integer contract: n plus the from-state total (consumers
    // divide; a rounded probability is the half-point class).
    "event_transitions" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = graft.projection.EventsReplay.rawEvents(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("from_type"))
        .agg(sum(col("n")).as("from_total"))
      pairs.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          col("from_total").cast("long").as("from_total"))
    },

    // Per-user behavioral entropy (NEW r11): H = ln N − (Σ c·ln c)∕N
    // over the user's event-type counts — low entropy = a bot-like
    // single-action user, the ceiling ln(n_types). Same exactness
    // doctrine as token_entropy: c·ln c quantized to integer micros per
    // type and summed in DECIMAL(38,0), one shared final expression.
    // Two hash aggregations, both map-side combined.
    "user_event_entropy" -> { (s, d) =>
      val tf = graft.projection.EventsReplay.rawEvents(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      tf.groupBy(col("user_id")).agg(
          sum(col("c")).as("n"),
          count(lit(1)).cast("long").as("n_types"),
          sum(floor(col("c") * log(col("c")) * lit(1e6) + lit(0.5))
            .cast("decimal(38,0)")).as("sc"))
        .select(col("user_id"), col("n").cast("long").as("n_events"),
          col("n_types"),
          round(log(col("n").cast("double")) -
            col("sc").cast("double") / lit(1e6) / col("n").cast("double"), 6)
            .as("entropy_nats"))
    },

    // Winsorized per-type value stats (NEW r11): the outlier-robust
    // aggregate a metrics pipeline clamps heavy-tailed values with —
    // nearest-rank p01/p99 cut points (one per-type window sort; the
    // rank expression ceil(n·q) is the same IEEE double in both
    // engines), then values clamped into [lo, hi], quantized to integer
    // micros per ROW, and summed in DECIMAL(38,0) (a Long micro-sum
    // wraps at 9.2e12 value-units — reachable at 100 TB event volume;
    // the token_entropy widening). The emitted wins_sum is the ONE
    // shared double expression sc∕10⁶ under round(6) — never a rounded
    // mean (the half-point class). Ties at a cut share one value, so
    // the tie order inside the window never shows.
    "events_winsorized" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = graft.projection.EventsReplay.rawEvents(s, d)
        .select(col("event_type"), col("value"))
      val ranked = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("value"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      val bounds = ranked.groupBy(col("event_type")).agg(
        max(when(col("rn") ===
          greatest(ceil(col("n") * lit(0.01)), lit(1L)), col("value"))).as("lo"),
        max(when(col("rn") === ceil(col("n") * lit(0.99)), col("value"))).as("hi"),
        max(col("n")).as("n"))
      ev.join(broadcast(bounds), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(floor(least(greatest(col("value"), col("lo")), col("hi")) * lit(1000000d)
            + lit(0.5)).cast("decimal(38,0)")).as("sc"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          round(col("sc").cast("double") / lit(1e6), 6).as("wins_sum"))
    },

    // stream-static enrichment, batch twin (stream parity in
    // EventStreamSpec): events LEFT-joined to the customer dimension
    "events_enriched" -> { (s, d) =>
      val ev = graft.projection.EventsReplay.rawEvents(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").cast("long").as("user_id"),
          col("c_mktsegment").as("mktsegment"))
      EventStream.enrichEvents(ev, dim, Seq("user_id"))
    },

    // range join: events inside the hour after an error by the same user —
    // banded equi-join (intervals explode into ≤2 one-hour bands), exact
    // containment filtered after; the oracle is the direct inequality join
    "range_join" -> { (s, d) =>
      val ev = graft.projection.EventsReplay.rawEvents(s, d)
      val probes = ev.select(col("event_id"), col("user_id"), col("ts"))
      val errWindows = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_event_id"),
          col("ts").as("err_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("err_end"))
      graft.operators.TemporalJoins.rangeBandJoin(
          probes, errWindows, Seq("user_id"), "ts", "err_ts", "err_end", 3600L)
        .where(col("event_id") =!= col("err_event_id"))
        .select(col("event_id"), col("err_event_id"))
    },
  )

  // ---- DuckDB oracle twins (same column names/types, same values) ----
  // The SQL lives in per-family objects under graft/oracle (VERDICT r10
  // item 8 — the entry point stays navigable); OracleRegistrySpec pins
  // the family maps disjoint and aligned with `queries`.
  //
  // Oracle-less (rows-only per the driver contract) — genuinely not
  // DuckDB-expressible: heavy_hitters_sketch (Misra-Gries partial-merge
  // order; error bound gated in PipelineSpec). Earlier rows-only entries
  // were all retired into full oracles (md5-derived twins, recursive-CTE
  // replays) by rounds 8-10.
  def oracleSql: Map[String, String] =
    graft.oracle.GraphOracles.sql ++
      graft.oracle.SnapshotOracles.sql ++
      graft.oracle.CorpusOracles.sql ++
      graft.oracle.VectorOracles.sql ++
      graft.oracle.CurationOracles.sql ++
      graft.oracle.EventOracles.sql
}
