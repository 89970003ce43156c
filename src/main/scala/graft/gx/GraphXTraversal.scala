package graft.gx

import org.apache.spark.graphx.{Edge, Graph, TripletFields, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.snapshot.Snapshot
import graft.util.{LruMemo, Observed, PreparedRounds, Settled, Stage, Staged}
import graft.util.LruMemo.releaseCheckpoint
import org.apache.spark.sql.graftshim.Relations

/**
 * The snapshot graph's iterative analytics, run as relational rounds: a
 * superstep is one join of the edge frame against the vertex-state frame
 * plus one group-by (Pregelix's shape), over checkpoints that declare the
 * layout the next round joins on. Loops that stop on a test carry their
 * state through [[graft.util.Stage.iterate]]; fixed-round loops are
 * planned once ([[graft.util.PreparedRounds]]).
 *
 * GraphX is left in two places. [[hop3]] runs the reference's exhaustive
 * 3-hop OUT traversal (FluxBenchmarkTestSuite.java:30-56) as
 * aggregateMessages rounds over a memoized `Graph[Unit, Int]`
 * (dictionary-coded labels as edge attributes), the message-passing twin
 * of the DataFrame join variant SparkEntry.hop3; per BASELINE.md both
 * are recorded. [[pageRankDF]] and [[personalizedPageRankDF]] are the
 * GraphX reference implementations the relational PageRank family is
 * checked against.
 */
object GraphXTraversal {

  /** How many entries each memo below keeps pinned: snapshots are
    * immutable, so identity-keying is safe, and the least-recently-used
    * entry is released on eviction — per-job snapshots in a long-lived
    * session can't accumulate cached RDDs until storage memory dies. */
  private[graft] final val MaxCachedGraphs = 4

  /** Deterministic label→code dictionary per snapshot: labels are a
    * handful of strings but the full edge RDD is O(100 TB / row-size) —
    * caching 10⁸+ per-edge String objects is multi-GB of pure pointer/
    * header overhead and was the first thing to push sf5 storage into
    * eviction cascades (round-9 probe: the slow hop MOVED between reps).
    * An Int attr caches in a primitive array per partition instead. */
  private val labelCodeCache = new LruMemo[Snapshot, Map[String, Int]](MaxCachedGraphs, _ => ())
  def labelCodes(snap: Snapshot): Map[String, Int] =
    labelCodeCache.getOrBuild(snap)(
      snap.edges.select(col("label")).distinct().collect()
        .map(_.getString(0)).sorted.zipWithIndex.toMap)

  def graphOf(snap: Snapshot): Graph[Unit, Int] = {
    val codes = labelCodes(snap)
    val bc = snap.edges.sparkSession.sparkContext.broadcast(codes)
    val edges: RDD[Edge[Int]] = snap.edges
      .select(col("outV"), col("inV"), col("label")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), bc.value(r.getString(2))))
    val vertices: RDD[(VertexId, Unit)] =
      snap.vertexIds.rdd.map(r => (r.getLong(0), ()))
    Graph(vertices, edges)
  }

  /** Memoized, persisted graph per snapshot: the vertex/edge RDD build is
    * a one-time projection cost (like TpchGraph.snapshot's persist), so
    * repeated traversals pay only the message-passing rounds. Eviction
    * unpersists the graph. */
  private val cache =
    new LruMemo[Snapshot, Graph[Unit, Int]](MaxCachedGraphs, _.unpersist(blocking = false))
  def cachedGraph(snap: Snapshot): Graph[Unit, Int] =
    cache.getOrBuild(snap)(graphOf(snap).cache())

  /** Count label-sequence paths: start with 1 at every vertex with an
    * out-edge of labels.head? No — start at ALL vertices (the reference
    * iterates every vertex), then hop along each label in order. Returns
    * (n_paths, n_destinations-with-paths).
    *
    * Hop discipline (round-9 sf5 probe): each hop MATERIALIZES its
    * message sums, then drops the hop graph's shipped vertex state
    * (`unpersistVertices`) and the previous hop's counts before moving
    * on. Without that, every hop's `outerJoinVertices` graph pins its
    * internally-cached replicated vertex view — three leaked edge-scale
    * views per traversal overflowed sf5 storage and turned eviction
    * recomputes into a 17×-on-5×-data cliff (38 s → linear after the
    * fix). `TripletFields.Src` halves the shipping: the send function
    * never reads dst attrs. */
  def labelPathCounts(g: Graph[Unit, Int], labelIds: Seq[Int]): (Long, Long) = {
    // seed: every vertex roots one path of length 0
    var counts: RDD[(VertexId, Long)] = g.vertices.mapValues(_ => 1L)
    labelIds.foreach { label =>
      val withCounts = g.outerJoinVertices(counts) {
        (_, _, c) => c.getOrElse(0L)
      }
      val next = withCounts.aggregateMessages[Long](
        ctx => if (ctx.attr == label && ctx.srcAttr > 0) ctx.sendToDst(ctx.srcAttr),
        _ + _, TripletFields.Src)
      next.persist().count() // materialize BEFORE releasing hop state
      withCounts.unpersistVertices(blocking = false)
      // unpersistVertices leaves the hop graph's replicated-view EdgeRDD
      // cached (GraphX's own TODO) — a fresh edge-scale RDD per hop.
      // This is the round-9 sf5 leak: 3 × 2.8 GB per traversal, measured
      // via getRDDStorageInfo. withCounts.edges is the view's NEW RDD
      // (updateVertices re-ships attr copies), never g's own cached one.
      withCounts.edges.unpersist(blocking = false)
      counts.unpersist(blocking = false)
      counts = next
    }
    val nPaths = counts.map(_._2).fold(0L)(_ + _)
    val nDest = counts.count()
    counts.unpersist(blocking = false)
    (nPaths, nDest)
  }

  /** The flagship traversal as a one-row DataFrame matching the
    * hop3_traversal oracle: customer -placed-> order -contains-> part
    * -supplied_by-> supplier. */
  def hop3(spark: SparkSession, snap: Snapshot): DataFrame = {
    val codes = labelCodes(snap)
    val (nPaths, nSuppliers) = labelPathCounts(cachedGraph(snap),
      Seq("placed", "contains", "supplied_by").map(codes))
    spark.createDataFrame(Seq((nPaths, nSuppliers)))
      .toDF("n_paths", "n_suppliers")
  }

  /** The label-filtered edges as an (a, b) pair frame, a = the out
    * vertex: the input of the label-subgraph analytics, whose vertices
    * are edge ENDPOINTS only — a 100 TB graph restricted to one edge
    * label is mostly isolated vertices (here: orders/parts/regions when
    * filtering to in_nation), which would otherwise dominate both the
    * rounds and the output as meaningless singletons. */
  private[gx] def labelPairs(snap: Snapshot, labels: Seq[String]): DataFrame =
    snap.edges.where(col("label").isin(labels: _*))
      .select(col("outV").as("a"), col("inV").as("b"))

  /** Connected components of the label-filtered subgraph (undirected:
    * direction is ignored): one row per edge endpoint with its component
    * id, the smallest vertex id in the component — the GraphX
    * `connectedComponents` labelling, by [[components]]. Memoized per
    * (snap, labels) in the shared [[graft.util.LruMemo]], like the LPA
    * labeling; eviction frees the result's blocks. */
  private val ccCache =
    new LruMemo[(Snapshot, Seq[String]), DataFrame](MaxCachedGraphs, releaseCheckpoint)

  def componentsDF(spark: SparkSession, snap: Snapshot,
                   labels: Seq[String]): DataFrame =
    ccCache.getOrBuild((snap, labels.sorted))(Staged.run { stage =>
      stage.own(components(labelPairs(snap, labels)))
        .select(col("v").as("vertex_id"), col("lbl").as("component"))
        .localCheckpoint(true)
    })

  /** PageRank restricted to a label-filtered subgraph whose vertices are
    * its edge endpoints only ([[labelPairs]]; isolated snapshot vertices
    * would both bloat the output and shift the final rank normalization
    * `rank · |V| / Σrank`): [[pageRankRounds]] over the subgraph's
    * [[contributions]], normalized over every vertex ([[normalizeTopK]]
    * with no cut).
    *
    * On the default `in_nation`/`in_region` labels the graph is a
    * 3-level DAG (customer/supplier → nation → region), where static
    * PageRank reaches its EXACT fixpoint after 3 iterations: sources
    * stabilize at 0.15 after round 1, nations (fed only by stabilized
    * sources) after round 2, regions after round 3 — so `numIter = 3`
    * is the converged answer, not a truncation (convergence is
    * re-proven against iteration 4 in GraphXAnalyticsSpec). That also
    * gives the iterative engine a CLOSED FORM the DuckDB oracle can
    * compute relationally: raw(c) = 0.15; raw(n) = 0.15 + 0.85·0.15·mₙ
    * (mₙ = customers+suppliers of n, each with out-degree 1); raw(r) =
    * 0.15 + 0.85·Σ_{n∈r} raw(n); final = raw · |V| / Σraw — the same
    * verify-the-general-algorithm-on-a-known-structure trick as
    * `connected_components`. Memoized per (snap, labels, numIter) like
    * [[componentsDF]]. */
  private val starCache =
    new LruMemo[(Snapshot, Seq[String], Int), DataFrame](MaxCachedGraphs, releaseCheckpoint)

  def pageRankStarDF(spark: SparkSession, snap: Snapshot,
                     labels: Seq[String] = Seq("in_nation", "in_region"),
                     numIter: Int = 3): DataFrame =
    starCache.getOrBuild((snap, labels.sorted, numIter))(Staged.run { stage =>
      val contrib = stage.own(contributions(labelPairs(snap, labels)
        .select(col("a").as("u"), col("b").as("v"), lit(1.0).as("wt"))))
      val verts = stage.own(partitionedCheckpoint(
        contrib.select(col("u").as("v")).unionAll(contrib.select(col("v"))).distinct(), "v"))
      normalizeTopK(pageRankRounds(contrib, verts, numIter, None), personalized = false, None)
    })

  /** The bulk-quantity part co-occurrence pair graph as a canonical
    * pair frame (`a` < `b`, distinct): parts are linked when one order
    * contains BOTH with quantity ≥ `minQty` (the property filter rides
    * the snapshot's typed edge-prop fact scan, then thins the quadratic
    * pair blowup at the source — the same guard a 100 TB co-occurrence
    * projection needs, since pairs-per-order grows as C(items, 2)). Pair
    * generation is ONE equi-join on the order id plus a distinct — no
    * crossJoin. The input of every pair-graph operator, memoized per
    * (snap, minQty) in the shared [[graft.util.LruMemo]] as an eager
    * checkpoint; eviction frees its blocks. It declares no layout: its
    * readers key on `a`, `b` or neither, and declared `a`-partitioned
    * (a [[partitionedCheckpoint]]) Adamic–Adar and modularity ran 20–30%
    * slower at sf0.1 while k-core ran no faster. Callers read it as is:
    * never re-pin it, and never hand it to [[graft.util.Stage.iterate]]
    * as `start` (the driver releases its predecessor after round 1). */
  private val pairCache =
    new LruMemo[(Snapshot, Double), DataFrame](MaxCachedGraphs, releaseCheckpoint)

  private[graft] def pairEdges(snap: Snapshot, minQty: Double): DataFrame =
    pairCache.getOrBuild((snap, minQty)) {
      import graft.model.{A, PropType}
      val bulkIds = snap.prop("quantity", PropType.PDouble, A.Edge)
        .where(col("v") >= minQty).select(col("e").as("id"))
      val bulk = snap.edges.where(col("label") === "contains")
        .join(bulkIds, "id")
      // renamed projections before the self-join (ambiguity gotcha)
      val lhs = bulk.select(col("outV").as("o"), col("inV").as("a"))
      val rhs = bulk.select(col("outV").as("o"), col("inV").as("b"))
      lhs.join(rhs, "o").where(col("a") < col("b")).select(col("a"), col("b")).distinct()
        .localCheckpoint(true)
    }

  /** (v, d, tri) for every endpoint of a canonical pair frame: its degree
    * ([[degrees]]) and the triangles through it. Each triangle at v closes
    * two of v's edges, so tri(v) = Σ incident support ∕ 2, from one
    * [[edgeSupportFromOriented]] pass over the `u`-partitioned
    * [[orientedEdges]] checkpoint, pinned in `stage` (the shape
    * [[kTrussPeel]] runs each round). */
  private def vertexTriangles(stage: Stage, e0: DataFrame): DataFrame = {
    val sup = edgeSupportFromOriented(e0, stage.own(partitionedCheckpoint(orientedEdges(e0), "u")))
    val tri = sup.select(explode(array(col("a"), col("b"))).as("v"), col("support"))
      .groupBy(col("v")).agg(expr("sum(support) div 2").as("tri"))
    degrees(e0).join(tri, "v")
  }

  /** Triangle census of the [[pairEdges]] graph: one row (n_parts,
    * n_coedges, n_triangles) folded from [[vertexTriangles]] — Σd ∕ 2
    * edges and Σtri ∕ 3 triangles. Checked against a DuckDB oracle that
    * recomputes the census with a 3-way relational self-join. */
  def triangleCensusDF(spark: SparkSession, snap: Snapshot,
                       minQty: Double = 30.0): DataFrame = Staged.run { stage =>
    val r = vertexTriangles(stage, pairEdges(snap, minQty))
      .agg(count(lit(1)), coalesce(sum(col("d")), lit(0L)), coalesce(sum(col("tri")), lit(0L)))
      .head()
    spark.createDataFrame(Seq((r.getLong(0), r.getLong(1) / 2, r.getLong(2) / 3)))
      .toDF("n_parts", "n_coedges", "n_triangles")
  }

  /** Per-vertex local clustering coefficient over the same co-occurrence
    * pair graph: coeff(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)), 0 for
    * degree < 2 — the "how clique-like is this part's neighborhood"
    * signal, from [[vertexTriangles]]. The DuckDB oracle recomputes
    * both relationally (per-vertex wedge closure + pair-endpoint
    * counts), so every vertex is checked, not just the census total. */
  def clusteringCoeffDF(spark: SparkSession, snap: Snapshot,
                        minQty: Double = 30.0): DataFrame = Staged.run { stage =>
    vertexTriangles(stage, pairEdges(snap, minQty))
      .select(col("v").as("part_id"), col("d").as("degree"), col("tri").as("triangles"),
        round(when(col("d") < 2, lit(0.0))
          .otherwise(lit(2.0) * col("tri") / (col("d") * (col("d") - 1))), 4).as("coeff"))
      .localCheckpoint(true)
  }

  /** Community detection via SYNCHRONOUS label propagation with a
    * deterministic tie-break over the same co-occurrence pair graph:
    * labels start as vertex ids; each round every vertex adopts the
    * most frequent label among its NEIGHBORS, ties broken by the
    * smallest label. GraphX's own `LabelPropagation` breaks ties by
    * hash-map iteration order — nondeterministic across runs — so this
    * is a custom aggregateMessages loop whose every choice is a pure
    * function of the graph; the FIXED round count (sync LPA can
    * oscillate on bipartite structure, so "after exactly `rounds`
    * updates" IS the contract) lets the DuckDB twin unroll the same
    * rounds as (neighbor-label count → row_number pick) CTE steps.
    * Returns (part_id, community).
    *
    * Plan shape per round: one message aggregation whose per-vertex
    * state is the neighbor-label histogram (bounded by degree), merged
    * commutatively — map-side combined like any degree-bounded
    * aggregation; the vertex join is vertex-sized. Rounds are a graph
    * property, not a data-volume one. */
  /** Memoized LPA labelings (the shared [[graft.util.LruMemo]]): the
    * result is a vertex-sized projection of the last round's checkpoint,
    * whose blocks eviction frees. [[modularityDF]] shares the labeling
    * instead of re-running the rounds. */
  private val lpaCache =
    new LruMemo[(Snapshot, Int, Double), DataFrame](MaxCachedGraphs, releaseCheckpoint)

  def communitiesLpaDF(spark: SparkSession, snap: Snapshot, rounds: Int = 4,
                       minQty: Double = 30.0): DataFrame =
    lpaCache.getOrBuild((snap, rounds, minQty))(buildLpa(spark, snap, rounds, minQty))

  private def buildLpa(spark: SparkSession, snap: Snapshot, rounds: Int,
                       minQty: Double): DataFrame = {
    require(rounds > 0, "rounds must be positive")
    lpaRounds(pairEdges(snap, minQty), rounds)
      .select(col("v").as("part_id"), col("lbl").as("community"))
  }

  /** The symmetrized (x, y) adjacency the LPA rounds walk.
    * Pre-partitioned on `y` (r15, VERDICT r14 item 1): every round joins
    * this edge-scale frame on `y` against the vertex-sized labeling, so
    * the preserved HashPartitioning removes one edge-scale exchange per
    * round — rounds edge shuffles become one (the plain localCheckpoint
    * recorded UnknownPartitioning and silently re-exchanged each round,
    * the same AQE trap the r14 pagerank fix closed). */
  private[gx] def lpaEdges(pairs: DataFrame): DataFrame =
    partitionedCheckpoint(
      pairs.select(col("a").as("x"), col("b").as("y"))
        .unionAll(pairs.select(col("b").as("x"), col("a").as("y"))),
      "y")

  /** Round-0 labels over [[lpaEdges]]: every vertex labelled with its
    * own id. */
  private[gx] def lpaStart(ed: DataFrame): DataFrame =
    ed.select(col("x").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))

  /** One synchronous LPA round, the body [[lpaRounds]] and [[RoundSteps]]
    * share: every vertex adopts its most frequent neighbor label, ties
    * broken by the smallest label — a (vertex, label) count aggregation,
    * then a per-vertex `min_by` argmax. */
  private[gx] def lpaRound(ed: DataFrame, labels: DataFrame): DataFrame =
    ed.join(labels.select(col("v").as("y"), col("lbl")), "y")
      .groupBy(col("x").as("v"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("v"))
      .agg(min_by(col("lbl"),
        struct((-col("c")).as("nc"), col("lbl").as("l"))).as("lbl"))

  /** Synchronous LPA rounds over a canonical pair-edge frame (columns
    * `a`, `b`, each undirected pair once): labels start as the vertex id
    * and each round every vertex adopts its most frequent neighbor label,
    * ties broken by the smallest label — exactly the (count desc, label
    * asc) pick the DuckDB twin unrolls. The histogram merge is
    * RELATIONAL (VERDICT r10 skew item — formerly an aggregateMessages
    * `Map[Long,Int]` merge that accumulated a hub's whole neighbor-label
    * histogram as one per-vertex heap object): each round is one
    * (vertex, label) counting aggregation — map-side combined, so a
    * planted hub with 10⁵ neighbors costs shuffled count ROWS, never a
    * single-task map — plus a per-vertex `min_by` argmax, itself a
    * partial-merge hash agg. Each round materializes eagerly
    * (localCheckpoint), so the plan never stacks rounds-deep joins.
    * Package-visible so the planted-hub spec can drive it on a synthetic
    * edge frame. */
  private[graft] def lpaRounds(pairs: DataFrame, rounds: Int): DataFrame = Staged.run { stage =>
    val ed = stage.own(lpaEdges(pairs))
    stage.iterate(lpaStart(ed).localCheckpoint(true), rounds) { (labels, _) =>
      lpaRound(ed, labels).localCheckpoint(true)
    }.state // retained: buildLpa memoizes it (lpaCache)
  }

  /** One connected-components round, LPA's round ([[lpaRound]]) with the
    * min in place of the mode: every vertex keeps the smallest of its own
    * label and its neighbours' labels; `moved` marks a vertex whose label
    * fell. Both joins are pinned to `shuffle_hash` built on their
    * vertex-sized side, as in [[pageRankRound]]: the `y`-partitioned
    * edges and the `v`-partitioned labels are read in place, nothing is
    * broadcast (left to the size statistics, the planner broadcast the
    * labels into both joins every round, a job each), and the
    * neighbour-min aggregation is the round's one exchange. Every vertex
    * of `labels` is an endpoint of `ed`, so it has a neighbour. */
  private[gx] def ccRound(ed: DataFrame, labels: DataFrame): DataFrame = {
    val low = ed.join(labels.select(col("v").as("y"), col("lbl").as("nl")).hint("shuffle_hash"), "y")
      .groupBy(col("x").as("v")).agg(min(col("nl")).as("nl"))
    labels.join(low.hint("shuffle_hash"), "v")
      .select(col("v"), least(col("lbl"), col("nl")).as("lbl"), (col("nl") < col("lbl")).as("moved"))
  }

  /** Connected components of an edge frame (columns `a`, `b`; direction,
    * duplicates and self-loops ignored): (v, lbl, moved) for every edge
    * endpoint, `lbl` the smallest vertex id in its component — GraphX's
    * `connectedComponents` labelling. [[ccRound]] over the [[lpaEdges]] /
    * [[lpaStart]] frames, planned once ([[graft.util.PreparedRounds]]), runs on
    * [[graft.util.Stage.iterate]] until no label falls, a count observed
    * on the job that pins each round ([[graft.util.Settled]]): one job per
    * round. A label only ever falls, so the loop ends within the largest
    * component's diameter + 1 rounds and needs no cap. The result is a
    * `v`-partitioned checkpoint the caller releases. */
  private[graft] def components(pairs: DataFrame): DataFrame = Staged.run { stage =>
    val ed = stage.own(lpaEdges(pairs))
    // round 0: lpaStart's labels, none moved
    val loop = PreparedRounds(lpaStart(ed).withColumn("moved", lit(false)), "v",
      sessionWidth(ed.sparkSession))(ccRound(ed, _))
    val settled = new Settled(_ => count(when(col("moved"), 1)))
    // round 1 reads the round-0 labels unpinned (pinning them is a job)
    stage.iterate(loop.result(0), Int.MaxValue, settled) { (labels, n) =>
      partitionedCheckpoint(settled.observe(loop.after(labels), n), "v", loop.width)
    }.state
  }

  /** Eager localCheckpoint of `df` hash-partitioned on `k` into `width`
    * partitions, declaring that layout to the plans that read it. Under
    * AQE (the Spark 4 default) a checkpoint's LogicalRDD records
    * UnknownPartitioning(0) even after an explicit `repartition(width,
    * k)` — the adaptive plan's output partitioning is not propagated —
    * so every downstream k-keyed join or aggregation would silently
    * RE-EXCHANGE the checkpointed side each round: exactly the per-round
    * edge-scale shuffle the repartition is there to remove (guide §2.4).
    * The checkpoint therefore declares `HashPartitioning(k, width)`
    * itself; EnsureRequirements reuses it, and shuffles the other side
    * of a k-keyed join to `width`. A frame whose plan already ends
    * hash-partitioned on `k` at `width` (a projection of another such
    * checkpoint, a left-outer join that streams one, an aggregation over
    * a `repartition(width, k)`) checkpoints with no exchange of its own:
    * EnsureRequirements drops a root repartition its child satisfies.
    *
    * The declared layout only pays if the planner reads it: for the
    * relational rounds, AQE sizes a checkpoint by its statistics and
    * would BROADCAST an edge-scale frame below the broadcast threshold
    * (one extra job per round, and the layout bypassed), then turn the
    * vertex-side join into a second broadcast once the message shuffle
    * has run. Those rounds therefore pin `shuffle_hash` on their
    * vertex-sized side ([[pageRankRound]], [[ssspRound]]). The build
    * runs under the session's own conf and sets none. */
  private[graft] def partitionedCheckpoint(df: DataFrame, k: String, width: Int): DataFrame =
    Relations.hashPartitioned(df.repartition(width, col(k)).localCheckpoint(true), k, width)

  /** [[partitionedCheckpoint]] at the session's
    * `spark.sql.shuffle.partitions` (read, never set). */
  private[graft] def partitionedCheckpoint(df: DataFrame, k: String): DataFrame =
    partitionedCheckpoint(df, k, sessionWidth(df.sparkSession))

  private[gx] def sessionWidth(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Newman modularity of the [[communitiesLpaDF]] labeling — the "did
    * LPA find real structure" number: Q = Σ_c [in_c∕m − (deg_c∕2m)²]
    * over communities, computed as ONE exact integer numerator
    * N = Σ_c (4·m·in_c − deg_c²) ([[modularityNumerator]], DECIMAL(38)
    * so it cannot wrap at billions of edges) and a single final
    * division N∕(4m²) — the assortativity doctrine, so the DuckDB twin
    * (which replays the LPA rounds first, HUGEINT chain) lands
    * bit-for-bit before round(6). Everything
    * past the labeling is community-dimension-sized: two vertex-keyed
    * label joins on the edge list, then counts. Returns (n_edges,
    * n_communities, modularity). */
  def modularityDF(spark: SparkSession, snap: Snapshot, rounds: Int = 4,
                   minQty: Double = 30.0): DataFrame = Staged.run { stage =>
    import spark.implicits._
    val labels = communitiesLpaDF(spark, snap, rounds, minQty)
    val e2 = stage(pairEdges(snap, minQty)
      .join(labels.select(col("part_id").as("a"), col("community").as("ca")), "a")
      .join(labels.select(col("part_id").as("b"), col("community").as("cb")), "b"))
    val m = e2.count()
    val inC = e2.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("in_c"))
    val degC = e2.select(col("ca").as("c")).unionAll(e2.select(col("cb").as("c")))
      .groupBy(col("c")).agg(count(lit(1)).as("deg_c"))
    val num = modularityNumerator(m, degC.join(inC, Seq("c"), "left_outer"))
    val nComms = labels.select(col("community")).distinct().count()
    // the one shared double sequence: N / (4.0 · m · m), round(6)
    val q = num.doubleValue / (4.0 * m * m)
    Seq((m, nComms, BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("n_edges", "n_communities", "modularity")
  }

  /** Exact integer modularity numerator Σ_c (4·m·in_c − deg_c²) over a
    * per-community stats frame (columns `in_c` nullable long, `deg_c`
    * long), carried in DECIMAL(38,0) end-to-end: the former Long chain
    * silently wrapped once 4·m·in_c passed 2⁶³ — about 1.5e9 edges with
    * a dominant community, squarely the 100 TB regime (VERDICT r10).
    * Factors are cast to Decimal(20,0) (a Long always fits) so each
    * product stays within Spark's 38-digit cap for any physical m; the
    * DuckDB twin runs the same chain with HUGEINT factors. Package-
    * visible so the overflow spec can inject synthetic counts past 2³¹
    * without manufacturing a billion-edge graph. */
  private[graft] def modularityNumerator(m: Long, stats: DataFrame): java.math.BigDecimal = {
    val d20 = org.apache.spark.sql.types.DecimalType(20, 0)
    val row = stats
      .select((lit(4L).cast(d20) * lit(m).cast(d20) *
        coalesce(col("in_c"), lit(0L)).cast(d20) -
        col("deg_c").cast(d20) * col("deg_c").cast(d20)).as("t"))
      .agg(sum(col("t")).as("n")).head()
    if (row.isNullAt(0)) java.math.BigDecimal.ZERO else row.getDecimal(0)
  }

  /** k-core of the same co-occurrence pair graph: each round drops
    * vertices whose degree in the CURRENT induced subgraph is < k, then
    * re-induces, looping until a round removes nothing — the TRUE k-core
    * fixpoint, which is unique regardless of peel order, so the contract
    * stays deterministic. `rounds` is the NOMINAL depth the DuckDB twin
    * unrolls; when the data needs more peels (degeneracy grows with
    * density — VERDICT r10: at 100× a 13th round could still peel), the
    * loop continues to a hard cap of max(rounds, 64) instead of silently
    * returning a non-core. The emitted `converged` column makes the
    * contract checkable: TRUE iff the last executed peel removed nothing
    * (the result IS the fixpoint); FALSE only if the cap was hit first.
    * The twin computes the same flag honestly by unrolling one extra
    * round and comparing edge counts — so a too-short twin unroll
    * surfaces as a visible mismatch, never a silent agreement on a
    * non-core. Returns the surviving (part_id, degree, converged).
    *
    * Plan shape per round: one degree aggregation (map-side combined)
    * + two semi-joins, each over a monotonically shrinking edge set;
    * every round materializes eagerly (localCheckpoint) so the loop
    * doesn't stack a 3·rounds-join plan — the Lloyd-iteration
    * discipline. At 100 TB each round is one bounded shuffle on the
    * current core's edges; rounds are scale-independent (peeling depth
    * is a graph property, not a data-volume one). */
  def kCoreDF(spark: SparkSession, snap: Snapshot, k: Int = 12,
              rounds: Int = 12, minQty: Double = 30.0): DataFrame =
    kCorePeel(pairEdges(snap, minQty), k, rounds)
      .select(col("v").as("part_id"), col("d").as("degree"), col("converged"))

  /** (v, d): the degree of every endpoint of a pair-edge frame. */
  private[gx] def degrees(edges: DataFrame): DataFrame = edges
    .select(col("a").as("v")).unionAll(edges.select(col("b").as("v")))
    .groupBy(col("v")).agg(count(lit(1)).as("d"))

  /** One k-core peel, the body [[kCorePeel]] and [[RoundSteps]] share:
    * the edges both of whose endpoints keep degree ≥ k in `edges`. */
  private[gx] def kcoreRound(edges: DataFrame, k: Int): DataFrame = {
    val alive = degrees(edges).where(col("d") >= k).select(col("v"))
    edges
      .join(alive.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(alive.select(col("v").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
  }

  /** The peel loop behind [[kCoreDF]], over a canonical pair-edge frame
    * (columns `a`, `b`). Returns (v, d, converged). Package-visible so
    * the fixpoint spec can drive synthetic graphs whose peeling depth
    * exceeds the nominal round budget. */
  private[graft] def kCorePeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = Staged.run { stage =>
    // a projection: the memoized pair frame is read, never released here
    val start = pairs.select(col("a"), col("b"))
    // a peeled edge set with no vertex below k is the fixpoint (the next
    // peel would remove nothing), so the round that reaches the core is
    // the last one; an empty set is trivially converged
    def fixpoint(edges: DataFrame): Boolean = degrees(edges).where(col("d") < k).isEmpty
    val peeled = stage.iterate(start, math.max(rounds, 64), fixpoint) { (edges, _) =>
      kcoreRound(edges, k).localCheckpoint(true)
    }
    // the vertex-scale answer must not pin the final edge set
    degrees(stage.own(peeled.state)).withColumn("converged", lit(peeled.converged))
      .localCheckpoint(true)
  }

  /** k-truss of the co-occurrence pair graph: the maximal subgraph in
    * which EVERY edge closes ≥ k−2 triangles (support) — the
    * cohesion-by-edges dual of [[kCoreDF]]'s cohesion-by-degree, and the
    * standard "dense community scaffold" cut (Cohen 2008). Peels edges
    * whose support in the CURRENT subgraph falls below k−2, re-supports,
    * and loops to the unique fixpoint (peel order never matters) with
    * the same honest `converged` contract as k-core: nominal `rounds`
    * is what the DuckDB twin unrolls, the loop itself continues to a
    * hard cap, and the flag is TRUE iff the last peel removed nothing.
    * Returns the surviving edges (a, b, support, converged) with their
    * support recomputed in the final subgraph.
    *
    * Plan shape per round: [[orientedEdges]]' degree-oriented wedge join
    * (each triangle enumerated once at its lowest-(deg,id) corner,
    * closed by a semi-join against the oriented edge set) + one
    * (a,b)-keyed count — all equi-joins on
    * a monotonically shrinking edge set, map-side combined; rounds
    * materialize eagerly (localCheckpoint) and release their
    * predecessor, so plans never stack rounds deep. Peeling depth is a
    * graph property, not a data-volume one. */
  def kTrussDF(spark: SparkSession, snap: Snapshot, k: Int = 4,
               rounds: Int = 8, minQty: Double = 30.0): DataFrame =
    kTrussPeel(pairEdges(snap, minQty), k, rounds)

  /** Triangle support of every edge in a canonical pair frame (`a` <
    * `b`, distinct) via DEGREE-ORIENTED wedge enumeration (Chiba–
    * Nishizeki / Latapy's compact-forward): orient every edge from its
    * lower-(degree, id) endpoint, enumerate each wedge ONCE at its
    * lowest-ordered vertex among that vertex's out-neighbours, and
    * close it against the oriented edge set — each triangle is
    * generated exactly once (vs three times from the symmetric union),
    * and the wedge join's row count drops from Σ deg(v)² to
    * Σ outdeg(v)² = O(E^1.5) worst-case, the classic ~3× triangle-work
    * cut that compounds across every [[kTrussPeel]] round. Found
    * triangles then fan their three canonical edges into one count.
    * Edges closing no wedge get support 0. The per-round core of
    * [[kTrussPeel]] and the one-shot core of [[localBridgesDF]], scored
    * by [[edgeSupportFromOriented]] over [[orientedEdges]].
    * Degrees are recomputed per call, so peel rounds orient by the
    * CURRENT subgraph (one extra edge-scale aggregation, far cheaper
    * than the wedge rows it saves).
    *
    * The (deg, id)-oriented edge frame: one degree aggregation + two
    * dimension joins. Callers STAGE it (r15) — the lazy frame is
    * referenced three times per support pass (both wedge-join sides and
    * the closing semi-join probe), so unstaged it re-executed the degree
    * aggregation and both joins 3× per pass. */
  private[gx] def orientedEdges(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    // orient u→w by (deg, id); carry the head's degree so the wedge
    // filter can order out-neighbours by the same total order without
    // re-joining degrees
    edges
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(expr(
        "IF(da < db OR (da = db AND a < b), " +
          "struct(a AS u, b AS w, db AS dw), " +
          "struct(b AS u, a AS w, da AS dw))").as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.dw").as("dw"))
  }

  /** Support scoring over a pre-built oriented frame (see
    * [[orientedEdges]] for the algorithm and the orientation). When
    * `oriented` is a u-partitioned checkpoint, the wedge self-join needs
    * NO exchange on either side — both sides ARE the same frame with the
    * preserved layout. */
  private[gx] def edgeSupportFromOriented(edges: DataFrame,
                                          oriented: DataFrame): DataFrame = {
    // wedges at u: ordered pairs of out-neighbours; the closing edge, if
    // present, is oriented lower→higher by construction, so ONE lookup
    val wedges = oriented.alias("l")
      .join(oriented.alias("r"), col("l.u") === col("r.u"))
      .where(col("l.dw") < col("r.dw") ||
        (col("l.dw") === col("r.dw") && col("l.w") < col("r.w")))
      .select(col("l.u").as("t1"), col("l.w").as("t2"), col("r.w").as("t3"))
    val tris = wedges.join(
      oriented.select(col("u").as("t2"), col("w").as("t3")),
      Seq("t2", "t3"), "left_semi")
    val sup = tris.select(explode(array(
        struct(least(col("t1"), col("t2")).as("a"),
          greatest(col("t1"), col("t2")).as("b")),
        struct(least(col("t1"), col("t3")).as("a"),
          greatest(col("t1"), col("t3")).as("b")),
        struct(least(col("t2"), col("t3")).as("a"),
          greatest(col("t2"), col("t3")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    edges.join(sup, Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** The state a [[kTrussPeel]] starts from: every pair with support
    * `minSup`, so the first round's cut keeps them all. */
  private[gx] def ktrussStart(pairs: DataFrame, minSup: Int): DataFrame =
    pairs.select(col("a"), col("b"), lit(minSup.toLong).as("support"))

  /** One k-truss peel round, the body [[kTrussPeel]] and [[RoundSteps]]
    * share: the cut keeps the edges of `supported` whose support is at
    * least `minSup`, and scores each kept edge's support in the subgraph
    * they span. The oriented frame is staged (r15) as a `u`-partitioned
    * checkpoint handed to `pin`: the wedge self-join then reads ONE
    * layout on both sides with no exchange (guide §2.4 shared-exchange),
    * and the degree aggregation and both dimension joins run once per
    * round, not once per reference. */
  private[gx] def ktrussRound(supported: DataFrame, minSup: Int,
                              pin: DataFrame => DataFrame): DataFrame = {
    val edges = supported.where(col("support") >= minSup).select(col("a"), col("b"))
    edgeSupportFromOriented(edges, pin(partitionedCheckpoint(orientedEdges(edges), "u")))
  }

  /** The peel loop behind [[kTrussDF]], over a canonical pair-edge frame
    * (columns `a` < `b`, distinct). Returns (a, b, support, converged).
    * Requires k ≥ 3 (k = 2 is the input graph — nothing peels).
    * Package-visible so the fixpoint spec can drive synthetic graphs
    * whose peeling depth exceeds the nominal round budget. */
  private[graft] def kTrussPeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = Staged.run { stage =>
    require(k >= 3, "kTruss needs k >= 3 (k = 2 never peels)")
    val minSup = k - 2
    // a round whose supports all pass the cut is the fixpoint: they were
    // computed IN the fixpoint subgraph, so they are the final recount —
    // returned as is, with no extra wedge join; an empty set is trivially
    // converged. Past the cap, the last round's supports are the honest
    // recount of the last edge set. The edges below the cut are counted
    // on the job that pins the round.
    val settled = new Settled(_ => count(when(col("support") < minSup, 1)))
    val peeled = stage.iterate(ktrussStart(pairs, minSup), math.max(rounds, 32) + 1, settled) {
      (supported, n) =>
        // the oriented checkpoint is released once the round materializes
        Staged.run(r => settled.observe(ktrussRound(supported, minSup, r.own(_)), n).localCheckpoint(true))
    }
    stage.own(peeled.state).withColumn("converged", lit(peeled.converged))
      .localCheckpoint(true)
  }

  /** Rich-club coefficients of the co-occurrence pair graph: for each
    * degree threshold k, φ(k) = 2·E_k ∕ (N_k·(N_k−1)) where N_k counts
    * vertices of degree > k and E_k the edges with BOTH endpoints in
    * that club — "do the hubs interconnect more than random" (Colizza
    * et al. 2006), the structural complement of [[assortativityDF]]'s
    * single mixing scalar. One degree aggregation + two semi-joins per
    * threshold on a shrinking club, exact integer counts, one round(6)
    * division per row. Returns (k, n_club, e_club, phi). */
  def richClubDF(spark: SparkSession, snap: Snapshot,
                 ks: Seq[Int] = Seq(4, 8, 16, 32),
                 minQty: Double = 30.0): DataFrame = Staged.run { stage =>
    val e0 = pairEdges(snap, minQty)
    val deg = stage.checkpoint(degrees(e0))
    import spark.implicits._
    val rows = ks.sorted.map { k =>
      val club = deg.where(col("d") > k).select(col("v"))
      val nClub = club.count()
      val eClub = e0
        .join(club.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(club.select(col("v").as("b")), Seq("b"), "left_semi")
        .count()
      val phi = if (nClub < 2) 0d
        else BigDecimal(2.0 * eClub / (nClub.toDouble * (nClub - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (k.toLong, nClub, eClub, phi)
    }
    rows.toDF("k", "n_club", "e_club", "phi")
  }

  /** Hill estimator of the degree-distribution tail exponent over the
    * co-occurrence pair graph: α = k ∕ Σ_{i≤k} (ln d₍ᵢ₎ − ln d₍ₖ₊₁₎)
    * over the k largest degrees — the "is this graph scale-free, and
    * how heavy is the hub tail" scalar that decides whether skew
    * mitigations (salting, hub caps) are needed before a 100× scale-up.
    * The top-(k+1) cut is TakeOrderedAndProject (per-partition heaps,
    * no global sort); only degree VALUES enter the formula, so ties at
    * the cut can't make it nondeterministic. Each ln d quantizes to
    * integer micros before the sum (§28), one shared final division.
    * Returns one row (k, d_k1, alpha). */
  def degreeTailAlphaDF(spark: SparkSession, snap: Snapshot, k: Int = 100,
                        minQty: Double = 30.0): DataFrame =
    tailAlphaFromDegrees(degrees(pairEdges(snap, minQty)), k)

  /** The estimator core over a (v, d) degree frame — package-visible so
    * the spec can drive hand-built degree sets with known closed forms.
    * Requires more than k vertices (the k+1-th order statistic is the
    * normalizing cut). */
  private[graft] def tailAlphaFromDegrees(deg: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // k+1 rows: per-partition heads merged, never a full sort shuffle
    val top = deg.orderBy(col("d").desc, col("v").asc).limit(k + 1)
    // the 101-row window runs in one task by construction (limit output)
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy(col("d").desc, col("v").asc)))
    val m = floor(log(col("d").cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    val agg = ranked.agg(
      sum(when(col("rn") <= k, m)).as("sm"),
      max(when(col("rn") === k + 1, col("d"))).as("dk1"),
      max(when(col("rn") === k + 1, m)).as("mk1"))
    agg.select(lit(k.toLong).as("k"), col("dk1"),
      round(lit(k.toLong * 1000000L).cast("double") /
        (col("sm") - lit(k.toLong) * col("mk1")).cast("double"), 4).as("alpha"))
  }

  /** LOCAL BRIDGES of the co-occurrence pair graph: edges whose
    * endpoints share NO common neighbor (triangle support 0, span ≥ 3)
    * — Granovetter's weak ties, the links whose removal lengthens the
    * path between their endpoints and the standard "connects otherwise-
    * separate neighborhoods" signal. One [[edgeSupportFromOriented]]
    * pass (the triangle census's wedge join) + one degree dimension
    * join; returns
    * (a, b, deg_a, deg_b) for every bridge, endpoint degrees attached
    * so downstream can separate leaf-bridges (deg 1) from genuine
    * community connectors. The bridge-sized result is memoized per
    * (snap, minQty) in the shared [[graft.util.LruMemo]]; eviction
    * frees its checkpoint blocks, so repeated calls pin one copy. */
  private val bridgesCache =
    new LruMemo[(Snapshot, Double), DataFrame](MaxCachedGraphs, releaseCheckpoint)

  def localBridgesDF(spark: SparkSession, snap: Snapshot,
                     minQty: Double = 30.0): DataFrame =
    bridgesCache.getOrBuild((snap, minQty))(localBridges(spark, snap, minQty))

  /** [[localBridgesDF]] unmemoized (PlanDump's `local_bridges_inner`). */
  private[graft] def localBridges(spark: SparkSession, snap: Snapshot,
                                  minQty: Double): DataFrame = Staged.run { stage =>
    val e0 = pairEdges(snap, minQty)
    val deg = degrees(e0)
    // stage the oriented frame once (r15, same fix as kTrussPeel): the
    // lazy oriented frame re-executed its degree aggregation + both
    // dimension joins 3×; the u-partitioned checkpoint also collapses
    // the wedge self-join's two exchanges. The bridge-sized result is
    // materialized so the staging checkpoints can be released here.
    val o = stage.own(partitionedCheckpoint(orientedEdges(e0), "u"))
    edgeSupportFromOriented(e0, o).where(col("support") === 0L)
      .join(deg.select(col("v").as("a"), col("d").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("deg_b")), "b")
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"))
      .localCheckpoint(true)
  }

  /**
   * Degree assortativity of the co-occurrence pair graph: the Pearson
   * correlation of endpoint degrees over the symmetrized edge list —
   * positive r = hubs link hubs, negative = hubs link leaves (the
   * Newman 2002 mixing coefficient). Returns one row
   * (n_edges, r).
   *
   * Float discipline: every aggregate in the formula is an EXACT
   * integer sum (degrees are ints, edge counts are longs), carried in
   * DECIMAL(38,0) until the single final division — so the oracle
   * replays the number bit-for-bit instead of chasing float-fold
   * order, and no product wraps at any physical scale (see
   * [[assortativityMoments]]). Shape: one
   * vertex-sized degree table joined to the edge list on each endpoint
   * (two dimension joins), one scalar fold.
   */
  def assortativityDF(spark: SparkSession, snap: Snapshot,
                      minQty: Double = 30.0): DataFrame = {
    val e = pairEdges(snap, minQty)
    val deg = degrees(e)
    // symmetrize: each undirected edge contributes (da,db) AND (db,da),
    // making the x and y marginals identical (the undirected convention)
    val ends = e.join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val xy = ends.select(col("da").as("x"), col("db").as("y"))
      .unionAll(ends.select(col("db").as("x"), col("da").as("y")))
    val (n, sx, sy, sxy, sxx, syy) = assortativityMoments(xy)
    val num = (BigInt(n) * sxy - sx * sy).toDouble
    val den = math.sqrt((BigInt(n) * sxx - sx * sx).toDouble) *
      math.sqrt((BigInt(n) * syy - sy * sy).toDouble)
    val r = if (den == 0d) 0d else num / den
    spark.createDataFrame(Seq((n / 2, BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      .toDF("n_edges", "r")
  }

  /** Exact integer moment sums (n, Σx, Σy, Σxy, Σx², Σy²) over an
    * endpoint-degree frame (columns `x`, `y` long), carried in
    * DECIMAL(38,0) — the same widening as [[modularityNumerator]]: the
    * former Long chain held only while Σd·d′ ≤ 2⁶³, which a hub of
    * degree ~10⁵ on a 10¹⁰-edge graph (the 100× regime) breaks, and
    * non-ANSI Spark wraps silently. Degrees are ints (≤ 2³¹), so the
    * DECIMAL(18,0) factor cast is lossless and each product stays
    * within the 38-digit sum cap for any physical edge count; the
    * DuckDB twin's BIGINT sums widen to HUGEINT natively. Package-
    * visible so the overflow spec can inject synthetic degree rows
    * whose single product exceeds Long range. */
  private[graft] def assortativityMoments(xy: DataFrame)
      : (Long, BigInt, BigInt, BigInt, BigInt, BigInt) = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val x = col("x").cast(d18)
    val y = col("y").cast(d18)
    val s = xy.agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy")).head()
    def bi(i: Int): BigInt =
      if (s.isNullAt(i)) BigInt(0) else BigInt(s.getDecimal(i).toBigInteger)
    (s.getLong(0), bi(1), bi(2), bi(3), bi(4), bi(5))
  }

  /**
   * Adamic–Adar tie strength for EXISTING edges of the co-occurrence
   * pair graph: for edge (a,b), Σ over common neighbors w of
   * 1∕ln(deg w) — the standard link-analysis weighting (Adamic &
   * Adar 2003) where rare shared neighbors count more than hubs.
   * Scored on edges (embeddedness), not all distance-2 pairs: the
   * output stays edge-bounded and the enumeration is exactly the
   * triangle census's wedge join, the shape [[triangleCensusDF]] and
   * [[clusteringCoeffDF]] already carry (hub wedges square, bounded
   * by the bulk-quantity filter — same accepted envelope).
   *
   * Exactness (§28 doctrine): each wedge's weight quantizes to
   * integer micros ⌊10⁶∕ln(deg w) + ½⌋ BEFORE the per-edge sum, so
   * the fold is order-free integer addition; deg w ≥ 2 for any
   * common neighbor (it closes two wedge legs), so ln never sees 1.
   * The one shared double is the final micro→aa division.
   *
   * Plan: adjacency = symmetrized edge list; one degree aggregation;
   * wedge self-join on the middle vertex; LEFT SEMI against the
   * canonical edge set (only closed wedges survive to the deg join);
   * one (a,b)-keyed count/sum aggregation, map-side combined.
   */
  def adamicAdarDF(spark: SparkSession, snap: Snapshot,
                   minQty: Double = 30.0): DataFrame =
    adamicAdarPairs(pairEdges(snap, minQty))

  /** The scoring core behind [[adamicAdarDF]], over a canonical
    * pair-edge frame (columns `a` < `b`, distinct). Package-visible so
    * the spec can drive hand-built graphs with known closed forms. */
  private[graft] def adamicAdarPairs(e0: DataFrame): DataFrame = {
    val adj = e0.select(col("a").as("w"), col("b").as("x"))
      .unionAll(e0.select(col("b").as("w"), col("a").as("x")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("d"))
    // renamed projections before the self-join (ambiguity gotcha)
    val wedges = adj.join(
        adj.select(col("w").as("w2"), col("x").as("y")),
        col("w") === col("w2"))
      .where(col("x") < col("y")).drop("w2")
    val closed = wedges.join(
      e0.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"), "left_semi")
    closed.join(deg, "w")
      .select(col("x"), col("y"),
        floor(lit(1e6) / log(col("d").cast("double")) + lit(0.5))
          .cast("long").as("m"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"), sum(col("m")).as("aa_micro"))
      .select(col("x").as("a"), col("y").as("b"),
        col("n_common").cast("long").as("n_common"),
        col("aa_micro").cast("long").as("aa_micro"),
        (col("aa_micro").cast("double") / lit(1e6)).as("aa"))
  }

  /** Single-source-class BFS (distances follow edge DIRECTION: each
    * vertex learns its hop distance TO the landmark set along out-edges)
    * over the order DAG customer -placed-> order -contains-> part
    * -supplied_by-> supplier, with supplier landmarks. The structure pins
    * the answer relationally — parts supplying a landmark sit at 1,
    * orders containing such parts at 2, their customers at 3 — so the
    * DuckDB oracle derives every (vertex, landmark, dist) row with three
    * joins while the rounds run the GENERAL fixpoint: the same
    * verify-the-general-algorithm-on-a-known-structure trick as
    * `connected_components`/`pagerank`. Returns (vertex_id, landmark_id,
    * dist INT), GraphX `ShortestPaths`' rows: a landmark on an edge
    * reports itself at 0, unreachable pairs and landmarks on no edge
    * carry no row.
    *
    * Memoized — shortest_paths, harmonic_centrality AND
    * betweenness_landmarks all start from the same (snap, landmarks,
    * labels) level table; the checkpointed frame is shared through the
    * [[graft.util.LruMemo]], like the LPA labeling, instead of re-running
    * the rounds per caller. Eviction frees its blocks. */
  private val spCache = new LruMemo[(Snapshot, Seq[Long], Seq[String]), DataFrame](
    MaxCachedGraphs, releaseCheckpoint)

  def shortestPathsDF(spark: SparkSession, snap: Snapshot,
                      landmarks: Seq[Long],
                      labels: Seq[String] =
                        Seq("placed", "contains", "supplied_by")): DataFrame =
    spCache.getOrBuild((snap, landmarks, labels))(
      buildShortestPaths(spark, snap, landmarks, labels))

  /** The prepared SSSP loop ([[ssspLoop]]: [[ssspStart]] and
    * [[ssspRound]]) at unit weight over the memoized [[weightedEdges]],
    * on [[graft.util.Stage.iterate]]. At unit weight a pair's distance is
    * final when it is first reached, so round n adds exactly the pairs at
    * distance n, and the loop stops after the first round that adds none
    * — a count observed on the job that pins the round
    * ([[graft.util.Settled]]). Distances only grow by one per round, so
    * the loop needs no cap. */
  private def buildShortestPaths(spark: SparkSession, snap: Snapshot,
                                 landmarks: Seq[Long],
                                 labels: Seq[String]): DataFrame = Staged.run { stage =>
    val width = sessionWidth(spark)
    // a projection keeps the memoized edges' `dst` layout and pins nothing
    val loop = ssspLoop(
      weightedEdges(snap, labels).select(col("src"), col("dst"), lit(1L).as("wt")), landmarks, width)
    val added = new Settled(n => count(when(col("dist_w") === n, 1)))
    val dist = stage.iterate(loop.result(0), Int.MaxValue, added) { (d, n) =>
      partitionedCheckpoint(added.observe(loop.after(d), n), "vertex_id", width)
    }.state
    // a checkpoint that declares no layout: the betweenness sweep planned
    // over the state's `vertex_id` partitioning ran ~6× slower at sf0.1
    stage.own(dist)
      .select(col("vertex_id"), col("landmark_id"), col("dist_w").cast("int").as("dist"))
      .repartition(width).localCheckpoint(true)
  }

  /** Memoized long-weighted edge frames for [[ssspWeightedDF]] in the
    * shared [[graft.util.LruMemo]], like [[contribEdges]]: the
    * fact-table scan + quantity join dominates each call (measured
    * 47 s/rep at sf5 unmemoized), while the relaxation rounds are
    * landmark-cone-sized. Eviction frees the checkpoint blocks.
    * Pre-partitioned on `dst`: every relaxation round joins this
    * edge-scale frame on `dst` against the `v`-partitioned distances,
    * and [[ssspRound]] pins that join to `shuffle_hash` built on the
    * distances, so the edges are streamed in place. Left to its size
    * statistics, AQE broadcast this checkpoint in every round (a job
    * per round, and the layout unused). */
  private val wedgeCache =
    new LruMemo[(Snapshot, Seq[String]), DataFrame](MaxCachedGraphs, releaseCheckpoint)

  private[graft] def weightedEdges(snap: Snapshot, labels: Seq[String]): DataFrame =
    wedgeCache.getOrBuild((snap, labels.sorted)) {
      import graft.model.{A, PropType}
      // one row per edge id (the contribEdges uniqueness pin), then
      // the long cost: quantity where carried, 1 otherwise
      val qty = snap.prop("quantity", PropType.PDouble, A.Edge)
        .groupBy(col("e")).agg(max(col("v")).as("q"))
        .select(col("e").as("id"), col("q"))
      partitionedCheckpoint(
        snap.edges.where(col("label").isin(labels: _*))
          .select(col("id"), col("outV").as("src"), col("inV").as("dst"))
          .join(qty, Seq("id"), "left_outer")
          .select(col("src"), col("dst"),
            coalesce(col("q"), lit(1.0)).cast("long").as("wt")),
        "dst")
    }

  /** WEIGHTED single-source-class shortest paths: min-cost distance TO
    * the landmark set along edge direction, edge cost = the `quantity`
    * property where present (contains edges — cast to long: quantities
    * are integer-valued) and 1 elsewhere, the weighted-PageRank weight
    * convention. Run as GENERAL relational Bellman–Ford rounds — each
    * round one equi-join of the edge list against the tentative-
    * distance frame plus one min-aggregate ([[ssspRound]]; parallel
    * edges relax independently, so the min over a multi-edge group
    * needs no pre-dedup) — while the twin derives the fixpoint
    * closed-form from the order DAG's level structure (min per level,
    * the shortest_paths trick). Integer arithmetic throughout: costs
    * are long sums of long weights, order-free and engine-exact, no
    * float path at all. `rounds` must reach the weighted diameter of
    * the landmark cone (3 levels here; the default leaves slack — extra
    * rounds are idempotent at the fixpoint). Returns (vertex_id,
    * landmark_id, dist_w); unreachable pairs carry no row, landmarks
    * self-report 0.
    *
    * The distances are carried under the output names, `vertex_id`-
    * partitioned at the edges' width, so a round reads both sides in
    * place and runs ONE exchange. The round is planned once
    * ([[ssspLoop]]) and all `rounds` rounds run as one job, whose
    * checkpoint of the last round IS the result, which the caller
    * releases. The landmark set is a bound [[graft.snapshot.PinSet]], so
    * calls with different sets run the same generated classes. */
  def ssspWeightedDF(spark: SparkSession, snap: Snapshot,
                     landmarks: Seq[Long],
                     labels: Seq[String] =
                       Seq("placed", "contains", "supplied_by"),
                     rounds: Int = 4): DataFrame =
    // the edges stay parked: they are the MEMOIZED wedgeCache frame
    // (freed only on LRU eviction)
    Staged.run(_.rounds(
      ssspLoop(weightedEdges(snap, labels), landmarks, sessionWidth(spark)), rounds).state)

  /** The prepared relaxation loop: the round-0 distances and one
    * [[ssspRound]], each planned once. */
  private[graft] def ssspLoop(edges: DataFrame, landmarks: Seq[Long], width: Int): PreparedRounds =
    PreparedRounds(ssspStart(edges, landmarks), "vertex_id", width)(ssspRound(edges, _, width))

  /** Round-0 distances, lazily: every landmark on an edge at 0 from
    * itself (the distinct's own exchange builds the `vertex_id` layout). */
  private[gx] def ssspStart(edges: DataFrame, landmarks: Seq[Long]): DataFrame =
    edges.select(col("src").as("vertex_id"))
      .unionAll(edges.select(col("dst").as("vertex_id"))).distinct()
      .where(array_contains(graft.snapshot.PinSet.column(landmarks), col("vertex_id")))
      .select(col("vertex_id"), col("vertex_id").as("landmark_id"), lit(0L).as("dist_w"))

  /** One relaxation round, the body [[ssspLoop]] plans: the
    * `dst`-partitioned edges join the `vertex_id`-partitioned distances
    * with no exchange — `shuffle_hash` on the distance side makes it the
    * build table, where the planner would broadcast the edges by size —
    * and the only exchange is the `repartition(width, vertex_id)` under
    * the (vertex, landmark) min, which leaves the result
    * `vertex_id`-partitioned for the next round. The partial
    * aggregation before the shuffle is given up for it: relaxed rows are
    * landmark-cone-sized. */
  private[gx] def ssspRound(edges: DataFrame, dist: DataFrame, width: Int): DataFrame = {
    val relaxed = edges
      .join(dist.select(col("vertex_id").as("dst"), col("landmark_id"), col("dist_w"))
        .hint("shuffle_hash"), "dst")
      .select(col("src").as("vertex_id"), col("landmark_id"),
        (col("wt") + col("dist_w")).as("dist_w"))
    dist.unionAll(relaxed).repartition(width, col("vertex_id"))
      .groupBy(col("vertex_id"), col("landmark_id")).agg(min(col("dist_w")).as("dist_w"))
  }

  /** Harmonic centrality TO the landmark set over the label-filtered
    * DAG: h(v) = Σ_{lm reachable} 1∕d(v, lm) — the centrality that stays
    * well-defined on disconnected graphs (unreachable landmarks
    * contribute 0 instead of ∞, Boldi & Vigna 2014). Rides
    * [[shortestPathsDF]]' BFS rounds, then one vertex-keyed
    * aggregation; each distance's reciprocal quantizes to integer
    * micros ⌊10⁶∕d + ½⌋ BEFORE the sum (the §28 order-free doctrine;
    * landmarks at d=0 are excluded from their own sum, the convention).
    * Returns (vertex_id, n_reachable, h_micro, harmonic). */
  def harmonicCentralityDF(spark: SparkSession, snap: Snapshot,
                           landmarks: Seq[Long],
                           labels: Seq[String] =
                             Seq("placed", "contains", "supplied_by")): DataFrame = {
    val sp = shortestPathsDF(spark, snap, landmarks, labels)
      .where(col("dist") > 0)
    sp.select(col("vertex_id"),
        floor(lit(1e6) / col("dist").cast("double") + lit(0.5))
          .cast("long").as("m"))
      .groupBy(col("vertex_id"))
      .agg(count(lit(1)).as("n_reachable"), sum(col("m")).as("h_micro"))
      .select(col("vertex_id"), col("n_reachable"),
        col("h_micro"),
        (col("h_micro").cast("double") / lit(1e6)).as("harmonic"))
  }

  /**
   * Deterministic DeepWalk-style random-walk corpus over the snapshot
   * graph — the training-sequence generator for graph-embedding
   * pipelines (Perozzi et al., "DeepWalk", KDD'14; node2vec's p=q=1
   * case): one fixed-length walk per start vertex, emitted as
   * (walk_id, step, vertex_id) rows ready for sequence packing.
   *
   * The "random" coin is the engines-shared md5 hash: at step t, walk w
   * standing at v moves to argmin over out-neighbors u of
   * md5("w:t:u") (tie-broken by u — unreachable in practice but pinned
   * for determinism). A pure function of (w, t, u), so the walk corpus
   * is reproducible bit-for-bit in ANY engine with md5 — the DuckDB
   * twin unrolls the same argmin per step — and independent of
   * partitioning and merge order, unlike rand()-seeded samplers.
   * Walks at a sink vertex simply end (no further rows).
   *
   * Scale shape: per step ONE frontier×edges equi-join (edges persisted
   * and partition-reused across steps) + one map-side-combined
   * min(struct) argmin — the shuffle carries at most one row per walk
   * per map partition, never the neighbor multiset; each frontier is
   * eagerly checkpointed (≤ one row per walk) so the unrolled lineage
   * never recomputes earlier steps, then released once the union
   * materializes. At 100 TB walks are embarrassingly parallel: the
   * only cross-round state is the walk-sized frontier.
   */
  def randomWalksDF(spark: SparkSession, snap: Snapshot, steps: Int = 5,
                    startLo: Long = 3000000L,
                    startHi: Long = 4000000L): DataFrame = Staged.run { stage =>
    // pre-partition the walked edges on `v` and checkpoint ONCE
    // ([[partitionedCheckpoint]], r14): every step's frontier join then
    // reuses the preserved HashPartitioning instead of re-exchanging
    // the edge-scale side per step — 5 edge shuffles become 1
    // (interleaved A/B at sf0.1: 9.44 → 6.23 s median, 1.52×, from the
    // one-time materialized 2-column frame alone; the preserved layout
    // then removes the remaining per-step edge Exchange). The per-step
    // barrier itself stays load-bearing (every level feeds the final
    // union).
    val edges = stage.own(walkEdges(snap))
    var frontier = stage.checkpoint(walkStart(edges, startLo, startHi))
    val levels = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("walk_id"), lit(0L).as("step"), col("v")))
    (1 to steps).foreach { t =>
      val next = stage.checkpoint(walkStep(edges, frontier, t))
      levels += next.select(col("walk_id"), lit(t.toLong).as("step"), col("v"))
      frontier = next
    }
    levels.reduce(_ unionAll _)
      .select(col("walk_id"), col("step"), col("v").as("vertex_id"))
      .localCheckpoint(true)
  }

  /** The walked edges (v → u) as a `v`-partitioned checkpoint. */
  private[gx] def walkEdges(snap: Snapshot): DataFrame =
    partitionedCheckpoint(snap.edges.select(col("outV").as("v"), col("inV").as("u")), "v")

  /** The step-0 frontier: one walk per vertex in [lo, hi) with ≥1
    * out-edge (walks from pure sinks would be single-row trivia; the
    * twin replays the same rule). */
  private[gx] def walkStart(edges: DataFrame, startLo: Long, startHi: Long): DataFrame =
    edges.select(col("v")).distinct()
      .where(col("v") >= startLo && col("v") < startHi)
      .select(col("v").as("walk_id"), col("v"))

  /** Walk step `t`, the body [[randomWalksDF]] and [[RoundSteps]] share:
    * each walk moves to the md5("w:t:u")-argmin out-neighbor u — one
    * frontier × edges join and a map-side-combined min(struct). */
  private[gx] def walkStep(edges: DataFrame, frontier: DataFrame, t: Int): DataFrame =
    frontier.join(edges, "v")
      .select(col("walk_id"), col("u"),
        md5(concat_ws(":", col("walk_id"), lit(t), col("u"))).as("h"))
      .groupBy(col("walk_id"))
      .agg(min(struct(col("h"), col("u"))).as("m"))
      .select(col("walk_id"), col("m.u").as("v"))

  /**
   * Landmark betweenness (Brandes, "A Faster Algorithm for Betweenness
   * Centrality", J. Math. Sociol. 2001), restricted to shortest paths
   * ENDING at the landmark set — the standard sampled/pivot
   * approximation of full betweenness, run here as a GENERAL
   * level-synchronized relational sweep: a forward σ pass (path
   * counts per (vertex, landmark), level by level over the
   * label-filtered edge relation, multi-edges counted per edge) and a
   * backward dependency pass.
   *
   * Engine-exact quantized dependency contract (§28 applied to a
   * RECURSION, not just a sum): leaves carry δ_mu = 0 and each
   * predecessor contribution is
   * `(σ_v · (10⁶ + δ_mu(u))) div σ_u` — pure integer arithmetic
   * (floor division of non-negative longs), so the backward recursion
   * is bit-identical in any engine: no float ratios, no
   * summation-order dependence. δ_mu ≈ Brandes' δ × 10⁶ (each division
   * floors once per tree edge). Landmarks (the sources) are excluded,
   * leaf levels carry 0, and only δ_mu > 0 rows return:
   * (vertex_id, btw_mu).
   *
   * Scale shape: maxDepth forward joins + maxDepth−1 backward joins,
   * each edge-scale with map-side-combined sums — the pagerank-round
   * shape, but a FIXED small number of rounds; σ/δ frames are
   * vertex-sized. The twin derives the same integers from the order
   * DAG's closed-form level structure (the shortest_paths trick), so
   * the general sweep is verified against an independent derivation.
   */
  def betweennessLandmarksDF(spark: SparkSession, snap: Snapshot,
      landmarks: Seq[Long],
      labels: Seq[String] = Seq("placed", "contains", "supplied_by"),
      maxDepth: Int = 3): DataFrame = Staged.run { stage =>
    val sp = shortestPathsDF(spark, snap, landmarks, labels)
    val tree = stage(betweennessTree(snap, sp, labels))
    // forward: σ(landmark) = 1; σ_L(u) = Σ over tree edges u→w of σ(w)
    var sigmas = Vector(sigmaStart(sp))
    (1 to maxDepth).foreach { l =>
      sigmas = sigmas :+ stage(sigmaLevel(tree, sigmas.last, l))
    }
    // backward: δ_mu at the deepest level is 0; each level-l vertex sums
    // (σ_v·(10⁶+δ_mu(u))) div σ_u over its level-(l+1) tree edges u→v
    var delta = sigmas(maxDepth).select(col("v"), col("lm"), lit(0L).as("delta"))
    val deps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    ((maxDepth - 1) to 1 by -1).foreach { l =>
      // LEFT join δ onto the level-(l+1) σ frame: a vertex with no
      // deeper tree predecessor is a LEAF at its level (δ = 0), but its
      // σw·10⁶ div σu contribution to level l still counts — an inner
      // join would silently drop it on general graphs (latent on the
      // order DAG, where every intermediate vertex has a deeper
      // predecessor)
      val up = sigmas(l + 1)
        .select(col("v").as("uu"), col("lm").as("ulm"), col("sigma").as("usigma"))
        .join(delta.select(col("v").as("dv"), col("lm").as("dlm"),
          col("delta").as("ddelta")),
          col("uu") === col("dv") && col("ulm") === col("dlm"), "left")
        .select(col("uu"), col("ulm"),
          coalesce(col("ddelta"), lit(0L)).as("udelta"), col("usigma"))
      // stage each level's delta (like the sigma levels): dl feeds
      // BOTH the next level's recursion and the final union — unstaged,
      // level l re-executes the whole deeper delta chain inside the
      // union's lineage, quadratic in rounds if maxDepth grows
      val dl = stage(tree.where(col("du") === l + 1)
        .join(up, col("u") === col("uu") && col("lm") === col("ulm"))
        .join(sigmas(l).select(col("v").as("wv"), col("lm").as("wlm"),
          col("sigma").as("wsigma")),
          col("w") === col("wv") && col("lm") === col("wlm"))
        .groupBy(col("wv"), col("wlm"))
        .agg(sum(expr("(wsigma * (1000000 + udelta)) div usigma")).as("delta"))
        .select(col("wv").as("v"), col("wlm").as("lm"), col("delta")))
      deps += dl
      delta = dl
    }
    // maxDepth ≤ 1 means every non-landmark vertex is a leaf: the
    // correct answer is the empty relation, not an empty-reduce crash
    (if (deps.isEmpty)
        sp.select(col("vertex_id"), lit(0L).as("btw_mu")).where(lit(false))
      else deps.reduceLeft(_ unionByName _)
        .groupBy(col("v")).agg(sum(col("delta")).as("btw_mu"))
        .where(col("btw_mu") > 0)
        .select(col("v").as("vertex_id"), col("btw_mu")))
      .localCheckpoint(true)
  }

  /** The shortest-path tree edges, extracted ONCE — two edge-scale joins
    * label every edge with both endpoints' levels (per landmark) and
    * keep only dist(w) = dist(u) − 1: (u, w, lm, du). Every σ/δ round
    * then joins a LEVEL SLICE of this (tree edges only, ≪ |E|) against a
    * vertex-sized frame, instead of re-joining the full edge relation
    * per round (measured 9.8 → 4.6 s at sf0.1). */
  private[gx] def betweennessTree(snap: Snapshot, sp: DataFrame, labels: Seq[String]): DataFrame =
    snap.edges.where(col("label").isin(labels: _*))
      .select(col("outV").as("u"), col("inV").as("w"))
      .join(sp.select(col("vertex_id").as("u"), col("landmark_id").as("lm"),
        col("dist").as("du")), "u")
      .join(sp.select(col("vertex_id").as("w2"), col("landmark_id").as("lm2"),
        col("dist").as("dw")),
        col("w") === col("w2") && col("lm") === col("lm2"))
      .where(col("dw") === col("du") - 1)
      .select(col("u"), col("w"), col("lm"), col("du"))

  /** Level-0 path counts: σ(landmark) = 1, (v, lm, sigma). */
  private[gx] def sigmaStart(sp: DataFrame): DataFrame =
    sp.where(col("dist") === 0)
      .select(col("vertex_id").as("v"), col("landmark_id").as("lm"), lit(1L).as("sigma"))

  /** Forward σ level `l`, the body [[betweennessLandmarksDF]] and
    * [[RoundSteps]] share: σ_l(u) = Σ over the level-`l` tree edges u→w
    * of σ_{l−1}(w). */
  private[gx] def sigmaLevel(tree: DataFrame, prev: DataFrame, l: Int): DataFrame =
    tree.where(col("du") === l)
      .join(prev.select(col("v").as("pw"), col("lm").as("plm"), col("sigma").as("psigma")),
        col("w") === col("pw") && col("lm") === col("plm"))
      .groupBy(col("u"), col("lm"))
      .agg(sum(col("psigma")).as("sigma"))
      .select(col("u").as("v"), col("lm"), col("sigma"))

  /** Static PageRank over the full snapshot graph (`numIter` fixed
    * rounds, damping 0.85): (vertex_id, rank). Spec-gated (rank ORDER
    * in GraphXAnalyticsSpec — hub nations/regions accumulate the mass
    * their in-stars send); the registered+oracled twin is
    * [[pageRankStarDF]], whose subgraph admits a closed form. */
  def pageRankDF(spark: SparkSession, snap: Snapshot, numIter: Int = 10,
                 topK: Int = 30): DataFrame = {
    // top() = per-partition heads merged on the driver (topK rows), no
    // full sort shuffle; vid tiebreak keeps the cut deterministic. The
    // rank graph is a NEW cached graph; the top-k is already on the
    // driver, so release it before the next caller piles another one on
    val top = Staged.run { stage =>
      stage.own(cachedGraph(snap).staticPageRank(numIter))
        .vertices.map { case (vid, r) => (vid, r) }
        .top(topK)(Ordering.by { case (vid, r) => (r, -vid) })
    }
    spark.createDataFrame(top.toSeq).toDF("vertex_id", "rank")
      .select(org.apache.spark.sql.functions.col("vertex_id"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("rank"), 4).as("rank"))
  }

  /** Memoized out-degree-weighted contribution edges (u, v, w=1∕outdeg u)
    * for the relational PageRank: one degree aggregation + one join,
    * repartitioned by `u` into a [[partitionedCheckpoint]] so the
    * preserved HashPartitioning lets every iteration's rank join reuse
    * the layout instead of re-exchanging the edge-scale side each round
    * (plain localCheckpoint under AQE records UnknownPartitioning and
    * silently re-exchanged every round — the r14 fix). The layout is only
    * read if the join keeps it: below the broadcast threshold AQE
    * broadcast this checkpoint in every round (a job per round), so
    * [[pageRankRound]] pins `shuffle_hash` built on the ranks and streams
    * these edges in place. LRU-bounded in the shared
    * [[graft.util.LruMemo]]; eviction frees the checkpoint blocks
    * explicitly ([[graft.util.LruMemo.releaseCheckpoint]]). */
  private val contribCache = new LruMemo[Snapshot, DataFrame](MaxCachedGraphs, releaseCheckpoint)

  /** ONE dual-weight contribution-edge checkpoint serves the whole
    * pagerank family (r12 verdict item 7): the uniform 1∕outdeg weight
    * (full + personalized) and the quantity-normalized weight (weighted)
    * ride the same (u, v) rows, derived in a single edge scan + ONE
    * per-u aggregation (count and Σqty together) + one join + one
    * checkpoint — the suite used to build and checkpoint the edge table
    * twice. Callers project the weight column they walk with. */
  private[graft] def contribEdges(snap: Snapshot): DataFrame = contribCache.getOrBuild(snap) {
    import graft.model.{A, PropType}
    // one row per edge id BEFORE the join: snap.prop is one-row-per-
    // element at a resolved checkpoint today, but the unweighted
    // family's edge count (d) now rides the same joined frame, so a
    // duplicate prop row would silently duplicate edges and corrupt
    // BOTH weights (r13 advice) — pin uniqueness with an aggregate.
    val qty = snap.prop("quantity", PropType.PDouble, A.Edge)
      .groupBy(col("e")).agg(max(col("v")).as("wt"))
      .select(col("e").as("id"), col("wt"))
    contributions(snap.edges.select(col("id"), col("outV").as("u"), col("inV").as("v"))
      .join(qty, Seq("id"), "left_outer")
      .select(col("u"), col("v"), coalesce(col("wt"), lit(1.0)).as("wt")))
  }

  /** The contribution edges (u, v, w, wq) of a weighted edge frame (u, v,
    * wt), one row per edge: w = 1∕outdeg u and wq = wt∕Σ_out wt, as a
    * `u`-partitioned checkpoint the caller releases. The builder behind
    * [[contribEdges]] and [[pageRankStarDF]]. */
  private def contributions(e: DataFrame): DataFrame = {
    val tot = e.groupBy(col("u"))
      .agg(count(lit(1)).as("d"), sum(col("wt")).as("tw"))
    partitionedCheckpoint(
      e.join(tot, "u")
        .select(col("u"), col("v"),
          (lit(1.0) / col("d")).as("w"),
          (col("wt") / col("tw")).as("wq")), "u")
  }

  /** Memoized vertex frame (v), pre-partitioned on `v` and eagerly
    * checkpointed: the per-round left join against the rank messages
    * (already hashed on `v` by their aggregation) then needs NO exchange
    * on either side — and, critically, the rounds never re-derive the
    * vertex scan from the fact table (10 rounds × 2 references would be
    * 20 fact-table scans per query, a recompute cascade the moment
    * storage pressure evicts the snapshot's persisted facts). Same
    * [[graft.util.LruMemo]] bound + explicit release as [[contribEdges]]. */
  private val vertsCache = new LruMemo[Snapshot, DataFrame](MaxCachedGraphs, releaseCheckpoint)

  private[graft] def vertexFrame(snap: Snapshot): DataFrame =
    vertsCache.getOrBuild(snap)(
      partitionedCheckpoint(snap.vertexIds.select(col("id").as("v")), "v"))

  /** Quantity-weighted static PageRank as relational rounds — rank flows
    * along `contains` edges in proportion to line-item quantity (bulk
    * parts accumulate more of their order's rank; w = qty∕Σ_out qty,
    * weight 1 on unweighted labels). Quantities are integer-valued
    * doubles (≤ 50), so the per-vertex Σweight is EXACT in double
    * regardless of partial-sum order and each w lands on the identical
    * bit pattern in the DuckDB twin; the rank iteration's own float
    * folds are absorbed by the round(4) contract exactly as in the
    * unweighted variant. Walks the `wq` column of the SHARED
    * [[contribEdges]] checkpoint (one edge derivation for the whole
    * family); same recurrence/normalization/top-30 contract as
    * [[pageRankRelationalDF]]; the twin unrolls the weighted rounds. */
  def pageRankWeightedDF(spark: SparkSession, snap: Snapshot,
                         numIter: Int = 10, topK: Int = 30): DataFrame =
    normalizeTopK(
      pageRankRounds(
        contribEdges(snap).select(col("u"), col("v"), col("wq").as("w")),
        vertexFrame(snap), numIter, None),
      personalized = false, Some(topK))

  /** The power method as DataFrame rounds — the relational twin of
    * GraphX's `staticPageRank`, same recurrence to the bit pattern the
    * round(4) contract absorbs: r_{i+1}(v) = base(v) + 0.85·Σ_{(u,v)}
    * r_i(u)∕outdeg(u), base = 0.15 everywhere (global) or 0.15·1{v=src}
    * (personalized, where r_0 = 1{v=src} — GraphX PageRank.scala
    * semantics, also the DuckDB twin's unrolled CTEs). The source is a
    * bound [[graft.snapshot.Pin]], so calls from different sources run
    * the same generated classes. Each round ([[pageRankRound]]) reads
    * the `u`-partitioned contribution edges, the `v`-partitioned vertex
    * frame and the `v`-partitioned ranks in place; its only exchange is
    * the (v)-keyed message sum, whose map-side partials collapse the
    * edge-scale messages to vertex-per-partition rows before the
    * shuffle — the LPA-rewrite shape (§41). The round is planned once
    * ([[pageRankLoop]]) and all `iters` rounds run as one job that pins
    * only the last ranks, a `v`-partitioned checkpoint whose vertex
    * count `nv` and rank sum `s` are observed on that same job (the
    * normalization's inputs). Zero-rank vertices are filtered from the
    * message side (a 0 contribution adds 0): free for the global variant,
    * frontier-sized work in the personalized one's early rounds.
    * Package-visible for the GraphX-equivalence spec. */
  private[graft] def pageRankRounds(contrib: DataFrame, verts: DataFrame,
                                    iters: Int, src: Option[Long]): Observed =
    Staged.run(_.rounds(pageRankLoop(contrib, verts, src), iters,
      count(lit(1)).as("nv"), sum(col("r")).as("s")))

  /** The prepared PageRank loop: r_0 and one [[pageRankRound]], each
    * planned once at the session width the contribution edges and vertex
    * frame were checkpointed at. */
  private[graft] def pageRankLoop(contrib: DataFrame, verts: DataFrame,
                                  src: Option[Long]): PreparedRounds =
    PreparedRounds(pageRankStart(verts, src), "v", sessionWidth(verts.sparkSession))(
      pageRankRound(contrib, verts, _, src))

  /** `mass` at the personalized source (a bound [[graft.snapshot.Pin]],
    * not an inlined literal), 0 elsewhere; `mass` everywhere when global. */
  private def teleport(src: Option[Long], mass: Double): Column =
    src.fold(lit(mass))(s =>
      when(col("v") === graft.snapshot.Pin.column(s), lit(mass)).otherwise(lit(0.0)))

  /** r_0 over the vertex frame, lazily: a projection of the
    * `v`-partitioned vertex frame, so still `v`-partitioned. */
  private[gx] def pageRankStart(verts: DataFrame, src: Option[Long]): DataFrame =
    verts.select(col("v"), teleport(src, 1.0).as("r"))

  /** One PageRank round, the body [[pageRankLoop]] plans. Both joins
    * are pinned to `shuffle_hash` built on their vertex-sized side (the
    * nonzero ranks, then the message sums): the edge-scale contribution
    * edges and the vertex frame are streamed where they lie, and nothing
    * is broadcast. Without the hints the planner broadcast the
    * contribution checkpoint by its size statistics (under AQE, once the
    * message shuffle had run, the messages too) — a job per broadcast. */
  private[gx] def pageRankRound(contrib: DataFrame, verts: DataFrame,
                                ranks: DataFrame, src: Option[Long]): DataFrame = {
    val msg = contrib
      .join(ranks.where(col("r") =!= 0.0).select(col("v").as("u"), col("r"))
        .hint("shuffle_hash"), "u")
      .groupBy(col("v")).agg(sum(col("r") * col("w")).as("s"))
    verts.join(msg.hint("shuffle_hash"), Seq("v"), "left_outer")
      .select(col("v"),
        (teleport(src, 0.15) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("r"))
  }

  /** GraphX's final rank normalization + an optional deterministic top-k
    * cut over [[pageRankRounds]]' (v, r) checkpoint: global scales to
    * mean 1 (rank·|V|∕Σrank), personalized to sum 1 (rank∕Σrank) —
    * PageRank.scala `normalizeRankSum` — with |V| and Σrank as observed
    * on the checkpoint's own job. The cut is orderBy+limit =
    * TakeOrderedAndProject: per-partition heaps merged on the driver,
    * never a global sort shuffle (the same shape pageRankDF gets from
    * RDD `top`); with no cut every vertex is returned. */
  private def normalizeTopK(rounds: Observed, personalized: Boolean,
                            topK: Option[Int]): DataFrame = Staged.run { stage =>
    val ranks = stage.own(rounds.state)
    val nv = rounds.metrics("nv").asInstanceOf[Long]
    val s = rounds.metrics("s").asInstanceOf[Double]
    val scale = if (personalized) 1.0 / s else nv / s
    val scaled = ranks.select(col("v").as("vertex_id"), (col("r") * lit(scale)).as("sr"))
    topK.fold(scaled)(k => scaled.orderBy(col("sr").desc, col("vertex_id").asc).limit(k))
      .select(col("vertex_id"), round(col("sr"), 4).as("rank"))
      .localCheckpoint(true)
  }

  /** Static PageRank over the full snapshot graph as relational rounds —
    * result-identical to [[pageRankDF]] (spec-proven) at a fraction of
    * the Pregel cost: GraphX ships replicated vertex views every round,
    * while here only the vertex-sized rank frame moves. */
  def pageRankRelationalDF(spark: SparkSession, snap: Snapshot,
                           numIter: Int = 10, topK: Int = 30): DataFrame =
    normalizeTopK(
      pageRankRounds(contribEdges(snap), vertexFrame(snap), numIter, None),
      personalized = false, Some(topK))

  /** Personalized PageRank from `src` as relational rounds — the twin of
    * [[personalizedPageRankDF]], sharing [[contribEdges]] with the
    * global variant so the two profile-topping queries pay the edge
    * projection once. */
  def personalizedPageRankRelationalDF(spark: SparkSession, snap: Snapshot,
                                       src: Long, numIter: Int = 10,
                                       topK: Int = 30): DataFrame =
    normalizeTopK(
      pageRankRounds(contribEdges(snap), vertexFrame(snap), numIter, Some(src)),
      personalized = true, Some(topK))

  /** Personalized PageRank from one source vertex (GraphX
    * `staticPersonalizedPageRank`, `numIter` fixed rounds, damping 0.85):
    * teleport mass returns ONLY to the source, so rank measures proximity
    * to it — the "related to this entity" primitive (recommendations,
    * local relevance) the global rank can't express. Same driver-merged
    * per-partition top-k cut as [[pageRankDF]]. Oracle: the same power
    * method unrolled relationally (delta-teleport at the source, final
    * r/Σr normalization — GraphX normalizes personalized ranks to sum 1,
    * not ·|V|). Scale note: rank mass concentrates within a few hops of
    * the source, but the iteration itself stays whole-graph (a frontier
    * cut would change semantics); the cached-graph width derivation
    * governs parallelism exactly as for the global variant. */
  def personalizedPageRankDF(spark: SparkSession, snap: Snapshot, src: Long,
                             numIter: Int = 10, topK: Int = 30): DataFrame = {
    val top = Staged.run { stage => // same release discipline as pageRankDF
      stage.own(cachedGraph(snap).staticPersonalizedPageRank(src, numIter))
        .vertices.map { case (vid, r) => (vid, r) }
        .top(topK)(Ordering.by { case (vid, r) => (r, -vid) })
    }
    spark.createDataFrame(top.toSeq).toDF("vertex_id", "rank")
      .select(org.apache.spark.sql.functions.col("vertex_id"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("rank"), 4).as("rank"))
  }
}
