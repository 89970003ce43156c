package graft.gx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.snapshot.Snapshot
import graft.util.{LruMemo, Staged}
import graft.util.LruMemo.releaseCheckpoint

/**
 * HyperANF-style neighborhood function over the label-filtered
 * snapshot graph (Boldi, Rosa & Vigna, "HyperANF: Approximating the
 * Neighbourhood Function of Very Large Graphs on a Budget", WWW 2011):
 * every vertex carries an m=64-register HyperLogLog sketch of its
 * OUT-ball, grown one hop per round by merging (register-wise max) the
 * sketches of its out-neighbours. The per-vertex estimate after round
 * h equals the HLL estimate of the EXACT ball(v, h) membership —
 * register state is a pure deterministic function of the ball set and
 * the hash — which is what makes a full hash oracle possible: the
 * DuckDB twin derives the exact balls from the order DAG's closed-form
 * level structure (the `shortest_paths` trick, Ctes.spDagCtes family),
 * hashes each member with the same md5 recipe, and replays the same
 * integer estimator bit-for-bit.
 *
 * Scale shape (the reason this operator exists at 100 TB): the exact
 * neighbourhood function needs |ball| DISTINCT members per vertex —
 * Σ_v |ball(v,h)| rows, quadratic-ish on dense graphs — while this
 * path carries ONE dense 64-int register array per vertex (|V| rows
 * regardless of ball sizes, the paper's layout). Each round is one
 * equi-join of the edge list against the CHANGED-vertex frontier
 * (Boldi–Vigna systolic: converged regions and sink-sided edges go
 * quiet) plus one element-wise-max fold; the estimate is a pure
 * projection over the array — no second shuffle. No GraphX, no RDD
 * hop: the whole fixpoint is relational and stays in Tungsten.
 *
 * Engine-exact estimator contract (the §28 doctrine applied to a
 * SKETCH): raw HLL E = α₆₄·m²·2³⁰·10⁶ / Q with Q = Σ_j 2^(30−M_j)
 * (empty registers contribute 2³⁰), α₆₄ pinned at 709/1000 — a single
 * long division, no float path. The standard small-range correction
 * (linear counting m·ln(m/V) when V>0 and E ≤ 2.5·m) is applied from a
 * PINNED 64-entry integer table computed once on the JVM and
 * interpolated into BOTH engines' plans, so the branch and the value
 * are bit-identical everywhere.
 */
object HyperAnf {

  /** Register count m (b=6 ⇒ σ ≈ 1.04/√64 ≈ 13% per-vertex). */
  val M = 64

  /** rho cap: 28 hex chars of md5 tail never exceed 113 leading-zero
    * bits, but registers beyond 30 are astronomically unlikely and a
    * fixed cap keeps 2^(30−M_j) a plain long in both engines. */
  val RhoCap = 30

  /** α₆₄·m²·2³⁰·10⁶ scaled to avoid floats: 709·4096·2³⁰·1000
    * (α₆₄ = 0.7213/(1+1.079/64) ≈ 0.70927, pinned at 709/1000).
    * ≈ 3.12e18 — inside long range; est_micros = this DIV Q. */
  val RawNumerMicros: Long = (709L * 4096L << 30) * 1000L

  /** Linear-counting switch threshold in micros: E_raw ≤ 2.5·m. */
  val LcThresholdMicros: Long = 160L * 1000000L

  /** Pinned linear-counting table: LcMicros(V−1) = ⌊m·ln(m/V)·10⁶⌋ for
    * V = 1..64 empty registers. Computed ONCE here and interpolated
    * into both the Spark plan and the DuckDB twin SQL — the float ln
    * never runs per-row in either engine. */
  val LcMicros: IndexedSeq[Long] =
    (1 to M).map(v => math.floor(M * math.log(M.toDouble / v) * 1e6).toLong)

  /** Default label set: the order DAG
    * customer -placed-> order -contains-> part -supplied_by-> supplier
    * (same closed-form-replayable structure as shortestPathsDF). */
  val DagLabels: Seq[String] = Seq("placed", "contains", "supplied_by")

  // ---- register derivation (shared recipe, mirrored by the twin) ----

  /** md5 hex of the vertex id rendered as a decimal string — both
    * engines render BIGINT→string identically. */
  private def hexOf(v: Column): Column = md5(v.cast("string"))

  /** Register index j ∈ [0, 64): first 2 hex chars (8 bits) mod 64. */
  private def regIndex(hex: Column): Column =
    (conv(substring(hex, 1, 2), 16, 10).cast("int") % M).as("j")

  /** rho = leading-zero bits of the 28-hex-char tail + 1, capped.
    * Computed from the HEX STRING (strip leading '0' chars, then a
    * 4-way case on the first surviving digit) so DuckDB replays it
    * with the same string ops — no 64-bit unsigned parse needed. */
  private def rho(hex: Column): Column = {
    val tail = substring(hex, 3, 28)
    val strip = regexp_replace(tail, "^0+", "")
    val first = substring(strip, 1, 1)
    val lzd = when(first === "1", 3)
      .when(first.isin("2", "3"), 2)
      .when(first.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    when(length(strip) === 0, RhoCap)
      .otherwise(least((lit(28) - length(strip)) * 4 + lzd + 1, lit(RhoCap)))
      .cast("int").as("m")
  }

  // ---- the fixpoint ----

  /** Memoized per-(vertex, hop) estimates — `hyperanf` and
    * `effective_diameter` share one propagation through the shared
    * [[graft.util.LruMemo]]. Eviction FREES the evicted frame's
    * checkpoint blocks (an eager localCheckpoint the LRU drops without
    * unpersisting leaks one estimate-frame copy per evicted key for the
    * session lifetime; a caller holding an evicted frame fails loudly
    * on the missing block, never silently). */
  private val MaxCached = 8
  private val anfCache =
    new LruMemo[(Snapshot, Int, Seq[String]), DataFrame](MaxCached, releaseCheckpoint)

  /** Per-vertex ball-size estimates: (vertex_id, hop, est_micros) for
    * hop = 1..hops, one row per graph vertex per hop (balls include the
    * vertex itself; isolated vertices — no edge endpoint — carry no
    * row, the Graph.fromEdges convention shared with the other
    * analytics). */
  def hyperAnfDF(spark: SparkSession, snap: Snapshot, hops: Int = 3,
                 labels: Seq[String] = DagLabels): DataFrame =
    anfCache.getOrBuild((snap, hops, labels))(buildAnf(snap, hops, labels))

  /** The width every HyperANF frame is built and joined at. Per-round
    * join volume is Σ_edges |regs(dst)| — ~1e9 rows at sf5 — so the
    * operator scales its OWN width off the label-filtered edge count
    * (32 session partitions put ~40M-row partitions through one
    * sort-merge task and died): one partition per ~250k edges, through
    * the [[widthFor]] rule and cap. */
  private[gx] def anfWidth(snap: Snapshot, labels: Seq[String]): Int =
    widthFor(labelEdgeCount(snap, labels), 250000L)

  /** Adaptive width: proportional to the filtered edge count (one
    * partition per `perPartition` edges), floored at 1 (tiny subgraphs
    * stay task-overhead-free), capped at 4× the cluster's default
    * parallelism so the width never outruns the executor count by more
    * than a healthy task queue (on a 1000-executor cluster the cap binds
    * only past ~10^9 edges — exactly when you want every core busy). */
  private[graft] def widthFor(edgeCount: Long, perPartition: Long): Int = {
    val spark = SparkSession.active
    val cap = math.max(4L * spark.sparkContext.defaultParallelism, 1L)
    val byRows = (edgeCount + perPartition - 1) / perPartition
    math.max(1L, math.min(byRows, cap)).toInt
  }

  /** Memoized filtered-edge counts (the width input): one cheap count
    * over the persisted snapshot edges per (snap, labels), so repeated
    * [[anfWidth]] lookups don't re-count. Snapshots are immutable;
    * identity-keying is safe. */
  private val labelCountCache =
    new LruMemo[(Snapshot, Seq[String]), Long](GraphXTraversal.MaxCachedGraphs, _ => ())
  private[graft] def labelEdgeCount(snap: Snapshot, labels: Seq[String]): Long =
    labelCountCache.getOrBuild((snap, labels.sorted))(
      snap.edges.where(col("label").isin(labels: _*)).count())

  /** The distinct (src, dst) edge frame the systolic rounds walk —
    * extracted so [[graft.gx.RoundSteps]] can dump a round over the
    * identical frame. Multi-edges collapse up front: ball membership is
    * a SET, and the distinct halves the per-round join output on
    * lineitem-derived labels (part→supplier repeats per lineitem row). */
  private[gx] def anfEdges(snap: Snapshot, labels: Seq[String], width: Int): DataFrame =
    // a dst-partitioned checkpoint at the rounds' width: every systolic
    // round joins this edge-scale frame on `dst` against the changed
    // frontier (itself a `v`-partitioned register frame at the same
    // width), so neither side is exchanged (the distinct's (src,dst)
    // layout satisfies no dst-keyed join)
    GraphXTraversal.partitionedCheckpoint(
      snap.edges.where(col("label").isin(labels: _*))
        .select(col("outV").as("src"), col("inV").as("dst"))
        .distinct(),
      "dst", width)

  /** Round-0 dense registers (un-checkpointed): each vertex's 64-int
    * array holds exactly its own (j, rho); `changed` marks the initial
    * frontier. */
  private[gx] def anfRegs0(edges: DataFrame): DataFrame = {
    val verts = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v"))).distinct()
    val hex = hexOf(col("v"))
    verts
      .select(col("v"), regIndex(hex), rho(hex))
      .select(col("v"),
        transform(sequence(lit(0), lit(M - 1)),
          i => when(i === col("j"), col("m")).otherwise(lit(0))).as("regs"),
        lit(true).as("changed"))
  }

  /** One Boldi–Vigna systolic round (un-checkpointed) over `edges` and
    * `regs` partitioned at `width` on `dst` and `v`: only edges whose
    * dst CHANGED last round ship its array; merge is element-wise max.
    * The pulled arrays are repartitioned on `src` at the same width —
    * `collect_list` ships every element anyway, so this costs no extra
    * bytes — and the merge joins them to `regs` with no exchange. */
  private[gx] def anfRound(edges: DataFrame, regs: DataFrame, width: Int): DataFrame = {
    val zeroArr = transform(sequence(lit(0), lit(M - 1)), _ => lit(0))
    val frontier = regs.where(col("changed"))
      .select(col("v").as("dst"), col("regs").as("nregs"))
    val pulled = edges.join(frontier, "dst")
      .repartition(width, col("src"))
      .groupBy(col("src").as("v"))
      .agg(aggregate(collect_list(col("nregs")), zeroArr,
        (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b))).as("pulled"))
    regs.join(pulled, Seq("v"), "left_outer")
      .withColumn("nr",
        when(col("pulled").isNull, col("regs"))
          .otherwise(zip_with(col("regs"), col("pulled"),
            (a, b) => greatest(a, b))))
      .select(col("v"), col("nr").as("regs"),
        (col("nr") =!= col("regs")).as("changed"))
  }

  private def buildAnf(snap: Snapshot, hops: Int, labels: Seq[String]): DataFrame =
    Staged.run { stage =>
      val width = anfWidth(snap, labels)
      val edges = stage.own(anfEdges(snap, labels, width))
      // DENSE registers — one 64-int array per vertex, the layout the
      // HyperANF paper actually runs (the r14 sf5 catch: a sparse
      // (v,j,M)-row layout checkpointed ~600M rows per frame and
      // shuffled Σ_edges |regs(dst)| ≈ 10⁹ rows per round; two retries
      // died on disk/OOM at sf5. Dense frames are |V| rows ≈ 25×
      // smaller, the estimate becomes a pure per-row PROJECTION — no
      // second shuffle — and the systolic skip works at vertex
      // granularity).
      // Systolic rounds ([[anfRound]]): sink-sided edges drop out after
      // round 1; converged regions go quiet; a vertex absorbs a
      // neighbour's array once and the skip is exact. Estimates fold out
      // of each round's frame immediately; at most two |V|-row frames
      // are alive. Each frame is this scope's too, so one whose
      // estimate fails is still released.
      val estParts = Seq.newBuilder[DataFrame]
      stage.iterate(GraphXTraversal.partitionedCheckpoint(anfRegs0(edges), "v", width), hops) {
        (regs, h) =>
          val next = stage.own(
            GraphXTraversal.partitionedCheckpoint(anfRound(edges, regs, width), "v", width))
          estParts += stage.checkpoint(estimateOf(next, h))
          next
      }
      estParts.result().reduce(_ unionAll _).localCheckpoint(true)
    }

  /** Fold one round's dense register frame into its per-vertex
    * estimates — a pure PROJECTION (SQL lambda fold over the 64-int
    * array: Q = Σ_j 2^(30−M_j) with empty registers contributing 2³⁰
    * for free since M_j = 0), no shuffle at all. */
  private def estimateOf(regs: DataFrame, hop: Int): DataFrame = {
    val lcArray = array(LcMicros.map(lit(_)): _*)
    regs
      .select(col("v").as("vertex_id"),
        expr(s"aggregate(regs, CAST(0 AS BIGINT), " +
          s"(acc, m) -> acc + shiftleft(CAST(1 AS BIGINT), $RhoCap - m))").as("q"),
        expr("size(filter(regs, m -> m = 0))").cast("long").as("v_empty"))
      .select(col("vertex_id"),
        expr(s"CAST($RawNumerMicros AS BIGINT) div q").as("raw"),
        col("v_empty"))
      .select(col("vertex_id"), lit(hop).as("hop"),
        when(col("v_empty") > 0 && col("raw") <= LcThresholdMicros,
          element_at(lcArray, col("v_empty").cast("int")))
          .otherwise(col("raw")).as("est_micros"))
  }

  /** Landmark-free effective-diameter summary: N(h) = Σ_v est(v,h)
    * (order-free long sum of deterministic per-vertex integers) and
    * eff_diameter_90 = min h with 10·N(h) ≥ 9·N(hops) — the integer
    * form of the standard 90% effective diameter, replayed exactly by
    * the twin from the same per-vertex estimates. One row. */
  def effectiveDiameterDF(spark: SparkSession, snap: Snapshot, hops: Int = 3,
                          labels: Seq[String] = DagLabels): DataFrame = {
    val est = hyperAnfDF(spark, snap, hops, labels)
    // sums and the ×10/×9 compare run in DECIMAL(38,0) (the
    // assortativity doctrine: a long sum is safe at test SFs but the
    // ×10 compare would wrap first at corpus scale; DuckDB's HUGEINT
    // sum matches exactly); the emitted n_h cast back to long
    val sums = (1 to hops).map(h =>
      sum(when(col("hop") === h, col("est_micros")).otherwise(0L)
        .cast("decimal(38,0)")).as(s"d$h"))
    val row = est.groupBy().agg(sums.head, sums.tail: _*)
    val nH = col(s"d$hops")
    val eff = (1 to hops).foldRight(lit(hops): Column) { (h, elseCol) =>
      when(col(s"d$h") * 10 >= nH * 9, lit(h)).otherwise(elseCol)
    }
    row.select((1 to hops).map(h => col(s"d$h").cast("long").as(s"n$h"))
      :+ eff.as("eff_diameter_90"): _*)
  }
}
