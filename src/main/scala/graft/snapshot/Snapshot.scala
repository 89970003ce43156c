package graft.snapshot

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{A, AttrCodec, Fact, PropType}
import graft.log.FactStore

/**
 * An immutable as-of view over a [[FactStore]] — the Spark-native
 * equivalent of the reference's `db.asOf(tx)` value returned by
 * `getRawGraph()` after `setCheckpointTime` (FluxGraph.java:216-243,
 * 314-319). Unlike the reference we hand out explicit snapshot objects
 * rather than pinning a ThreadLocal: on a cluster, "the current db" must
 * be a value you can hold, cache and join against, not ambient state.
 *
 * Latest-wins dedup is a `max_by(struct(values, added), (tx, seq))`
 * aggregation — NOT a row_number window — so Spark runs it with map-side
 * partial aggregation: each input partition combines its own facts per
 * (e, attr) before the shuffle, which at 100 TB moves only one row per
 * touched (entity, attribute) per input partition instead of the whole
 * history (see [[currentFacts]] for the physical operator). Retraction-
 * aware: if the latest fact for (e, attr) is a retraction
 * (added = false) the attribute is absent from the snapshot but remains
 * in [[history]].
 */
final class Snapshot(val store: FactStore, val asOfTx: Long = Long.MaxValue) {

  /** Facts visible in this snapshot's history (tx filter only, no dedup) —
    * `db.history()` scoped to the checkpoint. For bucket-partitioned
    * stores the tx predicate also lands on the txBucket partition column,
    * so an asOf over a long history reads only the file ranges ≤ the
    * checkpoint (partition pruning — no scan of later history). */
  def history: DataFrame = txRange(None)

  /** Facts appended after tx `t` — `db.since(t)` (ImmutableFluxGraph.java:81).
    * On a bucket-partitioned store the lower bound also lands on the
    * txBucket column, so buckets wholly at or before `t` are pruned. */
  def since(t: Long): DataFrame = txRange(Some(t))

  /** Facts with `after < tx ≤ asOfTx` (either bound optional), each bound
    * repeated on the txBucket partition column when the store has one. */
  private def txRange(after: Option[Long]): DataFrame = {
    val upper = Some(asOfTx).filter(_ != Long.MaxValue)
    val onTx = upper.map(col("tx") <= _).toSeq ++ after.map(col("tx") > _)
    val onBucket = store.txBucketSize.toSeq.flatMap { sz =>
      upper.map(u => col("txBucket") <= lit(u / sz)).toSeq ++
        after.map(t => col("txBucket") >= lit(t / sz))
    }
    (onBucket ++ onTx).reduceOption(_ && _)
      .fold(store.factsDF)(store.factsDF.where)
      .drop("txBucket")
  }

  /** The current (latest-wins, retraction-filtered) fact set: one row per
    * live (e, attr).
    *
    * Physical shape: the latest-wins step executes as a `SortAggregate`
    * (partial + final around one shuffle on (e, attr)), not a hash
    * aggregation — `max_by`'s buffer holds the payload struct, which the
    * fixed-width hash-aggregation map cannot store. The payload struct
    * carries all seven value columns and is built below the aggregation,
    * so a typed read such as [[prop]] still decodes every value column
    * even though it projects one. */
  lazy val currentFacts: DataFrame = {
    if (store.preDeduped) {
      // at most one fact per (e, attr) by construction: the latest-wins
      // aggregation (and its shuffle) is an identity — skip it.
      history.where(col("added"))
        .select(Seq(col("e"), col("attr")) ++
          Fact.valueCols.map(col) :+ col("tx"): _*)
    } else {
      val payload = struct((Fact.valueCols :+ "added").map(col): _*)
      // Ordering key (tx, seq): a tx that writes the same (e, attr) twice
      // (e.g. removeProperty + setProperty buffered in one commit) resolves
      // to the later statement, as in the reference's transactor.
      history
        .groupBy(col("e"), col("attr"))
        .agg(max_by(payload, struct(col("tx"), col("seq"))).as("f"),
          max(col("tx")).as("tx"))
        .where(col("f.added"))
        .select(Seq(col("e"), col("attr")) ++
          Fact.valueCols.map(c => col(s"f.$c").as(c)) :+ col("tx"): _*)
    }
  }

  /** Live vertex ids: `(id)` — the AVET element-type scan
    * (FluxGraph.java:200-204). */
  def vertexIds: DataFrame =
    currentFacts
      .where(col("attr") === A.ElementType && col("vStr") === A.Vertex)
      .select(col("e").as("id"))

  /** Live edges: `(id, label, outV, inV)` — one conditional aggregation
    * over the four reserved attributes (FluxGraph.java:136-140 plus the
    * endpoint/label point lookups of FluxEdge.java:77-90, set-at-a-time). */
  lazy val edges: DataFrame = store match {
    // a bulk projection that pre-built its edges view hands it over
    // as-is for the HEAD snapshot (pinned views must still resolve
    // retractions, so they take the pivot below)
    // preDeduped is load-bearing: a multi-tx or retraction-bearing store
    // must take the pivot below or deleted edges would silently resurface
    case b: graft.log.BulkFactStore
      if b.providedEdges.isDefined && b.preDeduped && asOfTx == Long.MaxValue =>
      b.providedEdges.get
    case _ =>
      currentFacts
        .where(col("attr").isin(A.ElementType, A.EdgeLabel, A.EdgeOut, A.EdgeIn))
        .groupBy(col("e"))
        .agg(
          max(when(col("attr") === A.ElementType, col("vStr"))).as("etype"),
          max(when(col("attr") === A.EdgeLabel, col("vStr"))).as("label"),
          max(when(col("attr") === A.EdgeOut, col("vRef"))).as("outV"),
          max(when(col("attr") === A.EdgeIn, col("vRef"))).as("inV"))
        .where(col("etype") === A.Edge)
        .select(col("e").as("id"), col("label"), col("outV"), col("inV"))
  }

  /** Decode a type-qualified attribute to its user key (FluxUtil.java:41-47)
    * as a Column: prefix before the first '.', '$'→'_'. */
  private def decodeKey(attr: Column): Column =
    translate(substring_index(attr, ".", 1), "$", "_")

  /** Every value column rendered to one string (for the generic props map). */
  private def valueAsString: Column =
    coalesce(col("vStr"), col("vLong").cast("string"),
      col("vDouble").cast("string"), col("vDec").cast("string"),
      col("vBool").cast("string"), col("vTs").cast("string"),
      col("vRef").cast("string"))

  /** Live user property facts of one element kind:
    * `(e, key, type, vStr, vLong, vDouble, vDec, vBool, vTs, vRef)`. */
  def propFacts(kind: String): DataFrame =
    currentFacts
      .where(!col("attr").isin(A.reserved.toSeq: _*) &&
        col("attr").endsWith("." + kind))
      .withColumn("key", decodeKey(col("attr")))
      .withColumn("ptype", element_at(split(col("attr"), "\\."), -2))

  /** Generic vertex view `(id, props: map<string,string>)` — the
    * getPropertyKeys/getProperty surface set-at-a-time
    * (FluxElement.java:58-97). */
  lazy val vertices: DataFrame =
    vertexIds.join(
      propFacts(A.Vertex)
        // one user key can be live under two type-qualified attributes
        // (e.g. x.long.vertex + x.string.vertex written by bulk loads);
        // deterministically keep one per key — map_from_entries would
        // throw DUPLICATE_MAP_KEY otherwise
        .groupBy(col("e"), col("key"))
        .agg(max_by(valueAsString, col("attr")).as("v"))
        .groupBy(col("e"))
        .agg(map_from_entries(collect_list(struct(col("key"), col("v"))))
          .as("props"))
        .select(col("e").as("id"), col("props")),
      Seq("id"), "left")
      .select(col("id"), coalesce(col("props"), map()).as("props"))

  /** Typed access to one property: `(e, v)` with the natural Spark type.
    * Filter on the encoded attribute name is a plain string equality that
    * pushes down to the fact scan. */
  def prop(key: String, t: PropType, kind: String): DataFrame =
    currentFacts
      .where(col("attr") === AttrCodec.encode(key, t, kind))
      .select(col("e"), col(t.col).as("v"))

  /** Elements (of either kind) whose property `key` = `v` — the AVET
    * attribute-value scan behind getVertices(key, value)
    * (FluxIndex.java:60-126). */
  def elementsByProp(key: String, t: PropType, v: Any, kind: String): DataFrame =
    prop(key, t, kind).where(col("v") === lit(v)).select(col("e").as("id"))

  /**
   * Facts live in THIS snapshot but absent from `other` — the set-oriented
   * difference graph (FluxGraph.java:250-273, FluxUtil.java:241-319),
   * optionally scoped to a working set of element ids (a one-column
   * DataFrame; the reference takes an explicit working set too).
   *
   * Shape: a null-safe left-anti join of the two deduped fact sets on
   * (e, attr, every value column) — tx is provenance, not identity, so a
   * re-assertion of the same value at a later tx is NOT a difference —
   * followed by the reference's normalize step: an element survives only
   * if a non-type fact survives, and surviving elements keep their
   * element-type fact so the result is a well-formed (sub)graph. Both
   * sides are one shuffle each (the currentFacts aggregation); the anti
   * join hashes on `e` — at 100 TB this is the same join the engine
   * already runs for asOf reads, never a driver collect.
   *
   * Output has the full [[Fact]] schema (seq = 0, added = true): a valid
   * fact-log slice, loadable as a [[graft.log.BulkFactStore]].
   */
  def differenceFacts(other: Snapshot, workingSet: Option[DataFrame] = None): DataFrame =
    if (other.store eq store) fusedDifference(other.asOfTx, workingSet)
    else generalDifference(other, workingSet)

  /**
   * Same-store fast path: both pins read the SAME history, so instead of
   * materializing two latest-wins fact sets and anti-joining them (two
   * wide shuffles + a join), resolve BOTH pinned states in ONE
   * `groupBy(e, attr)` pass — `max_by` over the ≤t1 and ≤t2 slices of each
   * group — and compare them in-row. The normalize step (keep an
   * element's type fact only if a non-type fact survives) is a window
   * count over the already-aggregated rows, so the whole diff is one
   * full shuffle on (e, attr) plus one shuffle of the deduped output on
   * e — no join at all. At 100 TB this halves the data moved and removes
   * the join hash tables; the working-set filter lands BELOW the
   * aggregation, so a scoped diff shuffles only the scoped history.
   */
  private def fusedDifference(otherTx: Long, workingSet: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t1 = asOfTx; val t2 = otherTx
    val upper = if (t1 == Long.MaxValue || t2 == Long.MaxValue) Long.MaxValue
                else math.max(t1, t2)
    val hist = new Snapshot(store, upper).history
    val scoped = workingSet match {
      case Some(ws) =>
        val ids = ws.select(col(ws.columns.head).cast("long").as("e"))
        hist.join(ids, Seq("e"), "left_semi")
      case None => hist
    }
    val payload = struct((Fact.valueCols :+ "added").map(col): _*)
    val ord = struct(col("tx"), col("seq"))
    def at(t: Long): Column = col("tx") <= lit(t)
    // max_by ignores rows whose ordering key is null, so the when-guards
    // slice each (e, attr) group per pin without a second pass
    val g = scoped
      .groupBy(col("e"), col("attr"))
      .agg(
        max_by(when(at(t1), payload), when(at(t1), ord)).as("f1"),
        max(when(at(t1), col("tx"))).as("tx1"),
        max_by(when(at(t2), payload), when(at(t2), ord)).as("f2"))
    val live1 = col("f1").isNotNull && col("f1.added")
    // identical live value at t2 ⇒ not a difference (tx is provenance,
    // not identity — same contract as the general path's anti-join)
    val sameAtT2 = col("f2").isNotNull && col("f2.added") &&
      Fact.valueCols.map(c => col(s"f1.$c") <=> col(s"f2.$c")).reduce(_ && _)
    val isChanged = col("attr") =!= A.ElementType && live1 && !sameAtT2
    g.withColumn("nChanged",
        sum(when(isChanged, 1L).otherwise(0L)).over(Window.partitionBy(col("e"))))
      .where(isChanged ||
        (col("attr") === A.ElementType && live1 && col("nChanged") > 0))
      .select(Seq(col("e"), col("attr")) ++
        Fact.valueCols.map(c => col(s"f1.$c").as(c)) ++
        Seq(col("tx1").as("tx"), lit(0L).as("seq"), lit(true).as("added")): _*)
  }

  /** Cross-store general path: null-safe left-anti join of the two deduped
    * fact sets (each side one latest-wins shuffle), then the semi-join
    * normalize. */
  private def generalDifference(other: Snapshot, workingSet: Option[DataFrame]): DataFrame = {
    def scoped(df: DataFrame): DataFrame = workingSet match {
      case Some(ws) =>
        val ids = ws.select(col(ws.columns.head).cast("long").as("e"))
        df.join(ids, Seq("e"), "left_semi")
      case None => df
    }
    val f1 = scoped(currentFacts)
    // renamed projection: the two sides may derive from the SAME base plan
    // (two asOf pins over one store) — unrenamed self-joins are ambiguous
    val right = scoped(other.currentFacts)
      .where(col("attr") =!= A.ElementType)
      .select(Seq(col("e").as("e2"), col("attr").as("attr2")) ++
        Fact.valueCols.map(c => col(c).as(c + "2")): _*)
    val cond = col("e") === col("e2") && col("attr") === col("attr2") &&
      Fact.valueCols.map(c => col(c) <=> col(c + "2")).reduce(_ && _)
    val changed = f1.where(col("attr") =!= A.ElementType).join(right, cond, "left_anti")
    // normalize (FluxUtil.java:288-319): keep type facts only for elements
    // with at least one surviving non-type fact
    val typeFacts = f1.where(col("attr") === A.ElementType)
      .join(changed.select(col("e")).distinct(), Seq("e"), "left_semi")
    changed.unionByName(typeFacts)
      .select(Seq(col("e"), col("attr")) ++ Fact.valueCols.map(col) ++
        Seq(col("tx"), lit(0L).as("seq"), lit(true).as("added")): _*)
  }

  /** Register this snapshot's relational views as session temp views
    * (`<prefix>_facts`, `<prefix>_vertices`, `<prefix>_edges`,
    * `<prefix>_vertex_props`, `<prefix>_edge_props`) so the whole graph
    * state is queryable with plain `spark.sql` — the Spark-native query
    * surface the reference lacks (its Datalog layer is internal-only).
    * Views are lazy plans over this snapshot: Catalyst still prunes and
    * pushes down through them like any other subquery. */
  def createViews(prefix: String = "graft"): Unit = {
    currentFacts.createOrReplaceTempView(s"${prefix}_facts")
    vertices.createOrReplaceTempView(s"${prefix}_vertices")
    edges.createOrReplaceTempView(s"${prefix}_edges")
    propFacts(A.Vertex).createOrReplaceTempView(s"${prefix}_vertex_props")
    propFacts(A.Edge).createOrReplaceTempView(s"${prefix}_edge_props")
  }

  /** Pin to an earlier tx (returns a narrower snapshot). */
  def asOfTxId(tx: Long): Snapshot = new Snapshot(store, math.min(tx, asOfTx))

  /** Pin to a wall-clock instant: resolves max tx ≤ date then pins
    * (setCheckpointTime, FluxGraph.java:224-243). */
  def asOf(at: Timestamp): Snapshot = asOfTxId(store.resolveTx(at))
}

object Snapshot {
  /** Head snapshot (the unpinned "current db"). */
  def head(store: FactStore): Snapshot = new Snapshot(store)
}
