package graft.graph

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.log.MemFactLog
import graft.model._

/**
 * Interactive temporal property-graph API — the Blueprints-style surface
 * of the reference (FluxGraph.java / FluxElement.java / FluxVertex.java /
 * FluxEdge.java) re-expressed over the graft fact log.
 *
 * Write path: every mutation buffers [[Fact]]s in an explicit transaction
 * buffer and auto-commits (the reference buffers in a ThreadLocal and
 * auto-commits each Blueprints op — FluxGraph.java:32-36,321-340; explicit
 * state beats ambient ThreadLocals under Spark).
 *
 * Touch semantics (define what "a version of an element" means; copied
 * exactly from the reference):
 *  - addVertex touches nothing                    (FluxGraph.java:172-184)
 *  - addEdge touches BOTH endpoint vertices       (FluxGraph.java:147-165)
 *  - removeEdge touches edge + both endpoints     (FluxGraph.java:353-369)
 *  - removeVertex cascades edge removal, then touches the vertex
 *                                                 (FluxGraph.java:371-387)
 *  - setProperty / removeProperty touch the element
 *                                                 (FluxElement.java:99-167)
 *
 * Per-element reads — isDeleted, properties, edge label/endpoints,
 * incident edges and neighbors, `difference(workingSet, d1, d2)` — read
 * only the element's own facts through the log's entity and reference
 * indexes ([[graft.log.MemFactLog]]), so they cost O(element history),
 * not O(log). Whole-graph reads (`getVertices()`, `getEdges()`,
 * [[GraphView]]'s `vertices`/`edges`, the count scans) still scan the
 * in-memory log; the set-oriented analytical path over the same log is
 * [[graft.snapshot.Snapshot]].
 */
final class GraftGraph(val log: MemFactLog) {

  def this(spark: SparkSession) = this(new MemFactLog(spark))

  // ---- transaction buffer (explicit GraphTx) ----
  private val buffer = mutable.ArrayBuffer.empty[Fact]
  private val touched = mutable.ArrayBuffer.empty[Long]
  private var txTime: Option[Timestamp] = None

  /** Backdate subsequent commits' txInstant — setTransactionTime
    * (FluxGraph.java:245-248,325-340). Pass null to reset to wall clock. */
  def setTransactionTime(d: Timestamp): Unit = txTime = Option(d)

  private def touch(es: Long*): Unit = touched ++= es

  /** Commit the buffered tx (auto-invoked by each mutation, matching the
    * reference's transact-per-op; callers batching via [[inTx]] defer). */
  private var batching = false
  private def transact(): Long = {
    if (batching) -1L
    else {
      val tx = log.commit(buffer.toSeq, touched.toSeq, txTime)
      buffer.clear(); touched.clear()
      tx
    }
  }

  /** Batch several mutations into ONE transaction (the reference exposes
    * no user transactions — supportsTransactions=false — but clear() and
    * removeVertex internally batch; this is that mechanism, made explicit).
    * A throwing body rolls the buffered facts back — nothing leaks into
    * the next commit. */
  def inTx[T](body: => T): (T, Long) = {
    require(!batching, "nested inTx")
    batching = true
    val r = try body catch {
      case e: Throwable =>
        buffer.clear(); touched.clear()
        throw e
    } finally batching = false
    val tx = transact()
    (r, tx)
  }

  // ---- element handles ----
  /** Handle = (id, optional pinned asOf tx). Equality by id only
    * (FluxElement.java:169-181). pinnedTx = Long.MaxValue ⇒ current. */
  sealed abstract class Elem(val id: Long, val pinnedTx: Long) {
    def graph: GraftGraph = GraftGraph.this
    def kind: String
    def isCurrentVersion: Boolean = pinnedTx == Long.MaxValue

    /** No fact about the entity in the view ⇒ deleted
      * (FluxElement.java:49-56). */
    def isDeleted: Boolean = liveFactsOf(id, pinnedTx).isEmpty

    protected def validate(): Unit = {
      require(isCurrentVersion, "It is not possible to modify a previous version of an element")
      require(!isDeleted, "It is not possible to modify a deleted element")
    }

    /** Decoded, non-reserved property keys (FluxElement.java:58-73).
      * Like the reference, reading a DELETED element's keys throws
      * (FluxElement.java:60-62). */
    def getPropertyKeys: Set[String] = {
      val live = liveFactsOf(id, pinnedTx)
      require(live.nonEmpty, "It is not possible to get properties on a deleted element")
      live.iterator
        .filterNot(f => A.reserved(f.attr))
        .flatMap(f => Option(AttrCodec.decode(f.attr)))
        .toSet
    }

    /** Typed property lookup (FluxElement.java:75-97). Null when absent;
      * throws on a deleted element (FluxElement.java:75-78). */
    def getProperty(key: String): Any = {
      val live = liveFactsOf(id, pinnedTx)
      require(live.nonEmpty, "It is not possible to get properties on a deleted element")
      live.iterator
        .filter(f => !A.reserved(f.attr) && AttrCodec.decode(f.attr) == key &&
          f.attr.endsWith("." + kind))
        .toSeq.sortBy(f => (f.tx, f.seq)).lastOption
        .map(decodeValue).orNull
    }

    def setProperty(key: String, value: Any): Unit = {
      validate()
      require(key != null && key.nonEmpty, "Property key can not be the empty string")
      require(key != "id", "Property key is reserved: id")
      require(key != "label", "Property key is reserved for all nodes and edges: label")
      val t = PropType.of(value)
      val old = getProperty(key)
      if (old != null) {
        val oldT = PropType.of(old)
        // Same type-qualified attribute ⇒ plain overwrite (latest-wins).
        // Different type ⇒ retract old fact, add under the new attribute.
        // NOTE the reference has a bug here: it retracts under the NEW
        // type's key (FluxElement.java:126-127); we implement the intended
        // semantics (retract under the OLD type) per SURVEY §7.
        if (oldT.name != t.name)
          buffer += Fact.of(id, AttrCodec.encode(key, oldT, kind), old, 0L, added = false)
      }
      buffer += Fact.of(id, AttrCodec.encode(key, t, kind), value, 0L)
      touch(id)
      transact()
    }

    /** Retract + return prior value (FluxElement.java:154-167). Touches the
      * element even when no value existed (reference calls
      * addTransactionInfo unconditionally). */
    def removeProperty(key: String): Any = {
      validate()
      val old = getProperty(key)
      if (old != null)
        buffer += Fact.of(id, AttrCodec.encode(key, PropType.of(old), kind), old, 0L, added = false)
      touch(id)
      transact()
      old
    }

    // ---- temporal navigation (§2.6) ----
    /** Max tx (≤ pin) that touched this element, over facts ∪ touches —
      * getTimeId (FluxElement.java:39-42, FluxUtil.java:196-217). */
    def getTimeId: Long = timeIdOf(id, pinnedTx)

    protected def at(tx: Long): Elem

    /** Previous version: handle pinned to the prior touching tx; null at
      * the chain start (FluxVertex.java:28-37, FluxUtil.java:169-180).
      * O(log chain) via the log's per-element tx index. */
    def getPreviousVersion: Elem =
      log.prevTxOf(id, getTimeId).map(at).orNull

    /** Next version; the *current unpinned* handle at the head
      * (FluxVertex.java:39-54, FluxUtil.java:182-194); null if this IS the
      * head version. */
    def getNextVersion: Elem =
      log.nextTxOf(id, getTimeId) match {
        case None => null
        case Some(nxt) =>
          if (nxt == timeIdOf(id, Long.MaxValue)) at(Long.MaxValue) else at(nxt)
      }

    /** Walk backwards/forwards through all versions, optionally filtered
      * (FluxTimeIterable.java:10-107, TimeAwareFilter.java). */
    def getPreviousVersions: Iterator[Elem] =
      Iterator.iterate(getPreviousVersion)(e => if (e == null) null else e.getPreviousVersion)
        .takeWhile(_ != null)
    def getPreviousVersions(f: Elem => Boolean): Iterator[Elem] =
      getPreviousVersions.filter(f)
    def getNextVersions: Iterator[Elem] =
      Iterator.iterate(getNextVersion)(e => if (e == null) null else e.getNextVersion)
        .takeWhile(_ != null)
    def getNextVersions(f: Elem => Boolean): Iterator[Elem] =
      getNextVersions.filter(f)

    /** Validity interval [txInstant(this), txInstant(next)); open end (null)
      * for the head version (FluxElement.java:142-152). */
    def getTimeInterval: (Timestamp, Timestamp) = {
      val start = log.instantOf(getTimeId).orNull
      val nextE = getNextVersion
      val end = if (nextE == null) null else log.instantOf(nextE.getTimeId).orNull
      (start, end)
    }

    /** All facts of this element in its view (getFacts,
      * FluxElement.java:199-216) — feeds difference(). */
    def facts: Seq[Fact] = liveFactsOf(id, pinnedTx)

    override def equals(o: Any): Boolean = o match {
      case e: Elem => e.id == id
      case _ => false
    }
    override def hashCode: Int = id.hashCode
  }

  final class VertexHandle(id0: Long, pin0: Long = Long.MaxValue) extends Elem(id0, pin0) {
    def kind: String = A.Vertex
    protected def at(tx: Long): Elem = new VertexHandle(id, tx)

    /** Incident edges (FluxVertex.java:76-85,150-180). dir ∈ out|in|both;
      * empty labels ⇒ all. BOTH = out ++ in (MultiIterable concat). */
    def getEdges(dir: String, labels: String*): Seq[EdgeHandle] = {
      val es = incidentEdges(id, pinnedTx)
      val sel = dir match {
        case "out"  => es.filter(_.outV == id)
        case "in"   => es.filter(_.inV == id)
        case "both" => es.filter(_.outV == id) ++ es.filter(_.inV == id)
      }
      sel.filter(e => labels.isEmpty || labels.contains(e.label))
        .map(e => new EdgeHandle(e.id, pinnedTx))
    }

    /** 1-hop neighbors — bag semantics, duplicates preserved
      * (FluxVertex.java:87-117). */
    def getVertices(dir: String, labels: String*): Seq[VertexHandle] = {
      val es = incidentEdges(id, pinnedTx)
      def opp(dirNow: String): Seq[Long] = dirNow match {
        case "out" => es.filter(e => e.outV == id && (labels.isEmpty || labels.contains(e.label))).map(_.inV)
        case "in"  => es.filter(e => e.inV == id && (labels.isEmpty || labels.contains(e.label))).map(_.outV)
      }
      val ids = dir match {
        case "both" => opp("out") ++ opp("in")
        case d => opp(d)
      }
      ids.map(new VertexHandle(_, pinnedTx))
    }

    def query(): VertexQuery = new VertexQuery(this)
  }

  final class EdgeHandle(id0: Long, pin0: Long = Long.MaxValue) extends Elem(id0, pin0) {
    def kind: String = A.Edge
    protected def at(tx: Long): Elem = new EdgeHandle(id, tx)

    private def rec: EdgeRec =
      edgeRec(id, pinnedTx).getOrElse(throw new NoSuchElementException(s"edge $id"))

    def getLabel: String = rec.label
    /** Endpoint lookup (FluxEdge.java:77-85). dir ∈ in|out. */
    def getVertex(dir: String): VertexHandle = dir match {
      case "in"  => new VertexHandle(rec.inV, pinnedTx)
      case "out" => new VertexHandle(rec.outV, pinnedTx)
    }
  }

  /** Blueprints DefaultQuery-style builder (FluxVertex.java:124-127):
    * chainable has/interval/labels/direction/limit, evaluated over the
    * vertex's incident edges. */
  final class VertexQuery(v: VertexHandle) {
    private var dir = "both"
    private var labelSet: Seq[String] = Nil
    private var preds = Vector.empty[EdgeHandle => Boolean]
    private var max = Int.MaxValue

    def direction(d: String): VertexQuery = { dir = d; this }
    def labels(ls: String*): VertexQuery = { labelSet = ls; this }
    def has(key: String): VertexQuery = { preds :+= (e => e.getProperty(key) != null); this }
    def has(key: String, value: Any): VertexQuery = { preds :+= (e => e.getProperty(key) == value); this }
    def has(key: String, cmp: String, value: Comparable[Any]): VertexQuery = {
      preds :+= { e =>
        val p = e.getProperty(key)
        cmp match {
          // Blueprints DefaultQuery.HasContainer: NOT_EQUAL is satisfied
          // by elements MISSING the key (null property, non-null value)
          case "<>" => p == null || value.compareTo(p) != 0
          case _ => p != null && (cmp match {
            case "="  => value.compareTo(p) == 0
            case ">"  => value.compareTo(p) < 0
            case ">=" => value.compareTo(p) <= 0
            case "<"  => value.compareTo(p) > 0
            case "<=" => value.compareTo(p) >= 0
          })
        }
      }
      this
    }
    /** Half-open range [start, stop) (Blueprints interval semantics). */
    def interval(key: String, start: Comparable[Any], stop: Comparable[Any]): VertexQuery = {
      preds :+= { e =>
        val p = e.getProperty(key)
        p != null && start.compareTo(p) <= 0 && stop.compareTo(p) > 0
      }
      this
    }
    def limit(n: Int): VertexQuery = { max = n; this }

    def edges(): Seq[EdgeHandle] =
      v.getEdges(dir, labelSet: _*).filter(e => preds.forall(_(e))).take(max)
    def vertices(): Seq[VertexHandle] =
      edges().map(e => if (e.getVertex("out").id == v.id) e.getVertex("in") else e.getVertex("out"))
    def count(): Long = edges().size.toLong
  }

  // ---- graph-level API (§2.1 / §2.2) ----

  def addVertex(): VertexHandle = {
    val id = log.newEntityId()
    buffer += Fact.of(id, A.ElementType, A.Vertex, 0L)
    transact() // addVertex touches nothing (FluxGraph.java:172-184)
    new VertexHandle(id)
  }

  def addEdge(outV: VertexHandle, inV: VertexHandle, label: String): EdgeHandle = {
    require(!outV.isDeleted && !inV.isDeleted,
      "It is not possible to create an edge on a deleted vertex")
    val id = log.newEntityId()
    buffer += Fact.of(id, A.ElementType, A.Edge, 0L)
    buffer += Fact.of(id, A.EdgeLabel, label, 0L)
    buffer += Fact.ref(id, A.EdgeOut, outV.id, 0L)
    buffer += Fact.ref(id, A.EdgeIn, inV.id, 0L)
    touch(inV.id, outV.id) // versions both endpoints (FluxGraph.java:157)
    transact()
    new EdgeHandle(id)
  }

  def getVertex(id: Long): VertexHandle = {
    val h = new VertexHandle(id)
    if (h.isDeleted) null else h
  }
  def getEdge(id: Long): EdgeHandle = {
    val h = new EdgeHandle(id)
    if (h.isDeleted) null else h
  }

  def getVertices(): Seq[VertexHandle] =
    liveFacts(Long.MaxValue)
      .filter(f => f.attr == A.ElementType && f.vStr == A.Vertex)
      .map(f => new VertexHandle(f.e))
  def getEdges(): Seq[EdgeHandle] =
    liveFacts(Long.MaxValue)
      .filter(f => f.attr == A.ElementType && f.vStr == A.Edge)
      .map(f => new EdgeHandle(f.e))

  /** Attribute-value scan (FluxGraph.java:206-209, FluxIndex.java:60-126).
    * key "label" fast-path hits the dedicated edge-label attribute. */
  def getVertices(key: String, value: Any): Seq[VertexHandle] =
    getVertices().filter(_.getProperty(key) == value)
  def getEdges(key: String, value: Any): Seq[EdgeHandle] =
    if (key == "label") getEdges().filter(_.getLabel == value)
    else getEdges().filter(_.getProperty(key) == value)
  /** FluxIndex.count (FluxIndex.java:94-115). Set-oriented: ONE pass over
    * the live facts instead of materializing handles and re-deriving each
    * element's facts (that path is O(elements × log) and becomes a driver
    * collect if the facade is ever backed by a bulk store). */
  def countVertices(key: String, value: Any): Long = countElements(A.Vertex, key, value)
  def countEdges(key: String, value: Any): Long =
    if (key == "label") // label fast-path: only edges carry EdgeLabel
      liveFacts(Long.MaxValue).count(f => f.attr == A.EdgeLabel && f.vStr == value)
    else countElements(A.Edge, key, value)

  private def countElements(kind: String, key: String, value: Any): Long = {
    val live = liveFacts(Long.MaxValue)
    val ids = live.iterator
      .collect { case f if f.attr == A.ElementType && f.vStr == kind => f.e }.toSet
    val latestByElem = live.iterator
      .filter(f => ids(f.e) && !A.reserved(f.attr) &&
        AttrCodec.decode(f.attr) == key && f.attr.endsWith("." + kind))
      .toSeq.groupBy(_.e)
      .map { case (e, fs) => e -> decodeValue(fs.maxBy(f => (f.tx, f.seq))) }
    if (value == null) (ids.size - latestByElem.size).toLong // getProperty null = key absent
    else latestByElem.valuesIterator.count(_ == value).toLong
  }

  def removeEdge(edge: EdgeHandle): Unit = { removeEdgeImpl(edge); transact() }

  private def removeEdgeImpl(edge: EdgeHandle): Unit = {
    val inV = edge.getVertex("in").id
    val outV = edge.getVertex("out").id
    retractEntity(edge.id)
    touch(edge.id, inV, outV) // (FluxGraph.java:363)
  }

  /** Cascading removal: incident edges first, then the vertex, ONE commit
    * (FluxGraph.java:371-387). */
  def removeVertex(v: VertexHandle): Unit = {
    v.getEdges("both").distinct.foreach(removeEdgeImpl)
    retractEntity(v.id)
    touch(v.id)
    transact()
  }

  /** Remove every vertex (cascades to all edges) in one commit
    * (FluxGraph.java:306-312). */
  def clear(): Unit = {
    val (_, _) = inTx {
      getVertices().foreach { v =>
        v.getEdges("both").distinct.foreach(removeEdgeImpl)
        retractEntity(v.id)
        touch(v.id)
      }
    }
  }

  private def retractEntity(e: Long): Unit =
    liveFactsOf(e, Long.MaxValue).foreach { f =>
      buffer += f.copy(tx = 0L, seq = 0L, added = false)
    }

  /** Blueprints Features flags (FluxGraph.java:48-82 FEATURES) — the TCK
    * reads these to decide which suites apply. Divergences from the
    * reference are deliberate and noted inline. */
  def getFeatures: GraftGraph.Features.type = GraftGraph.Features

  /** Read-only index handle (FluxIndex.java:25-124): get/count ride the
    * attribute-value scan (with the edge-label fast path); put/remove/
    * query throw UnsupportedOperationException exactly like the reference
    * (FluxIndex.java:56-58,89-92,117-119). */
  final class Index(val name: String, val kind: String) {
    def get(key: String, value: Any): Seq[Elem] =
      if (kind == A.Vertex) getVertices(key, value) else getEdges(key, value)
    def count(key: String, value: Any): Long =
      if (kind == A.Vertex) countVertices(key, value) else countEdges(key, value)
    def put(key: String, value: Any, element: Elem): Unit =
      throw new UnsupportedOperationException("Manual index mutation is not supported")
    def remove(key: String, value: Any, element: Elem): Unit =
      throw new UnsupportedOperationException("Manual index mutation is not supported")
    def query(key: String, q: Any): Nothing =
      throw new UnsupportedOperationException("Index query is not supported")
  }
  def index(name: String, kind: String): Index = new Index(name, kind)

  // ---- key-index registry (§2.8; FluxGraph.java:287-300) ----
  private val keyIndexes = mutable.Set.empty[(String, String)]
  def createKeyIndex(key: String, kind: String): Unit = keyIndexes += (key -> kind)
  def dropKeyIndex(key: String, kind: String): Unit = keyIndexes -= (key -> kind)
  def getIndexedKeys(kind: String): Set[String] =
    keyIndexes.collect { case (k, kd) if kd == kind => k }.toSet

  // ---- temporal graph API (§2.6) ----

  /** Resolve a wall-clock date to the max tx ≤ it (setCheckpointTime,
    * FluxGraph.java:224-243) and hand back a pinned read view. */
  def asOf(d: Timestamp): GraphView = new GraphView(log.resolveTx(d))
  def asOfTx(tx: Long): GraphView = new GraphView(tx)

  /** Pinned read-only view (explicit value instead of the reference's
    * ThreadLocal checkpoint — FluxGraph.java:216-222). */
  final class GraphView(val tx: Long) {
    def vertex(id: Long): VertexHandle = {
      val h = new VertexHandle(id, tx)
      if (h.isDeleted) null else h
    }
    def edge(id: Long): EdgeHandle = {
      val h = new EdgeHandle(id, tx)
      if (h.isDeleted) null else h
    }
    def vertices: Seq[VertexHandle] =
      liveFacts(tx).filter(f => f.attr == A.ElementType && f.vStr == A.Vertex)
        .map(f => new VertexHandle(f.e, tx))
    def edges: Seq[EdgeHandle] =
      liveFacts(tx).filter(f => f.attr == A.ElementType && f.vStr == A.Edge)
        .map(f => new EdgeHandle(f.e, tx))
  }

  /** Facts present at d1 but NOT at d2, over the working set — the
    * difference graph (FluxGraph.java:250-273, FluxUtil.java:241-319).
    * Keeps structural facts of surviving elements, drops orphaned
    * element-type facts (normalize), and records original ids. Reads
    * only the working set's entities, through the entity index.
    *
    * This is the driver-side shortcut for interactive (TCK-scale) graphs;
    * the set-oriented engine path over ANY store — including a
    * parquet-backed bulk log — is [[DiffGraph.of]] /
    * [[graft.snapshot.Snapshot.differenceFacts]], with identical
    * semantics (asserted by TemporalSpec parity). */
  def difference(workingSet: Seq[Long], d1: Timestamp, d2: Timestamp): DiffGraph = {
    val (t1, t2) = (log.resolveTx(d1), log.resolveTx(d2))
    val kept = workingSet.distinct.flatMap { e =>
      val f1 = liveFactsOf(e, t1)
      val k2 = liveFactsOf(e, t2).map(valueKey).toSet
      val changed = f1.filter(f => f.attr != A.ElementType && !k2(valueKey(f)))
      // normalize: an element whose ONLY remaining fact is the type fact
      // is dropped; a surviving one keeps its type fact
      if (changed.isEmpty) Nil else f1.filter(_.attr == A.ElementType) ++ changed
    }
    DiffGraph.fromFacts(log.spark, kept)
  }

  /** Per-element difference of two version handles (FluxGraph.java:275-280). */
  def difference(e1: Elem, e2: Elem): Seq[Fact] = {
    val k2 = e2.facts.map(valueKey).toSet
    e1.facts.filterNot(f => k2(valueKey(f)))
  }

  /** A fact's identity within one element: attribute plus value (tx is
    * provenance, not identity). */
  private def valueKey(f: Fact) =
    (f.attr, f.vStr, f.vLong, f.vDouble, f.vDec, f.vBool, f.vTs, f.vRef)

  // ---- internal driver-side reads over the log ----

  private case class EdgeRec(id: Long, label: String, outV: Long, inV: Long)

  /** Uncommitted buffered facts, made visible to current-view reads while
    * batching (stamped one past the head so latest-wins sees them last) —
    * otherwise an element created inside inTx looks deleted to validate()
    * and can't be used until the commit. Package-visible so a whole-log
    * reference can replay head reads made inside a batch. */
  private[graft] def pendingFacts: Seq[Fact] =
    if (buffer.isEmpty) Nil
    else buffer.toSeq.zipWithIndex.map { case (f, i) =>
      f.copy(tx = log.headTx + 1, seq = i.toLong)
    }

  /** Latest-wins over facts in (tx, seq) order — the log's append order,
    * with pending facts last: the last fact per (e, attr), retractions
    * dropped. */
  private def latestWins(fs: Iterator[Fact]): Seq[Fact] = {
    val last = mutable.LinkedHashMap.empty[(Long, String), Fact]
    fs.foreach(f => last((f.e, f.attr)) = f)
    last.valuesIterator.filter(_.added).toSeq
  }

  /** Whole-graph live facts: a scan of the log. */
  private def liveFacts(asOf: Long): Seq[Fact] =
    if (asOf == Long.MaxValue) latestWins(log.allFacts.iterator ++ pendingFacts)
    else latestWins(log.allFacts.iterator.filter(_.tx <= asOf))

  /** One element's live facts: an entity-index read, O(history of e). */
  private def liveFactsOf(e: Long, asOf: Long): Seq[Fact] =
    if (asOf == Long.MaxValue)
      latestWins(log.factsOf(e).iterator ++ pendingFacts.filter(_.e == e))
    else latestWins(log.factsOf(e).iterator.filter(_.tx <= asOf))

  /** Bulk edge read for whole-graph writers: the live edge ids from one
    * scan, each resolved from its own facts. */
  private[graft] def edgeTuples(): Seq[(Long, String, Long, Long)] =
    getEdges().flatMap(e => edgeRec(e.id, Long.MaxValue))
      .map(r => (r.id, r.label, r.outV, r.inV))

  /** Label and endpoints of edge `e` live at `asOf`, from the edge's own
    * facts; None when `e` is not a live edge there. */
  private def edgeRec(e: Long, asOf: Long): Option[EdgeRec] = {
    val fs = liveFactsOf(e, asOf)
    def get(attr: String) = fs.find(_.attr == attr)
    for {
      _ <- fs.find(f => f.attr == A.ElementType && f.vStr == A.Edge)
      label <- get(A.EdgeLabel).map(_.vStr)
      out <- get(A.EdgeOut).map(_.vRef.longValue)
      in <- get(A.EdgeIn).map(_.vRef.longValue)
    } yield EdgeRec(e, label, out, in)
  }

  /** Edges live at `asOf` that may touch vertex `v`: reference-index
    * candidates (plus, at head, edges referencing `v` in the pending
    * buffer), each checked live; callers match the endpoint side. */
  private def incidentEdges(v: Long, asOf: Long): Seq[EdgeRec] = {
    val pending =
      if (asOf != Long.MaxValue) Nil
      else buffer.iterator.collect {
        case f if (f.attr == A.EdgeOut || f.attr == A.EdgeIn) && f.vRef == v => f.e
      }.toSeq
    (log.edgesReferencing(v) ++ pending).distinct.flatMap(edgeRec(_, asOf))
  }

  private def timeIdOf(e: Long, asOf: Long): Long =
    if (asOf == Long.MaxValue) log.timeIdOf(e).getOrElse(-1L)
    else log.timeIdAt(e, asOf)

  /** Decode a fact's value back to the reference's surface type.
    * Integer-typed writes come back as Long (Datomic :db.type/long
    * round-trip, FluxUtil.java:26); Float comes back as Float. */
  private def decodeValue(f: Fact): Any = {
    val tName = {
      val parts = f.attr.split('.')
      if (parts.length >= 2) parts(parts.length - 2) else "string"
    }
    tName match {
      case "string"  => f.vStr
      case "uuid"    => java.util.UUID.fromString(f.vStr)
      case "uri"     => java.net.URI.create(f.vStr)
      case "boolean" => f.vBool
      case "long"    => f.vLong
      case "bigint"  => f.vDec.toBigInteger
      case "float"   => java.lang.Float.valueOf(f.vDouble.floatValue)
      case "double"  => f.vDouble
      case "bigdec"  => f.vDec
      case "ts"      => f.vTs
      case _         => f.vStr
    }
  }
}

object GraftGraph {
  /** Blueprints Features flags, value-for-value from the reference
    * (FluxGraph.java:48-82) except where graft genuinely differs:
    * isPersistent is true here (FactLog.save/open persists the log;
    * the reference's false reflects its in-mem Datomic default). */
  object Features {
    val supportsDuplicateEdges = true   // FluxGraph.java:51
    val supportsSelfLoops = true        // FluxGraph.java:52
    val isPersistent = true             // divergence: FactLog.save/open
    val supportsVertexIteration = true
    val supportsEdgeIteration = true
    val ignoresSuppliedIds = true       // FluxGraph.java:59
    val supportsEdgeRetrieval = true
    val supportsVertexProperties = true
    val supportsEdgeProperties = true
    val supportsTransactions = false    // auto-commit per op (FluxGraph.java:63)
    val supportsIndices = false         // manual indices unsupported (FluxIndex stubs)
    val supportsKeyIndices = true       // FluxGraph.java:79-81
    val supportsVertexKeyIndex = true
    val supportsEdgeKeyIndex = true
    val supportsBooleanProperty = true
    val supportsDoubleProperty = true
    val supportsFloatProperty = true
    val supportsIntegerProperty = true
    val supportsLongProperty = true
    val supportsStringProperty = true
    val supportsSerializableObjectProperty = false
    val supportsPrimitiveArrayProperty = false
    val supportsUniformListProperty = false
    val supportsMixedListProperty = false
    val supportsMapProperty = false
    val supportsThreadedTransactions = false
  }
}

/** Read-only graph materialized from difference facts
  * (ImmutableFluxGraph.java:19-109): mutations absent by construction.
  *
  * DataFrame-backed: [[factsDF]] is the authoritative content (a valid
  * fact-log slice — at 100 TB the diff of two snapshots never lands on the
  * driver), and [[asStore]] lifts it into a [[graft.log.BulkFactStore]] so
  * the full set-oriented read stack (Snapshot views, SnapshotGraphView
  * handles) queries a diff exactly like any other graph — the reference
  * seeds a fresh in-mem Datomic db for the same purpose. The `Seq`-returning
  * accessors ([[facts]], [[vertexIds]], [[props]], …) are driver
  * conveniences for TCK-scale diffs and collect once, lazily. */
final class DiffGraph private (
    val spark: org.apache.spark.sql.SparkSession,
    mkDF: () => org.apache.spark.sql.DataFrame,
    seed: Option[Seq[Fact]]) {

  lazy val factsDF: org.apache.spark.sql.DataFrame = mkDF()

  /** Driver-side view of the diff facts (collects when DataFrame-backed). */
  lazy val facts: Seq[Fact] = seed.getOrElse {
    import spark.implicits._
    factsDF.as[Fact].collect().toSeq
  }

  /** Lift into the standard engine stack. Diff facts are one row per
    * (e, attr) by construction (both inputs were latest-wins deduped), so
    * the store is preDeduped and snapshot reads over it skip the
    * latest-wins shuffle entirely. */
  def asStore: graft.log.BulkFactStore =
    graft.log.BulkFactStore.singleTx(spark, factsDF, preDeduped = true)
  /** Back-compat overload (the session is fixed at construction). */
  def asStore(spark: org.apache.spark.sql.SparkSession): graft.log.BulkFactStore = asStore

  def elementIds: Seq[Long] = facts.map(_.e).distinct.sorted
  def vertexIds: Seq[Long] =
    facts.collect { case f if f.attr == A.ElementType && f.vStr == A.Vertex => f.e }.distinct.sorted
  def edgeIds: Seq[Long] =
    facts.collect { case f if f.attr == A.ElementType && f.vStr == A.Edge => f.e }.distinct.sorted
  /** Property values in the diff for (element, key). */
  def props(e: Long, key: String): Seq[Any] =
    facts.filter(f => f.e == e && !A.reserved(f.attr) &&
      AttrCodec.decode(f.attr) == key).map { f =>
      Seq[Any](f.vStr, f.vLong, f.vDouble, f.vDec, f.vBool, f.vTs, f.vRef)
        .find(_ != null).orNull
    }
}

object DiffGraph {
  /** Driver-path constructor (small graphs — the interactive API). */
  def fromFacts(spark: org.apache.spark.sql.SparkSession, facts: Seq[Fact]): DiffGraph =
    new DiffGraph(spark, () => {
      import spark.implicits._
      spark.createDataset(facts).toDF()
    }, Some(facts))

  /** The engine-API difference over ANY [[graft.log.FactStore]]: facts
    * live in `s1` but absent from `s2` (FluxGraph.java:250-273), lazily
    * computed as a set-oriented anti-join ([[graft.snapshot.Snapshot
    * .differenceFacts]]) — works unchanged on a parquet-backed 100 TB log. */
  def of(s1: graft.snapshot.Snapshot, s2: graft.snapshot.Snapshot,
         workingSet: Option[org.apache.spark.sql.DataFrame] = None): DiffGraph =
    new DiffGraph(s1.store.spark, () => s1.differenceFacts(s2, workingSet), None)
}
