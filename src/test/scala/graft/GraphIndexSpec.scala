package graft

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraftGraph
import graft.log.MemFactLog
import graft.model.{A, AttrCodec, Fact, TxMeta}

/** The interactive graph's per-element reads go through the fact log's
  * entity and reference indexes and its instant staircase. These specs
  * hold them to a brute-force whole-log reference kept here: latest-wins
  * over every fact, edge records over every live fact, and a linear
  * max-tx scan, on seeded random histories. */
class GraphIndexSpec extends AnyFunSuite {
  import GraphIndexSpec._

  private val Base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def minute(i: Int) = new Timestamp(Base + i * 60000L)

  test("resolveTx staircase equals the linear scan on backdated histories") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val log = new MemFactLog(TestSpark.spark)
      assert(log.resolveTx(minute(0)) == -1L)
      // probes: before the first instant, on every instant (ties), between
      // instants, and after the last one
      val probes = (-2 to 42).map(minute) ++
        (-2 to 42).map(i => new Timestamp(Base + i * 60000L + 30000L))
      (1 to 300).foreach { n =>
        // 40 distinct instants over 300 txs: many ties, commits out of order
        log.commit(Nil, at = Some(minute(rnd.nextInt(40))))
        if (n % 25 == 0 || n < 5)
          probes.foreach { at =>
            assert(log.resolveTx(at) == linearResolve(log.allTxs, at),
              s"seed=$seed txs=$n at=$at")
          }
      }
    }
  }

  test("indexed element reads equal the whole-log reference on random op sequences") {
    for (seed <- Seq(11L, 23L, 42L)) parityRun(seed, nOps = 160)
  }

  private def parityRun(seed: Long, nOps: Int): Unit = {
    val g = new GraftGraph(TestSpark.spark)
    val rnd = new Random(seed)
    val ids = mutable.ArrayBuffer.empty[Long]
    def head = new Ref(g.log.allFacts ++ g.pendingFacts)
    def pick(xs: Seq[Long]): Option[Long] =
      if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
    def value(): Any = rnd.nextInt(4) match {
      case 0 => java.lang.Long.valueOf(rnd.nextInt(5).toLong)
      case 1 => s"s${rnd.nextInt(5)}"
      case 2 => java.lang.Double.valueOf(rnd.nextInt(5) / 2.0)
      case _ => java.lang.Boolean.valueOf(rnd.nextBoolean())
    }
    def handle(id: Long, r: Ref): g.Elem =
      if (r.kindOf(id).contains(A.Edge)) g.getEdge(id) else g.getVertex(id)

    def op(): Unit = {
      val r = head
      rnd.nextInt(10) match {
        case 0 | 1 => ids += g.addVertex().id
        case 2 | 3 =>
          for (a <- pick(r.vertices); b <- pick(r.vertices))
            ids += g.addEdge(g.getVertex(a), g.getVertex(b), Labels(rnd.nextInt(Labels.size))).id
        case 4 | 5 =>
          pick(r.vertices ++ r.edgeIds).foreach(e =>
            handle(e, r).setProperty(Keys(rnd.nextInt(Keys.size)), value()))
        case 6 =>
          pick(r.vertices ++ r.edgeIds).foreach(e =>
            handle(e, r).removeProperty(Keys(rnd.nextInt(Keys.size))))
        case 7 | 8 => pick(r.edgeIds).foreach(e => g.removeEdge(g.getEdge(e)))
        case _ => pick(r.vertices).foreach(v => g.removeVertex(g.getVertex(v)))
      }
    }

    (1 to nOps).foreach { n =>
      g.setTransactionTime(minute(rnd.nextInt(30)))
      if (rnd.nextInt(8) == 0) {
        // a batch, read at head after every buffered op
        g.inTx {
          (0 until 2 + rnd.nextInt(3)).foreach { _ =>
            op()
            checkReads(g, ids.toSeq, Long.MaxValue, s"seed=$seed op=$n inTx")
          }
        }
      } else op()
      if (n % 10 == 0) {
        checkReads(g, ids.toSeq, Long.MaxValue, s"seed=$seed op=$n head")
        val pin = rnd.nextInt(g.log.headTx.toInt + 2) - 1L
        checkReads(g, ids.toSeq, pin, s"seed=$seed op=$n pin=$pin")
        val at = minute(rnd.nextInt(34) - 2)
        val view = g.asOf(at)
        assert(view.tx == linearResolve(g.log.allTxs, at))
        checkReads(g, ids.toSeq, view.tx, s"seed=$seed op=$n asOf=$at")
        (0 until 3).foreach { _ =>
          val ws = Seq.fill(1 + rnd.nextInt(6))(ids(rnd.nextInt(ids.size)))
          val (d1, d2) = (minute(rnd.nextInt(34) - 2), minute(rnd.nextInt(34) - 2))
          val got = g.difference(ws, d1, d2).facts
          val want = refDifference(g.log.allFacts, g.log.allTxs, ws, d1, d2)
          assert(got.size == want.size && got.toSet == want,
            s"seed=$seed op=$n difference ws=$ws d1=$d1 d2=$d2")
        }
      }
    }
    assert(g.log.allFacts.exists(!_.added), s"seed=$seed: history has no retraction")
  }

  /** Every per-element read of every element ever created, at `pin`
    * (Long.MaxValue = head, pending batch facts included). */
  private def checkReads(g: GraftGraph, ids: Seq[Long], pin: Long, ctx: String): Unit = {
    val r =
      if (pin == Long.MaxValue) new Ref(g.log.allFacts ++ g.pendingFacts)
      else new Ref(g.log.allFacts.filter(_.tx <= pin))
    ids.foreach { id =>
      val kind = r.kindOf(id)
      val h: g.Elem =
        if (kind.contains(A.Edge)) new g.EdgeHandle(id, pin) else new g.VertexHandle(id, pin)
      assert(h.isDeleted == r.live(id).isEmpty, s"$ctx isDeleted($id)")
      if (pin != Long.MaxValue)
        assert((g.asOfTx(pin).vertex(id) == null) == r.live(id).isEmpty, s"$ctx view.vertex($id)")
      kind.foreach { k =>
        assert(h.getPropertyKeys == r.keys(id), s"$ctx keys($id)")
        Keys.foreach(key => assert(h.getProperty(key) == r.prop(id, k, key), s"$ctx $id.$key"))
      }
      h match {
        case v: g.VertexHandle if kind.contains(A.Vertex) =>
          for (dir <- Seq("out", "in", "both"); ls <- LabelSets) {
            assert(v.getEdges(dir, ls: _*).map(_.id).sorted == r.incident(id, dir, ls).sorted,
              s"$ctx getEdges($id, $dir, $ls)")
            assert(v.getVertices(dir, ls: _*).map(_.id).sorted == r.neighbors(id, dir, ls).sorted,
              s"$ctx getVertices($id, $dir, $ls)")
          }
        case e: g.EdgeHandle if kind.contains(A.Edge) =>
          r.edges.get(id) match {
            case Some((label, out, in)) =>
              assert((e.getLabel, e.getVertex("out").id, e.getVertex("in").id) == ((label, out, in)),
                s"$ctx edge($id)")
            case None => intercept[NoSuchElementException](e.getLabel)
          }
        case _ =>
      }
    }
  }

  test("50k-fact log: 1,000 endpoint reads + removeEdge stay index-backed") {
    val g = new GraftGraph(TestSpark.spark)
    val log = g.log
    val rnd = new Random(5)
    // build the log through log.commit (each commit is O(1)): 2,000
    // vertices with two properties each, 11,000 edges
    val vs = (0 until 2000).map { i =>
      val v = log.newEntityId()
      log.commit(Seq(Fact.of(v, A.ElementType, A.Vertex, 0L)))
      log.commit(Seq(Fact.of(v, "name.string.vertex", s"v$i", 0L),
        Fact.of(v, "score.long.vertex", java.lang.Long.valueOf(i.toLong), 0L)), touched = Seq(v))
      v
    }
    val es = (0 until 11000).map { i =>
      val (a, b) = (vs(rnd.nextInt(vs.size)), vs(rnd.nextInt(vs.size)))
      val e = log.newEntityId()
      log.commit(Seq(Fact.of(e, A.ElementType, A.Edge, 0L),
        Fact.of(e, A.EdgeLabel, Labels(i % Labels.size), 0L),
        Fact.ref(e, A.EdgeOut, a, 0L), Fact.ref(e, A.EdgeIn, b, 0L)), touched = Seq(b, a))
      e
    }
    assert(log.allFacts.size == 50000)
    val t0 = System.nanoTime()
    es.take(1000).foreach { e =>
      val h = g.getEdge(e)
      assert(h.getVertex("in") != null)
      g.removeEdge(h)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(g.getEdge(es.head) == null && g.getEdge(es(1000)) != null)
    assert(secs < 20.0, s"1,000 getEdge+getVertex+removeEdge took ${secs}s — " +
      "per-element reads degraded to a full-log scan")
  }
}

object GraphIndexSpec {
  val Labels = Seq("l0", "l1", "l2")
  val Keys = Seq("p", "q")
  val LabelSets = Seq(Seq.empty[String], Seq("l0"), Seq("l0", "l1"))

  /** Max tx whose instant ≤ `at` by a scan of every tx; -1 when none. */
  def linearResolve(txs: Seq[TxMeta], at: Timestamp): Long =
    txs.iterator.filter(!_.txInstant.after(at)).map(_.tx).foldLeft(-1L)(math.max)

  /** Whole-log reads over `facts` (already cut to the view). */
  final class Ref(facts: Seq[Fact]) {
    private val liveByE: Map[Long, Seq[Fact]] =
      facts.groupBy(f => (f.e, f.attr)).valuesIterator
        .map(_.maxBy(f => (f.tx, f.seq))).filter(_.added).toSeq.groupBy(_.e)
    def live(e: Long): Seq[Fact] = liveByE.getOrElse(e, Nil)
    def kindOf(e: Long): Option[String] = live(e).find(_.attr == A.ElementType).map(_.vStr)
    def vertices: Seq[Long] = liveByE.keys.filter(kindOf(_).contains(A.Vertex)).toSeq.sorted
    /** Edge records of every live edge: id → (label, outV, inV). */
    val edges: Map[Long, (String, Long, Long)] = liveByE.flatMap { case (e, fs) =>
      for {
        _ <- fs.find(f => f.attr == A.ElementType && f.vStr == A.Edge)
        label <- fs.find(_.attr == A.EdgeLabel).map(_.vStr)
        out <- fs.find(_.attr == A.EdgeOut).map(_.vRef.longValue)
        in <- fs.find(_.attr == A.EdgeIn).map(_.vRef.longValue)
      } yield e -> ((label, out, in))
    }
    def edgeIds: Seq[Long] = edges.keys.toSeq.sorted
    def incident(v: Long, dir: String, labels: Seq[String]): Seq[Long] = {
      def side(out: Boolean) = edges.collect {
        case (e, (l, o, i)) if (if (out) o else i) == v &&
          (labels.isEmpty || labels.contains(l)) => e
      }.toSeq
      dir match {
        case "out" => side(true)
        case "in" => side(false)
        case "both" => side(true) ++ side(false)
      }
    }
    def neighbors(v: Long, dir: String, labels: Seq[String]): Seq[Long] = {
      val out = incident(v, "out", labels).map(e => edges(e)._3)
      val in = incident(v, "in", labels).map(e => edges(e)._2)
      dir match {
        case "out" => out
        case "in" => in
        case "both" => out ++ in
      }
    }
    def keys(e: Long): Set[String] =
      live(e).filterNot(f => A.reserved(f.attr)).flatMap(f => Option(AttrCodec.decode(f.attr))).toSet
    def prop(e: Long, kind: String, key: String): Any =
      live(e).filter(f => !A.reserved(f.attr) && AttrCodec.decode(f.attr) == key &&
        f.attr.endsWith("." + kind))
        .sortBy(f => (f.tx, f.seq)).lastOption.map { f =>
          f.attr.split('.').reverse(1) match {
            case "long" => f.vLong
            case "double" => f.vDouble
            case "boolean" => f.vBool
            case _ => f.vStr
          }
        }.orNull
  }

  /** The difference graph by whole-log latest-wins at both linearly
    * resolved pins. */
  def refDifference(facts: Seq[Fact], txs: Seq[TxMeta], workingSet: Seq[Long],
                    d1: Timestamp, d2: Timestamp): Set[Fact] = {
    val ws = workingSet.toSet
    def liveAt(t: Long) =
      facts.filter(f => f.tx <= t && ws(f.e)).groupBy(f => (f.e, f.attr)).valuesIterator
        .map(_.maxBy(f => (f.tx, f.seq))).filter(_.added).toSeq
    val key = (f: Fact) => (f.e, f.attr, f.vStr, f.vLong, f.vDouble, f.vDec, f.vBool, f.vTs, f.vRef)
    val k2 = liveAt(linearResolve(txs, d2)).map(key).toSet
    val diff = liveAt(linearResolve(txs, d1)).filterNot(f => f.attr != A.ElementType && k2(key(f)))
    diff.groupBy(_.e).valuesIterator
      .filter(_.exists(_.attr != A.ElementType)).flatten.toSet
  }
}
