package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraftGraph
import graft.gx.GraphXTraversal
import graft.log.{BulkFactStore, FactLog}
import graft.model.{A, PropType}
import graft.pipeline.{TextOps, VectorOps}
import graft.projection.{EventsReplay, TpchGraph}
import graft.snapshot.Snapshot
import graft.temporal.VersionChains

/** One request: its operation type, its generated parameters (for the run
  * record) and the calls it makes. `check`, when given, verifies the answer
  * the request last produced. */
final case class Req(op: String, params: String, run: () => Unit,
                     check: Option[() => Check] = None)

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload drives graft's layers only through their public functions.
  * Parameters come from the random source it is handed, so a seed fixes
  * every request; the program receives only the generated values. */
trait Workload {
  def opTypes: Seq[String]
  /** The operation types one loop cycle sends, in some seeded order. */
  def cycle: Seq[String] = opTypes
  /** The layer group whose latency an operation type reports under. */
  def opClass(op: String): String
  /** Builds the stores and indexes requests read, in a fresh session. */
  def setup(spark: SparkSession): Unit
  def request(op: String, rnd: SplittableRandom): Req
  /** Correctness checks beyond the requests' own, run after the timed window. */
  def checks(rnd: SplittableRandom): Seq[Check] = Nil
  /** Sizes the program built during set-up (facts, preload), for the record. */
  def built: Map[String, Any] = Map.empty
}

object Workload {
  /** Consumes every column of a lazy frame without collecting it. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def check(name: String)(body: => (Boolean, String)): Check =
    try { val (ok, d) = body; Check(name, ok, d) }
    catch { case e: Throwable => Check(name, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Distinct word 3-gram shingles, tokenized as graft's TextOps.tokens. */
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  /** A pin for a check in (lo, hi]. A check compares two non-empty answers,
    * so its pins avoid the first tenth of a history, where a few early
    * transactions leave both answers empty. */
  def pinIn(rnd: SplittableRandom, lo: Long, hi: Long): Long = lo + 1 + rnd.nextLong(hi - lo)

  /** Well-spread draws in [0, 1) per key: a seeded offset stepped by the
    * golden ratio, so a run's few requests of one type cover the range
    * evenly and their cost varies less from seed to seed than with
    * independent draws. */
  final class Spread {
    private val state = mutable.Map.empty[String, (Double, Int)]
    def next(key: String, rnd: SplittableRandom): Double = {
      val (offset, k) = state.getOrElseUpdate(key, (rnd.nextDouble(), 0))
      state(key) = (offset, k + 1)
      val x = offset + k * 0.6180339887498949
      x - math.floor(x)
    }
  }

  /** Multiset equality of two small frames, compared on the driver. */
  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    def bag(df: DataFrame) = df.collect().groupBy(_.toSeq).map { case (k, v) => k -> v.length }
    val (x, y) = (bag(a), bag(b))
    val n = x.values.sum
    (x == y && n > 0, s"rows=$n equal=${x == y}")
  }
}

import Workload._

/** Several workloads run as one: their operation types form one cycle and
  * each part sets itself up in the same session. */
final class Mixed(parts: Workload*) extends Workload {
  val opTypes = parts.flatMap(_.opTypes)
  override def cycle: Seq[String] = parts.flatMap(_.cycle)
  def setup(spark: SparkSession): Unit = parts.foreach(_.setup(spark))
  private def part(op: String) = parts.find(_.opTypes.contains(op)).get
  def opClass(op: String): String = part(op).opClass(op)
  def request(op: String, rnd: SplittableRandom): Req = part(op).request(op, rnd)
  override def checks(rnd: SplittableRandom): Seq[Check] = parts.flatMap(_.checks(rnd))
  override def built: Map[String, Any] = parts.map(_.built).reduce(_ ++ _)
}

/** Time-travel reads on a durable, tx-bucketed events log. Nothing is
  * cached, so every request scans the log. */
final class AsofReads(dir: String, work: String, tr: Tracer,
                      tsMinUs: Long, tsMaxUs: Long, users: Int) extends Workload {
  val opTypes = Seq("asof_prop", "diff", "since", "chain")
  def opClass(op: String) = "log_snapshot"
  private val BucketTx = 2500L
  private var spark: SparkSession = _
  private var root = ""
  private var reps = 0
  private var log: BulkFactStore = _
  private var head: Snapshot = _
  private var headTx = 0L

  def setup(s: SparkSession): Unit = {
    spark = s; reps += 1; root = s"$work/store$reps"
    val store = tr.span("projection", "EventsReplay.build")(EventsReplay.build(s, dir))
    tr.span("log", "BulkFactStore.save")(store.save(root, BucketTx))
    log = tr.span("log", "FactLog.open")(FactLog.open(s, root))
    head = Snapshot.head(log)
    headTx = tr.span("log", "headTx")(log.headTx)
  }

  override def built: Map[String, Any] = Map("facts" -> log.factsDF.count(), "head_tx" -> headTx)

  private val spread = new Spread
  private def instant(u: Double): Timestamp =
    new Timestamp((tsMinUs + (u * (tsMaxUs - tsMinUs)).toLong) / 1000)

  private def resolve(at: Timestamp): Long = tr.span("log", "resolveTx")(log.resolveTx(at))

  private def values(s: Snapshot): DataFrame =
    s.prop("value", PropType.PDouble, A.Vertex)
      .join(s.prop("last_type", PropType.PString, A.Vertex).withColumnRenamed("v", "type"), "e")

  def request(op: String, rnd: SplittableRandom): Req = op match {
    case "asof_prop" =>
      val at = instant(spread.next(op, rnd))
      Req(op, s"at=$at", () => {
        val tx = resolve(at)
        val df = tr.span("snapshot", "asOfTxId.prop-join-prop")(values(head.asOfTxId(tx)))
        tr.sink("snapshot", df)
      })
    case "diff" =>
      val hi = spread.next(op, rnd)
      val (t1, t2) = (instant(hi * rnd.nextDouble()), instant(hi))
      Req(op, s"from=$t1 to=$t2", () => {
        val (x1, x2) = (resolve(t1), resolve(t2))
        val df = tr.span("snapshot", "differenceFacts")(
          head.asOfTxId(x2).differenceFacts(head.asOfTxId(x1)))
        tr.sink("snapshot", df)
      })
    case "since" =>
      val t = (spread.next(op, rnd) * headTx).toLong
      Req(op, s"tx=$t", () => {
        val df = tr.span("snapshot", "since")(head.since(t))
        tr.sink("snapshot", df)
      })
    case "chain" =>
      val e = EventsReplay.VUser + rnd.nextInt(users)
      Req(op, s"e=$e", () => {
        val df = tr.span("temporal", "VersionChains.chains")(
          VersionChains.chains(log).where(col("e") === e))
        tr.sink("temporal", df)
      })
  }

  override def checks(rnd: SplittableRandom): Seq[Check] = {
    val pins = Seq(pinIn(rnd, headTx / 10, headTx / 2), pinIn(rnd, headTx / 2, headTx))
    val reopened = Snapshot.head(FactLog.open(spark, root))
    val replay = EventsReplay.snapshot(spark, dir)
    val pin = pinIn(rnd, headTx / 10, headTx)
    Seq(
      check("fused diff = general diff over a second open of the log")(sameRows(
        head.asOfTxId(pins(1)).differenceFacts(head.asOfTxId(pins(0))),
        head.asOfTxId(pins(1)).differenceFacts(reopened.asOfTxId(pins(0))))),
      check("asOf reads = in-memory EventsReplay snapshot at the same pin")(sameRows(
        values(head.asOfTxId(pin)), values(replay.asOfTxId(pin)))))
  }
}

/** Iterative analytics on the TPC-H head snapshot, whose views and derived
  * edge frames are memoized, so requests mostly pay for rounds. */
final class GraphRounds(dir: String, tr: Tracer, customers: Int, suppliers: Int)
    extends Workload {
  val opTypes = Seq("ppr", "sssp")
  def opClass(op: String) = "gx"
  private val Labels = Seq("placed", "contains", "supplied_by")
  private var spark: SparkSession = _
  private var snap: Snapshot = _

  def setup(s: SparkSession): Unit = {
    spark = s
    snap = tr.span("projection", "TpchGraph.snapshot") {
      val sn = TpchGraph.snapshot(s, dir)
      sink(sn.currentFacts); sink(sn.edges)
      sn
    }
  }

  override def built: Map[String, Any] = Map("edges" -> snap.edges.count())

  private def customer(rnd: SplittableRandom) = TpchGraph.VCustomer + rnd.nextInt(customers)
  private def supplierSet(rnd: SplittableRandom, n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += TpchGraph.VSupplier + rnd.nextInt(suppliers)
    s.toSeq.sorted
  }
  /** Calls into gx, sinks the frame and returns it for the request's check. */
  private def gx(name: String)(body: => DataFrame): DataFrame = {
    val df = tr.span("gx", name)(body)
    tr.sink("gx", df)
    df
  }

  def request(op: String, rnd: SplittableRandom): Req = {
    var out: DataFrame = null
    def req(params: String, check: => Check)(call: => DataFrame) =
      Req(op, params, () => out = call, Some(() => check))
    op match {
      case "ppr" =>
        val src = customer(rnd)
        req(s"src=$src", pprMatchesTwin(src, out))(
          gx("personalizedPageRankRelationalDF")(
            GraphXTraversal.personalizedPageRankRelationalDF(spark, snap, src)))
      case "sssp" =>
        val lms = supplierSet(rnd, 3)
        req(s"landmarks=${lms.mkString(",")}",
          check("weighted SSSP satisfies the shortest-path equations")(
            distancesHold(triples(out), lms, weighted)))(
          gx("ssspWeightedDF")(GraphXTraversal.ssspWeightedDF(spark, snap, lms)))
    }
  }

  // the snapshot's edges, read once for the checks
  private lazy val labelled = snap.edges.where(col("label").isin(Labels: _*))
    .select("id", "outV", "inV").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  private lazy val weighted = {
    val qty = snap.prop("quantity", PropType.PDouble, A.Edge).collect()
      .map(r => r.getLong(0) -> r.getDouble(1).toLong).toMap
    labelled.map { case (id, v, u) => (v, u, qty.getOrElse(id, 1L)) }.toSeq
  }
  private def triples(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))

  /** Distances to landmarks must satisfy the shortest-path equations over
    * `edges` (v -> u, weight): d(lm) = 0, d(v) <= w + d(u) for every edge
    * into a reached u, and every reached v > 0 is tight on some edge. */
  private def distancesHold(rows: Array[(Long, Long, Long)], lms: Seq[Long],
                            edges: Seq[(Long, Long, Long)]): (Boolean, String) = {
    val d = rows.map { case (v, lm, x) => (v, lm) -> x }.toMap
    val out = edges.groupBy(_._1)
    val selfZero = lms.forall(lm => d.get((lm, lm)).contains(0L))
    val relaxed = edges.forall { case (v, u, w) =>
      lms.forall(lm => d.get((u, lm)).forall(du => d.get((v, lm)).exists(_ <= du + w)))
    }
    val tight = d.forall { case ((v, lm), x) =>
      x == 0 && lms.contains(v) ||
        x > 0 && out.getOrElse(v, Nil).exists { case (_, u, w) => d.get((u, lm)).contains(x - w) }
    }
    (selfZero && relaxed && tight && d.size > lms.size,
      s"pairs=${d.size} self_zero=$selfZero relaxed=$relaxed tight=$tight")
  }

  private def pprMatchesTwin(src: Long, out: DataFrame): Check =
    check("relational PPR = GraphX personalizedPageRankDF") {
      def ranks(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val rel = ranks(out)
      val twin = ranks(GraphXTraversal.personalizedPageRankDF(spark, snap, src))
      // rank is rounded to 4 places; a vertex may enter or leave the top-k
      // only on a tie with the cut
      val cut = (rel.values ++ twin.values).toSeq.sorted.headOption.getOrElse(0.0)
      val bad = (rel.keySet ++ twin.keySet).filterNot { v =>
        (rel.get(v), twin.get(v)) match {
          case (Some(a), Some(b)) => math.abs(a - b) <= 1.5e-4
          case (Some(a), None) => math.abs(a - cut) <= 1.5e-4
          case (None, Some(b)) => math.abs(b - cut) <= 1.5e-4
          case _ => false
        }
      }
      (bad.isEmpty && rel.nonEmpty, s"src=$src top=${rel.size} mismatched=${bad.size}")
    }
}

/** The training-data pipeline: near-duplicate detection and IVF vector
  * search. */
final class Curation(dir: String, tr: Tracer) extends Workload {
  val opTypes = Seq("dedup", "ivf")
  def opClass(op: String) = "pipeline"
  private val Threshold = 0.8
  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var index: VectorOps.IvfIndex = _
  private var nVecs = 0

  def setup(s: SparkSession): Unit = {
    spark = s
    docs = s.read.parquet(s"$dir/documents.parquet")
    emb = s.read.parquet(s"$dir/embeddings.parquet")
    index = tr.span("pipeline", "IvfCache.index")(VectorOps.IvfCache.index(s, dir))
    nVecs = emb.count().toInt
  }

  /** A seeded share of the documents, picked by a salted hash of doc_id. */
  private def share(salt: Long, pct: Int): DataFrame =
    docs.where(pmod(xxhash64(col("doc_id"), lit(salt)), lit(100L)) < pct)

  private def queries(rnd: SplittableRandom): (Seq[Long], DataFrame) = {
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < 10) ids += rnd.nextInt(nVecs).toLong
    (ids.toSeq, emb.where(col("vec_id").isin(ids.toSeq: _*)))
  }

  private def pipeline(name: String)(body: => DataFrame): DataFrame = {
    val df = tr.span("pipeline", name)(body)
    tr.sink("pipeline", df)
    df
  }

  private lazy val shingleSets = docs.select("doc_id", "text").collect()
    .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap

  def request(op: String, rnd: SplittableRandom): Req = {
    val salt = rnd.nextLong()
    var out: DataFrame = null
    op match {
      case "dedup" => Req(op, s"salt=$salt",
        () => out = pipeline("dedupMinHashLsh")(
          TextOps.dedupMinHashLsh(share(salt, 80), Threshold)),
        Some(() => check("every dedup pair has exact shingle Jaccard >= threshold") {
          val pairs = out.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
          val low = pairs.filter { case (a, b) =>
            jaccard(shingleSets(a), shingleSets(b)) < Threshold }
          (low.isEmpty && pairs.nonEmpty, s"pairs=${pairs.length} below_threshold=${low.length}")
        }))
      case "ivf" =>
        val (ids, q) = queries(rnd)
        Req(op, s"queries=${ids.mkString(",")}",
          () => out = pipeline("ivfSearch")(VectorOps.ivfSearch(index, q, 10)),
          Some(() => check("IVF recall@10 against bruteForceTopK >= 0.9") {
            def nbs(df: DataFrame) =
              df.select("q", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            val exact = nbs(VectorOps.bruteForceTopK(emb, q, 10))
            val recall = (exact intersect nbs(out)).size.toDouble / exact.size
            (recall >= 0.9, f"recall=$recall%.3f exact=${exact.size}")
          }))
    }
  }
}

/** Backdated writes beside driver-side and set-oriented reads of one
  * interactive graph; the log changes between requests. */
final class CrudMix(tr: Tracer, seed: Long) extends Workload {
  private val driverOps = Seq("add_vertex", "add_edge", "set_property", "remove_edge",
    "asof_get", "version_walk", "difference")
  val opTypes = driverOps :+ "snapshot_read"
  def opClass(op: String) = if (op == "snapshot_read") "log_snapshot" else "graph"
  // driver operations take milliseconds: ten of each per cycle. Three
  // snapshot reads per cycle put a run's slowest requests after the log
  // reads among a dozen of them, whose pins the Spread covers evenly.
  override def cycle: Seq[String] = Seq.fill(10)(driverOps).flatten ++ Seq.fill(3)("snapshot_read")
  private val spread = new Spread
  private val Labels = Array("knows", "likes", "follows")
  private val PreloadVertices = 300
  private val EdgesPerVertex = 2
  private val Base = Timestamp.valueOf("2020-01-01 00:00:00").getTime
  private val StepMs = 60000L
  private var g: GraftGraph = _
  private val vertices = mutable.ArrayBuffer.empty[Long]
  private val edges = mutable.ArrayBuffer.empty[Long]
  private var preloadFacts = 0

  def setup(s: SparkSession): Unit = {
    vertices.clear(); edges.clear()
    g = new GraftGraph(s)
    val rnd = new SplittableRandom(seed)
    var step = 0L
    def tick(): Unit = { step += 1; g.setTransactionTime(new Timestamp(Base + step * StepMs)) }
    tr.span("graph", "write.preload") {
      val gg = g
      (0 until PreloadVertices).foreach { i =>
        tick(); val v = gg.addVertex()
        tick(); v.setProperty("name", s"v$i")
        tick(); v.setProperty("score", java.lang.Long.valueOf(rnd.nextLong(1000)))
        vertices += v.id
        // edges among the vertices so far, so every pin sees some
        (0 until EdgesPerVertex).foreach { _ =>
          tick()
          edges += gg.addEdge(gg.getVertex(pick(vertices, rnd)), gg.getVertex(pick(vertices, rnd)),
            Labels(rnd.nextInt(Labels.length))).id
        }
      }
    }
    preloadFacts = g.log.allFacts.size
  }

  override def built: Map[String, Any] = Map("preload_vertices" -> PreloadVertices,
    "preload_edges" -> PreloadVertices * EdgesPerVertex, "preload_facts" -> preloadFacts)

  private def pick(xs: mutable.ArrayBuffer[Long], rnd: SplittableRandom): Long = xs(rnd.nextInt(xs.size))
  private def span = PreloadVertices * (3L + EdgesPerVertex) * StepMs
  /** An instant inside the preloaded history: every write is backdated. */
  private def past(rnd: SplittableRandom) = new Timestamp(Base + StepMs + rnd.nextLong(span))
  private def write(name: String, at: Timestamp)(body: => Unit): Unit =
    tr.span("graph", "write." + name) { g.setTransactionTime(at); body }
  private def read(name: String)(body: => Any): Unit = tr.span("graph", "read." + name)(body)

  def request(op: String, rnd: SplittableRandom): Req = {
    val at = past(rnd)
    op match {
      case "add_vertex" =>
        val score = rnd.nextLong(1000)
        Req(op, s"at=$at score=$score", () => write("addVertex+setProperty", at) {
          val v = g.addVertex()
          v.setProperty("score", java.lang.Long.valueOf(score))
          vertices += v.id
        })
      case "add_edge" =>
        val (a, b, l) = (pick(vertices, rnd), pick(vertices, rnd), Labels(rnd.nextInt(Labels.length)))
        Req(op, s"at=$at out=$a in=$b label=$l", () => write("addEdge", at) {
          val gg = g
          edges += gg.addEdge(gg.getVertex(a), gg.getVertex(b), l).id
        })
      case "set_property" =>
        val (v, score) = (pick(vertices, rnd), rnd.nextLong(1000))
        Req(op, s"at=$at v=$v score=$score", () => write("setProperty", at) {
          g.getVertex(v).setProperty("score", java.lang.Long.valueOf(score))
        })
      case "remove_edge" =>
        val i = rnd.nextInt(edges.size)
        Req(op, s"at=$at edge_index=$i", () => write("removeEdge", at) {
          val e = edges(i)
          edges(i) = edges.last; edges.remove(edges.size - 1)
          val gg = g
          gg.removeEdge(gg.getEdge(e))
        })
      case "asof_get" =>
        val v = pick(vertices, rnd)
        Req(op, s"at=$at v=$v", () => read("asOf.getProperty") {
          Option(g.asOf(at).vertex(v)).map(_.getProperty("score"))
        })
      case "version_walk" =>
        val v = pick(vertices, rnd)
        Req(op, s"v=$v", () => read("getPreviousVersions")(g.getVertex(v).getPreviousVersions.size))
      case "difference" =>
        val ws = Seq.fill(5)(pick(vertices, rnd))
        val other = past(rnd)
        val (d1, d2) = if (other.after(at)) (other, at) else (at, other)
        Req(op, s"ws=${ws.mkString(",")} d1=$d1 d2=$d2", () =>
          read("difference")(g.difference(ws, d1, d2).facts.size))
      case "snapshot_read" =>
        val frac = spread.next(op, rnd)
        Req(op, s"pin_fraction=$frac", () => {
          val pin = (g.log.headTx * frac).toLong
          val df = tr.span("snapshot", "asOfTxId.prop")(
            Snapshot.head(g.log).asOfTxId(pin).prop("score", PropType.PLong, A.Vertex))
          tr.sink("snapshot", df)
        })
    }
  }

  override def checks(rnd: SplittableRandom): Seq[Check] =
    Seq.fill(2)(pinIn(rnd, g.log.headTx / 10, g.log.headTx)).map { pin =>
      check(s"Snapshot reads = GraftGraph reads at tx $pin") {
        val snap = Snapshot.head(g.log).asOfTxId(pin)
        val view = g.asOfTx(pin)
        val scores = snap.prop("score", PropType.PLong, A.Vertex).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val driverScores = view.vertices.flatMap(v => Option(v.getProperty("score")).map(
          s => v.id -> s.asInstanceOf[java.lang.Long].longValue)).toMap
        val snapEdges = snap.edges.collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
        val driverEdges = view.edges
        val sample = driverEdges.take(25).forall(e =>
          snapEdges.get(e.id).contains((e.getLabel, e.getVertex("out").id, e.getVertex("in").id)))
        val ok = scores == driverScores && snapEdges.keySet == driverEdges.map(_.id).toSet && sample
        (ok && scores.nonEmpty, s"vertices=${scores.size} edges=${snapEdges.size} " +
          s"scores_equal=${scores == driverScores} edge_sample_equal=$sample")
      }
    }
}
