package graft.projection

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.log.BulkFactStore
import graft.model.{A, Fact}
import graft.snapshot.Snapshot
import graft.util.LruMemo

/** Shared fact-row constructors for bulk (set-oriented) projections.
  * Every fact is built as a struct column matching the [[Fact]] schema and
  * exploded per source row — one scan per source table, zero driver-side
  * row handling (the 100 TB path: the log is *derived*, never collected). */
object FactCols {
  private val nulS = lit(null).cast("string")
  private val nulL = lit(null).cast("long")
  private val nulD = lit(null).cast("double")
  private val nulDec = lit(null).cast("decimal(38,18)")
  private val nulB = lit(null).cast("boolean")
  private val nulT = lit(null).cast("timestamp")

  /** Generic fact struct; pass only the value column that applies. */
  def mk(e: Column, attr: Column,
         vStr: Column = nulS, vLong: Column = nulL, vDouble: Column = nulD,
         vDec: Column = nulDec, vBool: Column = nulB, vTs: Column = nulT,
         vRef: Column = nulL, tx: Column = lit(0L), added: Column = lit(true)): Column =
    struct(
      e.cast("long").as("e"), attr.cast("string").as("attr"),
      vStr.cast("string").as("vStr"), vLong.cast("long").as("vLong"),
      vDouble.cast("double").as("vDouble"), vDec.cast("decimal(38,18)").as("vDec"),
      vBool.cast("boolean").as("vBool"), vTs.cast("timestamp").as("vTs"),
      vRef.cast("long").as("vRef"), tx.cast("long").as("tx"),
      lit(0L).as("seq"), added.cast("boolean").as("added"))

  def vertexType(e: Column, tx: Column = lit(0L)): Column =
    mk(e, lit(A.ElementType), vStr = lit(A.Vertex), tx = tx)
  def edgeType(e: Column): Column = mk(e, lit(A.ElementType), vStr = lit(A.Edge))
  def label(e: Column, l: String): Column = mk(e, lit(A.EdgeLabel), vStr = lit(l))
  def outV(e: Column, v: Column): Column = mk(e, lit(A.EdgeOut), vRef = v)
  def inV(e: Column, v: Column): Column = mk(e, lit(A.EdgeIn), vRef = v)
  def sProp(e: Column, key: String, v: Column, kind: String = A.Vertex): Column =
    mk(e, lit(key.replace("_", "$") + ".string." + kind), vStr = v)
  def dProp(e: Column, key: String, v: Column, kind: String = A.Vertex): Column =
    mk(e, lit(key.replace("_", "$") + ".double." + kind), vDouble = v)
  def lProp(e: Column, key: String, v: Column, kind: String = A.Vertex): Column =
    mk(e, lit(key.replace("_", "$") + ".long." + kind), vLong = v)
  def tProp(e: Column, key: String, v: Column, kind: String = A.Vertex): Column =
    mk(e, lit(key.replace("_", "$") + ".ts." + kind), vTs = v)

  /** Explode a per-row array of fact structs into Fact-schema rows. */
  def explodeFacts(df: DataFrame, facts: Seq[Column]): DataFrame =
    df.select(explode(array(facts: _*)).as("f")).select("f.*")
}

/** A per-(session, dir) memo of views persisted from the files under
  * `dir`, LRU-bounded at [[TpchGraph.MaxCachedSnapshots]]. The views of
  * one dir are equal plans in every session, and the context-wide
  * CacheManager keeps one entry per plan, so an evicted entry's views
  * are released (`release`) only when no live entry for the same dir
  * still reads them. */
private[projection] final class ViewsMemo[V](release: V => Unit) {
  private val memo: LruMemo[(SparkSession, String), (String, V)] =
    new LruMemo(TpchGraph.MaxCachedSnapshots, { evicted =>
      if (!memo.values.exists(e => e._1 == evicted._1 && (e ne evicted))) release(evicted._2)
    })
  def getOrBuild(spark: SparkSession, dir: String)(build: => V): V =
    memo.getOrBuild((spark, dir))((dir, build))._2
}

/**
 * Bulk property-graph projection of the driver's TPC-H-ish tables into a
 * graft fact log (FIXTURES.md §3) — the set-oriented "warehouse load"
 * path: every fact is derived with DataFrame transforms only, so at
 * 100 TB the projection is a handful of scans + unions that never route a
 * row through the driver.
 *
 * Deterministic entity-id scheme (reproducible by the DuckDB oracle):
 *   vertices: region 1M+k, nation 2M+k, customer 3M+k, supplier 4M+k,
 *             part 5M+k, orders 6M+k
 *   edges:    in_region 10M+nationkey (nation→region)
 *             in_nation 11M+custkey (customer→nation)
 *             in_nation 12M+suppkey (supplier→nation)
 *             placed    13M+orderkey (customer→order)
 *             contains  4e9+orderkey*64+seq (order→part)
 *             supplied_by 8e9+orderkey*64+seq (part→supplier)
 *   (seq = deterministic per-order lineitem sequence, see below)
 * (The reference ignores supplied ids — FluxGraph.java:59 — but a bulk
 * warehouse projection needs stable ids for idempotent reload; this is a
 * deliberate Spark-first divergence.)
 *
 * Ids are scoped PER STORE: VOrder+orderkey grows unboundedly with SF and
 * crosses EventsReplay.VUser (7M) at sf≥0.5 — harmless because the two
 * projections never share a FactLog. Remap ids before ever unioning them.
 *
 * Everything loads as ONE tx 0 (a bulk backfill); tx history comes from
 * the events replay ([[EventsReplay]]).
 */
object TpchGraph {
  import FactCols._

  val VRegion = 1000000L;  val VNation = 2000000L;  val VCustomer = 3000000L
  val VSupplier = 4000000L; val VPart = 5000000L;   val VOrder = 6000000L
  val EInRegion = 10000000L; val EInNationC = 11000000L; val EInNationS = 12000000L
  val EPlaced = 13000000L; val EContains = 4000000000L; val ESuppliedBy = 8000000000L
  /** Id stride per order in the lineitem edge space. MUST exceed the max
    * lineitems of any one order, or consecutive orders' edge ids collide
    * (stride 16 double-credited two suppliers at sf0.1: one 17-lineitem
    * order). 64 is 4× the observed max (17); the 4e9 base gap supports
    * orderkeys to 62M (sf40+) before contains ids touch ESuppliedBy.
    * The Spark side computes in Long (LiStride is a Long literal); the
    * DuckDB oracle twins CAST l_orderkey to BIGINT before the stride
    * multiply so the headroom holds there too (INT32 math would
    * overflow past orderkey ≈ 33.5M). */
  val LiStride = 64L

  /** Snapshots each of the projection memos keeps pinned. */
  private[graft] val MaxCachedSnapshots = 4

  private val cache = new ViewsMemo[(Snapshot, DataFrame)]({ case (snap, liSeq) =>
    snap.currentFacts.unpersist(false)
    snap.edges.unpersist(false)
    liSeq.unpersist(false)
  })

  /** Memoized head snapshot per (session, sf dir); currentFacts, the
    * edges view and the lineitem frame both read are persisted so the
    * per-query cost is the query itself, not the projection rebuild (a
    * real deployment would persist the fact log as Parquet once —
    * FactLog.save — and open it per job). LRU-bounded like every engine
    * memo, the last eviction for a dir unpersisting all three; builds run
    * under this object's lock, so a store is never built twice. */
  def snapshot(spark: SparkSession, dir: String): Snapshot = synchronized {
    cache.getOrBuild(spark, dir) {
      val (store, liSeq) = project(spark, dir)
      // the lineitem frame first, so the two views' caches read it
      liSeq.persist(StorageLevel.MEMORY_AND_DISK)
      val snap = Snapshot.head(store)
      snap.currentFacts.persist(StorageLevel.MEMORY_AND_DISK)
      snap.edges.persist(StorageLevel.MEMORY_AND_DISK)
      (snap, liSeq)
    }._1
  }

  /** The projection as a lazy store, nothing persisted. */
  def build(spark: SparkSession, dir: String): BulkFactStore = project(spark, dir)._1

  /** The store plus the lineitem frame three of its plans read. */
  private def project(spark: SparkSession, dir: String): (BulkFactStore, DataFrame) = {
    def rd(t: String) = spark.read.parquet(s"$dir/$t.parquet")

    val region = rd("region")
    val nation = rd("nation")
    val customer = rd("customer")
    val supplier = rd("supplier")
    val part = rd("part")
    val orders = rd("orders")
    val lineitem = rd("lineitem")

    val regionFacts = explodeFacts(region, Seq(
      vertexType(lit(VRegion) + col("r_regionkey")),
      sProp(lit(VRegion) + col("r_regionkey"), "name", col("r_name"))))

    val nId = lit(VNation) + col("n_nationkey")
    val nationFacts = explodeFacts(nation, Seq(
      vertexType(nId), sProp(nId, "name", col("n_name")),
      // in_region edge nation→region
      edgeType(lit(EInRegion) + col("n_nationkey")),
      label(lit(EInRegion) + col("n_nationkey"), "in_region"),
      outV(lit(EInRegion) + col("n_nationkey"), nId),
      inV(lit(EInRegion) + col("n_nationkey"), lit(VRegion) + col("n_regionkey"))))

    val cId = lit(VCustomer) + col("c_custkey")
    val cEdge = lit(EInNationC) + col("c_custkey")
    val customerFacts = explodeFacts(customer, Seq(
      vertexType(cId),
      sProp(cId, "name", col("c_name")),
      dProp(cId, "acctbal", col("c_acctbal")),
      sProp(cId, "mktsegment", col("c_mktsegment")),
      edgeType(cEdge), label(cEdge, "in_nation"),
      outV(cEdge, cId), inV(cEdge, lit(VNation) + col("c_nationkey"))))

    val sId = lit(VSupplier) + col("s_suppkey")
    val sEdge = lit(EInNationS) + col("s_suppkey")
    val supplierFacts = explodeFacts(supplier, Seq(
      vertexType(sId),
      sProp(sId, "name", col("s_name")),
      dProp(sId, "acctbal", col("s_acctbal")),
      edgeType(sEdge), label(sEdge, "in_nation"),
      outV(sEdge, sId), inV(sEdge, lit(VNation) + col("s_nationkey"))))

    val pId = lit(VPart) + col("p_partkey")
    val partFacts = explodeFacts(part, Seq(
      vertexType(pId),
      sProp(pId, "name", col("p_name")),
      sProp(pId, "brand", col("p_brand")),
      sProp(pId, "type", col("p_type")),
      lProp(pId, "size", col("p_size")),
      dProp(pId, "retailprice", col("p_retailprice"))))

    val oId = lit(VOrder) + col("o_orderkey")
    val oEdge = lit(EPlaced) + col("o_orderkey")
    val orderFacts = explodeFacts(orders, Seq(
      vertexType(oId),
      sProp(oId, "orderstatus", col("o_orderstatus")),
      dProp(oId, "totalprice", col("o_totalprice")),
      tProp(oId, "orderdate", col("o_orderdate")),
      sProp(oId, "orderpriority", col("o_orderpriority")),
      edgeType(oEdge), label(oEdge, "placed"),
      outV(oEdge, lit(VCustomer) + col("o_custkey")), inV(oEdge, oId)))

    // The generator emits duplicate (l_orderkey, l_linenumber) pairs, so a
    // deterministic per-order sequence (a window partitioned by orderkey —
    // shuffles on the order key, never a global sort) disambiguates the
    // lineitems of an order (< LiStride of them — see LiStride). Fully
    // identical rows get interchangeable ids, which is
    // id-assignment-order independent.
    val seqW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    // The seq window is read by THREE independent plans (the lineitem
    // facts inside currentFacts, and both lineitem selects of the direct
    // edges view); unpersisted, each re-shuffles and re-sorts lineitem
    // for the same ranking, so [[snapshot]] persists it with the views.
    val liSeq = lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .withColumn("seq", row_number().over(seqW))
    val liKey = col("l_orderkey") * LiStride + col("seq")
    val ctE = lit(EContains) + liKey
    val sbE = lit(ESuppliedBy) + liKey
    val lineitemFacts = explodeFacts(liSeq, Seq(
      // contains edge order→part, carrying the lineitem measures
      edgeType(ctE), label(ctE, "contains"),
      outV(ctE, lit(VOrder) + col("l_orderkey")),
      inV(ctE, lit(VPart) + col("l_partkey")),
      dProp(ctE, "quantity", col("l_quantity"), A.Edge),
      dProp(ctE, "extendedprice", col("l_extendedprice"), A.Edge),
      dProp(ctE, "discount", col("l_discount"), A.Edge),
      sProp(ctE, "returnflag", col("l_returnflag"), A.Edge),
      tProp(ctE, "shipdate", col("l_shipdate"), A.Edge),
      // supplied_by edge part→supplier
      edgeType(sbE), label(sbE, "supplied_by"),
      outV(sbE, lit(VPart) + col("l_partkey")),
      inV(sbE, lit(VSupplier) + col("l_suppkey"))))

    val facts = Seq(regionFacts, nationFacts, customerFacts, supplierFacts,
      partFacts, orderFacts, lineitemFacts).reduce(_.unionAll(_))

    // The projection KNOWS every edge row it just encoded as 4 facts —
    // hand the head edges view over directly (narrow per-table selects +
    // union) so readers skip the 4×|edges| pivot aggregation entirely.
    // scan_edges' oracle hash-checks this view against the fact encoding.
    def e4(id: Column, label: String, outV: Column, inV: Column) = Seq(
      id.cast("long").as("id"), lit(label).as("label"),
      outV.cast("long").as("outV"), inV.cast("long").as("inV"))
    val edgesDirect = Seq(
      nation.select(e4(lit(EInRegion) + col("n_nationkey"), "in_region",
        lit(VNation) + col("n_nationkey"), lit(VRegion) + col("n_regionkey")): _*),
      customer.select(e4(lit(EInNationC) + col("c_custkey"), "in_nation",
        lit(VCustomer) + col("c_custkey"), lit(VNation) + col("c_nationkey")): _*),
      supplier.select(e4(lit(EInNationS) + col("s_suppkey"), "in_nation",
        lit(VSupplier) + col("s_suppkey"), lit(VNation) + col("s_nationkey")): _*),
      orders.select(e4(lit(EPlaced) + col("o_orderkey"), "placed",
        lit(VCustomer) + col("o_custkey"), lit(VOrder) + col("o_orderkey")): _*),
      liSeq.select(e4(lit(EContains) + liKey, "contains",
        lit(VOrder) + col("l_orderkey"), lit(VPart) + col("l_partkey")): _*),
      liSeq.select(e4(lit(ESuppliedBy) + liKey, "supplied_by",
        lit(VPart) + col("l_partkey"), lit(VSupplier) + col("l_suppkey")): _*)
    ).reduce(_.unionAll(_))

    // single-tx backfill, no retractions ⇒ preDeduped: snapshots skip the
    // latest-wins shuffle and read the projection as plain scans
    (BulkFactStore.singleTx(spark, facts, preDeduped = true,
      providedEdges = Some(edgesDirect)), liSeq)
  }
}
