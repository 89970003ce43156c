package graft.log

import scala.collection.mutable
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession, Dataset}
import graft.model.{A, Fact, Touch, TxMeta}

/**
 * The storage abstraction: an append-only log of [[Fact]]s plus the two
 * side tables the temporal API needs — transaction metadata (tx →
 * wall-clock instant, possibly backdated) and version-chain touch
 * records. Mirrors the reference's Datomic log + :db/txInstant +
 * :graph.element/previousTransaction reified chain
 * (FluxGraph.java:325-340,443-476) as three Spark-readable tables.
 *
 * Two implementations:
 *  - [[MemFactLog]]: driver-side mutable log behind the Blueprints-style
 *    mutation API (the reference's transactor is likewise a single
 *    serialized writer — FluxGraph.java:331).
 *  - [[BulkFactStore]]: wraps pre-built DataFrames for set-oriented bulk
 *    loads (the 100 TB path — e.g. projecting a warehouse's tables into
 *    the graph without routing a single row through the driver).
 */
trait FactStore {
  def spark: SparkSession
  /** (e, attr, v*, tx, added) — the full history, no dedup. */
  def factsDF: DataFrame
  /** (e, tx, prevTx) version-chain touch records. */
  def touchesDF: DataFrame
  /** (tx, txInstant) transaction metadata. */
  def txsDF: DataFrame

  /** Resolve an as-of date to the max tx whose instant ≤ date
    * (FluxGraph.java:224-243 does a hand-rolled max over all txs). */
  def resolveTx(at: Timestamp): Long

  /** Highest committed tx id (head of the log). */
  def headTx: Long

  /** True when the store guarantees at most ONE fact per (e, attr) —
    * e.g. a single-tx bulk backfill. Lets snapshots skip the latest-wins
    * aggregation entirely (the dominant cost of a snapshot read). */
  def preDeduped: Boolean = false

  /** When the facts are Parquet-partitioned by tx-range buckets
    * (`txBucket = tx / size`), snapshots add a bucket predicate so asOf
    * reads PRUNE files instead of scanning the whole history — the
    * 100 TB time-travel path (SURVEY §1.4). */
  def txBucketSize: Option[Long] = None
}

/** Bulk, set-oriented store: all three tables supplied as DataFrames.
  * Used by projections that build the log with pure DataFrame transforms. */
final class BulkFactStore(
    val spark: SparkSession,
    val factsDF: DataFrame,
    val touchesDF: DataFrame,
    val txsDF: DataFrame,
    override val preDeduped: Boolean = false,
    override val txBucketSize: Option[Long] = None,
    /** Optional pre-built `(id, label, outV, inV)` edges view. A bulk
      * projection KNOWS the edge rows it is encoding into facts, so it can
      * hand the edges view over directly and spare every head snapshot the
      * 4-facts-per-edge pivot aggregation (at 100 TB: one shuffle of 4×
      * |edges| rows per reader, gone). Only valid for the head view of a
      * single-epoch store — pinned snapshots fall back to the pivot. */
    val providedEdges: Option[DataFrame] = None) extends FactStore {
  import org.apache.spark.sql.functions._

  def resolveTx(at: Timestamp): Long = {
    val r = txsDF.where(col("txInstant") <= lit(at)).agg(max(col("tx"))).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  lazy val headTx: Long = {
    val r = txsDF.agg(max(col("tx"))).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** Persist this store in the same tx-bucketed parquet layout the
    * mutable log writes ([[FactLog.open]] reopens it): the durable path
    * for compacted/derived stores. The `preDeduped` contract survives the
    * round-trip via `_graft_meta`, so a reopened compacted store still
    * skips the latest-wins shuffle on every snapshot read. */
  def save(root: String, txBucketSize: Long = 1000L): Unit = {
    factsDF.withColumn("txBucket", expr(s"tx div $txBucketSize"))
      .write.mode("overwrite").partitionBy("txBucket").parquet(s"$root/facts")
    touchesDF.write.mode("overwrite").parquet(s"$root/touches")
    txsDF.write.mode("overwrite").parquet(s"$root/txs")
    StoreMeta.write(spark, root, txBucketSize, preDeduped)
  }
}

/** `_graft_meta` sidecar: key=value lines written through the Hadoop
  * FileSystem API resolved from the session's hadoopConfiguration, so
  * save/open work against ANY Spark-reachable root (hdfs://, s3a://,
  * file:), not just a driver-local path. */
private[graft] object StoreMeta {
  import org.apache.hadoop.fs.Path

  def write(spark: SparkSession, root: String, txBucketSize: Long,
            preDeduped: Boolean): Unit = {
    val path = new Path(root, "_graft_meta")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(
      s"txBucketSize=$txBucketSize\npreDeduped=$preDeduped\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def read(spark: SparkSession, root: String): Map[String, String] = {
    val path = new Path(root, "_graft_meta")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Map.empty
    else {
      val in = fs.open(path)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.contains('='))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
      finally in.close()
    }
  }
}

object BulkFactStore {
  /** Single-epoch scaffold — empty touches + one tx-0 metadata row: the
    * shape every one-shot backfill store shares (bulk projections, diff
    * graphs, reopened bucketed tables). */
  def singleTx(spark: SparkSession, factsDF: DataFrame,
               preDeduped: Boolean = false,
               providedEdges: Option[DataFrame] = None): BulkFactStore = {
    import spark.implicits._
    new BulkFactStore(spark, factsDF,
      spark.emptyDataset[Touch].toDF(),
      Seq((0L, new Timestamp(0L))).toDF("tx", "txInstant"),
      preDeduped = preDeduped, providedEdges = providedEdges)
  }
}

/**
 * Driver-side mutable fact log: the write path of the interactive graph
 * API. All commits are serialized through this object (single-writer,
 * monotonic tx ids), matching the reference's transactor semantics.
 *
 * `commit` maintains, under the same lock, the driver-side indexes the
 * per-element reads of [[graft.graph.GraftGraph]] use — the reference
 * answers the same reads from Datomic's covering indexes
 * (FluxEdge.java:77-90, FluxVertex.java:161-180):
 *  - entity index (EAVT): entity → its facts in tx order, holding the
 *    same objects as the log ([[factsOf]]);
 *  - reference index (VAET): vertex → edges whose out/in endpoint fact
 *    ever referenced it ([[edgesReferencing]]); callers check liveness at
 *    their own pin;
 *  - per-element tx set: version-chain navigation in O(log chain);
 *  - instant staircase: [[resolveTx]] in O(log txs).
 * Whole-graph reads ([[allFacts]] and the DataFrames below) still scan
 * the log.
 */
final class MemFactLog(val spark: SparkSession) extends FactStore {
  import spark.implicits._

  private val facts   = mutable.ArrayBuffer.empty[Fact]
  private val touches = mutable.ArrayBuffer.empty[Touch]
  private val txs     = mutable.ArrayBuffer.empty[TxMeta]
  /** max tx that touched each element (facts about it OR touch records) —
    * the incremental form of getTimeId's history Datalog rule
    * (FluxUtil.java:196-217). */
  private val elemMaxTx = mutable.LongMap.empty[Long]
  /** tx → instant (O(1) instantOf; the linear scan made getTimeInterval
    * walks O(chain²) over long chains). */
  private val txInstants = mutable.LongMap.empty[Timestamp]
  /** per-element ordered tx set (facts ∪ touches) — the version chain as a
    * sorted index, so prev/next-version navigation is O(log n) instead of
    * a full-log scan per step (the reference's EAVT/log indexes give it
    * the same asymptotics). */
  private val elemTxs = mutable.LongMap.empty[mutable.TreeSet[Long]]
  /** entity index (EAVT): each entity's facts in (tx, seq) order. */
  private val entityFacts = mutable.LongMap.empty[mutable.ArrayBuffer[Fact]]
  /** reference index (VAET): vertex → ids of the edges whose EdgeOut /
    * EdgeIn fact ever referenced it, in first-reference order. */
  private val refEdges = mutable.LongMap.empty[mutable.LinkedHashSet[Long]]
  /** instant → tx "staircase": strictly increasing in both key and value.
    * A tx whose instant is ≥ a later tx's instant can never be the max tx
    * at or before any date, so commit drops it. */
  private val staircase = new java.util.TreeMap[Timestamp, java.lang.Long]()
  private var nextTx: Long = 0L
  private var nextEntity: Long = 1L

  def newEntityId(): Long = synchronized { val id = nextEntity; nextEntity += 1; id }

  def headTx: Long = synchronized(nextTx - 1)

  /** Append one transaction: stamps `txData` with the next tx id, records
    * the tx instant (backdatable — setTransactionTime parity,
    * FluxGraph.java:325-340), and emits one touch row per element in
    * `touched` whose prevTx is the element's max tx BEFORE this commit
    * (the db-fn :add-transaction-info computes exactly this,
    * FluxGraph.java:443-476). Returns the committed tx id. */
  def commit(txData: Seq[Fact], touched: Seq[Long] = Nil,
             at: Option[Timestamp] = None): Long = synchronized {
    val tx = nextTx; nextTx += 1
    val instant = at.getOrElse(new Timestamp(System.currentTimeMillis()))
    txs += TxMeta(tx, instant)
    txInstants(tx) = instant
    staircase.tailMap(instant, true).clear()
    staircase.put(instant, tx)
    def index(e: Long): Unit =
      elemTxs.getOrElseUpdate(e, mutable.TreeSet.empty[Long]) += tx
    // prevTx resolved against pre-commit state, then state advanced.
    touched.distinct.foreach { e =>
      touches += Touch(e, tx, elemMaxTx.getOrElse(e, -1L))
    }
    txData.zipWithIndex.foreach { case (f0, i) =>
      val f = f0.copy(tx = tx, seq = i.toLong)
      facts += f
      entityFacts.getOrElseUpdate(f.e, mutable.ArrayBuffer.empty[Fact]) += f
      if ((f.attr == A.EdgeOut || f.attr == A.EdgeIn) && f.vRef != null)
        refEdges.getOrElseUpdate(f.vRef.longValue, mutable.LinkedHashSet.empty[Long]) += f.e
      elemMaxTx(f.e) = tx
      index(f.e)
    }
    touched.foreach { e => elemMaxTx(e) = tx; index(e) }
    tx
  }

  /** getTimeId parity: max tx that touched the element (FluxElement.java:39-42). */
  def timeIdOf(e: Long): Option[Long] = synchronized(elemMaxTx.get(e))

  /** getTimeId pinned to a view: max tx ≤ asOf that touched the element —
    * O(log chain) via the per-element tx index. -1 when none. */
  def timeIdAt(e: Long, asOf: Long): Long = synchronized {
    elemTxs.get(e).flatMap(_.rangeTo(asOf).lastOption).getOrElse(-1L)
  }

  /** Latest tx of `e` strictly before `before` (previous-version step). */
  def prevTxOf(e: Long, before: Long): Option[Long] = synchronized {
    elemTxs.get(e).flatMap(_.rangeUntil(before).lastOption)
  }

  /** Earliest tx of `e` strictly after `after` (next-version step). */
  def nextTxOf(e: Long, after: Long): Option[Long] = synchronized {
    elemTxs.get(e).flatMap(_.rangeFrom(after + 1).headOption)
  }

  /** Instant of a committed tx (O(1) map lookup). */
  def instantOf(tx: Long): Option[Timestamp] =
    synchronized(txInstants.get(tx))

  /** Max tx whose instant ≤ `at`, -1 when none: one floor lookup on the
    * staircase. */
  def resolveTx(at: Timestamp): Long = synchronized {
    val hit = staircase.floorEntry(at)
    if (hit == null) -1L else hit.getValue.longValue
  }

  /** Facts about `e` in (tx, seq) order — an entity-index read, O(history of e). */
  def factsOf(e: Long): Seq[Fact] =
    synchronized(entityFacts.get(e).fold(Seq.empty[Fact])(_.toVector))

  /** Ids of the edges whose out/in endpoint fact ever referenced vertex
    * `v` (retracted or re-pointed ones included) — a reference-index read. */
  def edgesReferencing(v: Long): Seq[Long] =
    synchronized(refEdges.get(v).fold(Seq.empty[Long])(_.toVector))

  // ---- driver-local reads (the "peer cache" fast path; the same data is
  //      always available set-oriented via the DataFrames below) ----
  def allFacts: Seq[Fact] = synchronized(facts.toSeq)
  def allTouches: Seq[Touch] = synchronized(touches.toSeq)
  def allTxs: Seq[TxMeta] = synchronized(txs.toSeq)

  def factsDF: DataFrame = {
    val ds: Dataset[Fact] = spark.createDataset(allFacts)
    ds.toDF()
  }
  def touchesDF: DataFrame = spark.createDataset(allTouches).toDF()
  def txsDF: DataFrame = spark.createDataset(allTxs).toDF()

  /** Persist the log as Parquet partitioned by tx-range buckets so later
    * asOf reads prune files (SURVEY §1.4: partition by tx-range). */
  def save(root: String, txBucketSize: Long = 1000L): Unit = {
    import org.apache.spark.sql.functions._
    factsDF.withColumn("txBucket", expr(s"tx div $txBucketSize"))
      .write.mode("overwrite").partitionBy("txBucket").parquet(s"$root/facts")
    touchesDF.write.mode("overwrite").parquet(s"$root/touches")
    txsDF.write.mode("overwrite").parquet(s"$root/txs")
    StoreMeta.write(spark, root, txBucketSize, preDeduped = false)
  }

  /** Persist the log as a BUCKETED table (hash-bucketed + sorted by `e`):
    * downstream per-entity joins and the latest-wins aggregation read
    * co-located buckets and skip their shuffle (`bucketBy` needs a table
    * catalog, hence saveAsTable rather than a path write). */
  def saveBucketedTable(table: String, buckets: Int = 32): Unit =
    factsDF.write.mode("overwrite")
      .bucketBy(buckets, "e").sortBy("e", "attr")
      .saveAsTable(table)
}

object FactLog {
  /** Open a hash-bucketed fact table (saved by
    * [[MemFactLog.saveBucketedTable]] or any `bucketBy(n, "e")` writer) as
    * a store for point-read-heavy workloads: an `e = id` filter prunes the
    * scan to ONE bucket (the plan shows `SelectedBucketsCount: 1 out of n`)
    * instead of scanning the whole fact set — the Spark analog of the
    * reference's O(log n) EAVT point read (FluxGraph.java:186-198). The
    * same layout co-locates per-entity joins/aggregations (no exchange). */
  def openBucketedTable(spark: SparkSession, table: String,
                        preDeduped: Boolean = false): BulkFactStore =
    BulkFactStore.singleTx(spark, spark.table(table), preDeduped)

  /** Reopen a saved log as a bulk store; the retained txBucket partition
    * column lets Snapshot asOf reads prune whole tx-range directories,
    * and a persisted `preDeduped=true` (compacted store) keeps the
    * max_by-free snapshot path across the durability round-trip. */
  def open(spark: SparkSession, root: String): BulkFactStore = {
    val meta = StoreMeta.read(spark, root)
    new BulkFactStore(spark,
      spark.read.parquet(s"$root/facts"),
      spark.read.parquet(s"$root/touches"),
      spark.read.parquet(s"$root/txs"),
      preDeduped = meta.get("preDeduped").contains("true"),
      txBucketSize = meta.get("txBucketSize").flatMap(_.toLongOption))
  }
}

/**
 * Log compaction — the maintenance pass a 100 TB temporal store runs to
 * stop paying for dead history on every read: rewrite the log as ONLY
 * its latest-wins live facts (retractions and superseded versions
 * dropped), marked `preDeduped` so every later snapshot skips the
 * latest-wins shuffle entirely (Snapshot.currentFacts takes the
 * identity path). Head-state semantics are preserved EXACTLY — same
 * currentFacts, same per-element max time id (each element keeps one
 * touch at its last tx) — while pre-head history is intentionally
 * truncated: an asOf into the compacted-away past is out of contract,
 * the same trade a Datomic-style decant/excision makes. Facts keep
 * their ORIGINAL tx stamps, so `getTimeId`-class queries still answer
 * correctly at head.
 */
/** Ops-grade integrity audit over a fact log: per attribute, the row
  * count plus an ADDITIVE md5 checksum — Σ uint32(md5(canonical-row))
  * mod 2⁶¹. The sum is order-free integer addition, so two replicas (or
  * a backup vs its source, or a re-projection vs the original) compare
  * checksums without any sort, shuffle-order sensitivity, or row
  * pairing; corruption, loss, or duplication of any row moves the sum.
  * The canonical rendering covers the exactly-stringifiable columns
  * (e, attr, vStr, vLong, vRef, tx, added) — double/decimal/timestamp
  * payloads still contribute their row's identity fields, so dropped or
  * duplicated rows of ANY type are caught; only an in-place float-bit
  * flip is outside the contract (cross-engine float rendering is not
  * portable, the §28 doctrine). The mod-2⁶¹ keeps the published value
  * inside BIGINT at any corpus size. The internal sum runs as TWO
  * bounded Long sums (hi = term ≫ 16, lo = term & 0xFFFF — each addend
  * < 2¹⁶, so the Long partials stay exact below 2⁴⁷ rows per attr,
  * far past any fact log) recombined in DECIMAL(38,0) on the #attrs
  * RESULT rows only: a direct sum(DECIMAL) pays a per-fact BigDecimal
  * (interleaved A/B at sf0.1: 3.48 → 1.87 s median, 1.85×), and a
  * single Long sum of uint32 terms would wrap past ~4·10⁹ rows.
  * One map-side-combined aggregation; shuffle = #attrs rows. */
object LogAudit {
  import org.apache.spark.sql.functions._

  private val Mod = "2305843009213693952" // 2^61

  def checksums(facts: DataFrame): DataFrame = {
    val nul = lit("~null~")
    val canon = concat_ws("|",
      col("e").cast("string"), col("attr"),
      coalesce(col("vStr"), nul),
      coalesce(col("vLong").cast("string"), nul),
      coalesce(col("vRef").cast("string"), nul),
      col("tx").cast("string"), col("added").cast("string"))
    val term = conv(substring(md5(canon), 1, 8), 16, 10).cast("long")
    facts.select(col("attr"), term.as("t"))
      .groupBy(col("attr")).agg(
        count(lit(1)).cast("long").as("n_facts"),
        sum(shiftright(col("t"), 16)).as("hi"),
        sum(col("t").bitwiseAND(lit(0xFFFFL))).as("lo"))
      .select(col("attr"), col("n_facts"),
        ((lit(65536L).cast("decimal(38,0)") * col("hi") + col("lo"))
          % lit(Mod).cast("decimal(38,0)")).cast("long").as("checksum"))
  }
}

object Compaction {
  import org.apache.spark.sql.functions._

  def compact(spark: SparkSession, store: FactStore): BulkFactStore = {
    val head = new graft.snapshot.Snapshot(store)
    // currentFacts: (e, attr, <valueCols>, tx) — re-shape to the Fact
    // schema as single-version assertions
    // MATERIALIZE the rewrite (eager checkpoint): compaction pays the
    // latest-wins aggregation exactly once, here — a lazy view would
    // re-run it on every later read, which is the cost compaction exists
    // to remove. (Persist durably via the compacted store's save().)
    val facts = head.currentFacts.select(
      Seq(col("e"), col("attr")) ++ Fact.valueCols.map(col) ++
        Seq(col("tx"), lit(0L).as("seq"), lit(true).as("added")): _*)
      .localCheckpoint(true)
    // one touch per element at its last tx; prevTx = -1 marks the chain
    // start (no prior version survives compaction)
    val touches = store.touchesDF.groupBy(col("e"))
      .agg(max(col("tx")).as("tx"))
      .withColumn("prevTx", lit(-1L))
      .select(col("e"), col("tx"), col("prevTx"))
      .localCheckpoint(true)
    new BulkFactStore(spark, facts, touches, store.txsDF, preDeduped = true)
  }

  /** One-row history profile of a store — the signal the auto-compaction
    * policy reads: total fact rows, live (latest-wins head) rows, dead
    * rows, and dead/live. Costs one latest-wins pass + one count — the
    * same work ONE snapshot read already pays, so profiling before a
    * maintenance window is cheap relative to guessing wrong either way
    * (compacting a clean store, or reading a 90%-dead one all week). */
  def historyProfile(spark: SparkSession, store: FactStore): DataFrame = {
    import spark.implicits._
    val total = store.factsDF.count()
    val live = new graft.snapshot.Snapshot(store).currentFacts.count()
    val dead = total - live
    val ratio = if (live == 0L) (if (dead == 0L) 0d else Double.PositiveInfinity)
                else dead.toDouble / live
    Seq((total, live, dead, ratio))
      .toDF("n_facts", "n_live", "n_dead", "dead_ratio")
  }

  /** Profile-guided compaction: rewrite only when dead history outweighs
    * live state by more than `maxDeadRatio` (default 1.0 = compact once
    * less than half the log is live). Returns the store to KEEP READING
    * (original when below threshold — untouched, not rewritten) plus
    * whether compaction ran. The deployment loop is
    * `store = compactIfNeeded(spark, store)._1` on a maintenance cadence. */
  def compactIfNeeded(spark: SparkSession, store: FactStore,
                      maxDeadRatio: Double = 1.0): (FactStore, Boolean) = {
    val p = historyProfile(spark, store).head()
    if (p.getAs[Double]("dead_ratio") > maxDeadRatio)
      (compact(spark, store), true)
    else (store, false)
  }

  /** Retention compaction — the production shape: squash all history at
    * or before `cutoffTx` into its latest-wins state (original tx stamps
    * kept) and keep every later fact verbatim. For ANY checkpoint t ≥
    * cutoff, `asOf(t)` over the result equals `asOf(t)` over the
    * original store EXACTLY (later retractions still win over squashed
    * facts because latest-wins orders by tx); checkpoints before the
    * cutoff are out of contract, as with [[compact]]. The result is NOT
    * preDeduped — later history may supersede squashed facts — but every
    * read now aggregates over live-at-cutoff + tail instead of the full
    * dead history. */
  def compactBefore(spark: SparkSession, store: FactStore,
                    cutoffTx: Long): BulkFactStore = {
    val pinned = new graft.snapshot.Snapshot(store, cutoffTx).currentFacts
      .select(Seq(col("e"), col("attr")) ++ Fact.valueCols.map(col) ++
        Seq(col("tx"), lit(0L).as("seq"), lit(true).as("added")): _*)
    val factCols = Seq(col("e"), col("attr")) ++ Fact.valueCols.map(col) ++
      Seq(col("tx"), col("seq"), col("added"))
    val tail = store.factsDF.where(col("tx") > cutoffTx).select(factCols: _*)
    val facts = pinned.unionByName(tail).localCheckpoint(true)
    // squashed elements keep one chain-start touch at their last
    // pre-cutoff tx; later touches survive verbatim
    val squashedTouches = store.touchesDF.where(col("tx") <= cutoffTx)
      .groupBy(col("e")).agg(max(col("tx")).as("tx"))
      .withColumn("prevTx", lit(-1L))
      .select(col("e"), col("tx"), col("prevTx"))
    val touches = squashedTouches
      .unionByName(store.touchesDF.where(col("tx") > cutoffTx)
        .select(col("e"), col("tx"), col("prevTx")))
      .localCheckpoint(true)
    new BulkFactStore(spark, facts, touches, store.txsDF)
  }
}
