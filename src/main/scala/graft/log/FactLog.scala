package graft.log

import scala.collection.mutable
import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.graftshim.Relations
import org.apache.spark.sql.types.StructType
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

  /** Resolve an as-of date to the max tx whose instant ≤ date, -1 when
    * none (FluxGraph.java:224-243 does a hand-rolled max over all txs).
    * Both stores answer on the driver from a [[TxStaircase]], with no
    * Spark job: the tx table is small next to the facts, and a `max`
    * aggregation per call would pay Spark's fixed cost of two jobs on
    * every as-of read. */
  def resolveTx(at: Timestamp): Long

  /** Highest committed tx id (head of the log), -1 when empty. */
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

  /** Persist the store in the durable layout [[FactLog.open]] reopens;
    * `preDeduped` survives the round-trip via `_graft_meta`. */
  def save(root: String, txBucketSize: Long = 1000L): Unit =
    FactLog.write(root, factsDF, touchesDF, txsDF, txBucketSize, preDeduped)
}

/** Bulk, set-oriented store: all three tables supplied as DataFrames.
  * Used by projections that build the log with pure DataFrame transforms,
  * and by [[FactLog.open]] over a log saved in the layout it describes. */
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

  /** The tx table folded into a staircase by one collect, on first use.
    * A bulk store is immutable (the contract `headTx` always assumed), so
    * it is built once per store. */
  private lazy val txIndex: (TxStaircase, Long) = TxStaircase.collect(txsDF)

  def resolveTx(at: Timestamp): Long = txIndex._1.floor(at)

  def headTx: Long = txIndex._2
}

/** `_graft_meta` sidecar: key=value lines written through the Hadoop
  * FileSystem API resolved from the session's hadoopConfiguration, so
  * save/open work against ANY Spark-reachable root (hdfs://, s3a://,
  * file:), not just a driver-local path. `buckets` is the layout's n
  * ([[FactLog]]); stores saved before that layout have none. */
private[graft] object StoreMeta {
  import org.apache.hadoop.fs.Path

  def write(spark: SparkSession, root: String, txBucketSize: Long,
            preDeduped: Boolean, buckets: Int): Unit = {
    val path = new Path(root, "_graft_meta")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(
      s"txBucketSize=$txBucketSize\npreDeduped=$preDeduped\nbuckets=$buckets\n"
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
    * graphs). */
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
 *  - instant staircase ([[TxStaircase]]): [[resolveTx]] in O(log txs).
 * Whole-graph reads ([[allFacts]]) still scan the log.
 *
 * The DataFrames are ONE partition each: their rows already sit in this
 * JVM, so splitting them buys no parallelism, and a single partition
 * satisfies every clustered distribution — latest-wins and per-element
 * windows over the log plan no exchange (a snapshot read is one job,
 * with no shuffle). Rows are encoded once ([[EncodedRows]]), so a read
 * encodes O(new facts), not O(log) — at the price of driver memory: each
 * fact, touch and tx once read is also held as an encoded row (roughly
 * 100–200 bytes a fact) for the life of the log.
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
  /** instant → tx staircase, appended at every commit. */
  private val staircase = new TxStaircase
  private val factRows  = new EncodedRows(facts)
  private val touchRows = new EncodedRows(touches)
  private val txRows    = new EncodedRows(txs)
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
    staircase.add(TxStaircase.key(instant), tx)
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
  def resolveTx(at: Timestamp): Long = synchronized(staircase.floor(at))

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

  def factsDF: DataFrame = factRows.df(spark, this)
  def touchesDF: DataFrame = touchRows.df(spark, this)
  def txsDF: DataFrame = txRows.df(spark, this)

  /** Facts encoded so far for [[factsDF]]. */
  private[graft] def encodedFacts: Int = synchronized(factRows.encoded)
}

/** The rows of an append-only driver buffer, each encoded once: a read
  * under the owning log's lock encodes what was appended since the last
  * read, and the frame holds an immutable vector, blind to later appends. */
private final class EncodedRows[T: TypeTag](src: mutable.ArrayBuffer[T]) {
  private val enc = ExpressionEncoder[T]()
  private val toRow = enc.createSerializer()
  private var rows = Vector.empty[InternalRow]
  /** Encodings done so far. */
  var encoded = 0
  def df(spark: SparkSession, lock: AnyRef): DataFrame = {
    val upToDate = lock.synchronized {
      rows ++= src.view.drop(rows.size).map { t => encoded += 1; toRow(t).copy() }; rows
    }
    Relations.localRows(spark, enc.schema, upToDate).coalesce(1)
  }
}

/**
 * The durable layout: one writer behind both stores' `save`, read back
 * by [[open]] — the Spark analog of the EAVT index the reference reads
 * directly (FluxEdge.java:80-89). `facts/` is parquet partitioned by
 * `txBucket = tx div txBucketSize` (asOf and since reads prune tx
 * ranges) and bucketed by `e` into n files per partition, sorted by
 * (e, attr, tx); `touches/` is bucketed by `e`, sorted by (e, tx);
 * `txs/` is plain; `_graft_meta` is [[StoreMeta]]. Each table is
 * repartitioned on `e` into n tasks first, so every (txBucket, bucket)
 * pair is one file. Reopened with the spec, scans report hash
 * clustering on `e`: latest-wins, `prop`⋈`prop`, the fused diff and
 * version-chain windows plan no exchange, and `e = id` reads one bucket.
 * n = max(1, ⌈estimated facts size ∕ spark.sql.files.maxPartitionBytes⌉),
 * one bucket per split a scan would make anyway, capped at
 * spark.sql.sources.bucketing.maxBuckets; fixed at write. A meta without
 * `buckets` (a store saved before this layout) opens as plain parquet.
 */
object FactLog {
  import org.apache.spark.sql.catalyst.catalog.BucketSpec
  import org.apache.spark.sql.functions.{col, expr}

  private def factsSpec(n: Int) = BucketSpec(n, Seq("e"), Seq("e", "attr", "tx"))
  private def touchesSpec(n: Int) = BucketSpec(n, Seq("e"), Seq("e", "tx"))

  private[log] def write(root: String, facts: DataFrame, touches: DataFrame, txs: DataFrame,
                         txBucketSize: Long, preDeduped: Boolean): Unit = {
    val conf = facts.sparkSession.sessionState.conf
    val size = facts.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((size + conf.filesMaxPartitionBytes - 1) / conf.filesMaxPartitionBytes)
      .max(1).min(conf.bucketingMaxBuckets).toInt
    Relations.writeBucketed(facts.withColumn("txBucket", expr(s"tx div $txBucketSize"))
      .repartition(n, col("e")), s"$root/facts", Seq("txBucket"), factsSpec(n))
    Relations.writeBucketed(touches.repartition(n, col("e")), s"$root/touches", Nil, touchesSpec(n))
    txs.write.mode("overwrite").parquet(s"$root/txs")
    StoreMeta.write(facts.sparkSession, root, txBucketSize, preDeduped, n)
  }

  /** Reopen a saved log as a bulk store: asOf reads prune txBucket
    * directories, per-entity reads skip their shuffle, and a persisted
    * `preDeduped=true` (compacted store) keeps the max_by-free path. */
  def open(spark: SparkSession, root: String): BulkFactStore = {
    val meta = StoreMeta.read(spark, root)
    def table(name: String, schema: StructType, spec: Int => BucketSpec): DataFrame =
      meta.get("buckets").flatMap(_.toIntOption).fold(spark.read.parquet(s"$root/$name"))(
        n => Relations.readBucketed(spark, s"$root/$name", schema, spec(n)))
    new BulkFactStore(spark,
      table("facts", Encoders.product[Fact].schema.add("txBucket", "long"), factsSpec),
      table("touches", Encoders.product[Touch].schema, touchesSpec),
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
