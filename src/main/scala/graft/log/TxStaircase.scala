package graft.log

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal

/**
 * Instant → tx "staircase": the driver-side answer to "max tx whose
 * instant ≤ d" (setCheckpointTime, FluxGraph.java:224-243), strictly
 * increasing in both instant and tx. Txs are appended in tx order; a tx
 * whose instant is ≥ a later tx's instant can never be the max tx at or
 * before any date, so [[add]] drops it. [[floor]] is then one binary
 * search.
 *
 * Instants are keyed as Spark encodes a timestamp literal (µs since the
 * epoch, [[key]]), so a lookup compares exactly as the SQL predicate
 * `txInstant <= lit(d)` over the stored tx table does. Two primitive
 * arrays hold the entries: no boxed `Timestamp` per tx.
 */
private[graft] final class TxStaircase(capacity: Int = 16) {
  private var instants = new Array[Long](math.max(capacity, 1))
  private var txs = new Array[Long](instants.length)
  private var n = 0

  /** Append `tx` (≥ every tx added before) committed at `instant`. */
  def add(instant: Long, tx: Long): Unit = {
    while (n > 0 && instants(n - 1) >= instant) n -= 1
    if (n == instants.length) {
      instants = java.util.Arrays.copyOf(instants, n * 2)
      txs = java.util.Arrays.copyOf(txs, n * 2)
    }
    instants(n) = instant; txs(n) = tx; n += 1
  }

  /** Max tx whose instant ≤ `at`; -1 when none. */
  def floor(at: Timestamp): Long = {
    val i = java.util.Arrays.binarySearch(instants, 0, n, TxStaircase.key(at))
    val step = if (i >= 0) i else -i - 2
    if (step < 0) -1L else txs(step)
  }
}

private[graft] object TxStaircase {
  /** A timestamp as Spark's `lit(at)` encodes it. */
  def key(at: Timestamp): Long = Literal(at).value.asInstanceOf[Long]

  /** Fold a `(tx, txInstant)` table in tx order with one collect. Rows
    * with a null tx or instant are skipped, as `txInstant <= d` skips
    * them. The second value is `max(tx)` over every non-null tx (-1 when
    * none): the staircase's last step unless the max tx has a null
    * instant. */
  def collect(txsDF: DataFrame): (TxStaircase, Long) = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val rows = txsDF.where(col("tx").isNotNull)
      .select(col("tx"), unix_micros(col("txInstant").cast("timestamp")))
      .collect()
    val order = rows.indices.sortBy(i => rows(i).getLong(0))
    val stairs = new TxStaircase(rows.length)
    order.foreach { i =>
      if (!rows(i).isNullAt(1)) stairs.add(rows(i).getLong(1), rows(i).getLong(0))
    }
    (stairs, if (rows.isEmpty) -1L else rows(order.last).getLong(0))
  }
}
