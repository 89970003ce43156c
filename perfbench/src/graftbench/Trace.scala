package graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Spark work counted for one span (or one layer, once summed). */
final class Counters {
  var jobs, tasks, failedTasks, inputRecords = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, gcMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    inputRecords += o.inputRecords
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** One call into a layer. `request` is -1 during set-up. */
final case class Span(id: Int, parent: Int, request: Int, layer: String,
                      name: String, start: Long) {
  var end = 0L
  /** Rows a sink span wrote. */
  var resultRows = 0L
  val counters = new Counters
}

/** Records spans around the benchmark's calls into graft's layers. While
  * `on`, each span's id is the thread's `graftbench.span` local property,
  * which Spark copies onto every job the call submits; [[LayerListener]]
  * bills the job's tasks to that span. Spans stay in memory until the run
  * ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  var request = -1
  private var sc: SparkContext = _
  private var stack = List.empty[Span]

  def attach(context: SparkContext): Unit = sc = context

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), request, layer, name,
        System.nanoTime())
      spans.synchronized(spans += s)
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  /** A lazy frame's sink: a noop write billed to `layer`. While tracing, an
    * observation counts the rows it writes. */
  def sink(layer: String, df: DataFrame): Unit = span(layer, "sink") {
    if (!on) Workload.sink(df)
    else {
      val rows = Observation()
      Workload.sink(df.observe(rows, count(lit(1)).as("n")))
      stack.head.resultRows = rows.get("n").asInstanceOf[Long]
    }
  }

  def spanOf(id: Int): Option[Span] =
    spans.synchronized(if (id >= 0 && id < spans.size) Some(spans(id)) else None)

  /** Self time: the span's duration minus the time its children cover
    * (children of one span run one after another on the client thread). */
  def selfNanos(): Map[Int, Long] = {
    val ss = spans.synchronized(spans.toVector)
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.end - s.start)
    ss.map(s => s.id -> (s.end - s.start - childTime(s.id))).toMap
  }
}

object Tracer { val Key = "graftbench.span" }

/** Bills task metrics to spans and follows the storage of cached blocks.
  * Every callback runs on Spark's single listener-bus thread. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val blockMem = mutable.Map.empty[String, Long]
  private val rddBlocks = mutable.Map.empty[Int, mutable.Set[String]]
  private var cachedBytes = 0L
  var cachedBytesPeak = 0L
  var blocksEvicted = 0L
  var blocksUnpersisted = 0L

  def resetPeak(): Unit = synchronized { cachedBytesPeak = cachedBytes }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .fold(-1)(_.toInt)
    tracer.spanOf(id).foreach { s =>
      s.counters.jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).flatMap(tracer.spanOf).foreach { s =>
      val c = s.counters
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val key = info.blockId.name
      val before = blockMem.getOrElse(key, 0L)
      val blocks = rddBlocks.getOrElseUpdate(rdd.rddId, mutable.Set.empty)
      if (info.storageLevel.isValid) blocks += key else blocks -= key
      val now = if (info.storageLevel.useMemory) info.memSize else 0L
      // a block that leaves memory while its RDD is still cached was evicted
      if (before > 0 && now == 0) blocksEvicted += 1
      if (now > 0) blockMem(key) = now else blockMem -= key
      cachedBytes += now - before
      cachedBytesPeak = math.max(cachedBytesPeak, cachedBytes)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    rddBlocks.remove(e.rddId).foreach { blocks =>
      blocksUnpersisted += blocks.size
      blocks.foreach(k => cachedBytes -= blockMem.remove(k).getOrElse(0L))
    }
  }
}
