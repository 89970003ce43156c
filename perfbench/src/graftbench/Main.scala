package graftbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of one graft workload: one client thread sends
  * its next request when the previous one returns.
  *
  * A run builds the workload's stores and indexes `--setup-reps` times,
  * each in a fresh session (so no memo survives), keeps the last, and
  * sends one warm-up request per operation type; set-up time is the
  * median build plus the warm-up. It then runs whole cycles of the
  * operation types, in a seeded order, until `--seconds` have passed and
  * at least `--min-cycles` are done; last, it checks outputs against
  * references. With `--trace 1` half the cycles are traced, and the
  * untraced ones give the tracing overhead. Prints one `GRAFTBENCH_RESULT <json>` line. */
object Main {
  val Layers = Seq("projection", "log", "snapshot", "temporal", "graph", "gx", "pipeline")
  private val MB = 1024.0 * 1024.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val reps = a("setup-reps").toInt
    val minCycles = a("min-cycles").toInt
    val work = a("work")
    val sizes = a.getOrElse("sizes", "")
      .split(",").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v.toLong }.toMap

    val tracer = new Tracer
    val root = new SplittableRandom(seed)
    val orderRnd = root.split()
    val paramRnd = root.split()
    val checkRnd = root.split()
    val warmRnd = root.split()

    val wl: Workload = workload match {
      case "temporal_mix" => new Mixed(
        new AsofReads(a("data"), work, tracer, sizes("ts_min_us"), sizes("ts_max_us"),
          sizes("users").toInt),
        new CrudMix(tracer, seed))
      case "analytics" => new Mixed(
        new GraphRounds(a("data"), tracer, sizes("customers").toInt, sizes("suppliers").toInt),
        new Curation(a("data"), tracer))
    }

    // ---- set-up: store/index builds, repeated in fresh sessions of one
    // context with its cache cleared (so no memo survives; the last build
    // is kept), then one warm-up request per operation type ----
    val base = session(s"graftbench-$workload", cpus, work)
    val sessionReadyS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    base.sparkContext.setLogLevel("ERROR")
    val sc = base.sparkContext
    tracer.attach(sc)
    val listener = new LayerListener(tracer)
    sc.addSparkListener(listener)
    var spark = base
    val buildTimes = mutable.ArrayBuffer.empty[Double]
    (1 to reps).foreach { rep =>
      if (rep > 1) {
        base.catalog.clearCache()
        spark = base.newSession()
        spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
      }
      tracer.on = traced && rep == reps
      val t0 = System.nanoTime()
      wl.setup(spark)
      buildTimes += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    tracer.request = -1
    wl.opTypes.foreach { op =>
      val r = wl.request(op, warmRnd)
      tracer.span("request", "warmup." + op)(r.run())
    }
    val warmupSeconds = (System.nanoTime() - w0) / 1e9
    val built = wl.built

    // ---- timed closed loop ----
    val canaryBefore = canary(spark, cpus)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    heapPools.foreach(_.resetPeakUsage())
    Bus.drain(sc)
    listener.resetPeak()
    val gc0 = gcMs
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    case class Done(op: String, traced: Boolean, ms: Double)
    val done = mutable.ArrayBuffer.empty[Done]
    val lastOf = mutable.Map.empty[String, Req] // each type's latest answered request
    var failed = 0
    var cycle = 0
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    // traced runs trace cycles 1 and 2 of every 4 (untraced, traced,
    // traced, untraced), so warming up over the loop favours neither side
    while (elapsed < seconds || cycle < minCycles || traced && cycle % 4 != 0) {
      val on = traced && (cycle % 4 == 1 || cycle % 4 == 2)
      tracer.on = on
      shuffled(wl.cycle, orderRnd).foreach { op =>
        val r = wl.request(op, paramRnd)
        tracer.request = done.size
        val t = System.nanoTime()
        val ok = try { tracer.span("request", op)(r.run()); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[graftbench] request ${done.size} $op ${r.params} failed: $e")
              false
          }
        if (!ok) failed += 1 else lastOf(op) = r
        done += Done(op, on, (System.nanoTime() - t) / 1e6)
      }
      cycle += 1
    }
    val loopSeconds = elapsed
    val loopCpuSeconds = (os.getProcessCpuTime - cpu0) / 1e9
    tracer.on = false
    val gcLoopS = (gcMs - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / MB

    // storage and heap held at loop end, once the cleaner has freed what
    // is no longer referenced
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(250) }
    Bus.drain(sc)
    val pinnedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    val rddsCached = sc.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    val heapRetainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    val canaryAfter = canary(spark, cpus)

    // ---- correctness, after the timed window ----
    val c0 = System.nanoTime()
    val checks = lastOf.values.toSeq.sortBy(_.op).flatMap(_.check).map(_()) ++ wl.checks(checkRnd)
    checks.foreach(c => System.err.println(
      s"[graftbench] check ${if (c.ok) "PASS" else "FAIL"}: ${c.name} (${c.detail})"))
    Bus.drain(sc)
    val checksSeconds = (System.nanoTime() - c0) / 1e9

    // ---- metrics ----
    val measured = done.filter(d => !traced || !d.traced)
    val lat = measured.map(_.ms).sorted.toSeq
    val n = lat.size
    // the latency with 10 requests beyond it, or a tenth of the requests
    // (at least one) when there are fewer than 100
    val beyond = math.min(10, math.max(1, n / 10))
    val (tailPct, tailMs) = (100.0 * (n - beyond) / n, lat(n - 1 - beyond))
    // each operation type's median; pooled, the many cheap driver calls or
    // the type order of a few costly requests would decide the median, so
    // p50 is their geometric mean over the types (and over each layer group's)
    val opP50 = measured.groupBy(_.op).map { case (op, ds) => op -> median(ds.map(_.ms).toSeq) }
    val classP50 = opP50.groupBy { case (op, _) => wl.opClass(op) }
      .map { case (c, m) => c -> geomean(m.values) }
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((median(buildTimes.toSeq) + warmupSeconds, "s")),
      "ops_per_s" -> ((done.size / loopSeconds, "1/s")),
      "latency_p50_ms" -> ((geomean(opP50.values), "ms")),
      "latency_tail_ms" -> ((tailMs, "ms")),
      "heap_retained_mb" -> ((heapRetainedMb, "MB")),
      "error_rate" -> (((failed + checks.count(!_.ok)).toDouble / (done.size + checks.size), "ratio")),
      "storage_pinned_mb" -> ((pinnedMb, "MB")))

    val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (traced) {
      val spans = tracer.spans.toVector
      val self = tracer.selfNanos()
      def busy(p: Span => Boolean) = spans.filter(p).map(s => self(s.id)).sum / 1e9
      Layers.foreach { l =>
        val ss = spans.filter(_.layer == l)
        val c = new Counters
        ss.foreach(s => c.add(s.counters))
        val put = (k: String, v: Double, u: String) => layerMetrics(s"$l.$k") = (v, u)
        put("calls", ss.count(_.name != "sink"), "count")
        put("busy_s", busy(_.layer == l), "s")
        put("jobs", c.jobs, "count"); put("tasks", c.tasks, "count")
        put("input_records", c.inputRecords, "count")
        put("shuffle_read_bytes", c.shuffleReadBytes, "bytes")
        put("shuffle_write_bytes", c.shuffleWriteBytes, "bytes")
        put("spill_bytes", c.spillBytes, "bytes")
        put("gc_s", c.gcMs / 1000.0, "s")
        put("failed_tasks", c.failedTasks, "count")
        if (l == "snapshot") put("rows_examined_per_result",
          c.inputRecords.toDouble / math.max(1L, ss.map(_.resultRows).sum), "ratio")
        if (l == "gx") put("jobs_per_call", c.jobs.toDouble / math.max(1, ss.count(_.name != "sink")), "ratio")
      }
      layerMetrics("graph.write_busy_s") = (busy(s => s.layer == "graph" && s.name.startsWith("write.")), "s")
      layerMetrics("graph.read_busy_s") = (busy(s => s.layer == "graph" && s.name.startsWith("read.")), "s")
      layerMetrics("storage.cached_mb_peak") = (listener.cachedBytesPeak / MB, "MB")
      layerMetrics("storage.blocks_evicted") = (listener.blocksEvicted.toDouble, "count")
      layerMetrics("storage.blocks_unpersisted") = (listener.blocksUnpersisted.toDouble, "count")
      layerMetrics("storage.rdds_cached_end") = (rddsCached.toDouble, "count")
      layerMetrics("storage.pinned_mb_end") = (pinnedMb, "MB")
      layerMetrics("jvm.heap_peak_mb") = (heapPeakMb, "MB")
      layerMetrics("jvm.gc_s") = (gcLoopS, "s")
      layerMetrics("canary.before_s") = (canaryBefore, "s")
      layerMetrics("canary.after_s") = (canaryAfter, "s")
      // traced cycles against the untraced cycles of the same run
      val byTrace = done.groupBy(_.traced).map { case (k, ds) => k -> ds.map(_.ms).sum }
      layerMetrics("trace.overhead_pct") =
        (100.0 * (byTrace.getOrElse(true, 0.0) / byTrace.getOrElse(false, 1.0) - 1), "%")
      writeSpans(s"$work/spans.jsonl", tracer, self)
    }

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    def metricObj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      obj(m.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
    val out = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "attempted" -> (done.size + checks.size).toString,
      "failed" -> (failed + checks.count(!_.ok)).toString,
      "requests" -> done.size.toString, "cycles" -> cycle.toString,
      "loop_s" -> num(loopSeconds), "loop_cpu_s" -> num(loopCpuSeconds),
      "tail_percentile" -> num(tailPct), "tail_n" -> n.toString,
      "build_reps_s" -> buildTimes.map(num).mkString("[", ", ", "]"),
      "warmup_s" -> num(warmupSeconds),
      "session_ready_s" -> num(sessionReadyS), "checks_s" -> num(checksSeconds),
      "jvm_s" -> num((System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0),
      "canary_before_s" -> num(canaryBefore), "canary_after_s" -> num(canaryAfter),
      "built" -> obj(built.map { case (k, v) => k -> (v match {
        case x: Number => x.toString; case x => str(x.toString) }) }),
      "checks" -> checks.map(c => obj(Seq("name" -> str(c.name), "ok" -> c.ok.toString,
        "detail" -> str(c.detail)))).mkString("[", ", ", "]"),
      "latencies_ms" -> measured.map(d => obj(Seq("op" -> str(d.op), "ms" -> num(d.ms)))).mkString("[", ", ", "]"),
      "per_op_p50_ms" -> obj(opP50.map { case (op, v) => op -> num(v) }),
      "per_class_p50_ms" -> obj(classP50.map { case (c, v) => c -> num(v) }),
      "metrics" -> metricObj(metrics),
      "layer_metrics" -> metricObj(layerMetrics)))
    println("GRAFTBENCH_RESULT " + out)
    base.stop()
  }

  def session(name: String, cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(name)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", graft.functions.GraftExtensions.configValue)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Parallel xxhash canary: `cpus` partitions of hashing, one per task thread.
    * Its time moves with host contention, not with graft's code. */
  def canary(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    def once() = {
      val t = System.nanoTime()
      spark.range(0L, cpus * 1000000L, 1L, cpus).select(xxhash64(col("id")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    once()
    median(Seq.fill(3)(once()))
  }

  def shuffled[T](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  def geomean(xs: Iterable[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double = {
    val pos = q * (sorted.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  private def writeSpans(path: String, tracer: Tracer, self: Map[Int, Long]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try tracer.spans.foreach { s =>
      val c = s.counters
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "request": ${s.request}, """ +
        s""""layer": "${s.layer}", "name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""self_ns": ${self(s.id)}, "jobs": ${c.jobs}, "tasks": ${c.tasks}, """ +
        s""""input_records": ${c.inputRecords}, "result_rows": ${s.resultRows}, """ +
        s""""shuffle_read_bytes": ${c.shuffleReadBytes}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
        s""""spill_bytes": ${c.spillBytes}, "gc_ms": ${c.gcMs}, "failed_tasks": ${c.failedTasks}}""")
    } finally w.close()
  }
}

/** Starts Spark as [[Main]] does and runs a few small SQL jobs (a parquet
  * write and read, an aggregation, a join, the canary), so that a build can
  * dump the classes they load into the class-data-sharing archive every
  * benchmark run maps. Arguments: cpus, work directory. */
object Classes {
  def main(argv: Array[String]): Unit = {
    val Array(cpus, work) = argv
    val spark = Main.session("graftbench-classes", cpus.toInt, work)
    val path = s"$work/classes.parquet"
    spark.range(0L, 100000L).selectExpr("id", "id % 7 AS k").write.parquet(path)
    val t = spark.read.parquet(path)
    Workload.sink(t.groupBy("k").count().join(t, "k"))
    Main.canary(spark, cpus.toInt)
    spark.stop()
  }
}
