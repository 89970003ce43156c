package graft
import org.apache.spark.sql.SparkSession
/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. Failed queries are reported
  * in an explicit "errors" object (never as fake timings — VERDICT r1).
  *
  * Methodology (VERDICT r2): one-time projection builds are timed
  * separately as `builds` (build_tpch / build_events / build_graphx) so a
  * query's number is the QUERY, not the shared warm-up it happens to run
  * first; each query then runs `SPARK_GRAFT_BENCH_REPS` (default 3) times
  * and reports the MEDIAN. Results are consumed through the noop sink —
  * every column is computed and written, unlike `.count()` which lets
  * Spark skip unused columns. "value" = builds + query medians (the
  * honest end-to-end total); `query_total` is the number comparable to
  * BASELINE.md's per-query band. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", graft.functions.GraftExtensions.configValue)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }

    // ---- phase -1: host-speed canary (VERDICT r10). A fixed CPU
    // microbenchmark — xxhash64 over 10^7 sequential longs in ONE
    // partition — whose runtime depends only on single-core speed, never
    // on data or suite size. Fresh VMs vary ~2x on identical code
    // (BASELINE host-noise protocol); emitting the canary as
    // `host_factor` lets the driver normalize cross-round totals
    // mechanically instead of via prose. One discarded warm-up rep
    // (JIT + codegen), then a 3-rep median. ----
    val hostFactor = {
      import org.apache.spark.sql.functions.{col, xxhash64}
      def rep() = time {
        spark.range(0L, 10000000L, 1L, 1)
          .select(xxhash64(col("id")).as("h"))
          .write.format("noop").mode("overwrite").save()
      }
      rep()
      median(Seq(rep(), rep(), rep()))
    }
    // ---- parallel canary (VERDICT r13 item 1): the single-partition
    // canary above measures single-core turbo, which empirically
    // ANTI-correlates with 32-way suite speed on shared VMs (BASELINE's
    // same-code pairs: 142.4 s at factor 0.286 vs 130.4 s at 0.361) —
    // turbo clocks run highest exactly when sibling vCPUs are idle. The
    // suite runs 32-wide, so normalize against a canary with the same
    // shape: the SAME xxhash microbench at 32 partitions × 10^7 rows
    // each, all cores busy; wall time then reflects the aggregate
    // throughput the suite actually gets. Same protocol: one discarded
    // warm-up, 3-rep median. Both factors are emitted; judge cross-round
    // totals against `host_factor_par`. ----
    val hostFactorPar = {
      import org.apache.spark.sql.functions.{col, xxhash64}
      def rep() = time {
        spark.range(0L, 320000000L, 1L, 32)
          .select(xxhash64(col("id")).as("h"))
          .write.format("noop").mode("overwrite").save()
      }
      rep()
      median(Seq(rep(), rep(), rep()))
    }

    // ---- phase 0: shared projection builds (billed once, separately).
    // A failed build lands in `errors` and the affected queries fail
    // individually — the bench must always print its JSON line. ----
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_BENCH_BUILDS=a,b,c restricts the one-time builds the same
    // way BENCH_ONLY restricts queries (targeted scale probes that don't
    // touch the ANN/compaction caches; the driver never sets it)
    val onlyBuilds = sys.env.get("SPARK_GRAFT_BENCH_BUILDS")
      .map(_.split(",").map(_.trim).toSet)
    def build(name: String)(body: => Unit): Unit =
      if (onlyBuilds.forall(_.contains(name)))
        try builds(name) = time(body)
        catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
        }
    build("build_tpch") {
      val s = projection.TpchGraph.snapshot(spark, sfDir)
      s.currentFacts.count(); s.edges.count()
    }
    build("build_events") {
      projection.EventsReplay.snapshot(spark, sfDir).currentFacts.count(); ()
    }
    build("build_graphx") {
      gx.GraphXTraversal.cachedGraph(
        projection.TpchGraph.snapshot(spark, sfDir)).edges.count(); ()
    }
    build("build_ivf") {
      pipeline.VectorOps.IvfCache.index(spark, sfDir).indexed.count()
      // the dedup-scaled clustering (k = max(16, N/32)) is an index
      // build like the others; dedup_semantic measures the verify join
      pipeline.VectorOps.IvfCache.dedupIndex(spark, sfDir).indexed.count()
      // the opened twin: save + reopen billed here too, so ann_ivf_opened
      // measures SEARCH over the reopened index, not index I/O
      pipeline.VectorOps.IvfCache.opened(spark, sfDir).indexed.count()
      // base-build + incremental append for ann_ivf_appended
      SparkEntry.IvfAppendCache.get(spark, sfDir).index.indexed.count(); ()
    }
    build("build_knn") {
      // the memoized kNN-graph frame (r12): knn_graph / knn_mutual_rate /
      // knn_label_purity all read this one checkpointed self-search
      pipeline.VectorOps.IvfCache.knnGraphFrame(spark, sfDir).count(); ()
    }
    build("build_pq") {
      pipeline.VectorOps.PqCache.get(spark, sfDir); ()
    }
    build("build_bpe") {
      // tokenizer training (8 merge rounds over the word-frequency
      // dictionary) is a one-time artifact build; the bpe_* queries
      // measure reads of the merge table / segmentation
      pipeline.TextOps.BpeCache.trained(spark, sfDir, 8)._2.count(); ()
    }
    build("build_compaction") {
      // compaction is a one-time maintenance pass (ADVICE r6): bill the
      // rewrite here; compacted_state/retained_state measure the READ
      SparkEntry.CompactionCache.compacted(spark, sfDir)
      SparkEntry.CompactionCache.retained(spark, sfDir,
        java.sql.Timestamp.from(java.time.LocalDateTime
          .parse("2024-01-10T00:00:00").toInstant(java.time.ZoneOffset.UTC)))
      ()
    }

    // ---- per-query contention canary (VERDICT r14 items 1–2): the two
    // startup canaries above are single samples, so a contention window
    // crossed mid-run taints the WHOLE record (the r14 32c bench read
    // host_factor_par 37.3 at startup and was unusable). Sample a MINI
    // parallel canary — the same 32-partition xxhash shape at 1/10 the
    // rows, ~0.1 s on a quiet host — every [[canaryEvery]] queries plus
    // once after the last, keyed by the query it precedes. A contended
    // window now taints specific rows, not the run. Additions only: the
    // timing methodology and the one-line contract are untouched; the
    // series rides the full/sidecar JSON, the compact tail carries only
    // its min/max. ----
    val canaryEvery = 8
    val canarySeries = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def miniCanary(at: String): Unit = {
      import org.apache.spark.sql.functions.{col, xxhash64}
      canarySeries(at) = time {
        spark.range(0L, 32000000L, 1L, 32)
          .select(xxhash64(col("id")).as("h"))
          .write.format("noop").mode("overwrite").save()
      }
    }

    // ---- phase 1: per-query reps, median ----
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (targeted
    // noise probes on a loaded host; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var qIdx = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      if (qIdx % canaryEvery == 0) miniCanary(name)
      qIdx += 1
      try {
        val ts = (1 to reps).map { _ =>
          time(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
        timings(name) = median(ts)
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
      }
    }
    miniCanary("__end__")
    val cs = canarySeries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val canaryMin = if (canarySeries.isEmpty) 0d else canarySeries.values.min
    val canaryMax = if (canarySeries.isEmpty) 0d else canarySeries.values.max
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val bs = builds.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val queryTotal = timings.values.sum
    val buildTotal = builds.values.sum
    val total = queryTotal + buildTotal
    val full = s"""{"metric":"total","value":$total,"unit":"sec","query_total":$queryTotal,"build_total":$buildTotal,"host_factor":$hostFactor,"host_factor_par":$hostFactorPar,"canary_series":$cs,"canary_every":$canaryEvery,"reps":$reps,"agg":"median","queries":$qs,"builds":$bs,"errors":$es,"sf":"$sfDir"}"""
    // full per-query detail: first line of stdout (human/log record) and
    // a sidecar file for mechanical regression diffing. Targeted runs
    // (BENCH_ONLY / BENCH_BUILDS filters) must NOT clobber the sidecar —
    // it records the last FULL suite (a 2-query probe once overwrote the
    // 175-query closing record).
    println(full)
    if (only.isEmpty && onlyBuilds.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_DETAIL.json"), full + "\n")
      catch { case _: Throwable => () }
    // LAST line: compact sentinel the driver parses. Its tail buffer is
    // 2000 chars (BENCH_r09 "parsed": null — the 136-query map overflowed
    // it), so keep this line under ~1800: aggregates + builds + error
    // names + the slowest queries that fit, 3-decimal seconds.
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","query_total":${r3(queryTotal)},"build_total":${r3(buildTotal)},"host_factor":${r3(hostFactor)},"host_factor_par":${r3(hostFactorPar)},"canary_min":${r3(canaryMin)},"canary_max":${r3(canaryMax)},"reps":$reps,"agg":"median","n_queries":${timings.size},"detail":"BENCH_DETAIL.json","builds":${
      builds.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")},"errors":${
      errors.keys.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir","queries":{"""
    val tailBudget = 1800 - head.length - 60
    val slowFirst = timings.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    slowFirst.foreach { e =>
      if (used + e.length + 1 <= tailBudget) { kept += e; used += e.length + 1 }
    }
    println(head + kept.mkString(",") +
      s"""},"queries_omitted":${timings.size - kept.size}}""")
    spark.stop()
  }
}
