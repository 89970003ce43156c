package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{MediaSynth, MultimodalOps, TextOps, VectorOps}

/** What the curation, vector and multimodal operators leave pinned: a
  * frame the caller cached stays cached, a failing job leaves nothing
  * behind, and a successful call adds exactly its result's checkpoint. */
class OperatorReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cacheEntries: Int = org.apache.spark.sql.graftshim.CacheEntries.count(spark)
  private def rddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def checkpointRdd(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get

  // RDD-backed, not local: the planted failure must raise in a job, not
  // while the optimizer folds a local relation
  private lazy val docs = spark.sparkContext.parallelize(Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different text about spark engines and parquet files"),
    (3L, "spark joins a window over parquet files and the lazy dog"),
    (4L, "tiny")), 2).toDF("doc_id", "text")
  private lazy val emb = spark.sparkContext.parallelize(Seq(
    (0L, Array(63.5f, -32f, 0f)), (1L, Array(1f, 2f, 3f)), (2L, Array(0f, 0f, 0f))), 2)
    .toDF("vec_id", "embedding")
  private def media = MediaSynth.plantCdcVariants(
    MediaSynth.synthesize(spark.range(0, 40).toDF("doc_id")))

  // every input fails in its first job: one row raises while the
  // operator's first stage computes its column
  private def boom(c: String, key: String, v: Long) =
    when(col(key) === v, raise_error(lit("planted failure"))).otherwise(col(c)).as(c)
  private lazy val badDocs = docs.select(col("doc_id"), boom("text", "doc_id", 3L))
  private lazy val badEmb = emb.select(col("vec_id"), boom("embedding", "vec_id", 1L))
  private def badMedia = media.select(col("media_id"), col("kind"),
    boom("content", "media_id", 3L))

  private val staged: Seq[(String, (DataFrame, DataFrame, DataFrame) => DataFrame)] = Seq(
    "dedupMinHashLsh" -> ((d, _, _) => TextOps.dedupMinHashLsh(d, threshold = 0.5)),
    "decontaminate" -> ((d, _, _) => TextOps.decontaminate(d, d.where(col("doc_id") < 2), n = 3)),
    "bm25Scores" -> ((d, _, _) => TextOps.bm25Scores(d, Seq("spark", "lazy"))),
    "cdcInvariants" -> ((_, _, m) => MultimodalOps.cdcInvariants(m)),
    "quantizeInt8" -> ((_, e, _) => VectorOps.quantizeInt8(e)))

  test("cdcInvariants reads a media frame the caller cached and leaves it cached") {
    val m = media.cache()
    try {
      m.count()
      assert(m.storageLevel == StorageLevel.MEMORY_AND_DISK)
      val row = MultimodalOps.cdcInvariants(m).collect().head
      assert(row.getAs[Long]("n_media") == row.getAs[Long]("n_rows"))
      assert(m.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "the operator dropped the caller's cache")
    } finally m.unpersist(blocking = true)
  }

  staged.foreach { case (name, op) =>
    test(s"$name pins nothing when its first job fails") {
      val (ids0, entries0) = (rddIds, cacheEntries)
      intercept[Exception](op(badDocs, badEmb, badMedia).collect())
      assert(rddIds -- ids0 == Set.empty[Int], s"$name left RDDs persisted")
      assert(cacheEntries == entries0, s"$name left frames in the session cache")
    }

    test(s"$name keeps only its result's checkpoint on success") {
      val (ids0, entries0) = (rddIds, cacheEntries)
      val out = op(docs, emb, media)
      try {
        assert(rddIds -- ids0 == Set(checkpointRdd(out)))
        assert(cacheEntries == entries0)
      } finally graft.util.LruMemo.releaseCheckpoint(out)
    }
  }

  // operators whose staged checkpoints once outlived the call
  private val sf = "/root/testdata/sf0.001"
  private lazy val sfDocs = spark.read.parquet(s"$sf/documents.parquet")
  private val released: Seq[(String, () => DataFrame)] = Seq(
    "dedupClusters" -> (() => TextOps.dedupClusters(sfDocs, 0.8)),
    "dedupKeepBest" -> (() => TextOps.dedupKeepBest(sfDocs, 0.8)),
    "dupRatioBySource" -> (() => TextOps.dupRatioBySource(sfDocs, 0.8)),
    "splitLeakageSafe" -> (() => TextOps.splitLeakageSafe(sfDocs, 0.8)),
    "curationPipeline" -> (() => TextOps.curationPipeline(sfDocs)),
    "curation_pipeline_sem" -> (() => SparkEntry.queries("curation_pipeline_sem")(spark, sf)),
    "sourceOverlapSketch" -> (() => TextOps.sourceOverlapSketch(sfDocs)),
    "text_ann_hashed" -> (() => SparkEntry.queries("text_ann_hashed")(spark, sf)),
    "pack_invariants" -> (() => SparkEntry.queries("pack_invariants")(spark, sf)))

  released.foreach { case (name, op) =>
    test(s"$name leaves only its result's checkpoint; a second call returns the same rows") {
      val ids0 = rddIds
      val out = op()
      try {
        assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD],
          s"$name returns a plan over a staged frame, not a checkpoint of its own")
        assert(rddIds -- ids0 == Set(checkpointRdd(out)), s"$name left a staged checkpoint pinned")
        val rows = out.collect()
        assert(rows.nonEmpty)
        val again = op()
        try assert(again.collect().toSet == rows.toSet)
        finally graft.util.LruMemo.releaseCheckpoint(again)
      } finally graft.util.LruMemo.releaseCheckpoint(out)
    }
  }

  test("ivfBuild pins nothing when assembling the index fails, and keeps its index otherwise") {
    // a session of its own whose graft_cosine raises on one planted
    // vector: id 7 is outside the Lloyd sample (ids divisible by 5) and
    // the k lowest ids that seed it, so only the final assignment job,
    // after the centroids are pinned, scores it
    val planted = spark.newSession()
    planted.udf.register("graft_cosine", (a: Seq[Double], b: Seq[Double]) => {
      if (a.headOption.contains(99.0) || b.headOption.contains(99.0))
        throw new IllegalStateException("planted assignment failure")
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    })
    def corpus(session: org.apache.spark.sql.SparkSession, plant: Boolean) =
      session.createDataFrame((0L until 20L).map { id =>
        val head = if (plant && id == 7L) 99f else 1f + id % 3
        (id, Array(head, (id % 4).toFloat, 1f))
      }).toDF("vec_id", "embedding")
    val (ids0, entries0) = (rddIds, cacheEntries)
    val e = intercept[Exception](VectorOps.ivfBuild(corpus(planted, plant = true), k = 2, iters = 2))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted assignment failure")), e)
    assert(rddIds -- ids0 == Set.empty[Int], "ivfBuild left RDDs persisted")
    assert(cacheEntries == entries0, "ivfBuild left frames in the session cache")
    // the same session builds the unplanted corpus: the index stays pinned
    val index = VectorOps.ivfBuild(corpus(planted, plant = false), k = 2, iters = 2)
    try {
      assert(index.indexed.storageLevel != StorageLevel.NONE)
      assert(cacheEntries == entries0 + 1)
      assert(rddIds.contains(checkpointRdd(index.centroids)))
      assert(index.indexed.count() == 20)
    } finally {
      index.indexed.unpersist(blocking = true)
      graft.util.LruMemo.releaseCheckpoint(index.centroids)
    }
  }

  test("ssspWeightedDF returns its last round's checkpoint and pins nothing else") {
    val snap = graft.projection.TpchGraph.snapshot(spark, sf)
    val labels = Seq("placed", "contains", "supplied_by")
    val lms = Seq(4000001L, 4000002L, 4000003L)
    graft.gx.GraphXTraversal.weightedEdges(snap, labels) // the memoized edges
    val ids0 = rddIds
    val out = graft.gx.GraphXTraversal.ssspWeightedDF(spark, snap, lms, labels)
    try {
      assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        "the result is a plan over the last round, not its checkpoint")
      assert(out.columns.toSeq == Seq("vertex_id", "landmark_id", "dist_w"))
      assert(rddIds -- ids0 == Set(checkpointRdd(out)), "the call left a round's distances pinned")
      assert(out.count() > lms.size)
    } finally graft.util.LruMemo.releaseCheckpoint(out)
    assert(rddIds -- ids0 == Set.empty[Int])
  }
}
