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
}
