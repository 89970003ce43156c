package graft

import org.apache.spark.sql.SparkSession
import graft.log.{MemFactLog, StoreMeta}

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", graft.functions.GraftExtensions.configValue)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Saves `log` to a new temp root in the durable layout with `n`
    * buckets and returns the root. The layout takes one bucket per
    * `spark.sql.files.maxPartitionBytes` of estimated facts, so the conf
    * is lowered to an n-th of the estimate for the save only. */
  def savedWithBuckets(log: MemFactLog, n: Int, txBucketSize: Long = 1000L): String = {
    val size = log.factsDF.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    val dir = java.nio.file.Files.createTempDirectory("graftbuckets").toString
    spark.conf.set(key, math.max(1L, (size + n - 1) / n).toString)
    try log.save(dir, txBucketSize)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(StoreMeta.read(spark, dir).get("buckets").contains(n.toString),
      s"expected $n buckets, meta has ${StoreMeta.read(spark, dir)}")
    dir
  }

  /** `n` fresh roots, each holding a copy of the `tables` under `from`:
    * reads of distinct paths plan differently, so builds over them never
    * share a cache entry. */
  def fixtureCopies(from: String, n: Int, tables: Seq[String]): Seq[String] =
    (1 to n).map { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graftfixture")
      tables.foreach(t => java.nio.file.Files.copy(
        java.nio.file.Paths.get(from, s"$t.parquet"), dir.resolve(s"$t.parquet")))
      dir.toString
    }
}
