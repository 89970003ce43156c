package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => Classic}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.types.StructType

/** Relations the public API cannot build (the command runner and
  * `Dataset.ofRows` are `private[sql]`, so the bridge lives here): bucketed
  * parquet by path, with no catalog table for concurrent sessions to
  * collide on — an empty frame writes no file, so reads take a known
  * schema — and a local relation over rows already encoded. */
object Relations {
  def writeBucketed(df: DataFrame, path: String, partitionColumns: Seq[String],
                    spec: BucketSpec): Unit = {
    val session = df.sparkSession.asInstanceOf[Classic]
    session.sessionState.executePlan(DataSource(session, "parquet",
      partitionColumns = partitionColumns, bucketSpec = Some(spec), options = Map("path" -> path))
      .planForWriting(SaveMode.Overwrite, df.queryExecution.analyzed)).assertCommandExecuted()
  }

  def readBucketed(spark: SparkSession, path: String, schema: StructType, spec: BucketSpec): DataFrame =
    spark.baseRelationToDataFrame(
      DataSource(spark, "parquet", Seq(path), Some(schema), bucketSpec = Some(spec)).resolveRelation())

  def localRows(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[Classic], LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
