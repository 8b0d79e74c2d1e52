package org.apache.spark.sql

/** Test access to `Dataset.ofRows`, which is `private[sql]`. */
object GraftSqlTestShims {
  /** The cache `df` reads, as a frame of another session over the same
    * context: both sessions then query the same cached buffers. */
  def sameCacheIn(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].queryExecution.withCachedData)
}
