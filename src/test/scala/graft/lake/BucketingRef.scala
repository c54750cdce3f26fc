package graft.lake

import org.apache.spark.sql.DataFrame

/** Plan checks for the bucketed-join specs. */
object BucketingRef {

  /** True if the physical plan of `df` contains a shuffle exchange. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
}
