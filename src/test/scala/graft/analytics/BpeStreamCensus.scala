package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The retired token-STREAM BPE census — [[BpeCensusSpec]]'s reference
  * for the weighted type-table census identity (and the shape production
  * pays WITHOUT a shared vocabulary census). */
object BpeStreamCensus {
  import LlmOps.toksSpark

  /** The token stream: one row per token instance. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("toks", expr(toksSpark))
      .select(explode_outer(col("toks")).as("t"))
      .filter(col("t").isNotNull)


  /** Instance-count pair census over the token stream — the reference
    * twin of [[LlmOps.bpePairCensus]]. */
  def bpePairCensusStream(tf: DataFrame, tcol: String): DataFrame = tf
    .select(explode_outer(expr(
      s"case when length($tcol) >= 2 then transform(sequence(1, length($tcol) - 1), " +
        s"i -> substr($tcol, i, 2)) else array() end")).as("pair"))
    .filter(col("pair").isNotNull)
    .groupBy(col("pair")).agg(count(lit(1)).as("n"))
}
