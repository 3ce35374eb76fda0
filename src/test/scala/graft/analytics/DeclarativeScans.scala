package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The retired declarative Gopher and classifier scans — interpreted HOF
  * counters (and, for Gopher, the bigram explode census) — kept as
  * [[GopherStatsSpec]]'s references: the kernel builds
  * ([[LlmOps.gopherScored]], [[LlmOps.classifierScored]]) must stay
  * bit-indistinguishable from these formulations, which the DuckDB
  * oracle mirrors were derived from. Each applies the SAME score
  * definition as its kernel build ([[LlmOps.gopherFractions]],
  * [[LlmOps.classifierScore]]), so the two can only diverge in the
  * integer counters the spec compares. Not memoized. */
object DeclarativeScans {
  import LlmOps.{classifierScore, classifierStops, gopherFractions, toksSpark}

  def gopherScoredDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("toks", expr(toksSpark))
    val perRow = base
      .withColumn("lns",
        filter(transform(split(col("text"), "\n"), l => trim(l)), l => l =!= ""))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        size(col("lns")).cast("long").as("n_lines"),
        (size(col("lns")) - size(array_distinct(col("lns")))).cast("long").as("n_dup"),
        expr("size(filter(lns, l -> substr(l, 1, 2) IN ('- ', '* ')))").cast("long").as("n_bullet"),
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").as("sum_wl"),
        greatest(size(col("toks")).cast("long") - 1L, lit(0L)).as("n_bigrams"))
      // identity aggregation over the unique doc_id — the InferFilters
      // pushdown guard the declarative form needed (PLANS.md)
      .groupBy(col("doc_id"))
      .agg(min(col("n_words")).as("n_words"), min(col("n_lines")).as("n_lines"),
        min(col("n_dup")).as("n_dup"), min(col("n_bullet")).as("n_bullet"),
        min(col("sum_wl")).as("sum_wl"), min(col("n_bigrams")).as("n_bigrams"))
    // explode_outer + isNotNull (not explode): see buildJaccardPairs for the
    // InferFiltersFromGenerate pushdown pathology this dodges.
    val bg = base.select(col("doc_id"), explode_outer(expr(
        "case when size(toks) >= 2 then transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i+1])) else array() end")).as("b"))
      .filter(col("b").isNotNull)
    val top = bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("top_n"))
    gopherFractions(perRow.join(top, Seq("doc_id"), "left"))
  }


  def classifierScoredDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val stopsIn = classifierStops.map(w => s"'$w'").mkString(", ")
    classifierScore(
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", expr(toksSpark))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("n_stop", expr(s"size(filter(toks, t -> t IN ($stopsIn)))").cast("long"))
        .withColumn("n_short", expr("size(filter(toks, t -> length(t) <= 2))").cast("long"))
        .withColumn("n_long", expr("size(filter(toks, t -> length(t) >= 12))").cast("long"))
        .withColumn("n_rep", (size(col("toks")) - size(array_distinct(col("toks")))).cast("long"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("n_toks"), col("n_stop"), col("n_short"), col("n_long"), col("n_rep")))
  }
}
