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
  * integer counters the spec compares. Also the retired wide-MinHash
  * builder (LlmOpsSpec's reference for the MinhashSlicesAgg kernel) and
  * the retired frequency-family tokenize ([[TypeFreqSpec]]'s reference
  * for the TypeFreq kernel). Not memoized. */
object DeclarativeScans {
  import LlmOps.{classifierScore, classifierStops, gopherFractions, shinglesSpark, toksSpark}

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


  /** The wide-signature build generalized over permutation count —
    * perms/4 seeded digests ("w<d>:" prefixes keep them independent of
    * the didactic path's md5(s) / md5('x'||s) family; the 64-perm
    * signature is by construction the first 64 slices of the 128-perm
    * one). One map-side-combinable min-aggregation whatever the width. */
  def buildMinhashWideSigN(spark: SparkSession, dir: String, perms: Int): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("toks", expr(toksSpark))
      .select(col("doc_id"), explode_outer(expr(shinglesSpark)).as("s"))
      .filter(col("s").isNotNull)
    val hashed = (0 until perms / 4).foldLeft(sh) { (df, d) =>
      df.withColumn(s"h$d", md5(concat(lit(s"w$d:"), col("s"))))
    }
    val mhs = (0 until perms).map { j =>
      min(substring(col(s"h${j / 4}"), 1 + 8 * (j % 4), 8)).as(s"mh$j")
    }
    hashed.groupBy(col("doc_id")).agg(mhs.head, mhs.tail: _*)
  }


  /** The frequency family's token stream — the RETIRED declarative
    * tokenize, kept in-tree as TypeFreqSpec's reference: the census build
    * now runs the row-local [[org.apache.spark.sql.graft.TypeFreq]]
    * kernel, and the spec pins the kernel census set-equal to the
    * groupBy-count over this stream, on the real corpus and on generated
    * text. */
  def rarityToks(spark: SparkSession, dir: String): DataFrame =
    toksStream(Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** The declarative (doc_id, lang, t) token stream over any frame with
    * doc_id, lang and text columns. */
  def toksStream(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toksSpark))
      .select(col("doc_id"), col("lang"), explode_outer(col("toks")).as("t"))
      .filter(col("t").isNotNull)
}
