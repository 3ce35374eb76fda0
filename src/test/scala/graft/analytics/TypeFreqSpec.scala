package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TypeFreqBridge.typeFreq
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** The TypeFreq kernel census must be indistinguishable from the retired
  * declarative chain: explode(toks) → groupBy(doc, t) → count(*) over
  * [[DeclarativeScans.toksStream]]'s token stream, on the real corpus, on
  * generated text and on hand-picked edge cases. Every frequency-family
  * reader (txt_rarity, txt_lm_score, txt_tfidf, the BPE training
  * censuses, txt_top_terms, txt_vocab_coverage, both SimHash signature
  * builds) silently depends on this identity. */
class TypeFreqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("kernel census equals the declarative tokenize census on the real corpus") {
    val kernel = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode_outer(typeFreq(col("text"))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("doc_id"), col("lang"), col("e.t").as("t"), col("e.tf").as("tf"))
      .orderBy(col("doc_id"), col("t")).collect()
    val declarative = DeclarativeScans.rarityToks(spark, dir)
      .groupBy(col("doc_id"), col("lang"), col("t"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("doc_id"), col("t")).collect()
    assert(kernel.length == declarative.length && kernel.nonEmpty,
      s"census size drifted: kernel ${kernel.length} vs declarative ${declarative.length}")
    kernel.zip(declarative).foreach { case (k, d) =>
      assert(k == d, s"census row drifted: kernel $k vs declarative $d")
    }
  }

  /** The kernel census and the declarative census over
    * [[DeclarativeScans.toksStream]], as sets of (doc_id, t, tf). */
  private def censuses(docs: DataFrame): (Set[(Long, String, Long)], Set[(Long, String, Long)]) = {
    def census(rows: Array[Row]): Set[(Long, String, Long)] =
      rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val kernel = census(docs
      .select(col("doc_id"), explode_outer(typeFreq(col("text"))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("doc_id"), col("e.t"), col("e.tf")).collect())
    val declarative = census(DeclarativeScans.toksStream(docs)
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf")).collect())
    (kernel, declarative)
  }

  test("property: kernel census equals the declarative census on generated text") {
    import spark.implicits._
    val prop = Prop.forAll(Gen.listOfN(400, TextGen.text)) { batch =>
      val (kernel, declarative) = censuses(batch.zipWithIndex
        .map { case (t, i) => (i.toLong, "en", t) }.toDF("doc_id", "lang", "text"))
      kernel == declarative || {
        info(s"kernel only: ${(kernel -- declarative).take(5)}; " +
          s"declarative only: ${(declarative -- kernel).take(5)}")
        false
      }
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("kernel edge cases: empty, whitespace-only, repeats, mixed case, unicode") {
    import spark.implicits._
    val (kernel, declarative) = censuses(Seq(
      (1L, ""), // no tokens -> empty array
      (2L, "   \n\t  "), // whitespace-only -> empty array
      (3L, "a a a b"), // repeats counted
      (4L, "The THE the tHe"), // lowercased before counting
      (5L, "  héllo wörld héllo  ") // unicode + trim
    ).map { case (id, t) => (id, "en", t) }.toDF("doc_id", "lang", "text"))
    assert(declarative.nonEmpty)
    assert(kernel == declarative, s"kernel only: ${kernel -- declarative}; " +
      s"declarative only: ${declarative -- kernel}")
  }
}
