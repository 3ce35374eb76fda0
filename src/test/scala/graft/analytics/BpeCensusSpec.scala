package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The weighted type-table BPE census must be indistinguishable from the
  * retired token-stream census (round 21 continuation): Sennrich's
  * Algorithm 1 counts pairs within words weighted by word occurrence, so
  * Σ over token instances of windows(t) = Σ over types of n_t·windows(t)
  * — an exact integer identity the DuckDB BPE mirrors (which still count
  * over the raw text) silently depend on. */
class BpeCensusSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("weighted round-1 census equals the stream census on the real corpus") {
    val weighted = LlmOps.bpePairCensus(LlmOps.bpeTypeWeights(spark, dir), "t")
      .orderBy(col("pair")).collect()
    val stream = BpeStreamCensus.bpePairCensusStream(BpeStreamCensus.bpeTokens(spark, dir), "t")
      .orderBy(col("pair")).collect()
    assert(weighted.length == stream.length, "pair vocabulary drifted")
    weighted.zip(stream).foreach { case (w, s) =>
      assert(w == s, s"census row drifted: weighted $w vs stream $s")
    }
  }

  test("weighted post-merge census equals the stream recount after one replace") {
    val top1 = LlmOps.bpeMergeTable(spark, dir).filter(col("round") === 1L)
      .select(col("pair").as("mp"))
    val sent = LlmOps.bpeSentinel(0)
    val weighted = LlmOps.bpePairCensus(
      LlmOps.bpeTypeWeights(spark, dir).crossJoin(broadcast(top1))
        .select(col("w"), expr(s"replace(t, mp, '$sent')").as("t2")), "t2")
      .orderBy(col("pair")).collect()
    val stream = BpeStreamCensus.bpePairCensusStream(
      BpeStreamCensus.bpeTokens(spark, dir).crossJoin(broadcast(top1))
        .select(expr(s"replace(t, mp, '$sent')").as("t2")), "t2")
      .orderBy(col("pair")).collect()
    assert(weighted.length == stream.length, "post-merge pair vocabulary drifted")
    weighted.zip(stream).foreach { case (w, s) =>
      assert(w == s, s"post-merge census row drifted: weighted $w vs stream $s")
    }
  }

  test("the trained merge table matches a stream-census retrain bit for bit") {
    // retrain the 4 rounds over the token STREAM (the retired formulation)
    // and compare the shipped artifact row for row
    var cur = BpeStreamCensus.bpeTokens(spark, dir)
    val expected = (1 to LlmOps.BpeVocabRounds).map { r =>
      val top1 = BpeStreamCensus.bpePairCensusStream(cur, "t")
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(lit(r.toLong).as("round"), col("pair"), col("n"))
        .collect()(0)
      cur = cur.crossJoin(broadcast(
          spark.createDataFrame(java.util.List.of(top1), top1.schema)
            .select(col("pair").as("mp"))))
        .select(expr(s"replace(t, mp, '${LlmOps.bpeSentinel(r - 1)}')").as("t"))
      top1
    }
    val got = LlmOps.bpeMergeTable(spark, dir).orderBy(col("round")).collect()
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g == e, s"merge table drifted: kernel $g vs stream retrain $e")
    }
  }
}
