package org.apache.spark.sql.graft {

  import org.apache.spark.unsafe.types.UTF8String

  /** Test-side window onto the package-private kernel tokenizer. */
  object TokenizerProbe {
    def tokens(s: String): Seq[String] = GraftKernels.tokens(UTF8String.fromString(s)).toSeq
  }
}

package graft.analytics {

  import graft.SparkSpec
  import org.apache.spark.sql.graft.TokenizerProbe
  import org.scalacheck.{Gen, Prop, Test => ScTest}

  /** Generated-input parity for the one tokenizer: [[GraftKernels.tokens]],
    * which every text kernel (ShingleHash32, PassageHash, GopherStats,
    * TypeFreq, ClassifierStats) calls, must equal the declarative
    * [[OpsKernels.toksSpark]] fragment Spark evaluates — on the inputs
    * hand-picked fixtures never reach: Unicode spaces Java's `\s` does not
    * match, control characters Spark's `trim` leaves in place, surrogate
    * pairs, case mappings that change length or depend on context, empty
    * strings and NULL ([[TextGen.text]]). One Spark job per generated
    * batch. */
  class TokenizerParitySpec extends SparkSpec {

    test("property: the kernel tokenizer equals the declarative toksSpark fragment") {
      import spark.implicits._
      val prop = Prop.forAll(Gen.listOfN(400, TextGen.text)) { batch =>
        val got = batch.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
          .selectExpr("id", s"${LlmOps.toksSpark} AS toks")
          .collect().sortBy(_.getInt(0))
          .map(r => Option(r.getSeq[String](1)).map(_.toSeq)).toSeq
        val want = batch.map(_.map(TokenizerProbe.tokens))
        val bad = batch.zip(got.zip(want)).filter { case (_, (g, w)) => g != w }
        bad.isEmpty || {
          val (t, (g, w)) = bad.head
          val esc = (s: String) => s.flatMap(c => if (c < 128 && c >= 32) c.toString else f"\\u${c.toInt}%04X")
          info(s"${bad.size} divergent inputs; first ${t.map(esc)}: spark ${g.map(_.map(esc))} kernel ${w.map(_.map(esc))}")
          false
        }
      }
      val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(10), prop)
      assert(res.passed, res.status.toString)
    }
  }
}
