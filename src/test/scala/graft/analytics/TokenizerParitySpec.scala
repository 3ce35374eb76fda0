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
    * strings and NULL. One Spark job per generated batch. */
  class TokenizerParitySpec extends SparkSpec {

    private val atom: Gen[String] = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r", "\u000B", "\f"),
      // Unicode spaces and separators outside Java's ASCII-only \s: NBSP,
      // LINE SEPARATOR, IDEOGRAPHIC SPACE, NEL, OGHAM, EM SPACE, BOM
      2 -> Gen.oneOf("\u00A0", "\u2028", "\u3000", "\u0085", "\u1680", "\u2003", "\uFEFF"),
      // control characters that trim (ASCII 32 only) leaves in place
      2 -> Gen.oneOf("\u0000", "\u0001", "\u0008", "\u000E", "\u001B", "\u001F", "\u007F"),
      // surrogate pairs: an emoji, and capitals outside the BMP (Deseret
      // U+10400, Vithkuqi U+10570, Garay U+10D50)
      2 -> Gen.oneOf("\uD83D\uDE00", "\uD801\uDC00", "\uD801\uDD70", "\uD803\uDD50"),
      // final sigma (bare, word-final, before a case-ignorable), dotted
      // capital I (precomposed and decomposed), sharp s and its capital,
      // titlecase digraph, Greek with iota subscript, and BMP capitals
      // whose case pairs are recent Unicode additions (U+2C2F, U+A7C0,
      // U+A7D0)
      3 -> Gen.oneOf("\u03A3", "\u039F\u0394\u039F\u03A3", "\u0391\u03A3'", "\u0130", "I\u0307",
        "\u00DF", "\u1E9E", "\u01C5", "\u1F88", "\u2C2F", "\uA7C0", "\uA7D0"),
      1 -> Gen.oneOf(".", "-", "'", "!", "\u00E9", "\u00C9"))

    private val text: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some("")),
      12 -> Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, atom)).map(a => Some(a.mkString)))

    test("property: the kernel tokenizer equals the declarative toksSpark fragment") {
      import spark.implicits._
      val prop = Prop.forAll(Gen.listOfN(400, text)) { batch =>
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
