package graft.analytics

import org.scalacheck.Gen

/** Generated document text for the kernel parity specs: the inputs
  * hand-picked fixtures never reach — Unicode spaces Java's `\s` does not
  * match, control characters Spark's `trim` leaves in place, surrogate
  * pairs, case mappings that change length or depend on context, empty
  * strings and NULL (`None`). */
object TextGen {

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

  val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    12 -> Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, atom)).map(a => Some(a.mkString)))
}
