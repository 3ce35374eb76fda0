package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.expr.{Parse, ParseReference}

/** The `js_parse` kernel behind [[Parse]]'s four number helpers must give
  * what the regex chains of [[ParseReference]] give on every string,
  * NULL included, both where whole-stage codegen compiles it and where
  * Spark evaluates it interpreted (a one-row local frame is folded by the
  * optimizer, interpreted). Two of the chains' answers differ from JS and
  * are kept: a leading run of whitespace that holds anything but spaces
  * makes `parseFloat` NULL (`"\t5"`), and `Number` reads a value followed
  * by one final line terminator (`"5\n"` is 5). */
class JsNumberParseSpec extends SparkSpec {

  private val helpers: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("jsParseFloat", Parse.jsParseFloat, ParseReference.jsParseFloat),
    ("jsNumber", Parse.jsNumber, ParseReference.jsNumber),
    ("parseNumber", Parse.parseNumber, ParseReference.parseNumber),
    ("poundsNumber", Parse.poundsNumber, ParseReference.poundsNumber))

  private val atom: Gen[String] = Gen.frequency(
    8 -> Gen.numChar.map(_.toString),
    5 -> Gen.oneOf("+", "-", ".", "e", "E"),
    4 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r", "\r\n", "\u000B", "\f"),
    // a line terminator outside ASCII, a line separator and a no-break space
    2 -> Gen.oneOf("\u0085", "\u2028", "\u00A0"),
    2 -> Gen.oneOf("£", ","),
    1 -> Gen.alphaChar.map(_.toString),
    // ARABIC-INDIC DIGIT THREE: a digit to Character.isDigit, not to \d
    1 -> Gen.const("\u0663"))

  private def atoms(max: Int): Gen[String] =
    Gen.chooseNum(0, max).flatMap(n => Gen.listOfN(n, atom)).map(_.mkString)

  /** A number-shaped core, so that matches (and the quirks around them)
    * are common, padded with generated atoms. */
  private val core: Gen[String] = for {
    sign <- Gen.oneOf("", "+", "-")
    int <- Gen.oneOf(Gen.const(""), Gen.numStr.map(_.take(6)))
    frac <- Gen.oneOf(Gen.const(""), Gen.const("."), Gen.numStr.map("." + _.take(4)))
    exp <- Gen.oneOf(Gen.const(""), Gen.const("e"), Gen.oneOf("e", "E", "e+", "E-")
      .flatMap(e => Gen.chooseNum(0, 400).map(e + _)))
  } yield sign + int + frac + exp

  private val input: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    6 -> atoms(10).map(Some(_)),
    8 -> (for (pre <- atoms(3); c <- core; post <- atoms(3)) yield Some(pre + c + post)))

  private val regexSpace = " \t\n\u000B\f\r"
  private val jsPrefix = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r

  private var leadingTabCases = 0
  private var lineEndCases = 0

  /** Evaluates every helper and its reference over `batch`; returns the
    * divergent (helper, input, kernel, reference) rows. */
  private def divergences(batch: Seq[Option[String]], codegen: Boolean): Seq[String] = {
    import spark.implicits._
    val frame: DataFrame = spark.sparkContext.parallelize(batch, 2).toDF("v")
    val cols = helpers.flatMap { case (name, kernel, ref) =>
      Seq(kernel(col("v")).as(s"k_$name"), ref(col("v")).as(s"r_$name"))
    }
    val out = frame.select(col("v") +: cols: _*)
    val plan = out.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen, plan.toString)
    out.collect().toSeq.flatMap { r =>
      val v = Option(r.getString(0))
      v.foreach { s =>
        // parseFloat: JS reads a number after the skipped run, the chain NULL
        val run = s.takeWhile(regexSpace.indexOf(_) >= 0)
        if (run.exists(_ != ' ') && jsPrefix.findPrefixOf(s.drop(run.length)).nonEmpty &&
          r.isNullAt(2)) leadingTabCases += 1
        // Number: a value read through one final line terminator
        val t = s.reverse.dropWhile(_ == ' ').reverse
        if ((t.endsWith("\n") || t.endsWith("\r")) && !r.isNullAt(4)) lineEndCases += 1
      }
      helpers.indices.flatMap { i =>
        val (k, ref) = (Option(r.get(1 + 2 * i)), Option(r.get(2 + 2 * i)))
        // boxed equals: tells -0.0 from 0.0
        if (k == ref) None else Some(s"${helpers(i)._1}(${v.map(escape)}): kernel $k, chain $ref")
      }
    }
  }

  private def escape(s: String): String =
    s.flatMap(ch => if (ch < ' ' || ch > '~') f"\\u${ch.toInt}%04x" else ch.toString)

  /** Runs `body` with Spark's expression factories in `mode`; whole-stage
    * codegen is on exactly when the factories compile. */
  private def inMode[A](mode: String)(body: => A): A = {
    val keys = Seq("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The property over 10 batches of 1000 generated strings and a NULL,
    * evaluated in `mode`; the batches must reach both kept quirks. */
  private def holds(mode: String): Unit = inMode(mode) {
    leadingTabCases = 0
    lineEndCases = 0
    val prop = Prop.forAllNoShrink(Gen.listOfN(1000, input)) { batch =>
      val bad = divergences(batch :+ None, codegen = mode == "CODEGEN_ONLY")
      bad.isEmpty || { info(bad.take(5).mkString("\n")); false }
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
    assert(leadingTabCases > 0, "no case where parseFloat's skipped run held a tab or newline")
    assert(lineEndCases > 0, "no case where Number read through a final line terminator")
    info(s"$leadingTabCases leading-whitespace cases, $lineEndCases final-terminator cases")
  }

  test("property: the kernel equals the regex chains under whole-stage codegen") {
    holds("CODEGEN_ONLY")
  }

  test("property: the kernel equals the regex chains when interpreted") {
    holds("NO_CODEGEN")
  }

  test("the kept quirks and the edges of the grammar, case by case") {
    import spark.implicits._
    val cases = Seq("\t5", " 5", "5\n", "5\r\n", "5\n\n", "5 \n", "5\u0085", "1e999", "-0",
      "1.e5", ".5e", "+.5", "1e+", "\u0663", " ", "\t")
    val rows = cases.toDF("v").select(col("v") +: helpers.map(h => h._2(col("v"))): _*)
      .collect().map(r => r.getString(0) -> (1 to 4).map(i => Option(r.get(i)))).toMap
    def d(x: Double) = Some(Double.box(x))
    assert(rows("\t5") == Seq(None, None, None, None))
    assert(rows(" 5") == Seq(d(5), d(5), d(5), d(5)))
    assert(rows("5\n") == Seq(d(5), d(5), d(5), d(5)))
    assert(rows("5\r\n")(1) == d(5) && rows("5\n\n")(1).isEmpty && rows("5 \n")(1).isEmpty)
    assert(rows("5\u0085") == Seq(d(5), None, d(5), None))
    assert(rows("1e999")(0) == d(Double.PositiveInfinity))
    assert(rows("-0")(1) == d(-0.0)) // boxed equals tells -0.0 from 0.0
    assert(rows("1.e5")(1) == d(1e5) && rows(".5e")(0) == d(0.5) && rows(".5e")(1).isEmpty)
    assert(rows("+.5")(1) == d(0.5) && rows("1e+")(0) == d(1) && rows("\u0663")(0).isEmpty)
    assert(rows(" ") == Seq(None, d(0), None, d(0)) && rows("\t") == Seq(None, None, None, None))
  }
}
