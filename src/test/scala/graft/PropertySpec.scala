package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.PassageHash
import org.apache.spark.sql.types.StringType

import graft.expr.JsNumber
import graft.pipeline.MergeSortSink

/** The SURVEY §5 property tests, as real ScalaCheck properties (not fixed
  * sweeps): js_num round-trip/canonicality over generated doubles including
  * raw-bit-pattern ones, merge-sort stability under same-date ties,
  * distinct-union idempotence of the sink lifecycle, and the PassageHash
  * window-count law. Spark-driven properties run few cases with small
  * inputs (each case is a job); the scalar ones run hundreds. */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, min: Int = 200): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** Finite doubles across magnitudes: uniform ranges, tiny/huge decades,
    * and raw 64-bit patterns (subnormals, extreme exponents). */
  private val finiteDouble: Gen[Double] = Gen.oneOf(
    Gen.chooseNum(-1e6, 1e6),
    Gen.chooseNum(-1.0, 1.0),
    for { m <- Gen.chooseNum(-9.999, 9.999); e <- Gen.chooseNum(-300, 300) }
      yield m * math.pow(10, e),
    Gen.chooseNum(Long.MinValue, Long.MaxValue)
      .map(java.lang.Double.longBitsToDouble)
  ).suchThat(d => !d.isNaN && !d.isInfinite)

  test("property: js_num formatting round-trips through toDouble exactly") {
    check(Prop.forAll(finiteDouble) { d =>
      JsNumber.format(d).toDouble == d
    }, min = 500)
  }

  test("property: js_num formatting is canonical (format . parse . format = format)") {
    check(Prop.forAll(finiteDouble) { d =>
      val s = JsNumber.format(d)
      JsNumber.format(s.toDouble) == s
    }, min = 500)
  }

  /** Doubles where the digit-string search could part from the
    * exact-value search of `JsNumberReference`: every bit pattern,
    * subnormals, the ranges JS prints in fixed notation but
    * `Double.toString` in exponent form ([1e7, 1e21) and (1e-7, 1e-3)),
    * its own fixed range [1e-3, 1e7), a few ulps around the 1e21, 1e-6 and
    * 1e-7 thresholds, and money-shaped decimals; each with either sign. */
  private val digitSearchDouble: Gen[Double] = {
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    def between(lo: Double, hi: Double) =
      Gen.chooseNum(bits(lo), bits(hi) - 1).map(java.lang.Double.longBitsToDouble)
    val magnitude = Gen.oneOf(
      Gen.chooseNum(0L, 0x7fefffffffffffffL).map(java.lang.Double.longBitsToDouble),
      Gen.chooseNum(1L, 0x000fffffffffffffL).map(java.lang.Double.longBitsToDouble),
      between(1e7, 1e21),
      between(1e-7, 1e-3),
      between(1e-3, 1e7),
      for { t <- Gen.oneOf(1e21, 1e-6, 1e-7); k <- Gen.chooseNum(-16, 16) }
        yield java.lang.Double.longBitsToDouble(bits(t) + k),
      for { units <- Gen.chooseNum(1L, 10000000000L); scale <- Gen.chooseNum(0, 8) }
        yield units / math.pow(10, scale))
    for { m <- magnitude; neg <- Gen.oneOf(false, true) } yield if (neg) -m else m
  }

  test("property: js_num digit-string search renders like the %.{p}e search") {
    check(Prop.forAll(digitSearchDouble) { d =>
      val got = JsNumber.format(d)
      val want = graft.expr.JsNumberReference.format(d)
      (got == want) :| s"format($d) = $got, reference $want"
    }, min = 20000)
  }

  test("property: URL normalization is idempotent and erases exactly the crawl noise") {
    // norm∘norm = norm over GENERATED messy URLs — including the shapes
    // that would break a single-strip normalizer: www.www.- hosts (hosts
    // may themselves start with www) and multi-slash tails. An
    // un-idempotent normalizer corrupts any frontier that re-normalizes
    // already-normalized URLs. The generator deliberately stays
    // SCHEME-FIRST (every URL a fetcher actually dereferences); the
    // pathological www.http://x.com shape is outside the contract — see
    // urlNormSql's scaladoc. One Spark job over a ScalaCheck batch.
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val seg = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val host = for {
      www <- Gen.oneOf("", "www.", "www.www.")
      parts <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n,
        Gen.chooseNum(1, 8).flatMap(k => Gen.listOfN(k, Gen.alphaLowerChar).map(_.mkString))))
    } yield www + parts.mkString(".") + ".com"
    val url = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS")
      www <- Gen.oneOf("", "www.", "WWW.")
      h <- host
      up <- Gen.oneOf(false, true)
      segs <- Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, seg))
      tail <- Gen.oneOf("", "/", "//")
      q <- Gen.oneOf("", "?utm_source=x&a=1", "?q=hello")
      frag <- Gen.oneOf("", "#top", "#Section-2")
      hh = if (up) (www + h).toUpperCase else www + h
    } yield s"$scheme://$hh${(("" +: segs) :+ "").mkString("/").stripSuffix("/")}$tail$q$frag"
    val urls = Gen.listOfN(300, url).sample.get
    def norm(df: DataFrame): DataFrame =
      df.selectExpr(s"${graft.analytics.LlmOps.urlNormSql} AS url")
    val raw = urls.toDF("url")
    val once = norm(raw).collect().map(_.getString(0)).toSeq
    val twice = norm(norm(raw)).collect().map(_.getString(0)).toSeq
    assert(once == twice, {
      val bad = once.zip(twice).zip(urls).find { case ((a, b), _) => a != b }
      s"normalization not idempotent: $bad"
    })
    once.zip(urls).foreach { case (u, orig) =>
      assert(!u.contains("://") && !u.startsWith("www.") && !u.contains("?") &&
        !u.contains("#") && !u.endsWith("/") && u == u.toLowerCase,
        s"residual crawl noise in '$u' (from '$orig')")
    }
  }

  test("property: merge-sort keeps insertion order within same-date ties") {
    import spark.implicits._
    // up to 24 lines over at most 4 distinct dates — ties guaranteed
    val linesGen = for {
      n <- Gen.chooseNum(1, 24)
      days <- Gen.listOfN(n, Gen.chooseNum(1, 4))
    } yield days.zipWithIndex.map { case (d, i) => s"BUY $d/1/2024 P$i 1 10" }
    check(Prop.forAll(linesGen) { lines =>
      val sorted = MergeSortSink.sortLines(
        MergeSortSink.merge(spark.emptyDataset[String], lines.toDS())).collect()
      val day = (l: String) => l.split(" ")(1).takeWhile(_ != '/').toInt
      val idx = (l: String) => l.split(" ")(2).drop(1).toInt
      sorted.map(day).toSeq == sorted.map(day).toSeq.sorted &&
        sorted.groupBy(day).values.forall(g => g.map(idx).toSeq == g.map(idx).toSeq.sorted)
    }, min = 5)
  }

  test("property: distinct merge-sort-write is idempotent for repeated input") {
    import spark.implicits._
    val linesGen = for {
      n <- Gen.chooseNum(1, 12)
      picks <- Gen.listOfN(n, Gen.chooseNum(0, 5))
    } yield picks.map(p => s"SELL ${p + 1}/2/2024 Q$p 2 20")
    check(Prop.forAll(linesGen) { lines =>
      val dir = java.nio.file.Files.createTempDirectory("graft-prop")
      val path = dir.resolve("data.txt").toString
      val first = MergeSortSink.mergeSortWrite(spark, lines.toDS(), path, distinct = true)
      val second = MergeSortSink.mergeSortWrite(spark, lines.toDS(), path, distinct = true)
      first == second && first.distinct == first
    }, min = 5)
  }

  test("property: BPE pair census equals the in-memory sliding-bigram recount") {
    import spark.implicits._
    val word = Gen.chooseNum(0, 8).flatMap(l => Gen.listOfN(l + 1, Gen.alphaLowerChar).map(_.mkString))
    val gen = for {
      n <- Gen.chooseNum(1, 12)
      toks <- Gen.listOfN(n, word)
    } yield toks
    check(Prop.forAll(gen) { toks =>
      val text = toks.mkString(" ")
      val d = java.nio.file.Files.createTempDirectory("bpe-prop").toString
      Seq(LlmDoc(0, text, "en", "s", text.length)).toDF().write.parquet(s"$d/documents.parquet")
      val got = graft.analytics.LlmOps.txtBpePairs(spark, d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = toks.flatMap(t => t.sliding(2).filter(_.length == 2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      // pairs never cross token boundaries, every instance weighted — the
      // Sennrich count law (vocab always fits the top-100 at these sizes)
      got == expect
    }, min = 5)
  }

  test("property: classifier counters and score match an in-memory recount") {
    import spark.implicits._
    // the head's frozen stopword vocabulary (flattened language markers)
    val stops = Set("the", "and", "of", "to", "a", "der", "und", "die", "das",
      "ist", "el", "la", "de", "que", "los", "le", "et", "les", "des")
    val word = Gen.oneOf(
      Gen.oneOf(stops.toSeq),                    // stopword hits
      Gen.const("ab"),                           // short token
      Gen.const("abcdefghijklmn"),               // long token
      Gen.chooseNum(1, 6).map(i => s"tok$i"))    // ordinary, repeatable
    val gen = for {
      n <- Gen.chooseNum(1, 20)
      toks <- Gen.listOfN(n, word)
    } yield toks
    check(Prop.forAll(gen) { toks =>
      val text = toks.mkString(" ")
      val d = java.nio.file.Files.createTempDirectory("clf-prop").toString
      Seq(LlmDoc(0, text, "en", "s", text.length)).toDF().write.parquet(s"$d/documents.parquet")
      val r = graft.analytics.LlmOps.txtClassifier(spark, d).collect().head
      val (n, nStop) = (toks.length.toLong, toks.count(stops).toLong)
      val nShort = toks.count(_.length <= 2).toLong
      val nLong = toks.count(_.length >= 12).toLong
      val nRep = n - toks.distinct.length
      val score = (n + 4 * nStop - 2 * nShort - 3 * nLong - 2 * nRep).toDouble / n
      r.getAs[Long]("n_toks") == n && r.getAs[Long]("n_stop") == nStop &&
        r.getAs[Long]("n_short") == nShort && r.getAs[Long]("n_long") == nLong &&
        r.getAs[Long]("n_rep") == nRep && r.getAs[Double]("score") == score &&
        r.getAs[Boolean]("keep") == (n >= 5 && score >= 1.0)
    }, min = 5)
  }

  test("property: passage_hash emits exactly max(0, tokens - n + 1) windows") {
    val word = Gen.chooseNum(0, 30).map(i => s"w$i")
    val gen = for {
      toks <- Gen.listOf(word)
      n <- Gen.chooseNum(1, 10)
    } yield (toks, n)
    check(Prop.forAll(gen) { case (toks, n) =>
      val text = toks.mkString(" ")
      val out = PassageHash(Literal.create(text, StringType), n)
        .eval(null).asInstanceOf[GenericArrayData]
      val expected = math.max(0, toks.length - n + 1)
      // count law + determinism: equal token windows hash equal
      val hexes = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      val windows = toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      out.numElements() == expected &&
        windows.zip(hexes).groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1)
    }, min = 300)
  }
}
