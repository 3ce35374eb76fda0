package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** The `gopher_stats` kernel must be indistinguishable from the retired
  * declarative Gopher scan ([[DeclarativeScans.gopherScoredDeclarative]])
  * — the txt_gopher / txt_clean_corpus / txt_curation_funnel oracles were
  * derived from that chain's semantics, so any divergence (a trim nuance, a
  * code-point length, the NULL top_n of a <2-token doc) is a silent
  * correctness break, not just a perf question. */
class GopherStatsSpec extends SparkSpec {

  private def assertFrameParity(dir: String): Unit = {
    val kern = graft.analytics.LlmOps.gopherScored(spark, dir)
      .orderBy(col("doc_id")).collect()
    val decl = DeclarativeScans.gopherScoredDeclarative(spark, dir)
      .orderBy(col("doc_id")).collect()
    assert(kern.length == decl.length, "row count drifted")
    kern.zip(decl).foreach { case (k, d) =>
      assert(k == d, s"gopher verdict row drifted for doc ${k.get(0)}:\n  kernel $k\n  declar $d")
    }
  }

  test("kernel build equals the declarative chain on the real sf0.001 corpus") {
    assertFrameParity("/root/testdata/sf0.001")
  }

  private val gopherCounts =
    Seq("n_words", "n_lines", "n_dup", "n_bullet", "sum_wl", "n_bigrams")

  /** `gopher_stats(text)` field for field against
    * [[DeclarativeScans.gopherCountsDeclarative]] on every row of
    * `texts`, and top_n NULL iff fewer than 2 tokens. A NULL text gives a
    * NULL struct, as the declarative chain gives a NULL token array. */
  private def assertGopherAgrees(texts: DataFrame): Unit = {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val rows = DeclarativeScans.gopherCountsDeclarative(
      texts.withColumn("g", expr("gopher_stats(text)"))).collect()
    rows.foreach { r =>
      val text = Option(r.getAs[String]("text"))
      val g = r.getStruct(r.fieldIndex("g"))
      if (text.isEmpty) assert(g == null && r.isNullAt(r.fieldIndex("toks")), "NULL text")
      else {
        for (f <- gopherCounts)
          assert(g.getAs[Long](f) == r.getAs[Long](f),
            s"$f drifted for: ${text.get.take(50)} (kernel ${g.getAs[Long](f)}, declarative ${r.getAs[Long](f)})")
        assert(g.isNullAt(g.fieldIndex("top_n")) == (r.getAs[Long]("n_words") < 2),
          s"top_n nullability drifted for: ${text.get.take(50)}")
      }
    }
  }

  /** `classifier_stats(text)` field for field against
    * [[DeclarativeScans.classifierCountsDeclarative]] on every row of
    * `texts`; a NULL text gives a NULL struct and a NULL token array. */
  private def assertClassifierAgrees(texts: DataFrame): Unit = {
    val rows = DeclarativeScans.classifierCountsDeclarative(texts.withColumn("c",
        org.apache.spark.sql.graft.ClassifierBridge
          .classifierStats(col("text"), graft.analytics.LlmOps.classifierStops)))
      .collect()
    rows.foreach { r =>
      val text = Option(r.getAs[String]("text"))
      val c = r.getStruct(r.fieldIndex("c"))
      if (text.isEmpty) assert(c == null && r.isNullAt(r.fieldIndex("toks")), "NULL text")
      else
        for (f <- Seq("n_toks", "n_stop", "n_short", "n_long", "n_rep"))
          assert(c.getAs[Long](f) == r.getAs[Long](f),
            s"$f drifted for: ${text.get.take(50)} (kernel ${c.getAs[Long](f)}, declarative ${r.getAs[Long](f)})")
    }
  }

  /** Runs `check` on 10 batches of 200 [[TextGen]] texts, NULL and the
    * empty string among them. */
  private def holdsOnGenerated(check: DataFrame => Unit): Unit = {
    import spark.implicits._
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(Gen.listOfN(200, TextGen.text)) { batch =>
        check((batch ++ Seq(None, Some(""))).toDF("text")); true
      })
    assert(res.passed, res.status.toString)
  }

  test("kernel counters equal the declarative expressions on edge cases") {
    import spark.implicits._
    assertGopherAgrees(Seq(
      "",                                    // empty: 0 toks, 0 lines
      "   ",                                 // whitespace only
      "one",                                 // 1 token -> top_n NULL, n_bigrams 0
      "one two",                             // exactly one bigram
      "a b a b a b",                         // repeated bigrams both directions
      "x\n\nx\n x \n- bullet\n* bullet\n-not a bullet\n*x",
      "dup line\ndup line\ndup line\nother", // duplicate lines
      "  Mixed CASE  with\truns of space ",
      "- \n* \n-\n*",                        // bullet-only trimmed lines + bare markers
      "Тест 😀 emoji töken länge", // non-ASCII + astral
      (1 to 300).map(i => s"w${i % 7}").mkString(" "), // heavy bigram repetition
      (1 to 50).map(i => s"line ${i % 5}").mkString("\n")).toDF("text"))
  }

  test("property: gopher_stats equals the declarative expressions on generated text") {
    holdsOnGenerated(assertGopherAgrees)
  }

  test("property: classifier_stats equals the declarative counts on generated text") {
    holdsOnGenerated(assertClassifierAgrees)
  }

  test("classifier kernel build equals the declarative chain on the real sf0.001 corpus") {
    val dir = "/root/testdata/sf0.001"
    val kern = graft.analytics.LlmOps.classifierScored(spark, dir)
      .orderBy(col("doc_id")).collect()
    val decl = DeclarativeScans.classifierScoredDeclarative(spark, dir)
      .orderBy(col("doc_id")).collect()
    assert(kern.length == decl.length, "row count drifted")
    kern.zip(decl).foreach { case (k, d) =>
      assert(k == d, s"classifier row drifted for doc ${k.get(0)}:\n  kernel $k\n  declar $d")
    }
  }

  test("classifier kernel counters equal the declarative expressions on edge cases") {
    import spark.implicits._
    val stops = graft.analytics.LlmOps.classifierStops
    val stopsIn = stops.map(w => s"'$w'").mkString(", ")
    val toks = raw"filter(split(lower(trim(text)), '\\s+'), t -> t != '')"
    val texts = Seq(
      "", "   ", "a", "ab abc abcd",                   // short-token boundary (<=2)
      "extraordinarily longwindedness twelvecharss",    // long boundary (>=12)
      "the the the a of and to unique",                 // stops + repeats
      "Tab\tand\nnewline   runs",
      "Тест 😀 emoji tökens tökens")                    // non-ASCII repeat + astral
    val df = texts.toDF("text")
      .withColumn("c", org.apache.spark.sql.graft.ClassifierBridge
        .classifierStats(col("text"), stops))
      .withColumn("toks", expr(toks))
      .select(col("text"), col("c"),
        size(col("toks")).cast("long").as("e_n_toks"),
        expr(s"size(filter(toks, t -> t IN ($stopsIn)))").cast("long").as("e_n_stop"),
        expr("size(filter(toks, t -> length(t) <= 2))").cast("long").as("e_n_short"),
        expr("size(filter(toks, t -> length(t) >= 12))").cast("long").as("e_n_long"),
        (size(col("toks")) - size(array_distinct(col("toks")))).cast("long").as("e_n_rep"))
    df.collect().foreach { r =>
      val c = r.getStruct(r.fieldIndex("c"))
      for (f <- Seq("n_toks", "n_stop", "n_short", "n_long", "n_rep"))
        assert(c.getAs[Long](f) == r.getAs[Long](s"e_$f"),
          s"$f drifted for: ${r.getString(0).take(50)} (kernel ${c.getAs[Long](f)}, declarative ${r.getAs[Long](s"e_$f")})")
    }
  }

  test("kernel top_n equals the explode census on bigram-heavy fixtures") {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val toks = raw"filter(split(lower(trim(text)), '\\s+'), t -> t != '')"
    val texts = Seq(
      "one two",
      "a b a b a b",
      "a a a a a",
      "x y z x y z x y",
      (1 to 300).map(i => s"w${i % 7}").mkString(" "),
      "unique tokens only here now")
    val df = texts.toDF("text").withColumn("id", monotonically_increasing_id())
    val kern = df.select(col("id"), expr("gopher_stats(text).top_n").as("top_n"))
    val decl = df.withColumn("toks", expr(toks))
      .select(col("id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))")).as("b"))
      .groupBy(col("id"), col("b")).agg(count(lit(1)).as("n"))
      .groupBy(col("id")).agg(max(col("n")).as("top_n"))
    val merged = kern.join(decl, Seq("id")).collect()
    assert(merged.length == texts.length)
    merged.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"top_n drifted for row ${r.getLong(0)}")
    }
  }
}
