package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.analytics.TextGen

/** The `shingle_hash32` kernel must be indistinguishable from the
  * declarative chain it replaced (tokenize → distinct 3-gram shingles →
  * md5 → first-8-hex as long) — the dedup family's oracles are derived
  * from that chain's semantics, so any divergence is a silent correctness
  * break, not just a perf question. */
class ShingleHashSpec extends SparkSpec {

  // the exact declarative formulation buildJaccardPairs used before the
  // kernel (LlmOps round-2 form), applied to a `text` column
  private val toks = raw"filter(split(lower(trim(text)), '\\s+'), t -> t != '')"
  private val declarative =
    s"""transform(
       |  case when size($toks) >= 3 then array_distinct(transform(
       |    sequence(0, size($toks) - 3),
       |    i -> concat($toks[i], ' ', $toks[i+1], ' ', $toks[i+2]))) else array() end,
       |  s -> CAST(${(1 to 8).map(p =>
            s"(CAST(instr('0123456789abcdef', substr(md5(s), $p, 1)) - 1 AS BIGINT) * CAST(${math.pow(16, 8 - p).toLong} AS BIGINT))")
            .mkString("(", " + ", ")")} AS BIGINT))""".stripMargin

  private def assertAgree(texts: Seq[String]): Unit = {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val df = texts.toDF("text")
      .withColumn("kern", expr("shingle_hash32(text)"))
      .withColumn("decl", expr(declarative))
    // compare as SETS (kernel emits insertion order, array_distinct keeps
    // first-occurrence order — same elements either way) and as SIZES (the
    // Jaccard denominator)
    val rows = df.select(col("text"),
      size(col("kern")).as("nk"), size(col("decl")).as("nd"),
      array_sort(col("kern")).as("sk"), array_sort(col("decl")).as("sd")).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("nk") == r.getAs[Int]("nd"), s"size mismatch for: ${r.getString(0).take(60)}")
      assert(r.getAs[scala.collection.Seq[Long]]("sk").toList ==
        r.getAs[scala.collection.Seq[Long]]("sd").toList,
        s"set mismatch for: ${r.getString(0).take(60)}")
    }
  }

  test("kernel equals the declarative chain on edge cases") {
    assertAgree(Seq(
      "",                                   // empty
      "   ",                                // whitespace only
      "one",                                // <3 tokens
      "one two",                            //
      "one two three",                      // exactly one shingle
      "  Mixed CASE  with   runs\tof\nspace chars  ",
      "a a a a a a",                        // heavy duplication → 1 distinct shingle
      "a b a b a b a b",                    // alternating → 2 distinct shingles
      "word! punct, stays; as-is: tokens",  // punctuation is part of tokens
      (1 to 500).map(i => s"tok$i").mkString(" "))) // long doc
  }

  test("kernel equals the declarative chain on the real sf0.001 corpus") {
    val texts = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    assertAgree(texts)
  }

  /** `passage_hash(text, 8)` against its declarative window chain,
    * element for element and in order. */
  private def assertPassagesAgree(texts: Seq[String]): Unit = {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val decl =
      s"""case when size($toks) >= 8 then transform(sequence(0, size($toks) - 8),
         |  i -> substr(md5(array_join(slice($toks, i + 1, 8), ' ')), 1, 16)) else array() end""".stripMargin
    val rows = texts.toDF("text")
      .selectExpr("text", "passage_hash(text, 8) AS kern", s"$decl AS decl").collect()
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("kern").toList ==
        r.getAs[scala.collection.Seq[String]]("decl").toList, s"windows differ for: ${r.getString(0).take(60)}")
    }
  }

  test("passage_hash equals the declarative window chain, in order, on the real corpus") {
    val crafted = Seq("", "one two three", (1 to 40).map(i => s"w${i % 7}").mkString(" "),
      "a b c d e f g h", "  Mixed CASE  with   runs of eight tokens here ")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").limit(200).collect().map(_.getString(0)).toSeq
    assertPassagesAgree(crafted ++ real)
  }

  /** [[TextGen]]'s texts, alone and joined by spaces in runs long enough
    * for several shingles and 8-token windows. NULL is left to the null
    * test below: both chains are compared on strings. */
  private val generated: Gen[Seq[String]] = Gen.listOfN(200, Gen.frequency(
    1 -> TextGen.text,
    2 -> Gen.chooseNum(2, 8).flatMap(Gen.listOfN(_, TextGen.text)).map(t => Some(t.flatten.mkString(" ")))))
    .map(_.flatten)

  private def holdsOnGenerated(check: Seq[String] => Unit): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(generated) { texts => check(texts); true })
    assert(res.passed, res.status.toString)
  }

  test("property: shingle_hash32 equals the declarative chain on generated text") {
    holdsOnGenerated(assertAgree)
  }

  test("property: passage_hash equals the declarative window chain on generated text") {
    holdsOnGenerated(assertPassagesAgree)
  }

  test("null text gives null, not a crash") {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = Seq[Option[String]](None, Some("a b c d")).toDF("text")
      .selectExpr("shingle_hash32(text) AS h").collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getAs[scala.collection.Seq[Long]](0).nonEmpty)
  }
}
