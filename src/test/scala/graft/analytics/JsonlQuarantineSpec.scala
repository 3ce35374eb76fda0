package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The permissive JSONL parse behind `ingest_quarantine`: `from_json` over
  * [[LlmOps.jsonlSchema]], admitted by [[LlmOps.jsonlOkCol]], damage
  * classified by [[LlmOps.jsonlReasonCol]]. The oracle only sees the
  * census's planted damage; this pins the classifier line by line,
  * including the two torn shapes the census never plants. */
class JsonlQuarantineSpec extends SparkSpec {

  test("a garbage line and an object truncated after complete fields are torn_json; missing fields get their reasons") {
    import spark.implicits._
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "web"}""",
      """{"doc_id": 2, "text": "gamma", "lang": "de", "source": "web"}""",
      """{"doc_id": 3, "text": "delta epsilon", "lang":""",   // torn mid-object
      """not json at all""",                                  // garbage
      """{"doc_id": 4, "lang": "en", "source": "web"}""",     // missing text
      """{"text": "eta", "lang": "en", "source": "web"}""",   // missing doc_id
      """{"doc_id": 5, "text": "zeta", "lang": "fr", "source": "feed"}""")
    val got = lines.toDF("value")
      .withColumn("j", from_json(col("value"), LlmOps.jsonlSchema))
      .select(col("value"), col("j.doc_id").as("doc_id"), col("j.text").as("text"),
        when(LlmOps.jsonlOkCol(col("j")), lit("ok"))
          .otherwise(LlmOps.jsonlReasonCol(col("j"))).as("reason"))
      .collect()
      .map(r => r.getAs[String]("value") -> r)
      .toMap
    def reason(line: String): String = got(line).getAs[String]("reason")

    assert(got.size == lines.size)
    assert(reason(lines(0)) == "ok" && reason(lines(1)) == "ok" && reason(lines(6)) == "ok")
    assert(got(lines(0)).getAs[Long]("doc_id") == 1L)
    assert(got(lines(0)).getAs[String]("text") == "alpha beta")
    assert(reason(lines(2)) == "torn_json", "a truncated object must classify as torn")
    assert(reason(lines(3)) == "torn_json")
    assert(reason(lines(4)) == "missing_text")
    assert(reason(lines(5)) == "missing_doc_id")
  }
}
