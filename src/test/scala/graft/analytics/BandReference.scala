package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The retired per-query band formulations of the LSH near-dup family,
  * kept as [[BandIndexSpec]]'s references: [[DedupOps.bands]],
  * [[DedupOps.bandCandidates]] and [[DedupOps.withSig]] replaced four band
  * generators, three bucket-cap windows, five band joins and four
  * candidate → signature double joins, and must give the same rows as
  * each of them. The bodies are the query code as it stood, over a
  * signature frame instead of the memoized tables. Not memoized. */
object BandReference {
  import LlmOps.{MinhashWideBands, SimhashBucketCap}

  /** ddMinhashPairs' inline 8-permutation band stack: 4 bands × 2 rows. */
  def minhashBands(sig: DataFrame): DataFrame =
    sig.selectExpr("doc_id",
      "stack(4, 0, md5(concat(mh0, mh1)), 1, md5(concat(mh2, mh3)), " +
        "2, md5(concat(mh4, mh5)), 3, md5(concat(mh6, mh7))) as (band, bh)")


  /** ddMinhashPairs' band self-join. */
  def minhashCandidates(bands: DataFrame): DataFrame =
    bands.toDF("ia", "band", "bh")
      .join(bands.toDF("ib", "band2", "bh2"),
        col("band") === col("band2") && col("bh") === col("bh2") && col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()


  /** The 16-band × 4-row stack over a wide-signature frame. */
  def wideBands(sig: DataFrame): DataFrame = {
    val stackArgs = (0 until MinhashWideBands).map { bd =>
      val bh = (0 until 4).map(r => s"mh${4 * bd + r}").mkString("concat(", ", ", ")")
      s"$bd, md5($bh)"
    }.mkString(", ")
    sig.selectExpr("doc_id", s"stack($MinhashWideBands, $stackArgs) as (band, bh)")
  }


  /** [[wideBands]] with the per-(band, bucket) keep-lowest-doc_ids cap. */
  def cappedWideBands(sig: DataFrame, cap: Int = SimhashBucketCap): DataFrame =
    wideBands(sig)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))))
      .filter(col("rn") <= cap).drop("rn")


  /** The band_candidates memo body: the capped wide bands' self-join. */
  def wideCandidates(bands: DataFrame): DataFrame =
    bands.toDF("ca", "band", "bh")
      .join(bands.toDF("cb", "band2", "bh2"),
        col("band") === col("band2") && col("bh") === col("bh2") && col("ca") < col("cb"))
      .select(col("ca"), col("cb")).distinct()


  /** ddIncrementalNear's probe: batch bands against corpus bands only. */
  def probeCandidates(batchBands: DataFrame, corpusBands: DataFrame): DataFrame =
    batchBands.toDF("ia", "band", "bh")
      .join(corpusBands.toDF("ib", "band2", "bh2"),
        col("band") === col("band2") && col("bh") === col("bh2"))
      .select(col("ia"), col("ib")).distinct()


  /** simhashBands16 over a (doc_id, simhash) frame: four 4-bit bands by
    * explode-and-window. */
  def simhashBands16(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
        explode_outer(expr("sequence(0, 3)")).as("band"))
      .filter(col("band").isNotNull)
      .withColumn("bv", expr("(simhash div CAST(pow(16, band) AS BIGINT)) % 16"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("bv")).orderBy(col("doc_id"))))
      .filter(col("rn") <= SimhashBucketCap).drop("rn")


  /** simhashBands60 over a (doc_id, simhash) frame: six 10-bit bands. */
  def simhashBands60(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
        explode_outer(expr("sequence(0, 5)")).as("band"))
      .filter(col("band").isNotNull)
      .withColumn("bv", expr("(simhash div shiftleft(CAST(1 AS BIGINT), 10 * band)) % 1024"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("bv")).orderBy(col("doc_id"))))
      .filter(col("rn") <= SimhashBucketCap).drop("rn")


  /** The band self-join both simhash pairs queries wrote out, carrying
    * each side's hash. */
  def simhashCandidates(bands: DataFrame): DataFrame =
    bands.toDF("ia", "ha", "band", "bv")
      .join(bands.toDF("ib", "hb", "band2", "bv2"),
        col("band") === col("band2") && col("bv") === col("bv2") && col("ia") < col("ib"))
      .select(col("ia"), col("ib"), col("ha"), col("hb")).distinct()


  /** The candidate → signature `a`/`b` double join of the minhash pairs,
    * wide pairs, incremental probe and calibration queries. */
  def joinSig(cand: DataFrame, sig: DataFrame, ia: String, ib: String): DataFrame =
    cand.join(sig.as("a"), col(ia) === col("a.doc_id"))
      .join(sig.as("b"), col(ib) === col("b.doc_id"))
}
