package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean

/** The band index ([[DedupOps.bands]], [[DedupOps.bandCandidates]],
  * [[DedupOps.withSig]]) against the retired per-query formulations
  * ([[BandReference]]) on generated signature frames, for all four
  * geometries and both join forms. Every generated frame holds an
  * identical-signature cluster larger than the cap, so every band's cap
  * binds; exact duplicate rows, so the cap window's doc_id order has ties;
  * near copies of the cluster's signature, so candidates cross the cut;
  * and, on the probe, docs with no signature (the sub-3-token docs the
  * admission list must still carry). Each case is a few Spark jobs, so
  * the properties run few cases over small frames. */
class BandIndexSpec extends SparkSpec {
  import LlmOps.{IncrementalProbeCap, SimhashBucketCap, bandCandidates, bands,
    minhashBandExprs, simhashBandExprs, wideBandExprs, wideEstSim, withSig}

  private def check(p: Prop, min: Int = 5): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  /** Column names and types, then the rows as a sorted multiset. */
  private def rows(df: DataFrame): (Seq[(String, DataType)], Seq[String]) =
    (df.schema.map(f => f.name -> f.dataType), df.collect().map(_.toString).sorted.toSeq)

  private def same(got: DataFrame, want: DataFrame, what: String): Prop = {
    val (g, w) = (rows(got), rows(want))
    (g == w) :| s"$what: ${g._2.size} rows ${g._1} vs retired ${w._2.size} rows ${w._1}"
  }

  private def frame(schema: StructType, rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)

  private def minhashFrame(perms: Int, sigs: Seq[(Long, Seq[String])]): DataFrame =
    frame(StructType(StructField("doc_id", LongType, nullable = false) +:
        (0 until perms).map(j => StructField(s"mh$j", StringType, nullable = false))),
      sigs.map { case (id, mh) => Row.fromSeq(id +: mh) })

  private def simhashFrame(sigs: Seq[(Long, Long)]): DataFrame =
    frame(StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("simhash", LongType, nullable = false))),
      sigs.map { case (id, h) => Row(id, h) })

  /** Corpus docs lie below the split, the arriving batch at or above it. */
  private val split = 500L

  /** A signature frame: `monster` (more than `cap`) docs below the split
    * sharing one signature, up to 24 others — fresh signatures and near
    * copies of the monster's — anywhere below 2·split, and up to three
    * exact duplicate rows. */
  private def frameGen[S](sig: Gen[S], near: S => Gen[S], cap: Int): Gen[Seq[(Long, S)]] =
    for {
      m <- Gen.choose(cap + 1, cap + 8)
      n <- Gen.choose(0, 24)
      monsterSig <- sig
      monsterIds <- Gen.pick(m, 0L until split)
      otherIds <- Gen.pick(n, 0L until 2 * split)
      others <- Gen.listOfN(n, Gen.oneOf(sig, near(monsterSig)))
      dups <- Gen.choose(0, 3)
    } yield {
      val taken = monsterIds.toSet
      val all = monsterIds.map(_ -> monsterSig).toSeq ++
        otherIds.zip(others).filterNot { case (id, _) => taken(id) }
      all ++ all.take(dups)
    }

  /** Slices from a small alphabet, so bands collide often. */
  private val slice = Gen.oneOf("0a", "0b", "0c")

  private def minhashGen(perms: Int, cap: Int): Gen[Seq[(Long, Seq[String])]] =
    frameGen[Seq[String]](Gen.listOfN(perms, slice),
      base => Gen.sequence[Seq[String], String](base.map(s => Gen.frequency(4 -> Gen.const(s), 1 -> slice))),
      cap)

  private def simhashGen(width: Int): Gen[Seq[(Long, Long)]] =
    frameGen[Long](Gen.choose(0L, (1L << width) - 1),
      base => Gen.listOfN(3, Gen.choose(0, width - 1)).map(_.foldLeft(base)((h, b) => h ^ (1L << b))),
      SimhashBucketCap)

  /** The cap cut something: fewer capped rows than uncapped ones. */
  private def binds(capped: DataFrame, uncapped: DataFrame): Prop =
    (capped.count() < uncapped.count()) :| "the cap never bound"

  private def minhash8(sigs: Seq[(Long, Seq[String])]): Prop = {
    val sig = minhashFrame(8, sigs)
    val bs = bands(sig, Nil, "bh", minhashBandExprs(4, 2))
    val ref = BandReference.minhashBands(sig)
    val cand = bandCandidates(bs, bs, selfJoin = true)
    val refCand = BandReference.minhashCandidates(ref)
    same(bs, ref, "8-perm bands") && same(cand, refCand, "8-perm candidates") &&
      same(withSig(cand, sig), BandReference.joinSig(refCand, sig, "ia", "ib"), "8-perm withSig")
  }

  private def wide(sigs: Seq[(Long, Seq[String])]): Prop = {
    val sig = minhashFrame(64, sigs)
    val bs = bands(sig, Nil, "bh", wideBandExprs, Some(SimhashBucketCap))
    val ref = BandReference.cappedWideBands(sig)
    val cand = bandCandidates(bs, bs, selfJoin = true, Seq("ca"), Seq("cb"))
    val refCand = BandReference.wideCandidates(ref)
    same(bands(sig, Nil, "bh", wideBandExprs), BandReference.wideBands(sig), "wide bands") &&
      same(bs, ref, "capped wide bands") && same(cand, refCand, "wide candidates") &&
      same(withSig(cand, sig, "ca", "cb"), BandReference.joinSig(refCand, sig, "ca", "cb"),
        "wide withSig")
  }

  /** The incremental probe down to its admission list: every batch doc,
    * its best corpus match and the verdict, over `docs` (which holds ids
    * with no signature too). */
  private def admission(scored: DataFrame, docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ia")).orderBy(col("est_sim").desc, col("ib"))
    val best = scored.select(col("ia"), col("ib"), wideEstSim.as("est_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("ia").as("doc_id"), col("ib").as("match_id"), col("est_sim"))
    docs.filter(col("doc_id") >= split).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id"), col("est_sim"),
        (col("est_sim").isNull || col("est_sim") < 0.5).as("kept"))
  }

  private def probe(sigs: Seq[(Long, Seq[String])], unsigned: Seq[Long]): Prop = {
    val sig = minhashFrame(64, sigs)
    val corpus = sig.filter(col("doc_id") < split)
    val batch = sig.filter(col("doc_id") >= split)
    val cb = bands(corpus, Nil, "bh", wideBandExprs, Some(IncrementalProbeCap))
    val refCb = BandReference.cappedWideBands(corpus, IncrementalProbeCap)
    val cand = bandCandidates(bands(batch, Nil, "bh", wideBandExprs), cb, selfJoin = false)
    val refCand = BandReference.probeCandidates(BandReference.wideBands(batch), refCb)
    val docs = frame(StructType(Seq(StructField("doc_id", LongType, nullable = false))),
      (sigs.map(_._1).distinct ++ unsigned).map(Row(_)))
    val crossesSplit = cand.filter(col("ia") < split || col("ib") >= split).count()
    same(cb, refCb, "probe corpus bands") && same(cand, refCand, "probe candidates") &&
      ((crossesSplit == 0L) :| s"$crossesSplit probe pairs not batch → corpus") &&
      same(admission(withSig(cand, sig), docs),
        admission(BandReference.joinSig(refCand, sig, "ia", "ib"), docs), "admission list")
  }

  private def simhash(sigs: Seq[(Long, Long)], width: Int): Prop = {
    val sig = simhashFrame(sigs)
    val (k, bits, ref) =
      if (width == 16) (4, 4, BandReference.simhashBands16(sig))
      else (6, 10, BandReference.simhashBands60(sig))
    val bs = bands(sig, Seq("simhash"), "bv", simhashBandExprs(k, bits), Some(SimhashBucketCap))
    same(bs, ref, s"$width-bit bands") &&
      binds(bs, bands(sig, Seq("simhash"), "bv", simhashBandExprs(k, bits))) &&
      same(bandCandidates(bs, bs, selfJoin = true, Seq("ia", "ha"), Seq("ib", "hb")),
        BandReference.simhashCandidates(ref), s"$width-bit candidates")
  }

  test("8-permutation MinHash bands, self-join and signature join match the retired code") {
    check(Prop.forAllNoShrink(minhashGen(8, SimhashBucketCap))(minhash8))
  }

  test("capped 16x4 MinHash bands, self-join and signature join match the retired code") {
    check(Prop.forAllNoShrink(minhashGen(64, SimhashBucketCap)) { sigs =>
      val sig = minhashFrame(64, sigs)
      wide(sigs) && binds(bands(sig, Nil, "bh", wideBandExprs, Some(SimhashBucketCap)),
        bands(sig, Nil, "bh", wideBandExprs))
    })
  }

  test("the incremental probe form matches the retired probe down to the admission list") {
    val gen = for {
      sigs <- minhashGen(64, IncrementalProbeCap)
      unsigned <- Gen.listOfN(3, Gen.choose(2 * split, 3 * split))
    } yield (sigs, unsigned)
    check(Prop.forAllNoShrink(gen) { case (sigs, unsigned) =>
      val corpus = minhashFrame(64, sigs).filter(col("doc_id") < split)
      probe(sigs, unsigned) &&
        binds(bands(corpus, Nil, "bh", wideBandExprs, Some(IncrementalProbeCap)),
          bands(corpus, Nil, "bh", wideBandExprs))
    })
  }

  test("capped 16-bit and 60-bit SimHash bands and self-joins match the retired code") {
    check(Prop.forAllNoShrink(simhashGen(16))(simhash(_, 16)))
    check(Prop.forAllNoShrink(simhashGen(60))(simhash(_, 60)))
  }

  test("every geometry gives the retired rows on an empty signature frame") {
    check(minhash8(Nil) && wide(Nil) && probe(Nil, Seq(1200L)), min = 1)
    val sig = simhashFrame(Nil)
    Seq((4, 4, BandReference.simhashBands16(sig)), (6, 10, BandReference.simhashBands60(sig)))
      .foreach { case (k, bits, ref) =>
        val bs = bands(sig, Seq("simhash"), "bv", simhashBandExprs(k, bits), Some(SimhashBucketCap))
        check(same(bs, ref, s"$k-band bands") &&
          same(bandCandidates(bs, bs, selfJoin = true, Seq("ia", "ha"), Seq("ib", "hb")),
            BandReference.simhashCandidates(ref), s"$k-band candidates"), min = 1)
      }
  }

  test("the probe form never pairs two batch docs") {
    // the batch docs share one signature, so a self-join would pair them
    // all; no corpus doc shares a bucket with them
    val batch = (split until split + 6).map(_ -> Seq.fill(64)("0a"))
    val corpus = (0L until 6L).map(id => id -> (0 until 64).map(j => f"c$id%d$j%02d"))
    val sig = minhashFrame(64, batch ++ corpus)
    val all = bands(sig, Nil, "bh", wideBandExprs)
    val cand = bandCandidates(bands(sig.filter(col("doc_id") >= split), Nil, "bh", wideBandExprs),
      bands(sig.filter(col("doc_id") < split), Nil, "bh", wideBandExprs), selfJoin = false)
    assert(bandCandidates(all, all, selfJoin = true).count() == 15L)
    assert(cand.count() == 0L)
  }
}
