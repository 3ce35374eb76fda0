package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics of the round-18 full-pair-state changes: the deterministic
  * ':jpair' doc-sample ladder that scale-bounds the last superlinear state
  * build, and the recall gate that makes a cap-saturated corpus fail the
  * banded dedup ACTION loudly instead of silently under-dropping. In the
  * same package as the ops so the private[analytics] state builders are
  * testable directly. */
case class PairSampleDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

class PairSampleSpec extends SparkSpec {
  private type D = PairSampleDoc
  private val D = PairSampleDoc

  private def writeDocs(rows: Seq[D]): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("pairsample").toString
    rows.toDF().write.parquet(s"$d/documents.parquet")
    d
  }

  test("sample ladder: full through sf1 scale, 70% at sf2 scale, 45% beyond") {
    assert(LlmOps.jpairLadder(500L) == 65536)
    assert(LlmOps.jpairLadder(60000L) == 65536) // sf1 (50k) keeps everything
    assert(LlmOps.jpairLadder(60001L) == 45875)
    assert(LlmOps.jpairLadder(150000L) == 45875) // sf2 (100k) keeps ~70%
    assert(LlmOps.jpairLadder(150001L) == 29491) // sf10 (500k) keeps ~45%
  }

  test("sampled pair state is exactly the full state restricted to sampled docs") {
    // 12 groups of 3 identical docs: the full state holds 3 pairs per
    // group. Under a forced 50% threshold, the sampled state must equal
    // the full state restricted to pairs whose BOTH endpoints pass the
    // deterministic ':jpair' draw — same common/denominators/jaccard on
    // every surviving pair (the stop-shingle df census and the size
    // denominators are computed on the FULL corpus in both builds).
    // The builder takes the threshold, so the tiny corpus can be sampled
    // where the corpus ladder would keep all.
    // token-DISJOINT groups: zero cross-group shingle overlap, so the
    // full state is exactly the 36 within-group pairs
    val texts = (0 until 12).map(g =>
      (0 until 12).map(t => s"g${g}tok$t").mkString(" "))
    val rows = for (g <- 0 until 12; m <- 0 until 3)
      yield D(g * 3L + m, texts(g), "en", "s", texts(g).length.toLong)
    val dir = writeDocs(rows)
    def pairs(state: org.apache.spark.sql.DataFrame) = state.collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib")) -> r.getAs[Double]("jaccard"))
      .toMap
    val sampled = pairs(LlmOps.buildJaccardPairs(spark, dir, 32768))
    // the memoized state: this 36-doc corpus sits on the keep-all rung
    val full = pairs(LlmOps.jaccardPairs(spark, dir))
    // the draw as the engine computes it (jpairDraw's SQL, evaluated here)
    val inSample = spark.read.parquet(s"$dir/documents.parquet")
      .filter(expr(s"${LlmOps.jpairDraw("doc_id")} < 32768"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(inSample.nonEmpty && inSample.size < rows.size,
      s"draw degenerate: ${inSample.size} of ${rows.size} sampled")
    val expected = full.filter { case ((a, b), _) => inSample(a) && inSample(b) }
    assert(sampled == expected,
      s"sampled state diverged: extra=${sampled.keySet -- expected.keySet} " +
        s"missing=${expected.keySet -- sampled.keySet}")
    assert(expected.nonEmpty, "vacuous: no pair survived the sample")
    assert(expected.size < full.size, "vacuous: sampling dropped no pair")
  }

  test("containment thin ladder: subset pairs stay 1.0, the kept floor drops tiny sources, the accounting row balances") {
    // The round-19 scale fix: past the 60k-doc rung the containment
    // build thins shingle TYPES with keep-probability min(1, B/df) and
    // computes the ratio over the kept universe on both sides. The two
    // semantic invariants that make the thinned census trustworthy:
    // (1) type-level survival is common to both docs, so a true subset
    // pair scores containment EXACTLY 1.0 through any amount of
    // thinning; (2) the kept-source noise floor silently-drops nothing —
    // dd_containment_thin publishes the floor and the exact funnel.
    // The builder and the census take the ladder's state, so thinning
    // runs on this tiny corpus, whose rung keeps all; df must exceed
    // CThinBudget=32 for the draw to bite, hence the 40 superset docs.
    val aToks = (0 until 40).map(t => s"a$t")
    val aText = aToks.mkString(" ")
    val tText = aToks.take(5).mkString(" ") // 3 shingles — under the floor
    def bText(i: Int) = aText + " " + (0 until 10).map(t => s"b${i}x$t").mkString(" ")
    val rows = Seq(D(0L, tText, "en", "s", tText.length.toLong),
        D(1L, aText, "en", "s", aText.length.toLong)) ++
      (0 until 40).map(i => D(10L + i, bText(i), "en", "s", bText(i).length.toLong))
    val dir = writeDocs(rows)
    def pairs(state: org.apache.spark.sql.DataFrame) = state.collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib")) -> r.getAs[Double]("containment"))
      .toMap
    val thinned = pairs(LlmOps.buildContainmentPairs(spark, dir, 65536, thinActive = true))
    val thinRow = LlmOps.containmentThinCensus(spark, dir, active = true).collect().head
    // the query path: the memoized state and dd_containment_thin, unthinned
    val plain = pairs(LlmOps.containmentPairs(spark, dir))
    val plainRow = LlmOps.ddContainmentThin(spark, dir).collect().head
    // accounting row: active, floor published, the draw really dropped
    // df>32 types, and every kept aggregate is a strict sub-mass
    assert(thinRow.getAs[Boolean]("thin_active") &&
      thinRow.getAs[Long]("kept_floor") == 8L)
    assert(thinRow.getAs[Long]("n_types_kept") > 0 &&
      thinRow.getAs[Long]("n_types_kept") < thinRow.getAs[Long]("n_types"),
      s"thinning must drop some df>32 types: $thinRow")
    assert(thinRow.getAs[Long]("joinrows_kept") < thinRow.getAs[Long]("joinrows_capped") &&
      thinRow.getAs[Long]("inst_kept") < thinRow.getAs[Long]("inst_capped"))
    // inactive identity: the accounting row keeps everything, no floor
    assert(!plainRow.getAs[Boolean]("thin_active") &&
      plainRow.getAs[Long]("kept_floor") == 0L &&
      plainRow.getAs[Long]("n_types_kept") == plainRow.getAs[Long]("n_types"))
    // subset exactness THROUGH thinning: A (doc 1) is a prefix of every
    // B_i, so all 40 directed pairs survive at exactly 1.0 even though
    // some of A's shingle types were thinned away
    val aPairs = (0 until 40).map(i => (1L, 10L + i))
    assert(aPairs.forall(k => thinned.get(k).contains(1.0)),
      s"subset pairs must stay exactly 1.0 under thinning: " +
        s"${aPairs.map(k => k -> thinned.get(k))}")
    // the kept floor: tiny T (doc 0, 3 shingles < 8 kept) is a directed
    // SOURCE in the unthinned build but floored out of the thinned one
    assert(plain.keys.exists(_._1 == 0L), "unthinned build must pair T as a source")
    assert(!thinned.keys.exists(_._1 == 0L),
      s"tiny source must be floored under thinning: ${thinned.keys.filter(_._1 == 0L)}")
    // and the unthinned build's subset pairs are 1.0 too (semantics
    // unchanged below the rung)
    assert(aPairs.forall(k => plain.get(k).contains(1.0)))
  }

  test("dedup actions REFUSE a corpus where the banded edge set is lossy; the census still works") {
    // The round-17 advice item: the action consumers' oracles derive
    // >=0.8 edges from the full state while the engine rides the capped
    // bands — so a band-cap-saturated corpus (here: 310 identical docs
    // vs the 64-doc bucket cap) must fail LOUDLY at edge-memo build
    // time, not silently under-drop. The band-gap census itself bypasses
    // the gate (it is the loss-sizing diagnostic).
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = writeDocs((0L until 310L).map(i => D(i, text, "en", "s", text.length.toLong)))
    val e = intercept[IllegalStateException](LlmOps.ddCluster(spark, d).collect())
    assert(e.getMessage.contains("LOSSY") && e.getMessage.contains("dd_band_gap"),
      s"gate message must name the loss and the diagnostic: ${e.getMessage}")
    // the diagnostic is not gated: recall readout stays available
    val gap = LlmOps.ddBandGap(spark, d).collect().head
    assert(gap.getAs[Double]("recall") < 0.05)
  }
}
