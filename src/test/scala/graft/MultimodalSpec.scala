package graft

/** The multimodal queries' readouts on planted data: image dedup drops,
  * its per-cell cap, the media storage census and the cross-modal
  * retrieval census. */
class MultimodalSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("image dedup drops a planted even-even near-duplicate and keeps the rest") {
    // The driver corpora plant embedding dups only on (even, odd)
    // adjacent ids, which the image (even) half splits — so the drop
    // path needs its own plant: 60 random unit vectors, with vec 44 a
    // small perturbation of vec 40 (both even, both ABOVE the first-k
    // centroid range 0..31, so they are ordinary members that land in
    // the same image cell). 44 must be verdicted kept=false against its
    // lower-id twin; every other even stays kept (random 64-dim
    // gaussians sit far below the 0.9 cosine bar).
    import spark.implicits._
    val r = new scala.util.Random(4242)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 60).map(i => i.toLong -> unit()).toMap
    val dup = {
      val v = base(40L).map(x => x + 0.03f * r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val rows = base.toSeq.sortBy(_._1).map { case (id, v) =>
      (id, (if (id == 44L) dup else v).toSeq, (id % 10).toInt)
    }
    val d = java.nio.file.Files.createTempDirectory("mmdedup").toString
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$d/embeddings.parquet")
    val got = graft.analytics.LlmOps.mmImageDedup(spark, d).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Boolean]("kept")).toMap
    assert(got.keySet == (0 until 60 by 2).map(_.toLong).toSet,
      "census must cover exactly the even half")
    assert(!got(44L), "the planted higher-id twin must be dropped")
    assert(got.filterNot(_._1 == 44L).values.forall(identity),
      s"only the planted twin may drop: ${got.filter(!_._2)}")
  }

  test("image dedup's per-cell cap bounds the reference side to the lowest ids, unchanged when slack") {
    // Round 21 (the r20 verdict's ask #4): mm_image_dedup's within-cell
    // self-join carries a per-cell reference cap. On a planted hot cell
    // (every member in ONE cell), a binding cap must (a) keep verdicts for
    // members whose lower-id twin survives the cap, (b) verdict members
    // whose ONLY close twin is capped out as kept (the accounted loss),
    // and (c) with cap >= occupancy be bit-identical to the uncapped join.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one cell (id 7), members 10,12,14,16: 12 ~ 10 (close pair), 16 ~ 14
    def v(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val a = Array.fill(64)(r.nextGaussian().toFloat)
      val n = math.sqrt(a.map(x => x.toDouble * x).sum).toFloat
      a.map(_ / n)
    }
    def near(b: Array[Float], seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val a = b.map(x => x + 0.02f * r.nextGaussian().toFloat)
      val n = math.sqrt(a.map(x => x.toDouble * x).sum).toFloat
      a.map(_ / n)
    }
    val (a10, a14) = (v(1), v(2))
    val members = Seq((10L, a10), (12L, near(a10, 3)), (14L, a14), (16L, near(a14, 4)))
    val cell = members.toDF("cid", "ce")
      .withColumn("cn", expr("aggregate(zip_with(ce, ce, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"))
      .withColumn("cell", lit(7L))
    def verdicts(cap: Int) =
      graft.analytics.LlmOps.mmImageDedupOver(cell, cap).collect()
        .map(x => x.getAs[Long]("vec_id") -> x.getAs[Boolean]("kept")).toMap
    val uncapped = verdicts(1000)
    assert(uncapped == Map(10L -> true, 12L -> false, 14L -> true, 16L -> false))
    assert(verdicts(4) == uncapped, "a slack cap must not change any verdict")
    // cap 2 keeps only ids 10,12 as references: 12 still drops (10 survives
    // the cap), 16's only twin (14) is capped out -> kept, the loss the
    // mm_image_capped accounting row exists to surface
    assert(verdicts(2) == Map(10L -> true, 12L -> false, 14L -> true, 16L -> true))
  }

  test("media storage census obeys the CAS conservation law and surfaces planted exact dups") {
    // driver data carries near-dups but no byte-exact payload copies
    // (verified: 500/500 distinct texts), so the law is pinned on the
    // real dir and the dup-surfacing path on a planted corpus.
    def census(d: String) = {
      val row = graft.analytics.LlmOps.mmMediaDedup(spark, d).collect().head
      (row.getAs[Long]("n_items"), row.getAs[Long]("n_unique_payloads"),
        row.getAs[Long]("n_dup_items"), row.getAs[Long]("bytes_total"),
        row.getAs[Long]("bytes_reclaimable"))
    }
    val (items, uniq, dups, total, reclaim) = census(dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(items == docs.count(), "every media item counted")
    assert(dups == items - uniq)
    // conservation: total - reclaimable = one stored copy per distinct payload
    val distinctBytes = docs.selectExpr("md5(text) AS fp", "octet_length(text) AS b")
      .groupBy("fp").agg(org.apache.spark.sql.functions.min("b").as("b"))
      .agg(org.apache.spark.sql.functions.sum("b")).collect().head.getLong(0)
    assert(total - reclaim == distinctBytes,
      s"CAS law broken: $total - $reclaim != $distinctBytes")
    // planted corpus: 10 docs, ids 7/8/9 byte-identical to 0 (9 bytes),
    // 4 identical to 3 (5 bytes) — reclaimable = 3*9 + 1*5
    import spark.implicits._
    val texts = (0 until 10).map {
      case 7 | 8 | 9 => "ninebytes"
      case 0 => "ninebytes"
      case 4 => "fiveb"
      case 3 => "fiveb"
      case i => s"unique text payload $i"
    }
    val d2 = java.nio.file.Files.createTempDirectory("mmcas").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d2/documents.parquet")
    val (i2, u2, d2n, t2, r2) = census(d2)
    assert((i2, u2, d2n) == ((10L, 6L, 4L)), s"planted census wrong: ${(i2, u2, d2n)}")
    assert(r2 == 3 * 9 + 5 && t2 - r2 == texts.distinct.map(_.length).sum,
      s"planted reclaim wrong: total=$t2 reclaim=$r2")
  }

  test("cross-modal retrieval census separates matched pairs and never IVF-misses a matched even query") {
    // The (2k, 2k+1)-share-image-2k plant as retrieval ground truth: an
    // EVEN query IS its own image, so (a) exact search must rank the
    // matched pair (hit_pair_exact = 1), and (b) the IVF path can never
    // miss it — the query and its image are cell-coincident by
    // construction (identical embedding, identical centroid argmax), so
    // hit_pair_ivf = 1 too. ODD queries are the mismatched plant
    // (cross-modal cosine ~0): their paired image should essentially
    // never make the exact top-5 — the separation that makes the census
    // a retrieval eval rather than a tautology. Also pins the recall
    // overlap as non-vacuous and bounded.
    val rows = graft.analytics.LlmOps.mmRetrievalRecall(spark, dir).collect()
    val (even, odd) = rows.partition(_.getAs[Long]("qid") % 2 == 0)
    assert(even.nonEmpty && odd.nonEmpty, s"need both parities: ${rows.length} rows")
    assert(even.forall(r => r.getAs[Long]("hit_pair_exact") == 1L),
      "every even (matched) query must find its own image exactly")
    assert(even.forall(r => r.getAs[Long]("hit_pair_ivf") == 1L),
      "IVF cannot miss a cell-coincident matched pair")
    val oddExact = odd.map(_.getAs[Long]("hit_pair_exact")).sum.toDouble / odd.length
    assert(oddExact < 0.5, s"mismatched odd pairs should rarely hit: $oddExact")
    assert(rows.forall { r =>
      val h = r.getAs[Long]("hits_ivf")
      h >= 0 && h <= 5 && r.getAs[Double]("recall_ivf") == h / 5.0
    })
    assert(rows.exists(_.getAs[Long]("hits_ivf") > 0), "IVF side vacuous")
  }
}
