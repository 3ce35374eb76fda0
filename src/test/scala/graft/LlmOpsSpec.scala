package graft

import graft.analytics.{DeclarativeScans, LlmOps}

/** Semantic checks for the LLM-pipeline operators, on a crafted corpus with
  * planted exact/near duplicates (the DuckDB oracle proves engine agreement;
  * these prove the operators detect what they claim to detect). */
case class LlmDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

class LlmOpsSpec extends SparkSpec {
  import graft.{LlmDoc => Doc}

  private lazy val dir: String = {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val other = "one two three four five six seven eight nine ten eleven twelve!"
    val german = "der und die das ist der und die das ist der und die das ist!!"
    val docs = Seq(
      Doc(0, base, "en", "s0", base.length),
      Doc(1, base, "en", "s1", base.length),   // exact duplicate of 0
      Doc(2, near, "en", "s2", near.length),   // near duplicate (one word differs)
      Doc(3, other, "en", "s3", other.length), // unrelated, same length bucket
      Doc(4, german, "de", "s4", german.length))
    val d = java.nio.file.Files.createTempDirectory("llmops").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    d
  }

  test("exact dedup groups identical texts and keeps the lowest doc_id") {
    val rows = LlmOps.ddExact(spark, dir).collect()
    assert(rows.length == 4) // 5 docs, one exact-dup pair
    val dup = rows.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 0)
  }

  test("n-gram Jaccard finds the exact and near duplicates, not the unrelated doc") {
    val pairs = LlmOps.ddNgramJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"), r.getAs[Double]("jaccard"))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 0 && b == 1 && j == 1.0 }) // exact dup
    assert(pairs.exists { case (a, b, j) => a == 0 && b == 2 && j > 0.5 })  // near dup
    assert(!pairs.exists { case (a, b, _) => b == 3 || a == 3 })            // unrelated
  }

  test("minhash: identical docs share the full signature; LSH surfaces them as candidates") {
    val sig = LlmOps.ddMinhashSig(spark, dir).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0 until 8).foreach(j => assert(sig(0).getAs[String](s"mh$j") == sig(1).getAs[String](s"mh$j")))
    val pairs = LlmOps.ddMinhashPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"), r.getAs[Double]("est_sim"))).toSeq
    assert(pairs.exists { case (a, b, e) => a == 0 && b == 1 && e == 1.0 })
  }

  test("wide minhash: 64-perm signatures agree on identical docs; 16x4 banding recall >= the 8-perm path") {
    val sig = LlmOps.ddMinhashWide(spark, dir).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0 until 64).foreach(j => assert(sig(0).getAs[String](s"mh$j") == sig(1).getAs[String](s"mh$j")))
    // the 128-perm production-width table: same scheme, so its first 64
    // slices ARE the 64-perm signature (by construction), and identical
    // docs agree on all 128
    val sig128 = LlmOps.ddMinhashWide128(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    sig.foreach { case (id, r64) =>
      (0 until 64).foreach(j =>
        assert(sig128(id).getAs[String](s"mh$j") == r64.getAs[String](s"mh$j"),
          s"128-perm slice mh$j drifted from the 64-perm signature for doc $id"))
    }
    // round 20: the served 64-perm table IS a slice of the memoized 128
    // table, so the check above became by-construction — pin the slice
    // against the retired STAND-ALONE 64-perm build instead (the
    // equivalence the derivation rests on)
    val standalone = DeclarativeScans.buildMinhashWideSigN(spark, dir, 64).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(standalone.keySet == sig.keySet)
    standalone.foreach { case (id, rSa) =>
      (0 until 64).foreach(j =>
        assert(rSa.getAs[String](s"mh$j") == sig(id).getAs[String](s"mh$j"),
          s"derived 64-perm signature drifted from the stand-alone build at mh$j, doc $id"))
    }
    (0 until 128).foreach(j => assert(sig128(0).getAs[String](s"mh$j") == sig128(1).getAs[String](s"mh$j")))
    // round 21: the memoized 128 table is built by the one-pass
    // MinhashSlicesAgg kernel (digests computed inside the aggregate,
    // array-valued result) — pin EVERY slice of EVERY doc against the
    // retired declarative builder, the equivalence the whole wide-minhash
    // family now rests on
    val declar128 = DeclarativeScans.buildMinhashWideSigN(spark, dir, 128).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(declar128.keySet == sig128.keySet)
    declar128.foreach { case (id, rD) =>
      (0 until 128).foreach(j =>
        assert(rD.getAs[String](s"mh$j") == sig128(id).getAs[String](s"mh$j"),
          s"kernel 128-perm signature drifted from the declarative build at mh$j, doc $id"))
    }
    // planted dup triple: (0,1) exact, (0,2)/(1,2) one-word-off near dups
    val planted = Set((0L, 1L), (0L, 2L), (1L, 2L))
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"))).toSet
      planted.count(got.contains).toDouble / planted.size
    }
    val narrow = recall(LlmOps.ddMinhashPairs(spark, dir).collect())
    val wideRows = LlmOps.ddMinhashWidePairs(spark, dir).collect()
    val wide = recall(wideRows)
    info(f"banding recall on planted dups: wide(64 perms, 16x4) $wide%.2f vs didactic(8 perms, 4x2) $narrow%.2f")
    assert(wide >= narrow, f"wide-band recall $wide%.2f regressed below the 8-perm path's $narrow%.2f")
    // the exact-dup pair surfaces with full 64-slice agreement
    assert(wideRows.exists(r => r.getAs[Long]("ia") == 0 && r.getAs[Long]("ib") == 1 &&
      r.getAs[Double]("est_sim") == 1.0))
    // the unrelated doc never pairs with the dup triple (4-row bands
    // suppress low-similarity candidates far harder than 2-row bands)
    assert(!wideRows.exists(r =>
      Set(r.getAs[Long]("ia"), r.getAs[Long]("ib")).contains(3L) &&
        Set(r.getAs[Long]("ia"), r.getAs[Long]("ib")).exists(_ < 3L)))
  }

  test("banding-recall census: integer Jaccard bins, exact-dup bin fully retrieved, recounts vs the candidate set") {
    val census = LlmOps.ddMinhashRecall(spark, dir).collect()
    // truth universe = blocked pairs with >= 1 shared shingle (pairs with
    // zero overlap never materialize a row in the pair table — doc 3
    // shares no shingle with 0/1/2, doc 4 has no block partner), so the
    // fixture truth is exactly the 3 pairs the >= 0.2 reporting query
    // scores: (0,1) at J = 1 and (0,2)/(1,2) one word off
    val scored = LlmOps.ddNgramJaccard(spark, dir).collect()
      .map(r => ((r.getAs[Long]("ia"), r.getAs[Long]("ib")), r.getAs[Double]("jaccard")))
    assert(scored.length == 3)
    // bin from the exact jaccard double is safe here: no fixture pair sits
    // on a 1/20 boundary except J = 1.0, which is exact in both engines
    val truthBins = scored.map { case (p, j) => p -> math.floor(20 * j).toLong }.toMap
    val expected = truthBins.groupBy(_._2).map { case (b, m) => b -> m.keys.toSet }
    assert(census.map(_.getAs[Long]("bin")).toSet == expected.keySet)
    // retrieval recounts against the banded candidate set the pairs query
    // emits (the census counts generation-time candidates — same set, the
    // fixture is far below the 200-row limit)
    val cand = LlmOps.ddMinhashWidePairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"))).toSet
    census.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val t = expected(bin)
      assert(r.getAs[Long]("n_pairs") == t.size, s"bin=$bin n_pairs != ${t.size}")
      assert(r.getAs[Long]("n_retrieved") == t.count(cand.contains),
        s"bin=$bin n_retrieved != candidate-set recount")
      assert(r.getAs[Long]("n_retrieved") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("j_lo_pct") == bin * 5)
      assert(r.getAs[Double]("recall") ==
        r.getAs[Long]("n_retrieved").toDouble / r.getAs[Long]("n_pairs"))
    }
    // identical docs agree on every slice, so the J = 1 pair collides in
    // all 16 bands: the top bin is fully retrieved
    val top = census.find(_.getAs[Long]("bin") == 20L).get
    assert(top.getAs[Long]("n_pairs") == 1 && top.getAs[Double]("recall") == 1.0)
    info(census.sortBy(_.getAs[Long]("bin")).map(r =>
      s"bin ${r.getAs[Long]("bin")}: ${r.getAs[Long]("n_retrieved")}/${r.getAs[Long]("n_pairs")}")
      .mkString("S-curve: ", ", ", ""))
  }

  test("calibration census: exact BIGINT slice sums recount against the pairs query's estimates") {
    val census = LlmOps.ddMinhashCalibration(spark, dir).collect()
    val est = LlmOps.ddMinhashWidePairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib")) -> r.getAs[Double]("est_sim")).toMap
    val scored = LlmOps.ddNgramJaccard(spark, dir).collect()
      .map(r => ((r.getAs[Long]("ia"), r.getAs[Long]("ib")), r.getAs[Double]("jaccard")))
    val truthBins = scored.map { case (p, j) => p -> math.floor(20 * j).toLong }.toMap
    // the census universe is candidates ∩ truth; est_sim = matches/64
    // exactly, so matches = round(est·64) recounts the BIGINT sums
    census.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val inBin = truthBins.filter(_._2 == bin).keys.filter(est.contains).toSeq
      assert(r.getAs[Long]("n_pairs") == inBin.size, s"bin=$bin n_pairs != ${inBin.size}")
      val sumMatches = inBin.map(p => math.round(est(p) * 64)).sum
      assert(r.getAs[Long]("sum_matches") == sumMatches,
        s"bin=$bin sum_matches != est-recount $sumMatches")
      assert(r.getAs[Double]("avg_est") == sumMatches.toDouble / (64 * inBin.size))
    }
    // identical docs: every slice agrees, the estimator is exact at J = 1
    val top = census.find(_.getAs[Long]("bin") == 20L).get
    assert(top.getAs[Long]("sum_matches") == 64 && top.getAs[Double]("avg_est") == 1.0)
    info(census.sortBy(_.getAs[Long]("bin")).map(r =>
      f"bin ${r.getAs[Long]("bin")}: avg_est ${r.getAs[Double]("avg_est")}%.3f")
      .mkString("calibration: ", ", ", ""))
  }

  test("incremental near-dup: arriving re-crawls and near-dups are dropped against the corpus, fresh docs kept") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val fresh = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      Doc(0, base, "en", "corpus", base.length),    // existing corpus
      Doc(250, base, "en", "batch", base.length),   // verbatim re-crawl
      Doc(251, near, "en", "batch", near.length),   // near-dup re-crawl
      Doc(252, fresh, "en", "batch", fresh.length), // genuinely new
      Doc(253, "hi there", "en", "batch", 8))       // sub-shingle: keeps by definition
    val d = java.nio.file.Files.createTempDirectory("incnear").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddIncrementalNear(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // conservation: EVERY arriving doc gets a verdict row, including the
    // 2-token doc that cannot shingle
    assert(rows.keySet == Set(250L, 251L, 252L, 253L))
    assert(rows(253).getAs[Boolean]("kept") && rows(253).isNullAt(rows(253).fieldIndex("match_id")))
    assert(!rows(250).getAs[Boolean]("kept") &&
      rows(250).getAs[Long]("match_id") == 0L &&
      rows(250).getAs[Double]("est_sim") == 1.0, "verbatim re-crawl must drop at est 1.0")
    assert(!rows(251).getAs[Boolean]("kept") &&
      rows(251).getAs[Long]("match_id") == 0L, "one-word-off re-crawl must drop")
    assert(rows(252).getAs[Boolean]("kept") && rows(252).isNullAt(rows(252).fieldIndex("match_id")),
      "a fresh doc must survive with no corpus match")
    // the real corpus: one verdict per arriving doc, and the probe bites
    val real = "/root/testdata/sf0.001"
    val verdicts = LlmOps.ddIncrementalNear(spark, real).collect()
    val arriving = spark.read.parquet(s"$real/documents.parquet")
      .filter("doc_id >= 250").count()
    assert(verdicts.length == arriving &&
      verdicts.map(_.getAs[Long]("doc_id")).distinct.length == arriving)
    assert(verdicts.exists(!_.getAs[Boolean]("kept")), "the probe dropped nothing at sf0.001")
  }

  test("cluster: the exact+near dup triple forms one component labelled by its min id") {
    // docs 0,1 are exact dups and 2 is one-word-off: 0-1 and 0-2 (and 1-2)
    // exceed the 0.8 Jaccard edge threshold, so {0,1,2} is one component;
    // docs 3,4 have no edges and must not appear.
    val rows = LlmOps.ddCluster(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size")))
    assert(rows.toSet == Set((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L)), rows.mkString(","))
  }

  test("band gap census: banded edge retrieval is complete on both corpora, accounting conserved") {
    // The round-17 edge build retrieves through capped minhash bands;
    // this census IS the parity statement (n_missed counts full-state
    // 0.8-edges the bands failed to retrieve) plus the conservation
    // identity. Planted corpus: 3 true edges (0-1, 0-2, 1-2).
    for (d <- Seq(dir, "/root/testdata/sf0.001")) {
      val g = LlmOps.ddBandGap(spark, d).collect()
      assert(g.length == 1)
      val r = g.head
      val (t, b, m) = (r.getAs[Long]("n_true_edges"),
        r.getAs[Long]("n_banded_edges"), r.getAs[Long]("n_missed"))
      assert(t > 0, s"vacuous: no true edges at $d")
      assert(t == b + m, s"accounting broken at $d: $t != $b + $m")
      assert(m == 0L && r.getAs[Double]("recall") == 1.0,
        s"bands missed $m of $t action-threshold edges at $d")
    }
    val planted = LlmOps.ddBandGap(spark, dir).collect().head
    assert(planted.getAs[Long]("n_true_edges") == 3L)
  }

  test("band gap census DETECTS cap-cut edge loss under a monster duplicate cluster") {
    // The census must measure loss, not just report 1.0: 310 identical
    // docs saturate every band bucket (cap 64, ordered by doc_id), so
    // the banded edge set keeps exactly C(64,2) pairs of the C(310,2)
    // the full state holds — the recall readout is the operator's
    // widen-bands signal before a dedup action silently under-drops.
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (-60L until 250L).map(i => Doc(i, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("bandgap").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val r = LlmOps.ddBandGap(spark, d).collect().head
    val t = r.getAs[Long]("n_true_edges")
    val b = r.getAs[Long]("n_banded_edges")
    assert(t == 310L * 309 / 2, s"truth edges: $t")
    assert(b == 64L * 63 / 2, s"banded edges: $b (all bands keep the 64 lowest ids)")
    assert(r.getAs[Long]("n_missed") == t - b)
    assert(r.getAs[Double]("recall") < 0.05)
  }

  test("cluster histogram: singletons at size 1, the dup triple at size 3, mass conserved") {
    // {0,1,2} is one size-3 cluster; 3 and 4 are singletons
    val hist = LlmOps.ddClusterHist(spark, dir).collect()
      .map(r => (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs")))
    assert(hist.toSeq == Seq((1L, 2L, 2L), (3L, 1L, 3L)), hist.mkString(","))
    // every row: n_docs = cluster_size * n_clusters; total mass = corpus size
    hist.foreach { case (sz, nc, nd) => assert(nd == sz * nc) }
    assert(hist.map(_._3).sum == 5L)
  }

  test("tfidf: corpus-wide terms score below document-specific terms") {
    val rows = LlmOps.txtTfidf(spark, dir).collect()
    // top term of the unrelated doc 3 must be one of its own rare tokens
    // (df=1 → score = tf*5), never a token shared with the dup triple
    val top3 = rows.filter(_.getAs[Long]("doc_id") == 3L).minBy(_.getAs[Int]("rk"))
    assert(top3.getAs[Long]("df") == 1L)
    assert(top3.getAs[Double]("score") == 5.0)
  }

  test("simhash: identical docs hash identically; near-dup within small hamming distance") {
    val sh = LlmOps.ddSimhash(spark, dir).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(0) == sh(1))
    val hamming = java.lang.Long.bitCount(sh(0) ^ sh(2))
    assert(hamming <= 6, s"near-dup hamming distance $hamming")
  }

  test("wide simhash: 60-bit range, identical docs equal, near-dup hamming proportionally small") {
    val sh = LlmOps.ddSimhashWide(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh.values.forall(v => v >= 0 && v < (1L << 60)))
    assert(sh(0) == sh(1))
    val near = java.lang.Long.bitCount(sh(0) ^ sh(2))
    val far = java.lang.Long.bitCount(sh(0) ^ sh(3))
    info(s"wide hamming: near-dup $near, unrelated $far (of 60 bits)")
    assert(near < far, s"near-dup $near should be closer than unrelated $far")
    assert(near <= 20, s"near-dup hamming $near too large")
  }

  test("BPE pair census: the top pair on a crafted corpus is the known first merge") {
    import spark.implicits._
    // per "banana": an x2, na x2, ba x1; three occurrences => an 6, na 6,
    // ba 3; the (n desc, pair) tie-break makes 'an' the first merge
    val text = "banana banana banana"
    val docs = Seq(Doc(0, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("bpe").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtBpePairs(spark, d).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n")))
    assert(rows.head == ("an", 6L), s"first merge should be ('an', 6), got ${rows.head}")
    assert(rows.toSeq == Seq(("an", 6L), ("na", 6L), ("ba", 3L)), rows.mkString(","))
  }

  test("BPE merge round: applying the argmax merge yields the known round-2 census") {
    import spark.implicits._
    // round 1 top pair on "banana" x3 is 'an' (tie-break); merging it
    // rewrites each token to "b(an)(an)a" = b··a for the noncharacter
    // sentinel · = U+FDD0, whose adjacent-symbol pairs are b· / ·· / ·a,
    // three occurrences each
    val S = "\uFDD0"
    val text = "banana banana banana"
    val docs = Seq(Doc(0, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("bpe2").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtBpeMerge(spark, d).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n")))
    assert(rows.toSeq == Seq((s"b$S", 3L), (s"$S$S", 3L), (s"${S}a", 3L))
      .sortBy(_._1), rows.mkString(","))
  }

  test("BPE vocab: four merge rounds produce the known merge table, sentinels merging across rounds") {
    import spark.implicits._
    // pair counts: ab 20/ba 10 (from "abab" x10), cd 12/dc 6 ("cdcd" x6),
    // ef 6/fe 3 ("efef" x3). Round 1 merges ab -> S0 ("abab" becomes
    // S0S0); round 2 cd (12); round 3 the SENTINEL pair S0S0 (10) — a
    // merge ACROSS round 1's output, the recursive structure of a real
    // BPE vocabulary; round 4 breaks the (ef 6, S1S1 6) tie by pair
    // order ('ef' sorts below the noncharacter).
    val text = (Seq.fill(10)("abab") ++ Seq.fill(6)("cdcd") ++ Seq.fill(3)("efef")).mkString(" ")
    val docs = Seq(Doc(0, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("bpevocab").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtBpeVocab(spark, d).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("pair"), r.getAs[Long]("n")))
    assert(rows.toSeq == Seq(
      (1L, "ab", 20L), (2L, "cd", 12L), (3L, "\uFDD0\uFDD0", 10L), (4L, "ef", 6L)),
      rows.mkString(","))
  }

  test("BPE encode: the trained merges compress the crafted corpus to the known symbol counts") {
    import spark.implicits._
    // same corpus as the vocab test: merges are ab->S0, cd->S1, S0S0->S2,
    // ef->S3, so "abab" encodes to ONE symbol (through the recursive
    // round-3 merge), "cdcd" and "efef" to two each
    val text = (Seq.fill(10)("abab") ++ Seq.fill(6)("cdcd") ++ Seq.fill(3)("efef")).mkString(" ")
    val docs = Seq(Doc(0, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("bpeencode").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val r = LlmOps.txtBpeEncode(spark, d).collect().head
    assert(r.getAs[Long]("n_toks") == 19L)
    assert(r.getAs[Long]("n_chars") == 76L)
    assert(r.getAs[Long]("n_symbols") == 10L * 1 + 6L * 2 + 3L * 2,
      s"expected 28 post-merge symbols, got ${r.getAs[Long]("n_symbols")}")
    assert(r.getAs[Long]("n_saved") == 48L)
    assert(r.getAs[Double]("ratio") == 28.0 / 76.0)
  }

  test("classifier sweep: the 6-point census is monotone and agrees with the deployed cut") {
    val rows = LlmOps.txtClassifierSweep(spark, dir).collect()
    assert(rows.length == 6)
    val ks = rows.map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_keep"))).toSeq
    assert(ks.map(_._1) == Seq(0.0, 0.5, 1.0, 1.5, 2.0, 2.5))
    assert(ks.map(_._2) == ks.map(_._2).sorted.reverse,
      "kept counts must be non-increasing in the cut")
    assert(rows.forall(_.getAs[Long]("n_docs") == 5L))
    val deployed = LlmOps.txtClassifier(spark, dir).collect()
      .count(_.getAs[Boolean]("keep")).toLong
    assert(ks.toMap.apply(1.0) == deployed,
      "the 1.0 cut must reproduce the deployed keep count")
    val frac = rows.find(_.getAs[Double]("threshold") == 1.0).get.getAs[Double]("keep_frac")
    assert(frac == deployed.toDouble / 5.0)
  }

  test("curation funnel: each gate drops exactly its planted victim, final stage equals the clean corpus") {
    import spark.implicits._
    // one victim per gate: doc 1 fails gopher (1 word), doc 2 is an exact
    // duplicate of doc 0 (min-id 0 keeps), doc 3 is doc 0's near-dup in
    // the same (lang, length-bucket) block (higher id drops), docs 0/4
    // survive everything
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val keepA = base + " the"
    val nearDup = base + " zzzzzzzzzz"
    val keepB = "one two three four five six seven eight nine ten eleven twelve!"
    val docs = Seq(
      Doc(0, keepA, "en", "s0", keepA.length),
      Doc(1, "x", "en", "s1", 1L),
      Doc(2, keepA, "en", "s2", keepA.length),
      Doc(3, nearDup, "en", "s3", nearDup.length),
      Doc(4, keepB, "en", "s4", keepB.length))
    val d = java.nio.file.Files.createTempDirectory("funnel").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtCurationFunnel(spark, d).collect()
    assert(rows.map(r => (r.getAs[Long]("stage_id"), r.getAs[String]("stage"),
      r.getAs[Long]("n_in"), r.getAs[Long]("n_kept"))).toSeq == Seq(
      (0L, "raw", 5L, 5L),
      (1L, "quality_gopher", 5L, 4L),
      (2L, "exact_dedup", 4L, 3L),
      (3L, "near_dedup", 3L, 2L)))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_kept"))
      assert(r.getAs[Double]("kept_frac") == r.getAs[Long]("n_kept").toDouble / 5.0)
    }
    // the funnel's tail IS the clean corpus: same chain, same verdicts
    assert(rows.last.getAs[Long]("n_kept") == LlmOps.txtCleanCorpus(spark, d).count())
    // and the two reports agree on the shared crafted corpus too
    val shared = LlmOps.txtCurationFunnel(spark, dir).collect()
    assert(shared.map(_.getAs[Long]("n_in")).head ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    assert(shared.last.getAs[Long]("n_kept") == LlmOps.txtCleanCorpus(spark, dir).count())
    // funnel chaining: each stage starts from the previous stage's survivors
    shared.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_kept"))
    }
  }

  test("quality-ranked dedup keep: the better-scoring cluster member wins over the lower id") {
    import spark.implicits._
    // docs 0 and 1 are near-dups (10 of 12 shingles shared, Jaccard 0.833)
    // in the same (lang, length-bucket) block; 0 carries a long-token
    // penalty (score 8/13), 1 a stopword bonus (score 15/13). dd_dedup_keep
    // keeps min-id 0; the quality-ranked keep must keep 1.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val lowQ = base + " zzzzzzzzzzzzzz" // 14-char token: -3 long
    val highQ = base + " the"           // stopword: +4
    val other = "one two three four five six seven eight nine ten eleven twelve!"
    val docs = Seq(
      Doc(0, lowQ, "en", "s0", lowQ.length),
      Doc(1, highQ, "en", "s1", highQ.length),
      Doc(2, other, "en", "s2", other.length))
    val d = java.nio.file.Files.createTempDirectory("keepbest").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddDedupKeepBest(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L), s"kept ${rows.keySet}")
    assert(rows(1).getAs[Long]("cluster_id") == 0L,
      "the winner must carry its cluster's min-id label")
    assert(rows(1).getAs[Double]("score") > 1.0)
    assert(rows(2).isNullAt(rows(2).fieldIndex("cluster_id")),
      "an unclustered doc keeps with a null cluster")
    // control: the min-id keep would have made the opposite choice
    val minId = LlmOps.ddDedupKeep(spark, d).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(minId == Set(0L, 2L), s"min-id keep surprised: $minId")
  }

  test("incremental-probe cap accounting: zero on a small corpus, exact cut under a monster cluster") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 310 identical corpus-side docs (ids < 250 via negatives) overflow
    // the 256-member bucket cap in every band: 16 buckets capped, 54
    // rows cut per band
    val docs = (-60L until 250L).map(i => Doc(i, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("inccap").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val r = LlmOps.ddIncrementalCapped(spark, d).collect().head
    assert(r.getAs[Long]("n_rows") == 310L * 16)
    assert(r.getAs[Long]("n_buckets") == 16L)
    assert(r.getAs[Long]("n_buckets_capped") == 16L)
    assert(r.getAs[Long]("n_rows_capped_out") == (310L - 256) * 16)
    // and the accounting is quiet on the ordinary crafted corpus
    val quiet = LlmOps.ddIncrementalCapped(spark, dir).collect().head
    assert(quiet.getAs[Long]("n_rows_capped_out") == 0L &&
      quiet.getAs[Long]("n_buckets_capped") == 0L)
  }

  test("filtered PQ serve: label predicate holds through the ADC scan; recall tracks the flat filtered path") {
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfFilteredPq(spark, real).collect()
    assert(rows.nonEmpty)
    val e = spark.read.parquet(s"$real/embeddings.parquet")
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    rows.foreach { r =>
      val (qid, cid) = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      assert(r.getAs[Int]("label") == e(qid))
      assert(e(cid) == e(qid), s"ADC answer $cid violates query $qid's label predicate")
      assert(cid % 4 != 3, s"held-out vector $cid served from the filtered PQ index")
    }
    // at the same probe width, the compressed path's exact re-rank should
    // track the flat filtered path's answers closely: compare overlap
    val flat = LlmOps.simIvfFiltered(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val overlap = rows.count(r => flat((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
      math.max(flat.size, 1)
    info(f"filtered PQ answers overlapping the flat filtered path: $overlap%.2f")
    assert(overlap >= 0.6,
      f"compressed filtered path diverged from flat filtered ($overlap%.2f overlap)")
  }

  test("classifier head separates planted fluent prose from planted gibberish") {
    import spark.implicits._
    val high = "the cat and the dog of the house went to the garden and sat down"
    val low = "zzzzzzzzzzzzzzzz zzzzzzzzzzzzzzzz zzzzzzzzzzzzzzzz blargbla blargbla blargbla"
    val docs = Seq(
      Doc(0, high, "en", "hq", high.length),
      Doc(1, low, "en", "lq", low.length))
    val d = java.nio.file.Files.createTempDirectory("clf").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtClassifier(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val (sHigh, sLow) = (rows(0).getAs[Double]("score"), rows(1).getAs[Double]("score"))
    info(f"classifier score: fluent $sHigh%.2f vs gibberish $sLow%.2f (threshold 1.0)")
    assert(sHigh > sLow, f"head failed to separate: $sHigh%.2f <= $sLow%.2f")
    assert(rows(0).getAs[Boolean]("keep"), "fluent prose must clear the keep threshold")
    assert(!rows(1).getAs[Boolean]("keep"), "gibberish must fall below the keep threshold")
  }

  test("language-ID picks the marker-dominant language") {
    val pred = LlmOps.txtLangid(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(pred(4) == "de")
    assert(pred(0) == "en") // no markers at all → fixed-priority fallback is 'en'
  }

  test("ANN cosine values agree with the brute-force baseline; recall is measurable") {
    val real = "/root/testdata/sf0.001"
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    val ann = LlmOps.simAnnLsh(spark, real).collect()
    assert(ann.nonEmpty)
    // any (qid,cid) pair surfaced by both paths must carry the identical cosine
    ann.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
    val recall = ann.count(r => brute.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
      math.max(brute.size, 1)
    info(f"ANN recall@5 vs brute force: $recall%.2f (4 hyperplanes, 16 buckets)")
  }

  test("multiprobe ANN beats single-bucket recall; cosines agree with brute force") {
    val real = "/root/testdata/sf0.001"
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.count(r => brute.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
        math.max(brute.size, 1)
    val single = recall(LlmOps.simAnnLsh(spark, real).collect())
    val multi = LlmOps.simAnnMultiprobe(spark, real).collect()
    multi.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
    val multiRecall = recall(multi)
    info(f"multiprobe recall@5 $multiRecall%.2f vs single-bucket $single%.2f")
    assert(multiRecall >= single)
  }

  test("IVF cosine values agree with the brute-force baseline; recall is measurable") {
    val real = "/root/testdata/sf0.001"
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    val ivf = LlmOps.simIvf(spark, real).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
    val recall = ivf.count(r => brute.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
      math.max(brute.size, 1)
    info(f"IVF recall@5 vs brute force: $recall%.2f (nprobe=1)")
  }

  test("radius-2 multiprobe clears the recall@5 >= 0.6 floor; cosines agree with brute force") {
    val real = "/root/testdata/sf0.001"
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    val p2 = LlmOps.simAnnProbe2(spark, real).collect()
    p2.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
    val recall = p2.count(r => brute.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
      math.max(brute.size, 1)
    info(f"radius-2 multiprobe recall@5 vs brute force: $recall%.2f")
    // the PINNED floor: the shipped similarity surface must have at least
    // one ANN configuration a real user can take — radius-2 probing keeps
    // candidate volume at (1 + P + P(P-1)/2) buckets of ~64 vectors,
    // bounded per query at any corpus size, while recall clears 0.6
    assert(recall >= 0.6, f"radius-2 multiprobe recall@5 $recall%.2f below the 0.6 floor")
  }

  test("IVF nprobe=2 recall beats nprobe=1; cosines agree with brute force") {
    val real = "/root/testdata/sf0.001"
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.count(r => brute.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
        math.max(brute.size, 1)
    val one = recall(LlmOps.simIvf(spark, real).collect())
    val two = LlmOps.simIvfNprobe2(spark, real).collect()
    two.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
    val twoRecall = recall(two)
    info(f"IVF recall@5: nprobe=2 $twoRecall%.2f vs nprobe=1 $one%.2f")
    assert(twoRecall >= one)
  }

  test("recall census recounts the overlap of the three composed queries; nprobe=2 never loses") {
    val real = "/root/testdata/sf0.001"
    def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val truth = pairs(LlmOps.simTopkCosine(spark, real).collect())
    val np1 = pairs(LlmOps.simIvf(spark, real).collect())
    val np2 = pairs(LlmOps.simIvfNprobe2(spark, real).collect())
    val census = LlmOps.simIvfRecall(spark, real).collect()
    // one row per capped query, in qid order
    assert(census.map(_.getAs[Long]("qid")).toSeq == truth.map(_._1).toSeq.distinct.sorted)
    census.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val t = truth.filter(_._1 == qid)
      val h1 = r.getAs[Long]("hits_np1")
      val h2 = r.getAs[Long]("hits_np2")
      // the census row IS the overlap count of the composed queries
      assert(h1 == t.count(np1), s"qid=$qid hits_np1 $h1 != recount ${t.count(np1)}")
      assert(h2 == t.count(np2), s"qid=$qid hits_np2 $h2 != recount ${t.count(np2)}")
      assert(h1 >= 0 && h1 <= 5 && h2 >= 0 && h2 <= 5)
      // widening the probe can only add candidates: nprobe=2 never loses
      assert(h2 >= h1, s"qid=$qid nprobe=2 hits $h2 < nprobe=1 hits $h1")
      assert(r.getAs[Double]("recall_np1") == h1.toDouble / 5)
      assert(r.getAs[Double]("recall_np2") == h2.toDouble / 5)
    }
    val mean2 = census.map(_.getAs[Double]("recall_np2")).sum / census.length
    info(f"census mean recall@5: nprobe=2 $mean2%.2f over ${census.length} queries")
  }

  test("LSH recall census recounts the three probing radii; wider radius never loses") {
    val real = "/root/testdata/sf0.001"
    def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val truth = pairs(LlmOps.simTopkCosine(spark, real).collect())
    val radii = Seq(
      "r0" -> pairs(LlmOps.simAnnLsh(spark, real).collect()),
      "r1" -> pairs(LlmOps.simAnnMultiprobe(spark, real).collect()),
      "r2" -> pairs(LlmOps.simAnnProbe2(spark, real).collect()))
    val census = LlmOps.simAnnRecall(spark, real).collect()
    assert(census.map(_.getAs[Long]("qid")).toSeq == truth.map(_._1).toSeq.distinct.sorted)
    census.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val t = truth.filter(_._1 == qid)
      val hits = radii.map { case (sfx, set) =>
        val h = r.getAs[Long](s"hits_$sfx")
        assert(h == t.count(set), s"qid=$qid hits_$sfx $h != recount ${t.count(set)}")
        assert(r.getAs[Double](s"recall_$sfx") == h.toDouble / 5)
        h
      }
      // each radius widens the candidate set: recall is monotone in radius
      assert(hits == hits.sorted, s"qid=$qid recall not monotone in radius: $hits")
    }
    val means = radii.map { case (sfx, _) =>
      f"$sfx ${census.map(_.getAs[Double](s"recall_$sfx")).sum / census.length}%.2f" }
    info(s"census mean recall@5 by radius: ${means.mkString(", ")}")
  }

  test("PQ recall census recounts both code widths; production width never trails in aggregate") {
    val real = "/root/testdata/sf0.001"
    def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val truth = pairs(LlmOps.simTopkCosine(spark, real).collect())
    val widths = Seq(
      "pq16" -> pairs(LlmOps.simIvfPq(spark, real).collect()),
      "pq256" -> pairs(LlmOps.simIvfPq256(spark, real).collect()))
    val census = LlmOps.simPqRecall(spark, real).collect()
    assert(census.map(_.getAs[Long]("qid")).toSeq == truth.map(_._1).toSeq.distinct.sorted)
    census.foreach { r =>
      val qid = r.getAs[Long]("qid")
      val t = truth.filter(_._1 == qid)
      widths.foreach { case (sfx, set) =>
        val h = r.getAs[Long](s"hits_$sfx")
        assert(h == t.count(set), s"qid=$qid hits_$sfx $h != recount ${t.count(set)}")
        assert(h >= 0 && h <= 5)
        assert(r.getAs[Double](s"recall_$sfx") == h.toDouble / 5)
      }
    }
    // aggregate, not per-query: a coarser code can luckily outrank on one
    // query, but over the sample the 16x finer quantization must not lose
    // (the same data-pinned property the pq256 spec above asserts)
    val tot16 = census.map(_.getAs[Long]("hits_pq16")).sum
    val tot256 = census.map(_.getAs[Long]("hits_pq256")).sum
    info(f"census recall@5: pq256 ${tot256.toDouble / (5 * census.length)}%.2f " +
      f"vs pq16 ${tot16.toDouble / (5 * census.length)}%.2f over ${census.length} queries")
    assert(tot256 >= tot16, s"production width lost hits in aggregate: $tot256 < $tot16")
  }

  test("k-means-refined IVF: cosines agree with brute force; cells are more balanced than first-k init") {
    val real = "/root/testdata/sf0.001"
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    val km = LlmOps.simIvfKmeans(spark, real).collect()
    assert(km.nonEmpty)
    km.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
    val plain = LlmOps.simIvf(spark, real).collect()
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.count(r => brute.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
        math.max(brute.size, 1)
    info(f"IVF recall@5: kmeans ${recall(km)}%.2f vs first-k init ${recall(plain)}%.2f")
    // The refinement's CLAIM is balance, not recall (recall on a 2k-row
    // corpus is noisy): one Lloyd round must not leave cell occupancy more
    // skewed than the first-k init it started from. Compare the largest
    // query-side candidate-set sizes (rows per qid are capped at 5; use the
    // per-cell candidate counts implied by pair volume instead): measure
    // max cell population from each frame's ungated assignment.
    val n = spark.read.parquet(s"$real/embeddings.parquet").count()
    assert(km.map(_.getAs[Long]("qid")).distinct.length >= (n / 50 * 4) / 5,
      "k-means IVF lost more than 20% of query coverage")
  }

  test("balance census: occupancy histograms conserve the corpus for both quantizers") {
    val real = "/root/testdata/sf0.001"
    val census = LlmOps.simIvfBalance(spark, real).collect()
    val n = spark.read.parquet(s"$real/embeddings.parquet").count()
    val byQ = census.groupBy(_.getAs[String]("quantizer"))
    assert(byQ.keySet == Set("first_k", "kmeans"))
    byQ.foreach { case (q, rows) =>
      // every vector lands in exactly one cell: the histogram's mass is N
      val mass = rows.map(r => r.getAs[Long]("occ") * r.getAs[Long]("n_cells")).sum
      assert(mass == n, s"$q histogram mass $mass != corpus $n")
      rows.foreach(r => assert(r.getAs[Long]("occ") >= 1 && r.getAs[Long]("n_cells") >= 1))
    }
    def maxOcc(q: String) = byQ(q).map(_.getAs[Long]("occ")).max
    info(s"max cell occupancy: first_k ${maxOcc("first_k")}, kmeans ${maxOcc("kmeans")}")
  }

  test("two-level IVF: exact cosines where pairs overlap brute force; dense ranks per query") {
    val real = "/root/testdata/sf0.001"
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    val rows = LlmOps.simIvf2(spark, real).collect()
    assert(rows.nonEmpty)
    // the leaf scan ranks with FULL-precision cosines: any emitted pair
    // that is also a true top-5 pair must carry the identical double
    rows.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos"),
        s"two-level IVF cosine diverged from brute force at $key"))
    }
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { qr =>
      assert(qr.map(_.getAs[Int]("rk")).sorted.sameElements(1 to qr.length))
      assert(qr.length <= 5)
    }
    val recall = rows.count(r =>
      brute.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
      math.max(brute.size, 1)
    info(f"two-level IVF recall@5 vs brute force: $recall%.2f (~N^(1/3)-member leaves)")
  }

  test("multi-round Lloyd: recall holds vs the one-round variant; the refinement converges") {
    // The multi-round quantizer (KmRounds=3, fixed-point early stop) must
    // not retrieve worse than the single-round variant it replaced.
    // Recall measured driver-side from the raw assignment tables against
    // exhaustive truth — 500 vectors, exact and deterministic.
    val real = "/root/testdata/sf0.001"
    def assignAt(rounds: Int): Array[(Long, Array[Double], Long)] =
      LlmOps.ivfKmeansAssignment(spark, real, rounds).collect()
        .map(r => (r.getAs[Long]("vec_id"),
          r.getSeq[Float](1).map(_.toDouble).toArray, r.getAs[Long]("cell")))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    def recall(assign: Array[(Long, Array[Double], Long)]): Double = {
      val byCell = assign.groupBy(_._3)
      val hits = assign.filter(_._1 % 50 == 0).map { case (qid, q, cell) =>
        val truth = assign.filter(_._1 != qid)
          .map(c => (c._1, cos(q, c._2))).sortBy(t => (-t._2, t._1))
          .take(5).map(_._1).toSet
        val got = byCell(cell).filter(_._1 != qid)
          .map(c => (c._1, cos(q, c._2))).sortBy(t => (-t._2, t._1))
          .take(5).map(_._1).toSet
        (got & truth).size.toDouble / truth.size
      }
      hits.sum / hits.length
    }
    val (r1, r3) = (recall(assignAt(1)), recall(assignAt(3)))
    info(f"kmeans recall@5: 3-round Lloyd $r3%.2f vs 1-round $r1%.2f")
    // Lloyd improves the QUANTIZATION objective, not retrieval recall — a
    // strict r3 >= r1 is deterministic today but not guaranteed, and a
    // testdata or KmQuant change could flip it into a hard failure for a
    // non-bug. Allow a small tolerance; a genuine regression still trips.
    assert(r3 >= r1 - 0.05, f"multi-round Lloyd degraded recall: $r1%.2f -> $r3%.2f")
    // convergence: past the fixed point extra rounds are the identity, so
    // a deeper train can never differ from KmRounds once movement stops
    val a3 = assignAt(3).map(t => t._1 -> t._3).toMap
    val a5 = assignAt(5).map(t => t._1 -> t._3).toMap
    val movedLate = a3.count { case (id, c) => a5(id) != c }
    info(s"assignments changed between round-3 and round-5 trains: $movedLate")
  }

  test("IVF-PQ: ADC ranks within the same coarse cells as flat IVF; scores bounded; queries covered") {
    val real = "/root/testdata/sf0.001"
    val pq = LlmOps.simIvfPq(spark, real).collect()
    assert(pq.nonEmpty)
    // rk is a dense 1..5 prefix per query
    pq.groupBy(_.getAs[Long]("qid")).values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to rows.length))
    }
    // ADC pairs live in the SAME coarse cells as flat IVF, so every
    // reported candidate must be drawn from sim_ivf's candidate pool:
    // query coverage can't shrink below sim_ivf's.
    val ivfQids = LlmOps.simIvf(spark, real).collect().map(_.getAs[Long]("qid")).toSet
    assert(pq.map(_.getAs[Long]("qid")).toSet == ivfQids,
      "IVF-PQ must answer exactly the query set flat IVF answers (same cells)")
    // the norm-corrected ADC score approximates a cosine: |score| stays in
    // a sane band (quantization can push it slightly past 1, never wildly)
    pq.foreach(r => assert(math.abs(r.getAs[Double]("cos_adc")) < 2.0))
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val recall = pq.count(r => brute((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
      math.max(brute.size, 1)
    info(f"IVF-PQ recall@5 vs brute force: $recall%.2f (16-code codebooks on random embeddings)")
  }

  test("IVF-PQ production width (256 codes): same query set and cells; recall at-or-above the 16-code path") {
    val real = "/root/testdata/sf0.001"
    val pq16 = LlmOps.simIvfPq(spark, real).collect()
    val pq256 = LlmOps.simIvfPq256(spark, real).collect()
    assert(pq256.nonEmpty)
    // identical coarse quantizer → identical query coverage and dense rk
    assert(pq256.map(_.getAs[Long]("qid")).toSet == pq16.map(_.getAs[Long]("qid")).toSet,
      "code width must not change which queries are answered (same coarse cells)")
    pq256.groupBy(_.getAs[Long]("qid")).values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to rows.length))
    }
    pq256.foreach(r => assert(math.abs(r.getAs[Double]("cos_adc")) < 2.0))
    val brute = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.count(r => brute((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
        math.max(brute.size, 1)
    val (r16, r256) = (recall(pq16), recall(pq256))
    info(f"IVF-PQ recall@5: 256-code $r256%.2f vs 16-code $r16%.2f")
    // 16x finer per-subspace quantization over the SAME candidate pool:
    // the production width must not rank worse than the compact yardstick
    assert(r256 >= r16,
      f"256-code recall $r256%.2f fell below the 16-code path's $r16%.2f")
  }

  test("IVF-PQ re-rank: exact cosines agree with brute force; recall >= plain ADC ordering") {
    val real = "/root/testdata/sf0.001"
    val bruteMap = LlmOps.simTopkCosine(spark, real).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("cos")).toMap
    val rer = LlmOps.simIvfPqRerank(spark, real).collect()
    assert(rer.nonEmpty)
    // the re-rank stage scores with full-precision vectors, so wherever a
    // reported pair is also a true top-5 pair the cosine must be EQUAL to
    // the brute-force value (same fixed-order arithmetic), not approximate
    rer.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      bruteMap.get(key).foreach(c => assert(c == r.getAs[Double]("cos"),
        s"re-ranked pair $key cosine diverged from brute force"))
    }
    // re-ranking a 4x-overfetched ADC shortlist with exact scores can only
    // fix in-shortlist mis-orderings — recall must not drop below plain PQ
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.count(r => bruteMap.contains((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
        math.max(bruteMap.size, 1)
    val plainPq = recall(LlmOps.simIvfPq(spark, real).collect())
    val rerank = recall(rer)
    info(f"IVF-PQ recall@5: rerank $rerank%.2f vs plain ADC $plainPq%.2f")
    assert(rerank >= plainPq,
      f"exact re-rank recall $rerank%.2f fell below plain ADC $plainPq%.2f")
  }

  test("IVF serve path: held-out queries are answered from corpus cells only, with exact cosines") {
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfServe(spark, real).collect()
    assert(rows.nonEmpty)
    // every query is a held-out vector; no candidate is (the held-out
    // quarter is invisible to the index by construction)
    rows.foreach { r =>
      assert(r.getAs[Long]("qid") % 200 == 3)
      assert(r.getAs[Long]("cid") % 4 != 3,
        s"held-out vector ${r.getAs[Long]("cid")} served as an index member")
    }
    // rk is a dense 1..n prefix per query and cosines are exact doubles
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { qr =>
      assert(qr.map(_.getAs[Int]("rk")).sorted.sameElements(1 to qr.length))
    }
    rows.foreach(r => assert(math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-9))
  }

  test("PQ serve path: held-out queries, corpus-only candidates, recall@5 >= flat serve") {
    import spark.implicits._
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfServePq(spark, real).collect()
    assert(rows.nonEmpty)
    // same serve contract as the flat path: queries held-out, candidates
    // corpus-only (the compressed index never encoded the held-out quarter)
    rows.foreach { r =>
      assert(r.getAs[Long]("qid") % 200 == 3)
      assert(r.getAs[Long]("cid") % 4 != 3,
        s"held-out vector ${r.getAs[Long]("cid")} served from the PQ index")
    }
    // ground truth: brute-force exact top-5 over the corpus per held-out query
    val e = spark.read.parquet(s"$real/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val corpus = e.filter(_._1 % 4 != 3)
    val truth = e.filter(_._1 % 200 == 3).flatMap { case (qid, qe) =>
      corpus.map { case (cid, ce) =>
        (qid, cid, dot(qe, ce) / math.sqrt(dot(qe, qe) * dot(ce, ce))) }
        .sortBy { case (_, cid, cos) => (-cos, cid) }.take(5)
    }.map { case (qid, cid, _) => (qid, cid) }.toSet
    def recall(got: Array[org.apache.spark.sql.Row]): Double =
      got.count(r => truth((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble /
        math.max(truth.size, 1)
    val flat = recall(LlmOps.simIvfServe(spark, real).collect())
    val pq = recall(rows)
    info(f"serve recall@5 vs brute force: PQ+rerank(nprobe=2) $pq%.2f vs flat(nprobe=1) $flat%.2f")
    // nprobe=2 + exact re-rank must not serve worse than the single-cell
    // flat path — the recall bound this query exists to close
    assert(pq >= flat, f"PQ serve recall $pq%.2f fell below flat serve $flat%.2f")
  }

  test("incremental IVF lifecycle: inserts drift cell occupancy, a Lloyd re-train rebalances without losing recall") {
    // Executable form of the simIvfServe Scaladoc contract: new vectors
    // join by assign-to-existing-cells (the serve/insert path), occupancy
    // drifts as inserts accumulate, and the periodic re-train — one Lloyd
    // round over the grown membership, simIvfKmeans's move — rebalances
    // cells. Driver-side model over the real sf0.001 vectors with the
    // exact production formulas (max-cosine assignment, low-id tie-break,
    // mean-direction Lloyd update), small enough to be exhaustive.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val n = e.length
    val k = math.max(16, math.sqrt(n / 2).toInt)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    val corpus = e.filter(_._1 % 4 != 3)
    val inserts = e.filter(_._1 % 4 == 3)
    val cents0 = corpus.take(k).map(_._2)
    def assign(v: Array[Double], cents: Array[Array[Double]]): Int =
      cents.zipWithIndex.maxBy { case (c, i) => (cos(v, c), -i) }._2
    def occupancy(vs: Array[(Long, Array[Double])], cents: Array[Array[Double]]): Map[Int, Int] =
      vs.groupBy { case (_, v) => assign(v, cents) }.view.mapValues(_.length).toMap
    def skew(occ: Map[Int, Int]): Double = {
      val counts = (0 until k).map(c => occ.getOrElse(c, 0).toDouble)
      counts.max / (counts.sum / k)
    }
    val skewCorpus = skew(occupancy(corpus, cents0))
    val combined = corpus ++ inserts
    val skewInserted = skew(occupancy(combined, cents0))
    // re-train: one Lloyd round over the grown membership; an empty cell
    // keeps its old centroid (cosine needs only the mean DIRECTION)
    val byCell = combined.groupBy { case (_, v) => assign(v, cents0) }
    val cents1 = cents0.indices.map { c =>
      byCell.get(c).fold(cents0(c)) { members =>
        val s = new Array[Double](cents0(c).length)
        members.foreach { case (_, v) => v.indices.foreach(i => s(i) += v(i)) }
        s
      }
    }.toArray
    val skewRetrained = skew(occupancy(combined, cents1))
    info(f"occupancy skew (max/mean): corpus $skewCorpus%.2f -> +inserts $skewInserted%.2f -> re-trained $skewRetrained%.2f")
    assert(skewRetrained <= skewInserted,
      f"Lloyd re-train worsened occupancy skew: $skewInserted%.2f -> $skewRetrained%.2f")
    // recall@5 of the cell-scan retrieval for the inserted vectors, before
    // vs after the re-train, against exhaustive search over the grown index
    def recall(cents: Array[Array[Double]]): Double = {
      val cells = combined.groupBy { case (_, v) => assign(v, cents) }
      val hits = inserts.map { case (qid, q) =>
        val truth = combined.filter(_._1 != qid)
          .map { case (cid, c) => (cid, cos(q, c)) }
          .sortBy { case (cid, s) => (-s, cid) }.take(5).map(_._1).toSet
        val got = cells(assign(q, cents)).filter(_._1 != qid)
          .map { case (cid, c) => (cid, cos(q, c)) }
          .sortBy { case (cid, s) => (-s, cid) }.take(5).map(_._1).toSet
        (got & truth).size.toDouble / truth.size
      }
      hits.sum / hits.length
    }
    val (rBefore, rAfter) = (recall(cents0), recall(cents1))
    info(f"insert recall@5: pre-re-train $rBefore%.2f -> post-re-train $rAfter%.2f")
    assert(rAfter >= rBefore,
      f"re-train degraded insert recall: $rBefore%.2f -> $rAfter%.2f")
  }

  test("memoized index state misses when the source dir is regenerated (mtime fingerprint)") {
    // the build-once contract holds per DATASET, not per path: a harness
    // that regenerates a testdata dir mid-session must not be served the
    // stale index tables (BASELINE_SELF notes the driver does regenerate)
    val tmp = java.nio.file.Files.createTempDirectory("graft-memo").toFile
    for (t <- Seq("documents.parquet", "embeddings.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t"),
        java.nio.file.Paths.get(tmp.getAbsolutePath, t))
    val dir = tmp.getAbsolutePath
    LlmOps.simIvf(spark, dir).collect()
    val ids0 = spark.sparkContext.getPersistentRDDs.keySet
    // unchanged data: the memo must hit (no new cached state)
    LlmOps.simIvf(spark, dir).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == ids0)
    // "regenerate" the dir: same bytes, newer mtime -> fingerprint miss,
    // stale table dropped, index rebuilt
    tmp.listFiles.foreach(f => assert(f.setLastModified(f.lastModified + 10000)))
    LlmOps.simIvf(spark, dir).collect()
    val ids1 = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids1 != ids0, "regenerated dir was served stale memoized index state")
  }

  test("connected components: a planted 128-node chain converges in O(log diameter) rounds") {
    // the worst CC topology is a long CHAIN (diameter = n-1): plain
    // neighbor-min label propagation needs diameter-many rounds, the
    // pointer-doubling formulation O(log diameter). dd_cluster's real
    // edge sets are tiny near-dup clusters that converge in 2-3 rounds
    // either way, so only a planted chain can catch a refactor that
    // silently drops the doubling step — at 100 TB, where a component CAN
    // be a million-doc chain, that regression is the difference between 20
    // rounds and a million.
    import spark.implicits._
    val n = 128
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = LlmOps.connectedComponents(spark, edges)
    val lbl = labels().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl.size == n)
    assert(lbl.values.forall(_ == 0L), "chain must collapse to the minimum label")
    info(s"chain-$n (diameter ${n - 1}) converged in $rounds rounds")
    // log2(127) ~= 7; allow the convergence-detection round plus slack.
    // A doubling regression lands at ~127 rounds — unmissable.
    assert(rounds <= 12,
      s"pointer doubling regressed: $rounds rounds for diameter ${n - 1} (log2 ~ 7)")
  }

  test("memo: concurrent consumers across two dirs never duplicate or thrash index state") {
    // The r11/r12 memo hardening (per-key locks; evict only on a strictly
    // NEWER fingerprint) pinned: N threads hammering two dirs' memoized
    // index tables — including through a concurrent regeneration — must
    // settle to exactly one cached table per (dir, kind), with correct
    // results throughout.
    import java.util.concurrent.Executors
    val dirs = (0 until 2).map { i =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-memo-conc$i").toFile
      for (t <- Seq("documents.parquet", "embeddings.parquet"))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t"),
          java.nio.file.Paths.get(tmp.getAbsolutePath, t))
      tmp
    }
    val pool = Executors.newFixedThreadPool(8)
    def hammer(): Unit = {
      val tasks = (0 until 16).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val d = dirs(i % 2).getAbsolutePath
            if (i % 4 < 2) LlmOps.simIvf(spark, d).collect()
            else LlmOps.simAnnLsh(spark, d).collect()
          }
        })
      }
      tasks.foreach(_.get())
    }
    try {
      hammer()
      val ref = LlmOps.simIvf(spark, dirs(0).getAbsolutePath).collect()
        .map(_.toSeq).toSeq
      val settled0 = spark.sparkContext.getPersistentRDDs.keySet
      // settled: a full re-pass through both dirs adds NO cached state
      dirs.foreach { d =>
        LlmOps.simIvf(spark, d.getAbsolutePath).collect()
        LlmOps.simAnnLsh(spark, d.getAbsolutePath).collect()
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet == settled0,
        "memo hit-path created new cached state under repeat consumers")
      // concurrent REGENERATION of dir 0 (same bytes, newer mtime) while 8
      // threads consume both dirs: the race between stale-fp and fresh-fp
      // observers must not thrash — after one settling pass the state set
      // is stable again and results are unchanged (same bytes)
      dirs(0).listFiles.foreach(f => assert(f.setLastModified(f.lastModified + 10000)))
      hammer()
      dirs.foreach { d =>
        LlmOps.simIvf(spark, d.getAbsolutePath).collect()
        LlmOps.simAnnLsh(spark, d.getAbsolutePath).collect()
      }
      val settled1 = spark.sparkContext.getPersistentRDDs.keySet
      dirs.foreach { d =>
        LlmOps.simIvf(spark, d.getAbsolutePath).collect()
        LlmOps.simAnnLsh(spark, d.getAbsolutePath).collect()
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet == settled1,
        "memo kept thrashing after the regeneration settled")
      val after = LlmOps.simIvf(spark, dirs(0).getAbsolutePath).collect()
        .map(_.toSeq).toSeq
      assert(after == ref, "post-regeneration results diverged (same bytes)")
    } finally pool.shutdown()
  }

  /** A temp dir holding copies of the named sf0.001 tables. */
  private def copyOf(tables: Seq[String]): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-regen").toFile
    for (t <- tables)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        java.nio.file.Paths.get(tmp.getAbsolutePath, s"$t.parquet"))
    tmp
  }

  test("regenerated lineitem: q35's bucketed facts and q38's memoized graph follow the new data") {
    import java.nio.file.{Files, Paths}
    import graft.analytics.Relational
    val tables = Seq("lineitem", "orders", "documents", "embeddings")
    val dir = copyOf(tables).getAbsolutePath
    def results(d: String): Seq[Seq[Seq[Any]]] =
      Seq(Relational.q35BucketedJoin(spark, d), Relational.q38Pagerank(spark, d))
        .map(_.collect().map(_.toSeq).toSeq)
    val before = results(dir)
    // regenerate only lineitem, as a strict subset of its rows: written
    // elsewhere, then moved into place
    val subset = spark.read.parquet(s"$dir/lineitem.parquet").filter("l_orderkey % 3 <> 0")
    val staged = Files.createTempDirectory("graft-regen-stage").resolve("lineitem.parquet")
    subset.write.parquet(staged.toString)
    val fresh = copyOf(tables.filterNot(_ == "lineitem")).getAbsolutePath
    subset.write.parquet(s"$fresh/lineitem.parquet")
    Files.delete(Paths.get(dir, "lineitem.parquet"))
    Files.move(staged, Paths.get(dir, "lineitem.parquet"))
    val after = results(dir)
    val expected = results(fresh)
    assert(expected != before, "the subset must change both results")
    assert(after(0) == expected(0), "q35 served stale bucketed fact tables")
    assert(after(1) == expected(1), "q38 served a stale memoized pagerank graph")
  }

  test("regenerated orders: q30's SQL views follow the new data") {
    import java.nio.file.{Files, Paths}
    import graft.analytics.{Relational, Tables}
    // registerViews reads every table, so the copies hold them all
    val dir = copyOf(Tables.names).getAbsolutePath
    def result(d: String): Seq[Seq[Any]] =
      Relational.q30GroupingSets(spark, d).collect().map(_.toSeq).toSeq
    val before = result(dir)
    // regenerate orders as a strict subset of its rows: written elsewhere,
    // then moved into place
    val subset = spark.read.parquet(s"$dir/orders.parquet").filter("o_orderkey % 3 <> 0")
    val staged = Files.createTempDirectory("graft-regen-stage").resolve("orders.parquet")
    subset.write.parquet(staged.toString)
    val fresh = copyOf(Tables.names.filterNot(_ == "orders")).getAbsolutePath
    subset.write.parquet(s"$fresh/orders.parquet")
    Files.delete(Paths.get(dir, "orders.parquet"))
    Files.move(staged, Paths.get(dir, "orders.parquet"))
    val after = result(dir)
    val expected = result(fresh)
    assert(expected != before, "the subset must change the counts")
    assert(after == expected, "q30 served views over the old orders")
  }

  test("after a regeneration every memo-spine cell of the dir carries the new fingerprint") {
    val tmp = copyOf(Seq("documents", "embeddings"))
    val dir = tmp.getAbsolutePath
    def buildAll(): Unit = LlmOps.stateBuilders(spark, dir).foreach(_._2())
    buildAll()
    val cells0 = LlmOps.memoFingerprints(spark, dir)
    assert(cells0.nonEmpty)
    tmp.listFiles.foreach(f => assert(f.setLastModified(f.lastModified + 10000)))
    val fp = LlmOps.dirFingerprint(spark, dir)
    assert(cells0.values.forall(_ < fp))
    buildAll()
    val cells1 = LlmOps.memoFingerprints(spark, dir)
    assert(cells1.keySet == cells0.keySet)
    val stale = cells1.filter(_._2 != fp).keys.toSeq.sorted
    assert(stale.isEmpty, s"cells still on the old fingerprint: ${stale.mkString(", ")}")
  }

  test("quality cut keeps exactly the top half per language, rank-contiguous") {
    val real = "/root/testdata/sf0.001"
    val kept = LlmOps.txtQualityCut(spark, real).collect()
    assert(kept.nonEmpty)
    val langTotals = spark.read.parquet(s"$real/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    kept.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val expected = math.ceil(langTotals(lang) * 0.5).toLong
      assert(rows.length == expected,
        s"$lang kept ${rows.length}, expected top-half $expected of ${langTotals(lang)}")
      // ranks are the contiguous prefix 1..ceil(n/2): the cut is by rank,
      // never by a float threshold
      assert(rows.map(_.getAs[Int]("rk")).sorted.sameElements(1 to rows.length))
      // kept quality is monotone non-increasing in rank
      val byRank = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("quality"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("serve-index insert path: one append row per held-out vector, valid cell and code range") {
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfServeInsert(spark, real).collect()
    val heldOut = spark.read.parquet(s"$real/embeddings.parquet")
      .filter("vec_id % 4 = 3").count()
    assert(rows.length == heldOut, "insert path must emit exactly one row per arriving vector")
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getAs[Long]("vec_id") % 4 == 3)
      // cells are corpus centroid ids — corpus members by construction
      assert(r.getAs[Long]("cell") % 4 != 3)
      (0 until 8).foreach { s =>
        val c = r.getAs[Long](s"c$s")
        assert(c >= 0 && c < 16, s"code c$s=$c outside the codebook")
      }
    }
  }

  test("index tables are session-memoized: re-running the family adds no new cached state") {
    val real = "/root/testdata/sf0.001"
    // first pass builds + caches the coarse assignment, bucket and code
    // tables (normally prewarmed by stateBuilders)
    LlmOps.simIvf(spark, real).collect()
    LlmOps.simAnnLsh(spark, real).collect()
    LlmOps.simIvfPq(spark, real).collect()
    val n0 = spark.sparkContext.getPersistentRDDs.size
    // second pass over the same (session, dir) must REUSE every index
    // table — the build-once contract the state pre-stage depends on
    LlmOps.simIvf(spark, real).collect()
    LlmOps.simAnnLsh(spark, real).collect()
    LlmOps.simIvfPq(spark, real).collect()
    LlmOps.ddSemdedup(spark, real).collect() // rides the sim_ivf assignment
    val n1 = spark.sparkContext.getPersistentRDDs.size
    assert(n1 == n0, s"index state was rebuilt: $n0 cached RDDs grew to $n1")
  }

  test("chunking: 70 tokens split into 32/32/6; short docs give one chunk") {
    import spark.implicits._
    val seventy = (1 to 70).map(i => s"w$i").mkString(" ")
    val docs = Seq(Doc(0L, seventy, "en", "s", seventy.length),
      Doc(1L, "just three tokens", "en", "s", 17L))
    val d = java.nio.file.Files.createTempDirectory("llmchunk").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtChunks(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk_text").split(" ").length))
    assert(rows.toSeq == Seq((0L, 0L, 32), (0L, 1L, 32), (0L, 2L, 6), (1L, 0L, 3)),
      rows.mkString(","))
  }

  test("balancing caps every class and is deterministic across runs") {
    val real = "/root/testdata/sf0.001"
    val a = LlmOps.txtBalance(spark, real).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val b = LlmOps.txtBalance(spark, real).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(a == b)
    val perLang = a.groupBy(_._2).view.mapValues(_.size)
    assert(perLang.values.forall(_ <= 64), perLang.toMap.toString)
  }

  test("gopher filter: repetition-heavy and bullet-heavy docs fail; clean prose passes") {
    import spark.implicits._
    val clean = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val repBigram = Seq.fill(30)("spam ham").mkString(" ")      // one bigram dominates
    val dupLines = "alpha beta gamma\nalpha beta gamma\nalpha beta gamma\nalpha beta gamma\ndelta epsilon zeta"
    val bullets = "- first point here\n- second point here\n- third point here\nthe only prose line"
    val docs = Seq(Doc(0, clean, "en", "s", clean.length),
      Doc(1, repBigram, "en", "s", repBigram.length),
      Doc(2, dupLines, "en", "s", dupLines.length),
      Doc(3, bullets, "en", "s", bullets.length))
    val d = java.nio.file.Files.createTempDirectory("llmgopher").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtGopher(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0).getAs[Boolean]("passes"))
    assert(!rows(1).getAs[Boolean]("passes")) // top_bigram_frac ~ 0.5 > 0.3
    assert(rows(1).getAs[Double]("top_bigram_frac") > 0.4)
    assert(rows(2).getAs[Double]("dup_line_frac") == 0.6) // 3 of 5 lines repeat
    assert(!rows(2).getAs[Boolean]("passes"))
    assert(rows(3).getAs[Double]("bullet_frac") == 0.75)
    assert(!rows(3).getAs[Boolean]("passes"))
  }

  test("line dedup: a line shared across docs is boilerplate; unique lines are kept in order") {
    import spark.implicits._
    val banner = "copyright 2026 example corp all rights reserved"
    val a = s"$banner\nunique first line of a\nunique second line of a"
    val b = s"$banner\ncompletely different content in b"
    val c = "no shared lines at all here"
    val docs = Seq(Doc(0, a, "en", "s", a.length), Doc(1, b, "en", "s", b.length),
      Doc(2, c, "en", "s", c.length))
    val d = java.nio.file.Files.createTempDirectory("llmlines").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddLines(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0).getAs[Long]("n_lines") == 3 && rows(0).getAs[Long]("n_dup_lines") == 1)
    assert(rows(1).getAs[Long]("n_dup_lines") == 1)
    assert(rows(2).getAs[Long]("n_dup_lines") == 0)
    // doc 0's clean fingerprint = md5 of its two unique lines, original order
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("unique first line of a\nunique second line of a".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows(0).getAs[String]("clean_fp") == expected)
  }

  test("passage census: near-dup docs share 8-token windows; unrelated docs contribute none") {
    import spark.implicits._
    val run = "one two three four five six seven eight nine ten eleven twelve"
    val nearA = s"intro words here $run closing words"
    val nearB = s"other prefix tokens $run different tail"
    val lone = "totally unrelated short text with eight distinct words exactly here now"
    val docs = Seq(Doc(0, nearA, "en", "s", nearA.length),
      Doc(1, nearB, "en", "s", nearB.length),
      Doc(2, lone, "en", "s", lone.length))
    val d = java.nio.file.Files.createTempDirectory("llmpass").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddPassages(spark, d).collect()
    assert(rows.nonEmpty) // the shared 12-token run yields 5 shared 8-grams
    assert(rows.forall(r => r.getAs[Long]("n_docs") == 2))
    assert(rows.forall(r => r.getAs[Long]("first_doc") == 0 && r.getAs[Long]("last_doc") == 1))
    assert(rows.length == 5)
  }

  test("dup fraction: shared-run docs score 5/10, the unrelated doc scores 0") {
    import spark.implicits._
    // same construction as the passage-census fixture: a 12-token run shared
    // by docs 0 and 1 (17 tokens each -> 10 windows, 5 of them shared),
    // doc 2 unrelated (11 tokens -> 4 windows, none shared)
    val run = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      Doc(0, s"intro words here $run closing words", "en", "s", 10),
      Doc(1, s"other prefix tokens $run different tail", "en", "s", 10),
      Doc(2, "totally unrelated short text with eight distinct words exactly here now", "en", "s", 10))
    val d = java.nio.file.Files.createTempDirectory("llmdupfrac").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddDupFraction(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0L).getAs[Long]("n_windows") == 10)
    assert(rows(0L).getAs[Long]("n_dup_windows") == 5)
    assert(rows(0L).getAs[Double]("dup_frac") == 0.5)
    assert(rows(1L).getAs[Long]("n_dup_windows") == 5)
    assert(rows(2L).getAs[Long]("n_windows") == 4)
    assert(rows(2L).getAs[Double]("dup_frac") == 0.0)
  }

  test("alignment: a one-token tail change leaves a 22-window (29-token) shared run") {
    import spark.implicits._
    // 30 distinct tokens; doc 1 replaces only the last one. Shingle
    // jaccard = 25/31 ≈ 0.806 (>= 0.8, so the pair enters the edge set);
    // 23 windows per doc, the last window differs -> the shared run is
    // windows 0..21 on diagonal 0: 22 windows = 29 verbatim tokens.
    val toks = (1 to 30).map(i => f"w$i%02d")
    val a = toks.mkString(" ")
    val b = (toks.dropRight(1) :+ "zzz").mkString(" ")
    val docs = Seq(Doc(0, a, "en", "s", 100), Doc(1, b, "en", "s", 100))
    val d = java.nio.file.Files.createTempDirectory("llmalign").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddAlign(spark, d).collect()
    assert(rows.length == 1, rows.mkString(";"))
    assert(rows(0).getAs[Long]("ia") == 0L && rows(0).getAs[Long]("ib") == 1L)
    assert(rows(0).getAs[Long]("max_run_windows") == 22, rows(0).toString)
    assert(rows(0).getAs[Long]("max_run_tokens") == 29)
  }

  test("vocab coverage: known Zipf-ish counts yield exact coverage fractions") {
    import spark.implicits._
    // 20 distinct tokens, token i appearing (21-i) times -> total 210,
    // no count ties so the ranking is unambiguous
    val text = (1 to 20).map(i => Seq.fill(21 - i)(f"tok$i%02d").mkString(" ")).mkString(" ")
    val docs = Seq(Doc(0, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("llmvocab").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtVocabCoverage(spark, d).collect()
      .map(r => r.getAs[Long]("vocab_size") -> r).toMap
    assert(rows.keySet == Set(4L, 8L, 16L), rows.keySet.toString)
    assert(rows(4L).getAs[Long]("covered_occurrences") == 20 + 19 + 18 + 17)
    assert(rows(8L).getAs[Long]("covered_occurrences") == (13 to 20).sum)
    assert(rows(16L).getAs[Long]("covered_occurrences") == (5 to 20).sum)
    assert(rows.values.forall(_.getAs[Long]("total_occurrences") == 210))
    assert(rows(16L).getAs[Double]("coverage") == (5 to 20).sum / 210.0)
  }

  test("cms top terms: exact top-8 with sketch-guarantee booleans true") {
    import spark.implicits._
    // same Zipf fixture as vocab coverage: token i appears (21-i) times
    val text = (1 to 20).map(i => Seq.fill(21 - i)(f"tok$i%02d").mkString(" ")).mkString(" ")
    val docs = Seq(Doc(0, text, "en", "s", text.length))
    val d = java.nio.file.Files.createTempDirectory("llmcms").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtTopTermsCms(spark, d).collect()
    assert(rows.map(_.getAs[String]("term")).toSeq ==
      (1 to 8).map(i => f"tok$i%02d"), rows.mkString(";"))
    assert(rows.map(_.getAs[Long]("n_exact")).toSeq == (13 to 20).reverse.map(_.toLong))
    assert(rows.forall(_.getAs[Boolean]("no_underestimate")))
    assert(rows.forall(_.getAs[Boolean]("bounded")))
  }

  test("within-doc duplicate 8-grams: a self-repeating doc scores, a clean doc scores 0") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // doc 0 repeats its own 10-token run: each copy contributes the same
    // 3 windows (10-8+1), so 3 of its windows are within-doc repeats
    val docs = Seq(
      Doc(0, s"$run and now once more $run", "en", "s", 10),
      Doc(1, "all sixteen tokens in this document are completely distinct from one another indeed truly", "en", "s", 10))
    val d = java.nio.file.Files.createTempDirectory("llmdupng").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtDupNgrams(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0L).getAs[Long]("n_windows") - rows(0L).getAs[Long]("n_distinct") == 3,
      rows(0L).toString)
    assert(rows(0L).getAs[Double]("dup_ngram_frac") > 0.0)
    assert(rows(1L).getAs[Double]("dup_ngram_frac") == 0.0, rows(1L).toString)
  }

  test("decontamination flags corpus docs sharing a benchmark passage, and only those") {
    import spark.implicits._
    val benchPassage = "the quick brown fox jumps over the lazy dog tonight"
    // doc 0 is the benchmark doc (0 % 97 == 0); 1 embeds its passage, 2 doesn't
    val docs = Seq(
      Doc(0, s"benchmark question text $benchPassage end of item", "en", "bench", 60),
      Doc(1, s"a web page that quotes $benchPassage verbatim plus more words", "en", "web", 60),
      Doc(2, "completely clean document with plenty of its own original words here", "en", "web", 60))
    val d = java.nio.file.Files.createTempDirectory("llmcontam").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    // harness-verified width: the 10-token shared run yields exactly 7
    // shared 4-windows (10 - 4 + 1), all of them distinct
    val rows = LlmOps.ddContamination(spark, d, n = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_windows")).toMap
    assert(rows.keySet == Set(1L), rows.toString)
    assert(rows(1L) == 7, rows.toString)
    // production width: the same run yields exactly 3 shared 8-windows
    val rows8 = LlmOps.ddContamination(spark, d, n = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_windows")).toMap
    assert(rows8.keySet == Set(1L), rows8.toString)
    assert(rows8(1L) == 3, rows8.toString)
  }

  test("scrubbing redacts urls, emails, phone numbers and IPv4 addresses") {
    import spark.implicits._
    val t0 = "visit https://ex.io/a?b=1 or mail bob.smith@ex-mail.co today"
    val t1 = "call 555-123-4567 or +44 020 7946 0958 from host 192.168.0.1 ok"
    val t2 = "perfectly clean text with no contact details at all"
    val docs = Seq(Doc(0, t0, "en", "s", t0.length),
      Doc(1, t1, "en", "s", t1.length),
      Doc(2, t2, "en", "s", t2.length))
    val d = java.nio.file.Files.createTempDirectory("llmscrub").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtScrub(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    def fp(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    // doc 0: one url (19 chars -> <url> 5), one email (20 -> <email> 7)
    assert(rows(0L).getAs[String]("clean_fp") ==
      fp("visit <url> or mail <email> today"))
    assert(rows(0L).getAs[Long]("url_chars_delta") == 19 - 5)
    assert(rows(0L).getAs[Long]("email_chars_delta") == 13)
    assert(rows(0L).getAs[Long]("phone_chars_delta") == 0)
    assert(rows(0L).getAs[Long]("ip_chars_delta") == 0)
    // doc 1: the NANP phone matches, the +44 variant (2-4-4 grouping)
    // deliberately does not; the IPv4 is redacted
    assert(rows(1L).getAs[String]("clean_fp") ==
      fp("call <phone> or +44 020 7946 0958 from host <ip> ok"))
    assert(rows(1L).getAs[Long]("phone_chars_delta") == 12 - 7)
    assert(rows(1L).getAs[Long]("ip_chars_delta") == 11 - 4)
    // doc 2: untouched
    assert(rows(2L).getAs[String]("clean_fp") == fp(t2))
    assert(rows(2L).getAs[Long]("n_chars_clean") == t2.length)
  }

  test("incremental dedup drops incoming docs whose content already exists") {
    import spark.implicits._
    // fresh corpus: ids 0..249 existing; 250 duplicates existing 0; 251 is new
    val docs = Seq.tabulate(250)(i => Doc(i.toLong, s"text $i unique alpha beta", "en", "s", 10L)) ++
      Seq(Doc(250L, "text 0 unique alpha beta", "en", "s", 10L),
          Doc(251L, "completely new content here", "en", "s", 10L))
    val d = java.nio.file.Files.createTempDirectory("llminc").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val kept = LlmOps.ddIncremental(spark, d).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(kept == Seq(251L), kept.mkString(","))
  }

  test("semantic dedup drops in-cluster near-duplicates and keeps cluster representatives") {
    import spark.implicits._
    // 16 orthogonal unit centroids (ids 0-15), a near-copy of 3 (id 16),
    // an orthogonal newcomer (id 17), an exact copy of 5 (id 18), and a
    // 0.7-cosine neighbor of 2 (id 19) - below the 0.9 threshold
    def unit(i: Int): Array[Float] = Array.tabulate(64)(j => if (j == i) 1f else 0f)
    def mix(i: Int, j: Int, wi: Float, wj: Float): Array[Float] = {
      val v = Array.tabulate(64)(k => (if (k == i) wi else 0f) + (if (k == j) wj else 0f))
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val vecs = (0 until 16).map(i => (i.toLong, unit(i), i % 10)) ++ Seq(
      (16L, mix(3, 20, 0.995f, 0.0999f), 3),
      (17L, unit(17), 7),
      (18L, unit(5), 5),
      (19L, mix(2, 21, 0.7f, 0.714f), 2))
    val d = java.nio.file.Files.createTempDirectory("semdedup").toString
    vecs.toDF("vec_id", "embedding", "label").write.parquet(s"$d/embeddings.parquet")
    val rows = LlmOps.ddSemdedup(spark, d).collect()
    assert(rows.length == 20)
    val byId = rows.map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[Long]("cell"), Option(r.getAs[Any]("max_cos_lower")).map(_.asInstanceOf[Double]),
        r.getAs[Boolean]("kept"))).toMap
    val dropped = byId.collect { case (id, (_, _, false)) => id }.toSet
    assert(dropped == Set(16L, 18L), s"dropped=$dropped")
    assert(byId(16L)._1 == 3L && byId(16L)._2.exists(_ >= 0.9))
    assert(byId(18L)._1 == 5L && byId(18L)._2.exists(c => math.abs(c - 1.0) < 1e-6))
    assert(byId(19L)._1 == 2L && byId(19L)._3, "0.7-cosine neighbor must survive")
    assert((0L until 16L).forall(byId(_)._3), "centroid representatives must be kept")
  }

  test("semantic dedup KEEP retains each embedding-cluster's best-quality member, not its lowest id") {
    import spark.implicits._
    // same embedding geometry as the semdedup spec: clusters {3,16} (near
    // copy) and {5,18} (exact copy). Documents ride the mm_join
    // doc_id = vec_id convention; quality is the classifier head — the
    // HIGHER-id member 18 carries the high-quality text and must SURVIVE
    // while low-quality 5 (the lower id, which min-id dedup would keep)
    // is dropped; in {3,16} quality and id agree and 3 wins.
    def unit(i: Int): Array[Float] = Array.tabulate(64)(j => if (j == i) 1f else 0f)
    def mix(i: Int, j: Int, wi: Float, wj: Float): Array[Float] = {
      val v = Array.tabulate(64)(k => (if (k == i) wi else 0f) + (if (k == j) wj else 0f))
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val vecs = (0 until 16).map(i => (i.toLong, unit(i), i % 10)) ++ Seq(
      (16L, mix(3, 20, 0.995f, 0.0999f), 3),
      (17L, unit(17), 7),
      (18L, unit(5), 5),
      (19L, mix(2, 21, 0.7f, 0.714f), 2))
    val good = "the cat and dog of house to garden walked quietly around town"
    val bad = "zz zz zz zz zz zz"
    val docs = Seq(
      Doc(3L, good, "en", "s", good.length), Doc(16L, bad, "en", "s", bad.length),
      Doc(5L, bad, "en", "s", bad.length), Doc(18L, good, "en", "s", good.length))
    val d = java.nio.file.Files.createTempDirectory("semkeep").toString
    vecs.toDF("vec_id", "embedding", "label").write.parquet(s"$d/embeddings.parquet")
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddSemdedupKeep(spark, d).collect()
    val kept = rows.map(_.getAs[Long]("vec_id")).toSet
    assert(kept == ((0L until 20L).toSet -- Set(5L, 16L)),
      s"must drop exactly the low-quality members {5, 16}: kept=$kept")
    val byId = rows.map(r => r.getAs[Long]("vec_id") ->
      Option(r.getAs[Any]("cluster_id")).map(_.asInstanceOf[Long])).toMap
    assert(byId(18L).contains(5L), "winner 18 labels under its cluster's min id 5")
    assert(byId(3L).contains(3L))
    assert(byId(17L).isEmpty, "non-clustered vectors carry no cluster label")
  }

  test("unigram rarity scores boilerplate-heavy docs above unique-token docs") {
    val rows = LlmOps.txtRarity(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("min_tf"), r.getAs[Double]("mean_tf_share"))).toMap
    assert(rows.size == 5)
    // docs 0/1 are exact duplicates: every token appears >= 2x in the corpus
    assert(rows(0L)._1 >= 2 && rows(1L)._1 >= 2)
    // doc 3's tokens are unique to it -> minimum corpus frequency 1
    assert(rows(3L)._1 == 1L)
    assert(rows(0L)._2 > rows(3L)._2,
      s"duplicated doc must outscore unique-token doc: ${rows(0L)._2} vs ${rows(3L)._2}")
  }

  test("LM score separates planted fluent from gibberish docs and buckets them CCNet-style") {
    import spark.implicits._
    // 4 fluent docs of corpus-frequent types (n_t = 4) + 2 gibberish docs
    // of singleton types (n_t = 1): n_corpus = 24, per-token surprisal
    // ln(24/4) vs ln(24/1) — quantized to tenth-milli-nats exactly as the
    // query does (JVM Math.log IS Spark's log, so the recompute is exact)
    val fluent = "aa bb cc dd"
    def gib(i: Long) = s"zz${i}0 zz${i}1 zz${i}2 zz${i}3"
    val docs = (0L to 3L).map(i => Doc(i, fluent, "en", "s0", fluent.length)) ++
      (4L to 5L).map(i => Doc(i, gib(i), "en", "s1", gib(i).length))
    val d = java.nio.file.Files.createTempDirectory("lmscore").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtLmScore(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size == 6)
    def sT(nT: Long) = Math.round(Math.log(24.0 / nT) * 10000)
    (0L to 3L).foreach { i =>
      assert(rows(i).getAs[Long]("n_toks") == 4)
      assert(rows(i).getAs[Long]("sum_surprisal") == 4 * sT(4), s"doc $i")
      assert(rows(i).getAs[Double]("mean_surprisal") ==
        (4 * sT(4)).toDouble / 4 / 10000.0)
    }
    (4L to 5L).foreach { i =>
      assert(rows(i).getAs[Long]("sum_surprisal") == 4 * sT(1), s"doc $i")
    }
    // separation: every gibberish doc scores strictly above every fluent
    // doc, and the tercile buckets land head/head/middle/middle/tail/tail
    // (ties broken by doc_id)
    assert((4L to 5L).map(rows(_).getAs[Double]("mean_surprisal")).min >
      (0L to 3L).map(rows(_).getAs[Double]("mean_surprisal")).max)
    assert((0L to 5L).map(rows(_).getAs[String]("bucket")) ==
      Seq("head", "head", "middle", "middle", "tail", "tail"))
  }

  test("image-index occupancy census conserves the even-vector mass") {
    val real = "/root/testdata/sf0.001"
    val census = LlmOps.mmCellBalance(spark, real).collect()
    val nImg = spark.read.parquet(s"$real/embeddings.parquet")
      .filter("vec_id % 2 = 0").count()
    val mass = census.map(r => r.getAs[Long]("occ") * r.getAs[Long]("n_cells")).sum
    assert(mass == nImg, s"histogram mass $mass != image corpus $nImg")
    census.foreach(r =>
      assert(r.getAs[Long]("occ") >= 1 && r.getAs[Long]("n_cells") >= 1))
    // the tripwire readout mm_image_dedup's pair cost is Sum occ^2 — the
    // census must expose the max occupancy a hot cell would show up in
    info(s"max image-cell occupancy: ${census.map(_.getAs[Long]("occ")).max}")
  }

  test("containment: a short doc quoted inside a long one is caught; the jaccard family is structurally blind to it") {
    import spark.implicits._
    val longDoc = (1 to 50).map(i => s"w$i").mkString(" ")
    val quote = (21 to 30).map(i => s"w$i").mkString(" ") // 10 tokens lifted verbatim
    val lone = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      Doc(0, longDoc, "en", "s0", longDoc.length),
      Doc(1, quote, "en", "s1", quote.length),
      Doc(2, lone, "en", "s2", lone.length))
    val d = java.nio.file.Files.createTempDirectory("containment").toString
    docs.toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddContainment(spark, d).collect()
    // all 8 of the quote's shingles live in the long doc: c(1→0) = 1.0, and
    // ONLY that direction (c(0→1) = 8/48 < 0.5); the lone doc pairs with nothing
    assert(rows.length == 1, s"want exactly the directed quote pair, got ${rows.toSeq}")
    assert(rows(0).getAs[Long]("ia") == 1 && rows(0).getAs[Long]("ib") == 0)
    assert(rows(0).getAs[Double]("containment") == 1.0)
    // the symmetric detector cannot even candidate the pair: its
    // (lang, length-bucket) blocking separates a 40-char quote from a
    // ~240-char host, and its jaccard 8/48 is under threshold anyway
    val jp = LlmOps.ddNgramJaccard(spark, d).collect()
    assert(!jp.exists(r => Set(r.getAs[Long]("ia"), r.getAs[Long]("ib")) == Set(0L, 1L)))
  }

  test("hash split: 90/5/5 census partitions the corpus, per-language fractions sum to one, rerun is identical") {
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.txtSplit(spark, real).collect()
    val total = spark.read.parquet(s"$real/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total, "splits must partition the corpus")
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val frac = rs.map(_.getAs[Double]("lang_frac")).sum
      assert(math.abs(frac - 1.0) < 1e-9, s"$lang fractions sum to $frac")
    }
    // overall train share near the 90% target (binomial spread at 50 docs)
    val train = rows.filter(_.getAs[String]("split") == "train").map(_.getAs[Long]("n_docs")).sum
    assert(train.toDouble / total > 0.75, s"train share ${train.toDouble / total} far from 0.9")
    // seedless determinism: the draw is a pure function of doc_id
    assert(LlmOps.txtSplit(spark, real).collect().toSeq == rows.toSeq)
  }

  test("serve-index delete path: census partitions the corpus; compact flag follows the live ratio; tombstone anti-join cleans answers") {
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfServeDelete(spark, real).collect()
    val corpus = spark.read.parquet(s"$real/embeddings.parquet").filter("vec_id % 4 <> 3")
    assert(rows.map(_.getAs[Long]("n_before")).sum == corpus.count())
    assert(rows.map(_.getAs[Long]("n_deleted")).sum == corpus.filter("vec_id % 5 = 0").count())
    rows.foreach { r =>
      val (before, del, live) = (r.getAs[Long]("n_before"), r.getAs[Long]("n_deleted"), r.getAs[Long]("n_live"))
      assert(del + live == before)
      val lf = r.getAs[Double]("live_frac")
      assert(lf == live.toDouble / before)
      assert(r.getAs[Boolean]("compact") == (lf < 0.8))
    }
    // serve-read contract: the tombstone anti-join over the frozen index's
    // answers must be NON-VACUOUS (some served answers actually tombstoned)
    // yet survivable — driven at sf0.1, where the serve path answers 10
    // held-out queries (sf0.001's single query can miss the 20% tombstone
    // rate entirely, making the contract untestable there)
    val served = LlmOps.simIvfServe(spark, "/root/testdata/sf0.1").collect()
    val tombstoned = served.count(_.getAs[Long]("cid") % 5 == 0)
    assert(tombstoned > 0,
      "vacuous contract: no served answer was tombstoned, the anti-join tests nothing")
    assert(served.length - tombstoned > 0, "serving must survive the tombstones")
    // and the census's deleted ids are exactly the tombstone rule's — so
    // the anti-join keyed on that rule removes precisely n_deleted rows
    // from any cell-complete result set
    assert(rows.map(_.getAs[Long]("n_deleted")).sum ==
      corpus.filter("vec_id % 5 = 0").count())
  }

  test("compaction lifecycle: read -> insert -> delete -> compact -> read-back serves identically on live ids") {
    import org.apache.spark.sql.functions.{col, expr}
    // sf0.1: enough held-out queries and tombstone mass for every phase
    // to be non-vacuous (the delete test's argument)
    val real = "/root/testdata/sf0.1"
    // READ: the intact index answers
    assert(LlmOps.simIvfServe(spark, real).collect().nonEmpty)
    // INSERT: appends against the frozen index
    assert(LlmOps.simIvfServeInsert(spark, real).limit(1).collect().nonEmpty)
    // DELETE: the census decides which cells compact
    val census = LlmOps.simIvfServeDelete(spark, real).collect()
      .map(r => r.getAs[Long]("cell") -> r).toMap
    assert(census.values.exists(_.getAs[Boolean]("compact")),
      "vacuous lifecycle: no cell crossed the compaction threshold")
    // COMPACT: execution agrees with the decision, drops ONLY tombstones
    // of compact cells, and leaves other cells byte-untouched
    val compacted = LlmOps.simIvfCompact(spark, real).collect()
    compacted.foreach { r =>
      val c = census(r.getAs[Long]("cell"))
      assert(r.getAs[Boolean]("compacted") == c.getAs[Boolean]("compact"))
      if (r.getAs[Boolean]("compacted"))
        assert(!r.getAs[Boolean]("tomb"), "a tombstone survived its cell's rewrite")
    }
    val byCell = compacted.groupBy(_.getAs[Long]("cell")).view.mapValues(_.length.toLong).toMap
    byCell.foreach { case (cell, n) =>
      val c = census(cell)
      val expect = if (c.getAs[Boolean]("compact")) c.getAs[Long]("n_live")
        else c.getAs[Long]("n_before")
      assert(n == expect, s"cell $cell holds $n rows post-compaction, census says $expect")
    }
    assert(byCell.keySet == census.keySet, "compaction lost or invented a cell")
    // READ-BACK: serving over the compacted index minus its remaining
    // tombstones equals serving over the tombstone-anti-joined original —
    // the rewrite changed physical layout, never an answer on live ids
    val assign = LlmOps.ivfServeAssignTable(spark, real)
    def cand(df: org.apache.spark.sql.DataFrame) = df.select(
      col("vec_id").as("cid"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("cell").as("ccell"))
    val pre = LlmOps.serveTop5Over(spark, real,
      cand(assign.filter(expr("vec_id % 5 <> 0")))).collect()
    import spark.implicits._
    val liveIds = compacted.filter(!_.getAs[Boolean]("tomb"))
      .map(_.getAs[Long]("vec_id")).toSeq.toDF("vec_id")
    val post = LlmOps.serveTop5Over(spark, real,
      cand(assign.join(liveIds, "vec_id"))).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("qid"), r.getAs[Int]("rk"), r.getAs[Long]("cid"), r.getAs[Double]("cos"))).toSet
    assert(pre.nonEmpty && key(pre) == key(post),
      "post-compaction serving diverged from pre-compaction on live ids")
  }

  test("re-train decision: post-insert census partitions the index, signals agree with the write path") {
    import org.apache.spark.sql.functions.col
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfRetrain(spark, real).collect()
    assert(rows.nonEmpty)
    val e = spark.read.parquet(s"$real/embeddings.parquet")
    val (nCorpus, nHeld) =
      (e.filter("vec_id % 4 <> 3").count(), e.filter("vec_id % 4 = 3").count())
    // census conservation: cells partition corpus + arrivals exactly
    assert(rows.map(_.getAs[Long]("n_corpus")).sum == nCorpus)
    assert(rows.map(_.getAs[Long]("n_inserted")).sum == nHeld)
    rows.foreach(r => assert(r.getAs[Long]("n_total") ==
      r.getAs[Long]("n_corpus") + r.getAs[Long]("n_inserted")))
    // the decision must see inserts exactly where the WRITE path put them
    val writePath = LlmOps.simIvfServeInsert(spark, real)
      .groupBy(col("cell")).count().collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      assert(writePath.getOrElse(r.getAs[Long]("cell"), 0L) == r.getAs[Long]("n_inserted"),
        s"decision and insert path disagree on cell ${r.getAs[Long]("cell")}")
    }
    // global signals are identical on every row and match the census
    val fracs = rows.map(_.getAs[Double]("frac_inserted")).distinct
    val skews = rows.map(_.getAs[Double]("skew")).distinct
    assert(fracs.length == 1 && skews.length == 1)
    assert(fracs.head == nHeld.toDouble / (nCorpus + nHeld))
    val maxCell = rows.map(_.getAs[Long]("n_total")).max
    assert(skews.head == (maxCell * rows.length).toDouble / (nCorpus + nHeld))
    // a quarter of the index never voted for the centroids -> re-train
    assert(fracs.head >= 0.2 && rows.forall(_.getAs[Boolean]("retrain")),
      "insert drift crossed the threshold but the decision did not fire")
  }

  test("re-train execution: members conserved through the Lloyd round, drifted census matches the decision") {
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfRetrainExec(spark, real).collect()
    assert(rows.nonEmpty)
    val n = spark.read.parquet(s"$real/embeddings.parquet").count()
    // corpus ∪ arrivals is ALL vectors; re-assignment must conserve them
    assert(rows.map(_.getAs[Long]("n_before")).sum == n)
    assert(rows.map(_.getAs[Long]("n_after")).sum == n,
      "the Lloyd re-assignment lost or duplicated members")
    // the drifted (before) census must agree with the decision query —
    // same counts AND the same cell set, both directions
    val decide = LlmOps.simIvfRetrain(spark, real).collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_total")).toMap
    val before = rows.filter(_.getAs[Long]("n_before") > 0)
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("n_before")).toMap
    assert(decide.keySet == before.keySet,
      s"census cell sets disagree: decision-only ${decide.keySet -- before.keySet}, " +
        s"exec-only ${before.keySet -- decide.keySet}")
    before.foreach { case (cell, nb) =>
      assert(decide(cell) == nb,
        s"drifted census disagrees with the decision on cell $cell")
    }
    // skew globals: one value per side, the decision's max*cells/total form
    val k = rows.length.toLong
    val sb = rows.map(_.getAs[Double]("skew_before")).distinct
    val sa = rows.map(_.getAs[Double]("skew_after")).distinct
    assert(sb.length == 1 && sa.length == 1)
    assert(sb.head == (rows.map(_.getAs[Long]("n_before")).max * k).toDouble / n)
    assert(sa.head == (rows.map(_.getAs[Long]("n_after")).max * k).toDouble / n)
    rows.foreach(r =>
      assert(r.getAs[Boolean]("rebalanced") == (sa.head <= sb.head)))
    assert(rows.exists(r => r.getAs[Long]("n_before") != r.getAs[Long]("n_after")),
      "the Lloyd round moved no occupancy")
  }

  test("filtered ANN: answers satisfy the label predicate; recall measured vs label-filtered brute force") {
    import spark.implicits._
    val real = "/root/testdata/sf0.001"
    val rows = LlmOps.simIvfFiltered(spark, real).collect()
    assert(rows.nonEmpty)
    val e = spark.read.parquet(s"$real/embeddings.parquet")
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getSeq[Float](1).toArray, r.getAs[Int]("label")))
      .toMap
    // predicate correctness: every answer shares the query's own label,
    // and candidates come from the corpus partition only
    rows.foreach { r =>
      val (qid, cid) = (r.getAs[Long]("qid"), r.getAs[Long]("cid"))
      assert(r.getAs[Int]("label") == e(qid)._2)
      assert(e(cid)._2 == e(qid)._2, s"answer $cid violates query $qid's label predicate")
      assert(cid % 4 != 3, s"held-out vector $cid served as an index member")
    }
    // recall vs POST-FILTERED brute force (the ground truth a filtered
    // search is judged against): exact top-5 among same-label corpus
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val corpus = e.toSeq.filter(_._1 % 4 != 3)
    val truth = e.toSeq.filter(_._1 % 200 == 3).flatMap { case (qid, (qe, ql)) =>
      corpus.filter(_._2._2 == ql).map { case (cid, (ce, _)) =>
        (qid, cid, dot(qe, ce) / math.sqrt(dot(qe, qe) * dot(ce, ce))) }
        .sortBy { case (_, cid, cos) => (-cos, cid) }.take(5)
    }.map { case (qid, cid, _) => (qid, cid) }.toSet
    val recall = rows.count(r =>
      truth((r.getAs[Long]("qid"), r.getAs[Long]("cid")))).toDouble / math.max(truth.size, 1)
    info(f"filtered ANN recall@5 vs label-filtered brute force: $recall%.2f (nprobe=4)")
    // measured 6/15 = 0.40 at sf0.001; the metric's granularity is 1/15
    // (3 queries x 5), so the floor sits a full notch below — 5/15 = 0.333
    // from one legitimate tie-break shift must still pass
    assert(recall >= 0.30, f"filtered recall $recall%.2f below the 0.30 floor")
  }

  test("contamination rate: planted leak flags its item, clean item stays clean, total row carries the rate") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("contamrate").toString
    val t = (1 to 30).map(i => s"t$i").mkString(" ")     // bench item 7 (7 % 89 = 7)
    val u = (1 to 30).map(i => s"u$i").mkString(" ")     // bench item 96 (96 % 89 = 7), unique
    val leak = (10 to 17).map(i => s"t$i").mkString(" ") // 8 consecutive tokens inside 7's excerpt (t5..t24)
    Seq(Doc(7, t, "en", "s", t.length), Doc(96, u, "en", "s", u.length),
        Doc(3, s"$leak x y z", "en", "s", 0),
        Doc(4, "completely different words here", "en", "s", 0))
      .toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.ddContaminationRate(spark, d).collect()
      .map(r => r.getAs[Long]("bench_id") -> r).toMap
    assert(rows.keySet == Set(-1L, 7L, 96L))
    val b7 = rows(7L)
    assert(b7.getAs[Long]("n_windows") == 13) // 20-token excerpt → 13 8-windows
    assert(b7.getAs[Boolean]("leaked") && b7.getAs[Long]("n_ext_docs") == 1
      && b7.getAs[Long]("n_ext_windows") == 1)
    val b96 = rows(96L)
    assert(!b96.getAs[Boolean]("leaked") && b96.getAs[Long]("n_ext_windows") == 0)
    val tot = rows(-1L)
    assert(tot.getAs[Boolean]("leaked") && tot.getAs[Double]("contaminated_frac") == 0.5)
  }

  test("incremental URL gate: cross-split re-crawls refused, fresh pages admitted") {
    // sf0.001 (ids 0..499): the batch is ids ≡ 3 mod 4 (125 fetches).
    // A batch fetch is refused in exactly two cross-split shapes:
    // a ≡ 31 mod 52 (a % 13 = 5 → re-crawls page a-1, fetched by the
    // frontier doc a-1) and a ≡ 43 mod 52 (page a is also fetched by
    // frontier doc a+1, since (a+1) % 13 = 5) — 19 refusals, 106 admits.
    val dir = "/root/testdata/sf0.001"
    val got = LlmOps.ddUrlIncremental(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val batch = (0L until 500L).filter(_ % 4 == 3).toSet
    val refused = batch.filter(a => a % 52 == 31 || a % 52 == 43)
    assert(refused.nonEmpty && refused.size < batch.size, "planted split vacuous")
    assert(got == batch -- refused,
      s"refused ${batch -- got}, expected $refused")
  }

  test("data budget planner: over-weighted source must repeat; floor-div conservation holds") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("budget").toString
    def txt(k: Int) = Seq.fill(k)("tok").mkString(" ")
    // src0 (even → weight 3): 2×10 tokens = 20 available
    // src1 (odd  → weight 1): 2×30 tokens = 60 available
    // budget = 2×80 = 160, W = 4 → src0 requested 120 (6 full epochs,
    // MUST repeat), src1 requested 40 (partial epoch, no repeat)
    Seq(Doc(0, txt(10), "en", "src0", 0), Doc(1, txt(10), "en", "src0", 0),
        Doc(2, txt(30), "en", "src1", 0), Doc(3, txt(30), "en", "src1", 0))
      .toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtDataBudget(spark, d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val (s0, s1) = (rows("src0"), rows("src1"))
    assert(s0.getAs[Long]("avail_toks") == 20 && s1.getAs[Long]("avail_toks") == 60)
    assert(s0.getAs[Long]("budget_toks") == 160 && s0.getAs[Long]("weight") == 3)
    assert(s0.getAs[Long]("requested_toks") == 120 && s0.getAs[Long]("full_epochs") == 6
      && s0.getAs[Long]("rem_toks") == 0 && s0.getAs[Boolean]("must_repeat"))
    assert(s1.getAs[Long]("requested_toks") == 40 && s1.getAs[Long]("full_epochs") == 0
      && s1.getAs[Long]("rem_toks") == 40 && !s1.getAs[Boolean]("must_repeat"))
    // floor-division never over-allocates, and leaves less than one
    // weight-unit's worth of slack
    val alloc = rows.values.map(_.getAs[Long]("requested_toks")).sum
    assert(alloc <= 160 && 160 - alloc < 4)
  }

  test("url dedup: scheme/www/case/slash/query/fragment twins collapse to one page; host census balances") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("urldedup").toString
    (0L until 40L).map(i => Doc(i, s"doc $i", "en", "s", 6)).toDF()
      .write.parquet(s"$d/documents.parquet")
    // raw derivation: the planted re-crawl (doc 5 re-fetches doc 4's page)
    // differs from the canonical fetch in EXACTLY the noise normalization
    // must erase — www. prefix on one side, trailing slash + utm query on
    // the other — and a case-mangled fetch (doc 3: %8==3) normalizes too
    val raw = LlmOps.urlNormalized(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(raw(4L).getAs[String]("url") == "https://www.h0.example.com/p/4")
    assert(raw(5L).getAs[String]("url") == "https://h0.example.com/p/4/?utm_source=feed&ref=rss")
    assert(raw(3L).getAs[String]("url") == "http://H0.EXAMPLE.COM/p/3")
    assert(raw(2L).getAs[String]("url").endsWith("#top"))
    val urls = LlmOps.ddUrl(spark, d).collect()
    // 40 fetches, 3 planted re-crawls (5→4, 18→17, 31→30) → 37 pages
    assert(urls.length == 37)
    assert(urls.map(_.getAs[Long]("n_docs")).sum == 40)
    val dups = urls.filter(_.getAs[Long]("n_docs") == 2)
    assert(dups.map(_.getAs[Long]("keep_id")).toSet == Set(4L, 17L, 30L))
    assert(dups.forall(_.getAs[Long]("n_dropped") == 1L))
    // normalized form carries none of the erased noise
    assert(urls.forall { r =>
      val u = r.getAs[String]("url_norm")
      !u.contains("://") && !u.startsWith("www.") && !u.contains("?") &&
        !u.contains("#") && !u.endsWith("/") && u == u.toLowerCase
    })
    val hosts = LlmOps.ddUrlHosts(spark, d).collect()
    assert(hosts.map(_.getAs[Long]("n_docs")).sum == 40)
    assert(hosts.map(_.getAs[Long]("n_dup_docs")).sum == 3)
    assert(hosts.forall(r =>
      r.getAs[Long]("n_docs") == r.getAs[Long]("n_pages") + r.getAs[Long]("n_dup_docs")))
  }

  test("host cap keeps exactly the 16 earliest fetches per host; small hosts keep all") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("hostcap").toString
    // 1024 docs cover the full pid%1024 host ramp: host 0 gets ~half the
    // fetches (the cap must bite), the tail hosts get fewer than 16 (the
    // cap must NOT bite)
    (0L until 1024L).map(i => Doc(i, s"doc $i", "en", "s", 6)).toDF()
      .write.parquet(s"$d/documents.parquet")
    val byHost = LlmOps.urlNormalized(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("url_norm").split('/')(0)))
      .groupBy(_._2).map { case (h, xs) => h -> xs.map(_._1).sorted }
    val gotByHost = LlmOps.ddHostCap(spark, d).collect()
      .groupBy(_.getAs[String]("host"))
    assert(gotByHost.keySet == byHost.keySet)
    // both regimes are actually present in the plant
    assert(byHost.values.exists(_.size > 16) && byHost.values.exists(_.size < 16))
    for ((h, all) <- byHost) {
      val rows = gotByHost(h).sortBy(_.getAs[Long]("kept_id"))
      assert(rows.map(_.getAs[Long]("kept_id")).toSeq == all.take(16).toSeq,
        s"host $h kept set differs")
      assert(rows.forall(_.getAs[Long]("n_docs") == all.size))
      assert(rows.forall(_.getAs[Long]("n_kept") == math.min(all.size, 16)))
      assert(rows.forall(_.getAs[Long]("n_dropped") == math.max(all.size - 16, 0)))
    }
    assert(byHost.values.map(_.size).sum == 1024)
  }

  test("source overlap matrix counts near-dup pairs by unordered source pair") {
    // shared corpus: docs 0 (s0), 1 (s1) identical; 2 (s2) near-dups both;
    // 3 (s3) unrelated; 4 (s4) different lang — three cross-source pairs,
    // each straddling a distinct source pair
    val got = LlmOps.ddSourceOverlap(spark, dir).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Long]("n_pairs")).toMap
    assert(got == Map(("s0", "s1") -> 1L, ("s0", "s2") -> 1L, ("s1", "s2") -> 1L))
  }

  test("PII detection counts each planted contact shape; redaction removes every matched char") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("pii").toString
    // ids chosen to hit each plant channel alone and in combination:
    // 0 none, 1 email, 2 phone, 3 ip, 4 email+url (4%3=1 AND 4%11=4),
    // 7 email+phone (7%3=1 AND 7%5=2)
    Seq(0L, 1L, 2L, 3L, 4L, 7L).map(i => Doc(i, s"plain words $i", "en", if (i < 2) "a" else "b", 13))
      .toDF().write.parquet(s"$d/documents.parquet")
    val got = LlmOps.txtPii(spark, d).collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_urls"), r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
        r.getAs[Long]("n_ips"), r.getAs[Long]("chars_redacted")))).toMap
    val want = Map( // (n_urls, n_emails, n_phones, n_ips)
      0L -> ((0L, 0L, 0L, 0L)), 1L -> ((0L, 1L, 0L, 0L)), 2L -> ((0L, 0L, 1L, 0L)),
      3L -> ((0L, 0L, 0L, 1L)), 4L -> ((1L, 1L, 0L, 0L)), 7L -> ((0L, 1L, 1L, 0L)))
    for ((id, (u, e, p, ip)) <- want) {
      val (gu, ge, gp, gip, delta) = got(id)
      assert((gu, ge, gp, gip) == ((u, e, p, ip)), s"doc $id counts")
      // redaction shrinks text exactly when something matched
      assert((delta > 0) == (u + e + p + ip > 0), s"doc $id delta=$delta")
    }
  }

  test("ingest quarantine recovers exactly the planted damage, every reason present") {
    // damage rule (IngestOps.ingestQuarantine): doc_id % 10 = 3 torn,
    // 5 without doc_id, 7 without text, everything else clean
    val dir = "/root/testdata/sf0.001"
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getAs[Long]("doc_id"))
    val want = ids.groupBy(i => i % 10 match {
      case 3 => "torn_json"
      case 5 => "missing_doc_id"
      case 7 => "missing_text"
      case _ => "ok"
    }).map { case (k, v) => k -> v.length.toLong }
    val got = LlmOps.ingestQuarantine(spark, dir).collect()
      .map(r => r.getAs[String]("reason") -> r.getAs[Long]("n")).toMap
    assert(want.keySet == Set("ok", "torn_json", "missing_doc_id", "missing_text"),
      s"planted damage vacuous at sf0.001: $want")
    assert(got == want, s"quarantine census $got diverged from the damage rule $want")
  }

  test("PII census rolls up per source with an all-sources total row") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("piicensus").toString
    Seq(0L, 1L, 2L, 3L, 4L, 7L).map(i => Doc(i, s"plain words $i", "en", if (i < 2) "a" else "b", 13))
      .toDF().write.parquet(s"$d/documents.parquet")
    val rows = LlmOps.txtPiiCensus(spark, d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.keySet == Set("a", "b", "*"))
    val (a, b, t) = (rows("a"), rows("b"), rows("*"))
    assert(a.getAs[Long]("n_docs") == 2 && a.getAs[Long]("n_docs_pii") == 1 &&
      a.getAs[Long]("n_emails") == 1 && a.getAs[Double]("pii_doc_frac") == 0.5)
    assert(b.getAs[Long]("n_docs") == 4 && b.getAs[Long]("n_docs_pii") == 4 &&
      b.getAs[Long]("n_urls") == 1 && b.getAs[Long]("n_emails") == 2 &&
      b.getAs[Long]("n_phones") == 2 && b.getAs[Long]("n_ips") == 1 &&
      b.getAs[Double]("pii_doc_frac") == 1.0)
    assert(t.getAs[Long]("n_docs") == 6 && t.getAs[Long]("n_docs_pii") == 5 &&
      t.getAs[Double]("pii_doc_frac") == 5.0 / 6.0)
    // the contact-enriched real corpus carries PII in some source
    val real = LlmOps.txtPiiCensus(spark, "/root/testdata/sf0.001").collect()
    assert(real.exists(r => r.getAs[String]("source") != "*" && r.getAs[Long]("n_docs_pii") > 0),
      s"no source carries PII at sf0.001: ${real.toSeq}")
  }

  test("crawl funnel stages chain and match independently recomputed gate flags") {
    // differential against the family conventions recomputed from first
    // principles at sf0.001 (500 docs): opt-out = the h2/h5/h8 host list,
    // URL keep = min id per url_norm, host cap = 16 smallest URL-kept per
    // host, exact keep = min id per text, near drops = complement of the
    // dedup action's kept set
    val dir = "/root/testdata/sf0.001"
    val rows = LlmOps.ddCrawlFunnel(spark, dir).collect().sortBy(_.getAs[Long]("stage_id"))
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("fetched", "optout", "url_dedup", "host_cap", "exact_dedup", "near_dedup"))
    // stage chaining + conservation
    for (i <- 1 until 6)
      assert(rows(i).getAs[Long]("n_in") == rows(i - 1).getAs[Long]("n_kept"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dropped") == r.getAs[Long]("n_in") - r.getAs[Long]("n_kept"))
      assert(r.getAs[Double]("kept_frac") ==
        r.getAs[Long]("n_kept").toDouble / rows(0).getAs[Long]("n_in"))
    }
    // recompute the flag sets independently
    val optHosts = Set("h2.example.com", "h5.example.com", "h8.example.com")
    val admitted = LlmOps.urlNormalized(spark, dir).collect()
      .filter(r => !optHosts(r.getAs[String]("url_norm").split('/')(0)))
      .map(_.getAs[Long]("doc_id")).toSet
    val urlRows = LlmOps.ddUrl(spark, dir).collect()
    val urlKeepByHost = urlRows.groupBy(_.getAs[String]("url_norm").split('/')(0))
      .map { case (h, rs) => h -> rs.map(_.getAs[Long]("keep_id")).sorted.toSeq }
    val urlKeep = urlKeepByHost.values.flatten.toSet
    val hostKept = urlKeepByHost.values.flatMap(_.take(16)).toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val exactKeep = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val nearKeep = LlmOps.ddDedupKeep(spark, dir).collect().map(_.getAs[Long]("doc_id")).toSet
    val n0 = docs.length.toLong
    val n1 = admitted.size.toLong
    val n2 = urlKeep.count(admitted).toLong
    val n3 = hostKept.count(admitted).toLong
    val n4 = hostKept.filter(admitted).count(exactKeep).toLong
    val n5 = hostKept.filter(admitted).filter(exactKeep).count(nearKeep).toLong
    assert(rows.map(_.getAs[Long]("n_kept")).toSeq == Seq(n0, n1, n2, n3, n4, n5))
    // the URL, host-cap and near-dup gates must actually bite on this
    // corpus; sf0.001 carries no exact text duplicate anywhere (the
    // dd_exact family specs pin that gate on planted corpora), so n4 ==
    // n3 — and its 500 pids never leave the h0 bucket, so the h2/h5/h8
    // opt-out list is vacuous HERE by construction (n1 == n0; the
    // planted-corpus opt-out test pins the gate actually biting)
    assert(n1 == n0 && n2 < n1 && n3 < n2 && n5 < n4,
      s"stages vacuous: $n0 $n1 $n2 $n3 $n4 $n5")
  }

  test("opt-out census reconciles with the funnel's admission stage and carries real byte mass") {
    import spark.implicits._
    // the driver corpora put every sf0.001 pid on h0, so the opt-out
    // bite needs planted doc_ids reaching the h2/h5/h9 pid buckets
    val ids = (0L to 9L) ++ (600L to 604L) ++ (800L to 807L) ++
      (995L to 998L) ++ Seq(1022L, 1023L)
    def txt(i: Long) = s"alpha$i beta$i gamma$i delta$i epsilon$i"
    val d = java.nio.file.Files.createTempDirectory("optout").toString
    ids.map(i => Doc(i, txt(i), "en", s"src${i % 2}", txt(i).length))
      .toDF().write.parquet(s"$d/documents.parquet")
    val census = LlmOps.ddOptout(spark, d).collect()
    // one row per host (verdicts are host-complete), ordered by host
    assert(census.map(_.getAs[String]("host")).toSeq ==
      Seq("h0", "h1", "h2", "h5", "h9").map(_ + ".example.com"))
    val byHost = census.map(r => r.getAs[String]("host") -> r).toMap
    assert(census.filter(_.getAs[Boolean]("opted_out"))
      .map(_.getAs[String]("host")).toSet ==
      Set("h2.example.com", "h5.example.com"))
    assert(Seq("h0", "h1", "h2", "h5", "h9").map(h =>
      byHost(h + ".example.com").getAs[Long]("n_docs")) == Seq(10L, 5L, 8L, 4L, 2L))
    // byte accounting: the censused byte mass IS the corpus text mass,
    // recomputed from the pid/host plant (ASCII texts: chars == bytes)
    def hostOf(i: Long): String = {
      val m = (if (i % 13 == 5) i - 1 else i) % 1024
      val hid = if (m < 512) 0 else if (m < 768) 1 else if (m < 896) 2
        else if (m < 960) 3 else if (m < 992) 4 else if (m < 1008) 5
        else if (m < 1016) 6 else if (m < 1020) 7 else if (m < 1022) 8 else 9
      s"h$hid.example.com"
    }
    census.foreach { r =>
      val h = r.getAs[String]("host")
      val expect = ids.filter(hostOf(_) == h).map(txt(_).length.toLong).sum
      assert(r.getAs[Long]("n_bytes") == expect, s"$h byte mass")
    }
    // funnel reconciliation: the optout stage's drop IS the census's
    // opted-out doc mass (one flag kernel, two readouts)
    val funnel = LlmOps.ddCrawlFunnel(spark, d).collect()
      .map(r => r.getAs[String]("stage") -> r).toMap
    assert(funnel("optout").getAs[Long]("n_dropped") == 12L)
    assert(funnel("optout").getAs[Long]("n_dropped") ==
      census.filter(_.getAs[Boolean]("opted_out")).map(_.getAs[Long]("n_docs")).sum)
    assert(funnel("fetched").getAs[Long]("n_kept") == ids.length.toLong)
    // the downstream gates only ever see admitted docs: the url stage's
    // input is the optout stage's output
    assert(funnel("url_dedup").getAs[Long]("n_in") == ids.length.toLong - 12L)
  }

  test("sample-exec manifest repeats the over-requested source and cuts the partial epoch deterministically") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("sampleexec").toString
    def txt(k: Int) = Seq.fill(k)("tok").mkString(" ")
    // totals: 110 toks, budget 2x = 220, weights 3 (src0, even) / 1 (src1)
    // src0: 2x10 = 20 avail, requested 165 -> 8 full epochs + 5 rem
    //   (one doc gets mult 9, the other 8 — hash order decides which)
    // src1: 3x30 = 90 avail, requested 55 -> 0 full + 55 rem
    //   (two docs enter the partial epoch, the third is EXCLUDED)
    Seq(Doc(0, txt(10), "en", "src0", 0), Doc(1, txt(10), "en", "src0", 0),
        Doc(2, txt(30), "en", "src1", 0), Doc(3, txt(30), "en", "src1", 0),
        Doc(4, txt(30), "en", "src1", 0))
      .toDF().write.parquet(s"$d/documents.parquet")
    def h(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"sample:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    def manifest(ids: Seq[Long], per: Long, full: Long, rem: Long): Map[Long, Long] = {
      var cum = 0L
      ids.sortBy(i => (h(i), i)).map { i =>
        val in = cum < rem; cum += per
        i -> (full + (if (in) 1L else 0L))
      }.filter(_._2 > 0).toMap
    }
    val want = manifest(Seq(0L, 1L), 10, 8, 5) ++ manifest(Seq(2L, 3L, 4L), 30, 0, 55)
    val got = LlmOps.txtSampleExec(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("mult")).toMap
    assert(got == want, s"got $got want $want")
    // both regimes really exercised: a repeat > 1 and an excluded doc
    assert(want.values.exists(_ > 1) && want.size == 4)
    assert(want.filter(_._1 < 2).values.sum == 17)   // src0: 8 + 9 epochs
    assert(want.filter(_._1 >= 2).values.sum == 2)   // src1: two partial docs
  }

  test("per-source funnel slice sums to the corpus funnel at every stage") {
    // the two readouts share one flag definition (crawlFlags), so the
    // slice must reconcile with the corpus stage table exactly — and each
    // source's stage counts must be monotone with a consistent fraction
    val dir = "/root/testdata/sf0.001"
    val bySrc = LlmOps.ddFunnelBySource(spark, dir).collect()
    val corpus = LlmOps.ddCrawlFunnel(spark, dir).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_kept")).toMap
    def s(c: String) = bySrc.map(_.getAs[Long](c)).sum
    assert(s("n_fetched") == corpus("fetched"))
    assert(s("n_policy_kept") == corpus("optout"))
    assert(s("n_url_kept") == corpus("url_dedup"))
    assert(s("n_host_kept") == corpus("host_cap"))
    assert(s("n_exact_kept") == corpus("exact_dedup"))
    assert(s("n_clean") == corpus("near_dedup"))
    assert(bySrc.length > 1, "single-source corpus makes the slice vacuous")
    bySrc.foreach { r =>
      val stages = Seq("n_fetched", "n_policy_kept", "n_url_kept",
        "n_host_kept", "n_exact_kept", "n_clean").map(r.getAs[Long](_))
      assert(stages == stages.sortBy(x => -x),
        s"non-monotone stages for ${r.getAs[String]("source")}: $stages")
      assert(r.getAs[Double]("clean_frac") == stages.last.toDouble / stages.head)
    }
  }

  test("langid confusion matrix row-normalizes against the ground-truth label") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("langconf").toString
    Seq(
      Doc(0, "the and of maple", "en", "s", 16),  // correct en
      Doc(1, "the the the maple", "de", "s", 17), // de mislabeled as en
      Doc(2, "der und die maple", "de", "s", 17), // correct de
      Doc(3, "el la de que maple", "es", "s", 18), // correct es ("de" also scores de-lang 0)
      Doc(4, "ni hao ma maple", "zh", "s", 15))   // no markers: argmax tie -> en
      .toDF().write.parquet(s"$d/documents.parquet")
    val got = LlmOps.txtLangidConfusion(spark, d).collect()
      .map(r => (r.getAs[String]("lang_label"), r.getAs[String]("pred_lang")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_true"), r.getAs[Double]("frac")))).toMap
    assert(got == Map(
      ("de", "de") -> ((1L, 2L, 0.5)), ("de", "en") -> ((1L, 2L, 0.5)),
      ("en", "en") -> ((1L, 1L, 1.0)), ("es", "es") -> ((1L, 1L, 1.0)),
      ("zh", "en") -> ((1L, 1L, 1.0))))
  }

  test("takedown: census conserves per state, list absent from every post-state, control present in all") {
    val dir = "/root/testdata/sf0.001"
    val rows = LlmOps.ddTakedown(spark, dir).collect().sortBy(_.getAs[Long]("state_id"))
    assert(rows.map(_.getAs[String]("state")).toSeq ==
      Seq("corpus", "fingerprints", "band_state", "frontier", "shard_manifest"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_before") ==
        r.getAs[Long]("n_removed") + r.getAs[Long]("n_after"),
        s"conservation broken at ${r.getAs[String]("state")}: $r")
      assert(r.getAs[Long]("n_removed") > 0,
        s"takedown vacuous at ${r.getAs[String]("state")}")
      assert(r.getAs[Long]("n_after") > 0,
        s"takedown emptied ${r.getAs[String]("state")}")
    }
    // census vs first principles for the states recomputable from a raw read
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").count(_.nonEmpty).toLong
    def td(id: Long) = id % 23 == 11
    val byState = rows.map(r => r.getAs[String]("state") ->
      ((r.getAs[Long]("n_before"), r.getAs[Long]("n_removed")))).toMap
    assert(byState("corpus") == ((docs.length.toLong, docs.count(d => td(d._1)).toLong)))
    assert(byState("fingerprints") ==
      ((docs.count(_._1 < 250).toLong, docs.count(d => d._1 < 250 && td(d._1)).toLong)))
    assert(byState("shard_manifest") ==
      ((docs.map(d => toks(d._2)).sum, docs.filter(d => td(d._1)).map(d => toks(d._2)).sum)))
    // doc-keyed post-states: every listed doc gone from ALL of them, the
    // control doc (takedown doc - 1, never on a %23 list) in all it was in
    val frames = LlmOps.takedownStates(spark, dir)
      .map { case (_, name, df) => name -> df }.toMap
    val takedownDoc = docs.map(_._1).filter(td).filter(_ < 250).min
    val control = takedownDoc - 1
    Seq("corpus", "fingerprints", "band_state", "shard_manifest").foreach { st =>
      val df = frames(st)
      val survivors = df.filter(!org.apache.spark.sql.functions.col("gone"))
        .collect().map(_.getAs[String]("key")).toSet
      val removed = df.filter(org.apache.spark.sql.functions.col("gone"))
        .collect().map(_.getAs[String]("key")).toSet
      assert((survivors & removed).isEmpty, s"$st: a key both survives and leaves")
      assert(!survivors.contains(takedownDoc.toString), s"$st still holds doc $takedownDoc")
      if (st != "band_state") // band rows exist only for shingled docs
        assert(survivors.contains(control.toString), s"$st lost control doc $control")
    }
    // frontier: a URL leaves only when EVERY holder is on the list
    val holders = LlmOps.urlNormalized(spark, dir)
      .filter(org.apache.spark.sql.functions.expr("doc_id % 4 <> 3"))
      .collect().groupBy(_.getAs[String]("url_norm"))
      .map { case (u, rs) => u -> rs.map(_.getAs[Long]("doc_id")).toSeq }
    val frontierSurvivors = frames("frontier")
      .filter(!org.apache.spark.sql.functions.col("gone"))
      .collect().map(_.getAs[String]("key")).toSet
    holders.foreach { case (u, ids) =>
      assert(frontierSurvivors.contains(u) == ids.exists(!td(_)),
        s"frontier wrong for $u (holders $ids)")
    }
  }

  test("snapshot diff recovers exactly the planted add/remove/change categories") {
    val dir = "/root/testdata/sf0.001"
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getAs[Long]("doc_id"))
    val want = Map(
      "added" -> ids.count(_ % 7 == 2).toLong,
      "removed" -> ids.count(_ % 7 == 5).toLong,
      "changed" -> ids.count(_ % 7 == 3).toLong,
      "unchanged" -> ids.count(i => i % 7 != 2 && i % 7 != 5 && i % 7 != 3).toLong)
    val total = want.values.sum
    val got = LlmOps.ddSnapshotDiff(spark, dir).collect()
      .map(r => r.getAs[String]("category") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("frac")))).toMap
    assert(got.keySet == want.keySet, s"categories: ${got.keySet}")
    want.foreach { case (cat, n) =>
      assert(got(cat) == ((n, n.toDouble / total)), s"$cat: ${got(cat)} want $n/$total")
      assert(n > 0, s"planted category $cat vacuous")
    }
  }

  test("clip filter keeps every matched (even) pair, cuts mismatches, and matches a scalar recomputation") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    // the dot_f contract: left-to-right double accumulation from 0.0
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val want = src.keys.toSeq.flatMap { id =>
      emb.get(id).flatMap { t =>
        emb.get(id - id % 2).map { im =>
          val cos = dot(t, im) / math.sqrt(dot(t, t) * dot(im, im))
          (src(id), cos >= 0.28)
        }
      }
    }.groupBy(_._1).map { case (s, ps) =>
      s -> ((ps.size.toLong, ps.count(_._2).toLong))
    }
    val got = LlmOps.mmClipFilter(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_kept")))).toMap
    assert(got == want, s"clip census diverged:\n got=$got\nwant=$want")
    // matched pairs (even ids, self-image) all survive; the gate bites
    val evens = src.keys.count(id => id % 2 == 0 && emb.contains(id)).toLong
    val kept = got.values.map(_._2).sum
    val pairs = got.values.map(_._1).sum
    assert(kept >= evens, "a matched pair was cut")
    assert(kept < pairs, "gate vacuous: nothing cut")
  }
}
