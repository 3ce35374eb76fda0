package graft

/** Regression guard for the InferFiltersFromGenerate pushdown pathology
  * (PLANS.md, round 2): exploding a COMPUTED array lets Catalyst synthesize
  * a size()>0 filter and push it — whole interpreted lambda expression
  * inlined — into the parquet scan, where it re-runs the heaviest per-row
  * work single-threaded ahead of any repartition. This spec builds every
  * driver-facing query and asserts no scan-level data filter contains a
  * lambda. (Queries whose builders run eagerly, e.g. dd_cluster's loop,
  * execute here too — acceptable at sf0.001.)
  */
class PlanGuardSpec extends SparkSpec {

  test("no query pushes a lambda expression into a parquet scan filter") {
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      // examine only scan nodes: their pushed/data filters must be lambda-free
      val scanLines = plan.linesIterator.filter(l =>
        l.contains("Scan parquet") || l.contains("DataFilters") || l.contains("PushedFilters"))
      if (scanLines.exists(_.contains("lambdafunction"))) Some(name) else None
    }
    assert(offenders.isEmpty, s"lambda filter pushed to scan in: ${offenders.mkString(", ")}")
  }

  test("no query plans a cartesian/nested-loop join outside the broadcast-bounded allowlist") {
    // Locks the "no scale-killer" property: a CartesianProduct or
    // BroadcastNestedLoopJoin anywhere EXCEPT a deliberate broadcast
    // crossJoin of a BOUNDED side (k centroids, a 1-row total, a plane
    // table — each documented at its code site) is a regression that
    // would not survive a 100x scale-up.
    val dir = "/root/testdata/sf0.001"
    val allowed: Set[String] = Set(
      // IVF/ANN family: crossJoin(broadcast(centroids)) — k = O(sqrt N)
      // rows ride the broadcast; the N-side is never replicated (and the
      // serve/compact/delete paths inherit the same lineage through the
      // memoized assignment state)
      "sim_ivf", "sim_ivf2", "sim_ivf_nprobe2", "sim_ivf_kmeans",
      "sim_ivf_balance",
      "sim_ivf_pq", "sim_ivf_pq256", "sim_ivf_pq_rerank",
      "sim_ivf_serve", "sim_ivf_serve_pq", "sim_ivf_serve_insert",
      "sim_ivf_serve_delete", "sim_ivf_compact", "sim_ivf_retrain",
      "sim_ivf_retrain_exec", "sim_ivf_filtered",
      "sim_ivf_filtered_pq", "dd_semdedup", "dd_semdedup_keep",
      // brute-force baseline: the query side is hard-capped at 256 rows
      // (SimQueryCap) before broadcasting against the corpus scan
      // (the recall censuses compose it as their truth side, plus the
      // IVF centroid broadcasts on the ivf one)
      "sim_topk_cosine", "sim_ivf_recall", "sim_ann_recall", "sim_pq_recall",
      // cross-modal retrieval census + image dedup: the same two bounded
      // broadcasts — k image-side centroids and the 256-capped query
      // sample — against the image-half scan (the dedup inherits the
      // centroid broadcast through the memoized mm_image_cells state,
      // exactly like the serve family); nothing N-sized is replicated
      // (mm_cell_balance and the mm_image_capped accounting row read the
      // same memoized image-cell state, so their fresh-build plans carry
      // the identical k-centroid broadcast)
      "mm_retrieval_recall", "mm_image_dedup", "mm_cell_balance",
      "mm_image_capped",
      // scalar/total broadcasts: a 1-row aggregate (corpus total, CMS
      // sketch, the BPE argmax merge) crossJoined onto a bounded table
      // or the token stream
      // (txt_lm_score crossJoins the same 1-row corpus total twice: once
      // under the vocab-head surprisal table, once for the OOV constant)
      "txt_rarity", "txt_lm_score", "txt_tfidf", "txt_top_terms_cms",
      "txt_vocab_coverage",
      // (txt_bpe_vocab also crossJoins 1-row argmaxes, but each round is
      // materialized eagerly behind a local checkpoint at build time, so
      // the RETURNED plan — all this sweep can see — is a union of leaves)
      "txt_bpe_merge",
      // encoder path: BpeVocabRounds 1-row merge pairs (filtered off the
      // checkpointed merge-table leaves) broadcast onto the documents scan
      "txt_bpe_encode")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      val bad = plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")
      if (bad && !allowed(name)) Some(name)
      else if (!bad && allowed(name)) Some(s"$name (allowlisted but clean — prune the list)")
      else None
    }
    assert(offenders.isEmpty,
      s"cartesian/nested-loop plan outside the allowlist: ${offenders.mkString(", ")}")
  }

  test("the hot-host census pre-aggregates on (host, url_norm) before any exchange") {
    // dd_url_hosts' scale claim: host 0 carries ~50% of fetches, so the
    // distinct count must NOT ship raw rows keyed by host — Spark's
    // two-phase distinct rewrite puts a (host, url_norm)-keyed partial
    // aggregate map-side and partitions the first exchange on the PAIR.
    // A regression to a single-stage distinct would reintroduce the skew.
    val plan = graft.analytics.LlmOps.ddUrlHosts(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // a map-side partial aggregate keyed by the PAIR exists...
    val pairAgg = raw"HashAggregate\(keys=\[host#\d+, url_norm#\d+\], functions=\[partial_count".r
    assert(pairAgg.findFirstIn(plan).isDefined,
      s"no (host, url_norm)-keyed partial aggregate in:\n${plan.take(800)}")
    // ...and the first exchange partitions on the pair, not on host alone
    val pairEx = raw"hashpartitioning\(host#\d+, url_norm#\d+".r
    assert(pairEx.findFirstIn(plan).isDefined,
      s"no (host, url_norm) exchange in:\n${plan.take(800)}")
  }

  test("the incremental URL gate reads the documents table exactly once") {
    // frontier and batch both derive from the same scan, so the anti-join
    // formulation would read the parquet TWICE (the q39 double-scan
    // lesson); the frontier-membership window must fold it to one scan
    // and plan no join at all
    val plan = graft.analytics.LlmOps.ddUrlIncremental(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one documents scan, saw $scans:\n${plan.take(800)}")
    assert(!plan.contains("Join"),
      s"unexpected join in the single-scan gate:\n${plan.take(600)}")
  }

  test("the snapshot diff shuffles fingerprints only — text never crosses an exchange") {
    // the operator's scale claim: md5 folds into the scan projection, so
    // the full-outer join moves (doc_id, fp) pairs, never document text
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val qe = graft.analytics.LlmOps.ddSnapshotDiff(spark, "/root/testdata/sf0.001")
      .queryExecution
    val leaky = qe.executedPlan.collect {
      case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e
    }
    assert(leaky.isEmpty, s"text column crosses an exchange:\n${leaky.headOption}")
    // and the scans read only the two columns the fingerprint needs
    val fmt = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = fmt.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty && schemas.forall(_.contains("struct<doc_id:bigint,text:string>")),
      s"documents scan not pruned to (doc_id, text):\n$schemas")
  }

  test("the forward as-of window keeps the GROWING frame, never the shrinking one") {
    // q37's 302s sf1z lesson: (1, unboundedFollowing) is a SHRINKING frame
    // that WindowExec recomputes from scratch per row — O(rows²) in the
    // hot user's partition. The reversed-sort growing frame
    // (unboundedPreceding, -1) is evaluated incrementally. Every spec and
    // the oracle pass for BOTH formulations (same rows), so only the plan
    // can pin the fix.
    val plan = graft.analytics.Relational
      .queries("q37_asof_forward")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString.toUpperCase
    assert(plan.contains("UNBOUNDEDPRECEDING$(), -1"),
      s"growing frame missing from:\n${plan.take(800)}")
    assert(!plan.contains("UNBOUNDEDFOLLOWING"),
      s"shrinking frame regressed into:\n${plan.take(800)}")
  }

  test("the crawl funnel reads documents exactly twice (flags + doc_id-only host branch)") {
    // the documented scale shape: one scan carries both per-row windows
    // (url_norm, md5-text) and the ONLY other scan is the host-kept
    // branch, pruned to the doc_id column (every URL column derives from
    // doc_id) and folded through the bounded map-side topk_min aggregate;
    // no window is ever partitioned by the skewed host key
    val qe = graft.analytics.LlmOps.ddCrawlFunnel(spark, "/root/testdata/sf0.001")
      .queryExecution
    val fmt = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = fmt.linesIterator.map(_.trim)
      .filter(_.startsWith("ReadSchema")).toSeq.sorted
    assert(schemas == Seq(
      "ReadSchema: struct<doc_id:bigint,text:string>",
      "ReadSchema: struct<doc_id:bigint>"),
      s"scan shapes drifted: $schemas")
    val plan = qe.executedPlan.toString
    assert(plan.contains("partial_topk_min"), "host branch lost the bounded aggregate")
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(!_.contains("host")),
      s"a window partitions by the skewed host key:\n${windowLines.mkString("\n")}")
  }

  test("the sample-exec manifest plans two scans and a source-partitioned running total") {
    // the documented shape: documents scanned once per side (plan +
    // manifest), and the per-doc epoch cut runs as a running total
    // PARTITIONED BY SOURCE — never an unpartitioned doc-level window
    // (the budget side's global windows run over the O(sources)
    // aggregated frame only and are identified by their lack of the
    // doc-level md5 sort key)
    val qe = graft.analytics.LlmOps.txtSampleExec(spark, "/root/testdata/sf0.001")
      .queryExecution
    val fmt = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = fmt.linesIterator.map(_.trim).count(_.startsWith("ReadSchema"))
    assert(scans == 2, s"expected two documents scans, saw $scans")
    // the md5 sort key is projected to _w0 pre-window, so identify the
    // doc-level window as the PARTITIONED one (the budget side's global
    // windows open with specifiedwindowframe — no partition columns)
    val wls = qe.executedPlan.toString.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    val partitioned = wls.filterNot(_.contains("windowspecdefinition(specifiedwindowframe"))
    assert(partitioned.nonEmpty &&
      partitioned.forall(l => l.contains("windowspecdefinition(source") &&
        l.contains("sum(n_toks")),
      s"doc-level cut not a source-partitioned running total:\n${partitioned.mkString("\n")}")
  }

  test("the host cap plans as a bounded map-side top-k aggregate, not a window sort") {
    // dd_host_cap's scale claim: under the ~50%-mass hot host, a
    // row_number() window would sort half the corpus on one reducer; the
    // TopKMinAgg formulation must instead show a map-side partial
    // aggregate (O(k) buffer per map task) and no Window anywhere.
    val plan = graft.analytics.LlmOps.ddHostCap(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"host cap regressed to a window formulation:\n${plan.take(600)}")
    assert(plan.contains("partial_topk_min"),
      s"no map-side partial topk_min in:\n${plan.take(600)}")
    assert(plan.contains("ObjectHashAggregate"),
      "expected the TypedImperativeAggregate ObjectHashAggregate path")
  }

  test("the interval join plans as an equi-join on the bucket key, not a nested loop") {
    // the whole point of the week-bucket expansion: the naive range join
    // falls back to BroadcastNestedLoopJoin, which does not survive scale
    val plan = graft.analytics.Relational
      .q36IntervalJoin(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "interval join degenerated to a nested-loop join")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      "expected a hash/merge equi-join on the bucket key")
  }

  test("both as-of joins plan as one window pass: a single user_id exchange, no self-join") {
    // the scalable as-of shape (q23 backward, q37 forward): ONE shuffle on
    // user_id feeding a window — the naive per-row point-in-time lookup
    // would appear here as a join (range self-join, O(n²) at scale)
    Seq(
      graft.analytics.Relational.q23AsofAttr(spark, "/root/testdata/sf0.001"),
      graft.analytics.Relational.q37AsofForward(spark, "/root/testdata/sf0.001")
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"as-of must not plan a join:\n${plan.take(400)}")
      val dataExchanges = "hashpartitioning\\(user_id".r.findAllIn(plan).length
      assert(dataExchanges >= 1 && plan.contains("Window"),
        "expected the user_id-partitioned window pass")
      // exactly one round of partitioning work for the window itself: the
      // final orderBy adds a range exchange, but no second hash shuffle
      assert("hashpartitioning\\(".r.findAllIn(plan).length == 1,
        s"more than one hash exchange in the as-of plan:\n${plan.take(400)}")
    }
  }

  test("the funnel plans as chained windows over ONE user_id exchange, no join") {
    // q40's scale claim: four stage-min windows AND the per-user collapse
    // all ride a single hash shuffle — the chained-self-join formulation
    // would show up here as Join operators and extra exchanges
    val plan = graft.analytics.Relational
      .q40Funnel(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"funnel must not plan a join:\n${plan.take(400)}")
    assert(plan.contains("Window"), "expected the user_id-partitioned window chain")
    assert("hashpartitioning\\(".r.findAllIn(plan).length == 1,
      s"the window chain and per-user collapse must share one hash exchange:\n${plan.take(600)}")
  }

  test("retrain re-assignment is map-only: no Window, no member-side exchange, window-parity") {
    // simIvfRetrainExec's full-corpus re-assignment must be the
    // packed-centroid row-local fold (the nearestCell shape), NOT an N x k
    // crossJoin + row_number shuffle. The only exchanges allowed are the
    // SinglePartition packing of the k-row centroid side (it feeds a
    // broadcast) — members never shuffle.
    import spark.implicits._
    val members = Seq(
      (1L, Array(1.0f, 0.0f), 1.0, 0L),
      (2L, Array(0.0f, 1.0f), 1.0, 1L),
      (3L, Array(0.6f, 0.8f), 1.0, 0L),
      (4L, Array(1.0f, 1.0f), 2.0, 1L), // exact tie: both cosines equal -> lowest ncell
      (5L, Array(0.0f, 0.0f), 0.0, 1L)  // zero norm: keeps its current cell
    ).toDF("vec_id", "embedding", "nrm", "cell")
    val cents = Seq(
      (0L, Array(10L, 0L), 100.0),
      (1L, Array(0L, 10L), 100.0)
    ).toDF("ncell", "svec", "snrm")
    val re = graft.analytics.LlmOps.retrainReassign(members, cents)
    val plan = re.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"re-assignment must not sort a window:\n${plan.take(600)}")
    val shuffles = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange")).toSeq
    assert(shuffles.forall(_.contains("SinglePartition")),
      s"members must not shuffle — only the k-row centroid packing may:\n${shuffles.mkString("\n")}")
    // Bit-exact parity with the retired window formulation on the same
    // inputs, tie included: (cos DESC, ncell ASC) row_number argmax.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wRef = Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("ncell"))
    val windowed = members.crossJoin(broadcast(cents))
      .withColumn("cos_c", expr("dot_fl(embedding, svec)") / sqrt(col("nrm") * col("snrm")))
      .withColumn("ark", row_number().over(wRef))
      .filter(col("ark") === 1)
      .select(col("vec_id"), col("ncell"))
      .as[(Long, Long)].collect().toMap
    val folded = re.as[(Long, Long)].collect().toMap
    assert(folded - 5L == windowed - 5L, s"fold=$folded window=$windowed")
    assert(folded(4L) == 0L, "exact tie must keep the lowest ncell")
    // the window puts the zero-norm member (all cosines NULL, NULLS LAST)
    // on the lowest ncell; the re-assignment leaves it where it was
    assert(windowed(5L) == 0L && folded(5L) == 1L,
      s"zero-norm member must keep its current cell 1: fold=${folded(5L)} window=${windowed(5L)}")
  }

  test("builder fold assignment is map-only and row_number-exact (ties, NaN, top-2)") {
    // Every index-build assignment (ivf/serve/insert/kmeans/two-level/
    // image) rides nearestCell (top-1 or top-2) instead of the N x k
    // crossJoin + row_number window. Pin (a) the member subtree
    // never shuffles (only the k-row centroid packing may), (b) bit parity
    // with the retired window formulation including an exact tie, a NaN
    // (zero-norm) member, and the rank-2 cell of the top-2 variant.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val members = Seq(
      (1L, Array(1.0f, 0.0f), 1.0),
      (2L, Array(0.0f, 1.0f), 1.0),
      (3L, Array(0.6f, 0.8f), 1.0),
      (4L, Array(1.0f, 1.0f), 2.0),   // exact tie on both centroids
      (5L, Array(0.0f, 0.0f), 0.0)    // zero norm: every cosine NULL (Divide by 0)
    ).toDF("vec_id", "embedding", "nrm")
    val cents = Seq(
      (0L, Array(1.0f, 0.0f), 1.0),
      (1L, Array(0.0f, 1.0f), 1.0)
    ).toDF("cent_id", "cemb", "cnrm")
    val folded = graft.analytics.LlmOps.nearestCell(members, cents, "cent_id", "cemb", "cnrm")
      .select(col("vec_id"), col("cell"))
    val plan = folded.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"fold must not plan a window:\n${plan.take(600)}")
    val shuffles = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange")).toSeq
    assert(shuffles.forall(_.contains("SinglePartition")),
      s"members must not shuffle — only the k-row centroid packing may:\n${shuffles.mkString("\n")}")
    // reference: the retired window argmax (cos DESC, cent_id ASC) — NaN
    // sorts first under DESC, exactly like the fold's isnan arm
    val wRef = Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cent_id"))
    val ref = members.crossJoin(broadcast(cents))
      .withColumn("cos_c", expr("dot_f(embedding, cemb)") / sqrt(col("nrm") * col("cnrm")))
      .withColumn("ark", row_number().over(wRef))
    val refTop1 = ref.filter(col("ark") === 1)
      .select(col("vec_id"), col("cent_id")).as[(Long, Long)].collect().toMap
    assert(folded.as[(Long, Long)].collect().toMap == refTop1)
    assert(refTop1(4L) == 0L, "exact tie must keep the lowest cent_id")
    assert(refTop1(5L) == 0L,
      "zero-norm member (NULL cos, NULLS LAST) must land on the lowest cent_id")
    // top-2 variant: both ranks must match the window's ark <= 2 rows
    val refTop2 = ref.filter(col("ark") <= 2)
      .select(col("vec_id"), col("cent_id"), col("ark"))
      .as[(Long, Long, Int)].collect().toSet
    val folded2 = graft.analytics.LlmOps
      .nearestCell(members, cents, "cent_id", "cemb", "cnrm", top2 = true)
      .select(col("vec_id"), col("cell"), col("ark"))
      .as[(Long, Long, Int)].collect().toSet
    assert(folded2 == refTop2, s"top2 fold=$folded2 window=$refTop2")
  }

  test("Lloyd-sum and ivf2 level-2 folds are row_number-exact; empty centroids emit zero rows") {
    // The parity pin extended to nearestCell over integer Lloyd-sum
    // centroids (dot_fl) and the ivf2 level-2 sub-centroid fold, with the
    // same tie/zero-norm fixtures — and the
    // empty-centroid case, where the retired window formulations emitted
    // ZERO rows while the 1-row packed agg used to leak the -1 sentinel.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val members = Seq(
      (1L, Array(1.0f, 0.0f), 1.0),
      (2L, Array(0.0f, 1.0f), 1.0),
      (3L, Array(0.6f, 0.8f), 1.0),
      (4L, Array(1.0f, 1.0f), 2.0),   // exact tie on both centroids
      (5L, Array(0.0f, 0.0f), 0.0)    // zero norm: every cosine NULL
    ).toDF("vec_id", "embedding", "nrm")
    // integer Lloyd-sum centroids (the kmCentroids shape), same directions
    val centsL = Seq(
      (0L, Array(7L, 0L), 49.0),
      (1L, Array(0L, 7L), 49.0)
    ).toDF("cell", "svec", "snrm")
    val foldedL = graft.analytics.LlmOps
      .nearestCell(members, centsL, "cell", "svec", "snrm")
      .select(col("vec_id"), col("cell"))
    val wRef = Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cell"))
    val refL = members.crossJoin(broadcast(centsL))
      .withColumn("cos_c", expr("dot_fl(embedding, svec)") / sqrt(col("nrm") * col("snrm")))
      .withColumn("ark", row_number().over(wRef))
      .filter(col("ark") === 1)
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toMap
    assert(foldedL.as[(Long, Long)].collect().toMap == refL)
    assert(refL(4L) == 0L && refL(5L) == 0L,
      "tie and zero-norm member must keep the lowest cell")
    // ivf2 level-2: members carry their l1 cell; sub-centroids per cell.
    // Cell 7 has TWO subs (tie + NULL coverage); cell 8 has none — its
    // member must drop out exactly as the retired per-cell window dropped it.
    val l1 = members.withColumn("cell", when(col("vec_id") === 2L, 8L).otherwise(7L))
    val subcents = Seq(
      (7L, 10L, Array(1.0f, 0.0f), 1.0),
      (7L, 11L, Array(0.0f, 1.0f), 1.0)
    ).toDF("scell", "sub_id", "semb", "ssnrm")
    val sub = graft.analytics.LlmOps
      .nearestCell(l1, subcents, "sub_id", "semb", "ssnrm", by = Some("cell" -> "scell"))
      .select(col("vec_id"), col("subcell"))
    val wSub = Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("sub_id"))
    val refSub = l1.join(broadcast(subcents), col("cell") === col("scell"))
      .withColumn("cos_c", expr("dot_f(embedding, semb)") / sqrt(col("nrm") * col("ssnrm")))
      .withColumn("ark", row_number().over(wSub))
      .filter(col("ark") === 1)
      .select(col("vec_id"), col("sub_id")).as[(Long, Long)].collect().toMap
    val subMap = sub.as[(Long, Long)].collect().toMap
    assert(subMap == refSub, s"subcell fold=$subMap window=$refSub")
    assert(!subMap.contains(2L), "a cell with no sub-centroids must emit no row")
    assert(refSub(4L) == 10L && refSub(5L) == 10L,
      "tie and zero-norm member must keep the lowest sub_id")
    // empty centroid tables: zero rows out, never the -1 sentinel
    val centsF0 = spark.emptyDataset[(Long, Array[Float], Double)]
      .toDF("cent_id", "cemb", "cnrm")
    assert(graft.analytics.LlmOps
      .nearestCell(members, centsF0, "cent_id", "cemb", "cnrm").count() == 0L)
    assert(graft.analytics.LlmOps
      .nearestCell(members, centsF0, "cent_id", "cemb", "cnrm", top2 = true).count() == 0L)
    val centsL0 = spark.emptyDataset[(Long, Array[Long], Double)]
      .toDF("cell", "svec", "snrm")
    assert(graft.analytics.LlmOps
      .nearestCell(members, centsL0, "cell", "svec", "snrm").count() == 0L)
    // k=1: the top-2 fold must emit ONE row per member (no sentinel rank 2)
    val cents1 = Seq((0L, Array(1.0f, 0.0f), 1.0)).toDF("cent_id", "cemb", "cnrm")
    val one = graft.analytics.LlmOps
      .nearestCell(members, cents1, "cent_id", "cemb", "cnrm", top2 = true)
      .groupBy(col("vec_id")).count().select(col("count")).distinct()
      .as[Long].collect().toSeq
    assert(one == Seq(1L), s"k=1 must yield exactly rank 1 per member, got $one")
  }

  test("the band-memo readers plan no band Generate or bucket-cap Window outside the memo") {
    // dd_minhash_wide_pairs, dd_simhash_pairs and dd_simhash_wide_pairs
    // read a memoized band index on both sides of the candidate join;
    // planned inline, the band Generate + bucket-cap Window subtree would
    // run once per side. The walk stops at InMemoryTableScan, so the
    // memo's own build plan is not counted.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val helper = new AdaptiveSparkPlanHelper {}
    val dir = "/root/testdata/sf0.001"
    Seq("dd_minhash_wide_pairs", "dd_simhash_pairs", "dd_simhash_wide_pairs").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      val nodes = helper.collect(plan) {
        case g: GenerateExec => s"Generate ${g.generator}"
        case w: WindowExec => s"Window ${w.windowExpression.mkString(", ")}"
      }
      assert(nodes.isEmpty, s"$name plans its band index inline:\n${nodes.mkString("\n")}")
      val memoScans = helper.collect(plan) { case m: InMemoryTableScanExec => m }
      assert(memoScans.size >= 2, s"$name reads ${memoScans.size} memoized tables, expected both sides")
    }
  }
}
