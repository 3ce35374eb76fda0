package graft.analytics

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Similarity-search operators (sim_*): brute-force truth, hyperplane
  * LSH, IVF flat/kmeans/two-level, IVF-PQ + ADC, the serve lifecycle and
  * the recall censuses, SemDeDup. */
private[analytics] trait SimOps {
  this: OpsKernels with TxtOps with DedupOps with IngestOps with LlmOracles =>


  // ------------------------------------------------------------ similarity


  /** Deterministic query CAP for [[simTopkCosine]] — the [[EmbedLabelCap]]
    * treatment applied to the exact-NN baseline's QUERY side: `vec_id % 50`
    * sampling keeps the query count proportional to N, so the cross join was
    * the last plan in the surface whose cost grew as O(N²/50) — it owned the
    * sf1 top slot at 10.1 s and is unbounded at production scale. Capping at
    * the `SimQueryCap` LOWEST sampled vec_ids (order unique → deterministic,
    * mirrored verbatim in the oracle) bounds the work at N×cap dot products —
    * LINEAR in N — while leaving every sf where the cap doesn't bind
    * (sf0.001/sf0.01: far fewer than 256 sampled ids) bit-identical, so the
    * six ANN twins' recall probes in LlmOpsSpec still measure against the
    * same exact ground truth. */
  private[analytics] lazy val SimQueryCap = 256


  /** Brute-force cosine top-k: every 50th vector (capped at the
    * [[SimQueryCap]] lowest such ids) queries the full table. The exact
    * baseline an ANN variant is judged against: the bounded query side is
    * BROADCAST, so the scan is one linear pass over the candidates with no
    * shuffle of the big side. */
  def simTopkCosine(spark: SparkSession, dir: String): DataFrame =
    bruteTruthTable(spark, dir).orderBy(col("qid"), col("rk"))


  /** The capped brute-force truth (qid, rk, cid, cos) — MEMOIZED and
    * prewarmed like the index tables: one exact N·SimQueryCap pass per
    * (session, dir) serves the baseline query AND all three recall
    * censuses, each of which previously re-paid the scan (3 × ~21 s of
    * the sf2 bench). Production monitoring materializes its acceptance
    * sample for exactly this reason. Result ≤ 5·SimQueryCap rows. */
  private[analytics] def bruteTruthTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "topk_cosine") {
      val e = Tables.embeddings(spark, dir)
        .withColumn("nrm", dotF(col("embedding"), col("embedding")))
      val q = e.filter(expr("vec_id % 50 = 0"))
        .orderBy(col("vec_id")).limit(SimQueryCap)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
      exactTop5(broadcast(q).crossJoin(c).filter(col("qid") =!= col("cid")))
    }


  /** The sign-bucket table (vec_id, embedding, nrm, bucket) shared by the
    * three hyperplane-LSH queries, memoized per (session, dir) and
    * prewarmed by [[stateBuilders]] — the LSH index analogue of
    * [[ivfAssignTable]]'s build-once contract. */
  private[analytics] def annBucketTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "ann_bucket") {
      // carries `label` so the embedding near-dup query (label-blocked)
      // reads the same index table as the three ANN queries
      Tables.embeddings(spark, dir)
        .withColumn("nrm", dotF(col("embedding"), col("embedding")))
        .withColumn("bucket", expr(bucketHof("embedding", annPlanes(spark, dir))))
    }


  /** Hyperplane-LSH approximate NN: deterministic hyperplanes → 2^AnnPlanes
    * sign-buckets; queries only scan their own bucket. The scale path —
    * candidate count drops ~2^AnnPlanes× vs brute force, at measured recall
    * cost (see LlmOpsSpec's recall probe). */
  def simAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = annBucketTable(spark, dir)
    val q = e.filter(expr("vec_id % 50 = 0"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"), col("bucket"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"), col("bucket").as("cb"))
    exactTop5(q.join(c, col("bucket") === col("cb") && col("qid") =!= col("cid")))
      .orderBy(col("qid"), col("rk"))
  }


  /** Multiprobe hyperplane-LSH ANN: each query scans its own sign-bucket
    * PLUS the [[annPlanes]] buckets one bit-flip away — the standard
    * recall-recovery move for hyperplane LSH (a near neighbor that landed
    * across one hyperplane differs in exactly one sign bit). Candidate
    * volume grows (1+planes)x over [[simAnnLsh]] but stays ~2^planes/(1+planes)
    * below brute force; recall roughly triples on the synthetic embeddings
    * (measured in LlmOpsSpec). With data-sized planes the probed volume is
    * ~(1+P)·64 vectors per query — BOUNDED as N grows, P growing only
    * logarithmically. The probe fanout is a generator over a (1+P)-element
    * literal array — no join amplification beyond the bucket lookups. */
  def simAnnMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val pl = annPlanes(spark, dir)
    val e = annBucketTable(spark, dir)
    val probes = (0 until pl).map(p => s"bucket ^ ${1 << p}").mkString(", ")
    val q = e.filter(expr("vec_id % 50 = 0"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"), col("bucket"))
      .select(col("qid"), col("qe"), col("qn"),
        explode_outer(expr(s"array(bucket, $probes)")).as("probe"))
      .filter(col("probe").isNotNull)
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"), col("bucket").as("cb"))
    exactTop5(q.join(c, col("probe") === col("cb") && col("qid") =!= col("cid")))
      .orderBy(col("qid"), col("rk"))
  }


  /** Hamming-radius-2 mask set over `pl` planes, ordered so that the masks
    * valid for any smaller plane count form a PREFIX (sorted by highest set
    * bit): 1 + pl + pl(pl-1)/2 masks. The oracle slices the same full-
    * [[MaxPlanes]] list to that prefix length, so both engines probe the
    * identical bucket set at every N. */
  private[analytics] def probe2Masks(pl: Int): Seq[Int] = {
    val all = Seq(0) ++
      (0 until pl).flatMap(b => Seq(1 << b) ++ (0 until b).map(i => (1 << i) | (1 << b)))
    all.sortBy(m => (31 - java.lang.Integer.numberOfLeadingZeros(math.max(m, 1)), m))
  }


  /** Radius-2 multiprobe ANN — the recall-recovery tier above
    * [[simAnnMultiprobe]]: each query probes its own bucket, every 1-bit
    * flip, and every 2-bit flip — 1 + P + P(P-1)/2 buckets of ~64 vectors,
    * still a vanishing fraction of the corpus at scale (P ~ log N, so the
    * candidate count per query stays bounded while brute force grows with
    * N). This is the shipped configuration that clears the recall@5 >= 0.6
    * floor LlmOpsSpec pins (radius-1 measured 0.46 on the spec corpus). */
  def simAnnProbe2(spark: SparkSession, dir: String): DataFrame = {
    val pl = annPlanes(spark, dir)
    val e = annBucketTable(spark, dir)
    val probes = probe2Masks(pl).map(m => s"bucket ^ $m").mkString(", ")
    val q = e.filter(expr("vec_id % 50 = 0"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"), col("bucket"))
      .select(col("qid"), col("qe"), col("qn"),
        explode_outer(expr(s"array($probes)")).as("probe"))
      .filter(col("probe").isNotNull)
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"), col("bucket").as("cb"))
    exactTop5(q.join(c, col("probe") === col("cb") && col("qid") =!= col("cid")))
      .orderBy(col("qid"), col("rk"))
  }


  /** IVF-flat approximate NN (the second ANN family next to the hyperplane
    * LSH): a deterministic coarse quantizer — the [[ivfK]] vectors with
    * vec_id < k act as cell centroids — assigns every vector to its
    * max-cosine cell (broadcast k-row cross join + one window), and each
    * query scans only its own cell (nprobe=1). k = max(16, sqrt(N/2)) is
    * the flat-quantizer cost optimum (see [[annPlanes]]' Scaladoc): total
    * work O(N^1.5) instead of the fixed-16-cell O(N²/16). At production
    * scale the centroid set comes from a sampled k-means and lives in a
    * broadcast exactly like this one; the per-cell scan shape is
    * unchanged. */
  def simIvf(spark: SparkSession, dir: String): DataFrame = {
    val (q, c) = ivfAssigned(spark, dir)
    exactTop5(q.filter(col("ark") === 1).drop("ark")
      .join(c, col("cell") === col("ccell") && col("qid") =!= col("cid")))
      .orderBy(col("qid"), col("rk"))
  }


  /** IVF SERVE path — queries the index has NEVER seen. Every other sim
    * query draws its query set from index members; production serves
    * arbitrary incoming vectors against an already-built index. Corpus =
    * vectors with vec_id % 4 != 3; its centroids are the k lowest-id
    * CORPUS vectors (the index knows nothing of the held-out quarter);
    * the corpus-side assignment is memoized index state
    * ([[ivfServeAssignTable]]). An incoming (held-out, % 200 = 3) vector
    * is quantized against the broadcast centroid table at query time —
    * the serve-path cost is k dots + one cell scan, independent of any
    * index rebuild — and ranked exactly within its cell. This is also
    * the INSERT path of an incremental IVF index: assign-to-existing-
    * cells is precisely how new vectors join (the index absorbs inserts
    * until cell occupancy drifts and a periodic re-train rebalances —
    * the re-train being [[simIvfKmeans]]'s Lloyd round). */
  def simIvfServe(spark: SparkSession, dir: String): DataFrame =
    serveTop5Over(spark, dir,
      ivfServeAssignTable(spark, dir)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          col("nrm").as("cn"), col("cell").as("ccell")))


  /** The serve READ kernel, shared by [[simIvfServe]] and the lifecycle
    * spec's read-back checks: rank each held-out (% 200 = 3) query's top-5
    * within its cell over an arbitrary candidate table (cid, ce, cn,
    * ccell) — which lets the spec serve over a tombstone-anti-joined or
    * post-compaction index and assert equality. */
  private[graft] def serveTop5Over(spark: SparkSession, dir: String, c: DataFrame): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    val q = probeCells(e.filter(expr("vec_id % 200 = 3")), serveCentroids(spark, dir),
        "vec_id", "embedding", "nrm")
      .filter(col("ark") === 1)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"), col("cent_id").as("cell"))
    exactTop5(q.join(c, col("cell") === col("ccell")))
      .orderBy(col("qid"), col("rk"))
  }


  /** The k lowest-id corpus vectors as serve-index centroids —
    * deterministic (TakeOrdered, no global sort materialized). */
  private[analytics] def serveCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(expr("vec_id % 4 <> 3"))
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
      .orderBy(col("vec_id")).limit(ivfK(spark, dir))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"), col("nrm").as("cnrm"))


  /** Corpus-side assignment of the serve index (vec_id, embedding, nrm,
    * label, cell), memoized + prewarmed like [[ivfAssignTable]]. Carries
    * the `label` metadata column alongside the vector — exactly what a
    * deployed index stores per member to serve FILTERED queries
    * ([[simIvfFiltered]]) without a second metadata lookup. private[graft]
    * so the lifecycle spec can drive read-back over it. */
  private[graft] def ivfServeAssignTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "ivf_serve_assign") {
      val e = Tables.embeddings(spark, dir)
        .filter(expr("vec_id % 4 <> 3"))
        .withColumn("nrm", dotF(col("embedding"), col("embedding")))
      nearestCell(e, serveCentroids(spark, dir), "cent_id", "cemb", "cnrm")
        .select(col("vec_id"), col("embedding"), col("nrm"), col("label"), col("cell"))
    }


  /** Shared IVF assignment: queries carry their rank-1 AND rank-2 cells
    * (`ark`), candidates their rank-1 cell — [[simIvf]] keeps ark=1,
    * [[simIvfNprobe2]] both.
    *
    * The assignment TABLE is memoized per (session, dir) and prewarmed by
    * [[stateBuilders]] — a production IVF index is BUILT once and queried
    * many times, and four queries here ([[simIvf]], [[simIvfNprobe2]],
    * [[simIvfPq]], [[simIvfPqRerank]]) share it; without the memo each
    * re-ran the N × k centroid cross join + argmin window. The cached
    * table is (vec_id, embedding, nrm, cell, ark≤2) — exactly what a
    * deployed index stores per vector (cell id + the vector + its norm). */
  private[analytics] def ivfAssignTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "ivf_assign") {
      val k = ivfK(spark, dir)
      val e = Tables.embeddings(spark, dir)
        .withColumn("nrm", dotF(col("embedding"), col("embedding")))
      val cents = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      nearestCell(e, cents, "cent_id", "cemb", "cnrm", top2 = true)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"), col("ark"))
    }


  private[analytics] def ivfAssigned(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val assigned = ivfAssignTable(spark, dir)
    val q = assigned.filter(expr("vec_id % 50 = 0"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"), col("cell"), col("ark"))
    val c = assigned.filter(col("ark") === 1)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"), col("cell").as("ccell"))
    (q, c)
  }


  /** IVF with nprobe=2 — each query scans its TWO nearest cells (candidates
    * still live in exactly one cell, so no pair is produced twice). The
    * standard IVF recall knob: candidate volume doubles over [[simIvf]]
    * while staying ~k/2 below brute force. */
  def simIvfNprobe2(spark: SparkSession, dir: String): DataFrame = {
    val (q, c) = ivfAssigned(spark, dir)
    exactTop5(q.drop("ark")
      .join(c, col("cell") === col("ccell") && col("qid") =!= col("cid")))
      .orderBy(col("qid"), col("rk"))
  }


  /** ANN recall census — the acceptance metric every approximate index
    * ships with, promoted from a spec-only probe (LlmOpsSpec's recall
    * checks) to the oracle-checked surface, the [[ingestQuarantine]]
    * precedent applied to index quality: per-query recall@5 of the IVF
    * index at nprobe=1 ([[simIvf]]) and nprobe=2 ([[simIvfNprobe2]])
    * against the exact brute-force top-5 ([[simTopkCosine]]) on the
    * capped query sample. Composes the three oracle-checked queries
    * verbatim — the recall readout cannot drift from what the index
    * actually serves — and emits the recall-vs-nprobe curve a deployment
    * tunes its probe width with. `hits_*` are exact BIGINT overlap
    * counts; `recall_*` is the single int/int IEEE division.
    *
    * Scale shape: truth is the SimQueryCap-bounded broadcast brute-force
    * pass — the one irreducible exact pass ANY recall measurement pays,
    * linear in N with a hard-capped broadcast side (production recall
    * monitoring samples its query set for exactly this reason). Both IVF
    * sides read the memoized assignment table; each is LEFT-SEMI-pruned
    * to the capped sample against a broadcast 256-row qid list BEFORE
    * the overlap joins, so the frames being overlap-joined carry ≤
    * 5·SimQueryCap rows a side and broadcast. One map-side-combinable
    * count pair per qid closes it — constant output size at any N. */
  def simIvfRecall(spark: SparkSession, dir: String): DataFrame =
    recallCensusOver(spark, dir,
      Seq("np1" -> simIvf(spark, dir), "np2" -> simIvfNprobe2(spark, dir)))


  /** [[simIvfRecall]]'s LSH-family sibling: recall@5 of the hyperplane
    * index at probing radius 0 ([[simAnnLsh]], home bucket only), radius 1
    * ([[simAnnMultiprobe]], home + 1-bit flips), and radius 2
    * ([[simAnnProbe2]]) against the same brute-force truth — the
    * recall-vs-probe-radius curve, the LSH analogue of the IVF nprobe
    * knob. Same kernel, same scale shape, same cannot-drift composition
    * of the three oracle-checked queries. */
  def simAnnRecall(spark: SparkSession, dir: String): DataFrame =
    recallCensusOver(spark, dir,
      Seq("r0" -> simAnnLsh(spark, dir), "r1" -> simAnnMultiprobe(spark, dir),
        "r2" -> simAnnProbe2(spark, dir)))


  /** The recall census extended to the COMPRESSED serving family: recall@5
    * of the IVF-PQ ADC scan at the 16-code yardstick width ([[simIvfPq]])
    * and the production 8-bit width ([[simIvfPq256]]) against the same
    * brute-force truth — the recall-vs-code-width curve that prices PQ's
    * memory saving in accuracy. Both sides share [[simIvf]]'s coarse
    * cells, so the census isolates QUANTIZATION loss: any gap below the
    * flat index's nprobe=1 recall ([[simIvfRecall]]) is what the 16× /
    * 128× compression costs, per query. Same kernel, same scale shape,
    * same cannot-drift composition of two oracle-checked queries. */
  def simPqRecall(spark: SparkSession, dir: String): DataFrame =
    recallCensusOver(spark, dir,
      Seq("pq16" -> simIvfPq(spark, dir), "pq256" -> simIvfPq256(spark, dir)))


  /** Shared recall-census kernel of [[simIvfRecall]] / [[simAnnRecall]]:
    * per capped-sample query, the overlap of each approximate side's
    * (qid, cid) top-5 with the brute-force truth, as `hits_<sfx>` BIGINT
    * counts and `recall_<sfx>` int/int divisions. Each side is
    * LEFT-SEMI-pruned to the capped sample against a broadcast 256-row
    * qid list BEFORE the overlap joins (the raw sides cover every 50th
    * vector — N/10 rows at scale), so the joined frames stay ≤
    * 5·SimQueryCap rows and broadcast. The qid list is recomputed
    * directly (a limit-256 scan) rather than distinct-ing truth. Truth
    * itself is the memoized [[bruteTruthTable]] — all three censuses and
    * the baseline query share ONE exact pass per (session, dir). */
  private[analytics] def recallCensusOver(spark: SparkSession, dir: String,
      sides: Seq[(String, DataFrame)]): DataFrame = {
    val qids = Tables.embeddings(spark, dir)
      .filter(expr("vec_id % 50 = 0"))
      .orderBy(col("vec_id")).limit(SimQueryCap)
      .select(col("vec_id"))
    val truth = simTopkCosine(spark, dir).select(col("qid"), col("cid"))
    val joined = sides.foldLeft(truth) { case (acc, (sfx, df)) =>
      val pruned = df.select(col("qid").as(s"q_$sfx"), col("cid").as(s"c_$sfx"))
        .join(broadcast(qids), col(s"q_$sfx") === col("vec_id"), "left_semi")
      acc.join(broadcast(pruned),
        col("qid") === col(s"q_$sfx") && col("cid") === col(s"c_$sfx"), "left")
    }
    val hits = sides.map { case (sfx, _) => count(col(s"c_$sfx")).as(s"hits_$sfx") }
    sides.foldLeft(joined.groupBy(col("qid")).agg(hits.head, hits.tail: _*)) {
      case (acc, (sfx, _)) => acc.withColumn(s"recall_$sfx", col(s"hits_$sfx") / lit(5))
    }
      .select(col("qid") +: sides.flatMap { case (sfx, _) =>
        Seq(col(s"hits_$sfx"), col(s"recall_$sfx")) }: _*)
      .orderBy(col("qid"))
  }


  /** TWO-LEVEL (hierarchical) IVF — the production shape past ~10M
    * vectors, where a flat quantizer's own N·k assignment re-quadratizes
    * (see [[ivfK]]'s Scaladoc): level 1 assigns every vector to one of
    * [[ivf2K]] coarse cells (first-k centroids, broadcast); level 2
    * re-quantizes WITHIN each cell against the cell's k lowest-id members
    * as sub-centroids. ~N^(2/3) leaf cells of ~N^(1/3) members each make
    * both assignment and within-leaf pair work O(N^(4/3)) — strictly below
    * the flat optimum's O(N^1.5). A query scans only its leaf (nprobe=1
    * per level; the recall knob is the same cell-expansion as
    * [[simIvfNprobe2]], composable per level). The sub-centroid table is
    * ~N^(2/3) rows; it broadcasts comfortably at any N a single flat
    * quantizer could also serve, and at extreme N the level-2 join is
    * already keyed on `cell`, so production shards it cell-partitioned
    * co-located with the members instead of broadcasting. */
  def simIvf2(spark: SparkSession, dir: String): DataFrame = {
    val a = ivf2AssignTable(spark, dir)
    val q = a.filter(expr("vec_id % 50 = 0"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"),
        col("cell"), col("subcell"))
    val c = a.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"),
      col("cell").as("ccell"), col("subcell").as("csub"))
    exactTop5(q.join(c,
      col("cell") === col("ccell") && col("subcell") === col("csub") && col("qid") =!= col("cid")))
      .orderBy(col("qid"), col("rk"))
  }


  /** The two-level assignment table behind [[simIvf2]] — (vec_id,
    * embedding, nrm, cell, subcell) — memoized + prewarmed like its flat
    * siblings (built once, queried many times). */
  private[analytics] def ivf2AssignTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "ivf2_assign") {
      // both levels ride the nearest-centroid fold; level 2 packs each
      // cell's k lowest-id members as its sub-centroids (the only keyed
      // shuffle, on the index side) and each member folds over its own
      // cell's array
      val k = ivf2K(spark, dir)
      val e = Tables.embeddings(spark, dir)
        .withColumn("nrm", dotF(col("embedding"), col("embedding")))
      val cents = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      val l1 = nearestCell(e, cents, "cent_id", "cemb", "cnrm")
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      val wSub = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
      val subcents = l1.withColumn("srk", row_number().over(wSub))
        .filter(col("srk") <= k)
        .select(col("cell").as("scell"), col("vec_id").as("sub_id"),
          col("embedding").as("semb"), col("nrm").as("ssnrm"))
      nearestCell(l1, subcents, "sub_id", "semb", "ssnrm", by = Some("cell" -> "scell"))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"), col("subcell"))
    }


  /** Component quantization scale for the k-means Lloyd sums: 2^20 keeps a
    * unit-norm float component's information (float ulp at |x|<=1 is 2^-24;
    * the quantization error 2^-21 is far below any cosine tie that matters)
    * while a cell's component SUM stays orders of magnitude inside BIGINT. */
  private[analytics] lazy val KmQuant = 1L << 20


  /** IVF over a K-MEANS-REFINED coarse quantizer — up to [[KmRounds]]
    * deterministic, SAMPLED Lloyd rounds on top of [[simIvf]]'s first-k
    * init, with an integer-exact fixed-point early stop (production
    * trains IVF quantizers exactly this way: sample → a few Lloyd rounds
    * to near-convergence → broadcast the centroid table). The refinement
    * is CROSS-ENGINE EXACT,
    * which a float mean could never be (a per-cell avg() of doubles is
    * partition-order-dependent — the dsum lesson): each sampled member's
    * components are quantized to BIGINT (round(x * [[KmQuant]])), summed
    * per cell — integer sums are exact under any partitioning — and the
    * UN-normalized sum vector IS the refined centroid, because cosine only
    * needs the direction: Lloyd's divide-by-count cancels and is never
    * computed. Full-corpus assignment against the refined centroids runs
    * through the codegen'd [[org.apache.spark.sql.graft.DotProductFL]]
    * (float row × BIGINT centroid); the ranking divides by
    * sqrt(nrm * snrm) where snrm is the left-folded double self-dot of the
    * sum vector — every post-sum step is fixed-order per-row arithmetic,
    * so the DuckDB oracle (same unrolled left-associated chains) hashes
    * identically. The POINT is cell balance: the first-k init inherits the
    * id order's density; one Lloyd round moves centroids onto actual mass,
    * evening occupancy and with it both recall and the per-cell pair cost
    * that governs scale (LlmOpsSpec pins recall parity with [[simIvf]]). */
  def simIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfKmeansAssignTable(spark, dir)
    val q = assigned.filter(expr("vec_id % 50 = 0"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"), col("cell"))
    val c = assigned
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"), col("cell").as("ccell"))
    exactTop5(q.join(c, col("cell") === col("ccell") && col("qid") =!= col("cid")))
      .orderBy(col("qid"), col("rk"))
  }


  /** Quantizer-BALANCE census — the Lloyd refinement's actual claim
    * ([[simIvfKmeans]]' Scaladoc: balance, not recall) promoted from a
    * spec observation to the oracle-checked surface: per quantizer
    * (first-k init vs k-means-refined), one row per distinct cell
    * occupancy with the number of cells at that occupancy. This is the
    * histogram an index operator watches for hot cells — in IVF a hot
    * cell IS a hot scan (query cost = probed cells' member count), and
    * occupancy skew is also exactly what [[simIvfRetrain]]'s drift
    * signal summarizes to one number. Reads both MEMOIZED assignment
    * tables (embedding column pruned at the scan) as k-row
    * map-side-combinable aggregates; output ≤ k rows per quantizer at
    * any N. */
  def simIvfBalance(spark: SparkSession, dir: String): DataFrame = {
    def hist(assign: DataFrame, name: String): DataFrame =
      assign.groupBy(col("cell")).agg(count(lit(1)).as("occ"))
        .groupBy(col("occ")).agg(count(lit(1)).as("n_cells"))
        .select(lit(name).as("quantizer"), col("occ"), col("n_cells"))
    hist(ivfAssignTable(spark, dir).filter(col("ark") === 1), "first_k")
      .unionAll(hist(ivfKmeansAssignTable(spark, dir), "kmeans"))
      .orderBy(col("quantizer"), col("occ"))
  }


  /** How many sampled Lloyd rounds [[simIvfKmeans]]'s quantizer trains for
    * — the production recipe is "a few rounds to near-convergence", not
    * one. The Spark builder stops EARLY at the exact fixed point (zero
    * sampled members changed cell — an integer-exact movement test both
    * engines would agree on), which is result-identical to running all
    * [[KmRounds]]: deterministic Lloyd is a fixed-point map (same
    * membership ⇒ same integer sums ⇒ same centroids ⇒ same next
    * assignment), so the static DuckDB oracle simply unrolls all rounds
    * and lands on the same final centroids whether or not the builder
    * short-circuited. */
  private[analytics] lazy val KmRounds = 3


  /** One sampled-member assignment against integer Lloyd-sum centroids
    * (cell, svec, snrm): (vec_id, embedding, cell). */
  private[analytics] def kmAssignSampled(e: DataFrame, cents: DataFrame): DataFrame =
    nearestCell(e.filter(expr("vec_id % 5 = 0")), cents, "cell", "svec", "snrm")
      .select(col("vec_id"), col("embedding"), col("cell"))


  /** Integer Lloyd update: per-cell quantized component sums over the
    * members — the un-normalized sum vector IS the centroid (see
    * [[simIvfKmeans]]). (cell, svec, snrm). */
  private[analytics] def kmCentroids(members: DataFrame): DataFrame =
    packLloyd(lloydPosSums(members))


  /** The FLAT half of [[kmCentroids]] — per-(cell, pos) quantized BIGINT
    * component sums over (cell, embedding) rows. Integer sums are exactly
    * associative-commutative, so the sum over a union of member sets is
    * bit-equal however Spark partitions it — the whole point of the
    * integer quantization. */
  private[analytics] def lloydPosSums(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(expr(s"CAST(round(CAST(x AS DOUBLE) * $KmQuant) AS BIGINT)")).as("s"))


  /** The PACK half of [[kmCentroids]]: (cell, pos, s) sums → the
    * ascending-pos svec array + its norm. */
  private[analytics] def packLloyd(sums: DataFrame): DataFrame =
    sums
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, s))), p -> p.s)").as("svec"))
      .withColumn("snrm", expr(
        "aggregate(svec, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"))


  /** The k-means assignment at a given round count — the unmemoized
    * builder behind [[ivfKmeansAssignTable]], exposed (package-private)
    * so the spec can compare the multi-round quantizer against the
    * one-round variant. Columns (vec_id, embedding, nrm, cell). */
  private[graft] def ivfKmeansAssignment(spark: SparkSession, dir: String, rounds: Int): DataFrame = {
    val k = ivfK(spark, dir)
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    val cents0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
    // the initial assignment: sampled members (every 5th vector) against
    // the first-k init. Each Lloyd pass's sampled assignment is CACHED (and
    // tracked for releaseCaches): the movement test is an action, and
    // without the cache every pass's count — and the final full assignment
    // — would re-execute the whole chain of prior passes from scratch
    // (O(rounds²) full passes inside a TIMED state build).
    var members = track(
      nearestCell(e.filter(expr("vec_id % 5 = 0")), cents0, "cent_id", "cemb", "cnrm")
        .select(col("vec_id"), col("embedding"), col("cell"))
        .cache())
    var cents = kmCentroids(members)
    var r = 1
    var converged = false
    while (r < rounds && !converged) {
      val next = track(kmAssignSampled(e, cents).cache())
      // integer-exact movement test: at the fixed point every remaining
      // round is the identity, so stopping here is result-identical to
      // running all rounds (what the oracle does)
      val moved = next.select(col("vec_id"), col("cell").as("ncell"))
        .join(members.select(col("vec_id"), col("cell")), "vec_id")
        .filter(col("ncell") =!= col("cell")).count()
      members = next
      cents = kmCentroids(members)
      converged = moved == 0
      r += 1
    }
    nearestCell(e, cents, "cell", "svec", "snrm")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
  }


  /** The k-means-refined assignment table behind [[simIvfKmeans]],
    * memoized per (session, dir) and prewarmed by [[stateBuilders]] (same
    * index-built-once reasoning as [[ivfAssignTable]]; kept separate
    * because the refined centroids produce a different cell partition).
    * Columns (vec_id, embedding, nrm, cell). */
  private[analytics] def ivfKmeansAssignTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "ivf_kmeans_assign") {
      ivfKmeansAssignment(spark, dir, KmRounds)
    }


  /** Product-quantization geometry: 64 dims = [[PqM]] subspaces ×
    * [[PqSub]] dims, [[PqCodes]] codes per subspace. Unlike the coarse
    * quantizers these are PRECISION knobs, not occupancy caps — the PQ
    * index costs PqM code bytes per vector and one 128-entry lookup table
    * per (query, subspace) REGARDLESS of N, so there is no capacity to
    * data-size and no latent scale cliff (production uses 8-bit codes,
    * i.e. PqCodes=256; 16 keeps the oracle's per-subspace argmin scan
    * small). */
  private[analytics] lazy val PqM = 8

  private[analytics] lazy val PqSub = 8

  /** [[dot]]'s 8-dim sibling for the PQ oracles: the subspace starting at
    * 1-based index `base` of two 64-dim lists, unrolled left-associated —
    * bit-identical to a [[org.apache.spark.sql.graft.DotProductF]] run
    * over `slice(v, base, 8)`. */
  private[analytics] def pqDot(a: String, b: String, base: Int): String =
    (base until base + PqSub).map(i => s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))").mkString(" + ")

  private[analytics] lazy val PqCodes = 16


  /** PRODUCTION code width: 8-bit codes, 256 entries per subspace — the
    * width every deployed PQ index uses (Jégou et al. 2011 run k*=256
    * throughout; one code byte per subspace). The 16-code path stays as
    * the compact yardstick whose oracle argmin scan is tiny; this one is
    * the shape you'd ship: same 8×8 geometry, 16× finer per-subspace
    * quantization, still PqM bytes per vector. Training stays first-k
    * sampled selection (no Lloyd) so the DuckDB oracle can replay the
    * EXACT argmin per (vector, subspace) — N×256 distance rows per
    * subspace at sf0.01, well inside oracle budget. */
  private[analytics] lazy val PqCodesProd = 256


  /** `transform(sequence(0, 7), s -> slice(v, s*8+1, 8))` — a 64-dim float
    * array as its [[PqM]] ordered subvectors (Spark SQL text; `slice` is
    * 1-based). */
  private[analytics] def pqSplit(v: String): String =
    s"transform(sequence(0, ${PqM - 1}), s -> slice($v, s * $PqSub + 1, $PqSub))"


  /** IVF-PQ with asymmetric-distance (ADC) scan — the canonical web-scale
    * ANN layout (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): the coarse IVF quantizer ([[ivfAssigned]],
    * data-sized k) bounds WHICH vectors a query scans; PQ bounds WHAT the
    * scan reads — each candidate is 8 code bytes + a stored norm instead
    * of 256 bytes of floats, and each pair costs 8 table lookups instead
    * of a 64-dim dot. At 100 TB that is the difference between scanning
    * the embedding column and scanning a ~16 B/vector index that fits in
    * memory: the full-precision vectors are never read after encode time.
    *
    * Cross-engine determinism, step by step: the codebook is the first
    * [[PqCodes]] vectors' subvectors (same first-k convention as
    * [[simIvf]]); encode picks argmin_code of `cent·cent - 2·sub·cent`
    * (the rank-equivalent of L2 distance — the candidate's own `sub·sub`
    * term is code-independent and dropped), tie-broken by code id, via a
    * map-side-combinable `min(struct(d, code))` — no window, no shuffle of
    * the N×128 distance rows (the oracle's row_number() formulation picks
    * the identical argmin). The query-side ADC table is the 128 partials
    * `q_s · cent(s,c)` ordered (s, code); the pair score is 8 literal
    * array lookups summed left-to-right, normalized by the STORED exact
    * norms (`adc / sqrt(qn·cn)` — the norm-corrected cosine form of PQ
    * inner-product search; norms ride along with the codes exactly as in
    * a production IVF-PQ index). Every chain is fixed-order double
    * arithmetic, so DuckDB hashes identically. */
  def simIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_adc").desc, col("cid"))
    ivfPqAdcPairs(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cid"), col("cos_adc"))
      .orderBy(col("qid"), col("rk"))
  }


  /** [[simIvfPq]] at PRODUCTION code width ([[PqCodesProd]] = 256, i.e.
    * 8-bit codes): identical coarse cells and ADC scan, 16× finer
    * per-subspace quantization at the same PqM bytes per vector — the
    * width a deployed index ships. Per-pair cost is unchanged (still PqM
    * table lookups); only the per-query ADC table grows (PqM·256
    * partials). LlmOpsSpec pins its recall at-or-above the 16-code
    * yardstick's. */
  def simIvfPq256(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_adc").desc, col("cid"))
    ivfPqAdcPairsWith(spark, dir, pqCodebook(spark, dir, PqCodesProd),
        pqCodesTable256(spark, dir), PqCodesProd)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("cid"), col("cos_adc"))
      .orderBy(col("qid"), col("rk"))
  }


  /** PQ codebook: (s, code, cent[8], cc = cent·cent) — the first `nCodes`
    * vectors' subvectors (PqM·nCodes rows). Cheap to derive, rebuilt
    * inline by both consumers; broadcast-sized at either width (128 rows
    * at the 16-code yardstick, 2048 at [[PqCodesProd]]). */
  private[analytics] def pqCodebook(spark: SparkSession, dir: String,
                         nCodes: Int = PqCodes): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < nCodes)
      .select(col("vec_id").as("code"), posexplode(expr(pqSplit("embedding"))).as(Seq("s", "cent")))
      .withColumn("cc", dotF(col("cent"), col("cent")))


  /** The ONE PQ encode kernel, shared by every code-table build and the
    * insert path (a drifted copy would silently encode the serve and
    * bench indexes differently): per (vector, subspace) the
    * argmin-(d, code) against a broadcast codebook — d = cc - 2·sub·cent,
    * the rank-equivalent of L2 — via a map-side-combinable min(struct)
    * (no window over the N×codes distance rows), collected to the
    * (vec_id, codes[PqM]) row a PQ index persists. */
  private[analytics] def pqEncode(vectors: DataFrame, codebook: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), posexplode(expr(pqSplit("embedding"))).as(Seq("s", "sub")))
      .join(broadcast(codebook), "s")
      .withColumn("d", col("cc") - lit(2.0) * dotF(col("sub"), col("cent")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(named_struct('s', s, 'code', best.code))), p -> p.code)").as("codes"))


  /** The PQ code index — (vec_id, codes[PqM]) — memoized per (session,
    * dir) and prewarmed by [[stateBuilders]]: this table IS what a
    * deployed PQ index persists (~PqM bytes per vector), encode-once by
    * contract. */
  private[analytics] def pqCodesTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "pq_codes") {
      pqEncode(Tables.embeddings(spark, dir), pqCodebook(spark, dir))
    }


  /** The production-width twin of [[pqCodesTable]]: same encode kernel,
    * [[PqCodesProd]]-entry codebook — still PqM bytes per vector
    * persisted, memoized + prewarmed like the 16-code table. */
  private[analytics] def pqCodesTable256(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "pq_codes256") {
      pqEncode(Tables.embeddings(spark, dir), pqCodebook(spark, dir, PqCodesProd))
    }


  /** The IVF-PQ/ADC candidate scan shared by [[simIvfPq]] and
    * [[simIvfPqRerank]]: every (query, same-cell candidate) pair with its
    * ADC-approximated cosine. Columns (qid, cid, cos_adc). */
  private[analytics] def ivfPqAdcPairs(spark: SparkSession, dir: String): DataFrame =
    ivfPqAdcPairsWith(spark, dir, pqCodebook(spark, dir),
      pqCodesTable(spark, dir), PqCodes)


  /** [[ivfPqAdcPairs]] generalized over the code width: the ADC lookup
    * stride is the codebook size, everything else is width-independent.
    * Shared by the 16-code yardstick and the [[PqCodesProd]] path. */
  private[analytics] def ivfPqAdcPairsWith(spark: SparkSession, dir: String,
      cb: DataFrame, codes: DataFrame, nCodes: Int): DataFrame = {
    val (q0, c0) = ivfAssigned(spark, dir)
    // query ADC tables: 128 partials q_s · cent(s,c), ordered (s, code)
    val qtabs = q0.filter(col("ark") === 1)
      .select(col("qid"), col("qn"), col("cell"), posexplode(expr(pqSplit("qe"))).as(Seq("s", "qsub")))
      .join(broadcast(cb), "s")
      .withColumn("part", dotF(col("qsub"), col("cent")))
      .groupBy(col("qid"), col("qn"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code, part))), p -> p.part)").as("qtab"))
    val cands = c0.select(col("cid"), col("cn"), col("ccell"))
      .join(codes.withColumnRenamed("vec_id", "cid"), "cid")
    val adc = (0 until PqM)
      .map(s => s"qtab[CAST($s * $nCodes + codes[$s] AS INT)]").mkString(" + ")
    qtabs.join(cands, col("cell") === col("ccell") && col("qid") =!= col("cid"))
      .withColumn("cos_adc", expr(adc) / sqrt(col("qn") * col("cn")))
      .select(col("qid"), col("cid"), col("cos_adc"))
  }


  /** How many ADC-ranked candidates per query survive into the exact
    * re-rank — a 4× overfetch over the emitted top-5, the standard
    * refine-stage ratio (enough that an ADC mis-ranking inside the cell
    * cannot evict a true top-5 neighbor unless PQ error exceeds the
    * 15-candidate margin). A PRECISION knob like [[PqCodes]], not an
    * occupancy cap: the refine cost is |Q| × depth exact dots regardless
    * of corpus size, so there is nothing to data-size. */
  private[analytics] lazy val PqRerankDepth = 20


  /** IVF-PQ with EXACT RE-RANK — the full two-stage retrieval layout every
    * production PQ index runs (Jégou et al. 2011 §V: ADC shortlist, then
    * re-rank with original vectors): the ADC scan ([[ivfPqAdcPairs]] —
    * codes only, vectors never read) keeps the top-[[PqRerankDepth]]
    * candidates per query, and ONLY those pairs fetch their full-precision
    * vectors for an exact cosine, which decides the emitted top-5. At
    * 100 TB the split is the whole point: the code index (~16 B/vector)
    * serves the O(N/k)-per-query ADC scan with the vector column never in
    * the loop; the refine stage joins the |Q| × depth shortlist back to
    * the vector table by id — here ONE column-pruned pass of (vec_id,
    * embedding) as the join's probe side (the shortlist side broadcasts).
    * On a production 100 TB index the pass itself is what you'd shave:
    * shortlist-id runtime filtering (bloom pushdown to the scan — the
    * q33 pattern) or an id-bucketed vector layout (the q35 pattern) turns
    * it into targeted reads; both are shipped elsewhere in this library
    * and compose here unchanged. Emits the EXACT cosine, so output quality
    * equals brute force on whatever the shortlist covers — PQ error can
    * no longer mis-order the final ranking, only (rarely) exclude a
    * candidate from the shortlist. */
  def simIvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("cos_adc").desc, col("cid"))
    val short = ivfPqAdcPairs(spark, dir)
      .withColumn("ark", row_number().over(wAdc))
      .filter(col("ark") <= PqRerankDepth)
      .select(col("qid"), col("cid"))
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    val qv = e.select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val cv = e.select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    exactTop5(short.join(qv, "qid").join(cv, "cid"))
      .orderBy(col("qid"), col("rk"))
  }


  /** How many cells a SERVE query probes against the compressed index —
    * nprobe=2 closes [[simIvfServe]]'s single-cell recall bound (a held-out
    * vector near a cell boundary finds its true neighbors in the runner-up
    * cell); candidates still live in exactly one cell so no pair is
    * produced twice. */
  private[graft] lazy val ServeNprobe = 2


  /** Probe width of the FILTERED serve path ([[simIvfFiltered]]): a 1/L
    * label selectivity thins every probed cell's candidate set by ~L, so
    * filtered search widens the probe to keep the effective candidate
    * count — the standard production rule (probe ∝ 1/selectivity, here
    * doubled from [[ServeNprobe]] for the synthetic 10-label corpus;
    * still O(1) cells per query). */
  private[analytics] lazy val FilteredNprobe = 4


  /** SERVE-index PQ codebook: the first [[PqCodes]] CORPUS vectors'
    * subvectors (the held-out quarter must not train the codebook — the
    * index has never seen it). Corpus vec_ids are not dense, so the code
    * id is the rank in vec_id order (0-based, identical in the oracle);
    * 16 rows, built inline and broadcast like [[pqCodebook]]. */
  private[graft] def servePqCodebook(spark: SparkSession, dir: String): DataFrame = {
    // the window input is the PqCodes-row TakeOrdered slice below — bounded
    // at any corpus size, so the single-partition window is k-row-cheap
    // (the WindowExec no-partition warning this emits is the documented
    // bounded-frame case, not a doc-scale sort)
    val w = Window.orderBy(col("vec_id"))
    Tables.embeddings(spark, dir).filter(expr("vec_id % 4 <> 3"))
      .orderBy(col("vec_id")).limit(PqCodes)
      .withColumn("code", row_number().over(w) - 1)
      .select(col("code"), posexplode(expr(pqSplit("embedding"))).as(Seq("s", "cent")))
      .withColumn("cc", dotF(col("cent"), col("cent")))
  }


  /** The serve index's PQ code table — (vec_id, cell, nrm, codes[PqM])
    * over CORPUS members only, encoded against [[servePqCodebook]] —
    * memoized + prewarmed like [[pqCodesTable]]. The cell id and stored
    * norm ride WITH the codes (one build-time join against
    * [[ivfServeAssignTable]]): a deployed PQ index persists exactly this
    * row, and the ADC scan then reads ONE memoized table instead of
    * re-joining codes to the assignment on every query. */
  private[graft] def servePqCodesTable(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "ivf_serve_pq_codes") {
      pqEncode(Tables.embeddings(spark, dir).filter(expr("vec_id % 4 <> 3")),
          servePqCodebook(spark, dir))
        .join(ivfServeAssignTable(spark, dir)
          .select(col("vec_id"), col("cell"), col("nrm"), col("label")), "vec_id")
    }


  /** SERVE path against the COMPRESSED index — production's actual serving
    * shape, composing [[simIvfServe]]'s held-out-query contract with
    * [[simIvfPqRerank]]'s two-stage retrieval: an incoming (held-out,
    * % 200 = 3) vector is quantized against the broadcast corpus centroids
    * at query time, probes its [[ServeNprobe]] nearest cells, ADC-scans
    * ONLY the ~8-byte PQ codes of those cells' members (the full-precision
    * corpus vectors are not read by the scan), and the top-[[PqRerankDepth]]
    * shortlist alone fetches its exact vectors for the re-rank that decides
    * the emitted top-5. Per incoming vector the cost is k centroid dots +
    * ~2N/k code lookups + depth exact dots — independent of any index
    * rebuild, and the memory the scan touches is the ~16 B/vector code
    * index, the property that makes 100 TB serving feasible. nprobe=2
    * closes the flat serve path's single-cell recall bound (LlmOpsSpec pins
    * held-out recall@5 >= [[simIvfServe]]'s). */
  def simIvfServePq(spark: SparkSession, dir: String): DataFrame =
    servePqTop5(spark, dir, ServeNprobe, labelFiltered = false)


  /** The shared two-stage ADC retrieval kernel behind [[simIvfServePq]]
    * and [[simIvfFilteredPq]] — ONE implementation of query quantization,
    * per-query ADC table, shortlist scan and exact re-rank, so a change
    * to the code-index scheme or tie-breaks cannot drift between the
    * plain and filtered serve paths (the serveTop5Over argument, applied
    * to the compressed index). `labelFiltered` adds the label equality to
    * the cell-scan join condition and carries the query label to the
    * output; `nprobe` widens the probe (the filtered path's
    * selectivity compensation). */
  private[analytics] def servePqTop5(spark: SparkSession, dir: String, nprobe: Int,
                          labelFiltered: Boolean): DataFrame =
    servePqTop5Over(spark, dir, nprobe, labelFiltered,
      servePqCodebook(spark, dir), servePqCodesTable(spark, dir))


  /** Same kernel over a CALLER-SUPPLIED codebook + code index — the
    * persistence seam: PartitionPruningSpec reads both back from parquet
    * (codes cell-partitioned) and pins disk-served answers bitwise-equal
    * to session-state serving, so a serve-path restart never retrains
    * the quantizer. */
  private[graft] def servePqTop5Over(spark: SparkSession, dir: String, nprobe: Int,
                          labelFiltered: Boolean, cb: DataFrame,
                          codeIndex: DataFrame): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    // query-time quantization: nprobe nearest cells per held-out vector
    val q2 = probeCells(e.filter(expr("vec_id % 200 = 3")), serveCentroids(spark, dir),
        "vec_id", "embedding", "nrm")
      .filter(col("ark") <= nprobe)
      .select(col("vec_id").as("qid"), col("nrm").as("qn"),
        col("label").as("qlabel"), col("cent_id").as("cell"))
    // per-query ADC table (built once per qid, then joined to its probe cells)
    val qtabs = e.filter(expr("vec_id % 200 = 3"))
      .select(col("vec_id").as("qid"), posexplode(expr(pqSplit("embedding"))).as(Seq("s", "qsub")))
      .join(broadcast(cb), "s")
      .withColumn("part", dotF(col("qsub"), col("cent")))
      .groupBy(col("qid"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code, part))), p -> p.part)").as("qtab"))
    val cands = codeIndex
      .select(col("vec_id").as("cid"), col("nrm").as("cn"), col("cell").as("ccell"),
        col("label").as("clabel"), col("codes"))
    val adc = (0 until PqM)
      .map(s => s"qtab[CAST($s * $PqCodes + codes[$s] AS INT)]").mkString(" + ")
    val scanCond =
      if (labelFiltered) col("cell") === col("ccell") && col("qlabel") === col("clabel")
      else col("cell") === col("ccell")
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("cos_adc").desc, col("cid"))
    // the serve batch is BOUNDED by contract (incoming queries, not a
    // corpus sample), so it broadcasts into the cell scan — the code index
    // is never shuffled, the scan stays a map-side pass over it
    val short = broadcast(q2.join(qtabs, "qid"))
      .join(cands, scanCond)
      .withColumn("cos_adc", expr(adc) / sqrt(col("qn") * col("cn")))
      .withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= PqRerankDepth)
      .select(col("qid"), col("cid"), col("qlabel"))
    // exact re-rank: only the shortlist fetches full-precision vectors —
    // |Q| x depth ids broadcast against the vector table (no corpus shuffle)
    val qv = e.filter(expr("vec_id % 200 = 3"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val cv = ivfServeAssignTable(spark, dir)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    exactTop5(broadcast(short.join(qv, "qid")).join(cv, "cid"),
        (if (labelFiltered) Seq(col("qlabel").as("label")) else Nil): _*)
      .orderBy(col("qid"), col("rk"))
  }


  /** FILTERED search against the COMPRESSED index — [[simIvfFiltered]]'s
    * predicate-inside-the-scan contract composed with [[simIvfServePq]]'s
    * two-stage ADC retrieval, i.e. the exact shape a production vector DB
    * serves filtered queries in: the label predicate is evaluated against
    * the metadata column OF THE CODE INDEX during the cell scan (the
    * ~16 B/vector code row carries its label — [[servePqCodesTable]]), so
    * non-matching members never even reach the 8-lookup ADC score, the
    * shortlist is filtered-by-construction, and only its
    * [[PqRerankDepth]] survivors fetch full-precision vectors for the
    * exact re-rank. Probe width [[FilteredNprobe]] for the same
    * selectivity reason as the flat filtered path. Per query: k centroid
    * dots + ~selectivity·(FilteredNprobe·N/k) code lookups + ≤depth exact
    * dots — the filter makes the ADC pass CHEAPER, not just smaller. */
  def simIvfFilteredPq(spark: SparkSession, dir: String): DataFrame =
    servePqTop5(spark, dir, FilteredNprobe, labelFiltered = true)


  /** The serve index's INSERT path — the WRITE side of incremental
    * serving, complementing [[simIvfServePq]]'s read side: each arriving
    * (held-out) vector is quantized against the frozen corpus centroids
    * and encoded against the frozen corpus PQ codebook, emitting exactly
    * the row that gets APPENDED to the code index — (vec_id, cell, stored
    * norm, PqM code bytes). No index state is rebuilt (k centroid dots +
    * 128 codebook dots per insert, independent of N); inserts accumulate
    * until occupancy drift triggers the periodic re-train
    * (LlmOpsSpec's lifecycle test measures that transition). Codes are
    * emitted as one column per subspace — the append row is flat, like
    * the index layout itself. */
  def simIvfServeInsert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    val held = e.filter(expr("vec_id % 4 = 3"))
    val assigned = serveInsertAssign(spark, dir)
    val codes = pqEncode(held, servePqCodebook(spark, dir))
    assigned.join(codes, "vec_id")
      .select(Seq(col("vec_id"), col("cell"), col("nrm")) ++
        (0 until PqM).map(s => expr(s"CAST(codes[$s] AS BIGINT)").as(s"c$s")): _*)
      .orderBy(col("vec_id"))
  }


  /** The INSERT path's cell assignment — each arriving (held-out) vector
    * quantized against the frozen corpus centroids: (vec_id, embedding,
    * nrm, cell). ONE site shared by [[simIvfServeInsert]] (which appends
    * PQ codes), [[simIvfRetrain]] (which censuses the post-insert
    * occupancy), and [[simIvfRetrainExec]] (which feeds the arrivals into
    * the Lloyd re-train), so the write path, the re-train decision, and
    * the re-train itself can never disagree on where an insert landed.
    * Memoized per (session, dir) like the sibling assignment tables —
    * three queries consume it, so the N/4 × k window assignment is built
    * once and accounted as a state build, not re-paid per query. */
  private[analytics] def serveInsertAssign(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "serve_insert_assign") {
      val e = Tables.embeddings(spark, dir)
        .withColumn("nrm", dotF(col("embedding"), col("embedding")))
      nearestCell(e.filter(expr("vec_id % 4 = 3")), serveCentroids(spark, dir),
          "cent_id", "cemb", "cnrm")
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    }


  /** DELETE path of incremental serving — the third side of the serve
    * index's lifecycle ([[simIvfServe]] reads, [[simIvfServeInsert]]
    * writes, this RETIRES). Deployed IVF indexes delete by TOMBSTONE, not
    * rewrite: the deleted id set is tiny next to the index, queries
    * anti-join it at serve time, and a cell is physically rewritten
    * (compacted) only when its live fraction drops below a threshold —
    * rewriting per delete would re-encode the whole cell for every
    * retired row. This query computes exactly that maintenance decision:
    * a deterministic tombstone batch (corpus vec_id % 5 = 0) grouped
    * against the frozen assignment into per-cell (before, deleted, live,
    * live_frac) plus the compact flag at 0.8. Cost is ONE map-side-
    * combinable pass over the memoized assignment's (vec_id, cell)
    * columns — the full-precision vectors are never read, and the output
    * is k rows however large the index, so the decision scan is free at
    * any scale. LlmOpsSpec pins the census invariants (cells partition
    * the corpus, deleted+live=before, flag consistent with the ratio)
    * and that the serve-read tombstone anti-join is non-vacuous against
    * [[simIvfServe]]'s answers: served results really do contain
    * tombstoned ids for the anti-join to remove, and survive it. */
  def simIvfServeDelete(spark: SparkSession, dir: String): DataFrame =
    ivfServeAssignTable(spark, dir)
      .select(col("vec_id"), col("cell"), expr("CAST(vec_id % 5 = 0 AS INT)").as("del"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_before"),
        sum(col("del")).as("n_deleted"),
        (count(lit(1)) - sum(col("del"))).as("n_live"))
      .withColumn("live_frac", col("n_live") / col("n_before"))
      .withColumn("compact", col("live_frac") < 0.8)
      .orderBy(col("cell"))


  /** COMPACTION EXECUTION — the rewrite [[simIvfServeDelete]] only
    * DECIDES: cells whose live fraction fell below 0.8 are physically
    * rewritten (their tombstoned rows dropped); every other cell is left
    * byte-untouched, tombstones still in place for the serve-time
    * anti-join. Emits the post-compaction index membership — (vec_id,
    * cell, tomb = tombstone still physically present, compacted = this
    * row's cell was rewritten) — i.e. exactly the rows a file-backed
    * index would hold after the maintenance pass. Cost: the same map-side
    * census as the decision scan (k rows), broadcast back onto the
    * assignment's (vec_id, cell) columns, one filter — vectors are never
    * read, nothing shuffles but the k-row census, so the rewrite plan is
    * as free as the decision at any index size. LlmOpsSpec's lifecycle
    * test drives read → insert → delete → compact → read-back and pins
    * that serving over the compacted index equals pre-compaction serving
    * on live ids ([[serveTop5Over]]). */
  def simIvfCompact(spark: SparkSession, dir: String): DataFrame = {
    val assign = ivfServeAssignTable(spark, dir)
      .select(col("vec_id"), col("cell"), expr("vec_id % 5 = 0").as("tomb0"))
    // same live_frac arithmetic as the decision query (long/long IEEE
    // division), so the two can never disagree on which cells compact
    val census = assign.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("tomb0"), 1L).otherwise(0L)).as("n_deleted"))
      .withColumn("compacted",
        (col("n_before") - col("n_deleted")) / col("n_before") < 0.8)
      .select(col("cell"), col("compacted"))
    assign.join(broadcast(census), "cell")
      .filter(!(col("compacted") && col("tomb0")))
      .select(col("vec_id"), col("cell"),
        (col("tomb0") && !col("compacted")).as("tomb"), col("compacted"))
      .orderBy(col("cell"), col("vec_id"))
  }


  /** RE-TRAIN DECISION — the last side of the serve-index lifecycle
    * ([[simIvfServe]] reads, [[simIvfServeInsert]] writes,
    * [[simIvfServeDelete]]/[[simIvfCompact]] retire): an IVF index absorbs
    * inserts into its FROZEN cells, so occupancy drifts — cells fill
    * unevenly and the per-cell scan cost (∝ cell size) degrades until a
    * periodic re-train re-balances the centroids (the re-train itself
    * being [[simIvfKmeans]]'s Lloyd round over the grown corpus). This
    * query computes the decision the maintenance loop polls: per-cell
    * post-insert occupancy (corpus members + arrivals through the shared
    * [[serveInsertAssign]], so the decision can never disagree with the
    * write path about where inserts landed) and two drift signals —
    * `frac_inserted` (arrivals / total: re-train once enough of the index
    * never voted for the centroids) and `skew` (max cell / mean cell, as
    * the single long-arithmetic division max·cells/total: re-train when
    * the worst cell's scan cost runs ≥ 2× the balanced cost). retrain =
    * frac_inserted ≥ 0.2 OR skew ≥ 2.0. Cost mirrors the compaction
    * decision: one map-side-combinable census over (vec_id, cell) columns
    * — vectors are never read on the corpus side — plus k centroid dots
    * per arrival; output is k rows at any index size, so polling the
    * decision is free. LlmOpsSpec extends the lifecycle to
    * read → insert → decide and pins the census + both signals. */
  def simIvfRetrain(spark: SparkSession, dir: String): DataFrame = {
    val corpus = ivfServeAssignTable(spark, dir)
      .select(col("cell"), lit(0L).as("ins"))
    val inserted = serveInsertAssign(spark, dir)
      .select(col("cell"), lit(1L).as("ins"))
    val census = corpus.union(inserted)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_total"), sum(col("ins")).as("n_inserted"),
        (count(lit(1)) - sum(col("ins"))).as("n_corpus"))
    // Drift signals as window aggregates over the k-row census (single
    // partition — k rows, so the "no partition defined" shape is exactly
    // right) rather than a separate agg + crossJoin back: the two census
    // references there prune different columns, don't canonicalize equal,
    // and so replayed the whole insert-assignment window/scan subtree —
    // doubling the poll cost this query's contract says is k-row cheap.
    val wAll = Window.partitionBy()
    census
      .withColumn("g_total", sum(col("n_total")).over(wAll))
      .withColumn("g_ins", sum(col("n_inserted")).over(wAll))
      .withColumn("g_cells", count(lit(1)).over(wAll))
      .withColumn("g_max", max(col("n_total")).over(wAll))
      .withColumn("frac_inserted", col("g_ins") / col("g_total"))
      .withColumn("skew", (col("g_max") * col("g_cells")) / col("g_total"))
      .withColumn("retrain", col("frac_inserted") >= 0.2 || col("skew") >= 2.0)
      .select(col("cell"), col("n_corpus"), col("n_inserted"), col("n_total"),
        col("frac_inserted"), col("skew"), col("retrain"))
      .orderBy(col("cell"))
  }


  /** RE-TRAIN EXECUTION — the rebalance [[simIvfRetrain]] only DECIDES
    * (the same decision→execution pairing as [[simIvfServeDelete]] →
    * [[simIvfCompact]]): one integer-exact Lloyd refinement round over the
    * GROWN corpus — frozen-cell members ∪ arrivals through the shared
    * [[serveInsertAssign]] kernel — using [[kmCentroids]]' quantized
    * component sums (the cross-engine-exact update the k-means quantizer
    * already trains with; a float mean would be partition-order-dependent),
    * then every member re-assigned against the retrained centroids. Emits
    * the per-cell occupancy BEFORE (drifted) vs AFTER (retrained) with the
    * same max·cells/total skew signal the decision reads on both sides —
    * the evidence the maintenance pass actually repaired the drift it was
    * triggered by. Cost: one pass to sum centroids (map-side combinable),
    * one MAP-ONLY re-assignment via [[retrainReassign]]'s packed-centroid
    * fold — N × k dot products with NO row expansion, no per-vec_id
    * window sort, no Exchange on the re-assignment subtree — and
    * two k-row censuses; the arrivals' assignment is the memoized
    * [[serveInsertAssign]] table (built once per session). The
    * skew globals ride window aggregates over the k-row census, not a
    * separate agg crossJoined back (the [[simIvfRetrain]] single-subtree
    * lesson). */
  def simIvfRetrainExec(spark: SparkSession, dir: String): DataFrame = {
    val corpus = ivfServeAssignTable(spark, dir)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    val inserted = serveInsertAssign(spark, dir)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    val members = corpus.union(inserted)
    // an insert in the -1 zero-norm diagnostic cell has no meaningful
    // cell and must not move a centroid (real embeddings never land there)
    val cents = kmCentroids(corpus.union(inserted.filter(col("cell") >= 0L)))
      .select(col("cell").as("ncell"), col("svec"), col("snrm"))
    val after = retrainReassign(members, cents)
    val before = members.groupBy(col("cell")).agg(count(lit(1)).as("n_before"))
    val afterC = after.groupBy(col("ncell").as("cell"))
      .agg(count(lit(1)).as("n_after"))
    val wAll = Window.partitionBy()
    before.join(afterC, Seq("cell"), "full_outer")
      .withColumn("n_before", coalesce(col("n_before"), lit(0L)))
      .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
      .withColumn("skew_before",
        (max(col("n_before")).over(wAll) * count(lit(1)).over(wAll))
          / sum(col("n_before")).over(wAll))
      .withColumn("skew_after",
        (max(col("n_after")).over(wAll) * count(lit(1)).over(wAll))
          / sum(col("n_after")).over(wAll))
      .withColumn("rebalanced", col("skew_after") <= col("skew_before"))
      .orderBy(col("cell"))
  }


  /** The exact top-5 ranker of every exact-cosine query. `pairs` holds
    * (query, candidate) pairs as (qid, qe, qn) and (cid, ce, cn); each
    * pair is scored `cos_exact = dot(qe, ce) / sqrt(qn * cn)` and each
    * qid keeps its first five under a `row_number` window ordered by
    * (cos_exact DESC, cid ASC). Emits (qid, rk, cid, extra..., cos).
    *
    * Contract: an exact tie keeps the lower cid; a NaN cosine ranks
    * first (Spark sorts NaN greatest) and a NULL one (a zero norm)
    * last; a qid with fewer than five candidates emits fewer rows, one
    * with none emits no row. Rows are unordered; callers sort. */
  private[analytics] def exactTop5(pairs: DataFrame, extra: Column*): DataFrame =
    pairs
      .withColumn("cos_exact", dotF(col("qe"), col("ce")) / sqrt(col("qn") * col("cn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos_exact").desc, col("cid"))))
      .filter(col("rk") <= 5)
      .select(Seq(col("qid"), col("rk"), col("cid")) ++ extra :+ col("cos_exact").as("cos"): _*)


  /** The query-side cell probe: crosses the queries `q` (id `qid`,
    * vector `qe`, norm `qn`) with the broadcast centroid table (cent_id,
    * cemb, cnrm), scores `cos_c = dot(qe, cemb) / sqrt(qn * cnrm)` and
    * numbers each query's cells `ark` = 1, 2, … by (cos_c DESC,
    * cent_id ASC). Callers keep `ark <= nprobe`. The query batch is
    * bounded, so the window over |Q| × k rows stays small; the index
    * builders take [[nearestCell]] instead. Ties, NaN and NULL rank as
    * in [[exactTop5]]. */
  private[analytics] def probeCells(q: DataFrame, cents: DataFrame, qid: String, qe: String,
      qn: String): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("cos_c", dotF(col(qe), col("cemb")) / sqrt(col(qn) * col("cnrm")))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col(qid)).orderBy(col("cos_c").desc, col("cent_id"))))


  /** The nearest-centroid fold of every index build: appends each
    * member's max-cosine centroid with no row expansion, window or
    * member-side shuffle. The centroid table (`id`, `vec`, `nrm`) is
    * packed into one array sorted by id ([[joinPacked]]): one broadcast
    * row for all members, or with `by` = (member key, centroid key) one
    * row per key, joined to the members with that key. Each member
    * (`embedding`, `nrm`) scores the array in id order and keeps the
    * best under [[foldBeats]] ([[nearestFold]]). Appends `cell`; with
    * `top2` the best two as rows (cell, ark = 1, 2); with `by`, the best
    * as `subcell` (`top2` does not apply). Other member columns pass
    * through.
    *
    * Contract: the fold picks exactly the rows a `row_number` window
    * ordered by (cos DESC, id ASC) ranks first (and second, with
    * `top2`). An exact tie keeps the lower id; a NaN cosine outranks any
    * real one; a NULL cosine (a zero norm on either side) ranks last, so
    * a member whose cosines are all NULL lands on the lowest id. Where
    * the window emits no row the fold emits none: an empty centroid
    * table or group gives the member no row, and one centroid gives
    * `top2` rank 1 alone. PlanGuardSpec pins all of this against the
    * window. */
  private[graft] def nearestCell(members: DataFrame, cents: DataFrame, id: String, vec: String,
      nrm: String, top2: Boolean = false, by: Option[(String, String)] = None): DataFrame = {
    val joined = joinPacked(members, cents, id, vec, nrm, by)
    by match {
      case Some((_, centKey)) =>
        joined.withColumn("subcell", nearestFold(cents, "subs", id, vec, nrm).getField("cell"))
          .drop(centKey, "subs")
      case None =>
        val ranked =
          if (!top2) joined.withColumn("cell", nearestFold(cents, "cents", id, vec, nrm).getField("cell"))
          else joined.withColumn("t2", nearestFold(cents, "cents", id, vec, nrm, top2 = true))
            .withColumn("ac", explode(expr(
              "array(named_struct('cell', t2.b.cell, 'ark', 1), " +
                "named_struct('cell', t2.s2.cell, 'ark', 2))")))
            .withColumn("cell", col("ac.cell"))
            .withColumn("ark", col("ac.ark"))
        // a slot still holding the sentinel is a rank the window never
        // emitted: no centroid at all, or no second one
        ranked.filter(col("cell") >= 0L).drop("one", "cents", "t2", "ac")
    }
  }


  /** Joins `members` to the packed centroids: the (id, vec, nrm)
    * structs collected into one array sorted by id. Without `by` that is
    * one broadcast row named `cents`, joined on a constant `one`; with
    * `by` one row named `subs` per centroid key, equi-joined on the
    * member key. */
  private def joinPacked(members: DataFrame, cents: DataFrame, id: String, vec: String,
      nrm: String, by: Option[(String, String)]): DataFrame = {
    val packed = sort_array(collect_list(struct(col(id), col(vec), col(nrm))))
    by match {
      case Some((key, centKey)) =>
        members.join(broadcast(cents.groupBy(col(centKey)).agg(packed.as("subs"))),
          col(key) === col(centKey))
      case None =>
        members.withColumn("one", lit(1))
          .join(broadcast(cents.agg(packed.as("cents")).withColumn("one", lit(1))), Seq("one"))
    }
  }


  /** The fold over packed array `arr`: scores each centroid struct `c`
    * as `dot(embedding, c.vec) / sqrt(nrm * c.nrm)` (`dot_fl` for
    * integer Lloyd-sum vectors, `dot_f` for float ones) and keeps the
    * best (cos, cell) struct, or with `top2` the best two as (b, s2),
    * starting from a (-2.0, -1) sentinel that any centroid beats. */
  private def nearestFold(cents: DataFrame, arr: String, id: String, vec: String, nrm: String,
      top2: Boolean = false): Column = {
    val dot = cents.schema(vec).dataType match {
      case ArrayType(LongType, _) => "dot_fl"
      case _ => "dot_f"
    }
    val scored = s"transform($arr, c -> named_struct(" +
      s"'cos', $dot(embedding, c.$vec) / sqrt(nrm * c.$nrm), 'cell', c.$id))"
    val sentinel = "named_struct('cos', CAST(-2.0 AS DOUBLE), 'cell', CAST(-1 AS BIGINT))"
    if (!top2)
      expr(s"aggregate($scored, $sentinel, " +
        s"(acc, s) -> CASE WHEN ${foldBeats("s", "acc")} THEN s ELSE acc END)")
    else
      expr(s"""aggregate($scored, named_struct('b', $sentinel, 's2', $sentinel),
        |  (acc, s) -> CASE
        |    WHEN ${foldBeats("s", "acc.b")} THEN named_struct('b', s, 's2', acc.b)
        |    WHEN ${foldBeats("s", "acc.s2")} THEN named_struct('b', acc.b, 's2', s)
        |    ELSE acc END)""".stripMargin)
  }


  /** The fold's replacement predicate — "struct `s` outranks held `acc`"
    * under the window's (cos DESC NULLS LAST, id ASC) order, evaluated
    * in ascending-id fold order so keep-on-tie IS the ASC tie-break.
    * NULL cos (zero divisor) beats only the -1 sentinel; any non-NULL
    * beats a held NULL; NaN beats any real (Spark sorts NaN greatest);
    * else strict `>`. NaN > NaN is false in Spark's comparison (NaN
    * equals itself), so the first NaN also keeps its slot. */
  private def foldBeats(s: String, acc: String): String =
    s"""(CASE
       |  WHEN isnull($s.cos) THEN $acc.cell = CAST(-1 AS BIGINT)
       |  WHEN isnull($acc.cos) THEN true
       |  WHEN isnan($s.cos) AND NOT isnan($acc.cos) THEN true
       |  ELSE $s.cos > $acc.cos END)""".stripMargin


  /** The re-train's full-corpus re-assignment against the retrained
    * Lloyd-sum centroids (ncell, svec, snrm): (vec_id, ncell) by the
    * [[nearestCell]] fold, map-only. One rule differs: a zero-norm member
    * keeps its current `cell`, where the fold would put it on the lowest
    * ncell — a degenerate vector has no nearest centroid, and moving it
    * would shift the before/after occupancy census. */
  private[graft] def retrainReassign(members: DataFrame, cents: DataFrame): DataFrame =
    joinPacked(members, cents, "ncell", "svec", "snrm", None)
      .select(col("vec_id"),
        when(col("nrm") === 0d, col("cell"))
          .otherwise(nearestFold(cents, "cents", "ncell", "svec", "snrm").getField("cell")).as("ncell"))


  /** METADATA-FILTERED ANN — the "filtered search" every production
    * vector DB serves (a label/language/tenant predicate evaluated DURING
    * the cell scan, not after): each held-out query retrieves its top-5
    * among corpus vectors sharing its OWN label. The predicate rides the
    * cell-scan join condition (cell equality AND label equality), so
    * non-matching members are discarded inside the join — never scored,
    * never ranked — rather than post-filtering a label-blind top-k (which
    * at a 1/8 label selectivity would leave mostly-empty result lists and
    * is the classic filtered-search recall failure). Queries probe
    * [[FilteredNprobe]] cells, not [[ServeNprobe]]: filtering thins each
    * cell's candidate set by the selectivity factor, so production
    * engines widen the probe under filters (see FilteredNprobe's cost
    * note) — the spec measures recall against label-filtered brute
    * force. Same serve-path cost shape as [[simIvfServe]] (k
    * centroid dots + a bounded cell scan); the label column is already
    * IN the memoized index state ([[ivfServeAssignTable]]) exactly so
    * this scan needs no metadata join. */
  def simIvfFiltered(spark: SparkSession, dir: String): DataFrame = {
    val c = ivfServeAssignTable(spark, dir)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("cell").as("ccell"), col("label").as("clabel"))
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    val q = probeCells(e.filter(expr("vec_id % 200 = 3")), serveCentroids(spark, dir),
        "vec_id", "embedding", "nrm")
      .filter(col("ark") <= FilteredNprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").as("qlabel"), col("cent_id").as("cell"))
    exactTop5(q.join(c, col("cell") === col("ccell") && col("qlabel") === col("clabel")),
        col("qlabel").as("label"))
      .orderBy(col("qid"), col("rk"))
  }


  /** SEMANTIC dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a coarse
    * quantizer, compare vectors ONLY within their cluster, and drop every
    * vector whose cosine to a LOWER-id cluster-mate clears the dedup
    * threshold (0.9) — the embedding-space generalization of near-dup
    * text removal, catching paraphrases no shingle/simhash family can.
    * Reuses [[simIvf]]'s deterministic broadcast quantizer, now DATA-SIZED:
    * k = max(16, sqrt(N/2)) centroids (see [[annPlanes]]' Scaladoc for the
    * cost model — sqrt(N/2) is the flat-quantizer optimum over assignment
    * N*k plus per-cluster pair work N²/2k, total O(N^1.5); production
    * swaps the first-k centroid pick for a sampled k-means, same shape).
    * Emits one row per vector: its cell, the max cosine to any lower-id
    * cluster-mate (NULL when none), and the keep verdict. */
  def ddSemdedup(spark: SparkSession, dir: String): DataFrame = {
    // the cluster structure IS sim_ivf's coarse assignment (same centroids,
    // same argmin, same tie-break) — reuse the memoized index table
    val assigned = ivfAssignTable(spark, dir).filter(col("ark") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    val a = assigned.select(col("vec_id").as("ia"), col("embedding").as("ea"),
      col("nrm").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("ib"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("cell").as("cellb"))
    // max is order-independent over doubles, so the aggregate is exact
    val low = a.join(b, col("cell") === col("cellb") && col("ib") < col("ia"))
      .withColumn("cos", dotF(col("ea"), col("eb")) / sqrt(col("na") * col("nb")))
      .groupBy(col("ia")).agg(max(col("cos")).as("max_cos_lower"))
    assigned.select(col("vec_id"), col("cell"))
      .join(low.withColumnRenamed("ia", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("max_cos_lower"),
        (col("max_cos_lower").isNull || col("max_cos_lower") < 0.9).as("kept"))
      .orderBy(col("vec_id"))
  }


  /** The semantic-dedup ACTION — SemDeDup's actual output is the PRUNED
    * corpus, and unlike the jaccard family (ddDedupKeep/_best) the
    * listing query above never executes the keep. Membership is the
    * connected components over the SAME within-cell cosine-0.9 pairs
    * [[ddSemdedup]] verdicts on (the IVF cell state bounds the pair work
    * at O(N^1.5), exactly as there); the survivor per cluster is its
    * BEST-QUALITY member — the [[graft.analytics.TxtOps.txtClassifier]]
    * linear-head score of the vector's document (the mm_join
    * doc_id = vec_id convention), rank 1 by (score DESC NULLS LAST,
    * vec_id) — the [[ddDedupKeepBest]] principle carried to embedding
    * space: semantic dedup should not discard the clean copy of a
    * paraphrase group because a boilerplate-ridden member has the
    * smaller id. Scale shape is [[ddDedupKeepBest]]'s: the cluster label
    * set is edge-bounded (semantic-dup members only), so AQE broadcasts
    * the label/loser/winner sides into the corpus scans and the corpus
    * is never shuffled; no hint, for the same mirror-farm OOM reasoning
    * documented there. */
  def ddSemdedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssignTable(spark, dir).filter(col("ark") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
    val a = assigned.select(col("vec_id").as("ia"), col("embedding").as("ea"),
      col("nrm").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("ib"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("cell").as("cellb"))
    val edges = a.join(b, col("cell") === col("cellb") && col("ib") < col("ia"))
      .filter(dotF(col("ea"), col("eb")) / sqrt(col("na") * col("nb")) >= 0.9)
      .select(col("ib").as("a"), col("ia").as("b"))
    val (labels, _) = connectedComponents(spark, edges)
    val lbl = labels().toDF("vec_id", "cluster_id")
    val scored = classifierScored(spark, dir)
      .select(col("doc_id"), col("score"))
    val wBest = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc_nulls_last, col("vec_id"))
    val ranked = lbl.join(scored, lbl("vec_id") === scored("doc_id"), "left")
      .withColumn("rk", row_number().over(wBest))
    val losers = ranked.filter(col("rk") > 1).select(col("vec_id"))
    val winners = ranked.filter(col("rk") === 1).select(col("vec_id"), col("cluster_id"))
    assigned.select(col("vec_id"), col("cell"))
      .join(losers, Seq("vec_id"), "left_anti")
      .join(winners, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cluster_id"))
      .orderBy(col("vec_id"))
  }
}
