package graft.analytics

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Ingestion + multimodal operators: incremental dedup state paths,
  * the quarantine census feed, mm_* metadata/frame queries. */
private[analytics] trait IngestOps {
  this: OpsKernels with TxtOps with DedupOps with SimOps with LlmOracles =>


  /** Frame-sampling plumbing over an opaque payload column: one row per
    * sampled frame (every 256 bytes, max 8 frames/item), with a
    * deterministic per-frame digest standing in for the decode step (this
    * query pins the explode/schema/partitioning layer, which is
    * engine-checkable).
    * Generation via `sequence` keeps the fanout inside codegen — no join. */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
      .select(col("doc_id"), col("n_bytes"),
        explode_outer(expr("sequence(0L, least(n_bytes div 256, 7L))")).as("frame_idx"))
      .filter(col("frame_idx").isNotNull)
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 256).as("frame_off"),
        md5(concat(col("doc_id").cast("string"), lit(":"), col("frame_idx").cast("string"))).as("frame_digest"))
      .orderBy(col("doc_id"), col("frame_idx"))


  /** Fixed batch/corpus split of the whole incremental-dedup family:
    * doc_id < split is the already-ingested corpus, the rest the arriving
    * batch (stable across SFs ≥ 500 docs). ONE site, interpolated into the
    * Spark filters AND the DuckDB mirrors like the band/cap constants — a
    * drifted copy on either side would silently break cross-engine parity
    * until the oracle run caught it. */
  private[analytics] lazy val IncrementalSplit = 250L


  /** Incremental dedup (the ingestion-time shape): treat doc_id < half as
    * the already-ingested corpus and the rest as the incoming batch; keep
    * only incoming docs whose content fingerprint is NOT already present.
    * One anti-join on the content hash — at production scale the "existing"
    * side is a bucketed fingerprint table, so the anti-join is co-located
    * and the batch never rescans the corpus text. */
  def ddIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val half = IncrementalSplit
    val existing = docs.filter(col("doc_id") < half).select(md5(col("text")).as("fp"))
    docs.filter(col("doc_id") >= half)
      .withColumn("fp", md5(col("text")))
      .join(existing, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }


  /** Incremental dedup against a BUCKETED fingerprint table — the at-scale
    * form of [[ddIncremental]], on the driver-checked path (same result,
    * same oracle). The corpus fingerprint table is materialized ONCE as a
    * bucketed+sorted saved table (the ingestion-state a production pipeline
    * keeps between batches — the same state-read-back lifecycle the
    * reference sink implements, `/root/reference/index.js:109-122`), so the
    * anti-join reads the corpus side already hash-partitioned on fp: the
    * ONLY exchange in the join is the small incoming batch shuffling into
    * the bucket layout. At 100 TB the corpus fingerprints are billions of
    * rows — never re-shuffling (or re-hashing) them per batch is the entire
    * point; bucket count scales with the cluster (8 here for sf-test data).
    * The MERGE hint pins the sort-merge strategy the bucketing serves
    * (without it the tiny test-SF corpus side would broadcast and the plan
    * shape under test would vanish). */
  def ddIncrementalBucketed(spark: SparkSession, dir: String): DataFrame = {
    val t = fingerprintTable(spark, dir)
    Tables.documents(spark, dir)
      .filter(col("doc_id") >= IncrementalSplit)
      .withColumn("fp", md5(col("text")))
      .join(spark.table(t).hint("merge"), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }


  /** Idempotently materialize the existing-corpus fingerprint table
    * (doc_id < 250, matching [[ddIncremental]]'s split) bucketed+sorted on
    * fp. The table NAME carries a tag of the source dir, so the dir needs
    * no side-channel marker and two dirs sharing one warehouse (or one
    * SharedState serving several sessions) never delete each other's
    * layout; a stale warehouse directory from a previous JVM (the
    * in-memory catalog forgets tables across restarts but the files
    * persist) is deleted before the rewrite. */
  private[analytics] def fingerprintTable(spark: SparkSession, dir: String): String =
    bucketedStateTable(spark, s"graft_fp_bucketed_${Tables.dirTag(dir)}", "fp", dir, 8) {
      Tables.documents(spark, dir)
        .filter(col("doc_id") < IncrementalSplit)
        .select(md5(col("text")).as("fp"))
    }


  /** The fields a JSONL document line is parsed to. */
  private[analytics] lazy val jsonlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))


  /** Admission predicate over the parsed struct: valid JSON with the two
    * required fields present. */
  private[analytics] def jsonlOkCol(j: Column): Column =
    j.isNotNull && j.getField("doc_id").isNotNull && j.getField("text").isNotNull


  /** Damage-reason classifier for rows failing [[jsonlOkCol]] — precedence:
    * `torn_json` when nothing recognizable parsed (from_json returned
    * null, or every schema field did — an all-null parse of e.g. `{}` is
    * operationally indistinguishable from torn), else `missing_doc_id`,
    * else `missing_text`. */
  private[analytics] def jsonlReasonCol(j: Column): Column =
    when(j.isNull ||
        (j.getField("doc_id").isNull && j.getField("text").isNull &&
          j.getField("lang").isNull && j.getField("source").isNull), "torn_json")
      .when(j.getField("doc_id").isNull, "missing_doc_id")
      .otherwise("missing_text")


  /** INGESTION-HEALTH census — the permissive JSONL parse's quarantine
    * accounting on the oracle-checked surface: a JSONL feed is
    * derived in-plan from the documents table with DETERMINISTIC planted
    * damage (doc_id % 10 = 3 → line truncated INSIDE the first field's
    * KEY, so the prefix `{"doc` contains no complete field and no parser
    * version — not even a partial-result parser in the SPARK-33134
    * lineage — can recover doc_id or text from it; % 10 = 5 → the
    * required doc_id field absent; % 10 = 7 → the required text field
    * absent), pushed through the permissive parser (`from_json` over
    * [[jsonlSchema]]) and the admission/reason classifiers
    * ([[jsonlOkCol]], [[jsonlReasonCol]]), then counted per reason. The oracle
    * recomputes the expected counts from the damage rule alone — so the
    * hash match asserts the parser + classifier recover exactly the
    * damage that was planted: torn lines parse to nothing, field-dropped
    * lines parse but fail admission with the right reason, clean lines
    * admit. (Implied conservation: the four counts sum to the corpus.)
    * Per-row work over one scan + a 4-row aggregate — an ingestion-health
    * dashboard query that stays free at any scale. */
  def ingestQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val full = "to_json(named_struct('doc_id', doc_id, 'text', text, 'lang', lang, 'source', source))"
    val noId = "to_json(named_struct('text', text, 'lang', lang, 'source', source))"
    val noText = "to_json(named_struct('doc_id', doc_id, 'lang', lang, 'source', source))"
    Tables.documents(spark, dir)
      .select(
        // tear point: 5 chars keeps `{"doc` — inside the first KEY, so the
        // torn classification cannot depend on how much of a VALUE a
        // future partial-result parser chooses to salvage
        when(col("doc_id") % 10 === 3, expr(s"substr($full, 1, 5)"))
          .when(col("doc_id") % 10 === 5, expr(noId))
          .when(col("doc_id") % 10 === 7, expr(noText))
          .otherwise(expr(full)).as("value"))
      .withColumn("j", from_json(col("value"), jsonlSchema))
      .select(
        when(jsonlOkCol(col("j")), lit("ok"))
          .otherwise(jsonlReasonCol(col("j"))).as("reason"))
      .groupBy(col("reason")).agg(count(lit(1)).as("n"))
      .orderBy(col("reason"))
  }


  /** Cross-modal enrichment join: text rows ⋈ their embedding vectors
    * (doc_id = vec_id), emitting text metadata plus the vector norm via the
    * codegen'd dot product. The standard shape for joining a text corpus to
    * a separately-produced embedding table before similarity work. */
  def mmJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
        dotF(col("embedding"), col("embedding")).as("nrm"))
      .orderBy(col("doc_id"))


  // ------------------------------------------------------------ multimodal


  /** The pair-curation keep threshold — LAION's CLIP-similarity cutoff
    * (Schuhmann et al. 2021 used 0.28 for ViT-B/32 scores); explicit
    * DOUBLE so neither engine parses a DECIMAL. Shared verbatim by the
    * Spark filter and the Duck mirror. */
  private[analytics] lazy val ClipThresholdSql = "CAST(0.28 AS DOUBLE)"


  /** Shared pair-scoring kernel of the CLIP gate: a (doc_id, source)
    * frame joins its own embedding, derives the pair's image id (docs
    * (2k, 2k+1) share image 2k), joins the image embedding and scores
    * the cross-modal cosine with the codegen'd dot kernel — the pair
    * derivation behind [[mmClipFilter]]. Both joins are id-equi; fanout
    * ≤ 2 per image, no skew. */
  private[analytics] def clipScored(txt: DataFrame, e: DataFrame): DataFrame = {
    val t = txt
      .join(e.select(col("vec_id"), col("embedding").as("temb")),
        col("doc_id") === col("vec_id"))
      .withColumn("img_id", col("doc_id") - (col("doc_id") % 2))
    val img = e.select(col("vec_id").as("img_id"), col("embedding").as("iemb"))
    t.join(img, Seq("img_id"))
      .withColumn("cos", dotF(col("temb"), col("iemb")) /
        sqrt(dotF(col("temb"), col("temb")) * dotF(col("iemb"), col("iemb"))))
  }


  /** Multimodal PAIR-CURATION gate — the LAION-style image-text filter,
    * the multimodal analogue of `txt_classifier`: each text doc joins its
    * pair's image embedding, the cross-modal cosine is scored with the
    * same codegen'd dot kernel the sim family uses, and pairs below the
    * CLIP threshold are cut; the readout is per-source keep fractions
    * (the curation table a captioning pipeline acts on). Pairing is the
    * deterministic plant: docs (2k, 2k+1) share image 2k, so every even
    * doc is a MATCHED pair (its own embedding, cos = 1) and every odd doc
    * a candidate MISMATCH scored against its neighbor's image — the
    * centered synthetic embeddings put odd-pair cosines around 0, so the
    * 0.28 gate genuinely separates (spec pins both populations).
    *
    * Scale shape: two equi-joins on id — text⋈embedding co-partitioned on
    * doc_id, then the image side keyed on the even partner (fanout ≤ 2
    * per image, no skew); the three dot products run in the join
    * projection via [[OpsKernels.dotF]] (whole-stage codegen), and the
    * census is one map-side-combinable O(sources) aggregation. Nothing
    * wide ever shuffles but (id, embedding) rows. */
  def mmClipFilter(spark: SparkSession, dir: String): DataFrame =
    clipScored(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Tables.embeddings(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("cos") >= expr(ClipThresholdSql), 1)).as("n_kept"))
      .withColumn("kept_frac", col("n_kept") / col("n_pairs"))
      .orderBy(col("source"))


  /** First-k centroids over the IMAGE (even) half — the image-side
    * serving index's quantizer, shared by the retrieval census and the
    * image dedup readout. */
  private[analytics] def imageCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
      .filter(col("vec_id") % 2 === 0 && col("vec_id") < ivfK(spark, dir) * 2L)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"), col("nrm").as("cnrm"))


  /** The image-side IVF assignment — every EVEN vector against the first-k
    * image centroids (ark = 1), memoized as index state like the sibling
    * assignment tables: the cross-modal retrieval census and the image
    * dedup readout both serve from THIS one index, which is exactly the
    * production shape (one image index powering retrieval AND dedup).
    * (cid, ce, cn, cell). */
  private[analytics] def imageCellAssign(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "mm_image_cells") {
      // prewarmed by stateBuilders, so the build does not land on the
      // first mm consumer (mm_cell_balance)
      val img = Tables.embeddings(spark, dir)
        .withColumn("nrm", dotF(col("embedding"), col("embedding")))
        .filter(col("vec_id") % 2 === 0)
      nearestCell(img, imageCentroids(spark, dir), "cent_id", "cemb", "cnrm")
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          col("nrm").as("cn"), col("cell"))
    }


  /** CROSS-MODAL RETRIEVAL census — the LAION-style retrieval eval
    * (text→image recall@k), the readout that prices serving a multimodal
    * corpus through an ANN index instead of exact search. The image
    * corpus is the pair convention's EVEN embeddings (docs (2k, 2k+1)
    * share image 2k — [[clipScored]]'s plant); queries are a capped
    * sample of TEXT embeddings across both parities (`vec_id % 25`, so
    * matched even pairs and mismatched odd pairs both appear). Two
    * retrieval paths are censused per query, the [[SimOps.simIvfRecall]]
    * shape applied cross-modally:
    *  - truth: exact top-5 over the image corpus (self INCLUDED — for an
    *    even query its own image is the matched pair, which is the point
    *    of the eval);
    *  - ivf: an IVF index over the IMAGE half (first-k even vectors as
    *    centroids — the deterministic first-k convention on the image
    *    id-space), probed at nprobe=2 (the widened-probe convention of
    *    the filtered family: the image side halves the corpus, so a
    *    1-cell probe under-retrieves).
    * Output per query: overlap hits/recall of ivf vs exact, plus the
    * matched-pair hit bit through EACH path — `hit_pair_exact` /
    * `hit_pair_ivf` — whose even/odd separation is the retrieval-eval
    * readout (MultimodalSpec pins even ⇒ both 1; for an even query the
    * self-pair is cell-coincident by construction, so IVF can never
    * miss it). Scale shape: truth is the one irreducible exact pass any
    * recall census pays (broadcast capped queries × linear image scan);
    * the IVF side is k centroid dots per query + a bounded cell scan;
    * censuses are map-side-combinable; output ≤ SimQueryCap rows. */
  def mmRetrievalRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    val img = e.filter(col("vec_id") % 2 === 0)
    val cell = imageCellAssign(spark, dir)
    val q = e.filter(col("vec_id") % 25 === 0)
      .orderBy(col("vec_id")).limit(SimQueryCap)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val wT = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val truth = img.crossJoin(broadcast(q))
      .withColumn("cos", dotF(col("qe"), col("embedding")) / sqrt(col("qn") * col("nrm")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("vec_id").as("cid"))
    val qCells = probeCells(q, imageCentroids(spark, dir), "qid", "qe", "qn")
      .filter(col("ark") <= 2)
      .select(col("qid"), col("qe"), col("qn"), col("cent_id").as("cell"))
    val ivf5 = qCells.join(cell, Seq("cell"))
      .withColumn("cos", dotF(col("qe"), col("ce")) / sqrt(col("qn") * col("cn")))
      .withColumn("rk", row_number().over(wT))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("cid"))
    val census = truth
      .join(ivf5.select(col("qid").as("iq"), col("cid").as("ic")),
        col("qid") === col("iq") && col("cid") === col("ic"), "left")
      .groupBy(col("qid"))
      .agg(count(col("ic")).as("hits_ivf"),
        max(when(col("cid") === col("qid") - col("qid") % 2, 1L).otherwise(0L))
          .as("hit_pair_exact"))
      .withColumn("recall_ivf", col("hits_ivf") / lit(5))
    val pairIvf = ivf5.filter(col("cid") === col("qid") - col("qid") % 2)
      .select(col("qid")).distinct().withColumn("hp", lit(1L))
    census.join(pairIvf, Seq("qid"), "left")
      .withColumn("hit_pair_ivf", coalesce(col("hp"), lit(0L)))
      .select(col("qid"), col("hits_ivf"), col("recall_ivf"),
        col("hit_pair_exact"), col("hit_pair_ivf"))
      .orderBy(col("qid"))
  }


  /** IMAGE-index occupancy census — [[graft.analytics.SimOps
    * .simIvfBalance]]'s readout applied to the image-side serving index:
    * one row per distinct cell occupancy with the number of cells at that
    * occupancy. This is the tripwire for [[mmImageDedup]]'s within-cell
    * self-join, whose cost is Σ occ² — the embedding family has
    * `sim_ivf_balance` as its drift watch, and until now the image index
    * (same uncapped-cell shape) had no equivalent: a quantizer drifting a
    * hot cell shows up HERE as a high-occ row before it shows up as a
    * quadratic dedup stage. Serves from the MEMOIZED [[imageCellAssign]]
    * (embedding column pruned at the scan), two map-side-combinable
    * aggregates, ≤ k rows out at any N; LlmOpsSpec pins Σ occ·n_cells =
    * the image (even-vector) count, so the histogram can never silently
    * drop index mass. */
  def mmCellBalance(spark: SparkSession, dir: String): DataFrame =
    imageCellAssign(spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("occ"))
      .groupBy(col("occ")).agg(count(lit(1)).as("n_cells"))
      .orderBy(col("occ"))


  /** IMAGE-side semantic dedup — the SemDeDup verdict census
    * ([[graft.analytics.SimOps.ddSemdedup]]'s recipe) applied to the
    * image half through the SAME image-side IVF index the retrieval
    * census serves from: per image, the max cosine to a LOWER-id
    * cell-mate and the keep verdict at the 0.9 threshold. This is the
    * image-dedup readout a multimodal pipeline runs before captioning —
    * near-identical images waste caption/training budget and skew
    * retrieval evals — and composing it onto the serving index (rather
    * than a separate clustering) is the production shape: one index,
    * three consumers (serve, retrieval eval, dedup). Cell-scoped pairs
    * bound the work at O(N^1.5) exactly as dd_semdedup; `max` over
    * doubles is order-independent, so the census is exact. On corpora
    * whose only planted embedding dups are (even, odd)-adjacent — the
    * driver testdata — the drop set is legitimately empty while the
    * max_cos_lower distribution stays a real readout; MultimodalSpec
    * plants an even-even duplicate to pin the drop path. */
  def mmImageDedup(spark: SparkSession, dir: String): DataFrame =
    mmImageDedupOver(imageCellAssign(spark, dir), ImageCellCap)


  /** Per-cell REFERENCE cap for [[mmImageDedup]]'s within-cell self-join
    * (the [[DedupOps.cappedWideBands]] treatment applied to the image
    * index): each image compares against at
    * most this many lowest-id cell-mates, so a pathologically hot cell
    * costs occ·cap, never occ². Far above any occupancy the test corpora
    * reach (max occ ≈ 2·√(N/2): 65 at sf0.1, ~200 at sf1z, ~sqrt-growth
    * beyond), so results are unchanged there — and the DuckDB mirror
    * applies the IDENTICAL cap, so the oracle hash-match holds even on a
    * corpus where it binds. [[mmImageCapped]] is the no-silent-caps
    * accounting row. */
  private[analytics] lazy val ImageCellCap = 4096


  /** [[mmImageDedup]] over a caller-supplied cell assignment and cap — the
    * seam MultimodalSpec uses to pin cap semantics on a planted hot cell
    * (the reference side is the cap lowest-id members of each cell; with
    * occupancy under the cap the verdicts are bit-identical to the
    * uncapped join). */
  private[graft] def mmImageDedupOver(cell: DataFrame, cap: Int): DataFrame = {
    val a = cell.select(col("cid").as("ia"), col("ce").as("ea"),
      col("cn").as("na"), col("cell"))
    val wCell = Window.partitionBy(col("cell")).orderBy(col("cid"))
    val b = cell
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") <= cap)
      .select(col("cid").as("ib"), col("ce").as("eb"),
        col("cn").as("nb"), col("cell").as("cellb"))
    val low = a.join(b, col("cell") === col("cellb") && col("ib") < col("ia"))
      .withColumn("cos", dotF(col("ea"), col("eb")) / sqrt(col("na") * col("nb")))
      .groupBy(col("ia")).agg(max(col("cos")).as("max_cos_lower"))
    cell.select(col("cid").as("vec_id"), col("cell"))
      .join(low.withColumnRenamed("ia", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("max_cos_lower"),
        (col("max_cos_lower").isNull || col("max_cos_lower") < 0.9).as("kept"))
      .orderBy(col("vec_id"))
  }


  /** Cap ACCOUNTING for [[mmImageDedup]] — one summary row measuring what
    * [[ImageCellCap]] cut this run (the [[DedupOps.ddIncrementalCapped]]
    * shape): images indexed, cells, cells over the cap, and reference
    * rows capped out of the dedup join (each a comparison a hot cell no
    * longer pays — and a potential missed duplicate the operator alarms
    * on). The oracle pins it to zero capped on the synthetic corpora,
    * which is itself the claim worth checking. */
  def mmImageCapped(spark: SparkSession, dir: String): DataFrame =
    imageCellAssign(spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("occ"))
      .agg(sum(col("occ")).as("n_images"),
        count(lit(1)).as("n_cells"),
        sum(when(col("occ") > ImageCellCap, lit(1L)).otherwise(lit(0L)))
          .as("n_cells_capped"),
        sum(greatest(col("occ") - ImageCellCap, lit(0L)))
          .as("n_refs_capped_out"))


  /** MEDIA storage dedup census — content-addressed exact dedup over the
    * media payloads (the blob-store readout: a CAS layer stores one copy
    * per distinct payload regardless of kind/source, so the reclaimable
    * mass is Σ (copies−1)·payload_bytes). Deliberately GLOBAL, not
    * per-kind: the corpus's planted exact duplicates are adjacent-id
    * pairs, which every id-mod partition (kind, parity) splits — a
    * per-kind census would be structurally vacuous, which is itself the
    * lesson: content-addressed dedup must run across partitions.
    * One map-side md5 per payload, one fingerprint-keyed aggregate, a
    * 1-row census — linear at any corpus size. */
  def mmMediaDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(col("text")).as("fp"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("copies"), first(col("n_bytes")).as("payload_bytes"))
      .agg(
        sum(col("copies")).as("n_items"),
        count(lit(1)).as("n_unique_payloads"),
        (sum(col("copies")) - count(lit(1))).as("n_dup_items"),
        sum(col("copies") * col("payload_bytes")).as("bytes_total"),
        sum((col("copies") - 1) * col("payload_bytes")).as("bytes_reclaimable"))


  /** Multimodal column plumbing: treat content as opaque binary + typed
    * metadata (byte length, sha256 digest) — the schema/partitioning layer
    * under decode UDFs. */
  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha_hex"),
        col("source"))
      .orderBy(col("doc_id"))
}
