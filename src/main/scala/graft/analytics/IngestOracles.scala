package graft.analytics

/** DuckDB oracle mirrors for the ingestion + multimodal (ingest_ and mm_
  * prefixes) family. The image index is built and probed with the shared
  * vector-index fragments of [[LlmOracles]], reached through the
  * self-type. */
private[analytics] trait IngestOracles {
  this: OpsKernels with TxtOps with DedupOps with SimOps with IngestOps with LlmOracles =>

  private[analytics] lazy val ingestOracleMap: Map[String, String] = Map(

    "mm_join" ->
      s"""SELECT d.doc_id, d.lang, d.n_chars, e.label,
         |  ${dot("e.embedding", "e.embedding", 1)} AS nrm
         |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |ORDER BY d.doc_id""".stripMargin,


    // pair curation: the (2k, 2k+1)-share-image-2k plant, cross-modal
    // cosine through the explicit left-associated dot chain (bit-equal
    // to the Spark side's dot_f), LAION 0.28 gate
    "mm_clip_filter" ->
      s"""WITH t AS (
         |  SELECT d.doc_id, d.source, e.embedding AS temb,
         |    d.doc_id - (d.doc_id % 2) AS img_id
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |p AS (
         |  SELECT t.source,
         |    (${dot("t.temb", "i.embedding", 1)}) /
         |      sqrt((${dot("t.temb", "t.temb", 1)}) * (${dot("i.embedding", "i.embedding", 1)})) AS cos
         |  FROM t JOIN embeddings i ON t.img_id = i.vec_id)
         |SELECT source, count(*) AS n_pairs,
         |  count(*) FILTER (WHERE cos >= $ClipThresholdSql) AS n_kept,
         |  count(*) FILTER (WHERE cos >= $ClipThresholdSql) / count(*) AS kept_frac
         |FROM p GROUP BY source ORDER BY source""".stripMargin,


    // cross-modal retrieval census: exact text→image top-5 over the even
    // (image) half vs the first-k image-side IVF at nprobe=2, per capped
    // query — plus the matched-pair hit bit through each path (the
    // (2k, 2k+1) plant as ground truth). Same window idioms, same
    // left-associated dot chain as every sim mirror.
    "mm_retrieval_recall" ->
      s"""WITH $paramsDuck,
         |$mmImgCellDuck,
         |q AS (
         |  SELECT vec_id, embedding, nrm FROM e
         |  WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT $SimQueryCap),
         |${top5Duck("truth", s"""(
              |    SELECT q.vec_id AS qid, i.vec_id AS cid,
              |      ${cosDuck("q.embedding", "q.nrm", "i.embedding", "i.nrm")} AS cos
              |    FROM q CROSS JOIN img i)""".stripMargin, "cos")},
         |${nearestCellDuck("qc", "q", "cents", cols = "vec_id AS qid, embedding AS qe, nrm AS qn, cent_id AS cell",
              depth = 2)},
         |${top5Duck("ivf5", s"""(
              |    SELECT qc.qid, cl.cid, ${cosDuck("qc.qe", "qc.qn", "cl.ce", "cl.cn")} AS cos
              |    FROM qc JOIN cell cl ON qc.cell = cl.cell)""".stripMargin, "cos")},
         |cen AS (
         |  SELECT t.qid, count(i.cid) AS hits_ivf,
         |    max(CASE WHEN t.cid = t.qid - t.qid % 2 THEN 1 ELSE 0 END) AS hit_pair_exact
         |  FROM truth t LEFT JOIN ivf5 i ON t.qid = i.qid AND t.cid = i.cid
         |  GROUP BY t.qid),
         |pi AS (SELECT DISTINCT qid FROM ivf5 WHERE cid = qid - qid % 2)
         |SELECT c.qid, CAST(c.hits_ivf AS BIGINT) AS hits_ivf,
         |  c.hits_ivf / 5 AS recall_ivf,
         |  CAST(c.hit_pair_exact AS BIGINT) AS hit_pair_exact,
         |  CAST(CASE WHEN pi.qid IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit_pair_ivf
         |FROM cen c LEFT JOIN pi ON c.qid = pi.qid
         |ORDER BY c.qid""".stripMargin,


    // image-side SemDeDup verdicts through the SAME image-cell chain the
    // retrieval census serves from — max cosine to a lower-id cell-mate,
    // keep at 0.9 (the dd_semdedup convention; max over doubles is
    // order-independent, so both engines agree exactly). The reference
    // side carries the same per-cell cap as the Spark plan
    // (IngestOps.ImageCellCap), so the mirrors agree even on a corpus
    // where the cap binds.
    "mm_image_dedup" ->
      s"""WITH $paramsDuck,
         |$mmImgCellDuck,
         |capped AS (
         |  SELECT cid, ce, cn, cell FROM (
         |    SELECT cid, ce, cn, cell,
         |      row_number() OVER (PARTITION BY cell ORDER BY cid) AS rn FROM cell)
         |  WHERE rn <= $ImageCellCap),
         |low AS (
         |  SELECT a.cid AS ia,
         |    max(${cosDuck("a.ce", "a.cn", "b.ce", "b.cn")}) AS max_cos_lower
         |  FROM cell a JOIN capped b ON a.cell = b.cell AND b.cid < a.cid
         |  GROUP BY a.cid)
         |SELECT c.cid AS vec_id, c.cell, l.max_cos_lower,
         |  (l.max_cos_lower IS NULL OR l.max_cos_lower < 0.9) AS kept
         |FROM cell c LEFT JOIN low l ON c.cid = l.ia
         |ORDER BY vec_id""".stripMargin,


    // cap accounting for mm_image_dedup's reference side — the
    // dd_incremental_capped shape over the image-cell occupancy census
    "mm_image_capped" ->
      s"""WITH $paramsDuck,
         |$mmImgCellDuck,
         |occ AS (SELECT cell, count(*) AS occ FROM cell GROUP BY cell)
         |SELECT CAST(sum(occ) AS BIGINT) AS n_images, count(*) AS n_cells,
         |  CAST(sum(CASE WHEN occ > $ImageCellCap THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_capped,
         |  CAST(sum(greatest(occ - $ImageCellCap, 0)) AS BIGINT) AS n_refs_capped_out
         |FROM occ""".stripMargin,


    // image-index occupancy histogram over the same image-cell chain —
    // the drift tripwire for mm_image_dedup's within-cell join
    "mm_cell_balance" ->
      s"""WITH $paramsDuck,
         |$mmImgCellDuck,
         |occ AS (SELECT cell, count(*) AS occ FROM cell GROUP BY cell)
         |SELECT occ, count(*) AS n_cells FROM occ GROUP BY occ
         |ORDER BY occ""".stripMargin,


    // content-addressed storage census: one md5 per payload, global (the
    // adjacent-id duplicate plants make any id-mod partition vacuous —
    // which is the point: CAS dedup crosses partitions)
    "mm_media_dedup" ->
      """WITH g AS (
        |  SELECT md5(text) AS fp, count(*) AS copies,
        |    min(CAST(strlen(text) AS BIGINT)) AS payload_bytes
        |  FROM documents GROUP BY md5(text))
        |SELECT CAST(sum(copies) AS BIGINT) AS n_items,
        |  count(*) AS n_unique_payloads,
        |  CAST(sum(copies) - count(*) AS BIGINT) AS n_dup_items,
        |  CAST(sum(copies * payload_bytes) AS BIGINT) AS bytes_total,
        |  CAST(sum((copies - 1) * payload_bytes) AS BIGINT) AS bytes_reclaimable
        |FROM g""".stripMargin,


    "mm_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
        |f AS (
        |  SELECT doc_id, n_bytes,
        |    unnest(range(0, least(n_bytes // 256, 7) + 1)) AS frame_idx
        |  FROM d)
        |SELECT doc_id, frame_idx, frame_idx * 256 AS frame_off,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_digest
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,


    // ingestion-health census: the oracle recomputes the per-reason counts
    // from the deterministic damage rule alone — the Spark side must
    // recover exactly that split through the real permissive parser
    "ingest_quarantine" ->
      """SELECT CASE WHEN doc_id % 10 = 3 THEN 'torn_json'
        |            WHEN doc_id % 10 = 5 THEN 'missing_doc_id'
        |            WHEN doc_id % 10 = 7 THEN 'missing_text'
        |            ELSE 'ok' END AS reason, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY reason""".stripMargin,


    "mm_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha_hex, source
        |FROM documents ORDER BY doc_id""".stripMargin)


  /** The image-side IVF chain (e → img → cents → cell), DuckDB text —
    * ONE definition for the mm oracles that serve from the image index
    * ([[IngestOps.imageCellAssign]]'s mirror: even half, first-k even
    * centroids, nearest cell). Requires `params` in scope. */
  private[analytics] lazy val mmImgCellDuck: String =
    s"""$eNrmDuck,
       |img AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm
       |  FROM img WHERE vec_id < 2 * (SELECT k FROM params)),
       |${nearestCellDuck("cell", "img", "cents", cols = "vec_id AS cid, embedding AS ce, nrm AS cn, cent_id AS cell")}""".stripMargin
}
