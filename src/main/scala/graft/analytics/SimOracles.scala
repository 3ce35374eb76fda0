package graft.analytics

/** DuckDB oracle mirrors for the similarity/ANN (sim_ prefix) family.
  * Every vector-index step (nearest cell, cell probe, top-k, PQ encode,
  * ADC table, re-rank) is a shared fragment in [[LlmOracles]], reached
  * through the self-type; the entries here only wire them together. */
private[analytics] trait SimOracles {
  this: OpsKernels with TxtOps with DedupOps with SimOps with IngestOps with LlmOracles =>

  /** The base LSH mirrors: the exact top-5 of one probing radius. */
  private def annTop5Duck(qSrc: String): String =
    s"""WITH $paramsDuck,
       |$annEDuck,
       |${annRankedDuck("", qSrc)}
       |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin

  private[analytics] lazy val simOracleMap: Map[String, String] = Map(

    "sim_topk_cosine" ->
      s"""WITH $eNrmDuck,
         |$bruteTruthDuck
         |SELECT qid, rk, cid, cos FROM truth ORDER BY qid, rk""".stripMargin,


    "sim_ann_multiprobe" -> annTop5Duck(annQMultiDuck),


    "sim_ann_lsh" -> annTop5Duck(annQHomeDuck),


    "sim_ivf" ->
      s"""WITH $paramsDuck,
         |$ivfCellChainDuck,
         |${top5Duck("ranked", cellPairsDuck("cell", "cell"), "cos_exact")}
         |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // SERVE path: corpus (vec_id % 4 <> 3) builds the index — centroids
    // are its k lowest-id members — and held-out (% 200 = 3) vectors are
    // quantized at query time and ranked within their cell
    "sim_ivf_serve" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("corpus", "e", "cents", "vec_id % 4 <> 3")},
         |${nearestCellDuck("q", "e", "cents", "vec_id % 200 = 3",
              "vec_id AS qid, embedding AS qe, nrm AS qn, cent_id AS cell")},
         |pairs AS (
         |  SELECT q.qid, c.vec_id AS cid,
         |    ${cosDuck("q.qe", "q.qn", "c.embedding", "c.nrm")} AS cos_exact
         |  FROM q JOIN corpus c ON q.cell = c.cell),
         |${top5Duck("ranked", "pairs", "cos_exact")}
         |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // SERVE path against the COMPRESSED index: corpus-only centroids AND
    // corpus-only PQ codebook (dense code = rank in vec_id order); held-out
    // queries probe ServeNprobe cells, ADC-score the cells' codes, and the
    // top-PqRerankDepth shortlist is re-ranked with exact cosines
    "sim_ivf_serve_pq" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("corpus", "e", "cents", "vec_id % 4 <> 3")},
         |${nearestCellDuck("q2", "e", "cents", "vec_id % 200 = 3",
              "vec_id AS qid, nrm AS qn, cent_id AS cell", ServeNprobe)},
         |$serveCodebookDuck,
         |${pqEncodeDuck("", "scb", "vec_id % 4 <> 3")},
         |${adcTableDuck("", "scb", "vec_id % 200 = 3")},
         |pairs AS (
         |  SELECT q.qid, c.vec_id AS cid, ${adcCosDuck(PqCodes, "q.qn")} AS cos_adc
         |  FROM q2 q JOIN corpus c ON q.cell = c.cell
         |  JOIN qtab t ON t.qid = q.qid
         |  JOIN codes k2 ON k2.vec_id = c.vec_id),
         |${pqRerankDuck()}
         |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // filtered search against the compressed index: label predicate joins
    // the ADC cell scan (code rows carry their label); FilteredNprobe
    // probes; top-PqRerankDepth shortlist re-ranked exactly
    "sim_ivf_filtered_pq" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("corpus", "e", "cents", "vec_id % 4 <> 3",
              "vec_id, embedding, nrm, label, cent_id AS cell")},
         |${nearestCellDuck("q2", "e", "cents", "vec_id % 200 = 3",
              "vec_id AS qid, nrm AS qn, label AS qlabel, cent_id AS cell", FilteredNprobe)},
         |$serveCodebookDuck,
         |${pqEncodeDuck("", "scb", "vec_id % 4 <> 3")},
         |${adcTableDuck("", "scb", "vec_id % 200 = 3")},
         |pairs AS (
         |  SELECT q.qid, c.vec_id AS cid, q.qlabel, ${adcCosDuck(PqCodes, "q.qn")} AS cos_adc
         |  FROM q2 q JOIN corpus c ON q.cell = c.cell AND q.qlabel = c.label
         |  JOIN qtab t ON t.qid = q.qid
         |  JOIN codes k2 ON k2.vec_id = c.vec_id),
         |${pqRerankDuck(Seq("qlabel"))}
         |SELECT qid, rk, cid, qlabel AS label, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // serve-index INSERT path: held-out vectors quantized against the
    // frozen corpus centroids + encoded against the frozen corpus PQ
    // codebook — the row appended to the code index
    "sim_ivf_serve_insert" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("assigned", "e", "cents", "vec_id % 4 = 3", "vec_id, nrm, cent_id AS cell")},
         |$serveCodebookDuck,
         |${pqEncodeDuck("", "scb", "vec_id % 4 = 3")}
         |SELECT a.vec_id, a.cell, a.nrm,
         |  ${(0 until PqM).map(s => s"CAST(k2.codes[${s + 1}] AS BIGINT) AS c$s").mkString(", ")}
         |FROM assigned a JOIN codes k2 ON k2.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,


    // serve-index DELETE: per-cell tombstone census over the frozen
    // corpus assignment (tombstones = vec_id % 5 = 0) + compact-at-0.8
    "sim_ivf_serve_delete" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("corpus", "e", "cents", "vec_id % 4 <> 3", "vec_id, cent_id AS cell")}
         |SELECT cell, count(*) AS n_before,
         |  count(*) FILTER (vec_id % 5 = 0) AS n_deleted,
         |  count(*) FILTER (vec_id % 5 <> 0) AS n_live,
         |  count(*) FILTER (vec_id % 5 <> 0) / count(*) AS live_frac,
         |  count(*) FILTER (vec_id % 5 <> 0) / count(*) < 0.8 AS compact
         |FROM corpus GROUP BY cell ORDER BY cell""".stripMargin,


    // compaction execution: census per cell (same live_frac arithmetic as
    // the decision query), compact cells drop tombstones, others keep them
    "sim_ivf_compact" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("corpus", "e", "cents", "vec_id % 4 <> 3",
              "vec_id, cent_id AS cell, (vec_id % 5 = 0) AS tomb0")},
         |census AS (
         |  SELECT cell,
         |    (count(*) - count(*) FILTER (tomb0)) / count(*) < 0.8 AS compacted
         |  FROM corpus GROUP BY cell)
         |SELECT t.vec_id, t.cell,
         |  (t.tomb0 AND NOT c.compacted) AS tomb, c.compacted
         |FROM corpus t JOIN census c USING (cell)
         |WHERE NOT (c.compacted AND t.tomb0)
         |ORDER BY t.cell, t.vec_id""".stripMargin,


    // re-train decision: post-insert occupancy census (corpus + held-out
    // arrivals assigned to the frozen centroids) + the two drift signals
    "sim_ivf_retrain" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("assign", "e", "cents",
              cols = "vec_id, cent_id AS cell, CAST(vec_id % 4 = 3 AS BIGINT) AS ins")},
         |census AS (
         |  SELECT cell, count(*) AS n_total,
         |    CAST(sum(ins) AS BIGINT) AS n_inserted,
         |    count(*) - CAST(sum(ins) AS BIGINT) AS n_corpus
         |  FROM assign GROUP BY cell),
         |g AS (
         |  SELECT CAST(sum(n_total) AS BIGINT) AS g_total,
         |    CAST(sum(n_inserted) AS BIGINT) AS g_ins,
         |    count(*) AS g_cells, max(n_total) AS g_max
         |  FROM census)
         |SELECT cell, n_corpus, n_inserted, n_total,
         |  g_ins / g_total AS frac_inserted,
         |  (g_max * g_cells) / g_total AS skew,
         |  (g_ins / g_total >= 0.2 OR (g_max * g_cells) / g_total >= 2.0) AS retrain
         |FROM census CROSS JOIN g ORDER BY cell""".stripMargin,


    // re-train executed: one integer Lloyd round over corpus ∪ arrivals
    // (quantized component sums — the kmeans mirror's exact update), then
    // every member re-assigned; before/after occupancy + skew both ways
    "sim_ivf_retrain_exec" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("members", "e", "cents")},
         |sums AS (
         |  SELECT cell, $kmSumsVecDuck
         |  FROM members GROUP BY cell),
         |cn AS (SELECT cell AS cent_id, svec AS cemb, ${dot("svec", "svec", 1)} AS cnrm FROM sums),
         |${nearestCellDuck("after0", "members", "cn", cols = "vec_id, cent_id AS ncell")},
         |bc AS (SELECT cell, count(*) AS n_before FROM members GROUP BY cell),
         |ac AS (SELECT ncell AS cell, count(*) AS n_after FROM after0 GROUP BY ncell),
         |j AS (
         |  SELECT coalesce(bc.cell, ac.cell) AS cell,
         |    coalesce(n_before, 0) AS n_before, coalesce(n_after, 0) AS n_after
         |  FROM bc FULL JOIN ac ON bc.cell = ac.cell),
         |g AS (
         |  SELECT max(n_before) AS mb, max(n_after) AS ma, count(*) AS nc,
         |    CAST(sum(n_before) AS BIGINT) AS tb, CAST(sum(n_after) AS BIGINT) AS ta
         |  FROM j)
         |SELECT cell, n_before, n_after,
         |  (mb * nc) / tb AS skew_before,
         |  (ma * nc) / ta AS skew_after,
         |  (ma * nc) / ta <= (mb * nc) / tb AS rebalanced
         |FROM j CROSS JOIN g ORDER BY cell""".stripMargin,


    // filtered search: the label predicate joins INTO the cell scan;
    // queries probe FilteredNprobe cells against the label-carrying index
    "sim_ivf_filtered" ->
      s"""WITH $paramsDuck,
         |$serveECentsDuck,
         |${nearestCellDuck("corpus", "e", "cents", "vec_id % 4 <> 3",
              "vec_id, embedding, nrm, label, cent_id AS cell")},
         |${nearestCellDuck("q", "e", "cents", "vec_id % 200 = 3",
              "vec_id AS qid, embedding AS qe, nrm AS qn, label AS qlabel, cent_id AS cell", FilteredNprobe)},
         |pairs AS (
         |  SELECT q.qid, c.vec_id AS cid, q.qlabel,
         |    ${cosDuck("q.qe", "q.qn", "c.embedding", "c.nrm")} AS cos_exact
         |  FROM q JOIN corpus c ON q.cell = c.cell AND q.qlabel = c.label),
         |${top5Duck("ranked", "pairs", "cos_exact", Seq("qlabel"))}
         |SELECT qid, rk, cid, qlabel AS label, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // same quantizer CTEs; queries probe their rank-1 AND rank-2 cells
    "sim_ivf_nprobe2" ->
      s"""WITH $paramsDuck,
         |$ivfCellChainDuck,
         |${top5Duck("ranked", cellPairsDuck("ass", "cell"), "cos_exact")}
         |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // recall census: brute-force truth on the capped sample vs the IVF
    // top-5 at nprobe=1 (cell) and nprobe=2 (ass); per-qid overlap
    // counts and the int/int recall division
    "sim_ivf_recall" ->
      s"""WITH $paramsDuck,
         |$ivfCellChainDuck,
         |$bruteTruthDuck,
         |${top5Duck("np1", cellPairsDuck("cell", "cell"), "cos_exact")},
         |${top5Duck("np2", cellPairsDuck("ass", "cell"), "cos_exact")}
         |SELECT t.qid,
         |  count(n1.cid) AS hits_np1, count(n1.cid) / 5 AS recall_np1,
         |  count(n2.cid) AS hits_np2, count(n2.cid) / 5 AS recall_np2
         |FROM truth t
         |LEFT JOIN np1 n1 ON t.qid = n1.qid AND t.cid = n1.cid
         |LEFT JOIN np2 n2 ON t.qid = n2.qid AND t.cid = n2.cid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,


    // TWO-LEVEL IVF: nested deterministic quantizers — level-1 first-kc
    // centroids, level-2 the kc lowest-id members of each cell; queries
    // scan only their leaf. kc = largest c with c^3 <= N (integer search
    // in params, matching the Scala side exactly)
    "sim_ivf2" ->
      s"""WITH $paramsDuck,
         |$eNrmDuck,
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm
         |  FROM e WHERE vec_id < (SELECT kc FROM params)),
         |${nearestCellDuck("l1", "e", "cents")},
         |subc AS (
         |  SELECT cell AS scell, vec_id AS cent_id, embedding AS cemb, nrm AS cnrm FROM (
         |    SELECT vec_id, embedding, nrm, cell,
         |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS srk
         |    FROM l1)
         |  WHERE srk <= (SELECT kc FROM params)),
         |${nearestCellDuck("l2", "l1", "subc", cols = "vec_id, embedding, nrm, cell, cent_id AS subcell",
              by = Some(("cell", "scell")))},
         |pairs AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid,
         |    ${cosDuck("q.embedding", "q.nrm", "c.embedding", "c.nrm")} AS cos_exact
         |  FROM l2 q JOIN l2 c
         |    ON q.cell = c.cell AND q.subcell = c.subcell
         |    AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
         |${top5Duck("ranked", "pairs", "cos_exact")}
         |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // k-means-refined IVF: KmRounds sampled Lloyd rounds with INTEGER
    // quantized-component sums (exact in both engines under any execution
    // order); the un-normalized sum vector is the centroid — cosine needs
    // only the direction, so Lloyd's divide-by-count cancels. The static
    // SQL unrolls ALL rounds; the Spark builder's early stop at the
    // assignment fixed point is result-identical (see KmRounds' Scaladoc).
    // All post-sum arithmetic is the same left-associated double chains
    // Spark folds.
    "sim_ivf_kmeans" ->
      s"""WITH $paramsDuck,
         |$eNrmDuck,
         |$kmCellChainDuck,
         |${top5Duck("ranked", cellPairsDuck("cell1", "cell1"), "cos_exact")}
         |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // quantizer-balance census: per-cell occupancy histograms of the
    // first-k and k-means-refined assignments, reading the two hoisted
    // quantizer chains over ONE shared e base
    "sim_ivf_balance" ->
      s"""WITH $paramsDuck,
         |$ivfCellChainDuck,
         |$kmCellChainDuck,
         |occ_f AS (SELECT cell, count(*) AS occ FROM cell GROUP BY cell),
         |occ_k AS (SELECT cell, count(*) AS occ FROM cell1 GROUP BY cell)
         |SELECT quantizer, occ, n_cells FROM (
         |  SELECT 'first_k' AS quantizer, occ, count(*) AS n_cells
         |  FROM occ_f GROUP BY occ
         |  UNION ALL
         |  SELECT 'kmeans' AS quantizer, occ, count(*) AS n_cells
         |  FROM occ_k GROUP BY occ)
         |ORDER BY quantizer, occ""".stripMargin,


    // IVF-PQ/ADC: shared CTE body in ivfPqPairsDuck (see its Scaladoc)
    "sim_ivf_pq" ->
      s"""WITH $paramsDuck,
         |$ivfPqPairsDuck,
         |${top5Duck("ranked", "pairs", "cos_adc")}
         |SELECT qid, rk, cid, cos_adc FROM ranked ORDER BY qid, rk""".stripMargin,


    // production 8-bit code width: same CTE body at a 256-entry codebook
    "sim_ivf_pq256" ->
      s"""WITH $paramsDuck,
         |${ivfPqPairsDuckN(PqCodesProd)},
         |${top5Duck("ranked", "pairs", "cos_adc")}
         |SELECT qid, rk, cid, cos_adc FROM ranked ORDER BY qid, rk""".stripMargin,


    // code-width recall census: brute-force truth on the capped sample vs
    // the ADC top-5 at the 16-code yardstick and the production 8-bit
    // width — two pqChainDuck instantiations over ONE shared cell chain
    "sim_pq_recall" ->
      s"""WITH $paramsDuck,
         |$ivfCellChainDuck,
         |${pqChainDuck(PqCodes, "_16")},
         |${pqChainDuck(PqCodesProd, "_256")},
         |$bruteTruthDuck,
         |${top5Duck("top_16", "pairs_16", "cos_adc")},
         |${top5Duck("top_256", "pairs_256", "cos_adc")}
         |SELECT t.qid,
         |  count(p16.cid) AS hits_pq16, count(p16.cid) / 5 AS recall_pq16,
         |  count(p256.cid) AS hits_pq256, count(p256.cid) / 5 AS recall_pq256
         |FROM truth t
         |LEFT JOIN top_16 p16 ON t.qid = p16.qid AND t.cid = p16.cid
         |LEFT JOIN top_256 p256 ON t.qid = p256.qid AND t.cid = p256.cid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,


    // IVF-PQ + exact re-rank: ADC shortlist (top PqRerankDepth per query,
    // (cos_adc, cid) order), then full-precision cosine on just those
    // pairs decides the emitted top-5 — mirrors simIvfPqRerank exactly
    "sim_ivf_pq_rerank" ->
      s"""WITH $paramsDuck,
         |$ivfPqPairsDuck,
         |${pqRerankDuck()}
         |SELECT qid, rk, cid, cos_exact AS cos FROM ranked ORDER BY qid, rk""".stripMargin,


    // radius-2 multiprobe: the full MaxPlanes mask list sliced to the
    // 1 + pl + pl(pl-1)/2 masks valid for the data-sized plane count
    // (the list is ordered by highest set bit, so that slice is exact)
    "sim_ann_probe2" -> annTop5Duck(annQProbe2Duck),


    // LSH recall census: brute-force truth vs the three probing radii
    "sim_ann_recall" ->
      s"""WITH $paramsDuck,
         |$annEDuck,
         |$bruteTruthDuck,
         |${annRankedDuck("r0", annQHomeDuck)},
         |${annRankedDuck("r1", annQMultiDuck)},
         |${annRankedDuck("r2", annQProbe2Duck)}
         |SELECT t.qid,
         |  count(a0.cid) AS hits_r0, count(a0.cid) / 5 AS recall_r0,
         |  count(a1.cid) AS hits_r1, count(a1.cid) / 5 AS recall_r1,
         |  count(a2.cid) AS hits_r2, count(a2.cid) / 5 AS recall_r2
         |FROM truth t
         |LEFT JOIN rankedr0 a0 ON t.qid = a0.qid AND t.cid = a0.cid
         |LEFT JOIN rankedr1 a1 ON t.qid = a1.qid AND t.cid = a1.cid
         |LEFT JOIN rankedr2 a2 ON t.qid = a2.qid AND t.cid = a2.cid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin)
}
