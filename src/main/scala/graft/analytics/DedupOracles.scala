package graft.analytics

/** DuckDB oracle mirrors for the deduplication (dd_ prefix)
  * family — the per-query entries moved VERBATIM out of the LlmOracles
  * monolith (round 16, same family seams as the round-15 ops split);
  * every shared fragment stays in [[LlmOracles]], reached through the
  * self-type. */
private[analytics] trait DedupOracles {
  this: OpsKernels with TxtOps with DedupOps with SimOps with IngestOps with LlmOracles =>

  private[analytics] lazy val ddOracleMap: Map[String, String] = Map(

    "dd_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin,


    // the url derivation + normalization fragments are shared VERBATIM
    // with the Spark side (urlPidSql/urlRawSql/urlNormSql)
    "dd_url" ->
      s"""WITH $urlNormDuck
         |SELECT url_norm, min(doc_id) AS keep_id,
         |  count(*) AS n_docs, CAST(count(*) - 1 AS BIGINT) AS n_dropped
         |FROM n GROUP BY url_norm ORDER BY url_norm""".stripMargin,


    "dd_url_hosts" ->
      s"""WITH $urlNormDuck
         |SELECT $hostOfSql AS host,
         |  count(*) AS n_docs, count(DISTINCT url_norm) AS n_pages,
         |  CAST(count(*) - count(DISTINCT url_norm) AS BIGINT) AS n_dup_docs
         |FROM n GROUP BY 1 ORDER BY host""".stripMargin,


    // batch admission vs the frontier: mod-4 held-out split so planted
    // page-pairs cross it (url_norm is never NULL, so NOT IN is exact).
    // The bucketed-state variant admits the same set by contract — one
    // oracle text for both (the dd_incremental/_bucketed convention).
    "dd_url_incremental" -> urlIncrementalDuck,

    "dd_url_incremental_bucketed" -> urlIncrementalDuck,


    // per-host cap: the window formulation IS the oracle here — DuckDB
    // runs single-node where the skewed sort is harmless; the Spark side
    // under test replaces it with the bounded map-side topk_min aggregate
    "dd_host_cap" ->
      s"""WITH $urlNormDuck,
         |h AS (SELECT doc_id, $hostOfSql AS host FROM n),
         |r AS (SELECT host, doc_id,
         |    row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rk,
         |    count(*) OVER (PARTITION BY host) AS n_docs
         |  FROM h)
         |SELECT host, n_docs, least(n_docs, $HostCap) AS n_kept,
         |  greatest(n_docs - $HostCap, 0) AS n_dropped, doc_id AS kept_id
         |FROM r WHERE rk <= $HostCap ORDER BY host, kept_id""".stripMargin,


    // staged admission funnel: flags mirror the family conventions
    // (host-list opt-out, min-id URL keep, row_number host cap over
    // URL-kept pages, min-id exact keep, Jaccard-0.8 near drops), folded
    // once, 6 UNION'd rows
    "dd_crawl_funnel" ->
      s"""WITH $baseDuck, $urlNormDuck,
         |$crawlFlagsDuck,
         |c AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n0,
         |    CAST(count(*) FILTER (WHERE p1) AS BIGINT) AS n1,
         |    CAST(count(*) FILTER (WHERE p2) AS BIGINT) AS n2,
         |    CAST(count(*) FILTER (WHERE p3) AS BIGINT) AS n3,
         |    CAST(count(*) FILTER (WHERE p4) AS BIGINT) AS n4,
         |    CAST(count(*) FILTER (WHERE p5) AS BIGINT) AS n5
         |  FROM flags)
         |SELECT CAST(0 AS BIGINT) AS stage_id, 'fetched' AS stage,
         |  n0 AS n_in, n0 AS n_kept, n0 - n0 AS n_dropped, n0 / n0 AS kept_frac FROM c
         |UNION ALL SELECT 1, 'optout',      n0, n1, n0 - n1, n1 / n0 FROM c
         |UNION ALL SELECT 2, 'url_dedup',   n1, n2, n1 - n2, n2 / n0 FROM c
         |UNION ALL SELECT 3, 'host_cap',    n2, n3, n2 - n3, n3 / n0 FROM c
         |UNION ALL SELECT 4, 'exact_dedup', n3, n4, n3 - n4, n4 / n0 FROM c
         |UNION ALL SELECT 5, 'near_dedup',  n4, n5, n4 - n5, n5 / n0 FROM c
         |ORDER BY stage_id""".stripMargin,


    // the same flags sliced by source instead of folded to one row
    "dd_funnel_by_source" ->
      s"""WITH $baseDuck, $urlNormDuck,
         |$crawlFlagsDuck
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_fetched,
         |  CAST(count(*) FILTER (WHERE p1) AS BIGINT) AS n_policy_kept,
         |  CAST(count(*) FILTER (WHERE p2) AS BIGINT) AS n_url_kept,
         |  CAST(count(*) FILTER (WHERE p3) AS BIGINT) AS n_host_kept,
         |  CAST(count(*) FILTER (WHERE p4) AS BIGINT) AS n_exact_kept,
         |  CAST(count(*) FILTER (WHERE p5) AS BIGINT) AS n_clean,
         |  count(*) FILTER (WHERE p5) / count(*) AS clean_frac
         |FROM flags GROUP BY source ORDER BY source""".stripMargin,


    // governance: the opt-out policy census — per normalized host, the
    // verdict from the shared host list and the doc/byte mass behind it
    "dd_optout" ->
      s"""WITH $baseDuck, $urlNormDuck,
         |h AS (
         |  SELECT n.doc_id, $hostOfSql AS host,
         |    CAST(strlen(d.text) AS BIGINT) AS n_bytes
         |  FROM n JOIN documents d ON n.doc_id = d.doc_id)
         |SELECT host, host IN $optoutHostsSql AS opted_out,
         |  count(*) AS n_docs, CAST(sum(n_bytes) AS BIGINT) AS n_bytes
         |FROM h GROUP BY host, opted_out ORDER BY host""".stripMargin,


    // takedown propagation: each state censused independently — the
    // doc-keyed states from one documents pass, the frontier per-URL
    // bool_and, the band state over the capped-band CTE the incremental
    // probe's mirror uses
    "dd_takedown" ->
      s"""WITH $baseDuck, $urlNormDuck, ${wideSigStackDuck()},
         |$probeCappedBandsDuck,
         |s_doc AS (
         |  SELECT
         |    CAST(count(*) AS BIGINT) AS c_b,
         |    CAST(count(*) FILTER (WHERE $takedownSql) AS BIGINT) AS c_r,
         |    CAST(count(*) FILTER (WHERE NOT ($takedownSql)) AS BIGINT) AS c_a,
         |    CAST(count(*) FILTER (WHERE doc_id < $IncrementalSplit) AS BIGINT) AS f_b,
         |    CAST(count(*) FILTER (WHERE doc_id < $IncrementalSplit AND ($takedownSql)) AS BIGINT) AS f_r,
         |    CAST(count(*) FILTER (WHERE doc_id < $IncrementalSplit AND NOT ($takedownSql)) AS BIGINT) AS f_a,
         |    CAST(sum(len(toks)) AS BIGINT) AS m_b,
         |    CAST(sum(CASE WHEN $takedownSql THEN len(toks) ELSE 0 END) AS BIGINT) AS m_r,
         |    CAST(sum(CASE WHEN NOT ($takedownSql) THEN len(toks) ELSE 0 END) AS BIGINT) AS m_a
         |  FROM base),
         |s_band AS (
         |  SELECT CAST(count(*) AS BIGINT) AS b,
         |    CAST(count(*) FILTER (WHERE $takedownSql) AS BIGINT) AS r,
         |    CAST(count(*) FILTER (WHERE NOT ($takedownSql)) AS BIGINT) AS a
         |  FROM cb),
         |s_fr0 AS (SELECT url_norm, bool_and($takedownSql) AS gone
         |  FROM n WHERE $urlFrontierPredSql GROUP BY url_norm),
         |s_fr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS b,
         |    CAST(count(*) FILTER (WHERE gone) AS BIGINT) AS r,
         |    CAST(count(*) FILTER (WHERE NOT gone) AS BIGINT) AS a
         |  FROM s_fr0)
         |SELECT CAST(0 AS BIGINT) AS state_id, 'corpus' AS state,
         |  c_b AS n_before, c_r AS n_removed, c_a AS n_after FROM s_doc
         |UNION ALL SELECT 1, 'fingerprints', f_b, f_r, f_a FROM s_doc
         |UNION ALL SELECT 2, 'band_state', b, r, a FROM s_band
         |UNION ALL SELECT 3, 'frontier', b, r, a FROM s_fr
         |UNION ALL SELECT 4, 'shard_manifest', m_b, m_r, m_a FROM s_doc
         |ORDER BY state_id""".stripMargin,


    // snapshot diff: v1/v2 mod-splits + the %7=3 content revision shared
    // verbatim with the Spark side; category off the fp full outer join
    "dd_snapshot_diff" ->
      s"""WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents WHERE $snapV1Pred),
         |v2 AS (SELECT doc_id, md5($snapRev2Sql) AS fp2 FROM documents WHERE $snapV2Pred),
         |c AS (
         |  SELECT CASE WHEN fp1 IS NULL THEN 'added'
         |              WHEN fp2 IS NULL THEN 'removed'
         |              WHEN fp1 <> fp2 THEN 'changed'
         |              ELSE 'unchanged' END AS category
         |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT category, count(*) AS n_docs,
         |  count(*) / CAST(sum(count(*)) OVER () AS BIGINT) AS frac
         |FROM c GROUP BY category ORDER BY category""".stripMargin,


    "dd_source_overlap" ->
      s"""WITH $baseDuck, $shinglePairsSampledDuck,
         |pr AS (
         |  SELECT ia, ib FROM pairs
         |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
         |  WHERE common / (sa.n + sb.n - common) >= 0.2),
         |lab AS (
         |  SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM pr JOIN documents da ON pr.ia = da.doc_id
         |  JOIN documents db ON pr.ib = db.doc_id)
         |SELECT src_a, src_b, count(*) AS n_pairs
         |FROM lab GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,


    "dd_ngram_jaccard" ->
      s"""WITH $baseDuck, $shinglePairsSampledDuck
         |SELECT ia, ib, common / (sa.n + sb.n - common) AS jaccard
         |FROM pairs JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
         |WHERE common / (sa.n + sb.n - common) >= 0.2
         |ORDER BY jaccard DESC, ia, ib LIMIT 200""".stripMargin,


    // lang-blocked only (no length bucket — containment pairs cross
    // lengths by nature), directed, containment = common / |A|; the pair
    // join applies the engine's ':jpair' sample ladder (jpSampleDuck —
    // the df census stays full-corpus, exactly as the sampled jaccard
    // chain) AND, past the same 60k-doc rung, the df-weighted shingle
    // TYPE ladder (keep iff draw·df < 65536·B — integer arithmetic, no
    // rounding to drift) with the kept-universe denominator and the
    // kept-source noise floor, all mirroring buildContainmentPairs
    // verbatim; below the rung the keep predicate passes everything and
    // the denominator is the FULL per-doc count — the pre-thinning SQL
    // exactly.
    "dd_containment" ->
      s"""WITH $baseDuck, $jpSampleDuck, sh0 AS (
         |  SELECT doc_id, lang, unnest($shinglesDuck) AS s0
         |  FROM base),
         |sh AS (
         |  SELECT doc_id, lang, CAST(${hex8("md5(s0)")} AS BIGINT) AS s FROM sh0),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |cthin AS (SELECT count(*) > $CThinMinDocs AS active FROM documents),
         |dfc AS (
         |  SELECT s, lang, count(*) AS df FROM sh GROUP BY s, lang
         |  HAVING count(*) <= $StopShingleCap),
         |keptt AS (
         |  SELECT s, lang FROM dfc
         |  WHERE NOT (SELECT active FROM cthin) OR $cthinKeepPredDuck),
         |kept AS (
         |  SELECT sh.* FROM sh SEMI JOIN keptt
         |    ON sh.s = keptt.s AND sh.lang = keptt.lang),
         |nk AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |den AS (
         |  SELECT sizes.doc_id,
         |    CASE WHEN (SELECT active FROM cthin)
         |      THEN coalesce(nk.n, 0) ELSE sizes.n END AS n
         |  FROM sizes LEFT JOIN nk ON sizes.doc_id = nk.doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS common
         |  FROM kept a JOIN kept b
         |    ON a.s = b.s AND a.lang = b.lang AND a.doc_id <> b.doc_id
         |  WHERE ${hex4("md5(CAST(a.doc_id AS VARCHAR) || ':jpair')")} < (SELECT p FROM jp_p)
         |    AND ${hex4("md5(CAST(b.doc_id AS VARCHAR) || ':jpair')")} < (SELECT p FROM jp_p)
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT ia, ib, common / da.n AS containment
         |FROM pairs JOIN den da ON ia = da.doc_id
         |WHERE common / da.n >= 0.5
         |  AND (NOT (SELECT active FROM cthin) OR da.n >= $CThinKeptFloor)
         |ORDER BY containment DESC, ia, ib LIMIT 200""".stripMargin,


    // the thin-ladder accounting row (the dd_band_gap convention): both
    // engines fold the SAME full-corpus df census through the SAME
    // integer keep-draw, so any drift in the ladder constants or salt
    // fails THIS cheap row's hash-match before it can skew the pair
    // census silently
    "dd_containment_thin" ->
      s"""WITH $baseDuck, sh0 AS (
         |  SELECT doc_id, lang, unnest($shinglesDuck) AS s0
         |  FROM base),
         |sh AS (
         |  SELECT doc_id, lang, CAST(${hex8("md5(s0)")} AS BIGINT) AS s FROM sh0),
         |cthin AS (SELECT count(*) > $CThinMinDocs AS active FROM documents),
         |dfc AS (
         |  SELECT s, lang, count(*) AS df FROM sh GROUP BY s, lang
         |  HAVING count(*) <= $StopShingleCap),
         |k AS (
         |  SELECT df,
         |    NOT (SELECT active FROM cthin) OR $cthinKeepPredDuck AS kept
         |  FROM dfc)
         |SELECT CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_types_kept,
         |  CAST(sum(df) AS BIGINT) AS inst_capped,
         |  CAST(sum(CASE WHEN kept THEN df ELSE 0 END) AS BIGINT) AS inst_kept,
         |  CAST(sum(df * df) AS BIGINT) AS joinrows_capped,
         |  CAST(sum(CASE WHEN kept THEN df * df ELSE 0 END) AS BIGINT) AS joinrows_kept,
         |  (SELECT active FROM cthin) AS thin_active,
         |  CAST(CASE WHEN (SELECT active FROM cthin)
         |    THEN $CThinKeptFloor ELSE 0 END AS BIGINT) AS kept_floor
         |FROM k""".stripMargin,


    "dd_dedup_keep" ->
      s"""WITH $baseDuck, $shinglePairsDuck,
         |$nearDropsDuck
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE NOT EXISTS (SELECT 1 FROM drops WHERE drops.ib = doc_id)
         |ORDER BY doc_id""".stripMargin,


    // quality-ranked keep: same component fixpoint as dd_cluster, winner
    // per cluster by (classifier score DESC NULLS LAST, doc_id)
    "dd_dedup_keep_best" ->
      s"""WITH RECURSIVE $baseDuck, $shinglePairsDuck, $ccClosureDuck,
         |$classifierScoredDuck,
         |rankd AS (
         |  SELECT l.doc_id, l.cluster_id, sc.score,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |      ORDER BY sc.score DESC NULLS LAST, l.doc_id) AS rk
         |  FROM lbl l JOIN clf_s sc ON l.doc_id = sc.doc_id),
         |losers AS (SELECT doc_id FROM rankd WHERE rk > 1)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars, w.cluster_id, sc.score
         |FROM documents d
         |JOIN clf_s sc ON d.doc_id = sc.doc_id
         |LEFT JOIN (SELECT doc_id, cluster_id FROM rankd WHERE rk = 1) w
         |  ON d.doc_id = w.doc_id
         |WHERE NOT EXISTS (SELECT 1 FROM losers WHERE losers.doc_id = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,


    "dd_cluster" ->
      s"""WITH RECURSIVE $baseDuck, $shinglePairsDuck, $ccClosureDuck,
         |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)
         |SELECT doc_id, lbl.cluster_id, cluster_size
         |FROM lbl JOIN csz ON lbl.cluster_id = csz.cluster_id
         |ORDER BY doc_id""".stripMargin,


    // dd_cluster folded to the size histogram, singletons as size-1 rows
    "dd_cluster_hist" ->
      s"""WITH RECURSIVE $baseDuck, $shinglePairsDuck, $ccClosureDuck,
         |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id),
         |ext AS (
         |  SELECT d.doc_id,
         |    coalesce(csz.cluster_size, 1) AS sz,
         |    coalesce(lbl.cluster_id, -d.doc_id - 1) AS cl
         |  FROM documents d
         |  LEFT JOIN lbl ON d.doc_id = lbl.doc_id
         |  LEFT JOIN csz ON lbl.cluster_id = csz.cluster_id)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         |  count(DISTINCT cl) AS n_clusters, count(*) AS n_docs
         |FROM ext GROUP BY sz ORDER BY cluster_size""".stripMargin,


    "dd_lines" ->
      """WITH l0 AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line0,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS idx
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, idx, trim(line0) AS line FROM l0 WHERE trim(line0) <> ''),
        |f AS (SELECT doc_id, idx, line, md5(line) AS fp FROM l),
        |d AS (SELECT fp FROM f GROUP BY fp HAVING count(DISTINCT doc_id) > 1),
        |j AS (
        |  SELECT f.doc_id, f.idx, f.line, (d.fp IS NOT NULL) AS dup
        |  FROM f LEFT JOIN d ON f.fp = d.fp)
        |SELECT doc_id,
        |  count(*) AS n_lines,
        |  count(*) FILTER (WHERE dup) AS n_dup_lines,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE NOT dup), '')) AS clean_fp
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "dd_contamination" ->
      s"""WITH $baseDuck, w0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
         |      i -> substr(md5(array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 16))) AS w
         |  FROM base),
         |bench AS (SELECT DISTINCT w FROM w0 WHERE doc_id % 97 = 0)
         |SELECT doc_id, count(DISTINCT w0.w) AS n_shared_windows
         |FROM w0 JOIN bench ON w0.w = bench.w
         |WHERE doc_id % 97 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "dd_contamination8" ->
      s"""WITH $baseDuck, w0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 16))) AS w
         |  FROM base),
         |$benchWindowsDuck,
         |bench AS (SELECT DISTINCT bw AS w FROM bwt)
         |SELECT doc_id, count(DISTINCT w0.w) AS n_shared_windows
         |FROM w0 JOIN bench ON w0.w = bench.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    // benchmark-side fold of the same passage semi-join; total row keyed
    // bench_id = -1 carries contaminated_frac (int/int division);
    // bx/bwt = the ONE benchWindowsDuck construction shared with the
    // dd_contamination8 mirror
    "dd_contamination_rate" ->
      s"""WITH $baseDuck, w0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 16))) AS w
         |  FROM base),
         |$benchWindowsDuck,
         |ext AS (
         |  SELECT bench_id, count(DISTINCT bw) AS n_ext_windows,
         |    count(DISTINCT doc_id) AS n_ext_docs
         |  FROM w0 JOIN bwt ON w0.w = bwt.bw WHERE w0.doc_id <> bwt.bench_id
         |  GROUP BY bench_id),
         |per AS (
         |  SELECT b.bench_id, COALESCE(c.nw, 0) AS n_windows,
         |    COALESCE(e.n_ext_windows, 0) AS n_ext_windows,
         |    COALESCE(e.n_ext_docs, 0) AS n_ext_docs,
         |    COALESCE(e.n_ext_windows, 0) > 0 AS leaked
         |  FROM (SELECT bench_id FROM bx) b
         |  LEFT JOIN (SELECT bench_id, count(DISTINCT bw) AS nw FROM bwt GROUP BY bench_id) c
         |    ON b.bench_id = c.bench_id
         |  LEFT JOIN ext e ON b.bench_id = e.bench_id)
         |SELECT bench_id, n_windows, n_ext_windows, n_ext_docs, leaked,
         |  CAST(NULL AS DOUBLE) AS contaminated_frac FROM per
         |UNION ALL
         |SELECT -1, CAST(sum(n_windows) AS BIGINT),
         |  CAST(sum(n_ext_windows) AS BIGINT), CAST(sum(n_ext_docs) AS BIGINT),
         |  count(*) FILTER (WHERE leaked) > 0,
         |  CASE WHEN count(*) > 0
         |    THEN count(*) FILTER (WHERE leaked) / count(*) END FROM per
         |ORDER BY bench_id""".stripMargin,


    "dd_passages" ->
      s"""WITH $baseDuck, w0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 16))) AS w
         |  FROM base)
         |SELECT w AS passage_fp,
         |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_hits,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM w0 GROUP BY w HAVING count(DISTINCT doc_id) > 1
         |ORDER BY n_docs DESC, n_hits DESC, passage_fp LIMIT 100""".stripMargin,


    // near-dup pairs via the same shingle/blocking CTEs as dd_dedup_keep;
    // alignment = diagonal run-length over positioned 8-token windows
    "dd_align" ->
      s"""WITH $baseDuck, sh0 AS (
         |  SELECT doc_id, lang, n_chars // 50 AS bkt, unnest($shinglesDuck) AS s0
         |  FROM base),
         |sh AS (
         |  SELECT doc_id, lang, bkt, CAST(${hex8("md5(s0)")} AS BIGINT) AS s FROM sh0),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |rare AS (
         |  SELECT s, lang, bkt FROM sh GROUP BY s, lang, bkt
         |  HAVING count(*) <= $StopShingleCap),
         |capped AS (
         |  SELECT sh.* FROM sh SEMI JOIN rare
         |    ON sh.s = rare.s AND sh.lang = rare.lang AND sh.bkt = rare.bkt),
         |cpairs AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS common
         |  FROM capped a JOIN capped b
         |    ON a.s = b.s AND a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |jpairs AS (
         |  SELECT ia, ib FROM cpairs
         |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
         |  WHERE common / (sa.n + sb.n - common) >= 0.8),
         |wlist AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 16)) AS ws
         |  FROM base),
         |w0 AS (
         |  SELECT doc_id, unnest(range(0, len(ws))) AS pos, unnest(ws) AS w
         |  FROM wlist),
         |m AS (
         |  SELECT p.ia, p.ib, a.pos AS pa, b.pos AS pb
         |  FROM jpairs p
         |  JOIN w0 a ON a.doc_id = p.ia
         |  JOIN w0 b ON b.doc_id = p.ib AND a.w = b.w),
         |r AS (
         |  SELECT ia, ib, pa - pb AS diag, pa,
         |    row_number() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS rn
         |  FROM m),
         |runs AS (
         |  SELECT ia, ib, count(*) AS run_len
         |  FROM r GROUP BY ia, ib, diag, pa - rn)
         |SELECT ia, ib,
         |  CAST(max(run_len) AS BIGINT) AS max_run_windows,
         |  CAST(max(run_len) + 7 AS BIGINT) AS max_run_tokens
         |FROM runs GROUP BY ia, ib ORDER BY ia, ib""".stripMargin,


    "dd_dup_fraction" ->
      s"""WITH $baseDuck, w0 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
         |      i -> substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 16))) AS w
         |  FROM base),
         |dup AS (
         |  SELECT w FROM w0 GROUP BY w HAVING count(DISTINCT doc_id) > 1)
         |SELECT w0.doc_id,
         |  count(*) AS n_windows,
         |  count(CASE WHEN dup.w IS NOT NULL THEN 1 END) AS n_dup_windows,
         |  count(CASE WHEN dup.w IS NOT NULL THEN 1 END) / count(*) AS dup_frac
         |FROM w0 LEFT JOIN dup ON w0.w = dup.w
         |GROUP BY w0.doc_id ORDER BY w0.doc_id""".stripMargin,


    "dd_minhash_sig" -> minhashSigDuck,


    "dd_minhash_wide" -> minhashWideSigDuck,

    "dd_minhash_wide128" -> minhashWideSigDuckN(128),


    // production-width LSH: 16 bands x 4 rows over the 64-slice signature,
    // per-(band, bucket) cap mirrored from the Spark side
    "dd_minhash_wide_pairs" ->
      s"""WITH $baseDuck, ${wideSigStackDuck()},
         |${wideCandDuck("")}
         |SELECT ia, ib,
         |  $wideEstSimDuck AS est_sim
         |FROM cand JOIN sig sa ON ia = sa.doc_id JOIN sig sb ON ib = sb.doc_id
         |ORDER BY est_sim DESC, ia, ib LIMIT 200""".stripMargin,


    // banding-accuracy census: exact blocked pairs binned by true Jaccard
    // twentieth (INTEGER floor div — no float binning), each bin counting
    // how many of its truth pairs the capped 16x4 banded candidate
    // generation retrieves; the measured S-curve of the band geometry
    "dd_minhash_recall" ->
      s"""WITH $baseDuck, $shinglePairsSampledDuck,
         |${wideSigStackDuck("_w")},
         |${wideCandDuck("_w")},
         |$jaccardBinsDuck
         |SELECT bin, bin * 5 AS j_lo_pct,
         |  count(*) AS n_pairs, count(c.ia) AS n_retrieved,
         |  count(c.ia) / count(*) AS recall
         |FROM truth t LEFT JOIN cand_w c ON t.ia = c.ia AND t.ib = c.ib
         |GROUP BY bin ORDER BY bin""".stripMargin,


    // band-gap census at the ACTION threshold: full-state truth edges
    // (exact blocked Jaccard >= 0.8) vs the capped-band-retrieved edge
    // set the dedup action runs on — missed count and recall, the
    // per-corpus accounting of what band-bounding the edge build costs
    "dd_band_gap" ->
      s"""WITH $baseDuck, $shinglePairsSampledDuck,
         |${wideSigStackDuck("_w")},
         |${wideCandDuck("_w")},
         |edges AS (
         |  SELECT ia, ib FROM pairs
         |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
         |  WHERE common / (sa.n + sb.n - common) >= 0.8),
         |hits AS (SELECT e.ia FROM edges e JOIN cand_w c ON e.ia = c.ia AND e.ib = c.ib)
         |SELECT count(*) AS n_true_edges,
         |  (SELECT count(*) FROM hits) AS n_banded_edges,
         |  count(*) - (SELECT count(*) FROM hits) AS n_missed,
         |  CAST((SELECT count(*) FROM hits) AS DOUBLE) / count(*) AS recall
         |FROM edges""".stripMargin,


    // estimator calibration: over banded candidates WITH blocked truth,
    // per true-Jaccard twentieth — exact BIGINT slice-match sums and the
    // mean estimate as one int/int division (Broder E[est] = J, measured)
    "dd_minhash_calibration" ->
      s"""WITH $baseDuck, $shinglePairsSampledDuck,
         |${wideSigStackDuck("_w")},
         |${wideCandDuck("_w")},
         |$jaccardBinsDuck
         |SELECT bin, count(*) AS n_pairs,
         |  CAST(sum($wideMatchesDuck) AS BIGINT) AS sum_matches,
         |  CAST(sum($wideMatchesDuck) AS BIGINT) / ($MinhashWidePerms * count(*)) AS avg_est
         |FROM cand_w c JOIN truth t ON c.ia = t.ia AND c.ib = t.ib
         |  JOIN sig_w sa ON c.ia = sa.doc_id JOIN sig_w sb ON c.ib = sb.doc_id
         |GROUP BY bin ORDER BY bin""".stripMargin,


    // incremental near-dup: the batch (>= split) LSH-probed against the
    // corpus (< split) through the wide signature; corpus-side bucket cap
    // (the probe's wider one) mirrored
    "dd_incremental_near" ->
      s"""WITH $baseDuck, ${wideSigStackDuck()},
         |$probeCappedBandsDuck,
         |${bandsDuck("bb", s"sig WHERE doc_id >= $IncrementalSplit", Nil, "bh", wideBandExprs)},
         |${bandCandDuck("cand", "bb", "cb", selfJoin = false)},
         |scored AS (
         |  SELECT ia, ib,
         |    $wideEstSimDuck AS est_sim
         |  FROM cand JOIN sig sa ON ia = sa.doc_id JOIN sig sb ON ib = sb.doc_id),
         |best AS (
         |  SELECT ia, ib, est_sim FROM (
         |    SELECT ia, ib, est_sim,
         |      row_number() OVER (PARTITION BY ia ORDER BY est_sim DESC, ib) AS rn
         |    FROM scored)
         |  WHERE rn = 1)
         |SELECT d.doc_id, best.ib AS match_id, best.est_sim,
         |  (best.est_sim IS NULL OR best.est_sim < 0.5) AS kept
         |FROM documents d LEFT JOIN best ON d.doc_id = best.ia
         |WHERE d.doc_id >= $IncrementalSplit
         |ORDER BY d.doc_id""".stripMargin,


    // cap accounting for the incremental probe: what the corpus-side
    // bucket cap cut (pinned to zero on the synthetic corpora)
    "dd_incremental_capped" ->
      s"""WITH $baseDuck, ${wideSigStackDuck()},
         |$probeCappedBandsDuck,
         |buckets AS (
         |  SELECT band, bh, count(*) AS cnt FROM cb0 GROUP BY band, bh)
         |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_buckets,
         |  CAST(sum(CASE WHEN cnt > $IncrementalProbeCap THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_capped,
         |  CAST(sum(greatest(cnt - $IncrementalProbeCap, 0)) AS BIGINT) AS n_rows_capped_out
         |FROM buckets""".stripMargin,


    "dd_minhash_pairs" ->
      s"""WITH $baseDuck, sh AS (
         |  SELECT doc_id, md5(unnest($shinglesDuck)) AS h1, md5('x' || unnest($shinglesDuck)) AS h2 FROM base),
         |sig AS (
         |  SELECT doc_id, $minhashSliceCols
         |  FROM sh GROUP BY doc_id),
         |${bandsDuck("bands", "sig", Nil, "bh", minhashBandExprs(4, 2))},
         |${bandCandDuck("cand", "bands", "bands", selfJoin = true)}
         |SELECT ia, ib,
         |  (${(0 until 8).map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0 AS est_sim
         |FROM cand JOIN sig sa ON ia = sa.doc_id JOIN sig sb ON ib = sb.doc_id
         |ORDER BY est_sim DESC, ia, ib LIMIT 200""".stripMargin,


    "dd_simhash" ->
      s"""WITH $baseDuck, ${simhashSigDuck(16, s"CAST(${hex4("md5(t)")} AS BIGINT)")}
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,


    "dd_incremental" ->
      s"""WITH existing AS (
        |  SELECT md5(text) AS fp FROM documents WHERE doc_id < $IncrementalSplit)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d
        |WHERE d.doc_id >= $IncrementalSplit
        |  AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = md5(d.text))
        |ORDER BY d.doc_id""".stripMargin,


    // same semantics as dd_incremental — the bucketed variant changes the
    // physical plan (zero corpus-side exchange), never the result
    "dd_incremental_bucketed" ->
      s"""WITH existing AS (
        |  SELECT md5(text) AS fp FROM documents WHERE doc_id < $IncrementalSplit)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d
        |WHERE d.doc_id >= $IncrementalSplit
        |  AND NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = md5(d.text))
        |ORDER BY d.doc_id""".stripMargin,


    // same 1/2 content sample as the Spark side (evenFpSpark) — the
    // didactic 16-bit twin is bounded identically in both engines
    "dd_simhash_pairs" ->
      simhashPairsDuck(
        simhashSigDuck(16, s"CAST(${hex4("md5(t)")} AS BIGINT)", s"\n  WHERE $evenFpSpark"),
        simhashBandExprs(4, 4, "//"), 3),


    "dd_simhash_wide" ->
      s"""WITH $baseDuck, ${simhashSigDuck(60, hex15("md5(t)"))}
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,


    "dd_simhash_wide_pairs" ->
      simhashPairsDuck(simhashSigDuck(60, hex15("md5(t)")), simhashBandExprs(6, 10, "//"), 5),


    "dd_embed_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding, ${dot("embedding", "embedding", 1)} AS nrm
         |  FROM (
         |    SELECT vec_id, label, embedding,
         |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS lrk
         |    FROM embeddings)
         |  WHERE lrk <= $EmbedLabelCap)
         |SELECT a.vec_id AS ia, b.vec_id AS ib, a.label AS label,
         |  (${dot("a.embedding", "b.embedding", 1)}) / sqrt(a.nrm * b.nrm) AS cos
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |ORDER BY cos DESC, ia, ib LIMIT 50""".stripMargin,


    "dd_embed_lsh" ->
      s"""WITH $paramsDuck,
         |e AS (
         |  SELECT vec_id, label, embedding,
         |    ${dot("embedding", "embedding", 1)} AS nrm,
         |    CAST(${bucketExpr("embedding", 1)} AS BIGINT) AS bucket
         |  FROM embeddings)
         |SELECT a.vec_id AS ia, b.vec_id AS ib, a.label AS label, a.bucket AS bucket,
         |  (${dot("a.embedding", "b.embedding", 1)}) / sqrt(a.nrm * b.nrm) AS cos
         |FROM e a JOIN e b
         |  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |ORDER BY cos DESC, ia, ib LIMIT 50""".stripMargin,


    // same quantizer CTEs as sim_ivf; low-id in-cluster max cosine + verdict
    "dd_semdedup" ->
      s"""WITH $paramsDuck,
         |$ivfCellChainDuck,
         |low AS (
         |  SELECT a.vec_id,
         |    max((${dot("a.embedding", "b.embedding", 1)}) / sqrt(a.nrm * b.nrm)) AS max_cos_lower
         |  FROM cell a JOIN cell b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  GROUP BY a.vec_id)
         |SELECT c.vec_id, c.cell, l.max_cos_lower,
         |  (l.max_cos_lower IS NULL OR l.max_cos_lower < 0.9) AS kept
         |FROM cell c LEFT JOIN low l ON c.vec_id = l.vec_id
         |ORDER BY c.vec_id""".stripMargin,


    // the semantic-dedup ACTION: connected components over the same
    // within-cell cosine-0.9 pairs, survivor = best classifier score
    // (score DESC NULLS LAST, vec_id) per component via the mm_join
    // doc_id = vec_id convention — dd_dedup_keep_best in embedding space
    "dd_semdedup_keep" ->
      s"""WITH RECURSIVE $paramsDuck,
         |$ivfCellChainDuck,
         |$baseDuck,
         |$classifierScoredDuck,
         |sedges AS (
         |  SELECT b.vec_id AS a, a.vec_id AS b
         |  FROM cell a JOIN cell b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  WHERE (${dot("a.embedding", "b.embedding", 1)}) / sqrt(a.nrm * b.nrm) >= 0.9),
         |ssym AS (SELECT a, b FROM sedges UNION SELECT b, a FROM sedges),
         |sreach(a, b) AS (
         |  SELECT a, b FROM ssym
         |  UNION
         |  SELECT r.a, s2.b FROM sreach r JOIN ssym s2 ON r.b = s2.a),
         |slbl AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id FROM sreach GROUP BY a),
         |srank AS (
         |  SELECT l.vec_id, l.cluster_id,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |      ORDER BY sc.score DESC NULLS LAST, l.vec_id) AS rk
         |  FROM slbl l LEFT JOIN clf_s sc ON l.vec_id = sc.doc_id)
         |SELECT c.vec_id, c.cell, w.cluster_id
         |FROM cell c
         |LEFT JOIN (SELECT vec_id, cluster_id FROM srank WHERE rk = 1) w
         |  ON c.vec_id = w.vec_id
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM srank WHERE srank.rk > 1 AND srank.vec_id = c.vec_id)
         |ORDER BY c.vec_id""".stripMargin)
}
