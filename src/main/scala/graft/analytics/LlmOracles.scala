package graft.analytics

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The DuckDB mirror layer: every shared SQL fragment, plus the full
  * per-query oracle map assembled from the four family traits
  * ([[TxtOracles]]/[[DedupOracles]]/[[SimOracles]]/[[IngestOracles]],
  * one per family of the ops traits). A fragment that mirrors a Spark
  * kernel is written here once and every mirror that needs it calls it. */
private[analytics] trait LlmOracles {
  this: OpsKernels with TxtOps with DedupOps with SimOps with IngestOps
    with TxtOracles with DedupOracles with SimOracles with IngestOracles =>

  /** Same tokens — DuckDB fragment. */
  private[analytics] lazy val toksDuck = raw"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"

  /** Same (DuckDB, 1-based lists). */
  private[analytics] lazy val shinglesDuck =
    "list_distinct(list_transform(range(1, greatest(len(toks)-2, 0)+1), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"


  /** The oracle-side twin of [[annPlanes]]/[[ivfK]]: a `params` CTE the
    * sized oracle queries prepend — k and pl computed from count(*) with
    * the exact formulas above. `range(0,17)` + min() is the integer-exact
    * power-of-two search (no float log2). */
  private[analytics] lazy val paramsDuck: String =
    """nrows AS (SELECT count(*) AS n FROM embeddings),
      |params AS (SELECT
      |  greatest(16, CAST(floor(sqrt(n // 2)) AS BIGINT)) AS k,
      |  greatest(4, least(16, coalesce((SELECT min(p) FROM range(0,17) t(p), nrows
      |    WHERE 64 * (CAST(1 AS BIGINT) << p) >= n), 16))) AS pl,
      |  greatest(8, coalesce((SELECT max(c) FROM range(1,2100) t(c), nrows
      |    WHERE c * c * c <= n), 1)) AS kc
      |  FROM nrows)""".stripMargin


  /** The Duck CTE chain matching [[urlNormalized]] — fragments verbatim. */
  private[analytics] lazy val urlNormDuck =
    s"""p AS (SELECT doc_id, $urlPidSql AS pid FROM documents),
       |u AS (SELECT doc_id, $urlRawSql AS url FROM p),
       |n AS (SELECT doc_id, url, $urlNormSql AS url_norm FROM u)""".stripMargin


  /** The Duck twin of [[txtLangid]]'s marker-scoring projection — shared
    * by the per-doc readout and the confusion census. */
  private[analytics] lazy val langidScoredDuck: String = {
    val scores = langMarkers.map { case (lang, ws) =>
      s"CAST(len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS s_$lang"
    }.mkString(",\n  ")
    s"""scored AS (
       |  SELECT doc_id, lang AS lang_label, $scores
       |  FROM base)""".stripMargin
  }


  /** The Duck twin of [[TxtOps.piiScored]] — contact-enriched text
    * ([[piiRawSql]] verbatim), per-category match counts, and the
    * order-chained redaction. Patterns come from the SAME [[piiRes]]
    * constants the Spark side uses (backslash-free, so DuckDB's RE2 and
    * Java regex compile identically); DuckDB needs the explicit 'g' flag
    * where Spark's regexp_replace is always global. */
  private[analytics] lazy val piiScoredDuck: String = {
    val counts = piiRes.map { case (cat, re) =>
      s"CAST(len(regexp_extract_all(raw, '$re')) AS BIGINT) AS n_${cat}s"
    }.mkString(",\n  ")
    val clean = piiRes.foldLeft("raw") { case (e, (cat, re)) =>
      s"regexp_replace($e, '$re', '<$cat>', 'g')"
    }
    s"""pii_p AS (SELECT doc_id, source, $piiRawSql AS raw FROM documents),
       |pii_s AS (SELECT doc_id, source, raw,
       |  $counts,
       |  $clean AS clean
       |  FROM pii_p)""".stripMargin
  }


  /** The crawl-funnel gate-flag CTE chain — [[DedupOps.crawlFlags]]'s
    * mirror, ONE definition for the corpus-level funnel and the
    * per-source slice. Expects `base` and the urlNorm chain (`n`) in
    * scope; closes with a `flags` CTE of (doc_id, source, f_u, f_h, f_x,
    * f_n). */
  private[analytics] def crawlFlagsDuck: String =
    s"""uk AS (SELECT min(doc_id) AS doc_id, url_norm FROM n GROUP BY url_norm),
       |hk AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY $hostOfSql ORDER BY doc_id) AS rk
       |    FROM uk) WHERE rk <= $HostCap),
       |$exactKeepDuck,
       |$shinglePairsDuck,
       |$nearDropsDuck,
       |opt AS (
       |  SELECT doc_id, NOT ($hostOfSql IN $optoutHostsSql) AS f_o FROM n),
       |flags0 AS (
       |  SELECT d.doc_id, d.source, o.f_o,
       |    (uk.doc_id IS NOT NULL) AS f_u,
       |    (hk.doc_id IS NOT NULL) AS f_h,
       |    (ex.keep_id IS NOT NULL) AS f_x,
       |    (dr.ib IS NOT NULL) AS f_n
       |  FROM documents d
       |  JOIN opt o ON o.doc_id = d.doc_id
       |  LEFT JOIN uk ON uk.doc_id = d.doc_id
       |  LEFT JOIN hk ON hk.doc_id = d.doc_id
       |  LEFT JOIN ex ON ex.keep_id = d.doc_id
       |  LEFT JOIN drops dr ON dr.ib = d.doc_id),
       |flags AS (
       |  SELECT doc_id, source,
       |    f_o AS p1, (f_o AND f_u) AS p2,
       |    (f_o AND f_u AND f_h) AS p3,
       |    (f_o AND f_u AND f_h AND f_x) AS p4,
       |    (f_o AND f_u AND f_h AND f_x AND NOT f_n) AS p5
       |  FROM flags0)""".stripMargin


  /** The budget-plan CTE chain (per-source availability → weights →
    * corpus totals), ONE definition shared by the planner readout
    * (txt_data_budget) and the manifest execution (txt_sample_exec) so
    * the plan a manifest executes cannot drift from the plan reported.
    * Expects `base` in scope; closes with `g`. */
  private[analytics] lazy val budgetChainDuck: String =
    s"""persrc AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(toks)) AS BIGINT) AS avail_toks
       |  FROM base GROUP BY source),
       |w AS (
       |  SELECT *, $sourceWeightSql AS weight
       |  FROM persrc),
       |g AS (
       |  SELECT *, $DataBudgetEpochs * CAST(sum(avail_toks) OVER () AS BIGINT) AS budget_toks,
       |    CAST(sum(weight) OVER () AS BIGINT) AS w_total
       |  FROM w)""".stripMargin


  /** The INCREMENTAL probe's corpus-side capped band chain (cb0 → cb):
    * band rows of the sub-split corpus, per-(band, bucket)
    * keep-smallest-doc_ids cap at [[DedupOps.IncrementalProbeCap]] — ONE
    * site for the probe-width band geometry, shared by the
    * dd_incremental_near, dd_incremental_capped (cb0 only; the unused cb
    * CTE is lazy in DuckDB) and dd_takedown mirrors, so the takedown
    * census can never drift from the band state it claims to census. */
  private[analytics] def probeCappedBandsDuck: String =
    bandsDuck("cb", s"sig WHERE doc_id < $IncrementalSplit", Nil, "bh", wideBandExprs,
      Some(IncrementalProbeCap))


  /** One admission-contract mirror for the single-scan gate and its
    * bucketed-state twin (same rows by contract). */
  private[analytics] lazy val urlIncrementalDuck: String =
    s"""WITH $urlNormDuck,
       |f AS (SELECT DISTINCT url_norm FROM n WHERE $urlFrontierPredSql)
       |SELECT doc_id, url_norm FROM n
       |WHERE $urlBatchPredSql AND url_norm NOT IN (SELECT url_norm FROM f)
       |ORDER BY doc_id""".stripMargin


  // ------------------------------------------------------- DuckDB oracles


  private[analytics] lazy val baseDuck =
    s"base AS (SELECT doc_id, lang, source, n_chars, text, $toksDuck AS toks FROM documents)"


  /** The quantized Lloyd centroid update's component list, ONE definition
    * for every Duck mirror that re-trains centroids ([[kmCentroids]]'
    * cross-engine twin): 64 per-dimension sums of round(x * KmQuant) as
    * BIGINT — the integer-exact update that cannot drift with partition
    * order. */
  private[analytics] def kmSumsVecDuck: String =
    s"[${(1 to 64).map(i =>
      s"SUM(CAST(round(CAST(embedding[$i] AS DOUBLE) * $KmQuant) AS BIGINT))").mkString(", ")}] AS svec"


  /** The serve lifecycle's frozen base, ONE definition for the e/cents
    * CTE pair that every serve-index mirror (serve, serve_pq, insert,
    * delete, compact, retrain, retrain_exec, filtered, filtered_pq) opens
    * with: embeddings with labels and norms, and the corpus-only centroid
    * table — the k lowest-id non-held-out (vec_id % 4 <> 3) vectors. Twin
    * of [[serveCentroids]] on the Spark side; edits to the frozen-index
    * definition happen here or nowhere. */
  private[analytics] def serveECentsDuck: String =
    s"""e AS (
       |  SELECT vec_id, embedding, label, ${dot("embedding", "embedding", 1)} AS nrm
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm
       |  FROM e WHERE vec_id % 4 <> 3
       |  ORDER BY vec_id LIMIT (SELECT k FROM params))""".stripMargin


  /** Gopher quality-stat CTE chain (per -> pr -> bg -> bc -> top) over
    * `base`, ONE definition shared by the txt_gopher mirror, the
    * clean-corpus quality gate, and the curation funnel;
    * [[gopherPassPredDuck]] is the matching pass predicate over the
    * `pr`/`top` columns. */
  private[analytics] def gopherStatsDuck: String =
    s"""per AS (
       |  SELECT doc_id, toks,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lns
       |  FROM base),
       |pr AS (
       |  SELECT doc_id, n_words, toks,
       |    CAST(len(lns) AS BIGINT) AS n_lines,
       |    CAST(len(lns) - len(list_distinct(lns)) AS BIGINT) AS n_dup,
       |    CAST(len(list_filter(lns, l -> substr(l, 1, 2) IN ('- ', '* '))) AS BIGINT) AS n_bullet,
       |    CAST(coalesce(list_sum(list_transform(toks, t -> strlen(t))), 0) AS BIGINT) AS sum_wl,
       |    CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams
       |  FROM per),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
       |      i -> toks[i] || ' ' || toks[i + 1])) AS b
       |  FROM per),
       |bc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY doc_id, b),
       |top AS (SELECT doc_id, max(n) AS top_n FROM bc GROUP BY doc_id)""".stripMargin


  /** The Gopher pass predicate over [[gopherStatsDuck]]'s `pr` columns +
    * `top_n` — the five thresholds in one place for every mirror that
    * gates on quality. */
  private[analytics] def gopherPassPredDuck: String =
    """n_words >= 5 AND n_words <= 100000
      |    AND sum_wl / nullif(n_words, 0) BETWEEN 2.0 AND 12.0
      |    AND n_dup / nullif(n_lines, 0) <= 0.5
      |    AND top_n / nullif(n_bigrams, 0) <= 0.3
      |    AND n_bullet / nullif(n_lines, 0) <= 0.5""".stripMargin


  /** Jaccard-0.8 near-duplicate DROP set over [[shinglePairsDuck]]'s
    * `pairs`/`sizes` (the higher doc_id of each qualifying pair) —
    * [[nearDropSet]]'s mirror, shared by dd_dedup_keep, the clean-corpus
    * gate, and the curation funnel. */
  private[analytics] def nearDropsDuck: String =
    """drops AS (
      |  SELECT DISTINCT ib FROM pairs
      |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
      |  WHERE common / (sa.n + sb.n - common) >= 0.8)""".stripMargin


  /** Exact-dedup canonical keeper set (min doc_id per identical-text md5
    * group) — [[exactKeepFlag]]'s mirror, ONE definition of the
    * canonicalization shared by txt_clean_corpus and the curation
    * funnel. */
  private[analytics] def exactKeepDuck: String =
    "ex AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text))"


  /** (lang, length-bucket)-blocked shingle→candidate-pair CTE chain
    * (sh0→sh→sizes→rare→capped→pairs, undirected `a.doc_id < b.doc_id`)
    * shared by the Jaccard-family mirrors (dd_ngram_jaccard, dd_dedup_keep,
    * dd_dedup_keep_best, dd_cluster). ONE site for the blocking scheme,
    * [[StopShingleCap]], and the first-4-md5-bytes shingle hash — a drifted
    * copy in any one mirror would silently break only that query's parity. */
  private[analytics] def shinglePairsDuck: String = shinglePairsChainDuck(sampled = false)


  /** The FULL-state chain with the engine's ':jpair' doc-sample ladder
    * applied to the pair self-join (the reporting/calibration mirrors —
    * dd_ngram_jaccard, dd_source_overlap, dd_minhash_recall,
    * dd_minhash_calibration, dd_band_gap — twin of the sampled
    * [[DedupOps.buildJaccardPairs]]). The sh/sizes/rare/capped stages
    * stay UNSAMPLED exactly as the engine's: sizes is the per-doc
    * denominator and the stop-shingle df census must see the full corpus
    * (sampling df would re-admit stop shingles) — only the join's two
    * doc sides are filtered, identically to the engine, so both engines
    * compute the same p² pair subset and hash-match survives at every
    * SF. */
  private[analytics] def shinglePairsSampledDuck: String = shinglePairsChainDuck(sampled = true)


  /** The keep-threshold ladder as a DuckDB scalar CTE — the mirror of
    * [[DedupOps.jpairLadder]] (same breakpoints, same values;
    * a drifted copy would break every sampled mirror's parity at big
    * SFs while the ≤60k-doc driver gates stayed green). */
  private[analytics] def jpSampleDuck: String =
    """jp_p AS (
      |  SELECT CASE WHEN count(*) <= 60000 THEN 65536
      |              WHEN count(*) <= 150000 THEN 45875
      |              ELSE 29491 END AS p
      |  FROM documents)""".stripMargin


  /** The ':jpair'-salted 0..65535 draw over a doc-id expression —
    * [[DedupOps.jpairDraw]]'s mirror. */
  private def jpairDrawDuck(idCol: String): String =
    hex4(s"md5(CAST($idCol AS VARCHAR) || ':jpair')")


  private def shinglePairsChainDuck(sampled: Boolean): String = {
    val head = if (sampled) s"$jpSampleDuck,\n" else ""
    val where = if (sampled)
      s"""
         |  WHERE ${jpairDrawDuck("a.doc_id")} < (SELECT p FROM jp_p)
         |    AND ${jpairDrawDuck("b.doc_id")} < (SELECT p FROM jp_p)""".stripMargin
    else ""
    s"""${head}sh0 AS (
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
       |pairs AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS common
       |  FROM capped a JOIN capped b
       |    ON a.s = b.s AND a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id$where
       |  GROUP BY a.doc_id, b.doc_id)""".stripMargin
  }


  /** Jaccard-0.8 edge set + connected-component closure
    * (edges→sym→reach→lbl) over [[shinglePairsDuck]]'s `pairs`/`sizes`,
    * shared by the cluster-labelled mirrors (dd_cluster,
    * dd_dedup_keep_best). Callers must open with WITH RECURSIVE. */
  private[analytics] def ccClosureDuck: String =
    """edges AS (
      |  SELECT ia AS a, ib AS b FROM pairs
      |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
      |  WHERE common / (sa.n + sb.n - common) >= 0.8),
      |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
      |lbl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)""".stripMargin


  /** Wide-MinHash signature CTE stack (sh→h→sig, `sfx`-suffixed) over
    * `base` — the 16 seeded "w&lt;d&gt;:" md5 digests sliced into the
    * 64-perm signature ([[minhashWideSliceCols]]) — shared by the three
    * wide-LSH mirrors (dd_minhash_wide_pairs, dd_incremental_near,
    * dd_incremental_capped) and, suffixed "_w", by the banding-recall
    * census (whose WITH also hosts [[shinglePairsDuck]]'s colliding `sh`).
    * ONE site for the digest-family/slicing scheme on the Duck side,
    * matching the Spark side's single memoized [[minhashWideSig]] table. */
  private[analytics] def wideSigStackDuck(sfx: String = ""): String =
    s"""sh$sfx AS (
       |  SELECT doc_id, unnest($shinglesDuck) AS s FROM base),
       |h$sfx AS (
       |  SELECT doc_id, ${(0 until 16).map(d => s"md5('w$d:' || s) AS h$d").mkString(", ")}
       |  FROM sh$sfx),
       |sig$sfx AS (
       |  SELECT doc_id, $minhashWideSliceCols
       |  FROM h$sfx GROUP BY doc_id)""".stripMargin


  /** [[DedupOps.bands]] as DuckDB CTEs over `src` (a CTE name, with an
    * optional WHERE): `name` holds one (doc_id, <carry>, band, <bucket>)
    * row per doc and band, one UNION ALL branch per band expression. With
    * a cap, `name`0 holds those rows and `name` keeps the `cap` lowest
    * doc_ids per (band, bucket) — the Spark side's row_number cut. */
  private[analytics] def bandsDuck(name: String, src: String, carry: Seq[String], bucket: String,
      bandExprs: Seq[String], cap: Option[Int] = None): String = {
    val cols = ("doc_id" +: carry).mkString(", ")
    val rows = bandExprs.zipWithIndex
      .map { case (e, b) => s"SELECT $cols, $b AS band, $e AS $bucket FROM $src" }
      .mkString("\n  UNION ALL ")
    cap.fold(s"$name AS (\n  $rows)")(c =>
      s"""${name}0 AS (
         |  $rows),
         |$name AS (
         |  SELECT $cols, band, $bucket FROM (
         |    SELECT *, row_number() OVER (PARTITION BY band, $bucket ORDER BY doc_id) AS rn
         |    FROM ${name}0)
         |  WHERE rn <= $c)""".stripMargin)
  }


  /** [[DedupOps.bandCandidates]] as a DuckDB CTE: `name` holds the
    * distinct (ia, ib) pairs of `left` and `right` band rows that share a
    * (band, bucket), each carried column c riding as c_a and c_b. The
    * self-join keeps ia < ib; the probe form joins batch bands to corpus
    * bands only. */
  private[analytics] def bandCandDuck(name: String, left: String, right: String,
      selfJoin: Boolean, bucket: String = "bh", carry: Seq[String] = Nil): String = {
    val carried = carry.map(c => s", a.$c AS ${c}_a, b.$c AS ${c}_b").mkString
    val lt = if (selfJoin) " AND a.doc_id < b.doc_id" else ""
    s"""$name AS (
       |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib$carried
       |  FROM $left a JOIN $right b
       |    ON a.band = b.band AND a.$bucket = b.$bucket$lt)""".stripMargin
  }


  /** SimHash signature CTEs over `base` (tok → hashed → bits → sig): the
    * per-bit majority vote over each doc's distinct word set, `width` bits
    * of the token hash `hash` (a SQL expression over `t`); `where` filters
    * the docs. The declarative form of [[simhashSig]] / [[simhashWideSig]],
    * shared by the signature and pairs mirrors of both widths. */
  private[analytics] def simhashSigDuck(width: Int, hash: String, where: String = ""): String =
    s"""tok AS (
       |  SELECT doc_id, unnest(list_distinct(toks)) AS t FROM base$where),
       |hashed AS (
       |  SELECT doc_id, $hash AS h FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    ${(0 until width).map(i => s"sum(CASE WHEN (h // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(",\n    ")}
       |  FROM hashed GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(${(0 until width).map(i => s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
       |  FROM bits)""".stripMargin


  /** The SimHash near-dup pairs mirror over [[simhashSigDuck]] CTEs: the
    * capped band index of `bandExprs`, its self-join candidates, exact
    * Hamming verify at `maxHamming`, the 200 closest pairs. */
  private[analytics] def simhashPairsDuck(sigCtes: String, bandExprs: Seq[String],
      maxHamming: Int): String =
    s"""WITH $baseDuck, $sigCtes,
       |${bandsDuck("bands", "sig", Seq("simhash"), "bv", bandExprs, Some(SimhashBucketCap))},
       |${bandCandDuck("cand", "bands", "bands", selfJoin = true, "bv", Seq("simhash"))}
       |SELECT ia, ib, bit_count(xor(simhash_a, simhash_b)) AS hamming
       |FROM cand
       |WHERE bit_count(xor(simhash_a, simhash_b)) <= $maxHamming
       |ORDER BY hamming, ia, ib LIMIT 200""".stripMargin


  /** The capped production-width band index over the `sig`+`sfx` CTE and
    * its self-join candidates (`bands`+`sfx` → `cand`+`sfx`) — the
    * [[DedupOps.wideBandCandidates]] mirror, shared by the banded-pairs
    * mirror and the recall, band-gap and calibration censuses. */
  private[analytics] def wideCandDuck(sfx: String): String =
    s"""${bandsDuck(s"bands$sfx", s"sig$sfx", Nil, "bh", wideBandExprs, Some(SimhashBucketCap))},
       |${bandCandDuck(s"cand$sfx", s"bands$sfx", s"bands$sfx", selfJoin = true)}""".stripMargin


  /** The benchmark excerpt windows keyed by item (bx → bwt CTEs) — the
    * Duck twin of DedupOps.benchExcerptWindows, shared by BOTH
    * contamination mirrors so the two directions cannot drift. Expects a
    * `base` CTE in scope. */
  private[analytics] def benchWindowsDuck: String =
    s"""bx AS (
       |  SELECT doc_id AS bench_id, list_slice(toks, 5, 24) AS et
       |  FROM base WHERE doc_id % 89 = 7),
       |bwt AS (
       |  SELECT DISTINCT bench_id,
       |    unnest(list_transform(range(1, greatest(len(et) - 7, 0) + 1),
       |      i -> substr(md5(array_to_string(list_slice(et, i, i + 7), ' ')), 1, 16))) AS bw
       |  FROM bx)""".stripMargin


  /** 64-slice signature-agreement COUNT over `sig` aliases sa/sb — the
    * integer est_sim numerator, exposed separately for the calibration
    * census's exact BIGINT sums ([[wideMatches]]'s mirror). */
  private[analytics] def wideMatchesDuck: String =
    s"(${(0 until MinhashWidePerms).map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END").mkString(" + ")})"


  /** 64-slice signature-agreement estimate over `sig` aliases sa/sb —
    * the wide-MinHash est_sim expression shared by the banded-pairs and
    * incremental-probe mirrors. */
  private[analytics] def wideEstSimDuck: String =
    s"$wideMatchesDuck / $MinhashWidePerms.0"


  /** Blocked truth pairs with their integer Jaccard twentieth
    * (`(20·common) // union`) over [[shinglePairsDuck]]'s `pairs`/`sizes`
    * — [[jaccardBins]]' mirror, shared by the recall and calibration
    * census oracles. */
  private[analytics] def jaccardBinsDuck: String =
    """truth AS (
      |  SELECT p.ia, p.ib,
      |    (20 * common) // (sa.n + sb.n - common) AS bin
      |  FROM pairs p JOIN sizes sa ON p.ia = sa.doc_id
      |    JOIN sizes sb ON p.ib = sb.doc_id)""".stripMargin


  /** The k-round BPE training CTE chain (tok→p1→t1→m1→…→pk→tk→mk) over
    * `base` — round r's census (p_r), 1-row argmax (t_r, columns mp/n),
    * and merge-applied stream (m_r, sentinel chr([[BpeSentinelBase]]+r−1))
    * — shared by the txt_bpe_vocab and txt_bpe_encode mirrors so the
    * trainer and encoder oracles read ONE merge-table definition, exactly
    * as the Spark sides share [[bpeMergeTable]]. Unreferenced trailing
    * CTEs (e.g. m_k under the vocab entry) are pruned by DuckDB. */
  private[analytics] def bpeRoundsDuck(k: Int): String = {
    val census = (src: String, out: String) =>
      s"""$out AS (
         |  SELECT unnest(list_transform(range(1, greatest(length(t) - 1, 0) + 1),
         |    i -> substr(t, i, 2))) AS pair
         |  FROM $src)""".stripMargin
    val top = (src: String, out: String) =>
      s"""$out AS (
         |  SELECT pair AS mp, count(*) AS n FROM $src GROUP BY pair
         |  ORDER BY count(*) DESC, pair LIMIT 1)""".stripMargin
    val merge = (src: String, topN: String, out: String, r: Int) =>
      s"""$out AS (
         |  SELECT replace(t, (SELECT mp FROM $topN), chr(${BpeSentinelBase + r - 1})) AS t
         |  FROM $src)""".stripMargin
    val rounds = (1 to k).map { r =>
      val src = if (r == 1) "tok" else s"m${r - 1}"
      Seq(census(src, s"p$r"), top(s"p$r", s"t$r"), merge(src, s"t$r", s"m$r", r))
    }
    s"""tok AS (
       |  SELECT unnest(toks) AS t FROM base),
       |${rounds.flatten.mkString(",\n")}""".stripMargin
  }


  /** Classifier feature+score CTE pair (clf_f→clf_s) over `base`, the ONE
    * mirror site for the linear head's weights (+4 stop / −2 short / −3
    * long / −2 repeat), feature thresholds (≤2 / ≥12 chars), and stopword
    * list — shared by txt_classifier and dd_dedup_keep_best, matching the
    * Spark side's single [[classifierScored]] kernel. */
  private[analytics] def classifierScoredDuck: String = {
    val stopsIn = classifierStops.map(w => s"'$w'").mkString(", ")
    s"""clf_f AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_toks,
       |    CAST(len(list_filter(toks, t -> t IN ($stopsIn))) AS BIGINT) AS n_stop,
       |    CAST(len(list_filter(toks, t -> length(t) <= 2)) AS BIGINT) AS n_short,
       |    CAST(len(list_filter(toks, t -> length(t) >= 12)) AS BIGINT) AS n_long,
       |    CAST(len(toks) - len(list_distinct(toks)) AS BIGINT) AS n_rep
       |  FROM base),
       |clf_s AS (
       |  SELECT doc_id, n_toks, n_stop, n_short, n_long, n_rep,
       |    (n_toks + 4 * n_stop - 2 * n_short - 3 * n_long - 2 * n_rep)
       |      / nullif(n_toks, 0) AS score
       |  FROM clf_f)""".stripMargin
  }


  /** The shared chunk-derivation + running-total packing chain (c → x →
    * r → packed), DuckDB text, parameterized over the per-shard window
    * order — ONE definition for txt_pack (arrival order), txt_pack_ffd
    * (length-descending), and both sides of txt_pack_report. Requires
    * `base` ([[baseDuck]]) in scope; `sfx` disambiguates CTE names when
    * two instantiations share one WITH. Mirrors [[packBySequence]]. */
  private[analytics] def packSeqDuck(order: String, sfx: String): String =
    s"""c$sfx AS (
       |  SELECT doc_id, lang,
       |    list_transform(range(0, greatest(CAST(ceil(len(toks) / 32.0) AS INT), 1)),
       |      i -> least(greatest(len(toks) - i * 32, 0), 32)) AS sizes
       |  FROM base),
       |x$sfx AS (
       |  SELECT doc_id, lang,
       |    unnest(range(0, len(sizes))) AS chunk_idx,
       |    unnest(sizes) AS n_toks
       |  FROM c$sfx),
       |r$sfx AS (
       |  SELECT lang, n_toks,
       |    sum(n_toks) OVER (PARTITION BY lang ORDER BY $order
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM x$sfx),
       |packed$sfx AS (
       |  SELECT lang, CAST((cum - n_toks) // 64 AS BIGINT) AS seq_id,
       |    count(*) AS n_chunks, CAST(sum(n_toks) AS BIGINT) AS n_toks_total
       |  FROM r$sfx
       |  GROUP BY lang, (cum - n_toks) // 64)""".stripMargin


  /** The cosine of embeddings `a` and `b` over their stored squared
    * norms `an` and `bn`: the left-associated [[dot]] chain over
    * sqrt(an * bn), the Duck form of the Spark side's
    * dot_f(a, b) / sqrt(an * bn). */
  private[analytics] def cosDuck(a: String, an: String, b: String, bn: String): String =
    s"(${dot(a, b, 1)}) / sqrt($an * $bn)"


  /** The cosine rank window of every vector-index mirror: numbers the
    * rows of each `part` 1, 2, … by (`score` DESC, `tie` ASC), the order
    * of [[nearestCell]], [[probeCells]] and [[exactTop5]] (an exact tie
    * keeps the lower `tie`). */
  private[analytics] def cosRankDuck(part: String, score: String, tie: String): String =
    s"row_number() OVER (PARTITION BY $part ORDER BY $score DESC, $tie)"


  /** The nearest-cell CTE, the Duck twin of [[nearestCell]] and
    * [[probeCells]]. `name` ranks, for each row m of `members` (vec_id,
    * embedding, nrm, …) that passes `filter` (a predicate over m's
    * columns, or ""), the centroids c of `cents` (cent_id, cemb, cnrm) by
    * cosine, and keeps ranks 1 to `depth` as `cols`: a projection over
    * m's columns, `cent_id` and the rank `ark`. With `by` = (member key,
    * centroid key) a member ranks only the centroids of its own key. */
  private[analytics] def nearestCellDuck(name: String, members: String, cents: String,
      filter: String = "", cols: String = "vec_id, embedding, nrm, cent_id AS cell",
      depth: Int = 1, by: Option[(String, String)] = None): String = {
    val join = by.fold(s"CROSS JOIN $cents c") { case (mk, ck) => s"JOIN $cents c ON m.$mk = c.$ck" }
    val where = if (filter.isEmpty) "" else s" WHERE $filter"
    val rank = cosRankDuck("m.vec_id", cosDuck("m.embedding", "m.nrm", "c.cemb", "c.cnrm"), "c.cent_id")
    s"""$name AS (
       |  SELECT $cols FROM (
       |    SELECT m.*, c.cent_id, $rank AS ark
       |    FROM $members m $join$where)
       |  WHERE ark <= $depth)""".stripMargin
  }


  /** The top-k tail, the Duck twin of [[exactTop5]]: `name` keeps, for
    * each qid of `src` (a FROM item of (qid, cid, `carry`…, `score`)
    * rows), its first `depth` rows by (`score` DESC, cid) as (qid, cid,
    * `carry`…, `score`, rk). Depth 5 is every emitted top-5; the
    * re-rank shortlists take [[PqRerankDepth]]. */
  private[analytics] def top5Duck(name: String, src: String, score: String,
      carry: Seq[String] = Nil, depth: Int = 5): String =
    s"""$name AS (
       |  SELECT * FROM (
       |    SELECT qid, cid${carry.map(", " + _).mkString}, $score,
       |      ${cosRankDuck("qid", score, "cid")} AS rk
       |    FROM $src)
       |  WHERE rk <= $depth)""".stripMargin


  /** The first-k IVF quantizer chain (e → cents → ass → cell), the
    * [[ivfAssignTable]] mirror: the full corpus assigned to the k
    * lowest-id vectors. `ass` holds each vector's two nearest cells as
    * (vec_id, embedding, nrm, cell, ark), `cell` the nearest one. Read by
    * sim_ivf, sim_ivf_nprobe2, sim_ivf_recall, sim_ivf_balance,
    * dd_semdedup, dd_semdedup_keep and the PQ family
    * ([[ivfPqPairsDuckN]]); the serve-path mirrors build their index
    * with the same [[nearestCellDuck]] over the corpus centroids of
    * [[serveECentsDuck]]. Requires `params` ([[paramsDuck]]) in scope. */
  private[analytics] lazy val ivfCellChainDuck: String =
    s"""$eNrmDuck,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm
       |  FROM e WHERE vec_id < (SELECT k FROM params)),
       |${nearestCellDuck("ass", "e", "cents", cols = "vec_id, embedding, nrm, cent_id AS cell, ark", depth = 2)},
       |cell AS (SELECT vec_id, embedding, nrm, cell FROM ass WHERE ark = 1)""".stripMargin


  /** The (qid, cid, cos_exact) pairs of an IVF cell scan, as a FROM item:
    * each sampled query (vec_id % 50 = 0) of `q` with every other member
    * of `cells` in one of its cells. Both carry (vec_id, embedding, nrm,
    * cell). */
  private[analytics] def cellPairsDuck(q: String, cells: String): String =
    s"""(
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      ${cosDuck("q.embedding", "q.nrm", "c.embedding", "c.nrm")} AS cos_exact
       |    FROM $q q JOIN $cells c
       |      ON q.cell = c.cell AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)""".stripMargin


  /** The norm-carrying embedding CTE (`e`) — the opener shared by
    * [[ivfCellChainDuck]] and the k-means mirror (both quantizer chains
    * must read the identical base when one query hosts both). */
  private[analytics] def eNrmDuck: String =
    s"""e AS (
       |  SELECT vec_id, embedding, ${dot("embedding", "embedding", 1)} AS nrm
       |  FROM embeddings)""".stripMargin


  /** The k-means-refined quantizer chain (cents0→m0→ rounds →cell1),
    * DuckDB text, requiring `e`/`params` in scope — [[ivfKmeansAssignment]]'s
    * mirror (sampled Lloyd rounds, integer-quantized component sums),
    * hoisted out of the sim_ivf_kmeans entry so the balance census reads
    * the SAME chain. The static SQL unrolls all [[KmRounds]] rounds; the
    * Spark builder's fixed-point early stop is result-identical. */
  private[analytics] def kmCellChainDuck: String = {
    val sample = "vec_id % 5 = 0"
    val members = "vec_id, embedding, cent_id AS cell"
    val rounds = (1 to KmRounds).map { r =>
      val sums = s"""cents$r AS (
        |  SELECT cell, $kmSumsVecDuck
        |  FROM m${r - 1} GROUP BY cell),
        |cn$r AS (SELECT cell AS cent_id, svec AS cemb, ${dot("svec", "svec", 1)} AS cnrm FROM cents$r)""".stripMargin
      if (r < KmRounds) sums + ",\n" + nearestCellDuck(s"m$r", "e", s"cn$r", sample, members) else sums
    }
    s"""cents0 AS (
       |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm
       |  FROM e WHERE vec_id < (SELECT k FROM params)),
       |${nearestCellDuck("m0", "e", "cents0", sample, members)},
       |${rounds.mkString(",\n")},
       |${nearestCellDuck("cell1", "e", s"cn$KmRounds")}""".stripMargin
  }


  /** The bucketed embedding table (vec_id, embedding, nrm, bucket),
    * DuckDB text — ONE definition for the three hyperplane-LSH oracles
    * and the LSH recall census (the [[annBucketTable]] mirror). Requires
    * `params` in scope. */
  private[analytics] lazy val annEDuck: String =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    ${dot("embedding", "embedding", 1)} AS nrm,
       |    ${bucketExpr("embedding", 1)} AS bucket
       |  FROM embeddings)""".stripMargin


  /** Brute-force truth (q → truth): the capped query sample's exact
    * top-5 as (qid, cid, cos, rk) — shared by sim_topk_cosine and both
    * recall-census oracles. Requires an `e` CTE with (vec_id, embedding,
    * nrm) in scope. */
  private[analytics] lazy val bruteTruthDuck: String = {
    val pairs = s"""(
      |    SELECT q.vec_id AS qid, c.vec_id AS cid,
      |      ${cosDuck("q.embedding", "q.nrm", "c.embedding", "c.nrm")} AS cos
      |    FROM q JOIN e c ON q.vec_id <> c.vec_id)""".stripMargin
    s"""q AS (
       |  SELECT vec_id, embedding, nrm FROM e
       |  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT $SimQueryCap),
       |${top5Duck("truth", pairs, "cos")}""".stripMargin
  }


  /** The three LSH probing radii as (qid, qe, qn, probe) sources over the
    * bucketed `e` — radius 0 probes the home bucket, radius 1 adds the
    * 1-bit flips, radius 2 the [[probe2Masks]] set; each sliced to the
    * dir's plane count exactly as the base oracles do. */
  private[analytics] lazy val annQHomeDuck: String =
    "SELECT vec_id AS qid, embedding AS qe, nrm AS qn, bucket AS probe " +
      "FROM e WHERE vec_id % 50 = 0"

  private[analytics] lazy val annQMultiDuck: String =
    "SELECT vec_id AS qid, embedding AS qe, nrm AS qn, " +
      s"unnest(([bucket${(0 until MaxPlanes).map(p => s", xor(bucket, ${1 << p})").mkString}])[1:1+(SELECT pl FROM params)]) AS probe " +
      "FROM e WHERE vec_id % 50 = 0"

  private[analytics] lazy val annQProbe2Duck: String =
    "SELECT vec_id AS qid, embedding AS qe, nrm AS qn, " +
      s"unnest(([${probe2Masks(MaxPlanes).map(m => if (m == 0) "bucket" else s"xor(bucket, $m)").mkString(", ")}])[1:(SELECT 1 + pl + (pl*(pl-1))//2 FROM params)]) AS probe " +
      "FROM e WHERE vec_id % 50 = 0"


  /** The exact top-5 of the LSH candidates of one probing radius
    * (`ranked$sfx`), generic over the probe source — ONE definition for
    * the three base oracles (sfx = "") and the recall census (suffixed). */
  private[analytics] def annRankedDuck(sfx: String, qSrc: String): String =
    top5Duck(s"ranked$sfx",
      s"""(
         |    SELECT q.qid, c.vec_id AS cid,
         |      ${cosDuck("q.qe", "q.qn", "c.embedding", "c.nrm")} AS cos_exact
         |    FROM ($qSrc) q JOIN e c ON q.probe = c.bucket AND q.qid <> c.vec_id)""".stripMargin,
      "cos_exact")


  /** Shared CTE body of the IVF-PQ oracles (everything through the ADC
    * `pairs`), mirroring [[ivfPqAdcPairs]]: coarse cells as in sim_ivf,
    * then [[pqChainDuck]] over the first [[PqCodes]] vectors' codebook. */
  private[analytics] lazy val ivfPqPairsDuck: String = ivfPqPairsDuckN(PqCodes)


  /** The CTE body generalized over the code width — the codebook CTE keeps
    * first-`nCodes` selection and the ADC lookup stride becomes `nCodes`,
    * exactly mirroring [[ivfPqAdcPairsWith]]. */
  private[analytics] def ivfPqPairsDuckN(nCodes: Int): String =
    s"""$ivfCellChainDuck,
       |${pqChainDuck(nCodes, "")}""".stripMargin


  /** The PQ encode + ADC chain alone (cb→enc→enc_rk→codes→qpart→qtab→
    * pairs, every CTE `sfx`-suffixed), generic over code width and
    * WITHOUT the cell chain — so the code-width recall census can
    * instantiate TWO widths over one shared [[ivfCellChainDuck]]. The
    * codebook is the first `nCodes` vectors, code = vec_id. Requires
    * `e`/`cell` in scope. */
  private[analytics] def pqChainDuck(nCodes: Int, sfx: String): String =
    s"""cb$sfx AS (SELECT vec_id AS code, embedding FROM e WHERE vec_id < $nCodes),
       |${pqEncodeDuck(sfx, s"cb$sfx")},
       |${adcTableDuck(sfx, s"cb$sfx", "vec_id % 50 = 0")},
       |pairs$sfx AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, ${adcCosDuck(nCodes, "q.nrm")} AS cos_adc
       |  FROM cell q JOIN cell c
       |    ON q.cell = c.cell AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
       |  JOIN qtab$sfx t ON t.qid = q.vec_id
       |  JOIN codes$sfx k2 ON k2.vec_id = c.vec_id)""".stripMargin


  /** The serve index's PQ codebook (`scb`): the first [[PqCodes]] corpus
    * (vec_id % 4 <> 3) vectors, code = rank in vec_id order from 0. */
  private[analytics] def serveCodebookDuck: String =
    s"""scb AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS code, embedding
       |  FROM (SELECT vec_id, embedding FROM e WHERE vec_id % 4 <> 3
       |        ORDER BY vec_id LIMIT $PqCodes))""".stripMargin


  /** The PQ encode chain (enc → enc_rk → codes, `sfx`-suffixed), the Duck
    * twin of [[pqEncode]]: each vector of `e` that passes `filter` (a
    * predicate over e's columns, or "") takes, per subspace s, the
    * codebook `cb` (code, embedding) entry with the least (d, code),
    * d = cc − 2·sub·cent. One UNION ALL branch per subspace, so every
    * array index is a literal. `codes` holds (vec_id, codes[PqM]). */
  private[analytics] def pqEncodeDuck(sfx: String, cb: String, filter: String = ""): String = {
    val where = if (filter.isEmpty) "" else s" WHERE $filter"
    s"""enc$sfx AS (
       |${(0 until PqM).map { s =>
           val b = s * PqSub + 1
           s"""  SELECT v.vec_id, $s AS s, c.code,
              |    (${pqDot("c.embedding", "c.embedding", b)}) - 2 * (${pqDot("v.embedding", "c.embedding", b)}) AS d
              |  FROM e v CROSS JOIN $cb c$where""".stripMargin
         }.mkString("\n  UNION ALL\n")}),
       |enc_rk$sfx AS (
       |  SELECT vec_id, s, code,
       |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, code) AS erk
       |  FROM enc$sfx),
       |codes$sfx AS (
       |  SELECT vec_id, list(code ORDER BY s) AS codes
       |  FROM enc_rk$sfx WHERE erk = 1 GROUP BY vec_id)""".stripMargin
  }


  /** The per-query ADC tables (qpart → qtab, `sfx`-suffixed): for each
    * vector of `e` that passes `filter`, the sub·cent partial dot of
    * every (subspace, `cb` code) in (s, code) order, as one list. */
  private[analytics] def adcTableDuck(sfx: String, cb: String, filter: String): String =
    s"""qpart$sfx AS (
       |${(0 until PqM).map { s =>
           val b = s * PqSub + 1
           s"""  SELECT q.vec_id AS qid, $s AS s, c.code,
              |    (${pqDot("q.embedding", "c.embedding", b)}) AS part
              |  FROM e q CROSS JOIN $cb c WHERE $filter""".stripMargin
         }.mkString("\n  UNION ALL\n")}),
       |qtab$sfx AS (
       |  SELECT qid, list(part ORDER BY s, code) AS qtab
       |  FROM qpart$sfx GROUP BY qid)""".stripMargin


  /** The ADC cosine of a (query, code row) pair: [[PqM]] lookups into
    * the query's qtab `t` at the candidate's codes `k2`, summed
    * left-to-right over sqrt(`qn` * c.nrm) — the query's and the stored
    * candidate's exact norms. */
  private[analytics] def adcCosDuck(nCodes: Int, qn: String): String =
    s"(${(0 until PqM).map(s => s"(t.qtab[($s * $nCodes + k2.codes[${s + 1}]) + 1])").mkString(" + ")})" +
      s" / sqrt($qn * c.nrm)"


  /** The exact re-rank of an ADC shortlist (short → rer → ranked), the
    * twin of [[simIvfPqRerank]]: `short` keeps each query's first
    * [[PqRerankDepth]] `pairs` by (cos_adc DESC, cid), `rer` scores them
    * with exact cosines over `e`, and `ranked` holds the exact top 5.
    * `carry` columns of `pairs` ride along. */
  private[analytics] def pqRerankDuck(carry: Seq[String] = Nil): String =
    s"""${top5Duck("short", "pairs", "cos_adc", carry, PqRerankDepth)},
       |rer AS (
       |  SELECT s.*, ${cosDuck("q.embedding", "q.nrm", "c.embedding", "c.nrm")} AS cos_exact
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.qid
       |  JOIN e c ON c.vec_id = s.cid),
       |${top5Duck("ranked", "rer", "cos_exact", carry)}""".stripMargin


  /** The full per-query oracle map, assembled from the four family
    * traits (one map per family, matching the ops traits). Lazy:
    * trait-init order must not matter. */
  lazy val duckdb: Map[String, String] =
    txtOracleMap ++ ddOracleMap ++ simOracleMap ++ ingestOracleMap


  private[analytics] def minhashSliceCols: String =
    (0 until 8).map { j =>
      val (h, off) = if (j < 4) ("h1", j) else ("h2", j - 4)
      s"min(substr($h, ${1 + 8 * off}, 8)) AS mh$j"
    }.mkString(", ")


  private[analytics] def minhashSigDuck: String =
    s"""WITH $baseDuck, sh AS (
       |  SELECT doc_id, md5(unnest($shinglesDuck)) AS h1, md5('x' || unnest($shinglesDuck)) AS h2 FROM base)
       |SELECT doc_id, $minhashSliceCols
       |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin


  /** 64 min-slice aggregates over the 16 seeded digests h0..h15 — the
    * DuckDB mirror of the 64-perm wide signature's slicing
    * ([[minhashWideSig]]). */
  private[analytics] def minhashWideSliceCols: String = minhashWideSliceColsN(64)


  private[analytics] def minhashWideSliceColsN(perms: Int): String =
    (0 until perms).map(j => s"min(substr(h${j / 4}, ${1 + 8 * (j % 4)}, 8)) AS mh$j")
      .mkString(", ")


  private[analytics] def minhashWideSigDuck: String = minhashWideSigDuckN(64)


  /** The signature-table mirror generalized over permutation count —
    * perms/4 seeded digests, [[minhashWideSliceColsN]] slicing. */
  private[analytics] def minhashWideSigDuckN(perms: Int): String =
    s"""WITH $baseDuck, sh AS (
       |  SELECT doc_id, unnest($shinglesDuck) AS s FROM base),
       |h AS (
       |  SELECT doc_id, ${(0 until perms / 4).map(d => s"md5('w$d:' || s) AS h$d").mkString(", ")}
       |  FROM sh)
       |SELECT doc_id, ${minhashWideSliceColsN(perms)}
       |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
