package graft.analytics

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (dd_*): exact/URL/Jaccard/containment,
  * MinHash+LSH (8/64/128-perm), SimHash, clusters, passages, lines,
  * contamination, embedding near-dup. Mixed into [[LlmOps]]. */
private[analytics] trait DedupOps {
  this: OpsKernels with TxtOps with SimOps with IngestOps with LlmOracles =>


  // ---------------------------------------------------------------- dedup


  /** Exact dedup: hash-groupBy on content; emit canonical (min doc_id) per
    * distinct text + multiplicity. One shuffle on the content hash. */
  def ddExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))


  /** N-gram Jaccard near-dup detection, blocked on (lang, length-bucket):
    * shingle-join within blocks → common counts → |A∩B| / |A∪B|. */
  def ddNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsFull02(spark, dir)
      .orderBy(col("jaccard").desc, col("ia"), col("ib"))
      .limit(200)


  /** DIRECTED CONTAINMENT near-dup detection — the asymmetric companion
    * to [[ddNgramJaccard]]: C(A→B) = |A∩B| / |A|, the fraction of A's
    * shingles present in B (Broder's containment, vs resemblance).
    * Symmetric Jaccard structurally misses subset duplication — a doc
    * quoted whole inside a much longer one scores |A|/|B| ≈ 0 — and the
    * jaccard family's (lang, length-bucket) blocking cannot even
    * CANDIDATE a cross-length pair, so this query builds its own pairs:
    * lang-blocked only, letting short meet long. What bounds the
    * self-join without the length block: the [[StopShingleCap]] (fanout
    * ≤ Σ df² with df ≤ cap), the ':jpair' doc ladder, and — past the
    * 60k-doc rung — the df-weighted shingle-universe ladder (see
    * [[buildContainmentPairs]]): the synthetic corpus draws from a
    * CLOSED vocabulary, so typical shingle df grows with corpus size
    * (~70 at 100k docs, approaching the cap at 500k) and the unthinned
    * Σ df² build is QUADRATIC in N (measured ~245M join rows at sf2,
    * 376 s at sf10 even doc-sampled). A lower df cap is NOT a fix (at
    * sf2 even the true subset pairs' shared shingles sit above df 20, so
    * capping the COUNTING universe harder empties the answer — measured,
    * not guessed) and prefix filtering (PPJoin) was evaluated and
    * rejected (on this flat df distribution the rarest-half prefix still
    * leaves ~105M candidates). What works is thinning TYPES with
    * keep-probability min(1, B/df) and computing the ratio over the kept
    * universe on both sides: join mass becomes ≤ B·Σdf (linear), subset
    * pairs keep containment exactly 1.0, and [[ddContainmentThin]] is
    * the oracle-checked account of what the ladder kept. On an
    * open-vocabulary web corpus the df mass inverts (most shingles
    * near-unique) and the ladder keeps nearly everything; the bound is
    * the worst-case guard either way. Same kernel-hashed 8-byte join
    * keys; pairs are DIRECTED (a ≠ b, both orders) because containment
    * is. */
  def ddContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spark, dir)
      .orderBy(col("containment").desc, col("ia"), col("ib"))
      .limit(200)


  /** Thin-ladder ACCOUNTING for the containment build — the no-silent-caps
    * rule applied to [[buildContainmentPairs]]'s df-weighted shingle
    * ladder (the dd_band_gap / dd_incremental_capped convention): one row
    * per corpus stating whether thinning is active, the kept-source noise
    * floor in force, and the exact funnel — type counts, instance mass,
    * and the Σdf² join-row bound — before and after the ladder. Both
    * engines compute the row from the same df census with the same
    * integer draw, so a drifted ladder constant or salt breaks THIS row's
    * hash-match before it can silently skew the pair census. Cost: one
    * shingle scan + a types-sized aggregate, constant output. */
  def ddContainmentThin(spark: SparkSession, dir: String): DataFrame =
    containmentThinCensus(spark, dir, corpusDocCount(spark, dir) > CThinMinDocs)


  /** [[ddContainmentThin]]'s row with the ladder's state given: `active`
    * is whether the types are thinned (the query passes the corpus rung). */
  private[analytics] def containmentThinCensus(spark: SparkSession, dir: String,
      active: Boolean): DataFrame = {
    // same memo key as the state build — whichever runs first pays the
    // one shingle pass, the other reads the checkpointed types-sized leaf
    val dfc = memo(spark, dir, "containment_dfc") {
      checkpointLeaf(spark, Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), explode_outer(shingleHash(col("text"))).as("s"))
        .filter(col("s").isNotNull)
        .groupBy(col("s"), col("lang")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= StopShingleCap))
    }
    val keptCol = if (active) expr(cthinKeepPred) else lit(true)
    dfc.select(col("df"), keptCol.as("kept"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_types_kept"),
        sum(col("df")).as("inst_capped"),
        sum(when(col("kept"), col("df")).otherwise(0L)).as("inst_kept"),
        sum(col("df") * col("df")).as("joinrows_capped"),
        sum(when(col("kept"), col("df") * col("df")).otherwise(0L)).as("joinrows_kept"))
      .withColumn("thin_active", lit(active))
      .withColumn("kept_floor", lit(if (active) CThinKeptFloor else 0L))
  }


  // --------------------------------------------------------- URL-stage dedup


  /** Synthetic crawl URL for a document, derived IN-QUERY: the driver's
    * documents schema carries no url column, so the cheapest first gate of
    * a web-corpus pipeline (RefinedWeb §3.2 and CCNet both dedup by
    * normalized URL BEFORE any content hash) is rehearsed on a
    * deterministic URL synthesized from doc_id — one SQL fragment, valid
    * VERBATIM in both engines (BIGINT-safe integer arithmetic, `||`
    * concat, and regexes written with `[.]`/`[?]` character classes so no
    * backslash ever hits the two dialects' different string-literal
    * escaping). Page identity `pid` is doc_id, except doc_id ≡ 5 (mod 13)
    * re-crawls its predecessor's page (~7.7% planted duplicates — host and
    * path derive from pid, so the two fetches share a page); the MESSY
    * presentation derives from doc_id, so the two fetches of one page
    * differ in scheme (http/https), `www.` prefix, host case, trailing
    * slash, `?utm_...` tracking query, and `#fragment` — exactly the noise
    * URL normalization must erase. Hosts are geometrically hot (host 0
    * carries ~50% of all URLs via the pid%1024 bucket CASE) so the
    * per-host census sees a genuinely skewed key. */
  private[analytics] lazy val urlPidSql = "CASE WHEN doc_id % 13 = 5 THEN doc_id - 1 ELSE doc_id END"

  private[analytics] lazy val urlRawSql: String = {
    val hid = "(CASE WHEN pid % 1024 < 512 THEN 0 WHEN pid % 1024 < 768 THEN 1" +
      " WHEN pid % 1024 < 896 THEN 2 WHEN pid % 1024 < 960 THEN 3" +
      " WHEN pid % 1024 < 992 THEN 4 WHEN pid % 1024 < 1008 THEN 5" +
      " WHEN pid % 1024 < 1016 THEN 6 WHEN pid % 1024 < 1020 THEN 7" +
      " WHEN pid % 1024 < 1022 THEN 8 ELSE 9 END)"
    val host = s"('h' || CAST($hid AS STRING) || '.example.com')"
    s"(CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END || '://' || " +
      s"CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END || " +
      s"CASE WHEN doc_id % 8 = 3 THEN upper($host) ELSE $host END || " +
      s"'/p/' || CAST(pid AS STRING) || " +
      s"CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || " +
      s"CASE WHEN doc_id % 4 = 1 THEN '?utm_source=feed&ref=rss' ELSE '' END || " +
      s"CASE WHEN doc_id % 9 = 2 THEN '#top' ELSE '' END)"
  }

  /** URL NORMALIZATION — the operator under test: lowercase, strip scheme,
    * `www.` prefixes, fragment, query string, trailing slashes (in that
    * order; the fragment strip precedes the query strip because `#...`
    * follows `?...` in a URL). Anchored single-occurrence patterns, so
    * Spark's replace-all and DuckDB's replace-first semantics coincide
    * (`(www[.])+` and `/+` are one anchored MATCH each, greedy in both
    * RE2-style engines). The repeated forms make normalization
    * IDEMPOTENT — a host like `www.www.example.com` or a path ending
    * `//` would otherwise lose one layer per pass, and a frontier built
    * from re-normalized URLs would drift (PropertySpec pins
    * norm∘norm = norm over generated messy URLs). The idempotency
    * contract assumes SCHEME-FIRST input — any URL a fetcher actually
    * dereferences; a pathological `www.http://x.com` (scheme hidden
    * behind a www label) still loses a layer per pass, by design. */
  private[graft] lazy val urlNormSql =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "lower(url), '^https?://', ''), '^(www[.])+', ''), '#.*$', ''), '[?].*$', ''), '/+$', '')"


  /** Host extraction over the normalized URL — ONE fragment shared
    * verbatim by both engines and every host-keyed query (the census
    * [[ddUrlHosts]], the cap [[ddHostCap]], and their DuckDB oracles), so
    * the host-key definition cannot silently fork across the four sites. */
  private[analytics] lazy val hostOfSql = "split_part(url_norm, '/', 1)"


  /** Robots/license OPT-OUT host list — the governance gate a crawl runs
    * before anything else (robots.txt disallow, noai/TDM-reservation
    * headers, and publisher opt-out registries all resolve to "this HOST
    * is off limits"): a small per-host policy table, planted
    * deterministically on the url family's fixed host universe (h0–h9,
    * geometrically hot) as hid ≡ 2 (mod 3) → h2/h5/h8, ~14.6% of fetches
    * via the pid%1024 bucket CASE. ONE literal list shared verbatim by
    * the Spark census, the funnel flags, and the Duck mirrors — in
    * production this is a broadcast policy table keyed by host; at 3
    * constant rows the IN-list IS that broadcast. */
  private[analytics] lazy val optoutHostsSql =
    "('h2.example.com', 'h5.example.com', 'h8.example.com')"


  /** The URL family's held-out-batch / frontier split — ONE pair of
    * negated fragments (the takedownSql convention) shared by the two
    * incremental gates, the frontier state, the takedown census, and
    * their Duck mirrors; a drifted copy of this predicate would let the
    * census and the state it claims to census disagree while every
    * oracle stayed green. */
  private[analytics] lazy val urlBatchPredSql = "doc_id % 4 = 3"
  private[analytics] lazy val urlFrontierPredSql = "doc_id % 4 <> 3"


  /** Shared derivation: doc_id → (doc_id, url, url_norm). Spec-visible so
    * the planted twins' RAW urls can be asserted messy. */
  private[graft] def urlNormalized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", s"$urlPidSql AS pid")
      .selectExpr("doc_id", s"$urlRawSql AS url")
      .selectExpr("doc_id", "url", s"$urlNormSql AS url_norm")


  /** URL-STAGE exact dedup — one row per normalized URL with the kept
    * fetch (min doc_id, crawl-frontier convention) and the duplicate
    * count. Scale shape: a single hash aggregation keyed by the FULL
    * normalized URL — near-uniform key (the hot HOST is not a hot URL),
    * map-side combinable, shuffle bounded by the distinct-URL count; the
    * per-row derivation is pure codegen'd string/integer work in the scan
    * projection. This is the gate that runs before any content
    * fingerprint at 100 TB: it needs no text read at all (a real crawl
    * would run it on the URL manifest alone). */
  def ddUrl(spark: SparkSession, dir: String): DataFrame =
    urlNormalized(spark, dir)
      .groupBy(col("url_norm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .withColumn("n_dropped", col("n_docs") - lit(1L))
      .orderBy(col("url_norm"))


  /** INCREMENTAL URL-stage dedup — the batch admission contract sitting
    * after the corpus-wide gate ([[ddUrl]]): a re-crawl
    * BATCH arrives and each fetch is admitted iff its NORMALIZED URL is
    * not already on the frontier. The batch is every 4th fetch
    * (doc_id % 4 = 3 — the held-out convention the embedding serve paths
    * use), chosen over a prefix split deliberately: planted page-pairs
    * are adjacent ids, so a modular split makes pairs CROSS the
    * boundary at every SF (ids ≡ 31 and ≡ 43 mod 52 arrive with their
    * page already fetched) and the anti-join provably refuses fetches —
    * a prefix split would never collide and the gate would be vacuous.
    * At deployment the contract IS a left-anti join: the frontier lives
    * as a bucketed state table exactly like the fingerprint state
    * ([[IngestOps.ddIncrementalBucketed]]'s layout), where only the
    * arriving batch shuffles. HERE both sides derive from the same
    * documents scan, so an anti-join would read the parquet twice — the
    * q39 double-scan lesson (PLANS.md) folds it to ONE scan: a window
    * over the shared key counts frontier fetches per normalized URL, and
    * a batch fetch is admitted iff that count is zero. Same admission
    * set, one scan, one exchange. */
  def ddUrlIncremental(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("url_norm"))
    urlNormalized(spark, dir)
      .withColumn("n_frontier",
        sum(when(expr(urlFrontierPredSql), 1L).otherwise(0L)).over(w))
      .filter(expr(urlBatchPredSql) && col("n_frontier") === 0L)
      .select(col("doc_id"), col("url_norm"))
      .orderBy(col("doc_id"))
  }

  /** Incremental URL gate against a BUCKETED frontier table — the at-scale
    * form of [[ddUrlIncremental]] (same admission set, same oracle), the
    * URL-stage twin of [[IngestOps.ddIncrementalBucketed]], and the
    * EXECUTION of the deployment claim the single-scan gate's scaladoc
    * makes: the crawl frontier is materialized ONCE as a bucketed+sorted
    * saved table on url_norm, so the per-batch anti-join reads the
    * frontier side already hash-partitioned — the ONLY exchange is the
    * small arriving batch shuffling into the bucket layout. At 100 TB the
    * frontier is billions of URLs kept between crawl batches; never
    * re-shuffling it per batch is the point. MERGE hint pins the
    * sort-merge strategy the bucketing serves (the tiny test-SF frontier
    * would otherwise broadcast and the plan under test would vanish);
    * BucketingSpec asserts the single batch-side exchange. */
  def ddUrlIncrementalBucketed(spark: SparkSession, dir: String): DataFrame = {
    val t = frontierTable(spark, dir)
    urlNormalized(spark, dir)
      .filter(expr(urlBatchPredSql))
      .join(spark.table(t).hint("merge"), Seq("url_norm"), "left_anti")
      .select(col("doc_id"), col("url_norm"))
      .orderBy(col("doc_id"))
  }


  /** Idempotently materialize the crawl frontier (fetches outside the
    * mod-4 held-out batch, distinct normalized URL) bucketed+sorted on
    * url_norm — the shared [[OpsKernels.bucketedStateTable]] lifecycle,
    * same as the fingerprint state's. */
  private[analytics] def frontierTable(spark: SparkSession, dir: String): String =
    bucketedStateTable(spark, s"graft_frontier_bucketed_${Tables.dirTag(dir)}", "url_norm", dir, 8) {
      urlNormalized(spark, dir)
        .filter(expr(urlFrontierPredSql))
        .select(col("url_norm")).distinct()
    }


  /** Per-HOST crawl census — the dashboard row a frontier operator reads:
    * fetches, distinct pages, and re-crawled fetches per normalized host.
    * The host key is deliberately skewed (host 0 ≈ 50% of fetches); the
    * distinct count plans as Spark's TWO-PHASE distinct rewrite — a
    * partial aggregate keyed (host, url_norm) runs map-side BEFORE the
    * first exchange, and that exchange partitions on (host, url_norm) —
    * so the hot host never concentrates raw rows on one reducer
    * (PlanGuardSpec pins both properties). Constant-size output
    * (10 hosts here; O(hosts) in general). */
  def ddUrlHosts(spark: SparkSession, dir: String): DataFrame =
    urlNormalized(spark, dir)
      .select(expr(hostOfSql).as("host"), col("url_norm"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url_norm")).as("n_pages"))
      .withColumn("n_dup_docs", col("n_docs") - col("n_pages"))
      .orderBy(col("host"))


  /** Per-host contribution cap for [[ddHostCap]] — the "max pages per
    * domain" knob of C4-style corpus curation (Raffel et al. 2020 §2.2
    * caps; RefinedWeb §3.1 applies per-domain limits against SEO farms).
    * Small by design: the cap is the point. */
  private[analytics] lazy val HostCap = 16


  /** Per-HOST contribution CAP — keep at most [[HostCap]] fetches per
    * host (smallest doc_id = earliest-fetch convention), the anti-spam /
    * anti-SEO-farm gate that runs right after URL dedup in a web-corpus
    * pipeline. One row per kept fetch plus the per-host census columns.
    *
    * Scale shape — this query exists to get the SKEWED cap right: the
    * host key is deliberately hot (host 0 ≈ 50% of all fetches), and the
    * textbook `row_number() OVER (PARTITION BY host ...) <= k` would
    * ship half the corpus's rows to ONE reducer and sort them there just
    * to throw all but k away. Instead the custom
    * [[org.apache.spark.sql.graft.TopKMinAgg]] TypedImperativeAggregate
    * folds rows into an O(k) buffer MAP-SIDE, so the hot host crosses the
    * exchange as one 17-slot buffer per map partition — per-reducer work
    * is O(maps × k), independent of host skew (PlanGuardSpec pins the
    * no-Window, partial-ObjectHashAggregate plan). Output is
    * O(hosts × k). */
  def ddHostCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TopKBridge.topkMin
    urlNormalized(spark, dir)
      .select(expr(hostOfSql).as("host"), col("doc_id"))
      .groupBy(col("host"))
      .agg(topkMin(col("doc_id"), HostCap).as("kept"), count(lit(1)).as("n_docs"))
      .select(col("host"), col("n_docs"),
        least(col("n_docs"), lit(HostCap.toLong)).as("n_kept"),
        greatest(col("n_docs") - HostCap, lit(0L)).as("n_dropped"),
        explode(col("kept")).as("kept_id"))
      .orderBy(col("host"), col("kept_id"))
  }


  /** Cross-SOURCE near-duplicate overlap matrix — for each unordered
    * source pair, how many Jaccard-0.2 near-dup pairs straddle it (the
    * diagonal counts within-source duplication). This is the
    * cross-dump/cross-source overlap readout a multi-source corpus build
    * reports before choosing dedup order (CCNet dedups per dump then
    * across; RefinedWeb §3.2 reports inter-dump duplication) — it prices
    * what a per-source-only dedup would miss.
    *
    * Scale shape: composes the memoized block-bounded pair table (never
    * doc²), explodes each pair to its two member ids, and resolves both
    * sources in ONE scan of the (doc_id, source) projection — the pair
    * side is the small side of that join (AQE broadcasts it; no hint, the
    * pair count is data-dependent), and the two aggregations after it are
    * O(pairs) and O(sources²). A naive twin would join documents twice —
    * the q39 double-scan lesson (PLANS.md) applied at design time. */
  def ddSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pr = jaccardPairsFull02(spark, dir).select(col("ia"), col("ib"))
    val sides = pr.select(col("ia"), col("ib"),
      explode(array(col("ia"), col("ib"))).as("doc_id"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(sides, "doc_id")
      .groupBy(col("ia"), col("ib"))
      .agg(min(when(col("doc_id") === col("ia"), col("source"))).as("source_a"),
        min(when(col("doc_id") === col("ib"), col("source"))).as("source_b"))
      .select(least(col("source_a"), col("source_b")).as("src_a"),
        greatest(col("source_a"), col("source_b")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }


  /** CRAWL-ADMISSION FUNNEL — per-stage loss accounting for the
    * pre-content gates, [[TxtOps.txtCurationFunnel]]'s twin on the crawl
    * side (CCNet/RefinedWeb report exactly this table: how much of the
    * fetch volume each gate removes before any quality model runs):
    * fetched → URL dedup → host cap → exact dedup → near dedup, one row
    * per stage with survivors, drops, and the kept fraction of the raw
    * crawl. Gate definitions are the oracle-checked family conventions,
    * composed as FLAGS (each gate is defined globally and stable, so the
    * funnel is a read-out, not a re-derivation — the curation funnel's
    * convention): URL-kept = min doc_id per normalized URL ([[ddUrl]]),
    * host-kept = the [[HostCap]] smallest URL-KEPT ids per host (the
    * funnel caps PAGES post-URL-dedup; standalone [[ddHostCap]] caps raw
    * fetches — both real knobs, documented apart), exact-kept =
    * [[TxtOps.exactKeepFlag]]'s min-id-per-md5 group, near-drops =
    * [[nearDropSet]]'s Jaccard-0.8 set.
    *
    * Scale shape: ONE documents scan carries both per-row windows (f_u
    * on the near-uniform url_norm key, f_x on the md5-text key — the q39
    * window-over-the-same-scan shape); the host-kept side is a second
    * lineage but prunes to the doc_id column alone (every URL column is
    * doc_id-derived) and folds through the bounded map-side
    * [[org.apache.spark.sql.graft.TopKMinAgg]] to O(hosts × cap) rows
    * that ride an AQE-sized equi-join back (no data-dependent broadcast
    * hint); near-drops come from the memoized pair table. The stage fold
    * is txtCurationFunnel's single-aggregation + stack — no collect, no
    * per-stage jobs. */
  def ddCrawlFunnel(spark: SparkSession, dir: String): DataFrame = {
    val counts = crawlFlags(spark, dir)
      .agg(
        count(lit(1)).as("n0"),
        count(when(col("p1"), 1)).as("n1"),
        count(when(col("p2"), 1)).as("n2"),
        count(when(col("p3"), 1)).as("n3"),
        count(when(col("p4"), 1)).as("n4"),
        count(when(col("p5"), 1)).as("n5"))
    counts.select(
      expr("""stack(6,
        0L, 'fetched',     n0, n0,
        1L, 'optout',      n0, n1,
        2L, 'url_dedup',   n1, n2,
        3L, 'host_cap',    n2, n3,
        4L, 'exact_dedup', n3, n4,
        5L, 'near_dedup',  n4, n5) AS (stage_id, stage, n_in, n_kept)"""),
      col("n0"))
      .withColumn("n_dropped", col("n_in") - col("n_kept"))
      .withColumn("kept_frac", col("n_kept") / col("n0"))
      .select(col("stage_id"), col("stage"), col("n_in"), col("n_kept"),
        col("n_dropped"), col("kept_frac"))
      .orderBy(col("stage_id"))
  }


  /** The funnel's gate flags, ONE definition shared by the corpus-level
    * stage table ([[ddCrawlFunnel]]) and the per-source slice
    * ([[ddFunnelBySource]]): per doc — source, f_u (URL-kept), f_h
    * (host-cap kept among URL-kept; LONG 1/null from the join), f_x
    * (exact-kept), f_n (near-drop; LONG 1/null). Plan shape documented at
    * ddCrawlFunnel and pinned by PlanGuardSpec. */
  private[analytics] def crawlFlags(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TopKBridge.topkMin
    val hostKept = urlNormalized(spark, dir)
      .groupBy(col("url_norm")).agg(min(col("doc_id")).as("doc_id"))
      .select(expr(hostOfSql).as("host"), col("doc_id"))
      .groupBy(col("host")).agg(topkMin(col("doc_id"), HostCap).as("kept"))
      .select(explode(col("kept")).as("doc_id"), lit(1L).as("f_h"))
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "text", "source", s"$urlPidSql AS pid")
      .selectExpr("doc_id", "text", "source", s"$urlRawSql AS url")
      .selectExpr("doc_id", "text", "source", s"$urlNormSql AS url_norm")
      .withColumn("f_o", !expr(s"$hostOfSql IN $optoutHostsSql"))
      .withColumn("f_u", col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(col("url_norm"))))
      .withColumn("f_x", exactKeepFlag)
      .join(hostKept, Seq("doc_id"), "left")
      .join(nearDropSet(spark, dir).withColumn("f_n", lit(1L)),
        col("doc_id") === col("ib"), "left")
      // the CUMULATIVE stage predicates, defined once like the flags —
      // both readouts count these columns, so neither can fork a stage
      // composition on its own. The opt-out gate is FIRST: a compliant
      // crawler never fetches a disallowed host's pages, so every later
      // dedup stage only ever sees policy-admitted fetches. (The
      // downstream flags stay well-defined regardless of order — opt-out
      // is host-complete and every fetch of one url_norm shares its
      // host, so the min-id URL keep and the per-host cap pick the same
      // representatives among admitted docs either way.)
      .withColumn("p1", col("f_o"))
      .withColumn("p2", col("f_o") && col("f_u"))
      .withColumn("p3", col("f_o") && col("f_u") && col("f_h").isNotNull)
      .withColumn("p4", col("f_o") && col("f_u") && col("f_h").isNotNull &&
        col("f_x"))
      .withColumn("p5", col("f_o") && col("f_u") && col("f_h").isNotNull &&
        col("f_x") && col("f_n").isNull)
  }


  /** Per-SOURCE crawl-funnel slice — the table a curation team actually
    * acts on: which source loses how much at each gate (RefinedWeb
    * reports removal rates per dump the same way). One row per source
    * with the survivor count after every stage and the end-to-end clean
    * fraction; the same global gate flags as [[ddCrawlFunnel]] (ONE
    * definition, [[crawlFlags]]), sliced by source instead of folded to
    * one row — so the two readouts can never disagree. O(sources)
    * output; one map-side-combinable aggregation. */
  def ddFunnelBySource(spark: SparkSession, dir: String): DataFrame =
    crawlFlags(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_fetched"),
        count(when(col("p1"), 1)).as("n_policy_kept"),
        count(when(col("p2"), 1)).as("n_url_kept"),
        count(when(col("p3"), 1)).as("n_host_kept"),
        count(when(col("p4"), 1)).as("n_exact_kept"),
        count(when(col("p5"), 1)).as("n_clean"))
      .withColumn("clean_frac", col("n_clean") / col("n_fetched"))
      .orderBy(col("source"))


  /** Robots/license OPT-OUT census — the governance readout published
    * next to takedown and PII: per normalized host, whether the
    * [[optoutHostsSql]] policy list excludes it and the doc/byte mass
    * behind the verdict, so "what did honoring opt-outs cost the corpus"
    * is a table, not a guess (docs AND bytes: the excluded byte mass is
    * what a storage/compute budget actually reclaims). Composed into the
    * admission funnel as its FIRST stage ([[crawlFlags]] p1), and this
    * census is the stage's accounting row set: LlmOpsSpec reconciles the
    * funnel's optout drop against the opted-out doc mass here. Scale
    * shape: one documents scan, URL columns derived in the projection
    * (doc_id-only + text byte length), one map-side-combinable aggregate
    * keyed by host — O(hosts) rows out at any corpus size; the skewed
    * host key concentrates post-combine partials, never raw rows. */
  def ddOptout(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "octet_length(text) AS n_bytes", s"$urlPidSql AS pid")
      .selectExpr("doc_id", "n_bytes", s"$urlRawSql AS url")
      .selectExpr("doc_id", "n_bytes", s"$urlNormSql AS url_norm")
      .selectExpr("doc_id", "n_bytes", s"$hostOfSql AS host")
      .withColumn("opted_out", expr(s"host IN $optoutHostsSql"))
      .groupBy(col("host"), col("opted_out"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes").cast("long")).as("n_bytes"))
      .orderBy(col("host"))


  // ------------------------------------------------------------- takedown


  /** Deterministic TAKEDOWN list — doc_id ≡ 11 (mod 23), the planted
    * convention of the family (quarantine damage %10, held-out batch %4,
    * serve tombstones %5, snapshot splits %7 — 23 is prime and coprime to
    * all of them, so the list intersects every derived state at every
    * SF). ONE fragment interpolated into the Spark filters AND the Duck
    * mirror, like the band/cap constants. */
  private[analytics] lazy val takedownSql = "doc_id % 23 = 11"


  /** ONE documents pass behind the doc-keyed takedown states: per doc —
    * the takedown flag, membership in the fingerprint state (doc_id <
    * [[IngestOps.IncrementalSplit]], the corpus split every incremental
    * query uses), and the token weight the shard manifest accounts in. */
  private[analytics] def takedownDocFlags(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", expr(toksSpark))
      .select(col("doc_id"), expr(takedownSql).as("gone"),
        (col("doc_id") < IncrementalSplit).as("in_fp"),
        size(col("toks")).cast("long").as("n_toks"))


  /** The incremental probe's capped band-state frame ((doc_id, band, bh)
    * rows) — the band_state rows the takedown census and the post-state
    * parity spec count. Reads the MEMOIZED [[incrCorpusBands]]: this is by
    * definition the same index table, so the band stack + bucket-cap
    * window is not paid again per call. */
  private[analytics] def takedownBandState(spark: SparkSession, dir: String): DataFrame =
    incrCorpusBands(spark, dir)


  /** The takedown's per-STATE flagged frames — (state_id, state, frame)
    * where each frame is (key, gone, w): every row the state physically
    * holds, whether the takedown removes it, and the unit it is accounted
    * in (rows everywhere; TOKENS for the shard manifest — the readout a
    * training plan needs). ONE kernel consumed by BOTH the census
    * ([[ddTakedown]]) and the post-state parity spec, so the counts
    * published and the rows actually deleted can never disagree.
    *
    *  - corpus: every document; gone = on the list.
    *  - fingerprints: the bucketed fingerprint state's rows (one per
    *    corpus-split doc). Physical-row semantics: a fp row leaves with
    *    its doc; content shared with a surviving doc keeps that doc's own
    *    row, so re-ingest admission is unaffected.
    *  - band_state: the incremental probe's capped LSH band rows
    *    ([[incrCorpusBands]]' (doc_id, band, bh) layout) — rows of
    *    taken-down docs leave; freed bucket slots refill at the next
    *    state rebuild, not here (the sim family's compact-vs-delete
    *    split).
    *  - frontier: a normalized URL leaves ONLY when every fetch that
    *    contributed it is taken down (bool_and) — a URL with a surviving
    *    holder must keep refusing re-crawls.
    *  - shard_manifest: the doc→shard assignment, weighted by tokens. */
  private[graft] def takedownStates(spark: SparkSession, dir: String): Seq[(Long, String, DataFrame)] = {
    val doc = takedownDocFlags(spark, dir)
    val corpus = doc.select(col("doc_id").cast("string").as("key"), col("gone"), lit(1L).as("w"))
    val fps = doc.filter(col("in_fp"))
      .select(col("doc_id").cast("string").as("key"), col("gone"), lit(1L).as("w"))
    val band = takedownBandState(spark, dir)
      .select(col("doc_id").cast("string").as("key"), expr(takedownSql).as("gone"), lit(1L).as("w"))
    val frontier = urlNormalized(spark, dir).filter(expr(urlFrontierPredSql))
      .groupBy(col("url_norm"))
      .agg(bool_and(expr(takedownSql)).as("gone"))
      .select(col("url_norm").as("key"), col("gone"), lit(1L).as("w"))
    val manifest = doc.select(col("doc_id").cast("string").as("key"), col("gone"), col("n_toks").as("w"))
    Seq((0L, "corpus", corpus), (1L, "fingerprints", fps), (2L, "band_state", band),
      (3L, "frontier", frontier), (4L, "shard_manifest", manifest))
  }


  /** TAKEDOWN propagation census — the right-to-be-forgotten pass a
    * production corpus legally needs: a deterministic deletion list
    * ([[takedownSql]]) is removed from the corpus AND every derived state
    * the pipeline keeps (content fingerprints, LSH band state, crawl
    * frontier, shard manifest), and the census publishes per-state
    * CONSERVATION — n_before, n_removed, n_after, each counted
    * independently (removed = rows flagged gone, after = rows flagged
    * not-gone; before = the whole frame), so before = removed + after is
    * a checked identity in both engines, not an arithmetic tautology of
    * one. The text side's analogue of the sim family's tombstone/compact
    * pair ([[SimOps.simIvfServeDelete]]/[[SimOps.simIvfCompact]]).
    *
    * Scale shape: the three doc-keyed states (corpus, fingerprints,
    * token-weighted manifest) fold into ONE documents pass — nine
    * conditional aggregates over the shared [[takedownDocFlags]]
    * projection, unpivoted with stack() (the crawl-funnel pattern) — so
    * the text column is read once, not per state; the frontier folds
    * per-URL with the two-phase bool_and, the band state aggregates the
    * memoized signature spine. All branches map-side combinable; nothing
    * shuffles but the frontier's (url_norm, flag) pairs. Constant 5-row
    * output at any corpus size. The census and the spec's post-state
    * frames ([[takedownStates]]) both derive from takedownDocFlags, so
    * the counts published and the rows deleted share one kernel. */
  def ddTakedown(spark: SparkSession, dir: String): DataFrame = {
    val docRows = takedownDocFlags(spark, dir)
      .agg(
        count(lit(1)).as("c_b"),
        count(when(col("gone"), 1)).as("c_r"),
        count(when(!col("gone"), 1)).as("c_a"),
        count(when(col("in_fp"), 1)).as("f_b"),
        count(when(col("in_fp") && col("gone"), 1)).as("f_r"),
        count(when(col("in_fp") && !col("gone"), 1)).as("f_a"),
        sum(col("n_toks")).as("m_b"),
        sum(when(col("gone"), col("n_toks")).otherwise(0L)).as("m_r"),
        sum(when(!col("gone"), col("n_toks")).otherwise(0L)).as("m_a"))
      .select(expr("""stack(3,
        0L, 'corpus',         c_b, c_r, c_a,
        1L, 'fingerprints',   f_b, f_r, f_a,
        4L, 'shard_manifest', m_b, m_r, m_a) AS (state_id, state, n_before, n_removed, n_after)"""))
    val rest = takedownStates(spark, dir)
      .collect { case (id, name, df) if name == "band_state" || name == "frontier" =>
        df.agg(
            sum(col("w")).as("n_before"),
            sum(when(col("gone"), col("w")).otherwise(0L)).as("n_removed"),
            sum(when(!col("gone"), col("w")).otherwise(0L)).as("n_after"))
          .select(lit(id).as("state_id"), lit(name).as("state"),
            col("n_before"), col("n_removed"), col("n_after"))
      }
    (docRows +: rest).reduce(_ unionByName _).orderBy(col("state_id"))
  }


  // --------------------------------------------------------- snapshot diff


  /** Snapshot mod-splits + the planted content revision, shared VERBATIM
    * with the Duck mirror: crawl v1 lacks the %7=2 docs (added in v2),
    * v2 lacks the %7=5 docs (removed since v1), and the %7=3 docs
    * changed content between the two snapshots (the in-query plant, like
    * the PII contact block — the corpus itself has no second version). */
  private[analytics] lazy val snapV1Pred = "doc_id % 7 <> 2"
  private[analytics] lazy val snapV2Pred = "doc_id % 7 <> 5"
  private[analytics] lazy val snapRev2Sql = "CASE WHEN doc_id % 7 = 3 THEN text || ' rev2' ELSE text END"


  /** CORPUS SNAPSHOT DIFF — the readout a periodic re-crawl publishes:
    * between crawl v1 and crawl v2, how many docs were added, removed,
    * content-changed, and unchanged. The full-outer-join shape the
    * incremental family deliberately does not cover (it answers "new
    * batch vs frozen corpus"; this answers "version vs version" — absence
    * on EITHER side is a category). Change detection by content
    * fingerprint (md5), not byte compare: the fingerprints are computed
    * IN the scan projection, so only (doc_id, fp) pairs ever shuffle —
    * text never crosses the exchange however wide the corpus. At
    * deployment the two snapshots are separate crawl tables bucketed on
    * doc_id and the join is zero-exchange; here both sides derive from
    * the one documents table (the mod-split plant), which is the harness
    * artifact, not the operator's shape. Constant 4-row output; frac is
    * one long/long IEEE division against the window total. */
  def ddSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter(expr(snapV1Pred)).select(col("doc_id"), md5(col("text")).as("fp1"))
    val v2 = docs.filter(expr(snapV2Pred)).select(col("doc_id"), md5(expr(snapRev2Sql)).as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(when(col("fp1").isNull, "added")
        .when(col("fp2").isNull, "removed")
        .when(col("fp1") =!= col("fp2"), "changed")
        .otherwise("unchanged").as("category"))
      .groupBy(col("category")).agg(count(lit(1)).as("n_docs"))
      .withColumn("frac", col("n_docs") / sum(col("n_docs")).over(Window.partitionBy()))
      .orderBy(col("category"))
  }


  /** The thresholded containment pair table — memoized on the family's
    * fingerprint spine and prewarmed as explicitly-timed state (see
    * [[stateBuilders]]), like the jaccard pairs it parallels. */
  private[analytics] def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "containment_pairs") {
      val nDocs = corpusDocCount(spark, dir)
      buildContainmentPairs(spark, dir, jpairLadder(nDocs), nDocs > CThinMinDocs)
    }


  /** The containment pairs at ':jpair' keep-threshold `p` (out of 65536;
    * 65536 keeps every doc), with the shingle types thinned when
    * `thinActive`. [[containmentPairs]] passes the corpus rungs. */
  private[analytics] def buildContainmentPairs(spark: SparkSession, dir: String,
      p: Int, thinActive: Boolean): DataFrame = {
    // the containment build is the THIRD consumer
    // of the ref-counted shingle state — its private shingle pass ran the
    // identical ShingleHash32 kernel over the identical rows (the hold's
    // extra bkt column is n_chars-derived and changes nothing), so the
    // corpus-scale tokenize+shingle+hash chain ran twice per session. The
    // hold's persisted frames feed the df census and BOTH sides of the
    // candidate join here exactly as the private persist did; the pair
    // result is eagerly checkpointed so the hold can be released before
    // returning — executor storage stays bounded by the
    // (threshold-filtered, tiny) pair table.
    val hold = acquireShingleState(spark, dir)
    try {
    val sh = hold.sh.select(col("doc_id"), col("lang"), col("s"))
    // the hold's per-doc census IS this build's unthinned denominator
    // (full shingle count per doc, same rows by construction)
    val sizes = hold.sizes.select(col("doc_id"), col("n"))
    // the df census is memoized as a checkpointed LEAF (the rarity-vocab
    // treatment): [[ddContainmentThin]] reads the same ~types-sized table
    // instead of paying its own full tokenize/shingle pass (measured
    // 31-36 s per census run at sf10). Built here from the persisted sh
    // when the state build runs first; built stand-alone by the census
    // accessor otherwise — identical content either way.
    val dfc = memo(spark, dir, "containment_dfc") {
      checkpointLeaf(spark, sh.groupBy(col("s"), col("lang"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= StopShingleCap))
    }
    // df-weighted shingle-universe ladder (`thinActive`): past the
    // same 60k-doc rung as the ':jpair' doc ladder, shingle TYPES are
    // deterministically thinned with keep-probability min(1, B/df) — the
    // draw is a pure function of the shingle hash, so a type survives for
    // EVERY doc or for none. That bounds the self-join's fanout at
    // Σ min(df, B)·df ≤ B·Σdf — LINEAR in corpus size — where the
    // unthinned Σdf² is quadratic on this closed synthetic vocabulary
    // (typical df grows with N; the unthinned build took 376 s at sf10
    // even doc-sampled). The containment ratio is then computed over the KEPT
    // universe on BOTH sides (common_kept / |kept(A)|): survival is
    // per-type, so a true subset pair keeps containment exactly 1.0, and
    // the ratio estimator concentrates around true containment for every
    // pair. Below the rung nothing is thinned and the denominator is the
    // FULL per-doc shingle count — bit-identical to the pre-thinning
    // semantics at every driver-gate SF. The mirror applies the identical
    // CASE-over-count(*) gate and integer draw; [[ddContainmentThin]] is
    // the oracle-checked accounting of exactly what the ladder keeps.
    val keptTypes = (if (thinActive) dfc.filter(expr(cthinKeepPred)) else dfc)
      .select(col("s"), col("lang"))
    val kept = sh.join(keptTypes, Seq("s", "lang"), "left_semi")
      .select(col("doc_id"), col("lang"), col("s"))
      .persist()
    // per-doc KEPT count — the active-path denominator. Full-corpus like
    // sizes: a doc's denominator must not depend on which OTHER docs
    // survive the ':jpair' doc sample.
    val nk = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // the same ':jpair' doc-sample ladder as buildJaccardPairs, for the
    // same reason: dd_containment is a top-200 reporting census and
    // doc-sampling both join sides cuts the join by p² while sizes/df
    // stay full-corpus. One documented sample universe for every pair
    // census — the mirror applies the identical CASE-over-count(*) ladder.
    val sampled = if (p >= 65536) kept
      else kept.filter(expr(s"${jpairDraw("doc_id")} < $p"))
    val a = sampled.toDF("ia", "la", "s")
    val b = sampled.toDF("ib", "lb", "s2")
    // join each unordered pair ONCE (ia < ib) and emit both directions by
    // projection afterwards: `common` is symmetric, so the =!= formulation
    // would shuffle and aggregate every shared shingle twice for the same
    // answer — this halves the heaviest stage
    // den is doc-count rows but referenced twice (na, nb) by a subtree the
    // direction-union used to execute twice more — persist the KB-scale
    // census instead of re-aggregating the cached shingle rows per
    // reference. The unthinned denominator is the hold's
    // already-persisted sizes census (never unpersisted here — the hold
    // owns it); only the thinned-path nk is this build's own cache.
    val den = if (thinActive) nk.persist() else sizes
    val sizedPlan = a.join(b,
        col("s") === col("s2") && col("la") === col("lb") && col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("common"))
      .join(den.toDF("ia", "na"), "ia")
      .join(den.toDF("ib", "nb"), "ib")
    // checkpoint the unordered-pair table BEFORE the direction union: the
    // union's two branches each contained the whole shingle self-join +
    // aggregation subtree, and exchange reuse does not reliably dedupe it
    // (the pagerank_edges lesson) — the halve-the-heaviest-stage comment
    // above only holds when the join genuinely executes once.
    // Pair-table-scale leaf, so the extra checkpoint is KB-sized.
    val sized = checkpointLeaf(spark, sizedPlan)
    // thinned-universe noise floor: with few kept shingles a 1-2-shingle
    // doc trivially scores 1.0 against anything sharing them, so the
    // ACTIVE path requires the directed source to have ≥ CThinKeptFloor
    // kept shingles (the min-doc-length convention of production near-dup
    // pipelines, mirrored verbatim). Inactive path: no floor, exactly the
    // pre-thinning answers.
    val floorA = if (thinActive) col("na") >= CThinKeptFloor else lit(true)
    val floorB = if (thinActive) col("nb") >= CThinKeptFloor else lit(true)
    val plan = sized
      .select(col("ia"), col("ib"), (col("common") / col("na")).as("containment"), floorA.as("ok"))
      .union(sized.select(col("ib").as("ia"), col("ia").as("ib"),
        (col("common") / col("nb")).as("containment"), floorB.as("ok")))
      .filter(col("containment") >= 0.5 && col("ok"))
      .select(col("ia"), col("ib"), col("containment"))
    val pairs = checkpointLeaf(spark, plan)
    kept.unpersist(blocking = true)
    if (thinActive) den.unpersist(blocking = true)
    pairs
    } finally releaseShingleState(spark, dir, hold)
  }


  /** Shingle-thinning ladder parameters for the containment pair build.
    * `CThinBudget` bounds each kept type's expected join-side df at B:
    * keep-probability min(1, B/df) makes E[Σ kept df²] ≤ B·Σdf — the
    * quadratic-to-linear bound. `CThinMinDocs` is the SAME rung as
    * [[jpairLadder]]'s keep-all bound, so every driver-gate corpus
    * (sf0.001/0.01/0.1/1/1z) is bit-for-bit unthinned. `CThinKeptFloor`
    * is the active-path minimum kept-shingle count for a directed source
    * doc (noise floor, see build). */
  private[analytics] lazy val CThinBudget = 32L
  private[analytics] lazy val CThinMinDocs = 60000L
  private[analytics] lazy val CThinKeptFloor = 8L


  /** The type-keep predicate over a (s, df) row — INTEGER arithmetic only
    * (draw·df < 65536·B ⟺ draw < 65536·B/df), so both engines compare
    * exactly: no division, no float rounding. Salt ':cthin' keeps the
    * draw independent of the ':jpair' doc draw. ONE definition with the
    * [[DedupOracles]] mirror. */
  private[analytics] def cthinKeepPred: String =
    s"${hex4("md5(CAST(s AS STRING) || ':cthin')")} * df < ${65536L * CThinBudget}"


  /** The same predicate in DuckDB spelling (VARCHAR cast; everything else
    * engine-portable by construction). */
  private[analytics] def cthinKeepPredDuck: String =
    s"${hex4("md5(CAST(s AS VARCHAR) || ':cthin')")} * df < ${65536L * CThinBudget}"


  /** Stop-shingle cap: a shingle present in more than this many docs of a
    * block is dropped from the candidate join. The worst-key bound that
    * keeps the self-join fanout O(cap²) per shingle at any corpus size;
    * far above anything the test corpora hit, so results are unchanged
    * there (and the oracle applies the identical cap). */
  private[analytics] lazy val StopShingleCap = 500


  /** Corpus doc count for the ladder rungs, memoized on the spine — the
    * jaccard and containment pair states and the thin census each pick
    * their rung from it, and each used to pay a full documents scan to
    * do so. */
  private def corpusDocCount(spark: SparkSession, dir: String): Long =
    memo(spark, dir, "doc_count")(Tables.documents(spark, dir).count())


  /** Doc-sample keep-threshold (out of 65536) for the FULL pair state,
    * from the corpus doc count — the last superlinear pair build,
    * scale-bounded by SAMPLING rather than banding: the full
    * state's consumers are reporting/calibration CENSUSES (jaccard bins,
    * source-overlap matrix, top-200 ranked list, band-gap accounting)
    * that need unbiased mid-Jaccard pairs, not every pair — so past the
    * corpus size where the block self-join's Σdf² growth turns
    * superlinear, the state is built over a deterministic md5 doc sample
    * (the txt_mixture/txt_split seedless-draw convention, salt ':jpair')
    * and pair volume scales by p². The ladder is a pure function of the
    * corpus doc count, mirrored verbatim by [[LlmOracles.jpSampleDuck]]'s
    * CASE over count(*), so hash-match survives at every SF: ≤60k docs
    * (through sf1) keeps everything — the sf0.001–sf1 oracle gates are
    * bit-for-bit unchanged — 100k docs (sf2) keeps ~70%, and beyond
    * (sf10's 500k) ~45%, which cuts the superlinear join stage to ~0.2×
    * while planted duplicate mass grows linearly with the corpus, so
    * expected pairs per census bin still RISE with SF. */
  private[analytics] def jpairLadder(nDocs: Long): Int =
    if (nDocs <= 60000L) 65536 else if (nDocs <= 150000L) 45875 else 29491


  /** The ':jpair'-salted md5 draw as a 0..65535 integer over a doc-id
    * column — engine-portable (instr/substr, like every hex4 draw), ONE
    * definition with [[LlmOracles.jpairSamplePredDuck]] as its mirror. */
  private[analytics] def jpairDraw(idCol: String): String =
    hex4(s"md5(CAST($idCol AS STRING) || ':jpair')")


  /** All blocked shingle-Jaccard pairs (no threshold/limit) — shared by the
    * reporting query above, the dedup action, and the clustering query.
    * Memoized through [[memo]] (fingerprinted like every other index
    * table, so a regenerated dir rebuilds instead of serving stale pairs):
    * the three consumers get the SAME frame instance, so the checkpointed
    * pair table is registered once and released by [[releaseCaches]]. */
  private[analytics] def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "jaccard_pairs")(
      buildJaccardPairs(spark, dir, jpairLadder(corpusDocCount(spark, dir))))


  /** Eager RDD-level local checkpoint of a derived frame: consumers plan
    * over a LEAF, and the tracked RDD handle keeps the release real. At
    * the RDD level, not DataFrame.localCheckpoint: the frame the
    * DataFrame variant returns derives NEW child RDDs on every .rdd
    * access, so no handle to the actually-persisted RDD would survive for
    * releaseCaches — unpersisting a derived child frees nothing. */
  private[analytics] def checkpointLeaf(spark: SparkSession, plan: DataFrame): DataFrame = {
    val rdd = plan.rdd
    rdd.localCheckpoint()
    rdd.count()
    trackRdd(rdd)
    spark.createDataFrame(rdd, plan.schema)
  }


  /** The REPORTING slice of the pair state — (ia, ib, jaccard) at the
    * family's lowest consumed threshold (0.2), a KB-sized checkpointed
    * slice of the FULL pair state — [[ddNgramJaccard]]'s and
    * [[ddSourceOverlap]]'s input. Both reporting contracts reach the
    * mid-Jaccard region (0.2–0.8) the 16×4 band stack deliberately
    * under-retrieves (the recall census MEASURES that under-retrieval —
    * ~12% at J=0.3), so neither may ride [[bandedJaccardPairs]]: the
    * sf2/sf10 scale gates caught BOTH live — banded source-overlap
    * missed 25 of 47 source-pair groups at sf10, and banded
    * ngram-jaccard's top-200 diverged from row 96 at sf2, where the list
    * dips to J≈0.63. Cost: a slice of the state the calibration censuses
    * ([[jaccardBins]]) already require — no additional build anywhere
    * the censuses run. */
  private[analytics] def jaccardPairsFull02(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "jaccard_pairs_full_02")(checkpointLeaf(spark,
      jaccardPairs(spark, dir).filter(col("jaccard") >= 0.2)
        .select(col("ia"), col("ib"), col("jaccard"))))

  /** Band-bounded exact-truth pairs: candidates
    * from [[wideBandCandidates]] (capped 16×4 minhash bands — bounded at
    * bands × buckets × cap²/2, never doc²), then exact blocked Jaccard
    * computed ONLY for those pairs via a candidate-restricted shingle
    * intersection. Same output schema and semantics as the full
    * [[jaccardPairs]] restricted to retrieved pairs: common counts ride
    * the capped shingle sets, denominators the full per-doc distinct
    * counts, and the (lang, length-bucket) block condition is enforced in
    * the intersection join — a cross-block band candidate intersects zero
    * rows and drops out, exactly as the full state never contains it.
    * Scale shape: the cap-bounded candidate set (AQE broadcasts it when
    * small, shuffle-joins on doc id when not — both linear) fans each
    * pair out to its A-side shingles, then ONE equi-join on
    * (doc, shingle) against the linear capped shingle table — no
    * quadratic block self-join, so the build stays near-linear even on
    * the saturated synthetic vocabulary that makes the full state
    * superlinear (measured 37.1 s at sf2 → 70.7 s at sf10 for 5× docs,
    * vs the full build's 206-300 s at sf10). What banding can cost in
    * retrieved edges is not assumed away: [[ddBandGap]] is the
    * per-corpus accounting. */
  private[analytics] def bandedJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "jaccard_pairs_banded") {
      val hold = acquireShingleState(spark, dir)
      try {
      val (capped, sizes) = (hold.capped, hold.sizes)
      val cand = wideBandCandidates(spark, dir)
      val a = capped.toDF("ia", "la", "ba", "s")
      val b = capped.toDF("ib", "lb", "bb", "s2")
      val common = cand.join(a, col("ca") === col("ia"))
        .join(b, col("cb") === col("ib") && col("s") === col("s2")
          && col("la") === col("lb") && col("ba") === col("bb"))
        .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("common"))
      val plan = common
        .join(sizes.toDF("ia", "na"), "ia")
        .join(sizes.toDF("ib", "nb"), "ib")
        .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
      checkpointLeaf(spark, plan)
      // ref-counted blocking release (in the finally, so a failed build
      // never strands the hold's count) — the shingle triple is SHARED
      // with buildJaccardPairs (built once for both back-to-back state
      // builds) and frees when the second builder checkpoints. Blocking
      // for the deterministic storage handoff between state builds; the
      // sync wait costs milliseconds. (An sf2
      // containment_pairs slowdown first suspected to be an unpersist
      // cascade turned out to be box-level memory-pressure degradation —
      // identical binaries measured 96→244→272 s across three
      // back-to-back runs — but the deterministic handoff stands on
      // its own.)
      } finally releaseShingleState(spark, dir, hold)
    }


  /** The CC/action EDGE set — (ia, ib) at the dedup threshold (0.8) —
    * feeds [[ddCluster]], [[ddDedupKeepBest]], [[nearDropSet]] and the
    * passage aligner. Built from [[bandedJaccardPairs]]: the dedup-action
    * consumers are what a production pipeline runs on every corpus
    * version, and their ≥0.8 region is where banding is near-exact
    * (per-pair miss probability ≤2.2e-4 at J=0.8; hash-verified
    * row-identical to the full-state DuckDB mirrors at sf0.01/0.1/2/10 —
    * 464-member cluster set at 500k docs). The reporting/calibration
    * consumers that need mid- or sub-threshold pairs read
    * [[jaccardPairsFull02]] / [[jaccardBins]] off the full state.
    *
    * GATED on measured recall: banding is
    * probabilistic and cap-truncatable, and the action consumers' oracle
    * mirrors derive their ≥0.8 edges from the FULL pair state — so on a
    * corpus where band recall < 1 (e.g. a duplicate cluster larger than
    * the band-bucket cap) the banded action would silently under-drop.
    * The memo therefore REFUSES to build when any (sampled-)truth edge is
    * missing from the banded set, naming the counts and the remedies —
    * the cap-saturated corpus fails loudly at build time, not at
    * verify/production. The truth side is the full state the calibration
    * censuses already build (its sample ladder makes the check an
    * unbiased probe at huge SFs: banding misses are band-geometry events,
    * independent of the ':jpair' draw, so a genuinely lossy corpus trips
    * the gate with probability ≥ 1-(1-p²)^missed — near-certain for any
    * systematic loss). [[ddBandGap]] — the diagnostic an operator runs to
    * SIZE the loss — deliberately bypasses the gate by reading the banded
    * pair table directly. */
  private[analytics] def jaccardEdges08(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "jaccard_edges_08") {
      val edges = checkpointLeaf(spark,
        bandedJaccardPairs(spark, dir).filter(col("jaccard") >= 0.8)
          .select(col("ia"), col("ib")))
      val missed = jaccardPairs(spark, dir).filter(col("jaccard") >= 0.8)
        .select(col("ia"), col("ib"))
        .join(edges, Seq("ia", "ib"), "left_anti").count()
      if (missed > 0L) throw new IllegalStateException(
        s"banded dedup edge set is LOSSY on this corpus: $missed truth edge(s) " +
          "at jaccard >= 0.8 were not retrieved by the capped 16x4 bands " +
          "(likely a duplicate cluster larger than the band-bucket cap). " +
          "Run dd_band_gap to size the loss, then widen the bands or raise " +
          "the bucket cap.")
      edges
    }


  /** Shared shingle prep for the THREE pair-state builders
    * ([[buildJaccardPairs]], [[bandedJaccardPairs]] and
    * [[buildContainmentPairs]], which all run the identical kernel): returns (sh, capped, sizes). `sh` and `capped`
    * arrive PERSISTED (MEMORY_AND_DISK, spill-safe) and the hold
    * unpersists them once the LAST pair table is checkpointed.
    *
    * The repartition runs BEFORE the CPU-heavy tokenize+shingle projection:
    * the documents table arrives as few parquet splits (one, at test SFs),
    * and an explode-heavy projection gets no parallelism from AQE —
    * measured 14s single-task vs <1s spread over the cores. At production
    * scale the scan has many splits already and this becomes a cheap
    * rebalance that also evens out skewed document lengths before the
    * quadratic-ish shingling work.
    * The tokenize→shingle→hash chain runs as the ShingleHash32 kernel —
    * ONE JVM loop per document (see its Scaladoc). The equivalent
    * HOF+md5+hex-parse chain was this pipeline's dominant cost: Spark's
    * higher-order functions evaluate interpreted, outside whole-stage
    * codegen, and the measured build time of the persisted table dropped
    * ~10s → ~2s at sf0.1 when the kernel replaced it. Hash semantics are
    * unchanged (first 4 md5 bytes of the shingle string), so the DuckDB
    * oracles are untouched.
    *
    * explode_OUTER + isNotNull, NOT plain explode: explode makes
    * InferFiltersFromGenerate add a `size(arr) > 0` filter, and predicate
    * pushdown drags that filter — with the whole kernel inlined — below
    * the repartition into the single-split scan task (measured 13s
    * single-threaded vs 0.3s for the outer variant back when the chain was
    * declarative; the guard is just as load-bearing for the kernel).
    * Shingles are joined BY HASH (32-bit, as BIGINT): 8-byte join keys
    * instead of ~30-byte strings cut shuffle volume and compare cost in
    * the df-count, semi-join, and candidate joins. Collisions (~handful at
    * 2^32 over test corpora) could inflate a `common` count, but the
    * oracle applies the IDENTICAL hash, so both engines agree — and hashed
    * shingles are exactly what production near-dup pipelines join on at
    * scale.
    *
    * `sizes` counts the FULL shingle set (the Jaccard denominator), while
    * the intersection joins run on the stop-shingle-capped set. Docs with
    * <3 tokens have no sh rows and drop out — they can never appear in
    * `common` anyway. */
  private[analytics] final class ShingleHold(
      val sh: DataFrame, val capped: DataFrame, val sizes: DataFrame) {
    var remaining: Int = 3
  }

  /** Ref-counted access to [[shingleState]] for the THREE pair-state
    * builders ([[buildJaccardPairs]], [[bandedJaccardPairs]],
    * [[buildContainmentPairs]]): the state stage runs them back-to-back,
    * and each used to pay the full tokenize/shingle/cap materialization —
    * the triple is now built ONCE and unpersisted when the last builder
    * has checkpointed its pair table. The hold is one memo-spine cell
    * (a regenerated dir gets a fresh build, never stale shingles), and the
    * persisted frames are also registered in the tracked-cache registry
    * for a session where only one builder ever runs (its half-released
    * hold then frees at [[releaseCaches]], which also empties the spine). */
  private def acquireShingleState(spark: SparkSession, dir: String): ShingleHold =
    memo(spark, dir, "shingle_hold") {
      val (sh, capped, sizes) = shingleState(spark, dir)
      track(sh); track(capped); track(sizes)
      new ShingleHold(sh, capped, sizes)
    }

  /** Release keyed by the ACQUIRED hold object, not a recomputed
    * fingerprint: a dir regeneration mid-build changes dirFingerprint,
    * and a release by fingerprint would decrement a DIFFERENT (fresh)
    * hold — leaving this one's count unbalanced forever. The last release
    * drops exactly this hold's spine cell (by identity). */
  private def releaseShingleState(spark: SparkSession, dir: String, hold: ShingleHold): Unit = {
    val done = hold.synchronized { hold.remaining -= 1; hold.remaining <= 0 }
    // the Spark calls run OUTSIDE the lock (the memo discipline);
    // blocking for the same deterministic-handoff reason as before
    if (done) {
      memoForget(spark, dir, "shingle_hold", hold)
      hold.sh.unpersist(blocking = true)
      hold.capped.unpersist(blocking = true)
      hold.sizes.unpersist(blocking = true)
    }
  }


  private def shingleState(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("bkt", expr("n_chars div 50"))
      .withColumn("sharr", shingleHash(col("text")))
    // no eager count on sh: that cost a whole extra job, and the worst
    // case without it is a transient concurrent recompute of the (cheap,
    // kernel-based) projection while the cache populates
    val sh = docs.select(col("doc_id"), col("lang"), col("bkt"), explode_outer(col("sharr")).as("s"))
      .filter(col("s").isNotNull)
      .persist()
    // sizes is doc-count rows but each UNPERSISTED reference re-aggregated
    // the multi-million-row cached shingle table — and the two pair
    // builders reference it twice each (the na and nb denominator joins),
    // four full sh scans per state stage for one KB-scale census
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"))
      .persist()
    val rare = sh.groupBy(col("s"), col("lang"), col("bkt"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= StopShingleCap)
      .select(col("s"), col("lang"), col("bkt"))
    val capped = sh.join(rare, Seq("s", "lang", "bkt"), "left_semi")
      .select(col("doc_id"), col("lang"), col("bkt"), col("s"))
      .persist()
    (sh, capped, sizes)
  }


  /** The blocked jaccard pairs at ':jpair' keep-threshold `p` (out of
    * 65536; 65536 keeps every doc). [[jaccardPairs]] passes the corpus
    * rung, [[jpairLadder]]. */
  private[analytics] def buildJaccardPairs(spark: SparkSession, dir: String, p: Int): DataFrame = {
    val hold = acquireShingleState(spark, dir)
    try {
    val (capped, sizes) = (hold.capped, hold.sizes)
    // the sample ladder (see jpairLadder) bounds THIS join — the
    // last superlinear stage — by filtering both sides' docs BEFORE the
    // self-join (the filter rides the capped-scan projection, so the join
    // and its aggregation shrink by p²). sizes stays unsampled: it is the
    // per-doc Jaccard denominator, whose value does not depend on which
    // OTHER docs survive the sample — and the rare/capped stop-shingle df
    // census above is likewise computed on the FULL corpus (sampling df
    // would re-admit stop shingles and change surviving pairs' commons).
    val sampled = if (p >= 65536) capped
      else capped.filter(expr(s"${jpairDraw("doc_id")} < $p"))
    val a = sampled.toDF("ia", "la", "ba", "s")
    val b = sampled.toDF("ib", "lb", "bb", "s2")
    val common = a.join(b,
        col("s") === col("s2") && col("la") === col("lb") && col("ba") === col("bb") && col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("common"))
    // Materialize the pairs TABLE (eager local checkpoint), not just the
    // shingle inputs: the three consumers (dd_ngram_jaccard, dd_dedup_keep,
    // dd_cluster) each re-plan whatever tree the memo hands them, and
    // driver-side planning + janino codegen of the full shingle-join tree
    // measured ~1.3-3.7s PER CONSUMER — more than the join's execution.
    // Checkpointed, every consumer plans over a leaf. The pair count is
    // block-bounded (never doc²), so the checkpoint is small at any scale;
    // on a real cluster this becomes a reliable checkpoint / staging table
    // — which is what a production dedup pipeline materializes anyway.
    checkpointLeaf(spark, common
      .join(sizes.toDF("ia", "na"), "ia")
      .join(sizes.toDF("ib", "nb"), "ib")
      .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common"))))
    // the shingle tables only served the builds — the ref-counted release
    // (in the finally, so a failed build never strands the count) frees
    // them the moment the LAST pair builder has checkpointed: executor
    // storage stays bounded by the pair tables
    } finally releaseShingleState(spark, dir, hold)
  }


  /** BAND-GAP census at the ACTION threshold — the no-silent-caps rule
    * applied to the banded edge build itself. [[jaccardEdges08]] retrieves
    * the dedup edge set through the capped 16×4 bands, which is
    * near-exact at J≥0.8 (per-pair miss probability ≤2.2e-4) but
    * PROBABILISTIC, and cap-truncatable on a duplicate-heavy corpus.
    * This census measures, per corpus, exactly what that banding costs:
    * full-state truth edges vs banded edges, the missed count, and the
    * recall — the number an operator checks before trusting the banded
    * dedup action on a NEW corpus (every test corpus sf0.01-sf10
    * measures 1.0; a measured value below 1 is the signal to widen the
    * bands or raise the bucket cap before deduping). Truth side reads
    * the full pair state the calibration censuses already build; banded
    * side is the KB-sized checkpointed edge memo — one bounded join,
    * 1-row output at any corpus size. */
  def ddBandGap(spark: SparkSession, dir: String): DataFrame = {
    val truth = jaccardPairs(spark, dir).filter(col("jaccard") >= 0.8)
      .select(col("ia"), col("ib"))
    // read the banded PAIR table, not the jaccardEdges08 memo: the memo
    // now REFUSES to build on a lossy corpus (see its gate), and this
    // census is exactly the diagnostic an operator sizes that loss with —
    // it must stay runnable when the gate trips. Same rows by
    // construction (the memo is this filter checkpointed).
    val banded = bandedJaccardPairs(spark, dir).filter(col("jaccard") >= 0.8)
      .select(col("ia"), col("ib")).withColumn("hit", lit(1L))
    truth.join(banded, Seq("ia", "ib"), "left")
      .agg(count(lit(1)).as("n_true_edges"),
        coalesce(sum(col("hit")), lit(0L)).as("n_banded_edges"))
      .withColumn("n_missed", col("n_true_edges") - col("n_banded_edges"))
      .withColumn("recall",
        col("n_banded_edges").cast("double") / col("n_true_edges"))
  }


  /** The Jaccard-0.8 near-duplicate DROP set (distinct higher doc_id of
    * each qualifying pair) over the memoized pair table — ONE definition
    * shared by [[ddDedupKeep]], [[txtCleanCorpus]], and
    * [[txtCurationFunnel]]; [[nearDropsDuck]] is its mirror. */
  private[analytics] def nearDropSet(spark: SparkSession, dir: String): DataFrame =
    jaccardEdges08(spark, dir).select(col("ib")).distinct()


  /** The connected-components LABEL table over the Jaccard-0.8 edge set
    * — (d, lbl) — memoized as prewarmed state: the pointer-
    * doubling fixpoint is a deterministic function of the memoized edge
    * table, and THREE query paths re-ran it per call ([[ddCluster]],
    * [[ddClusterHist]] through it, and [[ddDedupKeepBest]]). A production
    * dedup pipeline materializes exactly this cluster-assignment table
    * once per corpus version. The CC loop already local-checkpoints its
    * result, so plain [[memo]] (no double-caching). */
  private[analytics] def jaccardCcLabels(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "cc_labels_08") {
      val edges = jaccardEdges08(spark, dir)
        .select(col("ia").as("a"), col("ib").as("b"))
      val (labels, _) = connectedComponents(spark, edges)
      labels()
    }


  /** The dedup ACTION: emit the kept corpus after dropping near-duplicates
    * (greedy keep-lowest-id: any doc that is the higher id of a pair with
    * Jaccard >= 0.8 is dropped). Anti-join — no doc² anywhere. */
  def ddDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val drops = nearDropSet(spark, dir)
    Tables.documents(spark, dir)
      .join(drops, col("doc_id") === col("ib"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }


  /** QUALITY-RANKED dedup keep — [[ddDedupKeep]] keeps each duplicate
    * cluster's LOWEST doc_id; a production pipeline keeps its BEST member
    * (dedup should never discard the clean copy of a page because a
    * boilerplate-ridden mirror has the smaller id). Cluster membership is
    * the same connected-components fixpoint as [[ddCluster]] (Jaccard ≥
    * 0.8 edges); quality is the [[txtClassifier]] linear-head score
    * (all-BIGINT numerator, one IEEE division — rank order is exact in
    * both engines); within each cluster the winner is rank 1 by
    * (score DESC NULLS LAST, doc_id). Scale shape: the cluster LABEL set
    * is edge-bounded (only near-dup members, a small fraction of a
    * typical corpus), so the label/loser/winner joins normally broadcast
    * into the two corpus scans and the full corpus is never shuffled —
    * the property that makes the min-id [[ddDedupKeep]] scalable, kept
    * here. The broadcast is NOT hinted, though: "near-dup-membership-
    * bounded" is data-dependent, not structurally capped like the
    * centroid/total broadcasts elsewhere, and a duplicate-heavy corpus
    * (a mirror-farm crawl can be mostly duplicates) would make a forced
    * broadcast approach corpus size and OOM the driver. AQE sees the
    * runtime size and picks broadcast when small, shuffle join when
    * not — degraded to a shuffle, never to a failure. */
  def ddDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val lbl = jaccardCcLabels(spark, dir).toDF("doc_id", "cluster_id")
    val scored = classifierScored(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("score"))
    val wBest = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc_nulls_last, col("doc_id"))
    val ranked = scored.join(lbl, Seq("doc_id"))
      .withColumn("rk", row_number().over(wBest))
    val losers = ranked.filter(col("rk") > 1).select(col("doc_id"))
    val winners = ranked.filter(col("rk") === 1).select(col("doc_id"), col("cluster_id"))
    scored
      .join(losers, Seq("doc_id"), "left_anti")
      .join(winners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("cluster_id"), col("score"))
      .orderBy(col("doc_id"))
  }


  /** Near-duplicate CLUSTERS: connected components over the Jaccard >= 0.8
    * edge set (the same edges the dedup action uses), labelled by the
    * minimum doc_id in each component. Iterative min-label propagation —
    * each round is one join + one groupBy(min), both shuffle-bounded by the
    * edge count; rounds = component diameter (near-dup clusters are
    * pairs/chains of a handful of docs, so 2-3 rounds in practice). The
    * convergence check is an exact changed-label count, so the result is the
    * unique fixpoint regardless of round count — which is what makes it
    * comparable to the oracle's recursive-CTE transitive closure. */
  def ddCluster(spark: SparkSession, dir: String): DataFrame = {
    val lblTable = jaccardCcLabels(spark, dir)
    val sizes = lblTable.toDF("sd", "slbl")
      .groupBy(col("slbl")).agg(count(lit(1)).as("cluster_size"))
    lblTable.join(sizes, col("lbl") === col("slbl"))
      .select(col("d").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }


  /** Duplication-structure histogram — the dedup dashboard readout (the
    * cluster-size distribution papers like Lee et al. 2022 report): one
    * row per duplicate-cluster size with the cluster and document counts
    * at that size, INCLUDING the size-1 row for documents in no near-dup
    * cluster (each its own singleton cluster, keyed by a negative
    * pseudo-label so it cannot collide with real labels = min doc ids).
    * Composes [[ddCluster]] verbatim (the census-from-checked-queries
    * rule); the label frame is near-dup-membership-bounded — small on a
    * typical corpus, but data-dependent, so the join is left UNHINTED
    * and AQE broadcasts it only when the runtime size allows (a
    * duplicate-heavy corpus degrades to a shuffle join instead of a
    * driver OOM; same reasoning as [[ddDedupKeepBest]]) — and the
    * histogram is a constant-size aggregate at any corpus size. Every
    * row satisfies
    * n_docs = cluster_size · n_clusters by construction — the spec pins
    * it. */
  def ddClusterHist(spark: SparkSession, dir: String): DataFrame = {
    val cl = ddCluster(spark, dir)
      .select(col("doc_id").as("cd"), col("cluster_id"), col("cluster_size"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(cl, col("doc_id") === col("cd"), "left")
      .withColumn("sz", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("cl", coalesce(col("cluster_id"), -col("doc_id") - lit(1L)))
      .groupBy(col("sz"))
      .agg(countDistinct(col("cl")).as("n_clusters"), count(lit(1)).as("n_docs"))
      .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"))
      .orderBy(col("cluster_size"))
  }


  /** The connected-components engine behind [[ddCluster]], over an
    * arbitrary undirected (a, b) edge set. Returns a THUNK minting fresh
    * (d, lbl) label frames (each call re-wraps the checkpointed state with
    * fresh attribute ids, so one result can appear in a plan several times
    * without analyzer attribute collisions) plus the ROUND COUNT — exposed
    * so the depth-stress spec can pin the pointer-doubling invariant:
    * rounds must stay O(log diameter), the property that makes this safe
    * on 100 TB graphs whose components may be long chains. */
  private[graft] def connectedComponents(
      spark: SparkSession, edges0: DataFrame): (() => DataFrame, Int) = {
    // Local checkpointing truncates lineage at the materialized edge set:
    // without it every loop action re-analyzes/optimizes the whole deep
    // shingle-join plan — measured 20x slower even with the data cached,
    // because the planning cost (not execution) dominates each round. Same
    // pattern for the per-round labels, so iteration k plans over a leaf,
    // not a k-deep union chain. (On a real cluster with executor loss to
    // worry about, use reliable `checkpoint` to the cluster FS instead —
    // same lineage-truncation effect.)
    //
    // The loop cost is JOB COUNT, not data, so each round runs exactly ONE
    // job: a foreach over the round's checkpointed state both materializes
    // it and counts changed labels through an accumulator (convergence is
    // fused into the materialization instead of being a separate join+count
    // job). Task retries can only overcount the accumulator, which at worst
    // schedules one extra no-op round — the fixpoint itself stays exact
    // because a converged round has zero changed rows to count. The prior
    // round's checkpoint RDD is unpersisted as soon as its successor is
    // materialized, so executor storage is bounded by two label tables no
    // matter how many rounds run.

    // Mark for local checkpoint (lazily — the first iteration's job
    // materializes edges, initial labels and the first state together).
    def ckptRdd(df: DataFrame): RDD[Row] = { val r = df.rdd; r.localCheckpoint(); r }

    val edges = edges0.select(col("a"), col("b"))
    val edgeSchema = edges.schema
    val edgesRdd = ckptRdd(edges)
    trackRdd(edgesRdd)
    // Every re-wrap of a materialized RDD mints FRESH attribute ids, so one
    // materialized state can appear several times in a round's plan without
    // tripping analyzer attribute-rewrite on shared checkpointed leaves.
    def edgesDf: DataFrame = spark.createDataFrame(edgesRdd, edgeSchema)
    def sym: DataFrame = edgesDf.unionByName(edgesDf.select(col("b").as("a"), col("a").as("b")))

    // Label state carries (d, lbl, chg); chg only means something after a
    // round runs, but keeping it in the schema gives every round one RDD
    // shape to checkpoint and re-wrap.
    val init = sym.select(col("a").as("d")).distinct()
      .select(col("d"), col("d").as("lbl"), lit(true).as("chg"))
    val stateSchema = init.schema
    var labelsRdd = ckptRdd(init)
    def labelsDf(n1: String, n2: String): DataFrame =
      spark.createDataFrame(labelsRdd, stateSchema).select(col("d").as(n1), col("lbl").as(n2))

    def fresh(df: DataFrame, names: String*): DataFrame =
      spark.createDataFrame(df.rdd, df.schema).toDF(names: _*)

    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      // part 1: min over own + neighbors' labels
      val viaNeighbor = sym.join(labelsDf("d2", "lbl2"), col("b") === col("d2"))
        .select(col("a").as("d"), col("lbl2").as("lbl"))
      val l1 = labelsDf("d", "lbl").unionByName(viaNeighbor)
        .groupBy(col("d")).agg(min(col("lbl")).as("lbl"))
      // part 2, same materialization: pointer doubling — follow lbl to ITS
      // label, so label distance halves each round and convergence is
      // O(log diameter); plain neighbor-min alone needs diameter-many
      // rounds. The jump side re-derives l1 via fresh() (2x the tiny agg
      // instead of an extra checkpoint). A label is always a node id, so
      // the join is total. The chg flag joins the PREVIOUS state in the
      // same plan — convergence rides along for free.
      val next = l1
        .join(fresh(l1, "jd", "jlbl"), col("lbl") === col("jd"))
        .select(col("d"), col("jlbl").as("lbl"))
        .join(labelsDf("d3", "old"), col("d") === col("d3"))
        .select(col("d"), col("lbl"), (col("lbl") =!= col("old")).as("chg"))
      val acc = spark.sparkContext.longAccumulator
      val nextRdd = ckptRdd(next)
      nextRdd.foreach(r => if (r.getBoolean(2)) acc.add(1))
      changed = acc.value
      // deliberate free of a truncated-lineage RDD — suppress the WARN
      withQuietRddLogger { labelsRdd.unpersist(blocking = false) }
      labelsRdd = nextRdd
    }
    trackRdd(labelsRdd) // final state feeds the caller's lazy result plan
    (() => labelsDf("d", "lbl"), rounds)
  }


  /** MinHash signatures (k=8 permutations approximated by seeded md5 minima
    * over the shingle set). The per-doc aggregation is a single map-side
    * combinable groupBy — scales linearly in total shingle count. */
  def ddMinhashSig(spark: SparkSession, dir: String): DataFrame =
    minhashSig(spark, dir).orderBy(col("doc_id"))


  /** Unordered minhash signature table — same no-sort-before-checkpoint
    * reasoning as [[simhashSig]], and the same per-(session, dir) memo: the sig query, the pairs query (which reads
    * it three times), and any re-run share ONE build, prewarmed by
    * [[stateBuilders]]. */
  private[analytics] def minhashSig(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "minhash_sig") { buildMinhashSig(spark, dir) }


  private[analytics] def buildMinhashSig(spark: SparkSession, dir: String): DataFrame = {
    // 8 "permutations" from 2 md5 calls via 8-hex slicing (one-hash-many-
    // slices): each 32-bit slice of a well-mixed digest acts as an
    // independent hash. 2 digests per shingle instead of 8 — the md5 work
    // is the dominant cost of the whole minhash pipeline at scale.
    // repartition + explode_outer: the single-split parallelism fix and the
    // InferFiltersFromGenerate pushdown fix from jaccardPairs (see there)
    val sh = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("toks", expr(toksSpark))
      .select(col("doc_id"), explode_outer(expr(shinglesSpark)).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("h1", md5(col("s")))
      .withColumn("h2", md5(concat(lit("x"), col("s"))))
    val mhs = (0 until 8).map { j =>
      val (h, off) = if (j < 4) ("h1", j) else ("h2", j - 4)
      min(substring(col(h), 1 + 8 * off, 8)).as(s"mh$j")
    }
    sh.groupBy(col("doc_id"))
      .agg(mhs.head, mhs.tail: _*)
  }


  // ------------------------------------------------------------ band index


  /** The band index behind every LSH near-dup query — banded LSH as
    * Leskovec, Rajaraman & Ullman (*Mining of Massive Datasets*, ch. 3)
    * define it: band b of a doc is the bucket `bandExprs(b)` computes from
    * its signature columns. `sig`'s doc_id and `carry` columns in, one
    * (doc_id, <carry>, band, <bucket>) row per doc and band out, through
    * ONE `stack`. With a cap, each (band, bucket) keeps its `cap` lowest
    * doc_ids (a deterministic row_number cut, mirrored by [[bandsDuck]]):
    * a bucket then yields at most cap²/2 candidate pairs however large the
    * biggest identical-signature cluster grows. */
  private[analytics] def bands(sig: DataFrame, carry: Seq[String], bucket: String,
      bandExprs: Seq[String], cap: Option[Int] = None): DataFrame = {
    val stack = bandExprs.zipWithIndex.map { case (e, b) => s"$b, $e" }
      .mkString(s"stack(${bandExprs.size}, ", ", ", s") as (band, $bucket)")
    val rows = sig.selectExpr(("doc_id" +: carry) :+ stack: _*)
    cap.fold(rows)(c => rows
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col(bucket)).orderBy(col("doc_id"))))
      .filter(col("rn") <= c).drop("rn"))
  }


  /** MinHash band buckets: `k` bands of `rows` consecutive slices, each
    * bucket the md5 of its slices concatenated. The text is valid SQL in
    * both engines, so the DuckDB mirrors band from the same list. */
  private[analytics] def minhashBandExprs(k: Int, rows: Int): Seq[String] =
    (0 until k).map(b => (0 until rows).map(r => s"mh${rows * b + r}")
      .mkString("md5(concat(", ", ", "))"))


  /** SimHash band buckets: `k` bands of `bits` consecutive bits of the
    * non-negative `simhash`. `div` is the engine's integer division
    * (`div` in Spark, `//` in DuckDB). */
  private[analytics] def simhashBandExprs(k: Int, bits: Int, div: String = "div"): Seq[String] =
    (0 until k).map(b => s"(simhash $div ${1L << (bits * b)}) % ${1L << bits}")


  /** The production-width band geometry: [[MinhashWideBands]] bands × 4
    * rows over the 64-slice signature. */
  private[analytics] lazy val wideBandExprs = minhashBandExprs(MinhashWideBands, 4)


  /** Candidate pairs of the band index: band rows of one geometry (see
    * [[bands]]) in, the distinct pairs sharing a (band, bucket) out, as
    * (ia, ib, <carry of a>, <carry of b>). `a` and `b` name each side's
    * doc_id and carried columns. The self-join (`selfJoin`, one index on
    * both sides) keeps ia < ib. The probe form joins a batch's bands to a
    * corpus index, so it never pairs two batch docs. */
  private[analytics] def bandCandidates(left: DataFrame, right: DataFrame, selfJoin: Boolean,
      a: Seq[String] = Seq("ia"), b: Seq[String] = Seq("ib")): DataFrame = {
    val bucket = left.columns.last
    val on = col("band") === col("band2") && col(bucket) === col(s"${bucket}2")
    left.toDF(a ++ Seq("band", bucket): _*)
      .join(right.toDF(b ++ Seq("band2", s"${bucket}2"): _*),
        if (selfJoin) on && col(a.head) < col(b.head) else on)
      .select((Seq(a.head, b.head) ++ a.tail ++ b.tail).map(col): _*)
      .distinct()
  }


  /** Candidate pairs joined to the signature as `a` (the `ia` side) and
    * `b` (the `ib` side), for an estimate over both. */
  private[analytics] def withSig(cand: DataFrame, sig: DataFrame,
      ia: String = "ia", ib: String = "ib"): DataFrame =
    cand.join(sig.as("a"), col(ia) === col("a.doc_id"))
      .join(sig.as("b"), col(ib) === col("b.doc_id"))


  /** MinHash-LSH candidate pairs: 4 bands × 2 rows; docs sharing any band
    * bucket become candidates; estimated similarity = matching minhashes / 8.
    * Banding bounds candidates without any doc² join. */
  def ddMinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // The signature table feeds the band generator AND both sides of the
    // candidate join — without the shared memo Spark would recompute the
    // full shingle explode + 8 md5-min aggregations three times. The
    // memoSig cache (a cache, NOT a localCheckpoint leaf — deliberately:
    // consumers of a cached tree still run under AQE, which coalesces this
    // tiny table to one partition and then plans the candidate distinct
    // WITHOUT its own exchange; over a checkpoint-RDD leaf AQE disengages
    // and the same distinct pays a full shuffle, measured 1.8s → 6.9s on
    // dd_simhash_pairs) is materialized eagerly at build time, so parallel
    // consumers can't race past an unpopulated cache. The jaccard pipeline
    // makes the opposite call — see buildJaccardPairs, where per-consumer
    // PLANNING cost dominates.
    val sig = minhashSig(spark, dir)
    val bs = bands(sig, Nil, "bh", minhashBandExprs(4, 2))
    val est = (0 until 8).map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / 8.0
    withSig(bandCandidates(bs, bs, selfJoin = true), sig)
      .select(col("ia"), col("ib"), est.as("est_sim"))
      .orderBy(col("est_sim").desc, col("ia"), col("ib"))
      .limit(200)
  }


  /** The CORPUS-side capped band index of the incremental probe —
    * memoized + prewarmed like the sibling band tables: this IS the
    * persistent LSH index a continuous-ingestion pipeline holds between
    * batches (the probe joins batch bands to corpus bands only), so the
    * band stack + bucket-cap window runs once per state build, not once
    * per probe. */
  private[analytics] def incrCorpusBands(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "incr_corpus_bands") {
      bands(minhashWideSig(spark, dir).filter(col("doc_id") < IncrementalSplit), Nil, "bh",
        wideBandExprs, Some(IncrementalProbeCap))
    }


  /** Incremental NEAR-dup dedup — [[ddIncremental]]'s contract at MinHash
    * strength: an arriving batch (doc_id ≥ 250, the fixed split) is probed
    * against the EXISTING corpus (doc_id < 250) through the production-
    * width LSH index, and a batch doc is dropped when any corpus doc
    * estimates ≥ 0.5 Jaccard — continuous-ingestion dedup as crawl
    * pipelines actually run it (exact fp anti-join catches only verbatim
    * re-fetches; re-crawls differ by ads/timestamps and need the near-dup
    * probe). Join is batch-bands → corpus-bands ONLY (never batch×batch —
    * an arriving batch is deduped against the corpus, internal batch dups
    * are the next batch's corpus problem), so per batch doc the work is
    * ≤ bands × bucket-cap candidates regardless of corpus size; the
    * corpus-side per-(band, bucket) cap is the same monster-cluster guard
    * as [[ddMinhashWidePairs]], at the 4× width [[IncrementalProbeCap]]
    * (the capped side is recall-critical here) with the cut surfaced by
    * [[ddIncrementalCapped]]. Both sides read the ONE memoized
    * signature table. Emits EVERY arriving doc — the output is the
    * batch's admission list, so nothing may be silently absent: a doc
    * with a corpus match carries (match_id, est_sim) and drops at ≥ 0.5;
    * a sub-3-token doc has no shingles, cannot near-dup, and keeps with
    * a null match like any other unmatched doc. */
  def ddIncrementalNear(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashWideSig(spark, dir)
    val half = IncrementalSplit
    val cb = incrCorpusBands(spark, dir)
    val cand = bandCandidates(bands(sig.filter(col("doc_id") >= half), Nil, "bh", wideBandExprs),
      cb, selfJoin = false)
    val wBest = Window.partitionBy(col("ia")).orderBy(col("est_sim").desc, col("ib"))
    val best = withSig(cand, sig)
      .select(col("ia"), col("ib"), wideEstSim.as("est_sim"))
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("ia"), col("ib").as("match_id"), col("est_sim"))
    // verdict base = EVERY arriving doc (conservation: the output is the
    // batch's admission list, so nothing may be silently absent) — a
    // sub-3-token doc has no shingles, cannot near-dup, and keeps
    Tables.documents(spark, dir).filter(col("doc_id") >= half).select(col("doc_id"))
      .join(best.withColumnRenamed("ia", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id"), col("est_sim"),
        (col("est_sim").isNull || col("est_sim") < 0.5).as("kept"))
      .orderBy(col("doc_id"))
  }


  /** Production-width MinHash geometry: [[MinhashWidePerms]] permutations
    * banded as [[MinhashWideBands]] bands × 4 rows — the width real dedup
    * pipelines run (Lee et al. 2022 use 128+ perms; 64/16×4 is the same
    * regime, vs the didactic 8/4×2 of [[ddMinhashSig]], which stays as the
    * cheap twin exactly like 16-bit simhash next to its 60-bit production
    * twin). 4-row bands put the LSH S-curve threshold at
    * (1/16)^(1/4) ≈ 0.5 Jaccard — the near-dup operating point — with
    * far sharper low-similarity suppression than the 2-row didactic bands:
    * P(candidate) = 1−(1−j⁴)¹⁶ is ~1 above j=0.7 and <3% below j=0.2. */
  private[analytics] lazy val MinhashWidePerms = 64

  private[analytics] lazy val MinhashWideBands = 16


  /** Production-width MinHash signatures — [[MinhashWidePerms]] permutations
    * from 16 seeded md5 digests per shingle (same one-hash-many-slices
    * scheme as [[buildMinhashSig]]: each 8-hex slice of a well-mixed digest
    * is an independent 32-bit hash, so 16 digests yield 64 permutations at
    * a quarter of the naive md5 count). Same single map-side-combinable
    * min-aggregation — linear in total shingle count at any corpus size,
    * 8× the didactic path's hash work, identically shaped. */
  def ddMinhashWide(spark: SparkSession, dir: String): DataFrame =
    minhashWideSig(spark, dir).orderBy(col("doc_id"))


  /** Unordered wide signature table, memoized + prewarmed like
    * [[minhashSig]] — the sig query, the wide-pairs query (three reads),
    * and re-runs share ONE build. */
  private[analytics] def minhashWideSig(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "minhash_wide_sig") {
      // the 64-perm signature is by construction the first 64 slices of
      // the 128-perm table (same "w<d>:" seeds, same slice scheme), so
      // derive it from the memoized 128 table instead of paying a second
      // full tokenize + shingle + digest pass over the corpus.
      // The stand-alone builder (DeclarativeScans in src/test) stays for
      // the spec that pins the equivalence.
      minhashWide128Arr(spark, dir)
        .select(col("doc_id") +:
          (0 until MinhashWidePerms).map(j => col("mh").getItem(j).as(s"mh$j")): _*)
    }


  /** TRUE-production-width MinHash signatures — 128 permutations (Lee et
    * al. 2022 run 128+; 64 is the regime's low end) from 32 seeded
    * digests via the same one-hash-many-slices scheme. Memoized +
    * prewarmed like the 64-perm table; the banding/pairs surface stays on
    * the 64-perm geometry (16×4 at the 0.5-Jaccard operating point) —
    * this table is the signature WIDTH probe the estimator accuracy
    * story needs (est_sim variance halves at 128 slices). */
  def ddMinhashWide128(spark: SparkSession, dir: String): DataFrame =
    minhashWide128Sig(spark, dir).orderBy(col("doc_id"))


  /** The one memoized 128-perm signature table, held as (doc_id,
    * mh array<string>(128)) — built by the one-pass [[MinhashSlicesAgg]]
    * kernel: the kernel computes the
    * 32 seeded digests inside the aggregate update and min-folds their
    * slices in a primitive int buffer, replacing 32 md5 projections + 128
    * substring + 128 string min-aggregates per shingle row, and the array
    * blob caches ~1.5 s faster than 128 string columns at sf0.1. Slices
    * are bit-identical to the retired declarative builder (DeclarativeScans
    * in src/test; LlmOpsSpec pins it), so every mirror and consumer is
    * unchanged. */
  private[analytics] def minhashWide128Arr(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "minhash_wide128_sig") {
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("toks", expr(toksSpark))
        .select(col("doc_id"), explode_outer(expr(shinglesSpark)).as("s"))
        .filter(col("s").isNotNull)
        .groupBy(col("doc_id"))
        .agg(org.apache.spark.sql.graft.MinhashBridge.minhashSlices(col("s"), 128).as("mh"))
    }


  /** Column view of [[minhashWide128Arr]] — (doc_id, mh0..mh127), a
    * row-local projection over the cached array table. */
  private[analytics] def minhashWide128Sig(spark: SparkSession, dir: String): DataFrame =
    minhashWide128Arr(spark, dir)
      .select(col("doc_id") +:
        (0 until 128).map(j => col("mh").getItem(j).as(s"mh$j")): _*)


  /** Corpus-side bucket cap of the INCREMENTAL near-dup probe — 4× the
    * pairs-query cap, because here the capped side is the recall-critical
    * one: evicting an arriving doc's only colliding corpus twin from every
    * band admits a genuine near-dup as "fresh" (a silent false negative on
    * the admission list). The probe's work per batch doc stays bounded at
    * bands × cap regardless of corpus size, and [[ddIncrementalCapped]]
    * surfaces exactly how much the cap is cutting (the repo's no-silent-
    * caps rule): zero capped-out rows at the synthetic SFs, nonzero under
    * a monster exact-dup cluster (LlmOpsSpec plants one). */
  // lazy: declared ahead of SimhashBucketCap in object-init order
  private[analytics] lazy val IncrementalProbeCap = 4 * SimhashBucketCap


  /** Cap ACCOUNTING for [[ddIncrementalNear]] — one summary row measuring
    * what the corpus-side bucket cap cut this run: total corpus band rows,
    * buckets over the cap, and rows capped out (each a potential missed
    * match). The loss a production pipeline alarms on instead of
    * discovering at audit time; the oracle pins it to zero on the
    * synthetic corpora, which is itself the claim worth checking. */
  def ddIncrementalCapped(spark: SparkSession, dir: String): DataFrame =
    bands(minhashWideSig(spark, dir).filter(col("doc_id") < IncrementalSplit), Nil, "bh",
        wideBandExprs)
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("cnt") > IncrementalProbeCap, lit(1L)).otherwise(lit(0L)))
          .as("n_buckets_capped"),
        sum(greatest(col("cnt") - IncrementalProbeCap, lit(0L)))
          .as("n_rows_capped_out"))


  /** Matching-slice COUNT for a candidate joined to the signature as
    * `a`/`b` — the integer numerator of the Jaccard estimate, exposed
    * separately so the calibration census can aggregate it exactly
    * (BIGINT sums, no double accumulation). */
  private[analytics] def wideMatches: Column =
    (0 until MinhashWidePerms)
      .map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1L).otherwise(0L))
      .reduce(_ + _)


  /** est_sim for a candidate joined to the signature as `a`/`b`:
    * matching slices / [[MinhashWidePerms]]. */
  private[analytics] def wideEstSim: Column =
    wideMatches.cast("double") / MinhashWidePerms.toDouble


  /** Wide MinHash-LSH candidate pairs: [[MinhashWideBands]] bands × 4 rows;
    * est_sim = matching minhashes / 64. Same banded no-doc² shape as
    * [[ddMinhashPairs]], PLUS the per-(band, bucket) membership cap the
    * simhash paths carry ([[SimhashBucketCap]] — see its Scaladoc for the
    * identical-signature monster-cluster measurement that motivates it):
    * candidate volume is bounded by bands × buckets × cap²/2 regardless of
    * the largest duplicate cluster, which matters MORE here than at 8
    * perms — identical docs agree on all 64 slices, so a giant exact-dup
    * cluster lands in one bucket per band. */
  def ddMinhashWidePairs(spark: SparkSession, dir: String): DataFrame = {
    withSig(wideBandCandidates(spark, dir).toDF("ia", "ib"), minhashWideSig(spark, dir))
      .select(col("ia"), col("ib"), wideEstSim.as("est_sim"))
      .orderBy(col("est_sim").desc, col("ia"), col("ib"))
      .limit(200)
  }


  /** Banding-accuracy census of the production 16×4 LSH geometry — the
    * MEASURED S-curve a dedup deployment validates its band choice with
    * (P(candidate | J); Leskovec/Rajaraman/Ullman MMDS ch. 3 give the
    * theoretical 1−(1−J⁴)¹⁶): exact same-block pairs from the memoized
    * [[jaccardPairs]] truth, binned by true Jaccard into twentieths via
    * INTEGER arithmetic (`(20·common) div union` — no float binning to
    * drift cross-engine), each bin counting its truth pairs and how many
    * of them [[ddMinhashWidePairs]]' capped banded candidate generation
    * retrieves; recall is the single int/int IEEE division. The truth
    * universe is overlap-POSITIVE pairs (≥ 1 shared shingle): zero-overlap
    * pairs never materialize a pair-table row in either engine, and the
    * J≈0 end is not what a band geometry is tuned on. Retrieval is
    * counted at candidate GENERATION (band-bucket collision, before
    * est_sim verification): candidate recall is the property the band
    * geometry controls — verification only filters. The census universe
    * is the blocked truth (same lang, same length bucket); cross-block
    * banded candidates have no exact Jaccard and are out of scope,
    * exactly as production measures this curve on a blocked ground-truth
    * sample.
    *
    * Scale shape: truth is the block-bounded checkpointed pair table
    * (never doc²); the candidate side is the same capped band self-join
    * the pairs query already bounds (bands × buckets × cap²/2); one
    * pair-keyed left join between two bounded tables folds to ≤ 21 rows
    * of (bin, counts) — constant output at any corpus size. */
  def ddMinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = jaccardBins(spark, dir)
    val cand = wideBandCandidates(spark, dir)
    truth.join(cand, col("ia") === col("ca") && col("ib") === col("cb"), "left")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), count(col("ca")).as("n_retrieved"))
      .withColumn("j_lo_pct", col("bin") * lit(5L))
      .withColumn("recall", col("n_retrieved") / col("n_pairs"))
      .select(col("bin"), col("j_lo_pct"), col("n_pairs"), col("n_retrieved"),
        col("recall"))
      .orderBy(col("bin"))
  }


  /** MinHash ESTIMATOR calibration census — Broder's unbiasedness theorem
    * (E[est_sim] = J for min-wise independent permutations) made
    * measurable on the production signature: over banded candidates that
    * HAVE blocked exact truth, per true-Jaccard twentieth (the same
    * integer binning as [[ddMinhashRecall]]): pair count, total matching
    * slices as a BIGINT sum of the integer est_sim numerators (no double
    * accumulation to drift with partition order), and the mean estimate
    * `avg_est = sum_matches / (64·n_pairs)` as ONE int/int IEEE division.
    * Read against the bin's true-J range [bin/20, (bin+1)/20), this is
    * the estimator's bias readout — the companion to the recall census:
    * that one validates the BANDING, this one validates the ESTIMATE the
    * surviving candidates are verified with. Same bounded join shape
    * (candidates ∩ truth, both pair-bounded), ≤ 21 output rows. */
  def ddMinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashWideSig(spark, dir)
    val cand = wideBandCandidates(spark, dir)
      .join(jaccardBins(spark, dir), col("ia") === col("ca") && col("ib") === col("cb"))
    withSig(cand, sig, "ca", "cb")
      .select(col("bin"), wideMatches.as("matches"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("matches")).as("sum_matches"))
      .withColumn("avg_est",
        col("sum_matches") / (lit(MinhashWidePerms.toLong) * col("n_pairs")))
      .orderBy(col("bin"))
  }


  /** Blocked exact-truth pairs with their integer Jaccard twentieth —
    * `(20·common) div union` on BIGINTs (the no-float-binning rule) —
    * shared by the recall and calibration censuses. */
  private[analytics] def jaccardBins(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)
      .select(col("ia"), col("ib"),
        expr("(20 * common) div (na + nb - common)").as("bin"))


  /** The banded candidate set (distinct ca &lt; cb band-bucket collisions
    * over the capped 16×4 bands) — the generation step shared by the
    * pairs query and both censuses; [[wideCandDuck]]'s Spark twin.
    * MEMOIZED like the signature table it derives from: all three
    * consumers re-ran the band stack + capped self-join (~5 s apiece at
    * sf2), and the distinct pair set is cap-bounded (never doc²) so the
    * cache is small at any scale — the same shared-state move as
    * [[bruteTruthTable]]. */
  private[analytics] def wideBandCandidates(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "band_candidates") {
      val bs = bands(minhashWideSig(spark, dir), Nil, "bh", wideBandExprs, Some(SimhashBucketCap))
      bandCandidates(bs, bs, selfJoin = true, Seq("ca"), Seq("cb"))
    }


  /** 16-bit SimHash over the distinct word set (md5-derived 16-bit token
    * hashes, per-bit majority vote). */
  def ddSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir).select(col("doc_id"), col("simhash")).orderBy(col("doc_id"))


  /** Deterministic 1/2 content sample: docs whose md5(text) first hex
    * nibble is even. Content-keyed (not id-keyed) so the sample is stable
    * under re-ingestion/re-sharding, and expressible verbatim in DuckDB —
    * the oracle applies the identical predicate, keeping the check exact. */
  private[analytics] lazy val evenFpSpark =
    "substr(md5(text), 1, 1) IN ('0','2','4','6','8','a','c','e')"

  /** The unordered signature table — what the pairs query materializes.
    * NO orderBy here: a global sort ahead of a checkpoint would run the
    * whole tokenize pipeline twice (the range partitioner's sampling pass
    * executes the child once before the real pass), and join consumers
    * don't care about order. The driver-facing [[ddSimhash]] adds the sort
    * on top for its deterministic output contract.
    *
    * Memoized per (session, dir, width): ONE signature build serves both
    * the signature-reporting query and the pairs query of its width (and
    * is prewarmed by [[stateBuilders]] so neither absorbs the build into
    * its floor). The 16-bit table carries the [[evenFpSpark]] flag as a
    * column, so the sampled pairs twin is a FILTER over the shared table
    * instead of a second tokenize pass.
    *
    * SimHash votes over the DISTINCT word set —
    * exactly the key set of the memoized [[rarityDocTf]] census (identical
    * [[toksSpark]] tokenize; `array_distinct` ≡ the census's group-by
    * keys, empty docs dropped in both lineages) — so the build reads the
    * census back instead of paying its own corpus tokenize. The sample
    * flag is text-derived (md5), not token-derived, so it joins back from
    * a map-only (doc_id, efp) projection; the join is doc-keyed and
    * doc-count-scale on both sides. SimhashCensusSpec pins bit-parity
    * against the retired tokenize formulation. */
  private[analytics] def simhashSig(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "sig16") {
      val efp = Tables.documents(spark, dir)
        .select(col("doc_id"), expr(evenFpSpark).as("efp"))
      val tok = rarityDocTf(spark, dir)
        .select(col("doc_id"), col("t"))
        .withColumn("h", expr(hex4("md5(t)")).cast("long"))
      val bits = (0 until 16).map(i =>
        sum(expr(s"CASE WHEN (h div ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END")).as(s"b$i"))
      val bitSums = tok.groupBy(col("doc_id")).agg(bits.head, bits.tail: _*)
      bitSums.join(efp, Seq("doc_id"))
        .select(col("doc_id"), col("efp"),
          (0 until 16).map(i => expr(s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END"))
            .reduce(_ + _).cast("long").as("simhash"))
    }


  /** Per-(band, bucket) membership CAP for the simhash LSH paths — the
    * [[StopShingleCap]] analog: a band bucket contributes at most cap²/2
    * candidate pairs regardless of corpus size, so total candidate volume
    * is bounded by buckets × cap²/2 — a CONSTANT per configuration — not
    * by the square of the largest duplicate cluster. The sf1 rehearsal
    * measured why this is required: the synthetic corpus's 31-token
    * vocabulary collapses 24.9k docs to 3.8k distinct 16-bit signatures
    * (largest identical-signature cluster 2,019 docs ⇒ 2M+ pairs from ONE
    * bucket; 21.9s). The cap keeps the smallest `SimhashBucketCap` doc_ids
    * per bucket (deterministic, window row_number, mirrored in the
    * oracle); monster clusters still surface — their lowest-id members
    * pair among themselves and fill the top-200 with hamming-0 rows — and
    * members lost to the cap are same-bucket near-identicals a production
    * pipeline removes with EXACT dedup upstream of LSH. */
  private[analytics] lazy val SimhashBucketCap = 64


  /** Capped LSH bucket membership of the 16-bit simhash over the sampled
    * half — (doc_id, simhash, band, bv), four 4-bit bands — memoized index
    * state like the signature table it derives from: a deployed LSH index
    * PERSISTS bucket membership (bucket → members IS the index), and the
    * pairs query consumes the banded table on BOTH sides of its candidate
    * self-join, which would otherwise plan the band stack + bucket-cap
    * window once per side (PlanGuardSpec pins one). Cached, not
    * checkpointed — the AQE-disengagement lesson in [[ddMinhashPairs]]'
    * comment applies verbatim. The sample is the memoized full-corpus
    * table filtered by its precomputed flag: no second tokenize pass. */
  private[analytics] def simhashBands16(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "sig16_bands") {
      bands(simhashSig(spark, dir).filter(col("efp")), Seq("simhash"), "bv",
        simhashBandExprs(4, 4), Some(SimhashBucketCap))
    }


  /** The 60-bit sibling of [[simhashBands16]]: six 10-bit bands over the
    * full corpus, capped per bucket — [[ddSimhashWidePairs]]' index
    * state. */
  private[analytics] def simhashBands60(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "sig60_bands") {
      bands(simhashWideSig(spark, dir), Seq("simhash"), "bv",
        simhashBandExprs(6, 10), Some(SimhashBucketCap))
    }


  /** SimHash near-dup pairs over a capped simhash band index: the band
    * self-join's candidates verified by exact Hamming distance, the 200
    * closest pairs (ties by ia, ib). */
  private def simhashPairs(bs: DataFrame, maxHamming: Int): DataFrame =
    bandCandidates(bs, bs, selfJoin = true, Seq("ia", "ha"), Seq("ib", "hb"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("ia"), col("ib"), col("hamming"))
      .orderBy(col("hamming"), col("ia"), col("ib"))
      .limit(200)


  /** SimHash near-dup PAIRS: banded candidate generation + exact Hamming
    * verify. The 16-bit simhash splits into four 4-bit bands; two hashes
    * within Hamming distance 3 differ in at most 3 bands, so they agree
    * exactly on at least one (pigeonhole) — candidates are pairs sharing
    * any band value, verified with bit_count(xor) <= 3. Banding bounds the
    * join fanout the same way MinHash-LSH banding does: no doc² anywhere;
    * [[SimhashBucketCap]] bounds the per-bucket fanout.
    *
    * The 16-bit width is the DIDACTIC twin of [[ddSimhashWidePairs]] (the
    * production path): with only 64 band buckets its candidate set is
    * ~50× the wide path's (~3M rows at sf0.1), so the twin runs over the
    * deterministic 1/2 content sample ([[evenFpSpark]], mirrored verbatim
    * in the oracle SQL) — candidates quarter while the banding/verify
    * plan under demonstration stays identical. */
  def ddSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(simhashBands16(spark, dir), 3)


  /** WIDE SimHash — the production-width configuration PLANS.md promises:
    * 60 bits (the widest md5 prefix whose arithmetic stays in signed
    * 64-bit in both engines) instead of 16. Same per-bit majority vote
    * over the distinct word set. */
  def ddSimhashWide(spark: SparkSession, dir: String): DataFrame =
    simhashWideSig(spark, dir).orderBy(col("doc_id"))


  private[analytics] def simhashWideSig(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "sig60") {
      // the distinct word set read back from the
      // memoized per-doc census instead of a private corpus tokenize —
      // same move as the 16-bit twin above, no sample flag needed here
      val tok = rarityDocTf(spark, dir)
        .select(col("doc_id"), col("t"))
        .withColumn("h", expr(hex15("md5(t)")))
      // one-pass SimhashAgg kernel (custom TypedImperativeAggregate): walks
      // the 60 bit counters in a primitive loop per row, replacing the
      // 60-column declarative sum the DuckDB oracle still runs (identical
      // sign rule — SimhashAggSpec pins equality against the declarative
      // form; the 16-bit simhashSig keeps that form as the didactic twin)
      tok.groupBy(col("doc_id"))
        .agg(org.apache.spark.sql.graft.SimhashBridge
          .simhashAgg(col("h"), 60).as("simhash"))
    }


  /** Wide-simhash near-dup pairs: six 10-bit bands (1024 values each) —
    * hamming ≤ 5 ⇒ at most 5 differing bands ⇒ agreement on at least one
    * (pigeonhole). Where the 16-bit version has 64 band buckets and ~3M
    * candidates at sf0.1, the wide bands have 6×1024 buckets and the
    * candidate set collapses to the near-dup pairs themselves — the
    * measured form of "widening the hash divides candidate volume". */
  def ddSimhashWidePairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(simhashBands60(spark, dir), 5)


  /** Per-label membership CAP for [[ddEmbedTopk]] — the [[SimhashBucketCap]]
    * treatment applied to the exactness twin's label blocks: with a fixed
    * label vocabulary, per-label membership grows ~N/|labels| and the
    * within-label join quadratically (the hot label owned the runtime at
    * every measured SF: 9.4 s at sf1, 12.1 s at sf2). Labels at or under
    * the cap keep EXACT all-pairs behavior (at sf0.01 the largest label is
    * 59 — the cap never binds); above it, the deterministic lowest-id
    * members represent the label (window row_number, mirrored verbatim in
    * the oracle), bounding per-label pairs at cap²/2 regardless of N.
    * Members past the cap are same-label vectors whose near-dups a
    * production pipeline finds via [[ddEmbedLsh]] — the scale path this
    * twin is the yardstick for. */
  private[analytics] lazy val EmbedLabelCap = 1024


  /** Embedding near-dup: top-50 most-similar within-label pairs (label is
    * the blocking key; cosine emitted as explicit per-dim arithmetic;
    * per-label membership bounded by [[EmbedLabelCap]]). */
  def ddEmbedTopk(spark: SparkSession, dir: String): DataFrame = {
    val wLbl = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val e = Tables.embeddings(spark, dir)
      .withColumn("lrk", row_number().over(wLbl))
      .filter(col("lrk") <= EmbedLabelCap)
      .withColumn("nrm", dotF(col("embedding"), col("embedding")))
    val a = e.select(col("vec_id").as("ia"), col("label"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("ib"), col("label").as("lb"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("label") === col("lb") && col("ia") < col("ib"))
      .withColumn("cos", dotF(col("ea"), col("eb")) / sqrt(col("na") * col("nb")))
      .select(col("ia"), col("ib"), col("label"), col("cos"))
      .orderBy(col("cos").desc, col("ia"), col("ib"))
      .limit(50)
  }


  /** Embedding near-dup, LSH-BUCKETED (the scale path for [[ddEmbedTopk]]):
    * blocks on (label, hyperplane-LSH bucket) instead of label alone, so a
    * corpus with few/huge labels has no quadratic block — candidate fanout
    * per label drops ~2^AnnPlanes×, and at production scale the bucket count
    * grows with the plane count independent of how labels are distributed.
    * Same deterministic hyperplanes as [[simAnnLsh]]; the label-only query
    * stays as the exactness twin the recall probe measures against. */
  def ddEmbedLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = annBucketTable(spark, dir)
      .withColumn("bucket", col("bucket").cast("long"))
    val a = e.select(col("vec_id").as("ia"), col("label"), col("bucket"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("ib"), col("label").as("lb"), col("bucket").as("bb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("label") === col("lb") && col("bucket") === col("bb") && col("ia") < col("ib"))
      .withColumn("cos", dotF(col("ea"), col("eb")) / sqrt(col("na") * col("nb")))
      .select(col("ia"), col("ib"), col("label"), col("bucket"), col("cos"))
      .orderBy(col("cos").desc, col("ia"), col("ib"))
      .limit(50)
  }


  /** Cross-document line-level exact dedup (the C4 boilerplate rule:
    * a line occurring verbatim in more than one document is boilerplate —
    * navbars, license banners, cookie notices). Emits, per doc, the line
    * counts and the fingerprint of the text with boilerplate lines removed.
    * Two shuffles total at any scale: one keyed by line hash (the
    * boilerplate census, map-side combinable), one keyed by doc_id (the
    * rebuild); text lines travel the doc-keyed shuffle once. */
  def ddLines(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), posexplode_outer(split(col("text"), "\n")))
      .withColumn("line", trim(col("col")))
      .filter(col("line").isNotNull && col("line") =!= "")
      .select(col("doc_id"), col("pos").as("idx"), col("line"), md5(col("line")).as("fp"))
    // lines whose hash appears in >1 distinct doc; the distinct-count runs
    // on (fp, doc_id) partial aggregates, never the line text
    val dups = lines.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("fp"), lit(true).as("is_dup"))
    lines.join(dups, Seq("fp"), "left")
      .withColumn("dup", coalesce(col("is_dup"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("dup"), 1)).as("n_dup_lines"),
        // kept lines, re-assembled in document order: collect_list skips
        // the nulls `when` produces for boilerplate lines; the struct sort
        // on (idx, line) restores order regardless of shuffle arrival
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(when(!col("dup"), struct(col("idx"), col("line"))))),
            x => x.getField("line")))).as("clean_fp"))
      .orderBy(col("doc_id"))
  }


  /** Duplicate-passage census — the fixed-window approximation of exact
    * substring dedup (the suffix-array method of Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better", recast
    * for a distributed engine): every 8-token rolling window is
    * fingerprinted, and windows recurring across documents are surfaced
    * with their document span. One explode + one fingerprint-keyed
    * map-side-combinable aggregation; window text never leaves the map
    * side (only the 16-hex fingerprint shuffles), so shuffle volume is
    * bounded by token count, not text size. Top-100 keeps the driver
    * comparison small; production consumers stream the full census into
    * the cut-list join of a dedup action. */
  def ddPassages(spark: SparkSession, dir: String): DataFrame =
    // PassageHash kernel = the declarative HOF chain (tokenize → per-
    // window md5 prefix), evaluated as one JVM loop per doc — same
    // interpreted-lambda tax the shingle kernel removes (see
    // ShingleHash32's Scaladoc); window semantics pinned by PassageHashSpec
    passageWindows(spark, dir, 8)
      .groupBy(col("w").as("passage_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("n_hits").desc, col("passage_fp"))
      .limit(100)


  /** Per-document DUPLICATION FRACTION — the doc-level readout of the
    * passage census (the "fraction of duplicated text" measurement of Lee
    * et al. 2021 §4, recast per document): for every doc with >= 8 tokens,
    * the share of its 8-token rolling windows that also occur verbatim in
    * at least one OTHER document. The standard triage metric between
    * exact dedup (whole-doc) and the cut-list action: rank docs by
    * dup_frac, drop or rewrite the worst. Same scale shape as [[ddLines]]:
    * one fingerprint-keyed census aggregation + one doc-keyed rebuild,
    * both map-side combinable, and only 16-hex fingerprints ever shuffle. */
  def ddDupFraction(spark: SparkSession, dir: String): DataFrame = {
    val w = passageWindows(spark, dir, 8)
    // windows seen in more than one distinct doc; the distinct-count runs
    // on (w, doc_id) partial aggregates
    val dup = w.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("w"), lit(true).as("is_dup"))
    w.join(dup, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("is_dup"), 1)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows") / col("n_windows")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }


  /** PAIR ALIGNMENT — longest shared verbatim passage per near-duplicate
    * pair: for every Jaccard >= 0.8 pair (the dedup action's edge set), the
    * maximum run of CONSECUTIVE shared 8-token windows, i.e. the length of
    * the longest common verbatim span — the measurement behind
    * substring-cut decisions (drop the doc vs cut the shared span, Lee et
    * al. 2021's exact-substring action). Classic diagonal run-length
    * analysis: a match at corpus positions (pa, pb) lies on diagonal
    * pa-pb; consecutive pa values on one diagonal form a run
    * (pa - row_number is constant), and max run + 7 converts windows back
    * to tokens. Scale shape: the pair set is blocking-bounded (never
    * doc²), the positioned-window table joins it broadcast-style, and the
    * run window partitions by (pair, diagonal) — no global sort
    * anywhere. */
  def ddAlign(spark: SparkSession, dir: String): DataFrame = {
    val w = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), posexplode_outer(
        org.apache.spark.sql.graft.ColumnBridge.column(
          org.apache.spark.sql.graft.PassageHash(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), 8))))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val pairs = jaccardEdges08(spark, dir).select(col("ia"), col("ib"))
    val wa = w.toDF("ia", "pa", "wa")
    val wb = w.toDF("ib", "pb", "wb")
    val matches = pairs.join(wa, Seq("ia")).join(wb,
      wb("ib") === pairs("ib") && col("wa") === col("wb"))
      .select(pairs("ia"), pairs("ib"), col("pa"), col("pb"))
    val runW = Window.partitionBy(col("ia"), col("ib"), col("diag")).orderBy(col("pa"))
    matches
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("rn", row_number().over(runW))
      .groupBy(col("ia"), col("ib"), col("diag"), (col("pa") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("ia"), col("ib"))
      .agg(max(col("run_len")).as("max_run_windows"))
      .select(col("ia"), col("ib"), col("max_run_windows"),
        (col("max_run_windows") + 7).as("max_run_tokens"))
      .orderBy(col("ia"), col("ib"))
  }


  /** Per-doc rolling n-token window fingerprints (PassageHash kernel),
    * one row per window occurrence — the shared explode under the passage
    * census, both decontamination variants and both duplication-fraction
    * metrics. Memoized per (session, dir, n) and cached (same reasoning as the
    * jaccard-pairs memo: five consumers would otherwise each re-scan the
    * text and re-run the kernel, and the contamination queries use the
    * table TWICE in one plan). The cached table is (doc_id, 16-hex)
    * pairs — bounded by token count, small at any SF; materialized
    * eagerly so parallel stages of one consuming job can't race past the
    * unpopulated cache and double-build (the minhash-signature lesson).
    * Released with everything else by [[releaseCaches]]. */
  private[analytics] def passageWindows(spark: SparkSession, dir: String, n: Int): DataFrame =
    memoSig(spark, dir, s"passages_n$n") {
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode_outer(
          org.apache.spark.sql.graft.ColumnBridge.column(
            org.apache.spark.sql.graft.PassageHash(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), n))).as("w"))
        .filter(col("w").isNotNull)
    }


  /** Benchmark DECONTAMINATION — the test-set-overlap check every serious
    * training run performs (distinct from dedup: the reference set is
    * held-out eval data, and ANY shared passage taints the doc): docs
    * whose id ≡ 0 mod 97 stand in for the benchmark suite; every corpus
    * doc sharing at least one n-token window with any benchmark doc is
    * flagged with its overlap count. The window width is a parameter; the
    * DEFAULT matches the cross-engine-verified registry entry (n=4: the
    * synthetic word-soup corpus has no verbatim 8-gram reuse ACROSS
    * distinct docs, and a 4-gram window keeps the DuckDB check non-vacuous
    * — 8/8/727 flagged docs at sf0.001/0.01/0.1 — while exercising the
    * identical plan; the default-parameter path is therefore never
    * oracle-unverified). Callers opt into any width; [[ddContamination8]]
    * is the production-width (8-token) variant whose overlap is real by
    * construction and which carries its own oracle.
    * Only 16-hex fingerprints join, and the benchmark side is tiny by
    * construction (eval suites are), so at scale this is a broadcast
    * semi-join against the fact scan — the corpus text never shuffles. */
  def ddContamination(spark: SparkSession, dir: String, n: Int = 4): DataFrame = {
    val w = passageWindows(spark, dir, n)
    val bench = w.filter(expr("doc_id % 97 = 0"))
      .select(col("w").as("bw")).distinct()
    w.filter(expr("doc_id % 97 != 0"))
      .join(broadcast(bench), col("w") === col("bw"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("w")).as("n_shared_windows"))
      .orderBy(col("doc_id"))
  }


  /** The benchmark suite's excerpt windows — ONE construction (mod-89
    * items, 20-token excerpts at positions 5..24, 8-token PassageHash
    * windows) shared by BOTH contamination directions, so the corpus-side
    * flagging ([[ddContamination8]]) and the item-side rate
    * ([[ddContaminationRate]]) can never drift apart. Distinct
    * (bench_id, bw) rows; tiny by construction (eval suites are). */
  private def benchExcerptWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(expr("doc_id % 89 = 7"))
      .withColumn("toks", expr(toksSpark))
      .withColumn("excerpt", expr("array_join(slice(toks, 5, 20), ' ')"))
      .select(col("doc_id").as("bench_id"), explode_outer(
        org.apache.spark.sql.graft.ColumnBridge.column(
          org.apache.spark.sql.graft.PassageHash(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("excerpt")), 8))).as("bw"))
      .filter(col("bw").isNotNull)
      .distinct()


  /** PRODUCTION-WIDTH (8-token) decontamination with an overlap that is
    * real by construction: the benchmark suite is built from genuine
    * 20-token excerpts (token positions 5..24) of the docs with
    * doc_id ≡ 7 mod 89 — the way real eval sets end up contaminated, by
    * containing verbatim passages that also live in the crawl. Every
    * corpus doc sharing at least one 8-token window with any excerpt is
    * flagged (the excerpt sources themselves flag by construction, ≥ 1
    * per 89 docs at every SF, so the cross-engine check can't go
    * vacuous). Same scale shape as [[ddContamination]]: the excerpt side
    * is tiny and broadcast, only 16-hex fingerprints join, the corpus
    * text never shuffles. */
  def ddContamination8(spark: SparkSession, dir: String): DataFrame = {
    val bench = benchExcerptWindows(spark, dir).select(col("bw")).distinct()
    passageWindows(spark, dir, 8)
      .join(broadcast(bench), col("w") === col("bw"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("w")).as("n_shared_windows"))
      .orderBy(col("doc_id"))
  }


  /** BENCHMARK-side contamination census — [[ddContamination8]] reports
    * which CORPUS docs share passages with the benchmark; the number a
    * model card reports is the inverse: per benchmark ITEM, is it leaked
    * into the training corpus, and what fraction of the suite is
    * contaminated overall. Same 8-token passage fingerprints, same
    * excerpt construction (20-token excerpts of docs ≡ 7 mod 89), same
    * broadcast semi-join direction — the tiny benchmark side broadcasts
    * onto the one corpus window table; only the final fold points the
    * other way (groupBy bench item instead of corpus doc). An item is
    * LEAKED when a corpus doc OTHER than its own excerpt source shares a
    * window (the source doc matches trivially — that is provenance, not
    * contamination). Output: one row per benchmark item (items whose
    * excerpt is too short for any 8-token window stay present with
    * n_windows = 0), plus a TOTAL row keyed bench_id = -1 carrying the
    * model-card number — contaminated_frac = leaked items / items, one
    * int/int IEEE division. Constant-size output (the benchmark is). */
  def ddContaminationRate(spark: SparkSession, dir: String): DataFrame = {
    val bw = benchExcerptWindows(spark, dir)
    val ext = passageWindows(spark, dir, 8)
      .join(broadcast(bw), col("w") === col("bw"))
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("bw")).as("n_ext_windows"),
        countDistinct(col("doc_id")).as("n_ext_docs"))
      .withColumnRenamed("bench_id", "eb")
    val wcount = bw.groupBy(col("bench_id"))
      .agg(countDistinct(col("bw")).as("nw"))
      .withColumnRenamed("bench_id", "wb")
    val perItem = Tables.documents(spark, dir)
      .filter(expr("doc_id % 89 = 7")).select(col("doc_id").as("bench_id"))
      .join(wcount, col("bench_id") === col("wb"), "left")
      .join(ext, col("bench_id") === col("eb"), "left")
      .select(col("bench_id"),
        coalesce(col("nw"), lit(0L)).as("n_windows"),
        coalesce(col("n_ext_windows"), lit(0L)).as("n_ext_windows"),
        coalesce(col("n_ext_docs"), lit(0L)).as("n_ext_docs"))
      .withColumn("leaked", col("n_ext_windows") > 0)
    val total = perItem.agg(
        count(lit(1)).as("n_items"),
        sum(col("n_windows")).as("tw"),
        sum(col("n_ext_windows")).as("tew"),
        sum(col("n_ext_docs")).as("ted"),
        count(when(col("leaked"), 1)).as("n_leaked"))
      .select(lit(-1L).as("bench_id"), col("tw").as("n_windows"),
        col("tew").as("n_ext_windows"), col("ted").as("n_ext_docs"),
        (col("n_leaked") > 0).as("leaked"),
        // 0/0 guard: a corpus with no benchmark items yields NULL, the
        // same on both engines (an unguarded int/int 0/0 is NULL in
        // Spark but NaN/error under DuckDB float division)
        when(col("n_items") > 0, col("n_leaked") / col("n_items"))
          .as("contaminated_frac"))
    perItem.withColumn("contaminated_frac", lit(null).cast("double"))
      .unionByName(total)
      .orderBy(col("bench_id"))
  }
}
