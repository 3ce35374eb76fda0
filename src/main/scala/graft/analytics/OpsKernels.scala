package graft.analytics

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared machinery for the LlmOps surface: the cache registry, the one
  * fingerprinted memo spine ([[memo]]) and the one bucketed warehouse-table
  * lifecycle ([[bucketedStateTable]]), cross-engine hash/arith fragments,
  * the codegen dot-product bridges and the data-sized index parameters. */
private[analytics] trait OpsKernels {

  // --------------------------------------------------------- cache registry


  /** Every persisted frame / checkpointed RDD the dedup family creates is
    * registered here, and [[releaseCaches]] frees them all. The query
    * builders themselves CANNOT unpersist (they return lazy frames — the
    * consuming action runs later, in the harness), so without an explicit
    * release point executor storage grows monotonically across a long
    * session: each verify/bench/test pass re-persists fresh copies of the
    * shingle, signature, and cluster-label tables. Harness entry points
    * (Verify, Bench, Probe) call [[releaseCaches]] once their actions have
    * completed; the forked test JVM relies on process teardown. */
  private[analytics] lazy val tracked = scala.collection.mutable.ArrayBuffer.empty[() => Unit]


  private[analytics] def track(df: DataFrame): DataFrame =
    { synchronized { tracked += (() => { df.unpersist(); () }) }; df }


  private[analytics] def trackRdd(rdd: RDD[_]): Unit =
    synchronized { tracked += (() => { rdd.unpersist(blocking = false); () }) }


  /** Unpersist every tracked frame/RDD and empty the memo spine
    * ([[memoCells]]) — the one store of per-(session, dir) derived state.
    * Safe to call repeatedly; after a release the next query rebuilds its
    * caches from scratch. */
  def releaseCaches(): Unit = synchronized {
    // Unpersisting a locally-checkpointed RDD makes its concrete class
    // logger (e.g. org.apache.spark.rdd.MapPartitionsRDD) WARN "... was
    // locally checkpointed, its lineage has been truncated". Here that is
    // exactly the intent — the caches are being discarded, recomputation is
    // not wanted — so the flood in Bench/Verify tails is pure noise; drop
    // the rdd package logger to ERROR for the release and restore it after.
    withQuietRddLogger {
      tracked.foreach(f => try f() catch { case _: Throwable => () })
      tracked.clear()
      memoCells.clear()
    }
  }


  /** The org.apache.spark.rdd package logger, dropped to ERROR while `body`
    * runs — covers every RDD subclass's "lineage has been truncated" WARN
    * on the deliberate unpersists of locally-checkpointed RDDs (cache
    * release, CC-loop prior-round frees). Restores the prior effective
    * level afterwards. */
  def withQuietRddLogger[A](body: => A): A = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    val pkg = "org.apache.spark.rdd"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    // restore INHERITANCE if the package had no explicit LoggerConfig before
    // (a plain setLevel would otherwise pin a level on a previously
    // inheriting package for the rest of the JVM)
    val hadExplicit = ctx.getConfiguration.getLoggerConfig(pkg).getName == pkg
    val prior = ctx.getConfiguration.getLoggerConfig(pkg).getLevel
    Configurator.setLevel(pkg, Level.ERROR)
    try body
    finally {
      if (hadExplicit) Configurator.setLevel(pkg, prior)
      else { ctx.getConfiguration.removeLogger(pkg); ctx.updateLoggers() }
    }
  }


  // --------------------------------------------------------------- helpers


  /** Whitespace tokens of lowercased text — Spark SQL fragment. */
  private[analytics] lazy val toksSpark = raw"filter(split(lower(trim(text)), '\\s+'), t -> t != '')"


  /** Distinct 3-gram word shingles over a `toks` array column (Spark, 0-based). */
  private[analytics] lazy val shinglesSpark =
    "case when size(toks) >= 3 then array_distinct(transform(sequence(0, size(toks)-3), " +
      "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) else array() end"


  /** First-4-hex-chars of an md5 hex column `h` as an integer 0..65535 —
    * identical text parses in BOTH engines (instr/substr are 1-based in both).
    * Terms are BIGINT-cast: Spark would otherwise do wrapping 32-bit int
    * arithmetic where DuckDB widens. */
  private[analytics] def hex4(h: String): String =
    (1 to 4).map(p =>
      s"(CAST(instr('0123456789abcdef', substr($h, $p, 1)) - 1 AS BIGINT) * CAST(${math.pow(16, 4 - p).toLong} AS BIGINT))")
      .mkString("(", " + ", ")")


  /** First-8-hex-chars as a long 0..2^32-1 — same portability. */
  private[analytics] def hex8(h: String): String =
    (1 to 8).map(p =>
      s"(CAST(instr('0123456789abcdef', substr($h, $p, 1)) - 1 AS BIGINT) * CAST(${math.pow(16, 8 - p).toLong} AS BIGINT))")
      .mkString("(", " + ", ")")


  /** First-15-hex-chars as a long 0..2^60-1 — the widest md5 prefix whose
    * arithmetic stays inside signed 64-bit in BOTH engines (16 chars would
    * need unsigned). Powers via 1L<<shift, not math.pow (exact). */
  private[analytics] def hex15(h: String): String =
    (1 to 15).map(p =>
      s"(CAST(instr('0123456789abcdef', substr($h, $p, 1)) - 1 AS BIGINT) * CAST(${1L << (4 * (15 - p))} AS BIGINT))")
      .mkString("(", " + ", ")")


  /** Explicit per-dimension double dot product between two 64-dim float
    * array columns; `base` is the first index (Spark arrays 0-based, DuckDB
    * lists 1-based). Left-associated additions → bit-identical IEEE result.
    * Used for the DuckDB oracle text. */
  private[analytics] def dot(a: String, b: String, base: Int): String =
    (base until base + 64).map(i => s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))").mkString(" + ")


  /** Spark-side dot product via the native codegen'd Catalyst expression
    * [[org.apache.spark.sql.graft.DotProductF]] — a tight primitive loop,
    * numerically identical to the left-folded HOF formulation AND to the
    * unrolled left-associated chain in [[dot]] used by the oracles (same
    * accumulation order from 0.0, same per-term double widening). */
  private[graft] def dotF(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.DotProductF(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))


  /** Per-doc distinct-3-gram-shingle hashes via the
    * [[org.apache.spark.sql.graft.ShingleHash32]] kernel (see its Scaladoc
    * for why this beats the declarative HOF chain ~5x). */
  private[analytics] def shingleHash(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.ShingleHash32(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))


  /** Deterministic hyperplane weights for ANN-LSH: plane p, dim i →
    * ((first-8-hex of md5("p:i") as long) % 2001 - 1000) / 1000 ∈ [-1, 1].
    * Materialized as shortest-round-trip literals so Spark and DuckDB parse
    * the exact same doubles. */
  private[analytics] lazy val planes: IndexedSeq[IndexedSeq[String]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    (0 until MaxPlanes).map { p =>
      (0 until 64).map { i =>
        val hex = mdt.digest(s"$p:$i".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        val w = (java.lang.Long.parseLong(hex, 16) % 2001 - 1000) / 1000.0
        graft.expr.JsNumber.format(w)
      }
    }
  }


  /** Σ_i w[p][i] * e[i] for hyperplane p over array column `e` (DuckDB text). */
  private[analytics] def planeDot(e: String, p: Int, base: Int): String =
    (0 until 64).map(i => s"(CAST(${planes(p)(i)} AS DOUBLE) * CAST($e[${base + i}] AS DOUBLE))").mkString(" + ")


  /** DATA-SIZED ANN capacities — the q33-bloom treatment applied to the
    * embedding family's quantizers. Every fixed sketch/layout capacity is a
    * latent scale cliff: the original 4-plane/16-bucket LSH and 16-centroid
    * IVF were constants, so bucket/cell occupancy grew linearly with N and
    * within-cell pair work quadratically. Both capacities now derive from
    * the embeddings PARQUET FOOTER row count ([[Tables.rowCount]] — no
    * Spark job at frame construction) and never shrink below the original
    * constants, so small-SF results stay byte-identical. The SAME formulas
    * are written INTO the oracle SQL (computed from count(*) over the same
    * parquet), so one static SQL self-sizes at every SF; both engines see
    * the identical N and the formulas are integer-exact (floor(sqrt()) of
    * an exact integer and a power-of-two search — no log2 rounding hazard).
    *
    *  - [[annPlanes]]: smallest P with 64 * 2^P >= N — sign-buckets of ~64
    *    vectors regardless of corpus size, so per-query candidate counts
    *    are BOUNDED and the family scales with the query count, not N².
    *    Floor 4 (the original constant); cap [[MaxPlanes]] = 16, the
    *    pregenerated hyperplane table (covers N = 4.2M at 64/bucket —
    *    production regenerates the deterministic plane table, same recipe).
    *  - [[ivfK]]: k = max(16, floor(sqrt(N/2))) — the FLAT-quantizer cost
    *    optimum: assignment costs N*k centroid dots, within-cell pair work
    *    is ~N²/(2k); N*k + N²/(2k) is minimized at k = sqrt(N/2), turning
    *    the fixed-k O(N²/16) into O(N^1.5). (k ∝ N would bound cell sizes
    *    but re-quadratize ASSIGNMENT; past ~10M vectors the production
    *    answer is a two-level/hierarchical quantizer, not a bigger flat
    *    one.)
    */
  private[analytics] lazy val MaxPlanes = 16


  /** Vocabulary-head size for [[txtRarity]]'s bounded broadcast: 64Ki types
    * ≈ a BPE vocabulary's order of magnitude — large enough that the cap
    * never binds on curated corpora, small enough that the broadcast is
    * ~2 MB however large the corpus grows. */
  private[analytics] lazy val RarityVocabCap = 65536


  private[analytics] def annPlanes(spark: SparkSession, dir: String): Int = {
    val n = Tables.rowCount(spark, dir, "embeddings")
    var p = 0
    while (p < MaxPlanes && (64L << p) < n) p += 1
    math.max(4, p)
  }


  private[analytics] def ivfK(spark: SparkSession, dir: String): Int = {
    val n = Tables.rowCount(spark, dir, "embeddings")
    math.max(16, math.sqrt((n / 2).toDouble).toLong.toInt)
  }


  /** Per-level k for the TWO-LEVEL quantizer ([[simIvf2]]): the largest
    * integer c with c³ <= N, floored at 8 — computed by integer search,
    * not a float cbrt (whose ulp could differ across engines and flip the
    * floor). With k = N^(1/3) per level the index has ~N^(2/3) leaf cells
    * of ~N^(1/3) members: assignment costs N·2k ~ N^(4/3) and within-leaf
    * pair work ~N^(4/3) — below the flat quantizer's N^1.5, which is the
    * whole point of going hierarchical past ~10M vectors. */
  private[analytics] def ivf2K(spark: SparkSession, dir: String): Int = {
    val n = Tables.rowCount(spark, dir, "embeddings")
    var c = 1L
    // cap 2099 = the oracle's range(1,2100) search bound (~9.2e9 vectors);
    // the two searches must share a bound or they would diverge past it
    while (c < 2099 && (c + 1) * (c + 1) * (c + 1) <= n) c += 1
    math.max(8, c.toInt)
  }


  /** LSH bucket id, sized (DuckDB text): all [[MaxPlanes]] sign bits are in
    * the SQL, each gated on `p < params.pl`, so the static SQL computes the
    * same P-plane bucket the Spark side builds for the dir's N. */
  private[analytics] def bucketExpr(e: String, base: Int): String =
    (0 until MaxPlanes).map(p =>
      s"(CASE WHEN $p < (SELECT pl FROM params) AND (${planeDot(e, p, base)}) >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")


  /** Spark-side plane dot via HOF: weights as a literal double array; the
    * fold from 0.0 with w*x term order matches [[planeDot]] bit-for-bit. */
  private[analytics] def planeDotHof(e: String, p: Int): String = {
    val ws = planes(p).map(w => s"CAST($w AS DOUBLE)").mkString("array(", ", ", ")")
    s"aggregate(zip_with($ws, $e, (w, x) -> w * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
  }


  /** Spark-side LSH bucket id over the first `pl` hyperplanes. */
  private[analytics] def bucketHof(e: String, pl: Int): String =
    (0 until pl).map(p => s"(CASE WHEN (${planeDotHof(e, p)}) >= 0 THEN ${1 << p} ELSE 0 END)").mkString(" + ")

  // ------------------------------------------------------------ memo spine


  /** One slot of the memo spine: `fp` is the source-data fingerprint the
    * build observed; the lazy `value` materializes under the CELL's own
    * monitor, so concurrent consumers of DIFFERENT memo keys never
    * serialize behind one build (the map's per-bin lock only guards cell
    * creation, which is cheap). `peek` exposes the value ONLY once built —
    * the stale-release path must never force an unbuilt cell (a failed
    * build's cell would otherwise rebuild, possibly recursively through
    * this very map, inside the release path). */
  private[analytics] final class MemoCell[A](val fp: Long, build: () => A) {
    @volatile private var built: Option[A] = None
    def peek: Option[A] = built
    lazy val value: A = { val v = build(); built = Some(v); v }
  }

  /** THE memo spine: every piece of derived state kept per (session, dir)
    * — index tables, pair tables, the shingle hold, scalar censuses such as
    * the corpus doc count and the pagerank node count — is one cell here,
    * keyed (session, dir, kind) and stamped with the [[dirFingerprint]] its
    * build observed. [[releaseCaches]] empties it. */
  private[analytics] lazy val memoCells =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), MemoCell[_]]


  /** Source-data fingerprint for a testdata dir: the newest modification
    * time across every table in [[Tables.names]] — the tables every memo,
    * every [[bucketedStateTable]] and every SQL view of
    * [[Tables.registerViews]] derives from — resolved through the Hadoop
    * filesystem of the path (so hdfs://s3:// URIs and directory-layout
    * parquet fingerprint correctly — a plain java.io.File mtime is 0 for
    * a URI and misses in-place part-file rewrites under a directory). A
    * harness that REGENERATES a dir mid-session (the driver does) changes
    * the fingerprint, so the next memo call misses and rebuilds — without
    * this, build-once state would silently serve the old data.
    * (`releaseCaches()` remains the bulk lifecycle: release everything
    * when the session is done with a dir.) */
  private[graft] def dirFingerprint(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = (spark, dir)
    // A MISSING table is a stable state and fingerprints as 0 (some dirs
    // legitimately lack embeddings); any OTHER filesystem failure is a
    // transient metadata hiccup (e.g. a listing racing a regeneration) —
    // returning 0 for those would flip the fingerprint down and back up,
    // evicting and rebuilding expensive index state twice for nothing.
    // Fall back to the last successfully observed value instead: unreadable
    // means "unchanged until proven otherwise".
    val computed: Option[Long] = try {
      Some(Tables.names.map { t =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
        val fs = p.getFileSystem(conf)
        try {
          val st = fs.getFileStatus(p)
          if (st.isDirectory)
            fs.listStatus(p).map(_.getModificationTime)
              .foldLeft(st.getModificationTime)(math.max)
          else st.getModificationTime
        } catch { case _: java.io.FileNotFoundException => 0L }
      }.max)
    } catch { case _: Throwable => None }
    computed match {
      case Some(fp) => fpMemo.put(key, java.lang.Long.valueOf(fp)); fp
      case None => Option(fpMemo.get(key)).map(_.longValue).getOrElse(0L)
    }
  }


  /** Last successfully computed fingerprint per (session, dir) — the
    * fallback [[dirFingerprint]] serves when the filesystem is transiently
    * unreadable. */
  private[analytics] lazy val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]


  /** Memoize `build` in the spine: fingerprint check, stale eviction,
    * per-key lazy build. A stale cell that built a DataFrame has it
    * unpersisted; any other stale value is just dropped. The stale release
    * runs OUTSIDE any map lock — it is a Spark call, and a fresh build may
    * recursively enter this memo (the serve-PQ code table builds on the
    * serve assignment); only cheap cell construction happens inside
    * computeIfAbsent. */
  private[analytics] def memo[A](spark: SparkSession, dir: String, kind: String)
      (build: => A): A = {
    val key = (spark, dir, kind)
    val fp = dirFingerprint(spark, dir)
    val existing = memoCells.get(key)
    // Evict only when the OBSERVED fingerprint is strictly newer than the
    // cell's (mtimes are monotonic): a thread that read the fingerprint
    // BEFORE a concurrent regeneration must not tear down the fresh cell a
    // faster thread already installed — with `!=` it would unpersist a
    // table other queries are using and re-insert a cell stamped with the
    // stale fp, thrashing the memo until the next call re-evicts.
    if (existing != null && existing.fp < fp && memoCells.remove(key, existing))
      // stale entry (dir regenerated): best-effort drop of whatever it
      // MATERIALIZED (never force an unbuilt cell); self-tracked builds
      // keep their storage until releaseCaches, which is acceptable —
      // correctness needs only the memo MISS
      existing.peek.foreach {
        case d: Dataset[_] => try d.unpersist(false) catch { case _: Throwable => () }
        case _ => ()
      }
    memoCells.computeIfAbsent(key, _ => new MemoCell(fp, () => build))
      .asInstanceOf[MemoCell[A]].value
  }


  /** Drop `kind`'s cell for (spark, dir) if it still holds `value` — by
    * identity, so a fresh cell built after a regeneration is never torn
    * down by the release of an older value. */
  private[analytics] def memoForget(spark: SparkSession, dir: String, kind: String,
      value: AnyRef): Unit = {
    val key = (spark, dir, kind)
    val cell = memoCells.get(key)
    if (cell != null && cell.peek.exists(_.asInstanceOf[AnyRef] eq value))
      memoCells.remove(key, cell)
  }


  /** The fingerprint each spine cell of (spark, dir) was built against,
    * by kind. */
  private[graft] def memoFingerprints(spark: SparkSession, dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    memoCells.asScala.collect { case ((s, d, k), c) if s == spark && d == dir => k -> c.fp }.toMap
  }


  /** Memoize + cache + eagerly materialize + track an index table. */
  private[analytics] def memoSig(spark: SparkSession, dir: String, kind: String)
      (build: => DataFrame): DataFrame =
    memo(spark, dir, kind) { val df = build.cache(); df.count(); track(df) }


  // ------------------------------------------------ warehouse state tables


  /** ONE idempotent bucketed-state-table lifecycle, shared by every
    * bucketed warehouse table: the fingerprint and frontier states (8
    * buckets) and the two q35 fact tables ([[Relational.factBuckets]]).
    * The dir-tagged table name is supplied by the caller; a stale
    * warehouse directory is deleted before the rewrite (the in-memory
    * catalog forgets tables across restarts but the files persist); the
    * writer repartitions on the bucket key with the bucket count — Spark's
    * repartition and bucketBy share the Murmur3 hash, so every writer task
    * holds exactly one bucket's rows and commits one file per bucket, in
    * parallel.
    *
    * Like [[memo]], the lifecycle is SOURCE-FINGERPRINTED: the
    * [[dirFingerprint]] observed at build time is recorded JVM-side,
    * and a call that observes a strictly NEWER fingerprint (a harness
    * that regenerates a data dir mid-session) drops and rebuilds the table
    * instead of serving stale state. Strictly-newer, not `!=`, for the
    * same monotonic-mtime race reason [[memo]] documents. The record is
    * keyed by TABLE NAME alone (dir-tagged, so distinct dirs never
    * collide): sessions sharing one SharedState/catalog live in one JVM,
    * so a session-keyed record would miss for a sibling session and serve
    * it the pre-regeneration table; across JVM restarts the in-memory
    * catalog forgets the table and the build path runs anyway. */
  private[analytics] lazy val bucketedFpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]


  private[analytics] def bucketedStateTable(spark: SparkSession, name: String,
      key: String, dir: String, buckets: Int)(build: => DataFrame): String = synchronized {
    val fp = dirFingerprint(spark, dir)
    val stale = Option(bucketedFpMemo.get(name)).exists(_.longValue < fp)
    if (stale || !spark.catalog.tableExists(name)) {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        .stripPrefix("file:")
      val p = java.nio.file.Paths.get(wh, name)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
        } finally walk.close()
      }
      build.repartition(buckets, col(key))
        .write.bucketBy(buckets, key).sortBy(key).saveAsTable(name)
      bucketedFpMemo.put(name, java.lang.Long.valueOf(fp))
    }
    name
  }
}
