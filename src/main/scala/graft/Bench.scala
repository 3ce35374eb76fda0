package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A short untimed warmup (session init, parquet footers, codegen paths)
  * runs first so the first measured query isn't charged for JVM startup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // untimed warmup: spin executors + touch every table's footer/schema,
    // then exercise the interpreted-lambda tokenize path and the codegen'd
    // dot product on a few rows so the first measured query isn't charged
    // for HotSpot/janino warmup of those evaluation paths.
    // Warmup failures stay non-fatal (timings must not change) but are
    // logged at WARN: a missing/renamed table here is a layout break that
    // would otherwise surface only as a mysteriously slow first query.
    val warmLog = org.slf4j.LoggerFactory.getLogger("graft.Bench")
    def warm(what: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          warmLog.warn(s"warmup '$what' failed (continuing): " +
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.find(_.nonEmpty).getOrElse("")}")
      }
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      warm(s"footer $t")(spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())
    }
    warm("tokenize/dot_f paths") {
      spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .selectExpr(raw"explode(filter(split(lower(trim(text)), '\\s+'), t -> t != '')) AS t")
        .count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        .selectExpr("dot_f(embedding, embedding)").count()
    }

    // Box-health canary: a fixed-cost CPU+shuffle micro-task (~1s on an idle
    // box) timed immediately BEFORE the state builds and again AFTER the
    // query loop. The box this bench runs on degrades monotonically across
    // back-to-back big-heap runs (identical sf2 binaries measured 96/244/272s
    // query-phase in one afternoon; BENCH_r17's 128.6s closing capture vs
    // the same build's 69.9-78.7s morning idle series). The canary makes each
    // capture SELF-REPORT its box state: canary_post/canary_pre >> 1 means
    // the run itself degraded the box; canary_pre >> the documented idle
    // value (~1s) means the box was already contended before the first
    // query. A reviewer can then normalize per-query numbers instead of
    // guessing whether a 2x total is code or box. The task is deterministic
    // (range + xxhash64 + 64-partition hash shuffle + sort-agg) and runs
    // once UNTIMED first so codegen/janino warmup is not charged to the
    // pre-canary.
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 48000000L, 1L, 32)
        .selectExpr("xxhash64(id) AS h")
        .repartition(64, org.apache.spark.sql.functions.col("h"))
        .selectExpr("pmod(h, 8192) AS k", "h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("h"))
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    // Workload-IO canary: scans the workload's own biggest parquet
    // (lineitem) and sum-folds a full-column xxhash64, so it shares page
    // cache, codec, and scan paths with the measured queries. Round 19
    // showed the synthetic canary alone is NOT a usable normalizer: it
    // read the box 5-6x contended while the query workload ran at
    // 1.37-1.39x floors, because page-cache warmth helps the queries but
    // not a cache-free range scan. This canary warms (and degrades) WITH
    // the workload, so its drift tracks observed workload drift.
    def canaryIo(): Double = {
      val t0 = System.nanoTime()
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.select(org.apache.spark.sql.functions
          .xxhash64(li.columns.toIndexedSeq.map(li.col): _*).as("h"))
        .selectExpr("coalesce(sum(h), 0L)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    canary(); canaryIo() // untimed warmup of the canaries' codegen paths
    val canaryPre = canary()
    val canaryIoPre = canaryIo()

    // Canary NORMALIZATION (documented formula — BASELINE_SELF.json carries
    // the same note): the capture self-reports a box slowdown factor
    //   canary_factor = max(1, sqrt(canary_io_pre * canary_io_post) / idle)
    // where `idle` is the IO canary's MEASURED idle value for this SF dir,
    // supplied via GRAFT_CANARY_IO_IDLE (seconds; BASELINE_SELF records the
    // documented value per SF), and the geometric mean of the pre/post
    // measurements stands for the average box state across the run. The
    //   total_norm_sec = total_sec / canary_factor
    // estimate is emitted ONLY when GRAFT_CANARY_IO_IDLE is set: round 19
    // proved that normalizing by the synthetic canary's fixed 1.0 s design
    // value produces a known-bad number (its 5-6x contended readings did
    // not reflect the workload), so a capture with no measured idle
    // reference now archives raw totals plus both canary pairs and NO
    // normalized total, rather than a misleading one. The factor is
    // clamped at 1 so an idle-or-better box never flatters its raw total.
    // The synthetic canary_pre/post stay emitted for cross-round
    // continuity and as the box-state UPPER bound they proved to be.
    val canaryIoIdle = sys.env.get("GRAFT_CANARY_IO_IDLE").map(_.toDouble)

    // Explicitly timed one-time STATE builds (jaccard pairs table, passage
    // window memos, bucketed fact + fingerprint state tables) BEFORE the
    // query loop, so family members no longer absorb build cost into their
    // per-query floors (dd_align used to carry ~5s of jaccard state).
    // (name, seconds, error): a FAILED build must be visible — swallowed, it
    // is indistinguishable from a fast one, and its cost silently shifts back
    // into the first family query (the exact floor distortion the pre-stage
    // exists to remove).
    val stateTimes = (graft.analytics.LlmOps.stateBuilders(spark, sfDir) ++
      graft.analytics.Relational.stateBuilders(spark, sfDir)).map { case (name, f) =>
      val t0 = System.nanoTime()
      val err = try { f(); None } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .find(_.nonEmpty).getOrElse("")
          Some(s"${e.getClass.getName}: $msg".take(300))
      }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val stateTotal = stateTimes.map(_._2).sum

    // (name, seconds, error) — failures must be visible in the output, with
    // enough of the exception to tell a contended-box OOM from a code bug,
    // not silently folded into a normal-looking total.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .find(_.nonEmpty).getOrElse("")
          Some(s"${e.getClass.getName}: $msg".take(300))
      }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val canaryPost = canary()
    val canaryIoPost = canaryIo()
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\""
    // `failed` keeps the name-array shape older tooling reads; `errors` maps
    // each failed query to its exception class + first message line
    val failed = (results.collect { case (k, _, Some(_)) => s"\"" + k + "\"" } ++
      stateTimes.collect { case (k, _, Some(_)) => s"\"state:" + k + "\"" })
      .mkString("[", ",", "]")
    val errors = (results.collect { case (k, _, Some(e)) => s"\"" + k + "\":" + jstr(e) } ++
      stateTimes.collect { case (k, _, Some(e)) => s"\"state:" + k + "\":" + jstr(e) })
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val canaryFactor = canaryIoIdle.map(idle =>
      math.max(1.0, math.sqrt(canaryIoPre * canaryIoPost) / idle))
    // The summary fields (metric/value/state_build_sec/failed/errors/sf) sit
    // at the END of the line: the driver's stdout capture keeps only a ~2KB
    // TAIL, and at 91 queries the line is ~2.6KB — a head-first layout lost
    // the "metric":"total" head entirely in round 10 (BENCH_r10 parsed:null).
    def line(fmt: Double => String, stateDetail: Boolean, failParts: Boolean,
             headline: Boolean): String = {
      val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val st = if (stateDetail)
        stateTimes.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
          .mkString("\"state_build\":{", ",", "},")
      else ""
      val fp = if (failParts) s""""failed":$failed,"errors":$errors,""" else ""
      // `headline=false` (the printed full line) carries the total under
      // `total_sec` instead of metric/value: stdout must contain exactly ONE
      // line matching "metric":"total" — the short, tail-safe final line — so
      // a driver that greps the key rather than taking the last line can
      // never land on this potentially tail-truncated one. The file line
      // (read whole, never truncated) keeps the canonical metric/value shape.
      val head = if (headline) s""""metric":"total","value":${fmt(total)},"unit":"sec","""
                 else s""""total_sec":${fmt(total)},"unit":"sec","""
      s"""{"queries":$qs,""" + st + fp + head +
        s""""state_build_sec":${fmt(stateTotal)},""" +
        s""""canary_pre_sec":${fmt(canaryPre)},"canary_post_sec":${fmt(canaryPost)},""" +
        s""""canary_ratio":${fmt(if (canaryPre > 0) canaryPost / canaryPre else 0.0)},""" +
        s""""canary_io_pre_sec":${fmt(canaryIoPre)},"canary_io_post_sec":${fmt(canaryIoPost)},""" +
        canaryFactor.map(cf =>
          s""""canary_factor":${fmt(cf)},"total_norm_sec":${fmt(total / cf)},""").getOrElse("") +
        s""""sf":"$sfDir"}"""
    }
    // Full precision + per-item state detail goes to a FILE (the driver's
    // stdout capture keeps only a ~2KB tail, which truncated 18 of 83
    // queries in round 8); the printed full line is the same query map at
    // trailing-zero-stripped 2-decimal precision, with failed/errors
    // included only when non-empty.
    // Locale.ROOT: a comma-decimal default locale would print "1,23" and
    // make the JSON line unparseable — the formatted path must be as
    // locale-independent as the old v.toString one.
    def f2(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    val anyFailed = results.exists(_._3.isDefined) || stateTimes.exists(_._3.isDefined)
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outPath,
      (line(v => v.toString, stateDetail = true, failParts = true,
        headline = true) + "\n").getBytes("UTF-8"))
    println(line(f2, stateDetail = false, failParts = anyFailed, headline = false))
    // A SHORT, complete summary line printed LAST: whatever happens to the
    // full line under the 2KB tail window, the tail always ends with one
    // self-contained parseable JSON object carrying the headline total, the
    // slowest queries, and any failures. Kept well under 1.5KB by design.
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v, _) => "\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    val failedShort = (results.collect { case (k, _, Some(_)) => k } ++
      stateTimes.collect { case (k, _, Some(_)) => "state:" + k })
    val failedJson = failedShort.take(5).map(k => "\"" + k + "\"").mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${f2(total)},"unit":"sec",""" +
        s""""queries":$slowest,"queries_full":${results.size},""" +
        s""""state_build_sec":${f2(stateTotal)},""" +
        s""""canary_pre_sec":${f2(canaryPre)},"canary_post_sec":${f2(canaryPost)},""" +
        s""""canary_ratio":${f2(if (canaryPre > 0) canaryPost / canaryPre else 0.0)},""" +
        s""""canary_io_pre_sec":${f2(canaryIoPre)},"canary_io_post_sec":${f2(canaryIoPost)},""" +
        canaryFactor.map(cf =>
          s""""canary_factor":${f2(cf)},"total_norm_sec":${f2(total / cf)},""").getOrElse("") +
        s""""failed_count":${failedShort.size},"failed":$failedJson,"sf":"$sfDir"}""")
    graft.analytics.LlmOps.releaseCaches()
    spark.stop()
  }
}
