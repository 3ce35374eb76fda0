package graft

/** Dev harness: time individual SparkEntry queries by name.
  *
  *   runMain graft.Probe <sfDir> <query> [query...]
  *
  * Each query runs twice (cold, then warm — the second run shows how much
  * of the cold cost is one-off session/codegen/cache-build work). Honors
  * GRAFT_FULL_PAIRS etc. via the forked JVM's environment.
  *
  * GRAFT_PROBE_HASH=1 times a full-column xxhash64 fold instead of
  * `.count()`: Catalyst prunes columns a count never reads, so a
  * pure-projection query (no filter/window over the scoring columns) can
  * probe as nearly free while the real consumer pays the projection —
  * the known under-measurement the plain mode documents. The fold
  * (xxhash64 over every column, sum-aggregated — sum, like xor, is
  * order-independent and deterministic, and the sum checksum is what the
  * r19 floor-provenance hash= tags in BASELINE_SELF were recorded with,
  * so the formula stays sum for continuity) forces every output column
  * to be computed without collecting rows, so a floor probed in hash
  * mode bounds what any column-reading consumer pays. Floors from the
  * two modes are not comparable — BASELINE_SELF provenance notes record
  * which mode produced a re-based entry.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = GraftSession.local()
    val hashMode = sys.env.contains("GRAFT_PROBE_HASH")
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        val df = q(spark, sfDir)
        val (cnt, tag) =
          if (hashMode) {
            // force EVERY output column: hash all columns per row, sum-fold
            // to one long — no pruning, no collect, map-side combinable.
            // Rename positionally first: df.col(name) throws an ambiguous-
            // column AnalysisException when a query's output repeats a
            // column name, which would make hash mode fail where plain
            // count mode still works on the same query.
            import org.apache.spark.sql.functions.{expr, xxhash64}
            val fresh = df.toDF(df.columns.indices.map(i => s"_h$i"): _*)
            val hashed = fresh.select(xxhash64(fresh.columns.toIndexedSeq.map(fresh.col): _*).as("h"))
              .agg(expr("count(1) AS c"), expr("coalesce(sum(h), 0L) AS hx"))
              .collect()(0)
            (hashed.getLong(0), f" hash=${hashed.getLong(1)}%016x")
          } else (df.count(), "")
        println(f"PROBE $n pass$pass ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$cnt$tag")
      }
      if (sys.env.contains("GRAFT_EXPLAIN")) q(spark, sfDir).explain("formatted")
    }
    graft.analytics.LlmOps.releaseCaches()
    spark.stop()
  }
}
