package graft

import org.apache.spark.sql.functions._

/** Partitioned layout + partition pruning: the other half of the 100 TB
  * scan story (PLANS.md) — a date-partitioned fact table lets a temporal
  * filter skip whole directories instead of reading footers. */
class PartitionPruningSpec extends SparkSpec {

  test("year-partitioned write is pruned by a year filter") {
    val base = java.nio.file.Files.createTempDirectory("part").toString
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("ship_year", year(col("l_shipdate")))
      .write.partitionBy("ship_year").parquet(s"$base/lineitem_p")

    val pruned = spark.read.parquet(s"$base/lineitem_p")
      .filter(col("ship_year") === 2023)
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_year"), plan)

    // pruning must not change semantics vs the unpartitioned filter
    val expected = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(year(col("l_shipdate")) === 2023)
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("q"))
    assert(pruned.collect().toSeq == expected.collect().toSeq)
  }

  test("persisted serve index: cell-partitioned read-back serves identically and prunes to the probed cells") {
    // The serve index's PERSISTENCE story: a deployed IVF index is files,
    // not session state. Writing the assignment cell-partitioned makes the
    // serve-time cell scan a PARTITION-PRUNED read — a query probing
    // nprobe cells touches nprobe directories of the index, not the
    // corpus — which is exactly what bounds serve-path IO at 100 TB.
    import graft.analytics.LlmOps
    val real = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("ivfidx").toString
    LlmOps.ivfServeAssignTable(spark, real)
      .write.partitionBy("cell").parquet(s"$base/serve_index")
    // partition-column directory names read back as int — restore the
    // index's long cell ids
    val disk = spark.read.parquet(s"$base/serve_index")
      .withColumn("cell", col("cell").cast("long"))
    // one-cell read is pruned to that cell's directory
    val oneCell = disk.filter(col("cell") === disk.select(min(col("cell"))).first().getLong(0))
    val plan = oneCell.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"), plan)
    // serving over the persisted index equals serving over session state
    // (floats/longs round-trip parquet exactly, so cosines are bitwise equal)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("qid"), r.getAs[Int]("rk"), r.getAs[Long]("cid"), r.getAs[Double]("cos"))).toSet
    val mem = LlmOps.simIvfServe(spark, real).collect()
    val fromDisk = LlmOps.serveTop5Over(spark, real, disk.select(
      col("vec_id").as("cid"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("cell").as("ccell"))).collect()
    assert(mem.nonEmpty && key(mem) == key(fromDisk),
      "persisted-index serving diverged from session-state serving")
  }

  test("persisted PQ serve index: codebook + cell-partitioned codes read back and serve bitwise-identically") {
    // The COMPRESSED index's persistence story: the flat serve index
    // already round-trips (test above); without this seam a serve-path
    // restart would RETRAIN the PQ quantizer (codebook + code table lived
    // only in session memory). A deployed PQ index is two parquet
    // artifacts — the 16x8-row codebook and the ~16 B/vector code table,
    // the latter partitioned by cell so the serve-time ADC scan of a
    // probed cell is a partition-pruned directory read, not an index
    // scan.
    import graft.analytics.LlmOps
    val real = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("pqidx").toString
    LlmOps.servePqCodebook(spark, real).write.parquet(s"$base/pq_codebook")
    LlmOps.servePqCodesTable(spark, real)
      .write.partitionBy("cell").parquet(s"$base/pq_codes")
    val cbDisk = spark.read.parquet(s"$base/pq_codebook")
    // partition-column directory names read back as int — restore long
    val codesDisk = spark.read.parquet(s"$base/pq_codes")
      .withColumn("cell", col("cell").cast("long"))
    // a one-cell ADC scan prunes to that cell's directory
    val oneCell = codesDisk.filter(col("cell") ===
      codesDisk.select(min(col("cell"))).first().getLong(0))
    val plan = oneCell.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"), plan)
    // serving over the persisted artifacts equals session-state serving
    // (float arrays, longs and code bytes round-trip parquet exactly, so
    // ADC scores, shortlists and exact re-rank cosines are bitwise equal)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("qid"), r.getAs[Int]("rk"), r.getAs[Long]("cid"), r.getAs[Double]("cos"))).toSet
    val mem = LlmOps.simIvfServePq(spark, real).collect()
    val fromDisk = LlmOps.servePqTop5Over(spark, real, LlmOps.ServeNprobe,
      labelFiltered = false, cbDisk, codesDisk).collect()
    assert(mem.nonEmpty && key(mem) == key(fromDisk),
      "persisted-PQ serving diverged from session-state serving")
  }

  test("SQL surface: registered views + js_num answer a query end-to-end") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    graft.analytics.Tables.registerViews(spark, "/root/testdata/sf0.001")
    val row = spark.sql(
      """SELECT o_orderpriority, js_num(round(sum(o_totalprice), 2)) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1""".stripMargin).first()
    assert(row.getString(0).nonEmpty)
    assert(row.getString(1).matches("\\d+(\\.\\d+)?")) // JS rendering, no trailing zeros
  }
}
