package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared CSV ingestion matching the reference's csv-parse configuration
  * (`freetrade.js:88-105`, `ii.js:30-53`, `fidelity.js:31-52`):
  * header-keyed or fixed-schema, trimmed fields, skipped blank lines,
  * permissive about ragged rows. All fields arrive as strings — csv-parse
  * never types values; typing happens in the normalization projections. */
object CsvSupport {

  private def reader(spark: SparkSession) =
    spark.read
      .option("ignoreLeadingWhiteSpace", "true")  // csv-parse `trim: true`
      .option("ignoreTrailingWhiteSpace", "true")
      .option("mode", "PERMISSIVE")               // `relax_column_count/quotes`
      .option("multiLine", "false")

  /** Header-keyed read from files (Freetrade / ii). */
  def readHeaderCsv(spark: SparkSession, path: String): DataFrame =
    reader(spark).option("header", "true").csv(path)

  /** Header-keyed read from in-memory content (golden tests; mirrors the
    * reference's whole-string `parseToFormat` API). */
  def parseHeaderCsv(spark: SparkSession, content: String): DataFrame = {
    import spark.implicits._
    // strip UTF-8 BOM and zero-width characters the ii parser sanitizes
    // (`ii.js:34`, `bom: true` at `ii.js:42`)
    val clean = content.replaceAll("^[﻿​‎‏]+", "")
    reader(spark).option("header", "true").csv(spark.createDataset(clean.split("\n", -1).toIndexedSeq))
  }

  /** Fixed-schema read (Fidelity): explicit column list, no header row
    * consumed (`fidelity.js:33-41`). `skipLines` physical lines are dropped
    * (csv-parse `from_line`); the repeated in-data header row is left to the
    * downstream type-whitelist filter, exactly as in the reference
    * (`fidelity.js:46`). */
  def parseFixedCsv(spark: SparkSession, content: String, schema: StructType, skipLines: Int): DataFrame = {
    import spark.implicits._
    val lines = content.split("\n", -1).drop(skipLines).toIndexedSeq
    reader(spark).schema(schema).option("header", "false").csv(spark.createDataset(lines))
  }

  def readFixedCsv(spark: SparkSession, path: String, schema: StructType, skipLines: Int): DataFrame = {
    import spark.implicits._
    // skip the physical preamble without a header-based reader: index lines
    // within the (single) file, drop the first `skipLines`
    val indexed = spark.read.textFile(path).rdd.zipWithIndex()
      .filter(_._2 >= skipLines).map(_._1)
    reader(spark).schema(schema).option("header", "false").csv(spark.createDataset(indexed))
  }

  /** One row per `.eml` file in a directory (BullionVault, `index.js:100-102`).
    * The reference concatenates with `\nEOF\n` and re-splits
    * (`bullionvault.js:34`) — an artifact of its single-string API that we
    * drop: each email is simply one row.
    *
    * The folder is the one root path, and `pathGlobFilter` keeps its direct
    * `*.eml` files (case-sensitive), so Spark lists it on the driver. A glob
    * path over the emails would make every email a root path, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) Spark
    * lists those with a Spark job on every read. Rows come in Spark's
    * partition order, not name order; the merge restores name order
    * (`MergeSortSink.merge`). */
  def readEmails(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").option("pathGlobFilter", "*.eml").text(dir).as[String]
  }

  /** In-memory variant for golden tests: split on the reference's `\nEOF\n`
    * delimiter (`bullionvault.js:34`). */
  def parseEmails(spark: SparkSession, content: String): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(content.split("\nEOF\n", -1).toIndexedSeq)
  }
}
