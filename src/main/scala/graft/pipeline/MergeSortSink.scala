package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Parse.failUnless

/** The reference's sink lifecycle (`index.js:108-122`): read back the existing
  * `data.txt`, bag-union with freshly parsed lines, sort everything
  * chronologically, overwrite the sink.
  *
  * Semantics preserved:
  *  - U1 union is union-ALL — the reference's comment claims dedup but no Set
  *    is built (`index.js:110` vs `:115`); duplicates survive re-runs. Parity
  *    is the default; `distinct = true` honors the stated (dead) intent.
  *  - O1 sort parses token[1] of each line as D/M/YYYY and fails fast on any
  *    missing/unparsable date (`index.js:12-36`). JS `Array.sort` is stable,
  *    so same-date lines keep insertion order (existing-sink lines before new
  *    lines, each in file order and then line order) — Spark's sort is not
  *    stable, so `merge` carries that order as an explicit secondary key.
  *
  * File order matters only for a sink directory's part files, and it has
  * to be restored in the plan: Spark packs the files of a read into
  * partitions largest first, so the parts come back in size order, while a
  * range-sorted sink's part-file names are its sort order. The reference
  * reads one `data.txt`. Fresh lines come from one file or from rows
  * already in order (an email folder is read on the Spark driver in the
  * reference's `readdirSync` order, `CsvSupport.readEmails`).
  *
  * Scale note: the global sort is a range-partitioned shuffle — fine at any
  * scale. The single-file `data.txt` write is inherently serial and exists
  * only for cgtcalc CLI parity; `writeSorted` keeps a distributed
  * `mode(overwrite).text(dir)` path for large outputs.
  */
object MergeSortSink {

  /** Read existing sink lines: trim, drop blanks (`index.js:109-113`,
    * filter F4); empty dataset when the file does not exist. */
  def readExisting(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      spark.read.textFile(path).map(_.trim).filter(_.nonEmpty)
    else spark.emptyDataset[String]
  }

  /** Attach the stability key `seq` = (src, file, row): `src` 0 for existing
    * lines and 1 for fresh ones (`index.js:115`'s concatenation order), then
    * the input file name, then `monotonically_increasing_id` for the row
    * order within a file. All three are computed in the plan, so merging
    * runs no Spark job; a source with no input file (the email folder's
    * driver-side rows) keys on row order alone. */
  def merge(existing: Dataset[String], fresh: Dataset[String]): DataFrame = {
    def keyed(lines: Dataset[String], src: Int): DataFrame =
      lines.toDF("line").select(col("line"), struct(lit(src).as("src"),
        input_file_name().as("file"), monotonically_increasing_id().as("row")).as("seq"))
    keyed(existing, 0).union(keyed(fresh, 1))
  }

  /** Chronological sort with fail-fast date validation (`index.js:12-36`).
    *
    * Intentional divergence on calendar-invalid dates: the reference's sort
    * comparator builds `new Date(y, m-1, d)`, so a line like `31/2/2024`
    * (which `ii.js:98-109` passes through unvalidated) silently rolls over to
    * 2 Mar 2024 and the run completes. Here `try_to_date` rejects it and the
    * merge aborts — we prefer failing on a date that does not exist over
    * emulating JS rollover arithmetic; real broker exports never hit this. */
  def sortLines(merged: DataFrame): Dataset[String] = {
    import merged.sparkSession.implicits._
    val dateTok = split(col("line"), " ").getItem(1)
    val d = try_to_date(dateTok, "d/M/yyyy")
    merged
      .withColumn("_d", failUnless(d, dateTok.isNotNull && d.isNotNull,
        concat(lit("Invalid or missing date in line: "), col("line"))))
      .orderBy(col("_d"), col("seq"))
      .select($"line").as[String]
  }

  /** Full lifecycle: read-back → union(-all) → sort → single-file overwrite of
    * `path` (exact `data.txt` naming, `index.js:120-122`). Returns the sorted
    * lines. Bounded collect: personal-broker-export scale by design. */
  def mergeSortWrite(spark: SparkSession, fresh: Dataset[String], path: String,
                     distinct: Boolean = false): Seq[String] = {
    val existing = readExisting(spark, path)
    // seq is assigned BEFORE any dedup so first-occurrence order is stable;
    // groupBy(line).min(seq) alone dedups in --distinct mode (a pre-distinct
    // would shuffle fresh lines and make their seq nondeterministic).
    val unioned = merge(existing, fresh)
    val deduped = if (distinct) {
      // keep first occurrence per line content (lowest seq)
      unioned.groupBy("line").agg(min("seq").as("seq"))
    } else unioned
    val sorted = sortLines(deduped).collect().toSeq
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      sorted.mkString("", "\n", "\n"))
    sorted
  }

  /** Distributed sink for at-scale outputs: range-partitioned global sort,
    * directory of part files, no driver collect. */
  def writeSorted(merged: DataFrame, outDir: String): Unit =
    sortLines(merged).write.mode("overwrite").text(outDir)
}
