package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Arrays

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
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

  /** Header-keyed read from files (Freetrade / ii). The header is read on
    * the Spark driver, so the read starts no job: the file's first non-blank
    * line, less a leading U+FEFF as Hadoop's line reader drops it, gives the
    * column names through the same reader options. A path that is not a
    * regular file (a directory, a glob) or holds no non-blank line is read
    * with Spark's own header inference. */
  def readHeaderCsv(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val csv = reader(spark).option("header", "true")
    firstNonBlankLine(spark, path) match {
      case Some(header) =>
        csv.schema(reader(spark).option("header", "true").csv(Seq(header).toDS()).schema).csv(path)
      case None => csv.csv(path)
    }
  }

  private def firstNonBlankLine(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!Try(fs.getFileStatus(p).isFile).getOrElse(false)) None
    else {
      val in = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
      try (Option(in.readLine()).map(_.stripPrefix("\uFEFF")).iterator ++
        Iterator.continually(in.readLine()).takeWhile(_ != null)).find(_.trim.nonEmpty)
      finally in.close()
    }
  }

  /** Fixed-schema read (Fidelity): explicit column list, no header row
    * consumed (`fidelity.js:33-41`). `skipLines` physical lines are dropped
    * (csv-parse `from_line`); the repeated in-data header row is left to the
    * downstream type-whitelist filter, exactly as in the reference
    * (`fidelity.js:46`). */
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
    * The folder is read on the Spark driver, with no job: its direct regular
    * files named `*.eml` (case-sensitive; subfolders are not entered) in the
    * order of their unsigned UTF-8 name bytes, which is the order libuv's
    * scandir gives the reference's `readdirSync`. Each file is decoded as
    * UTF-8 with malformed bytes replaced by U+FFFD, as Node and Spark's
    * text reader do. The rows keep that order through the merge
    * (`MergeSortSink.merge`). */
  def readEmails(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    val listing = Files.list(Paths.get(dir))
    val files = try listing.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".eml") && Files.isRegularFile(p)).toVector
      finally listing.close()
    val byName = Ordering.fromLessThan[Array[Byte]](Arrays.compareUnsigned(_, _) < 0)
    val sorted = files.sortBy(_.getFileName.toString.getBytes(UTF_8))(byName)
    spark.createDataset(sorted.map(p => new String(Files.readAllBytes(p), UTF_8)))
  }
}
