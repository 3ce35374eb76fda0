package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Arrays

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.hadoop.util.LineReader
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

  /** Header-keyed read from files (Freetrade / ii). The header is the
    * file's first non-blank line, less a leading U+FEFF as Hadoop's line
    * reader drops it; it is read on the Spark driver and gives the column
    * names through the same reader options, so the read starts no job. The
    * lines after it are parsed in [[splitLines]]' parallel splits. A path
    * that is not a regular, uncompressed file (a directory, a glob, a
    * missing path) or holds no non-blank line is read with Spark's own
    * header inference, so a missing path fails in this call with Spark's
    * `PATH_NOT_FOUND`. Blank lines are dropped as Spark's file scan drops
    * them. */
  def readHeaderCsv(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val csv = reader(spark).option("header", "true")
    plainFile(spark, path).flatMap(file => driverLines(spark, file)(_.find(_._1.trim.nonEmpty)).map(file -> _)) match {
      case Some((file, (names, end))) =>
        reader(spark).schema(csv.csv(Seq(names).toDS()).schema).option("header", "false")
          .csv(splitLines(spark, file, end, dropBlank = true))
      case None => csv.csv(path)
    }
  }

  /** Fixed-schema read (Fidelity): explicit column list, no header row
    * consumed (`fidelity.js:33-41`). `skipLines` physical lines are dropped
    * (csv-parse `from_line`): the driver finds the byte offset after them,
    * and the rest of the file is parsed in [[splitLines]]' parallel splits,
    * with no job. The repeated in-data header row is left to the downstream
    * type-whitelist filter, exactly as in the reference (`fidelity.js:46`),
    * as is a tab-only line, which parses as a row of nulls. A path that is
    * not a regular, uncompressed file is read as text and its lines counted
    * across the whole input, which starts a job when the input has more than
    * one partition, and a missing path fails in this call with Spark's
    * `PATH_NOT_FOUND`. */
  def readFixedCsv(spark: SparkSession, path: String, schema: StructType, skipLines: Int): DataFrame = {
    import spark.implicits._
    val fixed = reader(spark).schema(schema).option("header", "false")
    plainFile(spark, path) match {
      case Some(file) =>
        val start = driverLines(spark, file)(_.take(skipLines).map(_._2).foldLeft(0L)((_, end) => end))
        fixed.csv(splitLines(spark, file, start, dropBlank = false))
      case None =>
        val indexed = spark.read.textFile(path).rdd.zipWithIndex()
          .filter(_._2 >= skipLines).map(_._1)
        fixed.csv(spark.createDataset(indexed))
    }
  }

  /** `path` as a Hadoop path when it names a regular file that Hadoop reads
    * without a compression codec: the files whose byte offsets the driver
    * and the executors agree on. */
  private def plainFile(spark: SparkSession, path: String): Option[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    Some(p).filter(p => Try(fs.getFileStatus(p).isFile).getOrElse(false) &&
      new CompressionCodecFactory(conf).getCodec(p) == null)
  }

  /** `body` over the file's physical lines, each with the byte offset just
    * after its line break, read on the driver with Hadoop's `LineReader`:
    * the same CR, LF and CRLF splitting as the executors' line reader, and
    * like it this drops a UTF-8 BOM that starts the file. */
  private def driverLines[A](spark: SparkSession, file: Path)(body: Iterator[(String, Long)] => A): A = {
    val in = new LineReader(file.getFileSystem(spark.sparkContext.hadoopConfiguration).open(file))
    try {
      val text = new Text
      var end = 0L
      body(Iterator.continually(in.readLine(text)).takeWhile(_ > 0).map { n =>
        val line = new String(text.getBytes, 0, text.getLength, UTF_8)
        val first = end == 0
        end += n
        (if (first) line.stripPrefix("\uFEFF") else line, end)
      })
    } finally in.close()
  }

  /** The file's lines that start at byte `start` or later, in file order,
    * read in `defaultParallelism` line-aligned splits of `TextInputFormat`,
    * whose key is a line's byte offset. The splits are in offset order, so
    * row order within and across partitions is file order (the merge's tie
    * key, `MergeSortSink.merge`). The path goes in as a `Path`, not a
    * comma-separated path string, so a comma in a file name is kept.
    *
    * `dropBlank` drops the lines that `String.trim` leaves empty, as Spark's
    * CSV file scan does. `csv(Dataset[String])` drops only the lines that
    * SQL `trim` (spaces alone) leaves empty, and parses a tab-only line as a
    * row of nulls. */
  private def splitLines(spark: SparkSession, file: Path, start: Long, dropBlank: Boolean): Dataset[String] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val job = new JobConf(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(job, file)
    val lines = sc.hadoopRDD(job, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
        sc.defaultParallelism)
      .flatMap { case (at, bytes) =>
        val line = new String(bytes.getBytes, 0, bytes.getLength, UTF_8)
        if (at.get >= start && !(dropBlank && line.trim.isEmpty)) Some(line) else None
      }
    spark.createDataset(lines)
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
