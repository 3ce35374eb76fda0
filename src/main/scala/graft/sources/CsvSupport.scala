package graft.sources

import java.io.{FileNotFoundException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Arrays

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.{CompressionCodec, CompressionCodecFactory}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat.SPLIT_MINSIZE
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared CSV ingestion matching the reference's csv-parse configuration
  * (`freetrade.js:88-105`, `ii.js:30-53`, `fidelity.js:31-52`):
  * header-keyed or fixed-schema, trimmed fields, skipped blank lines,
  * permissive about ragged rows. All fields arrive as strings — csv-parse
  * never types values; typing happens in the normalization projections.
  * Each export is one file, read once: the driver finds where its data
  * starts and the executors parse the rest in line-aligned splits. */
object CsvSupport {

  private def reader(spark: SparkSession) =
    spark.read
      .option("ignoreLeadingWhiteSpace", "true")  // csv-parse `trim: true`
      .option("ignoreTrailingWhiteSpace", "true")
      .option("mode", "PERMISSIVE")               // `relax_column_count/quotes`
      .option("multiLine", "false")

  /** Header-keyed read (Freetrade / ii). The header is the file's first
    * non-blank line, less a leading U+FEFF as Hadoop's line reader drops it;
    * it is read on the Spark driver and gives the column names through the
    * same reader options, so the read starts no job. The lines after it are
    * parsed in [[parseSplits]]' parallel splits; blank lines are dropped as
    * Spark's file scan drops them. An export with no non-blank line fails
    * here, naming the path. */
  def readHeaderCsv(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val file = exportFile(spark, path)
    val (names, end) = driverLines(spark, file)(_.find(_._1.trim.nonEmpty))
      .getOrElse(throw new IllegalArgumentException(s"No header line in CSV export: $path"))
    val header = reader(spark).option("header", "true").csv(Seq(names).toDS()).schema
    parseSplits(spark, file, end, header, dropBlank = true)
  }

  /** Fixed-schema read (Fidelity): explicit column list, no header row
    * consumed (`fidelity.js:33-41`). `skipLines` physical lines are dropped
    * (csv-parse `from_line`): the driver finds the byte offset after them,
    * and the rest of the file is parsed in [[parseSplits]]' parallel splits,
    * with no job. The repeated in-data header row is left to the downstream
    * type-whitelist filter, exactly as in the reference (`fidelity.js:46`),
    * as is a tab-only line, which parses as a row of nulls. */
  def readFixedCsv(spark: SparkSession, path: String, schema: StructType, skipLines: Int): DataFrame = {
    val file = exportFile(spark, path)
    val start = driverLines(spark, file)(_.take(skipLines).map(_._2).foldLeft(0L)((_, end) => end))
    parseSplits(spark, file, start, schema, dropBlank = false)
  }

  /** The one file a CSV read takes, as the reference's `readFileSync` does
    * (`index.js:84,90,95`): `path` is taken literally (a glob is a file
    * name), a missing path fails with Spark's `PATH_NOT_FOUND`, and a
    * directory fails naming it, where the reference fails with `EISDIR`. */
  private def exportFile(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = try fs.getFileStatus(p) catch {
      case _: FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
    }
    if (!status.isFile) throw new IllegalArgumentException(s"Expected a CSV file: $path")
    p
  }

  /** The codec Hadoop decompresses `file` with, if any (by file suffix). */
  private def codec(spark: SparkSession, file: Path): Option[CompressionCodec] =
    Option(new CompressionCodecFactory(spark.sparkContext.hadoopConfiguration).getCodec(file))

  /** `body` over the file's physical lines, each with the byte offset just
    * after its line break, read on the driver with Hadoop's `LineReader`:
    * the same CR, LF and CRLF splitting as the executors' line reader, and
    * like it this drops a UTF-8 BOM that starts the file. A compressed file
    * is read through its codec, so the offsets count decompressed bytes. */
  private def driverLines[A](spark: SparkSession, file: Path)(body: Iterator[(String, Long)] => A): A = {
    val raw = file.getFileSystem(spark.sparkContext.hadoopConfiguration).open(file)
    val in = new LineReader(codec(spark, file).fold[InputStream](raw)(_.createInputStream(raw)))
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

  /** The file's lines from byte `start` on, parsed as `schema` with no
    * header, in `defaultParallelism` line-aligned `TextInputFormat` splits,
    * whose key is a line's byte offset. The splits are in offset order, so
    * row order is file order (the merge's tie key, `MergeSortSink.merge`).
    * The path goes in as a `Path`, so a comma in a file name is kept. A
    * compressed file is one split, whose keys count decompressed bytes as
    * the driver's offsets do.
    *
    * `dropBlank` drops the lines that `String.trim` leaves empty, as Spark's
    * CSV file scan does; `csv(Dataset[String])` alone drops only those SQL
    * `trim` (spaces) leaves empty and parses a tab-only line as nulls. */
  private def parseSplits(spark: SparkSession, file: Path, start: Long, schema: StructType,
                          dropBlank: Boolean): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val job = new JobConf(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(job, file)
    if (codec(spark, file).nonEmpty) job.setLong(SPLIT_MINSIZE, Long.MaxValue)
    val lines = sc.hadoopRDD(job, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
        sc.defaultParallelism)
      .flatMap { case (at, bytes) =>
        val line = new String(bytes.getBytes, 0, bytes.getLength, UTF_8)
        if (at.get >= start && !(dropBlank && line.trim.isEmpty)) Some(line) else None
      }
    reader(spark).schema(schema).option("header", "false").csv(spark.createDataset(lines))
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
