package graft

import java.io.{BufferedReader, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The broker CSV reads as one-file Spark scans, kept as the reference the
  * split-parallel reads of `graft.sources.CsvSupport` are checked against.
  * The header-keyed read takes its column names from the file's first
  * non-blank line (by `String.trim`, less a leading U+FEFF) and scans the
  * file with `csv(path)` and `header`, which drops that line; the
  * fixed-schema read drops the preamble by numbering the text lines with
  * `zipWithIndex`. Both use `CsvSupport`'s reader options. */
object CsvReference {

  private def reader(spark: SparkSession) =
    spark.read
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      .option("mode", "PERMISSIVE")
      .option("multiLine", "false")

  def readHeaderCsv(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val in = new BufferedReader(new InputStreamReader(new FileInputStream(path), UTF_8))
    val header = try (Option(in.readLine()).map(_.stripPrefix("\uFEFF")).iterator ++
        Iterator.continually(in.readLine()).takeWhile(_ != null)).find(_.trim.nonEmpty).get
      finally in.close()
    val csv = reader(spark).option("header", "true")
    csv.schema(csv.csv(Seq(header).toDS()).schema).csv(path)
  }

  def readFixedCsv(spark: SparkSession, path: String, schema: StructType, skipLines: Int): DataFrame = {
    import spark.implicits._
    val indexed = spark.read.textFile(path).rdd.zipWithIndex()
      .filter(_._2 >= skipLines).map(_._1)
    reader(spark).schema(schema).option("header", "false").csv(spark.createDataset(indexed))
  }
}
