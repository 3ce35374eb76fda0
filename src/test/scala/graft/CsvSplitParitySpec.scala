package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean

import graft.sources.{CsvSupport, FidelitySource}

/** The split-parallel broker CSV reads (`CsvSupport.readHeaderCsv`,
  * `CsvSupport.readFixedCsv`) against the one-file scans of
  * [[CsvReference]], row for row and in order, on generated exports. The
  * exports are a few hundred bytes, so the spec session's
  * `defaultParallelism` splits cut through headers, preambles, CRLF pairs
  * and quoted fields. Each property also asserts that its cases covered a
  * BOM, CRLF and lone-CR line breaks, blank lines before the header, a
  * header or last preamble line cut by a split boundary, a data row equal to
  * the header, quoted commas and a comma in the file name. */
class CsvSplitParitySpec extends SparkSpec {

  /** One generated export: its physical lines with their line breaks, and
    * the file name it is written under. */
  private case class Export(bom: Boolean, lines: Seq[String], name: String) {
    def bytes: Array[Byte] = ((if (bom) "\uFEFF" else "") + lines.mkString).getBytes(UTF_8)
  }

  private def quoted(s: String) = "\"" + s + "\""

  private val blank = Gen.oneOf("", "", " ", "\t ")
  private val word = Gen.chooseNum(0, 9).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val field = Gen.frequency(
    4 -> word,
    2 -> Gen.chooseNum(1, 99999).map(n => (n / 100.0).toString),
    2 -> Gen.chooseNum(1000, 999999).map(n => quoted(f"£${n / 1000},${n % 1000}%03d.00")),
    1 -> word.map(w => quoted(s"$w, $w")),
    1 -> Gen.const(" padded "))
  private def row(cols: Int) =
    Gen.chooseNum(cols - 1, cols + 1).flatMap(n => Gen.listOfN(n, field)).map(_.mkString(","))
  private val names = Gen.oneOf("export.csv", "export, 2024.csv", "a,b.csv")

  /** `text` as physical lines: each ends in LF, CRLF or a lone CR (a lone CR
    * before an empty LF line reads as one CRLF break), the last one
    * possibly in none. */
  private def withBreaks(text: Seq[String]): Gen[Seq[String]] = for {
    breaks <- Gen.listOfN(text.size, Gen.frequency(4 -> "\n", 3 -> "\r\n", 2 -> "\r"))
    endsInBreak <- Gen.oneOf(true, false)
  } yield text.zip(breaks).zipWithIndex.map { case ((line, br), i) =>
    if (i == text.size - 1 && !endsInBreak) line else line + br
  }

  private def body(header: String, cols: Int) = Gen.chooseNum(0, 14).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(8 -> row(cols), 2 -> blank, 1 -> Gen.const(header))))

  private def headerExport(header: String, cols: Int): Gen[Export] = for {
    bom <- Gen.oneOf(false, true)
    lead <- Gen.chooseNum(0, 4).flatMap(Gen.listOfN(_, blank))
    rows <- body(header, cols)
    lines <- withBreaks(lead ++ (header +: rows))
    name <- names
  } yield Export(bom, lines, name)

  private val fidelityHeader = FidelitySource.schema.fieldNames.mkString(",") + ","
  private val fidelityExport: Gen[Export] = for {
    bom <- Gen.oneOf(false, true)
    preamble <- Gen.listOfN(8, Gen.frequency(2 -> blank, 3 -> word.map("Preamble " + _),
      1 -> row(3), 1 -> Gen.const(quoted("unclosed, quote").init), 1 -> Gen.const(fidelityHeader)))
    rows <- body(fidelityHeader, 13)
    lines <- withBreaks(preamble ++ rows)
    name <- names
  } yield Export(bom, lines, name)

  /** Byte ranges of the physical lines as Hadoop's line reader splits them:
    * after an LF, a CRLF or a lone CR. */
  private def lineSpans(b: Array[Byte]): Seq[(Int, Int)] = {
    val spans = mutable.Buffer.empty[(Int, Int)]
    var start = 0
    var i = 0
    while (i < b.length) {
      if (b(i) == '\n' || b(i) == '\r') {
        val end = if (b(i) == '\r' && i + 1 < b.length && b(i + 1) == '\n') i + 2 else i + 1
        spans += ((start, end))
        start = end
        i = end
      } else i += 1
    }
    if (start < b.length) spans += ((start, b.length))
    spans.toSeq
  }

  /** The byte offsets where `FileInputFormat.getSplits` starts the second and
    * later of a file's splits when asked for `n`. */
  private def splitStarts(len: Long, n: Int): Seq[Long] = {
    val size = math.max(1L, len / n)
    Iterator.iterate(size)(_ + size).takeWhile(b => (len - b + size).toDouble / size > 1.1).toSeq
  }

  /** What a case covered, by name. `spans` are its physical lines (text
    * without the line break, byte range) and `last` the index of the last
    * line before its data. */
  private def features(e: Export, spans: Seq[(String, (Int, Int))], last: Int, header: String): Set[String] = {
    val text = e.lines.mkString
    val len = spans.lastOption.fold(0)(_._2._2)
    val cut = spans.lift(last).exists { case (_, (s, t)) =>
      splitStarts(len, spark.sparkContext.defaultParallelism).exists(b => s < b && b < t)
    }
    Set(
      "BOM" -> e.bom,
      "CRLF" -> text.contains("\r\n"),
      "lone CR" -> text.matches("(?s).*\r([^\n].*)?"),
      "blank line first" -> spans.headOption.exists(_._1.trim.isEmpty),
      "last skipped line cut by a split" -> cut,
      "row equal to the header" -> spans.drop(last + 1).exists(_._1 == header),
      "quoted comma" -> text.matches("(?s).*\"[^\"\n\r]*,[^\"\n\r]*\".*"),
      "comma in the file name" -> e.name.contains(",")).collect { case (f, true) => f }
  }

  /** Checks `read` against `reference` on exports from `gen`. `header` is
    * the exports' header row and `last` gives the index of an export's last
    * line before its data, from its lines' text. */
  private def parity(gen: Gen[Export], read: String => DataFrame, reference: String => DataFrame,
                     header: String, last: Seq[String] => Int): Unit = {
    val covered = mutable.Set.empty[String]
    val prop = Prop.forAll(gen) { e =>
      val path = Files.createTempDirectory("graft-split").resolve(e.name)
      val bytes = e.bytes
      Files.write(path, bytes)
      val spans = lineSpans(bytes).map { case (s, t) =>
        (new String(bytes, s, t - s, UTF_8).stripPrefix("\uFEFF").stripLineEnd.stripSuffix("\r"), (s, t))
      }
      covered ++= features(e, spans, last(spans.map(_._1)), header)
      val got = read(path.toString)
      val want = reference(path.toString)
      val splits = splitStarts(bytes.length, spark.sparkContext.defaultParallelism).size + 1
      (got.columns.toSeq == want.columns.toSeq) :| s"columns ${got.columns.toSeq} vs ${want.columns.toSeq}" &&
        (got.rdd.getNumPartitions == splits) :| s"${got.rdd.getNumPartitions} partitions, $splits splits" &&
        {
          val (g, w) = (got.collect().toSeq, want.collect().toSeq)
          (g == w) :| s"rows differ: ${g.size} vs ${w.size}; ${g.zipAll(w, null, null).filter(p => p._1 != p._2).take(3)}"
        }
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
    val all = Set("BOM", "CRLF", "lone CR", "blank line first", "last skipped line cut by a split",
      "row equal to the header", "quoted comma", "comma in the file name")
    assert(all -- covered == Set.empty, "generated exports never covered these")
  }

  private def headerParity(header: String, cols: Int): Unit =
    parity(headerExport(header, cols), CsvSupport.readHeaderCsv(spark, _), CsvReference.readHeaderCsv(spark, _),
      header, _.indexWhere(_.trim.nonEmpty))

  test("property: freetrade exports read in splits as in one scan") {
    headerParity("Title,Type,Timestamp,Account Currency,Total Amount,Buy / Sell,Ticker,ISIN," +
      "Price per Share in Account Currency,Stamp Duty,Quantity,FX Fee Amount", 12)
  }

  test("property: ii exports read in splits as in one scan") {
    headerParity("Date,Settlement Date,Symbol,Sedol,Quantity,Price,Description,Reference,Debit,Credit," +
      "Running Balance", 11)
  }

  test("property: fidelity exports read in splits as in one scan, past the 8-line preamble") {
    parity(fidelityExport,
      CsvSupport.readFixedCsv(spark, _, FidelitySource.schema, 8),
      CsvReference.readFixedCsv(spark, _, FidelitySource.schema, 8),
      fidelityHeader, _ => 7)
  }
}
