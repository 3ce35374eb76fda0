package graft

import java.nio.file.{Files, Path}

import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.model.Transaction
import graft.pipeline.MergeSortSink
import graft.sources.BullionVaultSource

/** Merge/sort/sink lifecycle semantics (`index.js:108-122` parity). */
class MergeSortSinkSpec extends SparkSpec {
  private def tmpFile(): Path = {
    val d = Files.createTempDirectory("graft-sink")
    d.resolve("data.txt")
  }

  import scala.jdk.CollectionConverters._

  test("merge + chronological sort + overwrite, duplicates survive (union-all parity)") {
    import spark.implicits._
    val sink = tmpFile()
    val first = spark.createDataset(Seq(
      "BUY 19/09/2025 AAA 1 10 0",
      "SELL 05/01/2024 BBB 2 20 0"))
    MergeSortSink.mergeSortWrite(spark, first, sink.toString)
    // second run with the same lines: duplicates must accumulate
    val out = MergeSortSink.mergeSortWrite(spark, first, sink.toString)
    assert(out == Seq(
      "SELL 05/01/2024 BBB 2 20 0",
      "SELL 05/01/2024 BBB 2 20 0",
      "BUY 19/09/2025 AAA 1 10 0",
      "BUY 19/09/2025 AAA 1 10 0"))
    assert(Files.readAllLines(sink).asScala.toSeq == out)
  }

  test("same-date ties keep insertion order: existing sink lines before fresh lines") {
    import spark.implicits._
    val sink = tmpFile()
    MergeSortSink.mergeSortWrite(spark,
      spark.createDataset(Seq("BUY 01/06/2024 OLD1 1 1 0", "BUY 01/06/2024 OLD2 1 1 0")), sink.toString)
    val out = MergeSortSink.mergeSortWrite(spark,
      spark.createDataset(Seq("BUY 01/06/2024 NEW1 1 1 0", "BUY 31/05/2024 NEW2 1 1 0")), sink.toString)
    assert(out == Seq(
      "BUY 31/05/2024 NEW2 1 1 0",
      "BUY 01/06/2024 OLD1 1 1 0",
      "BUY 01/06/2024 OLD2 1 1 0",
      "BUY 01/06/2024 NEW1 1 1 0"))
  }

  test("distinct mode honors the reference's stated (dead) dedup intent") {
    import spark.implicits._
    val sink = tmpFile()
    val lines = spark.createDataset(Seq("BUY 19/09/2025 AAA 1 10 0", "BUY 19/09/2025 AAA 1 10 0"))
    val out = MergeSortSink.mergeSortWrite(spark, lines, sink.toString, distinct = true)
    assert(out == Seq("BUY 19/09/2025 AAA 1 10 0"))
  }

  test("fail-fast on a line with an unparsable date (index.js:18-28 parity)") {
    import spark.implicits._
    val sink = tmpFile()
    val bad = spark.createDataset(Seq("BUY not-a-date AAA 1 10 0"))
    val e = intercept[Exception](MergeSortSink.mergeSortWrite(spark, bad, sink.toString))
    assert(e.getMessage.contains("Invalid or missing date"))
    assert(!Files.exists(sink)) // sink untouched on abort
  }

  test("same-date ties keep part-file order when a smaller part file comes first") {
    import spark.implicits._
    // Spark packs a read's files largest first; the key must still put
    // part-00000's lines before part-00001's
    val dir = Files.createTempDirectory("graft-parts")
    val small = Seq("BUY 01/06/2024 A0 1 1 0", "BUY 01/06/2024 A1 1 1 0")
    val large = Seq("BUY 01/06/2024 B0 1 1 0", "BUY 01/06/2024 B1 1 1 0") ++
      (1 to 60).map(i => s"SELL 02/06/2024 C$i 1 1 0")
    Files.write(dir.resolve("part-00000-x-c000.txt"), small.asJava)
    Files.write(dir.resolve("part-00001-x-c000.txt"), large.asJava)
    val existing = MergeSortSink.readExisting(spark, dir.toString)
    val fresh = Seq("BUY 01/06/2024 NEW 1 1 0").toDS()
    val out = MergeSortSink.sortLines(MergeSortSink.merge(existing, fresh)).collect().toSeq
    assert(out == small ++ large.take(2) ++ Seq("BUY 01/06/2024 NEW 1 1 0") ++ large.drop(2))
  }

  private def email(kg: String, padding: String = "") =
    s"Security: Fine gold kilos\nSummary: Buy ${kg}kg @ GBP 800.00/kg\n" +
      s"Deal time: May 20, 2025 at 9:59:30 PM BST\nConsideration: GBP 400.00\n" +
      s"Commission: GBP 2.00\n$padding"

  test("same-date emails keep folder name order when the first-named email is smaller") {
    val dir = Files.createTempDirectory("graft-emails")
    Files.writeString(dir.resolve("a.eml"), email("0.5"))
    Files.writeString(dir.resolve("b.eml"), email("0.25", "x" * 4096))
    val out = MergeSortSink.mergeSortWrite(spark,
      Transaction.toLines(BullionVaultSource.readFolder(spark, dir.toString)), tmpFile().toString)
    assert(out == Seq("BUY 20/05/2025 GOLD 0.5 800 2", "BUY 20/05/2025 GOLD 0.25 800 2"))
  }

  test("same-date emails keep the byte order of their names, as readdirSync lists them") {
    // ' ' (0x20) sorts before '!' (0x21); URL-encoded, "a%20b" sorts after "a!"
    val dir = Files.createTempDirectory("graft-emails")
    Files.writeString(dir.resolve("a!.eml"), email("0.2"))
    Files.writeString(dir.resolve("a b.eml"), email("0.1"))
    val out = MergeSortSink.mergeSortWrite(spark,
      Transaction.toLines(BullionVaultSource.readFolder(spark, dir.toString)), tmpFile().toString)
    assert(out == Seq("BUY 20/05/2025 GOLD 0.1 800 2", "BUY 20/05/2025 GOLD 0.2 800 2"))
  }

  // ---- the merge path of writeSorted, checked against the full sort -------

  private def line(day: Int, name: String) = f"BUY $day%02d/06/2024 $name 1 1 0"

  /** A sink directory with one `part-*` file per given part, in name order. */
  private def sinkOf(parts: Seq[String]*): Path = {
    val dir = Files.createTempDirectory("graft-sink")
    parts.zipWithIndex.foreach { case (p, i) => Files.write(dir.resolve(f"part-$i%05d-x-c000.txt"), p.asJava) }
    dir
  }

  /** A sink's parts in name order, each as trimmed non-blank lines. */
  private def sinkParts(dir: Path): Seq[Seq[String]] = {
    val listing = Files.list(dir)
    val parts = try listing.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toVector.sortBy(_.getFileName.toString)
      finally listing.close()
    parts.map(Files.readAllLines(_).asScala.toSeq.map(_.trim).filter(_.nonEmpty))
  }

  /** One lifecycle round into a new directory: asserts that its lines equal
    * the full sort of the same merge, and returns the directory and its
    * parts. */
  private def mergeRound(existing: Path, fresh: Seq[String]): (Path, Seq[Seq[String]]) = {
    import spark.implicits._
    def merged = MergeSortSink.merge(MergeSortSink.readExisting(spark, existing.toString), fresh.toDS())
    val want = MergeSortSink.sortLines(merged).collect().toSeq
    val out = Files.createTempDirectory("graft-sink").resolve("out")
    MergeSortSink.writeSorted(merged, out.toString)
    val parts = sinkParts(out)
    assert(parts.flatten == want)
    (out, parts)
  }

  test("a sink rewritten in place, or from the directory above it, keeps every line") {
    import spark.implicits._
    for (into <- Seq((d: Path) => d, (d: Path) => d.getParent)) {
      val dir = Files.createTempDirectory("graft-sink").resolve("sink")
      MergeSortSink.writeSorted(MergeSortSink.merge(spark.emptyDataset[String],
        Seq(line(3, "B"), line(1, "A")).toDS()), dir.toString)
      val out = into(dir)
      MergeSortSink.writeSorted(MergeSortSink.merge(MergeSortSink.readExisting(spark, dir.toString),
        Seq(line(2, "N")).toDS()), out.toString)
      assert(sinkParts(out).flatten == Seq(line(1, "A"), line(2, "N"), line(3, "B")))
    }
  }

  test("merge path: same-date ties across a part boundary; existing lines keep their parts") {
    val sink = sinkOf(Seq(line(1, "A0"), line(2, "A1"), line(2, "A2")),
      Seq(line(2, "B0"), line(2, "B1"), line(3, "B2")))
    val (_, parts) = mergeRound(sink, Seq(line(2, "N0"), line(1, "N1"), line(2, "N2"), "BUY 31/05/2024 N3 1 1 0"))
    assert(parts == Seq(
      Seq("BUY 31/05/2024 N3 1 1 0", line(1, "A0"), line(1, "N1"), line(2, "A1"), line(2, "A2")),
      Seq(line(2, "B0"), line(2, "B1"), line(2, "N0"), line(2, "N2"), line(3, "B2"))))
  }

  test("merge path: fresh lines wholly before, and wholly after, the existing range") {
    val sink = sinkOf(Seq(line(5, "A")), Seq(line(7, "B")))
    val before = Seq("BUY 02/01/2020 Y 1 1 0", "BUY 01/01/2020 X 1 1 0")
    assert(mergeRound(sink, before)._2 == Seq(before.reverse :+ line(5, "A"), Seq(line(7, "B"))))
    val after = Seq("BUY 01/01/2030 Z 1 1 0")
    assert(mergeRound(sink, after)._2 == Seq(Seq(line(5, "A")), Seq(line(7, "B")) ++ after))
  }

  test("merge path: an empty part is skipped; blank, padded and BOM-led lines read as readExisting reads them") {
    val sink = sinkOf(Seq(s"  ${line(1, "A")}  ", "", line(2, "B")), Nil,
      Seq("\uFEFF", "  ", line(5, "C")))
    assert(mergeRound(sink, Seq(line(6, "M"), line(3, "N")))._2 ==
      Seq(Seq(line(1, "A"), line(2, "B"), line(3, "N")), Seq(line(5, "C"), line(6, "M"))))
  }

  test("an existing sink that is not range-sorted falls back to the full sort") {
    val fresh = Seq(line(4, "N"), line(1, "M"))
    // parts out of order; a part out of order inside; a part past the next
    // part's first date; a date the full sort accepts but not in DD/MM/YYYY
    mergeRound(sinkOf(Seq(line(5, "A")), Seq(line(1, "B"))), fresh)
    mergeRound(sinkOf(Seq(line(1, "A"), line(4, "C"), line(2, "B")), Seq(line(5, "D"))), fresh)
    mergeRound(sinkOf(Seq(line(1, "A"), line(6, "C")), Seq(line(5, "D"))), fresh)
    mergeRound(sinkOf(Seq(line(1, "A"), "BUY 3/6/2024 C 1 1 0"), Seq(line(5, "D"))), fresh)
  }

  test("a sink directory with a file other than part-* falls back and reads that file too") {
    val sink = sinkOf(Seq(line(2, "A")), Seq(line(5, "B")))
    Files.writeString(sink.resolve("notes.txt"), line(3, "Q") + "\n")
    assert(mergeRound(sink, Seq(line(4, "N")))._2.flatten ==
      Seq(line(2, "A"), line(3, "Q"), line(4, "N"), line(5, "B")))
  }

  test("an invalid date in an existing part, or in a fresh line, fails as the full sort does") {
    import spark.implicits._
    def write(sink: Path, fresh: String) = intercept[Exception](MergeSortSink.writeSorted(
      MergeSortSink.merge(MergeSortSink.readExisting(spark, sink.toString), Seq(fresh).toDS()),
      Files.createTempDirectory("graft-sink").resolve("out").toString)).getMessage
    val bad = "BUY 1/13/2024 X 1 1 0"
    assert(write(sinkOf(Seq(line(1, "A"), bad), Seq(line(5, "D"))), line(2, "N"))
      .contains(s"Invalid or missing date in line: $bad"))
    assert(write(sinkOf(Seq(line(1, "A")), Seq(line(5, "D"))), bad)
      .contains(s"Invalid or missing date in line: $bad"))
  }

  test("property: every round of a multi-round lifecycle equals the full sort") {
    // dates over six days, so ties cross part boundaries; cut points may
    // repeat, so parts may be empty; later rounds merge into real sinks
    val days = Gen.chooseNum(1, 6)
    val gen = for {
      n <- Gen.chooseNum(0, 12)
      existing <- Gen.listOfN(n, days)
      cuts <- Gen.listOfN(3, Gen.chooseNum(0, n))
      rounds <- Gen.listOfN(2, Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, days)))
    } yield (existing.sorted, cuts.sorted, rounds)
    val prop = Prop.forAll(gen) { case (existing, cuts, rounds) =>
      val lines = existing.zipWithIndex.map { case (d, i) => line(d, s"E$i") }
      val bounds = 0 +: cuts :+ lines.length
      val sink = sinkOf(bounds.zip(bounds.tail).map { case (a, b) => lines.slice(a, b) }: _*)
      rounds.zipWithIndex.foldLeft(sink) { case (dir, (r, k)) =>
        mergeRound(dir, r.zipWithIndex.map { case (d, i) => line(d, s"R$k.$i") })._1
      }
      true
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
