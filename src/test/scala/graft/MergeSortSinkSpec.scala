package graft

import java.nio.file.{Files, Path}
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
}
