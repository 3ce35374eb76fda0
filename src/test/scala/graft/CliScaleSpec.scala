package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.model.Transaction
import graft.pipeline.MergeSortSink
import graft.sources._

/** CI-sized twin of the [[CliScale]] probe: the reference's whole
  * parse→merge→sort→overwrite lifecycle over a generated multi-broker
  * corpus (~2k lines at this scale; the committed probe runs ~1M), with
  * the DISTRIBUTED writeSorted sink. Pins the three read-back invariants
  * the probe asserts at scale: exact kept-row count, line byte-format,
  * and global chronological order across part files. */
class CliScaleSpec extends SparkSpec {

  test("four-broker merge lifecycle through the distributed sink round-trips sorted, formatted lines") {
    val dir = Files.createTempDirectory("graft-cli-spec").toString
    val (kFt, kIi, kFid, kBv) = CliScale.genFixtures(dir, 0.002)
    val expected = kFt + kIi + kFid + kBv

    val rounds = Seq(
      Transaction.toLines(FreetradeSource.readFile(spark, s"$dir/freetrade.csv")),
      Transaction.toLines(IISource.readFile(spark, s"$dir/ii.csv")),
      Transaction.toLines(FidelitySource.readFile(spark, s"$dir/fidelity.csv")),
      Transaction.toLines(BullionVaultSource.readFolder(spark, s"$dir/emails")))

    // the first round reads back a sink that does not exist yet (empty)
    var sinkDir = s"$dir/empty"
    rounds.zipWithIndex.foreach { case (fresh, i) =>
      val out = s"$dir/sink_$i"
      MergeSortSink.writeSorted(MergeSortSink.merge(MergeSortSink.readExisting(spark, sinkDir), fresh), out)
      sinkDir = out
    }

    val back = spark.read.textFile(sinkDir)
    assert(back.count() === expected)
    val lineRe = "^(BUY|SELL) \\d{2}/\\d{2}/\\d{4} \\S+ -?\\d+(\\.\\d+)?([eE][+-]?\\d+)? \\d+(\\.\\d+)?([eE][+-]?\\d+)? \\d+(\\.\\d+)?([eE][+-]?\\d+)?$"
    assert(back.filter(!col("value").rlike(lineRe)).count() === 0L)
    // global order: the sink is range-partitioned, so sortWithinPartitions
    // order == file order; check the full sorted sequence on the driver
    // (bounded: ~2k lines at this scale)
    val keys = back.collect().toSeq.map { l =>
      val d = l.split(" ")(1).split("/"); d(2) + d(1) + d(0)
    }
    // re-read in part order for the order check
    val listing = Files.list(java.nio.file.Paths.get(sinkDir))
    val ordered = try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).map(_.toString).toVector
      finally listing.close()
    val seq = ordered.sorted.flatMap(p =>
      Files.readAllLines(java.nio.file.Paths.get(p)).toArray(Array.empty[String]))
      .map { l => val d = l.split(" ")(1).split("/"); d(2) + d(1) + d(0) }
    assert(seq.size === expected)
    assert(seq.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)),
      "lines not globally chronological across part files")
    assert(keys.sorted === seq.sorted)
  }
}
