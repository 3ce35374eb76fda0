package org.apache.spark {

  /** Test-side window onto the private listener bus. */
  object ListenerBusProbe {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

  import java.nio.file.Files
  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.ListenerBusProbe
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  import graft.model.Transaction
  import graft.sources.BullionVaultSource

  /** An email folder is read on the Spark driver: a folder with more emails than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) starts no
    * Spark job, only its own `*.eml` files are read, and they come in name
    * order. */
  class EmailFolderSpec extends SparkSpec {

    test("a folder of 40 emails is read without a listing job; only *.eml files count") {
      val dir = Files.createTempDirectory("graft-eml")
      val emails = (1 to 40).map { i =>
        s"Security: Fine ${if (i % 2 == 0) "gold" else "silver"} kilos\n" +
          s"Summary: ${if (i % 3 == 0) "Sell" else "Buy"} $i.5kg @ GBP 800.00/kg\n" +
          s"Deal time: May ${i % 28 + 1}, 2025 at 9:59:30 PM BST\n" +
          s"Consideration: GBP 400.00\nCommission: GBP $i.00"
      }
      emails.zipWithIndex.foreach { case (e, i) => Files.writeString(dir.resolve(f"deal$i%02d.eml"), e) }
      Files.writeString(dir.resolve("readme.txt"), emails.head)
      Files.writeString(dir.resolve("upper.EML"), emails.head)

      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val df = try {
        ListenerBusProbe.drain(spark.sparkContext)
        jobs.set(0)
        val read = BullionVaultSource.readFolder(spark, dir.toString)
        ListenerBusProbe.drain(spark.sparkContext)
        read
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get == 0, "reading the folder started a Spark job")

      // deal00.eml … deal39.eml in name order; readme.txt and upper.EML unread
      val want = Seq(
        "BUY 02/05/2025 SILVER 1.5 800 1", "BUY 03/05/2025 GOLD 2.5 800 2",
        "SELL 04/05/2025 SILVER 3.5 800 3", "BUY 05/05/2025 GOLD 4.5 800 4",
        "BUY 06/05/2025 SILVER 5.5 800 5", "SELL 07/05/2025 GOLD 6.5 800 6",
        "BUY 08/05/2025 SILVER 7.5 800 7", "BUY 09/05/2025 GOLD 8.5 800 8",
        "SELL 10/05/2025 SILVER 9.5 800 9", "BUY 11/05/2025 GOLD 10.5 800 10",
        "BUY 12/05/2025 SILVER 11.5 800 11", "SELL 13/05/2025 GOLD 12.5 800 12",
        "BUY 14/05/2025 SILVER 13.5 800 13", "BUY 15/05/2025 GOLD 14.5 800 14",
        "SELL 16/05/2025 SILVER 15.5 800 15", "BUY 17/05/2025 GOLD 16.5 800 16",
        "BUY 18/05/2025 SILVER 17.5 800 17", "SELL 19/05/2025 GOLD 18.5 800 18",
        "BUY 20/05/2025 SILVER 19.5 800 19", "BUY 21/05/2025 GOLD 20.5 800 20",
        "SELL 22/05/2025 SILVER 21.5 800 21", "BUY 23/05/2025 GOLD 22.5 800 22",
        "BUY 24/05/2025 SILVER 23.5 800 23", "SELL 25/05/2025 GOLD 24.5 800 24",
        "BUY 26/05/2025 SILVER 25.5 800 25", "BUY 27/05/2025 GOLD 26.5 800 26",
        "SELL 28/05/2025 SILVER 27.5 800 27", "BUY 01/05/2025 GOLD 28.5 800 28",
        "BUY 02/05/2025 SILVER 29.5 800 29", "SELL 03/05/2025 GOLD 30.5 800 30",
        "BUY 04/05/2025 SILVER 31.5 800 31", "BUY 05/05/2025 GOLD 32.5 800 32",
        "SELL 06/05/2025 SILVER 33.5 800 33", "BUY 07/05/2025 GOLD 34.5 800 34",
        "BUY 08/05/2025 SILVER 35.5 800 35", "SELL 09/05/2025 GOLD 36.5 800 36",
        "BUY 10/05/2025 SILVER 37.5 800 37", "BUY 11/05/2025 GOLD 38.5 800 38",
        "SELL 12/05/2025 SILVER 39.5 800 39", "BUY 13/05/2025 GOLD 40.5 800 40")
      assert(Transaction.toLines(df).collect().toSeq == want)
    }

    test("emails in subfolders are not read, a partition-named one included") {
      def email(kg: String) =
        s"Security: Fine gold kilos\nSummary: Buy ${kg}kg @ GBP 800.00/kg\n" +
          s"Deal time: May 20, 2025 at 9:59:30 PM BST\nConsideration: GBP 400.00\nCommission: GBP 2.00"
      for (sub <- Seq("year=2024", "archive")) {
        val dir = Files.createTempDirectory("graft-eml-sub")
        Files.writeString(dir.resolve("own.eml"), email("0.5"))
        Files.createDirectories(dir.resolve(sub))
        Files.writeString(dir.resolve(sub).resolve("old.eml"), email("9"))
        assert(Transaction.toLines(BullionVaultSource.readFolder(spark, dir.toString)).collect().toSeq ==
          Seq("BUY 20/05/2025 GOLD 0.5 800 2"), sub)
      }
    }
  }
}
