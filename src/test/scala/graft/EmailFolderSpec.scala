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

  /** Reading an email folder lists it on the driver: a folder with more
    * emails than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) starts no Spark job, and only its `*.eml` files are read. */
  class EmailFolderSpec extends SparkSpec {

    test("a folder of 40 emails is read without a listing job; only *.eml files count") {
      import spark.implicits._
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

      val got = Transaction.toLines(df).collect().sorted.toSeq
      val want = Transaction.toLines(
        BullionVaultSource.fromContent(spark, emails.mkString("\nEOF\n"))).collect().sorted.toSeq
      assert(got.size == 40)
      assert(got == want)
    }
  }
}
