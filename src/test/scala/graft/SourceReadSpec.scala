package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.model.Transaction
import graft.sources.{CsvSupport, FidelitySource, FreetradeSource, IISource}

/** The steps the reference takes on an export's raw text before parsing it,
  * checked through the source's file read. */
class SourceReadSpec extends SparkSpec {

  test("ii: zero-width marks (and a BOM) before the header are stripped, as ii.js:34 does") {
    val rows = "Settlement Date,Symbol,Sedol,Quantity,Price,Debit,Credit\n" +
      "04/01/2024,TEST,BKV0VZ0,37.91,109.62806,\"£4,160.00\",n/a"
    for (prefix <- Seq("\u200B\u200E\u200F", "\uFEFF\u200B\u200E\u200F")) {
      val df = IISource.readFile(spark, BrokerInputs.file(prefix + rows))
      assert(Transaction.toLines(df).collect().toSeq == Seq("BUY 04/01/2024 BKV0VZ0 37.91 109.62806 0"))
    }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ListenerBusProbe.drain(spark.sparkContext)
      jobs.set(0)
      body
      ListenerBusProbe.drain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("freetrade and ii exports are read without a Spark job: the header is read on the driver") {
    val ft = BrokerInputs.file("\uFEFF\n  \nTitle,Type,Timestamp,Account Currency,Total Amount,Buy / Sell," +
      "Ticker,ISIN,Price per Share in Account Currency,Stamp Duty,Quantity,FX Fee Amount\n" +
      "Buy,ORDER,2024-05-01T10:00:00.000Z,GBP,100,BUY,ABC,GB00ABC,10,0.5,10,0\n")
    val ii = BrokerInputs.file("\uFEFFSettlement Date,Symbol,Sedol,Quantity,Price,Debit,Credit\n" +
      "04/01/2024,TEST,BKV0VZ0,37.91,109.62806,\"£4,160.00\",n/a")
    assert(jobsDuring(FreetradeSource.readFile(spark, ft)) == 0, "reading the freetrade export started a job")
    assert(jobsDuring(IISource.readFile(spark, ii)) == 0, "reading the ii export started a job")
    assert(Transaction.toLines(FreetradeSource.readFile(spark, ft)).collect().toSeq ==
      Seq("BUY 01/05/2024 GB00ABC 10 10 0.5"))
    assert(Transaction.toLines(IISource.readFile(spark, ii)).collect().toSeq ==
      Seq("BUY 04/01/2024 BKV0VZ0 37.91 109.62806 0"))
  }

  /** A fidelity export: seven preamble lines, then the in-data header row
    * (line 8, inside the skipped preamble) and one trade. */
  private val fidelityExport = "Preamble\n\n\n\n\n\n\n" + FidelitySource.schema.fieldNames.mkString(",") + "\n" +
    "1 Jun 2023,2 Jun 2023,Buy,Fund A,W,A,,100,10,1.5,R,Done,\n"

  test("fidelity's preamble is skipped without a Spark job, and a multi-MB export of each CSV broker " +
      "is parsed in at least defaultParallelism splits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-splits").toString
    CliScale.genFixtures(dir, 0.12)
    val parallelism = spark.sparkContext.defaultParallelism
    val reads = Seq(
      "freetrade" -> (() => FreetradeSource.readFile(spark, s"$dir/freetrade.csv")),
      "ii" -> (() => IISource.readFile(spark, s"$dir/ii.csv")),
      "fidelity" -> (() => FidelitySource.readFile(spark, s"$dir/fidelity.csv")))
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(dir, "freetrade.csv")) > (4 << 20))
    for ((broker, read) <- reads) {
      assert(jobsDuring(read()) == 0, s"reading the $broker export started a job")
      val parts = read().rdd.getNumPartitions
      assert(parts >= parallelism, s"the $broker export was parsed in $parts splits")
    }
    val fid = BrokerInputs.file(fidelityExport)
    assert(jobsDuring(FidelitySource.readFile(spark, fid)) == 0, "reading the fidelity export started a job")
    assert(Transaction.toLines(FidelitySource.readFile(spark, fid)).collect().toSeq ==
      Seq("BUY 02/06/2023 Fund_A 10 1.5 0"))
  }

  test("a gzip-compressed export reads as its plain twin") {
    def gzip(content: String): String = {
      val p = java.nio.file.Files.createTempFile("graft-export", ".csv.gz")
      val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(p))
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
      p.toString
    }
    val ft = "Title,Type,Timestamp,Account Currency,Total Amount,Buy / Sell," +
      "Ticker,ISIN,Price per Share in Account Currency,Stamp Duty,Quantity,FX Fee Amount\n" +
      "Buy,ORDER,2024-05-01T10:00:00.000Z,GBP,100,BUY,ABC,GB00ABC,10,0.5,10,0\n"
    for ((read, content, line) <- Seq(
        ((p: String) => FreetradeSource.readFile(spark, p), ft, "BUY 01/05/2024 GB00ABC 10 10 0.5"),
        ((p: String) => FidelitySource.readFile(spark, p), fidelityExport, "BUY 02/06/2023 Fund_A 10 1.5 0")))
      assert(Transaction.toLines(read(gzip(content))).collect().toSeq == Seq(line))
  }

  test("a header read on the driver names duplicate, empty and quoted columns as Spark's inference does") {
    val path = BrokerInputs.file("a,A,,\"b,c\",a\n1,2,3,4,5\n")
    assert(CsvSupport.readHeaderCsv(spark, path).columns.toSeq == Seq("a0", "A1", "_c2", "b,c", "a4"))
  }
}
