package graft

import graft.model.Transaction
import graft.sources.IISource

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
}
