package graft

import graft.model.Transaction
import graft.sources._

/** Fail-fast validation paths (SURVEY.md §2.10) — untested in the
  * reference; asserted here per the rebuild test plan (§5.4). */
class ErrorPathSpec extends SparkSpec {

  private def run(df: org.apache.spark.sql.DataFrame): Seq[String] =
    Transaction.toLines(df).collect().toSeq

  // each case's input goes through the read the CLI runs on it
  private def freetrade(content: String) = FreetradeSource.readFile(spark, BrokerInputs.file(content))
  private def ii(content: String) = IISource.readFile(spark, BrokerInputs.file(content))
  private def fidelity(content: String) = FidelitySource.readFile(spark, BrokerInputs.file(content))
  private def bullion(email: String) = BullionVaultSource.readFolder(spark, BrokerInputs.emailFolder(email))

  private val ftHeader =
    "Title,Type,Timestamp,Account Currency,Total Amount,Buy / Sell,Ticker,ISIN," +
      "Price per Share in Account Currency,Stamp Duty,Quantity," +
      (12 to 44).map(i => s"C$i").mkString(",")

  private def ftRow(ts: String = "2025-01-02T03:04:05.000Z", isin: String = "US1",
                    price: String = "10.5", qty: String = "2.5"): String =
    s"T,ORDER,$ts,GBP,1,BUY,TK,$isin,$price,0.1,$qty," + (12 to 44).map(_ => "").mkString(",")

  private def expectFail(body: => Any, msg: String): Unit = {
    val e = intercept[Exception](body)
    def all(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ all(t.getCause)
    assert(all(e).exists(_.contains(msg)), s"expected '$msg' in: ${all(e)}")
  }

  test("freetrade: bad timestamp aborts") {
    expectFail(run(freetrade(ftHeader + "\n" + ftRow(ts = "garbage"))),
      "Invalid or missing Timestamp")
  }
  test("freetrade: missing asset aborts") {
    expectFail(run(freetrade(
      ftHeader + "\n" + "T,ORDER,2025-01-02T03:04:05.000Z,GBP,1,BUY,,,10.5,0.1,2.5," + (12 to 44).map(_ => "").mkString(","))),
      "Missing asset identifier")
  }
  test("freetrade: zero quantity aborts") {
    expectFail(run(freetrade(ftHeader + "\n" + ftRow(qty = "0"))),
      "Invalid Quantity")
  }
  test("freetrade: non-positive price aborts") {
    expectFail(run(freetrade(ftHeader + "\n" + ftRow(price = "-4"))),
      "Invalid Price per Share")
  }

  private val iiHeader = "Date,Settlement Date,Symbol,Sedol,Quantity,Price,Description,Reference,Debit,Credit,Running Balance"

  test("ii: ambiguous debit/credit aborts") {
    expectFail(run(ii(
      iiHeader + "\n\n01/01/2024,02/01/2024,SYM,SDL,5,1.5,x,r,\"£1.00\",\"£2.00\",\"£3.00\"")),
      "Unable to determine BUY/SELL")
  }
  test("ii: missing settlement date aborts") {
    expectFail(run(ii(
      iiHeader + "\n\n01/01/2024,,SYM,SDL,5,1.5,x,r,\"£1.00\",n/a,\"£3.00\"")),
      "Missing settlement date")
  }
  test("ii: missing date wins over ambiguous debit/credit (ii.js:62 precedence)") {
    expectFail(run(ii(
      iiHeader + "\n\n01/01/2024,,SYM,SDL,5,1.5,x,r,\"£1.00\",\"£2.00\",\"£3.00\"")),
      "Missing settlement date")
  }
  test("ii: missing asset aborts") {
    expectFail(run(ii(
      iiHeader + "\n\n01/01/2024,02/01/2024,,,5,1.5,x,r,\"£1.00\",n/a,\"£3.00\"")),
      "Missing asset identifier")
  }
  test("ii: missing price aborts") {
    expectFail(run(ii(
      iiHeader + "\n\n01/01/2024,02/01/2024,SYM,SDL,5,,x,r,\"£1.00\",n/a,\"£3.00\"")),
      "Missing Price")
  }

  private val fidHeader = "Order date,Completion date,Transaction type,Investments,Product Wrapper,Account Number,Source investment,Amount,Quantity,Price per unit,Reference Number,Status,"
  private def fid(rest: String): String = "\n\n\n\n\n\n\n" + fidHeader + "\n\n" + rest

  test("fidelity: zero amount aborts") {
    expectFail(run(fidelity(
      fid("1 Jun 2023,2 Jun 2023,Buy,F,W,A,,0,10,1.5,R,Done,"))),
      "Invalid Amount")
  }
  test("fidelity: bad completion date aborts") {
    expectFail(run(fidelity(
      fid("1 Jun 2023,nonsense,Buy,F,W,A,,100,10,1.5,R,Done,"))),
      "Invalid Completion date")
  }
  test("fidelity: non-positive price aborts") {
    expectFail(run(fidelity(
      fid("1 Jun 2023,2 Jun 2023,Buy,F,W,A,,100,10,0,R,Done,"))),
      "Invalid Price per unit")
  }

  private val csvReads = Seq[(String, String => Any)](
    "freetrade" -> (FreetradeSource.readFile(spark, _)),
    "ii" -> (IISource.readFile(spark, _)),
    "fidelity" -> (FidelitySource.readFile(spark, _)))

  for ((broker, read) <- csvReads) test(s"$broker: a missing export fails in readFile with PATH_NOT_FOUND") {
    val missing = java.nio.file.Files.createTempDirectory("graft-missing").resolve("export.csv").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](read(missing))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  private def bvEmail(summary: String = "Buy 0.5kg @ GBP 800.00/kg",
                      consideration: String = "GBP 400.00",
                      commission: String = "GBP 2.00",
                      security: String = "Fine gold kilos",
                      dealTime: String = "May 20, 2025 at 9:59:30 PM BST"): String =
    s"Security: $security\nSummary: $summary\nDeal time: $dealTime\nConsideration: $consideration\nCommission: $commission"

  test("bullionvault: non-GBP currency aborts") {
    expectFail(run(bullion(bvEmail(consideration = "USD 400.00"))),
      "Unsupported currency 'USD'")
  }
  test("bullionvault: missing commission line aborts") {
    // the reference null-derefs `commissionMatch[1]` (bullionvault.js:54)
    expectFail(run(bullion(
      "Security: Fine gold kilos\nSummary: Buy 0.5kg @ GBP 800.00/kg\nDeal time: May 20, 2025 at 9:59:30 PM BST\nConsideration: GBP 400.00")),
      "Missing commission line")
  }
  test("bullionvault: missing consideration line aborts") {
    // the reference null-derefs `considerationMatch[1]` (bullionvault.js:52)
    expectFail(run(bullion(
      "Security: Fine gold kilos\nSummary: Buy 0.5kg @ GBP 800.00/kg\nDeal time: May 20, 2025 at 9:59:30 PM BST\nCommission: GBP 2.00")),
      "Missing consideration line")
  }
  test("bullionvault: commission line without a parsable amount aborts") {
    // the amount group is part of COMMISSION_RE itself, so a numberless line
    // is indistinguishable from a missing one — in the reference too
    expectFail(run(bullion(bvEmail(commission = "GBP x"))),
      "Missing commission line")
  }
  test("bullionvault: undetectable asset aborts") {
    expectFail(run(bullion(bvEmail(security = "Fine platinum kilos"))),
      "Unable to detect asset type")
  }
  test("bullionvault: unparsable deal time aborts") {
    expectFail(run(bullion(bvEmail(dealTime = "sometime last week"))),
      "Unable to parse deal time")
  }

  test("bullionvault: empty folder fails the reference's friendly pre-check (index.js:66-71)") {
    val empty = java.nio.file.Files.createTempDirectory("noeml").toFile
    assert(Main.bullionVaultFolderError(empty) ==
      Some(s"Folder '${empty.getPath}' does not contain any .eml files"))
    // non-.eml content does not count; extension matching is
    // case-insensitive like the reference's toLowerCase().endsWith
    java.nio.file.Files.writeString(empty.toPath.resolve("readme.txt"), "x")
    assert(Main.bullionVaultFolderError(empty).isDefined)
    java.nio.file.Files.writeString(empty.toPath.resolve("trade.EML"), "x")
    assert(Main.bullionVaultFolderError(empty).isEmpty)
    val file = java.nio.file.Files.createTempFile("notdir", ".eml").toFile
    assert(Main.bullionVaultFolderError(file) ==
      Some(s"Expected a folder of .eml files: ${file.getPath}"))
  }

  test("Verify names a query whose dump fails") {
    // a data dir with no tables: the query cannot even be planned, and the
    // dump must report it instead of passing over it
    val noTables = java.nio.file.Files.createTempDirectory("verify-no-tables").toString
    val out = java.nio.file.Files.createTempDirectory("verify-out").toString
    assert(Verify.dump(spark, noTables, out, Set("q01_lineitem_agg")) == Seq("q01_lineitem_agg"))
  }
}
