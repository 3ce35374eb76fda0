package graft

import graft.model.Transaction
import graft.sources._

/** The reference's 15 golden cases (the JSON fixtures under
  * `/root/reference/__tests__/data`),
  * ported verbatim: same input strings, same expected output lines. This is
  * the parity floor (SURVEY.md §5). Each input is written to a temp file (one
  * file per email) and read with `readFile` / `readFolder`, as the CLI does. */
class GoldenParitySpec extends SparkSpec {

  private val ftHeader =
    "Title,Type,Timestamp,Account Currency,Total Amount,Buy / Sell,Ticker,ISIN,Price per Share in Account Currency,Stamp Duty,Quantity,Venue,Order ID,Order Type,Instrument Currency,Total Shares Amount,Price per Share,FX Rate,Base FX Rate,FX Fee (BPS),FX Fee Amount,Dividend Ex Date,Dividend Pay Date,Dividend Eligible Quantity,Dividend Amount Per Share,Dividend Gross Distribution Amount,Dividend Net Distribution Amount,Dividend Withheld Tax Percentage,Dividend Withheld Tax Amount,Stock Split Ex Date,Stock Split Pay Date,Stock Split New ISIN,Stock Split Rate of Share Outturn From,Stock Split Rate of Share Outturn To,Stock Split Maintain Holding of Initial ISIN,Stock Split New Share Quantity,Stock Split Rate of Cash Outturn Amount,Stock Split Rate of Cash Outturn Currency,Stock Split Cash Outturn Received Amount,Stock Split Has Fractional Payout,Stock Split Rate of Fractional Payout Amount,Stock Split Rate of Fractional Payout Currency,Stock Split Fractional Payout Cash Received Amount,Stock Split Fractional Payout Cash Received Currency"

  private def freetrade(rows: String*): Seq[String] =
    Transaction.toLines(FreetradeSource.readFile(spark, BrokerInputs.file((ftHeader +: rows).mkString("\n"))))
      .collect().toSeq

  test("freetrade: BUY parsed correctly") {
    assert(freetrade(
      "BYD Co ADR,ORDER,2025-09-19T14:04:05.981Z,GBP,14.45,BUY,BYDDY,US05606L1008,10.81035240,0.00,1.32373113,Multiple,FXAVDBWZICUB,BASIC,USD,19.30,14.58000000,1.33557460,1.34892900,99,0.14,,,,,,,,,,,,,,,,,,,,,,")
      == Seq("BUY 19/09/2025 US05606L1008 1.32373113 10.8103524 0.14"))
  }

  test("freetrade: SELL parsed correctly") {
    assert(freetrade(
      "BYD Co ADR,ORDER,2025-09-05T14:42:23.463Z,GBP,2.58,SELL,BYDDY,US05606L1008,9.90434808,0.00,0.25746268,Drivewealth,U3XES8QS2Q2N,MARKET,USD,3.45,13.40000000,1.33754946,1.35092360,99,0.03,,,,,,,,,,,,,,,,,,,,,,")
      == Seq("SELL 05/09/2025 US05606L1008 0.25746268 9.90434808 0.03"))
  }

  test("freetrade: non-ORDER rows filtered out") {
    assert(freetrade(
      "September Statement,MONTHLY_STATEMENT,2025-10-01T00:00:00.000Z,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,,")
      == Seq.empty)
  }

  private val iiHeader = "Date,Settlement Date,Symbol,Sedol,Quantity,Price,Description,Reference,Debit,Credit,Running Balance"

  private def ii(rows: String*): Seq[String] =
    Transaction.toLines(IISource.readFile(spark, BrokerInputs.file((iiHeader +: "" +: rows).mkString("\n"))))
      .collect().toSeq

  test("ii: BUY (debit) parsed correctly") {
    assert(ii("02/01/2024,04/01/2024,TEST,BKV0VZ0,37.91,109.62806,Buy TEST,REF-A,\"£4,160.00\",n/a,\"£13.28\"")
      == Seq("BUY 04/01/2024 BKV0VZ0 37.91 109.62806 0"))
  }

  test("ii: SELL (credit, negative quantity → abs) parsed correctly") {
    assert(ii("28/12/2023,03/01/2024,TEST,BYVGKV5,-1296.45,3.21898,Sell TEST,REF-B,n/a,\"£4,173.27\",\"£4,173.28\"")
      == Seq("SELL 03/01/2024 BYVGKV5 1296.45 3.21898 0"))
  }

  test("ii: fee/interest-only rows dropped") {
    assert(ii(
      "10/03/2022,10/03/2022,n/a,n/a,n/a,n/a,Total Monthly Fee,n/a,\"£9.99\",n/a,\"£10.00\"",
      "10/02/2022,10/02/2022,n/a,n/a,n/a,n/a,Fee Transfer,n/a,n/a,\"£9.98\",\"£9.99\"")
      == Seq.empty)
  }

  private val fidHeader = "Order date,Completion date,Transaction type,Investments,Product Wrapper,Account Number,Source investment,Amount,Quantity,Price per unit,Reference Number,Status,"
  private val fidPreamble = "\n\n\n\n\n\n\n" // 7 blank lines + header = 8 preamble lines

  private def fidelity(rest: String): Seq[String] =
    Transaction.toLines(FidelitySource.readFile(spark, BrokerInputs.file(fidPreamble + fidHeader + rest)))
      .collect().toSeq

  test("fidelity: BUY parsed correctly") {
    assert(fidelity("\n\n15 Jun 2023,16 Jun 2023,Buy,Test Investment Fund,Investment Account,AGXXXXXXXX,,2350.60,500,4.7012,REF123,Completed,")
      == Seq("BUY 16/06/2023 Test_Investment_Fund 500 4.7012 0"))
  }

  test("fidelity: SELL (negative Amount) parsed correctly") {
    assert(fidelity("\n\n20 Jun 2023,21 Jun 2023,Sell,Test Investment Fund,Investment Account,AGXXXXXXXX,,-9340.40,2000,4.6702,REF456,Completed,")
      == Seq("SELL 21/06/2023 Test_Investment_Fund 2000 4.6702 0"))
  }

  test("fidelity: repeated in-data header row tolerated") {
    assert(fidelity("\n\n" + fidHeader + "\n\n15 Jun 2023,16 Jun 2023,Buy,Test Fund,Investment Account,AGXXXXXXXX,,1000.00,100,10.00,REF789,Completed,")
      == Seq("BUY 16/06/2023 Test_Fund 100 10 0"))
  }

  test("fidelity: Cash In / Transfer Out filtered out") {
    assert(fidelity(
      "\n\n11 Oct 2021,14 Oct 2021,Cash In,Cash,Investment Account,AGXXXXXXXX,,8792.14,8792.14,1,511804286,Completed,\n\n11 Oct 2021,14 Oct 2021,Transfer Out,Test Fund,Investment Account,AGXXXXXXXX,,-8792.14,6972.36,1.26,511804285,Completed,")
      == Seq.empty)
  }

  private def bvEmail(security: String, summary: String, dealTime: String,
                      consideration: String, commission: String): String =
    s"Date: Tue, 20 May 2025 21:02:22 +0000\n\nSubject: Dealing advice 10443663\n\n<html>\n\n<body>\n\n<p>\n\n=09Security: $security<br>\n\n=09Summary: $summary\n\n</p>\n\n<p>\n\n=09Deal time: $dealTime\n\n=09Consideration: $consideration\n\n=09Commission: $commission\n\n</p>\n\n</body>\n\n</html>"

  private def bullion(emails: String*): Seq[String] =
    Transaction.toLines(BullionVaultSource.readFolder(spark, BrokerInputs.emailFolder(emails: _*)))
      .collect().toSeq

  test("bullionvault: GOLD BUY parsed correctly") {
    assert(bullion(bvEmail("Fine gold kilos in London vault", "Buy 0.012kg @ GBP 78,990.00/kg",
      "May 20, 2025 at 9:59:30 PM BST", "GBP 947.88", "GBP 4.74"))
      == Seq("BUY 20/05/2025 GOLD 0.012 78990 4.74"))
  }

  test("bullionvault: GOLD SELL parsed correctly") {
    assert(bullion(bvEmail("Fine gold kilos in London vault", "Sell 0.025kg @ GBP 76,700.00/kg",
      "Apr 15, 2025 at 2:30:15 PM BST", "GBP 1,917.50", "GBP 9.59"))
      == Seq("SELL 15/04/2025 GOLD 0.025 76700 9.59"))
  }

  test("bullionvault: SILVER BUY parsed correctly") {
    assert(bullion(bvEmail("Fine silver kilos in London vault", "Buy 1.5kg @ GBP 850.00/kg",
      "Mar 10, 2025 at 11:45:30 AM BST", "GBP 1,275.00", "GBP 6.38"))
      == Seq("BUY 10/03/2025 SILVER 1.5 850 6.38"))
  }

  test("bullionvault: SILVER SELL parsed correctly") {
    assert(bullion(bvEmail("Fine silver kilos in London vault", "Sell 0.75kg @ GBP 880.00/kg",
      "Feb 21, 2025 at 9:14:30 AM BST", "GBP 660.00", "GBP 3.30"))
      == Seq("SELL 21/02/2025 SILVER 0.75 880 3.3"))
  }

  test("bullionvault: alternate deal-time format (no comma, tz abbreviation)") {
    assert(bullion(bvEmail("Fine gold kilos in London vault", "Buy 0.002kg @ GBP 40,070.00/kg",
      "21 August 2019 11:23:26 BST", "GBP 80.14", "GBP 0.41"))
      == Seq("BUY 21/08/2019 GOLD 0.002 40070 0.41"))
  }

  test("bullionvault: multiple emails concatenated with EOF delimiter") {
    // the reference joins a folder's emails with `\nEOF\n`; here they are
    // the folder's two files
    assert(bullion(
      bvEmail("Fine gold kilos in London vault", "Buy 0.012kg @ GBP 78,990.00/kg",
        "May 20, 2025 at 9:59:30 PM BST", "GBP 947.88", "GBP 4.74"),
      bvEmail("Fine silver kilos in London vault", "Sell 0.75kg @ GBP 880.00/kg",
        "Feb 21, 2025 at 9:14:30 AM BST", "GBP 660.00", "GBP 3.30")).toSet == Set(
      "BUY 20/05/2025 GOLD 0.012 78990 4.74",
      "SELL 21/02/2025 SILVER 0.75 880 3.3"))
  }
}
