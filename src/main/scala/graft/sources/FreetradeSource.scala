package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Parse._

/** Freetrade CSV → canonical transactions.
  *
  * Reference semantics (`freetrade.js`):
  *  - F1 row filter: keep only `Type == 'ORDER'` (case-insensitive) with
  *    `Buy / Sell ∈ {buy, sell}` (`freetrade.js:112-121`); dividends, splits,
  *    statements are dropped by policy, not errored.
  *  - P1 projection (`freetrade.js:128-160`):
  *      kind     = upper(Buy / Sell)
  *      date     = ISO-8601 Timestamp → dd/MM/yyyy   (error if unparsable)
  *      asset    = trim(ISIN || Ticker)              (error if empty)
  *      amount   = parseFloat(Quantity)              (error if NaN/±∞/0)
  *      price    = parseFloat(Price per Share in Account Currency)
  *                                                   (error if NaN/∞/<=0)
  *      expenses = (parseFloat(Stamp Duty) || 0) + (parseFloat(FX Fee Amount) || 0)
  *                                                   (`freetrade.js:167-171`)
  * Validations fail the job (reference throws on first bad row, SURVEY §2.10).
  */
object FreetradeSource {

  def readFile(spark: SparkSession, path: String): DataFrame =
    normalize(CsvSupport.readHeaderCsv(spark, path))

  def normalize(raw: DataFrame): DataFrame = {
    val filtered = raw.filter(
      lower(col("Type")) === "order" && lower(col("Buy / Sell")).isin("buy", "sell"))

    val date = isoToDmy(col("Timestamp"))
    val asset = trim(firstNonEmpty(col("ISIN"), col("Ticker")))
    val amount = jsParseFloat(col("Quantity"))
    val price = jsParseFloat(col("Price per Share in Account Currency"))
    val expenses =
      coalesce(jsParseFloat(col("Stamp Duty")), lit(0.0)) +
      coalesce(jsParseFloat(col("FX Fee Amount")), lit(0.0))

    filtered.select(
      upper(col("Buy / Sell")).as("kind"),
      failUnless(date, date.isNotNull,
        concat(lit("Invalid or missing Timestamp: "), coalesce(col("Timestamp"), lit("")))).as("date"),
      failUnless(asset, asset.isNotNull && asset =!= "",
        concat(lit("Missing asset identifier (ISIN/Ticker) for transaction on "),
          coalesce(col("Timestamp"), lit("")))).as("asset"),
      failUnless(amount, amount.isNotNull && amount =!= 0.0 && !amount.isin(
        Double.PositiveInfinity, Double.NegativeInfinity),
        concat(lit("Invalid Quantity: "), coalesce(col("Quantity"), lit("")))).as("amount"),
      failUnless(price, price.isNotNull && price > 0.0 && price =!= Double.PositiveInfinity,
        concat(lit("Invalid Price per Share: "),
          coalesce(col("Price per Share in Account Currency"), lit("")))).as("price"),
      expenses.as("expenses"))
  }
}
