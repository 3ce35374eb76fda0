package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.expr.Parse._

/** Fidelity CSV → canonical transactions.
  *
  * Reference semantics (`fidelity.js`):
  *  - S3 source: fixed 12-column schema, parsing starts at physical line 9
  *    (8-line preamble skipped, `fidelity.js:33-41`) in one read of one
  *    file (`CsvSupport.readFixedCsv`): the driver finds the offset after
  *    the preamble (through the codec of a compressed export), the rest is
  *    parsed in parallel line-aligned splits, with no job. A repeated header
  *    row inside the data survives parsing; the whitelist filter drops it.
  *  - F3 filter: lower(Transaction type) ∈ 7-value whitelist
  *    (`fidelity.js:3-11,46`); Cash In / Transfer Out / header rows drop.
  *  - P3 projection (`fidelity.js:59-88`):
  *      signedAmount = strict parseFloat(Amount)  (error if NaN/∞; error if 0)
  *      kind     = signedAmount > 0 ? BUY : SELL  (sign-derived)
  *      date     = Completion date `16 Jun 2023` → dd/MM/yyyy (error if bad)
  *      asset    = Investments with whitespace runs → '_' (error if empty)
  *      amount   = strict parseFloat(Quantity)    (error if NaN/∞/0)
  *      price    = parseFloat(Price per unit)     (error if NaN/∞/<=0)
  *      expenses = 0
  */
object FidelitySource {

  val supportedTypes: Seq[String] = Seq(
    "buy", "sell", "auto-sell for fees", "buy for switch", "sell for switch",
    "buy from regular savings plan", "cash out/sell for transfer")

  val schema: StructType = StructType(Seq(
    "Order date", "Completion date", "Transaction type", "Investments",
    "Product Wrapper", "Account Number", "Source investment", "Amount",
    "Quantity", "Price per unit", "Reference Number", "Status")
    .map(StructField(_, StringType)))

  private val PreambleLines = 8

  def readFile(spark: SparkSession, path: String): DataFrame =
    normalize(CsvSupport.readFixedCsv(spark, path, schema, PreambleLines))

  def normalize(raw: DataFrame): DataFrame = {
    val filtered = raw.filter(lower(col("Transaction type")).isin(supportedTypes: _*))

    val signed = jsParseFloat(col("Amount"))
    val date = dMmmYyyyToDmy(col("Completion date"))
    val asset = regexp_replace(col("Investments"), "\\s+", "_")
    val qty = jsParseFloat(col("Quantity"))
    val price = jsParseFloat(col("Price per unit"))
    val inf = Seq(Double.PositiveInfinity, Double.NegativeInfinity)

    val signedOk = failUnless(signed,
      signed.isNotNull && signed =!= 0.0 && !signed.isin(inf: _*),
      concat(lit("Invalid Amount: "), coalesce(col("Amount"), lit(""))))

    filtered.select(
      when(signedOk > 0, "BUY").otherwise("SELL").as("kind"),
      failUnless(date, date.isNotNull,
        concat(lit("Invalid Completion date: "), coalesce(col("Completion date"), lit("")))).as("date"),
      failUnless(asset, asset.isNotNull && asset =!= "",
        lit("Missing Investments (asset) value")).as("asset"),
      failUnless(qty, qty.isNotNull && qty =!= 0.0 && !qty.isin(inf: _*),
        concat(lit("Invalid Quantity: "), coalesce(col("Quantity"), lit("")))).as("amount"),
      failUnless(price, price.isNotNull && price > 0.0 && !price.isin(inf: _*),
        concat(lit("Invalid Price per unit: "), coalesce(col("Price per unit"), lit("")))).as("price"),
      lit(0.0).as("expenses"))
  }
}
