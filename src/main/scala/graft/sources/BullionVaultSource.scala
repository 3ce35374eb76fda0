package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Parse._

/** BullionVault dealing-advice emails → canonical transactions.
  *
  * Reference semantics (`bullionvault.js`): schema-free regex extraction over
  * raw email text (regexes at `bullionvault.js:1-8`, parse at `:43-98`):
  *  - `Summary:`/`Deal:` line → kind (Buy|Sell), quantity in kg, price per kg
  *  - `Consideration:`/`Net consideration:` line → 3-letter currency (guard)
  *  - `Commission:` line → currency (guard) + expenses
  *  - `Deal time:` line → date (freeform, two observed formats; `:100-112`)
  *  - `Security:` line → GOLD / SILVER via `\b(gold?)\b` / `\b(silver?)\b`
  *    (`bullionvault.js:16-26`)
  * Fail-fast: non-GBP currency, missing commission, NaN/0 qty, NaN/<=0 price,
  * undetectable asset, unparsable deal time all abort (`:24-25,56-87`).
  */
object BullionVaultSource {

  // Java-regex re-expressions of the reference's extraction patterns
  // (`bullionvault.js:1-8`); `(?i)` ≙ the /i flag.
  private val SummaryRe = "(?i)(?:Summary|Deal):\\s*(Buy|Sell)\\s*([0-9.,]+)\\s*kg\\s*@[^/]*?([0-9,]+(?:\\.[0-9]+)?)\\s*/kg"
  private val ConsiderationRe = "(?i)(?:Net\\s+consideration|Consideration):\\s*(?:.*=')?([A-Za-z]{3})(?:'})?\\s([0-9,]+(?:\\.[0-9]+)?)"
  private val CommissionRe = "(?i)(?:Commission):\\s*(?:.*=')?([A-Za-z]{3})(?:'})?\\s([0-9,]+(?:\\.[0-9]+)?)"
  private val DealTimeRe = "(?i)Deal time:\\s*([^\\r\\n]+)"
  private val SecurityRe = "(?i)Security:\\s*([^\\r\\n]+)"

  def readFolder(spark: SparkSession, dir: String): DataFrame =
    normalize(CsvSupport.readEmails(spark, dir).toDF("email"))

  /** `raw` must have a string column `email` (one row per email). */
  def normalize(raw: DataFrame): DataFrame = {
    val e = col("email")
    val kindRaw = regexp_extract(e, SummaryRe, 1)
    val qtyRaw = regexp_extract(e, SummaryRe, 2)
    val priceRaw = regexp_extract(e, SummaryRe, 3)
    val considerCur = upper(regexp_extract(e, ConsiderationRe, 1))
    val commissionCur = upper(regexp_extract(e, CommissionRe, 1))
    val commissionRaw = regexp_extract(e, CommissionRe, 2)
    val dealTime = regexp_extract(e, DealTimeRe, 1)
    val security = regexp_extract(e, SecurityRe, 1)

    val qty = parseNumber(qtyRaw)
    val price = parseNumber(priceRaw)
    val commission = parseNumber(commissionRaw)
    val date = dealTimeToDmy(dealTime)

    val asset = when(security rlike "(?i)\\b(?:gold?)\\b", "GOLD")
      .when(security rlike "(?i)\\b(?:silver?)\\b", "SILVER")

    // Consideration/commission guards: the reference dereferences
    // `considerationMatch[1]` / `commissionMatch[1]` unconditionally
    // (`bullionvault.js:46-54`), so an email missing either line aborts the
    // run (TypeError). We fail fast with a descriptive message instead of a
    // null deref, then apply the explicit non-GBP guard (`bullionvault.js:56-62`).
    val considerOk = considerCur =!= ""
    val commissionLineOk = commissionCur =!= ""
    val currencyOk = considerCur === "GBP" && commissionCur === "GBP"
    val badCurrency = when(considerCur =!= "GBP", considerCur).otherwise(commissionCur)

    val kind = failUnless(upper(kindRaw), kindRaw =!= "",
      "Unable to extract transaction summary (Summary:/Deal: line)")
    // inner: currency guard; outer: missing-line guard — outer conditions
    // evaluate first, so the missing-line abort wins, like the reference's
    // null deref preceding its currency loop.
    val kindCurrency = failUnless(kind, currencyOk,
      concat(lit("Unsupported currency '"), badCurrency, lit("' — only GBP allowed")))

    raw.select(
      failUnless(kindCurrency, considerOk && commissionLineOk,
        when(!considerOk, lit("Missing consideration line (Consideration:/Net consideration:)"))
          .otherwise(lit("Missing commission line (Commission:)"))).as("kind"),
      failUnless(date, dealTime =!= "" && date.isNotNull,
        when(dealTime === "", lit("Missing Deal time line"))
          .otherwise(concat(lit("Unable to parse deal time: "), dealTime))).as("date"),
      failUnless(asset, security =!= "" && asset.isNotNull,
        lit("Unable to detect asset type (gold/silver)")).as("asset"),
      failUnless(qty, qty.isNotNull && qty =!= 0.0,
        concat(lit("Invalid quantity: "), qtyRaw)).as("amount"),
      failUnless(price, price.isNotNull && price > 0.0,
        concat(lit("Invalid price: "), priceRaw)).as("price"),
      failUnless(commission, commissionRaw =!= "" && commission.isNotNull,
        lit("Missing or invalid commission")).as("expenses"))
  }
}
