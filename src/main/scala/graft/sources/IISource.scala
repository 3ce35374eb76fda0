package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Parse._

/** Interactive Investor (ii) CSV → canonical transactions.
  *
  * Reference semantics (`ii.js`):
  *  - F2 row filter: keep rows whose `Quantity` passes `!isNaN(Number(q))`
  *    (`ii.js:46`) — note JS `Number('') == 0`, so an *empty* quantity passes
  *    the filter (and `n/a` fee/interest rows are dropped). `jsNumber`
  *    reproduces this.
  *  - P2 projection (`ii.js:60-91`):
  *      kind     = Debit numeric-only → BUY, Credit numeric-only → SELL,
  *                 both/neither → error (numeric-ness after stripping £ and ,)
  *      date     = Settlement Date, D/M/YYYY zero-padded (error if missing /
  *                 not 3 parts; `ii.js:62,98-109`)
  *      asset    = Sedol || Symbol (JS-falsy fallback; error if both empty)
  *      amount   = abs(Number(Quantity))
  *      price    = Number(Price stripped of £,) (error if missing/NaN)
  *      expenses = 0 (the ii export carries no per-trade commission,
  *                 `ii.js:87-88`)
  */
object IISource {

  /** The reference strips a BOM and the zero-width marks U+200B, U+200E and
    * U+200F from the start of the export (`ii.js:34`). Those can only land in
    * the first header name, so that column is renamed; Hadoop's line reader
    * has already dropped a UTF-8 BOM. */
  def readFile(spark: SparkSession, path: String): DataFrame = {
    val raw = CsvSupport.readHeaderCsv(spark, path)
    val first = raw.columns.head
    val clean = first.replaceAll("^[\\x{FEFF}\\x{200B}\\x{200E}\\x{200F}]+", "")
    normalize(raw.withColumnRenamed(first, clean))
  }

  def normalize(raw: DataFrame): DataFrame = {
    val filtered = raw.filter(jsNumber(col("Quantity")).isNotNull)

    val hasDebit = poundsNumber(col("Debit")).isNotNull
    val hasCredit = poundsNumber(col("Credit")).isNotNull
    val kind = when(hasDebit && !hasCredit, "BUY").when(hasCredit && !hasDebit, "SELL")
    val date = dmyZeroPad(col("Settlement Date"))
    val asset = firstNonEmpty(col("Sedol"), col("Symbol"))
    val amount = abs(jsNumber(col("Quantity")))
    val price = poundsNumber(col("Price"))

    // Error precedence mirrors `ii.js:61-73`: missing Settlement Date throws
    // first, then the BUY/SELL check, then the date-format check. The outer
    // failUnless condition evaluates before the inner one, and the kind
    // column is projected first, so the raise order matches.
    val dateMissing = col("Settlement Date").isNull || col("Settlement Date") === ""
    filtered.select(
      failUnless(
        failUnless(kind, kind.isNotNull, "Unable to determine BUY/SELL from Debit/Credit"),
        !dateMissing, "Missing settlement date value").as("kind"),
      failUnless(date,
        col("Settlement Date").isNotNull && col("Settlement Date") =!= "" && date.isNotNull,
        when(col("Settlement Date").isNull || col("Settlement Date") === "",
          lit("Missing settlement date value"))
          .otherwise(concat(lit("Invalid date format: "), col("Settlement Date")))).as("date"),
      failUnless(asset, asset.isNotNull, "Missing asset identifier").as("asset"),
      failUnless(amount, amount.isNotNull && !amount.isin(Double.PositiveInfinity),
        concat(lit("Invalid Quantity: "), coalesce(col("Quantity"), lit("")))).as("amount"),
      failUnless(price,
        col("Price").isNotNull && col("Price") =!= "" && price.isNotNull &&
          !price.isin(Double.PositiveInfinity, Double.NegativeInfinity),
        when(col("Price").isNull || col("Price") === "", lit("Missing Price"))
          .otherwise(concat(lit("Invalid Price: "), col("Price")))).as("price"),
      lit(0.0).as("expenses"))
  }
}
