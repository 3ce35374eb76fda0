package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{ColumnBridge, JsNumberFormat}

/** JavaScript-compatible `Number → String` rendering.
  *
  * The reference engine renders every numeric output field with the JS default
  * number-to-string algorithm (shortest decimal representation that round-trips,
  * no trailing zeros, integers without a decimal point, exponent notation only
  * for |x| >= 1e21 or |x| < 1e-6). See the reference's line formatting at
  * `freetrade.js:195-200`, `ii.js:116-118`, `fidelity.js:113-118`,
  * `bullionvault.js:114-119` and the golden expectations such as
  * `10.8103524` (from input `10.81035240`) and `78990` (from `78,990.00`)
  * in `__tests__/data/freetrade.json` / `bullionvault.json`.
  *
  * Java's `Double.toString` disagrees (`10.0` instead of `10`, different
  * scientific-notation thresholds), so we select the digits explicitly, by
  * the ECMA-262 `Number::toString` rule: the fewest significant digits that
  * parse back to the same double. The candidates come from one digit string,
  * the round-tripping digits of `Double.toString`: for p = 1, 2, … they are
  * rounded half-up to p digits, and the first that converts back to the
  * value (`BigDecimal.doubleValue` rounds correctly, like
  * `Double.parseDouble`) is rendered. Rounding those digits rather than the
  * exact binary value can only go wrong when they end in 5 and the answer
  * is one digit shorter: both neighbours are then equally far from the
  * digits, and only the exact value tells which ECMA-262 picks
  * (`nearestShort`). The test reference `graft.expr.JsNumberReference`
  * rounds the exact value for every p; `JsNumberNodeSpec` checks both
  * against node.
  */
object JsNumber {

  /** Half-up rounding to p significant digits, indexed by p. */
  private val halfUp = Array.tabulate(18)(new java.math.MathContext(_, java.math.RoundingMode.HALF_UP))

  /** Shortest-round-trip JS rendering of a double. */
  def format(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "Infinity"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-Infinity"
    if (d == 0.0) return "0" // JS renders both 0 and -0 as "0"
    val neg = d < 0
    val a = math.abs(d)
    // Double.toString's digits always round-trip; keep the shortest half-up
    // rounding of them that does too
    val s = java.lang.Double.toString(a)
    val all = new java.math.BigDecimal(s)
    var p = 1
    var r = all.round(halfUp(p))
    while (r.doubleValue != a) { p += 1; r = all.round(halfUp(p)) }
    // decimals of at most 15 significant digits name distinct doubles, so
    // two round-tripping neighbours need 16 or more digits
    if (all.precision > 15 && p >= all.precision - 1 && endsIn5(s))
      r = nearestShort(a, all, r)
    val digits = r.unscaledValue.toString
    val exp = r.precision - r.scale - 1
    render(neg, digits, exp)
  }

  /** The tie branch: `all`'s last digit is 5, so its two neighbours one
    * digit shorter lie equally far from `all`, and the half-up search
    * takes the upper one (or, when only the lower round-trips, keeps
    * `all`). ECMAScript takes, among the shortest digit strings that
    * round-trip, the one closest to the exact binary value, the even one
    * on an exact tie. `r` is the half-up search's result. */
  private def nearestShort(a: Double, all: java.math.BigDecimal, r: java.math.BigDecimal): java.math.BigDecimal = {
    val n = all.precision
    val up = all.round(halfUp(n - 1))
    val down = all.round(new java.math.MathContext(n - 1, java.math.RoundingMode.DOWN))
    if (down.doubleValue != a) r
    else if (up.doubleValue != a) down
    else {
      val exact = new java.math.BigDecimal(a)
      val c = exact.subtract(down).compareTo(up.subtract(exact))
      if (c < 0 || (c == 0 && !down.unscaledValue.testBit(0))) down else up
    }
  }

  /** Whether the last significant digit of a `Double.toString` rendering
    * is 5. */
  private def endsIn5(s: String): Boolean = {
    val e = s.indexOf('E')
    s.charAt((if (e < 0) s.length else e) - 1) == '5'
  }

  /** JS layout of significant `digits` whose first digit has decimal
    * exponent `exp`: fixed notation for 1e-6 <= |x| < 1e21, else exponent
    * form. */
  private[expr] def render(neg: Boolean, digits: String, exp: Int): String = {
    val out =
      if (exp >= 21) expForm(digits, exp)
      else if (exp >= 0) {
        if (digits.length <= exp + 1) digits + "0" * (exp + 1 - digits.length)
        else digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
      } else if (exp >= -6) "0." + "0" * (-exp - 1) + digits
      else expForm(digits, exp)
    if (neg) "-" + out else out
  }

  private def expForm(digits: String, exp: Int): String = {
    val m = if (digits.length == 1) digits else digits.substring(0, 1) + "." + digits.substring(1)
    val sign = if (exp >= 0) "+" else "-"
    m + "e" + sign + math.abs(exp)
  }

  /** Column form: render a DoubleType column JS-style as StringType, via the
    * codegen'd Catalyst expression
    * [[org.apache.spark.sql.graft.JsNumberFormat]]. */
  def jsNum(c: Column): Column =
    ColumnBridge.column(JsNumberFormat(ColumnBridge.expression(c)))
}
