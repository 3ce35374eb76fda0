package graft.expr

/** Reference digit selection for [[JsNumber.format]], the ECMA-262
  * `Number::toString` rule taken literally: for p = 1..17, round the exact
  * binary value to p significant digits (half-even: the closest p-digit
  * decimal, the even one on a tie) and take the first that parses back to
  * the value. Rounding the exact value (up to ~770 digits) per try is far
  * slower than `JsNumber.format`, which must render every double the same. */
object JsNumberReference {
  def format(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "Infinity"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-Infinity"
    if (d == 0.0) return "0"
    val exact = new java.math.BigDecimal(math.abs(d))
    var p = 1
    var r = exact.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
    while (r.doubleValue != math.abs(d)) {
      p += 1
      r = exact.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
    }
    val digits = r.unscaledValue.toString.reverse.dropWhile(_ == '0').reverse
    JsNumber.render(d < 0, digits, r.precision - r.scale - 1)
  }
}
