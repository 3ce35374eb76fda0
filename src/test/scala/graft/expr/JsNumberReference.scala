package graft.expr

/** Reference digit selection for [[JsNumber.format]]: format the value with
  * `%.{p-1}e` for p = 1..17 and take the first rendering that parses back to
  * it. It builds a format string and runs `Formatter` per try, so it is far
  * slower than `JsNumber.format`, which must render every double the same. */
object JsNumberReference {
  def format(d: Double): String = {
    if (java.lang.Double.isNaN(d)) return "NaN"
    if (d == java.lang.Double.POSITIVE_INFINITY) return "Infinity"
    if (d == java.lang.Double.NEGATIVE_INFINITY) return "-Infinity"
    if (d == 0.0) return "0"
    val a = math.abs(d)
    var digits: String = null
    var exp = 0
    var p = 1
    while (digits == null && p <= 17) {
      val s = String.format(java.util.Locale.ROOT, "%." + (p - 1) + "e", Double.box(a))
      if (java.lang.Double.parseDouble(s) == a) {
        val i = s.indexOf('e')
        digits = s.substring(0, i).replace(".", "")
        exp = Integer.parseInt(s.substring(i + 1))
      }
      p += 1
    }
    JsNumber.render(d < 0, digits, exp)
  }
}
