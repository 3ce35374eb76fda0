package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The number parses of [[Parse]] as regex chains of built-in functions,
  * kept as the reference the one-scan kernel
  * ([[org.apache.spark.sql.graft.JsNumberParse]]) is checked against:
  * `regexp_extract` for `parseFloat`'s prefix, `trim` (spaces only), an
  * `rlike` prefilter on the grammar so the cast never throws, then a cast
  * to double. Each helper evaluates its regexes per row, which the kernel
  * must reproduce exactly, quirks included. */
object ParseReference {

  /** Strings JS `Number()` / a guarded cast can parse as double. */
  private val NumRe = "^[+-]?((\\d+\\.?\\d*)|(\\.\\d+))([eE][+-]?\\d+)?$"

  /** The longest numeric prefix JS `parseFloat` reads. */
  private val PrefixRe = "^\\s*[+-]?((\\d+\\.?\\d*)|(\\.\\d+))([eE][+-]?\\d+)?"

  /** Null unless the space-trimmed string is fully numeric. */
  private def guardedCast(c: Column): Column = {
    val t = trim(c)
    when(t.rlike(NumRe), t.cast(DoubleType))
  }

  def jsParseFloat(c: Column): Column =
    guardedCast(regexp_extract(c, PrefixRe, 0))

  def jsNumber(c: Column): Column =
    when(trim(c) === "", lit(0.0)).otherwise(guardedCast(c))

  def parseNumber(c: Column): Column =
    jsParseFloat(regexp_replace(c, ",", ""))

  def poundsNumber(c: Column): Column =
    jsNumber(regexp_replace(c, "[£,]", ""))
}
