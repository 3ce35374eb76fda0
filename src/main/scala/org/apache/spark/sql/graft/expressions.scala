package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationAwareUTF8String}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for JS `Number → String` rendering — the one
  * scalar the reference's output format needs that Spark lacks (SURVEY.md
  * §7.3; golden expectations like `78990` from `78,990.00` in the reference's
  * bullionvault fixtures). Codegen emits a direct static call, so the
  * formatter stays inside whole-stage codegen instead of paying ScalaUDF's
  * encoder + closure-call overhead. Registered as SQL function `js_num` via
  * [[GraftFunctions]].
  *
  * Lives under `org.apache.spark.sql` because the expression/Column bridge
  * APIs it builds on are `private[sql]` in Spark 4's classic backend — the
  * standard packaging for third-party Catalyst expressions.
  */
case class JsNumberFormat(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = StringType
  override def prettyName: String = "js_num"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.expr.JsNumber.format(input.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.expr.JsNumber.format($c))")

  override protected def withNewChildInternal(newChild: Expression): JsNumberFormat =
    copy(child = newChild)
}

/** Native Catalyst expression for the JS number parses of
  * [[graft.expr.Parse]]: one scan of the string, after every character of
  * `strip` is removed, gives a double, or NULL when the string spells no
  * number. `prefix` selects JS `parseFloat`'s longest-numeric-prefix rule,
  * otherwise the whole string must be a number (JS `Number`); the contract
  * of both modes, quirks included, is [[graft.expr.Parse.scanNumber]]'s.
  * Codegen emits one static call whose NaN result is the NULL sentinel (the
  * number grammar has no NaN spelling), so a broker projection that parses
  * many columns stays a small, JIT-compilable method. */
case class JsNumberParse(child: Expression, prefix: Boolean, strip: String)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "js_parse"

  override def nullSafeEval(input: Any): Any = {
    val d = graft.expr.Parse.scanNumber(input.asInstanceOf[UTF8String], prefix, strip)
    if (java.lang.Double.isNaN(d)) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // every character as a \uXXXX escape, so any strip set is a valid Java literal
    val stripLit = strip.map(ch => f"\\u${ch.toInt}%04x").mkString("\"", "", "\"")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.expr.Parse.scanNumber($c, $prefix, $stripLit);
         |${ev.isNull} = java.lang.Double.isNaN(${ev.value});""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsNumberParse =
    copy(child = newChild)
}

/** Native dot product over two `array<float>` embedding columns — the inner
  * loop of every similarity/near-dup operator. Numerically IDENTICAL to the
  * higher-order-function formulation
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0.0, (s,v) -> s+v)`
  * (left-to-right accumulation from 0.0 with per-term double widening), so
  * the DuckDB oracles are unaffected — but it runs as a tight primitive loop
  * inside whole-stage codegen with NO intermediate array allocation, where
  * the HOF chain materializes a 64-element products array per row and walks
  * it through lambda-bound variables. Registered as SQL function `dot_f`.
  *
  * A dot product over mismatched lengths or null elements is undefined, so
  * both yield SQL NULL (not a silently truncated / garbage sum) — `dot_f` is
  * SQL-registered and callable on arbitrary arrays, not just the fixed-dim
  * embeddings table. */
case class DotProductF(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"
  // NULL-out on length mismatch / null element even when the array columns
  // themselves are non-nullable.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** [[DotProductF]]'s mixed-type sibling: float array × BIGINT array →
  * double, same left-to-right accumulation from 0.0 with per-term double
  * widening. Exists for the k-means-refined IVF quantizer, whose Lloyd
  * centroids are INTEGER sum vectors (quantized-component sums — exact and
  * partition-order-independent where a float mean would be neither); the
  * assignment loop then needs N×k dots of a float embedding against a
  * BIGINT centroid direction, which must run as a codegen primitive loop,
  * not an interpreted HOF chain. A BIGINT below 2^53 widens to double
  * exactly, so the result is bit-identical to the oracle's unrolled
  * `CAST(a[i] AS DOUBLE) * CAST(s[i] AS DOUBLE)` chain. Registered as SQL
  * function `dot_fl`. */
case class DotProductFL(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_fl"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getLong(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.getFloat($i)) * ((double) $b.getLong($i));
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProductFL =
    copy(left = newLeft, right = newRight)
}

/** Shared pieces of the per-document text kernels. */
private[graft] object GraftKernels {
  /** Precompiled tokenizer pattern — `split(str, '\\s+')` semantics. */
  private val Whitespace: java.util.regex.Pattern = java.util.regex.Pattern.compile("\\s+")
  /** Precompiled line splitter — `split(str, '\n')` semantics. */
  val Newline: java.util.regex.Pattern = java.util.regex.Pattern.compile("\n")

  /** The kernels' tokenizer, equal to
    * `filter(split(lower(trim(text)), '\\s+'), t -> t != '')`: trim/lower
    * are the calls Spark's trim()/lower() make — lower under the default
    * ICU case mappings, which know letters the JDK's tables predate (e.g.
    * U+A7C0) — and the precompiled pattern skips the per-row regex compile
    * String.split would pay. */
  def tokens(u: UTF8String): Array[String] =
    Whitespace.split(CollationAwareUTF8String.toLowerCase(u.trim()).toString, -1)
      .filter(_.nonEmpty)
}

/** Per-document shingle-hash kernel: text → array of 32-bit hashes (as
  * BIGINT) of the DISTINCT 3-gram word shingles. Semantically identical to
  * the declarative chain the dedup family originally used —
  *
  *   explode(array_distinct(transform(sequence(...),
  *     i -> concat(toks[i],' ',toks[i+1],' ',toks[i+2])))) → md5 → first
  *   8 hex chars parsed as a number
  *
  * with toks = filter(split(lower(trim(text)), '\s+'), t != '') — but
  * evaluated as ONE tight JVM loop per row. The declarative form pays the
  * interpreted-lambda tax: Spark's higher-order functions don't participate
  * in whole-stage codegen, so every token and shingle walks through
  * per-element `LambdaFunction` interpretation with boxed intermediates
  * (measured: ~10s of the sf0.1 dedup pipeline was this projection).
  * Duplicate elimination happens on the shingle STRING (then the hash is
  * taken), exactly like array_distinct before it — so a 32-bit hash
  * collision between distinct shingles still contributes two array entries
  * and the Jaccard denominators match the string-based DuckDB oracle.
  *
  * First-4-bytes-of-md5 equals the old `hex8` parse of the first 8 hex
  * chars; values are bit-identical to the oracle's arithmetic. Registered
  * as SQL function `shingle_hash32`. */
case class ShingleHash32(child: Expression) extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "shingle_hash32"

  override def nullSafeEval(input: Any): Any = {
    val toks = GraftKernels.tokens(input.asInstanceOf[UTF8String])
    if (toks.length < 3) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i < toks.length - 2) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) {
      val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(j) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      md.reset()
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHash32 =
    copy(child = newChild)
}

/** Per-document rolling-window fingerprint kernel: text → array of 16-hex
  * md5 prefixes of every n-token window, in document order (NOT distinct —
  * the passage census counts occurrences). Same tokenize semantics and
  * same interpreted-HOF-tax rationale as [[ShingleHash32]]; equals
  *
  *   transform(sequence(0, size(toks) - n),
  *     i -> substr(md5(array_join(slice(toks, i + 1, n), ' ')), 1, 16))
  *
  * element for element. Registered as SQL function `passage_hash`. */
case class PassageHash(child: Expression, n: Int) extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "passage_hash"

  override def nullSafeEval(input: Any): Any = {
    val toks = GraftKernels.tokens(input.asInstanceOf[UTF8String])
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](16)
      var b = 0
      while (b < 8) {
        hex(2 * b) = "0123456789abcdef".charAt((d(b) >> 4) & 0xf)
        hex(2 * b + 1) = "0123456789abcdef".charAt(d(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      md.reset()
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PassageHash =
    copy(child = newChild)
}

/** Per-document Gopher counter kernel: text → ONE struct of the six
  * repetition/quality counters gopherScored derives its fractions from —
  * the [[ShingleHash32]] treatment applied to the Gopher rule scan, so the
  * counters run as one JVM loop instead of interpreted lambdas.
  * Field-for-field equal to the declarative chain it replaces (pinned by
  * GopherStatsSpec against edge cases, generated text AND the real
  * corpus):
  *
  *   toks      = filter(split(lower(trim(text)), '\s+'), t -> t != '')
  *   lns       = filter(transform(split(text, '\n'), l -> trim(l)), l != '')
  *   n_words   = size(toks);  n_lines = size(lns)
  *   n_dup     = n_lines - size(array_distinct(lns))
  *   n_bullet  = size(filter(lns, l -> substr(l, 1, 2) IN ('- ', '* ')))
  *   sum_wl    = aggregate(toks, 0L, (a, t) -> a + length(t))
  *   n_bigrams = greatest(n_words - 1, 0)
  *   top_n     = max per-doc multiplicity of concat(t[i], ' ', t[i+1]),
  *               NULL when n_words < 2 — the left-join-miss the retired
  *               explode → groupBy(doc,b) → max census produced.
  *
  * The kernel's win is structural, not just the lambda tax: the top-bigram
  * multiplicity is DOC-LOCAL (every bigram of a doc lives in its row), so
  * the explode + two doc-keyed aggregations and the join back — the only
  * shuffles in the build — collapse into a per-row hash map. length() is
  * code-point count (UTF8String.numChars), matched via codePointCount;
  * trim/lower are the same UTF8String calls Spark's trim()/lower() make. */
case class GopherStats(child: Expression) extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_words", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_lines", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_dup", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_bullet", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("sum_wl", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_bigrams", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("top_n", LongType, nullable = true)))
  override def prettyName: String = "gopher_stats"

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val toks = GraftKernels.tokens(u)
    val nWords = toks.length.toLong
    var sumWl = 0L
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      sumWl += t.codePointCount(0, t.length)
      i += 1
    }
    var topN: Any = null
    if (toks.length >= 2) {
      val counts = new java.util.HashMap[String, Integer](toks.length * 2)
      var best = 0
      i = 0
      while (i < toks.length - 1) {
        val b = toks(i) + " " + toks(i + 1)
        val prev = counts.get(b)
        val c = if (prev == null) 1 else prev.intValue + 1
        counts.put(b, c)
        if (c > best) best = c
        i += 1
      }
      topN = best.toLong
    }
    // line side — split on '\n' over the RAW text, Spark-trim each piece
    val lines = GraftKernels.Newline.split(u.toString, -1)
    var nLines = 0L
    var nDup = 0L
    var nBullet = 0L
    val seen = new java.util.HashSet[String](lines.length * 2)
    i = 0
    while (i < lines.length) {
      val l = UTF8String.fromString(lines(i)).trim().toString
      if (l.nonEmpty) {
        nLines += 1
        if (!seen.add(l)) nDup += 1
        if (l.startsWith("- ") || l.startsWith("* ")) nBullet += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      nWords, nLines, nDup, nBullet, sumWl, math.max(nWords - 1L, 0L), topN)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

/** Column-level entry for [[GopherStats]]. */
object GopherBridge {
  def gopherStats(child: Column): Column =
    ExpressionUtils.column(GopherStats(ExpressionUtils.expression(child)))
}

/** Per-document TYPE-FREQUENCY kernel: text → array of (t, tf) structs —
  * one entry per distinct token with its instance count, the row-local
  * form of the rarity_doc_tf census. Entry-for-entry equal (as a set;
  * consumers aggregate or re-sort) to the declarative chain it replaces
  * (pinned by TypeFreqSpec):
  *
  *   explode(filter(split(lower(trim(text)), '\s+'), t -> t != ''))
  *     → groupBy(doc, t) → count(*)
  *
  * The win is structural like [[GopherStats]]'s: a document's type
  * frequencies are DOC-LOCAL (every instance of a type lives in its row),
  * so the token-instance explode, the interpreted filter() lambda and the
  * hash aggregation over the exploded stream — the census build's whole
  * cost — collapse into one JVM loop + a per-row hash map, and the census
  * leaves the projection already aggregated. Same tokenize semantics
  * (UTF8String trim/lower, precompiled \s+ split) as every kernel above.
  * Registered as SQL function `type_freq`. */
case class TypeFreq(child: Expression) extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("t", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "type_freq"

  override def nullSafeEval(input: Any): Any = {
    val toks = GraftKernels.tokens(input.asInstanceOf[UTF8String])
    // LinkedHashMap: first-occurrence order — deterministic, and consumers
    // treat the entries as a set anyway
    val counts = new java.util.LinkedHashMap[String, java.lang.Long](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val prev = counts.get(t)
      counts.put(t, java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue + 1L))
      i += 1
    }
    val out = new Array[Any](counts.size)
    var j = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.getKey), e.getValue.longValue)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TypeFreq =
    copy(child = newChild)
}

/** Column-level entry for [[TypeFreq]]. */
object TypeFreqBridge {
  def typeFreq(child: Column): Column =
    ExpressionUtils.column(TypeFreq(ExpressionUtils.expression(child)))
}

/** Per-document classifier feature kernel — [[GopherStats]]'s twin for the
  * linear quality-classifier head: text → the five count features the
  * classifier_scored build derives its frozen-weight score from.
  * Field-for-field equal to the declarative chain (pinned by
  * GopherStatsSpec's classifier cases):
  *
  *   toks    = filter(split(lower(trim(text)), '\s+'), t -> t != '')
  *   n_toks  = size(toks)
  *   n_stop  = size(filter(toks, t -> t IN (<stops>)))
  *   n_short = size(filter(toks, t -> length(t) <= 2))
  *   n_long  = size(filter(toks, t -> length(t) >= 12))
  *   n_rep   = size(toks) - size(array_distinct(toks))
  *
  * The stop set rides the expression as a frozen parameter (the deployed
  * classifier's versioned vocabulary, exactly like its integer weights);
  * length() is code-point count, trim/lower the same UTF8String calls
  * Spark's own functions make. */
case class ClassifierStats(child: Expression, stops: Seq[String])
  extends UnaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_toks", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_stop", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_short", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_long", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_rep", LongType, nullable = false)))
  override def prettyName: String = "classifier_stats"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stops.size * 2)
    stops.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = GraftKernels.tokens(input.asInstanceOf[UTF8String])
    var nStop = 0L
    var nShort = 0L
    var nLong = 0L
    var nRep = 0L
    val seen = new java.util.HashSet[String](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (stopSet.contains(t)) nStop += 1
      val cp = t.codePointCount(0, t.length)
      if (cp <= 2) nShort += 1
      if (cp >= 12) nLong += 1
      if (!seen.add(t)) nRep += 1
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      toks.length.toLong, nStop, nShort, nLong, nRep)
  }

  override protected def withNewChildInternal(newChild: Expression): ClassifierStats =
    copy(child = newChild)
}

/** Column-level entry for [[ClassifierStats]]. */
object ClassifierBridge {
  def classifierStats(child: Column, stops: Seq[String]): Column =
    ExpressionUtils.column(ClassifierStats(ExpressionUtils.expression(child), stops))
}

/** Column ↔ Expression bridge for the classic (non-Connect) backend. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** One-pass SimHash signature AGGREGATE — the custom-UDAF member of the
  * kernel family (the scalar kernels cover projections; this covers the
  * per-group fold). Input is the per-token hash (a LONG whose low `bits`
  * bits matter); the buffer is one signed counter per bit position
  * (+1 when the token's bit is set, -1 otherwise); the result is the
  * `bits`-wide signature whose bit i is set iff counter i ended positive —
  * exactly the sign rule of the declarative 60-column formulation
  *
  *   agg(sum(CASE WHEN (h div 2^i) % 2 = 1 THEN 1 ELSE -1 END) AS b_i ...)
  *   select CASE WHEN b_i > 0 THEN 2^i ELSE 0 END summed
  *
  * that it replaces in [[graft.analytics.LlmOps.ddSimhashWide]], so the
  * DuckDB oracle (which still runs the 60-sum SQL) is unchanged. Where the
  * declarative form evaluates 60 CASE expressions per row into 60 buffer
  * slots, the kernel walks the hash once per row inside a primitive int
  * array. As a TypedImperativeAggregate it partial-aggregates (map-side
  * combine) and merges buffers by element-wise add, so the shuffle carries
  * one counter array per (partition, doc) — same volume as the 60 sums,
  * ~60x fewer expression evaluations. Registered as SQL `simhash_agg`;
  * the 16-bit [[graft.analytics.LlmOps.ddSimhash]] keeps the declarative
  * form as the didactic (and spec-comparison) twin. */
case class SimhashAgg(
    child: Expression,
    bits: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Int]]
  with ExpectsInputTypes {
  require(bits >= 1 && bits <= 63, "simhash width must be 1..63 (signed-long safe)")

  override def inputTypes: Seq[AbstractDataType] = Seq(org.apache.spark.sql.types.LongType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_agg"
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Array[Int] = new Array[Int](bits)

  override def update(buf: Array[Int], input: org.apache.spark.sql.catalyst.InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < bits) {
        buf(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < bits) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var sig = 0L
    var i = 0
    while (i < bits) { if (buf(i) > 0) sig |= 1L << i; i += 1 }
    sig
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * bits)
    var i = 0
    while (i < bits) { bb.putInt(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bits)(bb.getInt)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimhashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimhashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimhashAgg =
    copy(child = newChildren.head)
}

/** Column-level entry for [[SimhashAgg]]. */
object SimhashBridge {
  def simhashAgg(child: Column, bits: Int): Column =
    ExpressionUtils.column(
      SimhashAgg(ExpressionUtils.expression(child), bits).toAggregateExpression())
}

/** BOUNDED smallest-K aggregate — the skew-safe way to cap a group's
  * membership (`topk_min(doc_id, k)` → the k smallest values, ascending).
  *
  * The declarative alternative — `row_number() OVER (PARTITION BY key
  * ORDER BY v) <= k` — materializes and SORTS every group in full on one
  * reducer before discarding all but k rows; under a skewed key (the
  * per-host crawl cap in [[graft.analytics.LlmOps.ddHostCap]], where one
  * host carries ~50% of all fetches) that is a single-task sort of half
  * the corpus. As a TypedImperativeAggregate this instead partial-
  * aggregates map-side: every map task folds its rows into an O(k) buffer,
  * so the hot key crosses the exchange as one k-slot buffer PER MAP
  * PARTITION rather than as its raw rows, and the reduce side merges
  * bounded buffers. Memory is O(k) per open group regardless of group
  * size; no sort anywhere (insertion into a k-slot sorted array, k small).
  *
  * Buffer layout: `k+1` longs — slot 0 is the live count n, slots 1..n the
  * current smallest values ascending. */
case class TopKMinAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes {
  require(k >= 1 && k <= (1 << 16), "topk_min cap must be 1..65536 (O(k) buffer per group)")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_min"
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](k + 1)

  private def insert(buf: Array[Long], v: Long): Unit = {
    val n = buf(0).toInt
    if (n == k && v >= buf(k)) return // full and not smaller than the current max
    var pos = n
    while (pos >= 1 && buf(pos) > v) pos -= 1 // first slot from the right with buf(pos) <= v
    val end = if (n == k) k else n + 1 // when full, the old max at slot k falls off
    var i = end
    while (i > pos + 1) { buf(i) = buf(i - 1); i -= 1 }
    buf(pos + 1) = v
    if (n < k) buf(0) = n + 1
  }

  override def update(buf: Array[Long], input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val nb = b(0).toInt
    var j = 1
    while (j <= nb) { insert(a, b(j)); j += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOfRange(buf, 1, buf(0).toInt + 1))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val n = buf(0).toInt
    val bb = java.nio.ByteBuffer.allocate(8 * (n + 1))
    var i = 0
    while (i <= n) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong.toInt
    val buf = new Array[Long](k + 1)
    buf(0) = n
    var i = 1
    while (i <= n) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMinAgg =
    copy(child = newChildren.head)
}

/** Column-level entry for [[TopKMinAgg]]. */
object TopKBridge {
  def topkMin(child: Column, k: Int): Column =
    ExpressionUtils.column(
      TopKMinAgg(ExpressionUtils.expression(child), k).toAggregateExpression())
}

/** One-pass MinHash slice-min AGGREGATE — the [[SimhashAgg]] treatment
  * applied to the wide-signature build: input is the shingle STRING; the kernel computes the perms/4 seeded
  * digests md5("w<d>:" || s) itself and folds each digest's four 8-hex
  * slices into a primitive unsigned-int min buffer — one expression where
  * the declarative build evaluated 32 md5 projections, 128 substrings and
  * 128 string min-aggregates per row. Hash semantics are BIT-IDENTICAL to
  * that build (same seeds, same slicing; an 8-char lowercase-hex min
  * equals the hex of the unsigned-int min because fixed-width hex is
  * monotone), so the DuckDB mirrors are untouched — LlmOpsSpec pins the
  * kernel against the retired declarative builder. The result is ONE
  * array<string>(perms) column: 128 separate string columns cost ~1.5 s
  * extra to materialize into the memo cache at sf0.1, an UnsafeArrayData
  * blob caches at projection speed. Partial aggregation ships one
  * (4·perms+1)-byte-class int buffer per (map partition, doc) — roughly
  * half the bytes of the 128 partial min strings it replaces. */
case class MinhashSlicesAgg(
    child: Expression,
    perms: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Int]]
  with ExpectsInputTypes {
  require(perms >= 4 && perms % 4 == 0 && perms <= 1024,
    "minhash width must be a positive multiple of 4 (4 slices per digest)")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_slices"
  override def children: Seq[Expression] = Seq(child)

  // buffer: perms current mins as UNSIGNED ints (init 0xffffffff = unsigned
  // max; a genuine 0xffffffff min is indistinguishable from the init value,
  // which is exactly what min() would return for it anyway)
  override def createAggregationBuffer(): Array[Int] = Array.fill(perms)(-1)

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(perms / 4)(d => s"w$d:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def update(buf: Array[Int], input: org.apache.spark.sql.catalyst.InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val sBytes = v.asInstanceOf[UTF8String].getBytes
      var d = 0
      while (d < perms / 4) {
        md.reset()
        md.update(prefixes(d))
        md.update(sBytes)
        val dig = md.digest()
        var m = 0
        while (m < 4) {
          // big-endian 4-byte slice == the value of hex chars [8m, 8m+8)
          val x = ((dig(4 * m) & 0xff) << 24) | ((dig(4 * m + 1) & 0xff) << 16) |
            ((dig(4 * m + 2) & 0xff) << 8) | (dig(4 * m + 3) & 0xff)
          val j = 4 * d + m
          if (java.lang.Integer.compareUnsigned(x, buf(j)) < 0) buf(j) = x
          m += 1
        }
        d += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var i = 0
    while (i < perms) {
      if (java.lang.Integer.compareUnsigned(b(i), a(i)) < 0) a(i) = b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    val hexd = "0123456789abcdef"
    val out = new Array[Any](perms)
    var i = 0
    while (i < perms) {
      val v = buf(i)
      val cs = new Array[Char](8)
      var n = 0
      while (n < 8) { cs(n) = hexd.charAt((v >>> (28 - 4 * n)) & 0xf); n += 1 }
      out(i) = UTF8String.fromString(new String(cs))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * perms)
    var i = 0
    while (i < perms) { bb.putInt(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(perms)(bb.getInt)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinhashSlicesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinhashSlicesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinhashSlicesAgg =
    copy(child = newChildren.head)
}

/** Column-level entry for [[MinhashSlicesAgg]]. */
object MinhashBridge {
  def minhashSlices(child: Column, perms: Int): Column =
    ExpressionUtils.column(
      MinhashSlicesAgg(ExpressionUtils.expression(child), perms).toAggregateExpression())
}

/** Column-level access to Spark's own bloom-filter expressions
  * ([[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
  * / [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]).
  * These power Spark's internal runtime row-level filtering but are not in
  * the public function registry; exposing them lets the library express the
  * build-once/probe-everywhere semi-join pruning pattern explicitly — the
  * same sketch the optimizer would inject, but under query control (sized,
  * staged, reusable across queries). */
object BloomBridge {
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
  import org.apache.spark.sql.types.BinaryType

  /** Aggregate building a bloom filter over a long/string key column. */
  def bloomAgg(child: Column, estimatedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(child),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())

  /** Probe: true iff `value` MIGHT be in the serialized filter (no false
    * negatives; false-positive rate set by the build sizing). */
  def mightContain(bloom: Array[Byte], value: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      Literal.create(bloom, BinaryType),
      ExpressionUtils.expression(value)))

  /** Probe against a bloom produced by a COLUMN — pass the single-row
    * build aggregate as `df.agg(bloomAgg(...)).scalar()` and the sketch
    * builds lazily inside the consuming plan (a scalar subquery the
    * executor broadcasts), instead of an eager driver-side `head()` at
    * DataFrame-construction time. */
  def mightContain(bloom: Column, value: Column): Column =
    ExpressionUtils.column(BloomFilterMightContain(
      ExpressionUtils.expression(bloom),
      ExpressionUtils.expression(value)))
}

/** Count-min sketch under query control — the frequency-estimation twin of
  * [[BloomBridge]] (membership): build the sketch once with Spark's own
  * `CountMinSketchAgg` (mergeable, map-side combinable — the structure
  * that replaces a full type-table shuffle for term statistics at 100 TB),
  * ship it as a scalar subquery, and probe per row with [[CmsEstimate]].
  * Spark exposes the aggregate in SQL but no probe function — estimation
  * normally requires collecting the sketch to the driver; the probe
  * expression keeps the whole build-once/estimate-everywhere pattern
  * inside one lazy plan. */
object CmsBridge {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.expressions.aggregate.CountMinSketchAgg

  /** Aggregate building a count-min sketch over a string column. */
  def cmsAgg(child: Column, eps: Double, confidence: Double, seed: Int): Column =
    ExpressionUtils.column(new CountMinSketchAgg(
      ExpressionUtils.expression(child),
      Literal(eps), Literal(confidence), Literal(seed)).toAggregateExpression())

  /** Estimated count of `item` (string) in the serialized sketch. */
  def estimate(sketch: Column, item: Column): Column =
    ExpressionUtils.column(CmsEstimate(
      ExpressionUtils.expression(sketch),
      ExpressionUtils.expression(item)))
}

/** Probe expression for a serialized count-min sketch: estimated count of a
  * string item. Deserializes the sketch once per byte-array instance and
  * caches it (the scalar-subquery value is one shared array per task, so
  * the identity check makes per-row probing O(depth) instead of a
  * deserialization per row) — the same pattern Spark's own
  * BloomFilterMightContain uses. Probes with the UTF8 bytes, matching what
  * CountMinSketchAgg adds for StringType input. CMS guarantees
  * estimate >= true count always, and estimate <= true + eps*N with
  * probability 1-delta — which is what the oracle-checked booleans in
  * txt_top_terms_cms pin. */
case class CmsEstimate(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.BinaryType, StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "cms_estimate"

  @transient private var cachedBytes: AnyRef = _
  @transient private var cachedSketch: org.apache.spark.util.sketch.CountMinSketch = _

  override def nullSafeEval(sketchBytes: Any, item: Any): Any = {
    val bytes = sketchBytes.asInstanceOf[Array[Byte]]
    if (cachedSketch == null || (cachedBytes ne bytes)) {
      cachedSketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      cachedBytes = bytes
    }
    cachedSketch.estimateCount(item.asInstanceOf[UTF8String].getBytes)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

/** The SQL functions graft provides, as one `name → builder` table.
  * [[register]] adds them to a running session ([[graft.GraftSession]]
  * calls it for every graft session). */
object GraftFunctions {
  val table: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "js_num" -> (e => JsNumberFormat(e.head)),
    "dot_f" -> (e => DotProductF(e(0), e(1))),
    "dot_fl" -> (e => DotProductFL(e(0), e(1))),
    "shingle_hash32" -> (e => ShingleHash32(e.head)),
    "passage_hash" -> (e => PassageHash(e(0), e(1).eval().asInstanceOf[Int])),
    "gopher_stats" -> (e => GopherStats(e.head)),
    "type_freq" -> (e => TypeFreq(e.head)),
    // aggregates: the analyzer wraps a bare AggregateFunction builder result
    // in AggregateExpression, same as the built-in sum/min registrations
    "simhash_agg" -> (e => SimhashAgg(e(0), e(1).eval().asInstanceOf[Int])),
    "topk_min" -> (e => TopKMinAgg(e(0), e(1).eval().asInstanceOf[Int])))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    table.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
