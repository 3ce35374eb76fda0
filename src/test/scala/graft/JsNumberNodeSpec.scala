package graft

import java.nio.file.Files

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.expr.{JsNumber, JsNumberReference}

/** `JsNumber.format` against node's own `String(x)` on seeded doubles: the
  * reference implementation (`index.js`) renders every number field this
  * way. Cancelled when no `node` is on the PATH. */
class JsNumberNodeSpec extends AnyFunSuite {

  private val node = sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
    .map(d => new java.io.File(d, "node")).find(_.canExecute)

  /** 102,433 doubles from one seed: random bit patterns, decimals with up
    * to 8 fraction digits, magnitudes spread over 1e-25 … 1e25, the
    * integers within 50 of each power of ten up to 1e22 and of 2^53, and
    * the special values (±0, NaN, ±Infinity, the extremes). */
  private def doubles: Seq[Double] = {
    val rng = new scala.util.Random(20260)
    val bits = Seq.fill(40000)(java.lang.Double.longBitsToDouble(rng.nextLong()))
    val decimals = Seq.fill(30000)(rng.between(1L, 10000000000L) / math.pow(10, rng.nextInt(9)))
    val spread = Seq.fill(30000) {
      val m = math.pow(10, -25 + 50 * rng.nextDouble())
      if (rng.nextBoolean()) -m else m
    }
    val edges = for {
      base <- (0 to 22).map(k => BigDecimal(10).pow(k)) :+ BigDecimal(2).pow(53)
      k <- -50 to 50
    } yield (base + k).toDouble
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, Double.MaxValue, Double.MinValue)
    bits ++ decimals ++ spread ++ edges ++ specials
  }

  /** node's `String(x)` of each double, passed across as raw bits. */
  private def nodeStrings(ds: Seq[Double]): Seq[String] = {
    val in = Files.createTempFile("jsnum", ".txt")
    try {
      Files.writeString(in, ds.map(d => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))).mkString("\n"))
      val js = "const b = Buffer.alloc(8);" +
        "process.stdout.write(require('fs').readFileSync(process.argv[1], 'utf8').split('\\n')" +
        ".map(h => { b.writeBigUInt64BE(BigInt('0x' + h)); return String(b.readDoubleBE(0)); }).join('\\n'))"
      Seq(node.get.getPath, "-e", js, in.toString).!!.split("\n").toSeq
    } finally Files.delete(in)
  }

  test("JsNumber.format and JsNumberReference render seeded doubles as node's String(x)") {
    assume(node.isDefined, "no node on the PATH")
    val ds = doubles
    val js = nodeStrings(ds)
    assert(js.size == ds.size)
    def misses(f: Double => String) = ds.zip(js).filter { case (d, s) => f(d) != s }
      .map { case (d, s) => s"${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))}: ${f(d)} vs node $s" }
    val fmt = misses(JsNumber.format)
    assert(fmt.isEmpty, s"${fmt.size} of ${ds.size} differ, e.g. ${fmt.take(5).mkString("; ")}")
    val ref = misses(JsNumberReference.format)
    assert(ref.isEmpty, s"${ref.size} of ${ds.size} differ, e.g. ${ref.take(5).mkString("; ")}")
  }
}
