package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.RLike
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.model.Transaction
import graft.sources.{FidelitySource, FreetradeSource, IISource}

/** Every whole-stage method of a CSV broker's read → format pass must stay
  * under HotSpot's 8,000-byte limit for JIT compilation
  * (`-XX:+DontCompileHugeMethods`, on by default): a larger method runs
  * interpreted for the life of the JVM. The number parses are one
  * `js_parse` call each, so no `RLike` is left in these plans. */
class CodegenSizeSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-codegen").toString
    CliScale.genFixtures(d, 0.002)
    d
  }

  private val HugeMethodLimit = 8000

  for ((broker, read) <- Seq[(String, String => org.apache.spark.sql.DataFrame)](
    "freetrade" -> (p => FreetradeSource.readFile(spark, p)),
    "ii" -> (p => IISource.readFile(spark, p)),
    "fidelity" -> (p => FidelitySource.readFile(spark, p))))
    test(s"$broker toLines: every generated method is JIT-sized and no regex parses a number") {
      val plan = Transaction.toLines(read(s"$dir/$broker.csv")).queryExecution.executedPlan
      val stages = codegenStringSeq(plan)
      assert(stages.nonEmpty, plan.toString)
      stages.foreach { case (subtree, _, stats) =>
        assert(stats.maxMethodCodeSize < HugeMethodLimit,
          s"${stats.maxMethodCodeSize} bytes in one method of:\n$subtree")
      }
      info(s"largest method: ${stages.map(_._3.maxMethodCodeSize).max} bytes")
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[RLike]))), plan.toString)
    }
}
