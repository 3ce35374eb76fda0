package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every SparkEntry query to a directory —
  * the feedback loop for plan tuning (pushdown, pruning, broadcast choice,
  * shuffle count). Usage: `runMain graft.Plans <sfDir> <outDir> [names...]`
  * (names restrict the dump to those queries — Verify's subset contract).
  * A query whose plan fails gets `ERROR: <message>` as its file; the run
  * goes on, then exits non-zero and names the failed queries.
  * `scripts/plans_diff.py` compares two dumps. */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    val failed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        val (text, failure) =
          try (fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode), None)
          catch { case e: Throwable => (s"ERROR: ${e.getMessage}", Some(name)) }
        Files.writeString(Paths.get(s"$outDir/$name.txt"), text)
        failure
      }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
