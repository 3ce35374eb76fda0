package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** Dev harness: time individual SparkEntry queries by name.
  *
  *   runMain graft.Probe <sfDir> <query> [query...]
  *
  * Each query runs twice (cold, then warm — the second run shows how much
  * of the cold cost is one-off session/codegen/cache-build work), forced
  * through the no-op sink so every output column is computed (a `.count()`
  * lets Catalyst prune the columns it never reads); the row count rides an
  * observation of that one execution. `graft.Plans` dumps the plans. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local()
    names.foreach { n =>
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        val obs = Observation()
        SparkEntry.queries(n)(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        val rows = obs.get("rows")
        println(f"PROBE $n pass$pass ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$rows")
      }
    }
    graft.analytics.LlmOps.releaseCaches()
    spark.stop()
  }
}
