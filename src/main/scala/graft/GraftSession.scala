package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftFunctions

/** The one place a graft process builds its SparkSession. Every main and
  * the spec session go through [[local]], so they all read timestamps,
  * casts and parquet the same way and all have graft's SQL functions
  * (from [[GraftFunctions.register]]). */
object GraftSession {
  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time zone, ANSI off, parquet nanosecond timestamps read as longs, no
    * UI, WARN logging and every graft SQL function registered. Returns the
    * running session when there is one. */
  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }
}
