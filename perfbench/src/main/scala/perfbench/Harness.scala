package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit, sum, xxhash64}
import org.apache.spark.sql.graft.GraftFunctions

/** One operation of a pass: an ingest round or an analytics query. */
final case class Op(name: String, seconds: Double, error: Option[String], rows: Long = -1L)

/** One pass of a workload's fixed operation sequence, from empty state.
  * `prep` are steps that build state the operations read (not operations
  * themselves); `outputs` are files the run's output check reads; `layers`
  * holds the per-layer values of a traced pass. */
final case class PassResult(ops: Seq[Op], prep: Seq[Op], outputs: Seq[String],
                            layers: Map[String, Double]) {
  def seconds: Double = (prep ++ ops).map(_.seconds).sum
}

trait Workload {
  /** Untimed-for-the-workload warm-up, charged to set-up time. */
  def warmUp(spark: SparkSession): Unit
  /** The session the next pass runs in, after `done` passes have run. */
  def nextSession(spark: SparkSession, done: Int): SparkSession = spark
  def pass(spark: SparkSession, tracer: Tracer, index: Int): PassResult
  /** The unmeasured first pass that warms the JVM's compiled code. */
  def warmPass(spark: SparkSession): PassResult = pass(spark, new Tracer(false), 0)
  /** A file the IO canary hashes: the workload's largest input. */
  def canaryInput: (String, String)
  def release(): Unit = ()
}

/** Benchmark harness: runs one workload in this JVM and writes a JSON report
  * that `perfbench/run.py` turns into metrics and checks.
  *
  * Usage:
  *   perfbench.Harness run <workload> <inputDir> <workDir> <seconds> <trace 0|1> <seed> <report>
  *   perfbench.Harness gendata <dir> <scale>
  */
object Harness {
  val SetUps = 3

  def main(args: Array[String]): Unit = args.toList match {
    case "gendata" :: dir :: scale :: Nil =>
      graft.GenData.main(Array(dir, scale))
    case "run" :: workload :: input :: work :: secs :: trace :: seed :: report :: Nil =>
      val ok = run(workload, input, work, secs.toDouble, trace == "1", seed.toLong, report)
      if (!ok) sys.exit(1)
    case _ =>
      System.err.println("usage: perfbench.Harness run <workload> <input> <work> <seconds> <trace> <seed> <report>" +
        " | gendata <dir> <scale>")
      sys.exit(2)
  }

  def newSession(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
  }

  /** Creates a session and registers the program's SQL functions:
    * (session, create seconds, register seconds). */
  def setUpSession(work: String): (SparkSession, Double, Double) = {
    val (spark, tCreate) = Trace.seconds(newSession(work))
    spark.sparkContext.setLogLevel("WARN")
    val (_, tRegister) = Trace.seconds(GraftFunctions.register(spark))
    (spark, tCreate, tRegister)
  }

  /** Hashes every column of the workload's largest input: a fixed IO+CPU
    * task whose drift reports box load. Recorded only, never used to gate
    * or normalize. */
  private def canaryIo(spark: SparkSession, input: (String, String)): Double = {
    val (path, format) = input
    val df = spark.read.format(format).load(path)
    Trace.seconds(df.select(xxhash64(df.columns.toIndexedSeq.map(df.col): _*).as("h"))
      .select(coalesce(sum(col("h")), lit(0L))).collect())._2
  }

  def errorText(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.find(_.nonEmpty).getOrElse("")
    s"${e.getClass.getName}: $msg".take(300)
  }

  def run(name: String, input: String, work: String, seconds: Double, traced: Boolean,
          seed: Long, report: String): Boolean = {
    Files.createDirectories(Paths.get(work))
    val workload: Workload = name match {
      case "cli_ingest" => new CliIngest(input, work)
      case "analytics" => new Analytics(input, work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val setUps = ArrayBuffer[Map[String, Double]]()
    var spark: SparkSession = null
    for (i <- 1 to SetUps) {
      val (s, tCreate, tRegister) = setUpSession(work)
      val (_, tWarm) = Trace.seconds(workload.warmUp(s))
      setUps += Map("create_s" -> tCreate, "register_s" -> tRegister, "warmup_s" -> tWarm)
      if (i < SetUps) { workload.release(); s.stop() } else spark = s
    }

    val canaryPre = canaryIo(spark, workload.canaryInput)
    // The first pass only warms the JVM's compiled code and is not measured,
    // as an interactive session pays that once. A traced run then measures
    // its traced passes, and one more untraced pass in the same JVM is the
    // reference its tracing overhead is stated against.
    val tracer = new Tracer(traced)
    val passes = ArrayBuffer[(String, PassResult)]()
    def runPass(kind: String, t: Tracer): Double = {
      spark = workload.nextSession(spark, passes.size)
      t.startPass(spark)
      val p = workload.pass(spark, t, passes.size)
      passes += kind -> p
      p.seconds
    }
    val untraced = new Tracer(false)
    passes += "warm" -> workload.warmPass(spark)
    var measured = 0.0
    while (measured == 0.0 || measured < seconds)
      measured += runPass(if (traced) "traced" else "untraced", tracer)
    if (traced) runPass("untraced", untraced)
    val canaryPost = canaryIo(spark, workload.canaryInput)

    val box = Map[String, Any](
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "canary_io_pre_s" -> canaryPre,
      "canary_io_post_s" -> canaryPost)
    val out = Map[String, Any](
      "workload" -> name,
      "seed" -> seed,
      "trace" -> traced,
      "box" -> box,
      "setup" -> setUps.toSeq,
      "passes" -> passes.toSeq.map { case (kind, p) =>
        Map[String, Any](
          "kind" -> kind,
          "pass_s" -> p.seconds,
          "prep" -> p.prep.map(opJson),
          "ops" -> p.ops.map(opJson),
          "outputs" -> p.outputs,
          "layers" -> p.layers)
      },
      "spans" -> tracer.recorded.map(s => Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "s" -> s.seconds)))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(report), out)
    workload.release()
    spark.stop()
    passes.forall { case (_, p) => (p.prep ++ p.ops).forall(_.error.isEmpty) }
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("name" -> o.name, "s" -> o.seconds, "rows" -> o.rows, "error" -> o.error.orNull)
}

object Op {
  /** Times `body`, which returns the rows it produced, capturing a failure. */
  def attempt(name: String)(body: => Long): Op = {
    val (r, t) = Trace.seconds(Try(body))
    Op(name, t, r.failed.toOption.map(Harness.errorText), r.getOrElse(-1L))
  }
}
