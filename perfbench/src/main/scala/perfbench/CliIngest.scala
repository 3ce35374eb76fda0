package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Transaction
import graft.pipeline.MergeSortSink
import graft.sources.{BullionVaultSource, FidelitySource, FreetradeSource, IISource}

object Brokers {
  val all: Seq[String] = Seq("freetrade", "ii", "fidelity", "bullionvault")

  /** The program's public source entry point for each broker. */
  def read(spark: SparkSession, broker: String, path: String): DataFrame = broker match {
    case "freetrade" => FreetradeSource.readFile(spark, path)
    case "ii" => IISource.readFile(spark, path)
    case "fidelity" => FidelitySource.readFile(spark, path)
    case "bullionvault" => BullionVaultSource.readFolder(spark, path)
  }

  /** Where the input generator puts a broker's export inside `dir`. */
  def export(dir: String, broker: String): String =
    if (broker == "bullionvault") s"$dir/emails" else s"$dir/$broker.csv"
}

/** Per-layer values of one traced pass, summed over its rounds or queries. */
final class Layers {
  private val values = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
  def set(k: String, v: Double): Unit = values(k) = v
  def apply(k: String): Double = values.getOrElse(k, 0.0)
  def toMap: Map[String, Double] = values.toMap
}

/** One broker round with a span around each layer. Each span materializes a
  * prefix of the round (parse; format; read-back; merge; merge+sort; the real
  * write), so a layer's self time is the difference between successive prefix
  * spans. The parsed rows are cached for the round, so formatting is timed
  * against a scan of the cache rather than against a second parse. Self times
  * can read slightly negative when a layer costs less than the run-to-run
  * noise of its prefix. */
object TracedRound {
  def run(spark: SparkSession, tr: Tracer, layers: Layers, broker: String, path: String,
          existingPath: String, out: String): Long = {
    def timed[A](layer: String, span: String)(body: => A): (A, Double) =
      tr.span(span)(Trace.seconds(tr.inGroup(spark, layer)(body)))

    val (src, tRead) = timed("sources", "sources.read")(Brokers.read(spark, broker, path).persist())
    try {
      val (rows, tParse) = timed("sources", "sources.parse")(Trace.noopRows(src))
      val (_, tScan) = timed("model", "model.scan")(Trace.noopRows(src))
      val lines = Transaction.toLines(src)
      val (_, tFormat) = timed("model", "model.format")(Trace.noopRows(lines))
      val existing = MergeSortSink.readExisting(spark, existingPath)
      val (nExisting, tExisting) = timed("pipeline", "pipeline.read_existing")(Trace.noopRows(existing))
      val (merged, tMergeCall) = timed("pipeline", "pipeline.merge")(MergeSortSink.merge(existing, lines))
      val (_, tMerged) = timed("pipeline", "pipeline.merged")(Trace.noopRows(merged))
      val (_, tSort) = timed("pipeline", "pipeline.sort")(Trace.noopRows(MergeSortSink.sortLines(merged)))
      val (_, tWrite) = timed("pipeline", "pipeline.write")(MergeSortSink.writeSorted(merged, out))

      layers.add(s"sources.$broker.parse_s", tRead + tParse)
      layers.add(s"sources.$broker.rows", rows.toDouble)
      layers.add("model.format_s", tFormat - tScan)
      layers.add("model.lines", rows.toDouble)
      layers.add("pipeline.read_existing_s", tExisting)
      layers.add("pipeline.merge_s", tMergeCall + tMerged - tFormat - tExisting)
      layers.add("pipeline.sort_s", tSort - tMerged)
      layers.add("pipeline.write_s", tWrite - tSort)
      layers.add("pipeline.existing_lines", nExisting.toDouble)
      layers.add("rounds", 1)
      rows
    } finally src.unpersist()
  }

  /** Folds job-group counters and derived ratios into the pass's layers. */
  def finish(tr: Tracer, layers: Layers): Map[String, Double] = {
    val src = tr.counters(_ == "sources")
    val pipe = tr.counters(_ == "pipeline")
    val rounds = layers("rounds")
    layers.add("sources.jobs_per_call", src.jobs / rounds)
    layers.add("pipeline.jobs_per_call", pipe.jobs / rounds)
    layers.add("pipeline.shuffle_write_bytes", pipe.shuffleWriteBytes / rounds)
    layers.add("pipeline.spill_bytes", pipe.spillBytes / rounds)
    layers.set("pipeline.existing_lines", layers("pipeline.existing_lines") / rounds)
    Brokers.all.foreach { b =>
      val t = layers(s"sources.$b.parse_s")
      if (t > 0) layers.add(s"sources.$b.rows_per_s", layers(s"sources.$b.rows") / t)
    }
    val lines = layers("model.lines")
    if (lines > 0) layers.add("model.format_ns_per_line", layers("model.format_s") * 1e9 / lines)
    layers.toMap
  }
}

/** The paper's lifecycle at scale: the four brokers ingest one round each,
  * every round merging its fresh lines with the previous round's distributed
  * sink and writing a range-partitioned sorted sink. A pass starts from an
  * empty sink; each pass re-ingests the same seeded exports. */
final class CliIngest(input: String, work: String) extends Workload {

  private def lifecycle(spark: SparkSession, tr: Tracer, from: String, dir: String,
                        layers: Option[Layers], brokers: Seq[String] = Brokers.all): (Seq[Op], String) = {
    var existing = s"$dir/empty"
    val ops = brokers.zipWithIndex.map { case (broker, r) =>
      val out = s"$dir/sink_$r"
      val path = Brokers.export(from, broker)
      val prev = existing
      existing = out
      Op.attempt(broker)(layers match {
        case None =>
          val lines = Transaction.toLines(Brokers.read(spark, broker, path))
          MergeSortSink.writeSorted(MergeSortSink.merge(MergeSortSink.readExisting(spark, prev), lines), out)
          0L
        case Some(l) =>
          tr.span(s"round.$broker")(TracedRound.run(spark, tr, l, broker, path, prev, out))
      })
    }
    (ops, existing)
  }

  /** One small round, so a set-up costs about one round's fixed overhead. */
  def warmUp(spark: SparkSession): Unit =
    lifecycle(spark, new Tracer(false), s"$input/warm", s"$work/warm", None, Brokers.all.take(1))

  /** The whole lifecycle on the small warm-up exports: it loads and compiles
    * the code of every round a pass runs, at a small share of a pass's cost. */
  override def warmPass(spark: SparkSession): PassResult = {
    val (ops, sink) = lifecycle(spark, new Tracer(false), s"$input/warm", s"$work/warm/pass", None)
    PassResult(ops, Nil, Seq(sink), Map.empty)
  }

  def pass(spark: SparkSession, tracer: Tracer, index: Int): PassResult = {
    val layers = if (tracer.enabled) Some(new Layers) else None
    val (ops, sink) = lifecycle(spark, tracer, s"$input/ingest", s"$work/ingest/p$index", layers)
    PassResult(ops, Nil, Seq(sink), layers.map(TracedRound.finish(tracer, _)).getOrElse(Map.empty))
  }

  def canaryInput: (String, String) = (s"$input/ingest/freetrade.csv", "text")
}
