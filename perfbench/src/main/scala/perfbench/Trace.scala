package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{count, lit}

/** Task counters summed over every job of one job group. */
final class Counters {
  var jobs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; cpuNs += o.cpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Aggregates TaskMetrics per job group. Events arrive on the single
  * listener-bus thread; readers call [[Tracer.counters]], which drains the
  * bus first. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private[perfbench] val byGroup = mutable.HashMap[String, Counters]()

  private def group(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  def clear(): Unit = synchronized { stageGroup.clear(); byGroup.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val c = group(g)
    c.jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = group(stageGroup.getOrElse(e.stageId, ""))
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** One span: a timed call into a layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Tracing for one run. Spans stay in memory and go into the report at the
  * end. With `enabled = false` nothing is registered, no job group is set and
  * [[span]] only runs its body, so an untraced run measures the program alone. */
final class Tracer(val enabled: Boolean) {
  private var listening: Option[(SparkContext, GroupListener)] = None
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  /** Starts counting for a pass in `spark`'s context: counters read later
    * cover this pass only. */
  def startPass(spark: SparkSession): Unit = if (enabled) {
    val sc = spark.sparkContext
    listening match {
      case Some((c, l)) if c eq sc =>
        org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
        l.clear()
      case _ =>
        val l = new GroupListener
        sc.addSparkListener(l)
        listening = Some(sc -> l)
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Runs `body` with every Spark job it starts tagged with `group`. */
  def inGroup[A](spark: SparkSession, group: String)(body: => A): A =
    if (!enabled) body
    else {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }

  /** This pass's counters of every group whose name satisfies `p`, summed. */
  def counters(p: String => Boolean): Counters = {
    val sum = new Counters
    listening.foreach { case (sc, l) =>
      org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
      l.synchronized(l.byGroup.foreach { case (g, c) => if (p(g)) sum += c })
    }
    sum
  }

  def recorded: Seq[Span] = spans.toSeq
}

object Trace {

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Forces every column of `df` through the no-op sink and returns the rows
    * that reached it. The row count rides an observation, so the check needs
    * no second execution. */
  def noopRows(ds: Dataset[_]): Long = {
    val obs = Observation()
    ds.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (Exchange count, leaf-operator count) of the physical plan of `df`. */
  def planShape(df: Dataset[_]): (Int, Int) = {
    val all = nodes(df.queryExecution.executedPlan)
    (all.count(_.isInstanceOf[Exchange]), all.count(_.children.isEmpty))
  }

  /** Bytes Spark storage holds (memory and disk), and the number of cached
    * RDDs holding any. */
  def cached(spark: SparkSession): (Long, Int) = {
    val held = spark.sparkContext.getRDDStorageInfo.filter(i => i.memSize + i.diskSize > 0)
    (held.map(i => i.memSize + i.diskSize).sum, held.length)
  }
}
