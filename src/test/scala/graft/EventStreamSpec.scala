package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import EventStreamSpec._

/** Stream-side references for four oracle-checked batch queries: q21
  * tumbling windows, q10 gap sessions, q37 forward as-of and q40 ordered
  * funnel. The engine ships no streaming code; these Structured Streaming
  * formulations live here, in the test tree, as independent references.
  * Each is run over the sf0.001 events, once as a bounded frame (Spark's
  * unified model) or fed through `MemoryStream` in chronological
  * micro-batches, so cross-batch state and watermarks run. The accumulated
  * sink must equal the batch query, which hash-matches DuckDB. */
class EventStreamSpec extends SparkSpec {

  test("streaming transform run in batch mode equals the batch tumbling query (unified semantics)") {
    // Spark's unified model: the SAME windowedCounts transform accepts a
    // bounded DataFrame (withWatermark is a no-op in batch). Running it
    // over the real testdata events table and comparing against
    // q21Tumbling checks the batch query against a second formulation.
    val dir = "/root/testdata/sf0.001"
    val asTs = graft.analytics.Tables.events(spark, dir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val streamed = windowedCounts(asTs)
      .withColumn("w_start", date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss"))
      .collect()
      .map(r => (r.getAs[String]("w_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      .toSet
    val batch = graft.analytics.Relational.q21Tumbling(spark, dir).collect()
      .map(r => (r.getAs[String]("w_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      .toSet
    assert(batch.nonEmpty, "parity vacuous: q21 found no windows at this sf")
    assert(streamed == batch,
      "streaming transform diverged from the oracle-checked batch twin")
  }

  test("stateful sessionizer run in batch mode matches the oracle-checked q10 sessionization") {
    // Same unified-model parity as the tumbling test above, extended to the
    // flatMapGroupsWithState sessionizer: in batch mode each user's full
    // event iterator arrives in one call, so every session the gap logic
    // CLOSES must equal a q10 session. The one semantic difference is the
    // output contract, not the gap logic: the sessionizer emits sessions on
    // CLOSE (Append mode), so each user's final session stays open in state
    // — parity set = q10 minus each user's last session.
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ev = graft.analytics.Tables.events(spark, dir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val closed = sessionize(ev).collect()
      .map(r => (r.user_id, r.n_events, r.sum_value))
    assert(closed.nonEmpty)
    val expected = q10ClosedSessions(dir)
    def ms(xs: Seq[(Long, Long, Double)]) =
      xs.groupBy(identity).view.mapValues(_.size).toMap
    val (got, want) = (ms(closed.toSeq), ms(expected))
    val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    assert(diff.isEmpty,
      s"sessionizer diverged from q10 on ${diff.size} sessions, e.g. ${diff.take(3).mkString(", ")}")
  }

  // ---- stream-DRIVEN batch parity over the real testdata ----
  // The tests below go further than the unified-model (batch-mode) parity
  // tests above: they execute the transforms as REAL streams — MemoryStream
  // fed in chronological micro-batches, so the stateful paths (cross-batch
  // session state, watermark advancement) actually run — and assert the
  // accumulated sink equals the oracle-checked batch query on the same
  // input.

  /** The sf0.001 events as Event rows in global (ts, event_id) order,
    * chunked for micro-batch feeding. Global ts order makes each stream's
    * event time monotone, so nothing is ever late against its own
    * watermark — parity isolates the stateful mechanics, not late-drop
    * policy. */
  private def chronoChunks(nChunks: Int): Seq[Seq[Event]] = {
    import spark.implicits._
    val all = graft.analytics.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
      // full epoch-nanos ordering (the same reconstruction the stateful
      // transforms use), not getTime millis: the funnel/as-of paths compare
      // at ns strictness, so the chronological drive must too — two events
      // in the same millisecond must arrive in their ns order
      .sortBy(e => (ns(e.ts), e.event_id))
      .toSeq
    val size = math.max(1, (all.length + nChunks - 1) / nChunks)
    all.grouped(size).toSeq
  }

  /** q10's sessions minus each user's last one: the sessions a
    * close-on-gap sessionizer has emitted once every event is fed. */
  private def q10ClosedSessions(dir: String): Seq[(Long, Long, Double)] = {
    val batch = graft.analytics.Relational.q10Sessionize(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    val lastIdx = batch.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).max }
    batch.collect { case (u, idx, n, s) if idx != lastIdx(u) => (u, n, s) }.toSeq
  }

  test("stream-driven sessionizer over chronological micro-batches equals oracle-checked q10 sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chunks = chronoChunks(8)
    val input = MemoryStream[Event]
    val q = toMemorySink(sessionize(input.toDS()).toDF(), "sess_parity")
    try {
      chunks.foreach { ch => input.addData(ch); q.processAllAvailable() }
      val got = spark.table("sess_parity").as[SessionOut].collect()
        .map(r => (r.user_id, r.n_events, r.sum_value)).toSeq
      // sessions emit on CLOSE, so each user's final session stays open in
      // state (same contract as the batch-mode parity test above, now
      // exercised ACROSS micro-batch boundaries)
      val want = q10ClosedSessions("/root/testdata/sf0.001")
      def ms(xs: Seq[(Long, Long, Double)]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      val (g, w) = (ms(got), ms(want))
      assert(want.nonEmpty, "parity vacuous: q10 closed no sessions at this sf")
      val diff = (g.keySet ++ w.keySet).filter(k => g.get(k) != w.get(k))
      assert(diff.isEmpty,
        s"stream-driven sessionizer diverged from q10 on ${diff.size} sessions, e.g. ${diff.take(3).mkString(", ")}")
    } finally q.stop()
  }

  test("stream-driven forward as-of over chronological micro-batches equals the oracle-checked q37") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chunks = chronoChunks(6)
    val input = MemoryStream[Event]
    val q = toMemorySink(attributeForward(input.toDS()).toDF(), "asof_fwd_parity")
    try {
      chunks.foreach { ch => input.addData(ch); q.processAllAvailable() }
      val got = spark.table("asof_fwd_parity").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("next_purchase_id"), r.getAs[Long]("secs_to_purchase"))).toSet
      // a view attributes the moment its purchase arrives, so — unlike the
      // sessionizer — the stream emits the COMPLETE batch answer once all
      // events are fed (pending unconverted views are exactly the rows q37
      // also drops)
      val want = graft.analytics.Relational.q37AsofForward(spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getAs[Long]("view_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("next_purchase_id"), r.getAs[Long]("secs_to_purchase"))).toSet
      assert(want.nonEmpty, "parity vacuous: q37 found no conversions at this sf")
      assert(got == want,
        s"stream-driven forward as-of diverged from q37: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("stream-driven windowed counts equal the oracle-checked batch tumbling query once closed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chunks = chronoChunks(6)
    val input = MemoryStream[Event]
    val q = toMemorySink(windowedCounts(input.toDF()), "win_parity")
    try {
      chunks.foreach { ch => input.addData(ch); q.processAllAvailable() }
      // the sentinel's watermark closes every real window; its own window
      // stays open and must NOT appear in the sink
      input.addData(Event(900003, Timestamp.valueOf("2025-06-01 00:00:00"), 999, "flush", 0.0))
      q.processAllAvailable()
      val got = spark.table("win_parity")
        .withColumn("w_start", date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss"))
        .collect()
        .map(r => (r.getAs[String]("w_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
      assert(!got.exists(_._2 == "flush"), "the open sentinel window leaked into the append sink")
      val want = graft.analytics.Relational.q21Tumbling(spark, "/root/testdata/sf0.001").collect()
        .map(r => (r.getAs[String]("w_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
      assert(got == want,
        s"stream-driven windows diverged from q21: missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("stream-driven funnel over chronological micro-batches equals the oracle-checked q40") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val chunks = chronoChunks(5)
    val input = MemoryStream[Event]
    val q = toMemorySink(funnelStages(input.toDS()).toDF(), "funnel_parity")
    try {
      chunks.foreach { ch => input.addData(ch); q.processAllAvailable() }
      val got = spark.table("funnel_parity").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage")))
      // a stage fires the moment its first qualifying event arrives, so
      // after the full drive the sink carries the complete batch answer
      val gotCounts = got.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val want = graft.analytics.Relational.q40Funnel(spark, "/root/testdata/sf0.001").collect()
        .map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n_users")).toMap
      assert(want(1) > 0, "parity vacuous: q40 found no signups at this sf")
      assert((1 to 4).forall(k => gotCounts.getOrElse(k, 0L) == want(k)),
        s"stream funnel counts $gotCounts diverged from q40 $want")
      // each stage fires at most once per user, in order: a user holding
      // stage k also holds every earlier stage
      assert(got.distinct.length == got.length, "a stage fired twice for one user")
      val byUser = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      assert(byUser.forall { case (_, ks) => (1 to ks.max).forall(ks) },
        "a user skipped a funnel stage")
    } finally q.stop()
  }
}

/** The spec's Structured Streaming references. Each takes the `events`
  * shape `(event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,
  * value DOUBLE)` and works on a bounded or an unbounded input. */
object EventStreamSpec {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionState(nEvents: Long, sumValue: Double, lastSec: Long)
  case class SessionOut(user_id: Long, n_events: Long, sum_value: Double)
  case class PendingView(view_id: Long, ns: Long)
  case class AsofOut(view_id: Long, user_id: Long, next_purchase_id: Long, secs_to_purchase: Long)
  case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long], t4: Option[Long])
  case class FunnelOut(user_id: Long, stage: Int, event_type: String, event_id: Long)

  /** Epoch nanoseconds rebuilt from the Timestamp (getNanos carries the
    * full sub-second), so ordering and gap arithmetic match the batch
    * queries' `ts` (ns) down to the nanosecond. */
  def ns(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000) * 1000000000L + t.getNanos

  def toMemorySink(df: DataFrame, name: String): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()

  /** Watermarked 5-minute tumbling-window counts per event_type (q21). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Gap sessionization (30-minute inactivity, q10) with
    * flatMapGroupsWithState: emits a session when an event arrives more
    * than the gap after the previous one. `sec` is the rebuilt ns under
    * the same truncating division as q10's `ts div 1000000000`. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val events = batch.toSeq.sortBy(e => (ns(e.ts), e.event_id))
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          events.foreach { e =>
            val sec = ns(e.ts) / 1000000000L
            cur match {
              case Some(s) if sec - s.lastSec > 1800 =>
                // HALF_UP, matching Spark's round(col, 2) in q10 (math.rint
                // is HALF_EVEN — the two modes diverge on exact .xx5 sums)
                closed ::= SessionOut(userId, s.nEvents,
                  BigDecimal(s.sumValue).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
                cur = Some(SessionState(1, e.value, sec))
              case Some(s) =>
                cur = Some(SessionState(s.nEvents + 1, s.sumValue + e.value, sec))
              case None =>
                cur = Some(SessionState(1, e.value, sec))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }

  /** Forward as-of attribution (q37): each view attributes to the user's
    * NEXT purchase inside the 3-day horizon. State is a per-user
    * pending-view buffer: a purchase flushes it, any event lets views
    * older than the horizon fall out, and an event-time timeout clears
    * an idle user's buffer. */
  def attributeForward(events: Dataset[Event]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    val horizonNs = 259200L * 1000000000L
    events.withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[PendingView], AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[List[PendingView]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = batch.toSeq.sortBy(e => (ns(e.ts), e.event_id))
            var pending = state.getOption.getOrElse(Nil)
            val out = List.newBuilder[AsofOut]
            sorted.foreach { e =>
              val now = ns(e.ts)
              e.event_type match {
                case "view" =>
                  pending = (pending :+ PendingView(e.event_id, now))
                    .filter(v => now - v.ns <= horizonNs)
                case "purchase" =>
                  pending.foreach { v =>
                    val d = now - v.ns
                    if (d >= 0 && d <= horizonNs)
                      out += AsofOut(v.view_id, uid, e.event_id, d / 1000000000L)
                  }
                  pending = Nil
                case _ =>
                  pending = pending.filter(v => now - v.ns <= horizonNs)
              }
            }
            if (pending.isEmpty) state.remove()
            else {
              state.update(pending)
              val lastMs = sorted.lastOption.map(_.ts.getTime).getOrElse(0L)
              state.setTimeoutTimestamp(lastMs + horizonNs / 1000000L + 1)
            }
            out.result().iterator
          }
      }
  }

  /** Ordered funnel (q40): emits a row the moment a user FIRST reaches
    * each stage of signup → view → click → purchase, a stage counting
    * only strictly after the previous one. State is four optional
    * epoch-nanos per user and is kept after completion, so a later
    * signup cannot re-open stage 1. */
  def funnelStages(events: Dataset[Event]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val stageOf = Map("signup" -> 1, "view" -> 2, "click" -> 3, "purchase" -> 4)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = batch.toSeq.sortBy(e => (ns(e.ts), e.event_id))
          var s = state.getOption.getOrElse(FunnelState(None, None, None, None))
          val out = List.newBuilder[FunnelOut]
          sorted.foreach { e =>
            stageOf.get(e.event_type).foreach { k =>
              val now = ns(e.ts)
              // stage 1 is unconstrained (every real ns > MinValue)
              val prev = k match {
                case 1 => Some(Long.MinValue)
                case 2 => s.t1
                case 3 => s.t2
                case _ => s.t3
              }
              val unreached = (k match {
                case 1 => s.t1; case 2 => s.t2; case 3 => s.t3; case _ => s.t4
              }).isEmpty
              if (unreached && prev.exists(now > _)) {
                s = k match {
                  case 1 => s.copy(t1 = Some(now))
                  case 2 => s.copy(t2 = Some(now))
                  case 3 => s.copy(t3 = Some(now))
                  case _ => s.copy(t4 = Some(now))
                }
                out += FunnelOut(uid, k, e.event_type, e.event_id)
              }
            }
          }
          state.update(s)
          out.result().iterator
      }
  }
}
