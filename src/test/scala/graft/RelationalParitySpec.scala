package graft

import graft.analytics.{Relational, Tables}

/** Independent-reimplementation parity for the round-12 relational
  * operators. The forward as-of (q37) is checked against the naive
  * per-view "earliest strictly-later purchase" scan it replaces —
  * including the (ts, event_id) tie order and the 3-day horizon; the
  * naive scan is only feasible at sf0.001 (it is the O(n²) shape the
  * window avoids), which is exactly what makes it a usable oracle here.
  * The gap sessionization (q10) is checked against a per-user gap scan.
  * The fixed-point PageRank (q38) is checked against a no-Spark
  * adjacency-map reimplementation of the same integer arithmetic on a
  * planted graph with hand-checkable structure. */
class RelationalParitySpec extends SparkSpec {

  test("forward as-of equals the brute-force earliest-later-purchase scan, horizon included") {
    val dir = "/root/testdata/sf0.001"
    val horizonNs = 259200L * 1000000000L
    val got = Relational.q37AsofForward(spark, dir).collect().map(r =>
      (r.getAs[Long]("view_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("next_purchase_id"), r.getAs[Long]("secs_to_purchase")))
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts").collect().map(r =>
      (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts")))
    val want = ev.groupBy(_._2).toSeq.flatMap { case (uid, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._1)) // the window's (ts, event_id) order
      ordered.zipWithIndex.flatMap {
        case ((vid, _, "view", vts), i) =>
          ordered.drop(i + 1).find(_._3 == "purchase").collect {
            case (pid, _, _, pts) if pts - vts <= horizonNs =>
              (vid, uid, pid, (pts - vts) / 1000000000L)
          }
        case _ => None
      }
    }.sortBy(_._1)
    assert(got.nonEmpty, "sf0.001 must contain converted views")
    assert(got.toSeq == want, "window formulation diverges from the naive scan")
    // horizon is a filter, not a re-attribution: every emitted conversion
    // is within bounds and non-negative
    assert(got.forall(r => r._4 >= 0 && r._4 <= 259200L))
  }

  test("gap sessionization equals a per-user inactivity-gap scan") {
    val dir = "/root/testdata/sf0.001"
    val got = Relational.q10Sessionize(spark, dir).collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "value").collect().map(r =>
      (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("ts"), r.getAs[Double]("value")))
    // the semantics under test as the naive scan: in (ts, event_id) order,
    // a session closes when the next event's second (ts is positive
    // epoch-nanos, so Scala / agrees with SQL div) is more than 1800 later
    val want = ev.groupBy(_._2).toSeq.flatMap { case (uid, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._1))
      val secs = ordered.map(_._3 / 1000000000L)
      val idx = secs.indices.scanLeft(0L) { (i, j) =>
        if (j == 0 || secs(j) - secs(j - 1) > 1800) i + 1 else i
      }.tail
      ordered.zip(idx).groupBy(_._2).toSeq.map { case (i, rs) =>
        (uid, i, rs.size.toLong, rs.map(_._1._4).sum)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == want.map(t => (t._1, t._2, t._3)),
      "session boundaries diverge from the naive gap scan")
    // sums are rounded to cents; summation order may move the last ulp
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) <= 0.0101, s"session sum drifted: $g vs $w")
    }
    assert(got.exists(_._2 > 1L), "sf0.001 must contain a user with a closed session")
  }

  test("fixed-point PageRank equals an independent in-memory reimplementation on a planted graph") {
    import spark.implicits._
    // planted purchase graph: customer 1 buys parts {10, 11}, customer 2
    // buys {10}, customer 3 buys {11, 12} twice (multiplicity must not
    // matter — the edge set is DISTINCT pairs)
    val li = Seq((100L, 10L), (100L, 11L), (200L, 10L), (300L, 11L), (300L, 12L), (301L, 11L), (301L, 12L))
      .toDF("l_orderkey", "l_partkey")
    val os = Seq((100L, 1L), (200L, 2L), (300L, 3L), (301L, 3L)).toDF("o_orderkey", "o_custkey")
    val d = java.nio.file.Files.createTempDirectory("pagerank").toString
    li.write.parquet(s"$d/lineitem.parquet")
    os.write.parquet(s"$d/orders.parquet")
    val got = graft.analytics.Relational.q38Pagerank(spark, d).collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_id"), r.getAs[Long]("pr")))
    // independent reimplementation: adjacency maps + the same integer
    // floor arithmetic, no Spark
    val pairs = Set((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L))
    val edges = pairs.toSeq.flatMap { case (c, p) => Seq((c * 2, p * 2 + 1), (p * 2 + 1, c * 2)) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var pr = deg.keys.map(_ -> 1000000L).toMap
    (1 to 3).foreach { _ =>
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = contrib.map { case (n, c) => n -> (150000L + 85L * c / 100L) }
    }
    val want = pr.toSeq.map { case (n, r) =>
      (if (n % 2 == 0) "customer" else "part", n / 2, r)
    }.sortBy(t => (-t._3, t._1, t._2))
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    // sanity: the doubly-connected part 11 outranks the leaf part 12
    val rank = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(rank(("part", 11L)) > rank(("part", 12L)))
    // the data-aware hint's SHUFFLE path (rank table past broadcast
    // scale — the sf10 regime) must produce the identical ranking; the
    // cap rides a call parameter, not shared mutable state, so this
    // cannot race a concurrent q38 call in the same JVM
    val shuffled = graft.analytics.Relational
      .q38Pagerank(spark, d, broadcastNodeCap = 0L).collect()
      .map(r => (r.getAs[String]("node_type"), r.getAs[Long]("node_id"), r.getAs[Long]("pr")))
    assert(shuffled.toSeq == want, s"shuffle-path PageRank diverged: ${shuffled.toSeq}")
  }

  test("weekly cohort retention equals an in-memory recompute and anchors offset 0 at 1.0") {
    val dir = "/root/testdata/sf0.001"
    val got = Relational.q39Retention(spark, dir).collect().map(r =>
      (r.getAs[Long]("cohort_week"), r.getAs[Long]("week_offset"),
        r.getAs[Long]("n_users"), r.getAs[Double]("retention")))
    // independent recompute over plain collections: distinct (user, week)
    // with the SAME integer floor (ts is positive epoch-nanos, so Scala /
    // agrees with SQL div), per-user min week, grid count, single division
    val uw = Tables.events(spark, dir).select("user_id", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts") / 604800000000000L))
      .distinct
    val cohort = uw.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val grid = uw.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .map { case ((cw, off), vs) => (cw, off, vs.size.toLong) }.toSeq
    val size0 = grid.filter(_._2 == 0L).map(g => g._1 -> g._3).toMap
    val want = grid.map { case (cw, off, n) => (cw, off, n, n.toDouble / size0(cw)) }
      .sortBy(t => (t._1, t._2))
    assert(got.nonEmpty, "sf0.001 must produce a retention grid")
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    // invariants: a cohort is fully retained in its own week, and a later
    // active-user set is a subset of the cohort
    assert(got.filter(_._2 == 0L).forall(_._4 == 1.0))
    assert(got.forall(_._4 <= 1.0))
  }

  test("ordered funnel equals a per-user state-machine scan and stage counts are monotone") {
    val dir = "/root/testdata/sf0.001"
    val got = Relational.q40Funnel(spark, dir).collect().map(r =>
      (r.getAs[Int]("stage"), r.getAs[String]("event_type"), r.getAs[Long]("n_users"),
        Option(r.getAs[java.lang.Double]("conversion")).map(_.doubleValue())))
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"), r.getAs[Long]("ts")))
    val stages = Seq("signup", "view", "click", "purchase")
    // the semantics under test, written as the naive per-user scan: each
    // stage's timestamp is the min qualifying ts strictly after the
    // previous stage's (stage 1 unconstrained — every real ts > MinValue)
    val reached = ev.groupBy(_._1).values.toSeq.map { rows =>
      var prev: Option[Long] = Some(Long.MinValue)
      stages.map { st =>
        val cur = prev.flatMap(p =>
          rows.collect { case (_, `st`, ts) if ts > p => ts }.minOption)
        prev = cur
        cur
      }
    }
    val n0 = reached.size.toLong
    val ns = (0 until 4).map(i => reached.count(_(i).isDefined).toLong)
    val prevs = n0 +: ns.take(3)
    val want = stages.indices.map { i =>
      (i + 1, stages(i), ns(i),
        if (prevs(i) == 0L) None else Some(ns(i).toDouble / prevs(i)))
    }
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    // a later stage can never out-count an earlier one
    assert(ns.zip(prevs).forall { case (n, p) => n <= p })
    assert(ns.head > 0, "sf0.001 must contain signups")
  }
}
