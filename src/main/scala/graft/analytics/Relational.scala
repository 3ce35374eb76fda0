package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-facing relational analytics surface (SURVEY.md §7.2 step 5):
  * scan/filter/project, broadcast + shuffle joins, aggregations, windows,
  * rollup, set ops, sessionization — all Catalyst built-ins, each with a
  * DuckDB oracle in [[Oracles.relational]].
  *
  * Determinism rules (driver hash-compares against DuckDB):
  *  - every query ends in a total ORDER BY over a unique key set;
  *  - aggregate SUMS that can cross ~1e9 go through [[dsum]] (exact
  *    DECIMAL accumulation at the term's true scale, cast to double);
  *    small-magnitude sums keep `round(…, g)` at their decimal granularity
  *    g, where the double error provably stays under g/2. Everything
  *    derived per-row or from an exact sum is emitted as a RAW double —
  *    both engines compute the bit-identical IEEE value, and further
  *    rounding would be LESS safe:
  *    Spark rounds via exact BigDecimal while DuckDB rounds via a float
  *    multiply, and the two disagree on terminating decimals like sum/8
  *    that land exactly on a half-boundary;
  *  - timestamps are projected as formatted strings or dates (the `events`
  *    table is ns-precision parquet, which DuckDB reads as TIMESTAMP_NS —
  *    strings sidestep the type mismatch).
  *
  * Scale notes per query are inline; small dimension tables are explicitly
  * `broadcast(...)`-hinted so the plan stays shuffle-free where possible.
  */
object Relational {

  /** EXACT money sum: accumulate in DECIMAL, return DOUBLE. Double
    * summation order is plan-dependent (partial aggregation, AQE splits,
    * shuffle partitioning), and once a sum passes ~1e10 the accumulated
    * ulp error exceeds any rounding granularity — the sf1 (6M-row)
    * rehearsal measured ±0.01 vs DuckDB on q01/q05/q28, past the 2dp
    * boundary. Casting each term to DECIMAL(38,6) recovers its exact
    * decimal value (all money columns are ≤6dp products of 2dp factors;
    * the per-row double is within 1e-12 of it), and decimal addition is
    * associative, so ANY partitioning yields identical bits; the oracle
    * SQL mirrors the same cast chain. This is also the at-scale answer:
    * a 100 TB aggregate that changes with the partition count is not
    * reproducible. Used on every sum whose magnitude can cross ~1e9;
    * small-magnitude sums (quantity ≤50/row, 2dp discounts) keep the
    * plain double path, where the rounding granularity provably absorbs
    * the error.
    *
    * `scale` must be the term's TRUE decimal scale (2dp money, 4dp/6dp
    * for products of 2dp factors) so the accumulation is exact, and the
    * OUTPUT is quantized to 2dp (money cents) IN DECIMAL before the one
    * double cast: a 1e10+ sum at 6dp needs 17 significant digits — beyond
    * double — and even the decimal→double cast then differs per engine
    * (DuckDB routes through a hugeint divide, two roundings; observed
    * 1-ulp disagreement on sf1 q01 sum_charge). At 2dp the value ×100
    * stays under 2^53, so decimal→double is EXACT everywhere. There is
    * deliberately no round(double, n) anywhere on the path. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, scale)))
      .cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double")

  /** TPC-H Q1 shape: single scan, map-side partial aggregation, tiny result.
    * At 100 TB this is the ideal Spark plan already: predicate + column
    * pruning reach the parquet scan; the groupBy key cardinality (≤ 6) makes
    * the shuffle negligible after partial aggregation. */
  def q01LineitemAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= 45)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        // money sums via dsum: exact decimal accumulation, order-independent
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        // averages derived from the exact sum: both engines divide the SAME
        // double, so the final rounding can't land on opposite sides of a
        // half-boundary (sum/n is often a terminating decimal ending in 5
        // when n has only 2s and 5s)
        (round(sum(col("l_quantity")), 2) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        (round(sum(col("l_discount")), 2) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Filter + projection + global top-k. Filters push to the parquet scan;
    * top-k is TakeOrderedAndProject (no full sort materialization). */
  def q02FilterTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_discount").between(0.02, 0.06) && col("l_quantity") < 25)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_quantity"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** TPC-H Q3 shape: fact-fact shuffle join (lineitem ⋈ orders) with the
    * customer side reduced first. orders/customer co-partition on the join
    * keys; AQE picks broadcast for the reduced customer side at small SF. */
  def q03JoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust.filter(col("c_mktsegment") === "BUILDING"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      // dsum, not round(sum(double)): the zipfian rehearsal put ~290k
      // lineitems under ONE hot orderkey — a 1.4e10 revenue group where
      // double-sum order-dependence exceeds the rounding granularity
      // (observed: spark ...7986 vs duck ...7984 at skewed sf1)
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Star join with explicitly broadcast dimensions — no shuffle on the fact
    * side at all (the only exchange is the final small aggregation). */
  def q04BroadcastStar(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")))
    val supp = broadcast(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_nationkey"))
      // sum_qty: quantities are integers, the double sum is exact at any N.
      // sum_price: crosses 1e9 per group once a zipfian part key fattens one
      // brand — same class as q03's observed divergence, so dsum.
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(col("p_brand"), col("s_nationkey"))
  }

  /** TPC-H Q5 shape: 5-way join through region→nation→customer→orders→
    * lineitem. All dims broadcast; the single fact shuffle is the groupBy. */
  def q05RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(spark, dir))
    val nation = broadcast(Tables.nation(spark, dir))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Left-semi join: orders having at least one heavy lineitem. */
  def q06SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val heavy = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45).select(col("l_orderkey"))
    Tables.orders(spark, dir)
      .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 2).as("sum_total"))
      .orderBy(col("o_orderpriority"))
  }

  /** Left-anti join: customers with no high-value orders. */
  def q07AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 250000).select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Window top-N per group: two best orders per customer. */
  def q08WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Running aggregation window over the events stream table.
    *
    * NOTE on `events.ts`: [[Tables.events]] normalizes `ts` to an
    * epoch-nanos LongType regardless of the physical parquet layout
    * (INT64 TIMESTAMP(NANOS) or TIMESTAMP(MICROS) — the driver has shipped
    * both). DuckDB oracles bridge via `epoch_ns(ts)`, which is
    * UTC-anchored exactly like the normalization. */
  def q09WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("running_value", round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"), col("event_type"), col("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Gap-based sessionization (30-minute inactivity closes a session):
    * lag → boundary flag → prefix-sum session index → per-session rollup.
    * One shuffle on user_id serves both window passes and the final agg.
    * `ts` is epoch-nanos long (see q09 note); seconds = ts div 1e9. */
  def q10Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val secs = expr("ts div 1000000000")
    val ev = Tables.events(spark, dir)
      .withColumn("s", secs)
      .withColumn("prev_s", lag(col("s"), 1).over(byUser))
      .withColumn("is_new", when(col("prev_s").isNull || col("s") - col("prev_s") > 1800, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        expr("date_format(timestamp_micros(min(ts) div 1000), 'yyyy-MM-dd HH:mm:ss')").as("sess_start"),
        expr("date_format(timestamp_micros(max(ts) div 1000), 'yyyy-MM-dd HH:mm:ss')").as("sess_end"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** ROLLUP hierarchy aggregation over region→nation customer balances. */
  def q11Rollup(spark: SparkSession, dir: String): DataFrame = {
    val nation = broadcast(Tables.nation(spark, dir))
    val region = broadcast(Tables.region(spark, dir))
    Tables.customer(spark, dir)
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      // the (all) rollup level sums EVERY customer balance — 1.5e9 at sf1
      // and growing with SF, so the money sum takes the dsum path
      .agg(dsum(col("c_acctbal"), 2).as("sum_bal"), count(lit(1)).as("n_cust"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("sum_bal"), col("n_cust"))
      .orderBy(col("region"), col("nation"))
  }

  /** Set operations: INTERSECT and EXCEPT between customer key sets. */
  def q12SetOps(spark: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val active = Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey"))
    val both = building.intersect(active).withColumn("tag", lit("building_active"))
    val dormant = building.except(active).withColumn("tag", lit("building_dormant"))
    both.unionByName(dormant).orderBy(col("tag"), col("c_custkey"))
  }

  /** Conditional aggregation (CASE WHEN inside aggregates). */
  def q13ConditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
        dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(0.0), 2).as("sum_f"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("o_orderpriority"))

  /** Exact distinct aggregation (count distinct forces an expand+shuffle —
    * at scale prefer approx_count_distinct; exact kept for oracle parity). */
  def q14DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderstatus")).as("n_status"))
      .orderBy(col("o_orderpriority"))

  /** UNION ALL across differently-sourced aggregates. */
  def q15UnionYears(spark: SparkSession, dir: String): DataFrame = {
    val ship = Tables.lineitem(spark, dir)
      .groupBy(year(col("l_shipdate")).as("yr")).agg(count(lit(1)).as("n"))
      .withColumn("src", lit("ship"))
    val ord = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr")).agg(count(lit(1)).as("n"))
      .withColumn("src", lit("order"))
    ship.unionByName(ord).select(col("src"), col("yr"), col("n")).orderBy(col("src"), col("yr"))
  }

  /** Window-relative filter: parts priced >5% above their brand average. */
  def q16AboveBrandAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
    // brand_avg derived from the granularity-rounded sum (p_retailprice is
    // 1dp, so round(sum, 2) is the exact decimal) — both engines then divide
    // the same double, making the filter and output deterministic
    Tables.part(spark, dir)
      .withColumn("brand_avg", round(sum(col("p_retailprice")).over(w), 2) / count(lit(1)).over(w))
      .filter(col("p_retailprice") > col("brand_avg") * 1.05)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        col("brand_avg"))
      .orderBy(col("p_partkey"))
  }

  /** Hourly behavioral profile of the events stream (`ts` epoch-nanos long,
    * see q09 note). */
  def q17EventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("hour(timestamp_micros(ts div 1000))").as("hr"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("value")), 2) / count(lit(1))).as("avg_value"))
      .orderBy(col("event_type"), col("hr"))

  /** Skew-resilient two-phase aggregation (salting demo): pre-aggregate on a
    * salted key, then merge partials — same result as a direct groupBy, but
    * a hot l_returnflag key can no longer pin a single reducer at 100 TB.
    * The oracle is the plain one-phase SQL aggregate. */
  def q18SaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val salted = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_quantity")).as("partial_qty"), count(lit(1)).as("partial_n"))
    salted.groupBy(col("l_returnflag"))
      .agg(round(sum(col("partial_qty")), 2).as("sum_qty"), sum(col("partial_n")).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** The reference's whole pipeline shape re-cast at scale: per-row
    * normalize/project into the canonical transaction record, then a global
    * chronological sort (range-partitioned shuffle — the cgtcalc pipeline's
    * only unavoidable shuffle; SURVEY.md §3 trace). Orders stand in for
    * broker rows: sign-of-status → kind (the Fidelity rule), derived
    * amounts, dd/MM/yyyy rendering. All arithmetic is per-row → bit-exact
    * across engines. */
  def cgtNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", "SELL").otherwise("BUY").as("kind"),
        date_format(col("o_orderdate"), "dd/MM/yyyy").as("date"),
        concat(lit("ORD"), pmod(col("o_custkey"), lit(50))).as("asset"),
        (col("o_totalprice") / 1000.0).as("amount"),
        lit(1000.0).as("price"),
        (col("o_totalprice") * 0.001).as("expenses"))
      .orderBy(to_date(col("date"), "dd/MM/yyyy"), col("o_orderkey"))

  /** Formatted cgtcalc output lines at scale, through the codegen'd
    * `js_num` Catalyst expression — no SQL-expressible oracle (JS number
    * rendering is engine-specific), so the driver records a rows-only
    * check; byte-level parity is pinned by the golden specs instead. */
  def cgtLines(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.JsNumber.jsNum
    cgtNormalize(spark, dir)
      .select(col("o_orderkey"), concat_ws(" ",
        col("kind"), col("date"), col("asset"),
        jsNum(col("amount")), jsNum(col("price")), jsNum(col("expenses"))).as("line"))
  }

  /** Deterministic hash sampling (portable md5 bucket — the scalable
    * alternative to rand() sampling): keeps rows whose key digest starts
    * with '0' (≈1/16), then aggregates. */
  def q19HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(substring(md5(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string"))), 1, 1) === "0")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))

  /** Approximate distinct counting (HyperLogLog++): the 100 TB path where
    * q14's exact expand+shuffle is not viable. Raw sketch estimates are
    * engine-specific, so the oracle-checked output carries (a) the exact
    * counts, which DuckDB recomputes and hash-matches, and (b) a bounded-
    * error boolean per sketch — `|approx − exact| / exact < 0.06` (rsd 0.02
    * → 3σ) — which the oracle asserts as literal TRUE. A drifting or broken
    * sketch flips the boolean and fails the hash match, so the HLL estimate
    * is genuinely verified without requiring cross-engine sketch equality.
    * (The exact countDistinct here exists FOR the verification; the 100 TB
    * production path is the approx aggregate alone.) */
  def q20ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"))
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        (abs(col("ao") - col("exact_orders")) / col("exact_orders") < 0.06).as("orders_in_bounds"),
        (abs(col("ap") - col("exact_parts")) / col("exact_parts") < 0.06).as("parts_in_bounds"))
      .orderBy(col("l_returnflag"))

  /** Tumbling-window aggregation over the events table with the built-in
    * `window()` generator (epoch-aligned 5-minute buckets). */
  def q21Tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(expr("timestamp_micros(ts div 1000)"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))

  /** CUBE aggregation: all grouping-set combinations over two dimensions. */
  def q22Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_total"))
      .select(coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("n"), col("sum_total"))
      .orderBy(col("priority"), col("status"))

  /** AS-OF join (composed, no custom operator needed): each purchase event
    * is attributed to the user's most recent strictly-earlier view event.
    * Spark-first shape: ONE window pass over the event stream (last(...,
    * ignoreNulls) with a (unbounded, -1) frame) instead of a per-row
    * point-in-time subquery — a single shuffle on user_id, linear in the
    * stream, which is the scalable as-of pattern (the naive formulation is
    * an O(n²) range self-join). Ordering ties broken by event_id. `ts` is
    * epoch-nanos long (see q09 note). */
  def q23AsofAttr(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("last_view_id",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_view_ts",
        last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr("date_format(timestamp_micros(ts div 1000), 'yyyy-MM-dd HH:mm:ss')").as("purchase_time"),
        col("last_view_id"),
        expr("(ts - last_view_ts) div 1000000000").as("secs_since_view"))
      .orderBy(col("purchase_id"))
  }

  /** FORWARD as-of join — [[q23AsofAttr]]'s mirror, answering the other
    * attribution question: for each view, the user's NEXT purchase and the
    * time to convert, kept only when conversion lands inside a 3-day
    * horizon. Same scalable shape as q23 — ONE window pass over a
    * DESCENDING (unbounded-preceding, -1) GROWING frame with
    * last(..., ignoreNulls) (see the body comment for why the natural
    * forward-looking frame is O(rows²)), a single shuffle on user_id,
    * linear in the stream — where the naive formulation is a per-view
    * "min ts > my ts" range self-join (O(n²) and un-broadcastable once
    * either side is big). The horizon is a
    * post-window filter, NOT part of the join: the window already returns
    * the nearest candidate, so the bound prunes rows without changing
    * which purchase would attribute. Ties broken by event_id; `ts` is
    * epoch-nanos long (see q09 note). */
  def q37AsofForward(spark: SparkSession, dir: String): DataFrame = {
    // "next purchase after this row" is the natural (1, unboundedFollowing)
    // SHRINKING frame — which Spark's UnboundedFollowingWindowFunctionFrame
    // recomputes FROM SCRATCH per row (aggregates cannot un-add rows):
    // O(rows²) per partition, measured 302 s at sf1z where the zipf-hot
    // user's partition holds a large share of all events (1.8 s at uniform
    // sf1 — the blowup is pure skew). Reversing the sort turns it into the
    // GROWING frame (unboundedPreceding, -1), which WindowExec evaluates
    // incrementally in O(rows): `last` non-null purchase among the
    // descending-order rows BEFORE this one IS the ascending-order first
    // purchase after it. Same rows, 170x cheaper under skew.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("next_purchase_id",
        last(when(col("event_type") === "purchase", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("next_purchase_ts",
        last(when(col("event_type") === "purchase", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "view" && col("next_purchase_id").isNotNull &&
        col("next_purchase_ts") - col("ts") <= expr("CAST(259200 AS BIGINT) * 1000000000"))
      .select(col("event_id").as("view_id"), col("user_id"),
        expr("date_format(timestamp_micros(ts div 1000), 'yyyy-MM-dd HH:mm:ss')").as("view_time"),
        col("next_purchase_id"),
        expr("(next_purchase_ts - ts) div 1000000000").as("secs_to_purchase"))
      .orderBy(col("view_id"))
  }

  /** FIXED-POINT integer PageRank (3 unrolled power iterations, damping
    * 0.85) over the bipartite customer–part purchase graph — the
    * iterative-NUMERIC fixpoint family next to dd_cluster's discrete
    * connected components. Two design decisions carry the scale story:
    *
    * 1. Ranks live in integer MICRO-UNITS and every operation floors
    *    (`div`), because float PageRank is not cross-engine (or even
    *    cross-partitioning) reproducible — the per-node contribution sum
    *    re-associates under Spark's partial aggregation, and IEEE
    *    addition is not associative. Integer sums ARE; the oracle
    *    hash-matches exactly, and at 100 TB the same property means the
    *    result cannot drift when the cluster re-partitions. (This is the
    *    dsum argument applied to an iterative algorithm.)
    * 2. The iteration count is FIXED and unrolled into one declarative
    *    plan: each round is edges ⋈ ranks (shuffle on the node key) +
    *    one map-side-combinable sum — the shape that scales to any edge
    *    count. No driver-side convergence loop over collected data; a
    *    production variant raises the round count, checkpointing between
    *    rounds like ddCluster.
    *
    * Node encoding packs both partitions into one BIGINT key space
    * (customer 2k, part 2k+1) so ranks stay a single long-keyed table.
    * Every node has out-degree >= 1 by construction (the graph is the
    * symmetrized purchase relation), so no dangling-mass correction is
    * needed. */
  def q38Pagerank(spark: SparkSession, dir: String,
      broadcastNodeCap: Long = PagerankBroadcastNodeCap): DataFrame = {
    val Scale = 1000000L
    val e = pagerankEdges(spark, dir)
    var ranks = e.select(col("src")).distinct()
      .select(col("src").as("node"), lit(Scale).as("pr"))
    // BROADCAST the rank table while it genuinely fits: it is |nodes|
    // rows (8+8 bytes each) — tiny next to the edge table at the bench
    // SFs — so each iteration is a map-side join over the checkpointed
    // edges plus ONE map-side-combinable aggregation, and the edge table
    // is never re-shuffled. Past ~1M nodes the forced hint is the scale
    // bug (the sf10 probe measured it: a ~3.5M-row broadcast next to the
    // cached edges exhausts executor memory), so the hint is DATA-AWARE:
    // large graphs fall back to shuffling both sides on the node key —
    // the standard distributed PageRank round. The gate's node count is
    // memoized on the spine like the edge table it counts: every q38 call
    // used to re-pay the distinct+count shuffle for the same constant.
    val fitsBroadcast = pagerankNodeCount(spark, dir) <= broadcastNodeCap
    for (_ <- 1 to 3) {
      ranks = e.join(if (fitsBroadcast) broadcast(ranks) else ranks,
          col("src") === col("node"))
        .select(col("dst"), expr("pr div deg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("c"))
        .select(col("dst").as("node"),
          (lit(15L * Scale / 100) + expr("85 * c div 100")).as("pr"))
    }
    ranks
      .select(expr("CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END").as("node_type"),
        expr("node div 2").as("node_id"), col("pr"))
      .orderBy(col("pr").desc, col("node_type"), col("node_id"))
      .limit(100)
  }

  /** Broadcast cap for [[q38Pagerank]]'s rank table (~50 B/row hashed →
    * ~50 MB at the cap; the sf10 probe's 3.5M-node graph OOMed the forced
    * hint). Immutable — RelationalParitySpec forces the shuffle path by
    * passing `broadcastNodeCap = 0` instead of mutating shared object
    * state, so concurrent suites in one JVM can never observe a
    * temporarily-zeroed cap (the round-16 ADVICE race). */
  private[analytics] val PagerankBroadcastNodeCap = 1000000L

  /** Node count of the memoized pagerank graph — the q38 broadcast gate's
    * input, a property of the edge table and memoized with it. */
  private def pagerankNodeCount(spark: SparkSession, dir: String): Long =
    LlmOps.memo(spark, dir, "pagerank_nodes")(
      pagerankEdges(spark, dir).select(col("src")).distinct().count())

  /** The symmetrized purchase graph with per-source out-degrees,
    * (src, dst, deg) — checkpointed ONCE and memoized on the shared
    * fingerprint spine (a production PageRank materializes its edge
    * table; the unrolled plan reads it three times, and exchange reuse
    * does not reliably dedupe the subtree under AQE — measured 3×
    * recompute without this). Prewarmed as explicitly-timed state. */
  private def pagerankEdges(spark: SparkSession, dir: String): DataFrame =
    LlmOps.memo(spark, dir, "pagerank_edges") {
      val pairs = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .join(Tables.orders(spark, dir).select(col("o_orderkey").as("ok"), col("o_custkey").as("ck")), "ok")
        .select((col("ck") * 2).as("cn"), (col("pk") * 2 + 1).as("pn"))
        .distinct()
      val edges = pairs.select(col("cn").as("src"), col("pn").as("dst"))
        .union(pairs.select(col("pn").as("src"), col("cn").as("dst")))
      val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      LlmOps.checkpointLeaf(spark, edges.join(outdeg, "src"))
    }

  /** WEEKLY COHORT RETENTION — the cohort-analysis shape over the events
    * stream: users are cohorted by the epoch WEEK of their first event,
    * and each later active week counts toward that cohort's retention
    * curve. All grid keys are integer floor divisions of the epoch-nanos
    * ts (week = ts div 604800e9), so the cohort/offset grid is
    * engine-exact, and the one retention ratio is a single IEEE division
    * of two integers — deterministic on both engines (the q17 avg_value
    * argument). Scale shape: the raw stream collapses FIRST to distinct
    * (user_id, week) — a two-long projection whose partial aggregation
    * absorbs the event volume map-side — so every later exchange is
    * bounded by users × active-weeks, never by events; the per-user
    * cohort week is an unordered window MIN over the SAME collapsed
    * table (one pass, ONE scan of the stream — a groupBy+self-join
    * formulation read the parquet twice), and the cohort-size window
    * runs over the tiny grid. */
  def q39Retention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
      .distinct()
    // rows are distinct (user, week), so count(*) IS distinct users
    val grid = uw
      .withColumn("cohort_week", min(col("wk")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val wc = Window.partitionBy(col("cohort_week"))
    grid
      // offset 0 always exists: the min week is its own cohort week
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_users"))).over(wc))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        (col("n_users").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** ORDERED FUNNEL (signup → view → click → purchase): each stage's
    * per-user timestamp is the first qualifying event STRICTLY AFTER the
    * previous stage's — the state-machine semantics a per-stage
    * formulation would write as four chained range self-joins (O(n²) per
    * stage at scale). Spark-first shape: four chained conditional-min
    * Window expressions over ONE user_id partitioning — Catalyst plans
    * the exchange/sort once and stacks the Window operators on top, and
    * the per-user collapse is a groupBy on the SAME key, satisfied by
    * the existing distribution — so the whole funnel costs a single
    * shuffle of the stream (pinned by PlanGuardSpec) plus the final
    * 1-row global aggregate, unpivoted by a 4-row stack. Stage counts
    * are integers; conversion is one int/int IEEE division (NULL when
    * the previous stage is empty), so the output is engine-exact. */
  def q40Funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    def stageMin(tpe: String, after: Column): Column =
      min(when(col("event_type") === tpe && col("ts") > after, col("ts"))).over(w)
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1", min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t2", stageMin("view", col("t1")))
      .withColumn("t3", stageMin("click", col("t2")))
      .withColumn("t4", stageMin("purchase", col("t3")))
    // t1..t4 are per-user constants; max() collapses (and keeps NULL for
    // users who never reach the stage, which count() then skips)
    val perUser = staged.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"), max(col("t4")).as("t4"))
    perUser.agg(
        count(lit(1)).as("n0"), count(col("t1")).as("n1"), count(col("t2")).as("n2"),
        count(col("t3")).as("n3"), count(col("t4")).as("n4"))
      .selectExpr("stack(4, 1, 'signup', n1, n0, 2, 'view', n2, n1, " +
        "3, 'click', n3, n2, 4, 'purchase', n4, n3) as (stage, event_type, n_users, n_prev)")
      .select(col("stage"), col("event_type"), col("n_users"),
        when(col("n_prev") === 0, lit(null))
          .otherwise(col("n_users").cast("double") / col("n_prev")).as("conversion"))
      .orderBy(col("stage"))
  }

  /** PIVOT: long→wide reshape with an explicit value list (no extra pass to
    * discover values, and the plan is a plain conditional aggregation —
    * exactly what the oracle spells with FILTER clauses). */
  def q24Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
      .orderBy(col("l_returnflag"))

  /** Exact discrete percentiles (p50/p90) per group via deterministic row
    * selection: the value at row ceil(p*n) of the (value, key)-sorted group
    * — no interpolation arithmetic, so cross-engine comparison is exact. At
    * 100 TB the same question is answered by approx_percentile (t-digest);
    * that sketch is engine-specific, so the oracle pins the exact variant.
    *
    * Round 21 (the r20 verdict's window audit): the original formulation
    * ranked EVERY order through a 5-key window — each o_orderpriority
    * partition is a corpus-scale single-task sort, the same scale cliff as
    * an unpartitioned window, just five of them. Replaced by the two-pass
    * cut-value selection (the txt_lm_score treatment, guide §2): a
    * value-quantized (priority, price-bucket) histogram + its cumulative
    * offsets locate which bucket holds each group's ceil(p·n) position,
    * only the ≤2 target buckets per group are ranked (bucket-partitioned
    * window over ~1/150th of the group), and the selected values ARE the
    * percentiles — row-identical output (the rank positions and the
    * (o_totalprice, o_orderkey) order are unchanged; quantization is
    * monotone in the sort key so bucket-local rank + offset equals the
    * group rank). */
  def q25Percentile(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val qb = floor(col("o_totalprice") / 4096.0).cast("long").as("qb")
    val census = base.groupBy(col("o_orderpriority"), qb)
      .agg(count(lit(1)).as("c"))
    val wOff = Window.partitionBy(col("o_orderpriority")).orderBy(col("qb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("o_orderpriority"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = census
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .withColumn("n", sum(col("c")).over(wTot))
    // each target row carries the group total n, so the final aggregate
    // reads n_orders off the join instead of re-executing the census
    val targets = offs
      .select(col("o_orderpriority"), col("qb"), col("off"), col("c"), col("n"),
        explode(array(
          struct(lit("p50").as("which"), expr("CAST(ceil(n * 0.5) AS BIGINT)").as("k")),
          struct(lit("p90").as("which"), expr("CAST(ceil(n * 0.9) AS BIGINT)").as("k")))).as("cut"))
      .filter(col("cut.k") > col("off") && col("cut.k") <= col("off") + col("c"))
      .select(col("o_orderpriority"), col("qb"), col("cut.which").as("which"),
        (col("cut.k") - col("off")).as("lrnk"), col("n"))
    val wLoc = Window.partitionBy(col("o_orderpriority"), col("qb"), col("which"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    // every group has a p50 target (n >= 1 -> ceil(n*0.5) >= 1), so the
    // inner join can never lose a priority group
    base.withColumn("qb", qb)
      .join(broadcast(targets), Seq("o_orderpriority", "qb"))
      .withColumn("r", row_number().over(wLoc))
      .filter(col("r") === col("lrnk"))
      .groupBy(col("o_orderpriority"))
      .agg(max(when(col("which") === "p50", col("o_totalprice"))).as("p50"),
        max(when(col("which") === "p90", col("o_totalprice"))).as("p90"),
        max(col("n")).as("n_orders"))
      .select(col("o_orderpriority"), col("p50"), col("p90"), col("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Correlated EXISTS / NOT EXISTS through the SQL surface: customers with
    * at least one very large order but no large FULFILLED one. Catalyst
    * rewrites both subqueries into left-semi/left-anti joins — same physical
    * shape as q06/q07, reached from SQL text over the registered views. */
  def q26ExistsSql(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F' AND o2.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Semi-structured column handling: `events.props` is a JSON string.
    * Parsed ONCE per row with a typed `from_json` (schema `k BIGINT` — a
    * declared schema, not schema inference, so the parse is a single-field
    * Jackson extraction inside codegen), then grouped on the extracted
    * value. At 100 TB the lesson is the same as for CSV: declare the schema,
    * never infer, and extract only the fields the query needs. */
  def q27Json(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", from_json(col("props"), "k BIGINT", Map.empty[String, String]).getField("k"))
      // `%` (not pmod): the DuckDB oracle's `%` keeps the dividend's sign, so
      // pmod would silently diverge from the oracle the moment a negative k
      // appears in the data
      .groupBy(col("event_type"), expr("k % 10").as("kb"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"), col("kb"))

  /** Skew-mitigating SALTED JOIN (the join twin of q18's salted agg): the
    * fact side keys on very-low-cardinality l_returnflag (3 values → 3
    * reducers own the whole table in a naive shuffle join). The dim side is
    * replicated 16x with an explicit salt, the fact side salts by
    * pmod(l_orderkey, 16), and the join keys on (returnflag, salt) — 48
    * evenly-loaded partitions instead of 3 hot ones. Result is identical to
    * the unsalted join, which is exactly what the oracle runs. (With AQE
    * skew-join splitting this is often automatic; explicit salting is the
    * portable form that also works mid-pipeline where AQE can't split.) */
  def q28SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    // flag_avg_disc from the granularity-rounded sum (l_discount is 2dp) so
    // both engines derive the same double; the discount multiply happens
    // AFTER the price aggregation, so every float op is on identical inputs
    val dim = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg((round(sum(col("l_discount")), 2) / count(lit(1))).as("flag_avg_disc"))
      .withColumn("salt", explode(expr("sequence(0, 15)")))
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("f_flag"), col("l_orderkey"), col("l_extendedprice"))
      .withColumn("f_salt", pmod(col("l_orderkey"), lit(16)).cast("int"))
    fact.join(dim, col("f_flag") === col("l_returnflag") && col("f_salt") === col("salt"))
      .groupBy(col("f_flag"), col("flag_avg_disc"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_price"))
      .select(col("f_flag"), col("n"),
        (col("sum_price") * (lit(1) - col("flag_avg_disc"))).as("sum_disc_price"))
      .orderBy(col("f_flag"))
  }

  /** RANGE-frame window (vs q09's ROWS frame): trailing 7-day order total
    * per customer — the frame is defined by VALUE distance on the ordering
    * key (epoch days), so gaps in the date sequence are handled correctly
    * where a rowsBetween frame would not be. One customer-key shuffle. */
  def q29WindowRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-6, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("d", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
      .withColumn("trail7_total", round(sum(col("o_totalprice")).over(w), 2))
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("trail7_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Explicit GROUPING SETS (vs q11 rollup / q22 cube): two independent
    * one-dimension aggregations in a single pass over orders, with
    * `grouping()` distinguishing "aggregated-away" from a genuine NULL —
    * the disambiguation rollup/cube outputs need at scale where dimension
    * columns can themselves be null. Reached through SQL text. */
  def q30GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(spark, dir)
    spark.sql(
      """SELECT
        |  CASE WHEN grouping(o_orderpriority) = 1 THEN '(by status)' ELSE o_orderpriority END AS priority,
        |  CASE WHEN grouping(o_orderstatus) = 1 THEN '(by priority)' ELSE o_orderstatus END AS status,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY priority, status""".stripMargin)
  }

  /** Approximate quantiles with a bounded-error self-check (q20's pattern,
    * for percentiles): per returnflag, the exact discrete p50/p90 of
    * l_extendedprice (q25's ceil-rank formulation — portable) next to
    * `percentile_approx` (a KLL-style mergeable sketch, accuracy 10000 ⇒
    * rank error ≤ 1e-4). The booleans assert the sketch value lies between
    * the exact p45–p55 (resp. p85–p95) values — a rank-space bound ~500×
    * wider than the sketch guarantees, so it can only trip on a real
    * defect. At 100 TB the sketch is the viable path: it merges map-side
    * and never globally sorts, where the exact rank needs a full per-group
    * sort. The oracle recomputes the exact side and pins the bounds TRUE. */
  def q31ApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    def exactAt(q: Double, name: String) =
      max(when(col("rk") === expr(s"CAST(ceil(n * $q) AS BIGINT)"), col("l_extendedprice"))).as(name)
    Tables.lineitem(spark, dir)
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("l_returnflag"))))
      .groupBy(col("l_returnflag"))
      .agg(exactAt(0.5, "p50"), exactAt(0.9, "p90"),
        exactAt(0.45, "p45"), exactAt(0.55, "p55"),
        exactAt(0.85, "p85"), exactAt(0.95, "p95"),
        percentile_approx(col("l_extendedprice"), array(lit(0.5), lit(0.9)), lit(10000)).as("ap"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("p50"), col("p90"), col("n_rows"),
        col("ap").getItem(0).between(col("p45"), col("p55")).as("p50_in_bounds"),
        col("ap").getItem(1).between(col("p85"), col("p95")).as("p90_in_bounds"))
      .orderBy(col("l_returnflag"))
  }

  /** Z-order (Morton) clustering key — the multi-dimensional data-layout
    * primitive: interleave the low 10 bits of customer key and order date
    * so range-partitioning by `zkey` co-locates rows close in BOTH
    * dimensions; parquet row-group min/max stats then prune scans filtered
    * on either one. The query buckets orders by zkey range and emits each
    * bucket's bounding box — the per-bucket dimension spans that make the
    * locality (and hence the skipping win) measurable. Pure integer
    * arithmetic, identical text in both engines modulo the int-division
    * operator. */
  def q32Zorder(spark: SparkSession, dir: String): DataFrame = {
    def zkey(divOp: String): String = {
      val terms = (0 until 10).flatMap { i =>
        Seq(s"((zx $divOp ${1L << i}) % 2) * CAST(${1L << (2 * i)} AS BIGINT)",
            s"((zy $divOp ${1L << i}) % 2) * CAST(${1L << (2 * i + 1)} AS BIGINT)")
      }
      terms.mkString("(", " + ", ")")
    }
    Tables.orders(spark, dir)
      .withColumn("zx", expr("CAST(o_custkey % 1024 AS BIGINT)"))
      .withColumn("zy", expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') % 1024 AS BIGINT)"))
      .withColumn("zkey", expr(zkey("div")))
      .withColumn("bucket", expr(s"zkey div ${(1L << 20) / 32}")) // 32 equal zkey ranges
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("zx")).as("min_x"), max(col("zx")).as("max_x"),
        min(col("zy")).as("min_y"), max(col("zy")).as("max_y"))
      .orderBy(col("bucket"))
  }

  /** Bloom-filter semi-join pruning — the runtime-filter pattern under
    * explicit control: build Spark's own bloom sketch over the keys of the
    * (reduced) build side, probe the fact side with `might_contain`, and
    * compare against the exact semi-join. At 100 TB this is how a fact
    * scan avoids shuffling rows that cannot join: the ~1 MB sketch
    * broadcasts to every task and filters AT THE SCAN, where the exact
    * semi-join would move the whole fact table. The emitted booleans pin
    * the sketch's contract — zero false negatives (bloom count >= exact
    * count per group) and a bounded false-positive overshoot — and the
    * oracle recomputes the exact side, pinning both TRUE. The sketch is a
    * scalar subquery (`Dataset.scalar`), so the build runs lazily inside
    * the returned plan — constructing the frame schedules no Spark job
    * (the capacity sizing reads parquet footers only). */
  def q33BloomPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.BloomBridge
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey"))
    // SIZE THE SKETCH FROM THE DATA: a fixed capacity saturates at scale —
    // the 20x rehearsal put ~1.2M build keys into the original 1M-item/1MB
    // filter and the false-positive rate honestly blew the 2% bound the
    // query asserts. The orders row count comes straight from the parquet
    // FOOTERS (Tables.rowCount — no Spark job), so constructing the frame
    // still schedules nothing. Capacity never shrinks below the original
    // constants; at small SF the SKETCH itself differs (more bits) but the
    // emitted rows are unchanged — the booleans it pins hold either way.
    val nOrders = Tables.rowCount(spark, dir, "orders")
    val expected = math.max(1000000L, nOrders)
    val bloom = bigOrders
      .agg(BloomBridge.bloomAgg(col("o_orderkey"), expected,
        math.max(8388608L, 10L * expected)).as("bf"))
      .scalar()
    val li = Tables.lineitem(spark, dir)
    val exact = li.join(broadcast(bigOrders), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_exact"))
    val bloomed = li.filter(BloomBridge.mightContain(bloom, col("l_orderkey")))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_bloom"))
    val total = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_total"))
    exact.join(bloomed, Seq("l_returnflag")).join(total, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"),
        (col("n_bloom") >= col("n_exact")).as("no_false_negatives"),
        ((col("n_bloom") - col("n_exact")) <= col("n_total") * 0.02).as("fp_bounded"))
      .orderBy(col("l_returnflag"))
  }

  /** AQE SKEW-JOIN demo — the native twin of [[q28SaltedJoin]]'s manual
    * salting: the identical skewed join (fact side keyed on 3-value
    * l_returnflag, so 3 reducers own the whole table in a naive shuffle
    * join) left UNSALTED, with Adaptive Query Execution's skew-join
    * splitting doing at runtime what q28 does by hand. Runs on a cloned
    * session (`newSession` shares the SparkContext, catalog and block
    * caches but has its OWN SQLConf), so the forced thresholds — required
    * because test-SF partitions sit far below the 256 MB production
    * default — scope to this one query and leak into nothing else. The
    * MERGE hint keeps the 3-row dim side out of broadcast (otherwise
    * there is no shuffle join to split); forceOptimizeSkewedJoin permits
    * the split even though the downstream aggregation then needs its own
    * re-shuffle. Result is identical to the unsalted join, which is
    * exactly what the oracle runs — same SQL as q28's. At production
    * scale this is the zero-code path (default thresholds, no hint); the
    * explicit q28 salt remains the portable form for mid-pipeline skew
    * AQE cannot split. */
  def q34SkewAqe(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // factor 0: a partition is skewed whenever it clears the byte threshold
    // (with 3 similar hot partitions the median IS a hot partition, so any
    // factor >= 1 could mask the skew the demo exists to split)
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "0.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    // the trailing ROUND-ROBIN repartition matters twice over:
    // OptimizeSkewedJoin only matches a sort-merge join whose children are
    // bare ENSURE_REQUIREMENTS shuffle stages — with the dim-side
    // HashAggregate directly under the join the rule never fires, and a
    // keyed repartition would itself feed the join (REPARTITION_BY_NUM
    // origin), which the rule skips equally. Round-robin forces the
    // planner to add its own join-key exchange on top.
    val dim = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg((round(sum(col("l_discount")), 2) / count(lit(1))).as("flag_avg_disc"))
      .repartition(8)
    // AQE splits a skewed partition at MAP-output granularity; the tiny
    // test-SF parquet is one mapper, which would leave nothing to split.
    // The orderkey repartition stands in for the many upstream tasks a
    // production-scale scan has (where this line disappears).
    val fact = Tables.lineitem(s, dir)
      .repartition(16, col("l_orderkey"))
      .select(col("l_returnflag").as("f_flag"), col("l_extendedprice"))
    fact.join(dim.hint("merge"), col("f_flag") === col("l_returnflag"))
      .groupBy(col("f_flag"), col("flag_avg_disc"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2).as("sum_price"))
      .select(col("f_flag"), col("n"),
        (col("sum_price") * (lit(1) - col("flag_avg_disc"))).as("sum_disc_price"))
      .orderBy(col("f_flag"))
  }

  /** BUCKETED co-located fact-fact JOIN on the driver path — the promotion
    * of BucketingSpec's zero-shuffle proof to the oracle-checked surface
    * (the q35 twin of the LLM side's dd_incremental_bucketed): orders and
    * lineitem are materialized ONCE as bucketed+sorted saved tables on the
    * join key, so the repeated orderkey join — the single most expensive
    * shuffle pair in any TPC-H-shaped workload — runs with NO exchange on
    * either side; the only shuffles left are the post-join aggregation and
    * final sort. At 100 TB this is the difference between re-shuffling
    * both fact tables on every join and paying the layout once at load
    * time (bucket count data-sized via [[factBuckets]]). The MERGE hint
    * pins the sort-merge strategy the bucket layout serves at test SF.
    * Result is identical to the plain parquet join, which the oracle
    * runs. */
  def q35BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ordersT, lineitemT) = bucketedFactTables(spark, dir)
    spark.table(lineitemT)
      .join(spark.table(ordersT).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** POINT-IN-INTERVAL (range) join via INTERVAL BUCKETING — the join
    * shape Spark has no native physical strategy for: a naive
    * `p.d BETWEEN i.start AND i.end` join plans a BroadcastNestedLoopJoin
    * (every probe against every interval — quadratic, and the first plan
    * a user writes). Each lineitem is "in transit" for [ship_d,
    * ship_d + 14 days]; a deterministic orders sample provides probe
    * dates; the result counts shipments in flight per probe date.
    *
    * The scale path EQUI-joins instead, expanding the SMALL side: a probe
    * date is inside [ship_d, ship_d + 14] iff ship_d lies in the probe's
    * 14-day LOOKBACK, which covers at most ceil(14/7) + 1 = 3 ISO-week
    * buckets — so each probe explodes to those ≤3 weeks while the fact
    * keeps exactly ONE bucket per row (its own ship week; no fanout of
    * the big side — an early version exploded the intervals instead and
    * paid 3× the fact volume for the same answer). The exact containment
    * predicate refines the bucket hit; each (interval, probe) pair meets
    * in exactly one bucket, so nothing is lost or duplicated. Work is
    * linear in |facts| + |matches|, the probe expansion broadcasts, and
    * any interval/probe volume a nested loop would choke on distributes
    * like an ordinary hash join. Bucket width ~ interval length bounds
    * the probe fanout; the oracle runs the NAIVE range join (DuckDB
    * plans range joins natively), so the hash-match proves the bucketing
    * exact. */
  def q36IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    // PRE-AGGREGATE the fact to interval granularity before the range
    // join: every lineitem shipped the same day contributes identically
    // to every probe, so the join needs only the ~|date span| daily rows
    // (count + quantity sum), not the facts. The match volume collapses
    // from |facts| x avg-probes-per-interval (84M rows at sf1 — measured
    // 30 s before this; 7 s with the join alone tuned) to |days| x <=14,
    // and the query becomes one O(N) scan-side aggregation plus a
    // negligible join — the shape that survives any fact volume. Summing
    // daily partials re-associates the double addition; the error
    // (~1e-9) sits far below the 2dp rounding granularity, the same
    // argument the plain quantity sums elsewhere rely on (see dsum).
    val daily = Tables.lineitem(spark, dir)
      .select(col("l_quantity"), col("l_shipdate").cast("date").as("ship_d"))
      .groupBy(col("ship_d"))
      .agg(count(lit(1)).as("n_d"), sum(col("l_quantity")).as("q_d"))
      .withColumn("wk", expr("CAST(date_trunc('WEEK', ship_d) AS DATE)"))
    val probes = Tables.orders(spark, dir).filter(expr("o_orderkey % 97 = 0"))
      .select(col("o_orderdate").cast("date").as("probe_d")).distinct()
      .withColumn("pwk", explode(expr(
        "sequence(CAST(date_trunc('WEEK', probe_d - interval 14 days) AS DATE), CAST(date_trunc('WEEK', probe_d) AS DATE), interval 7 days)")))
    daily.join(broadcast(probes),
        col("wk") === col("pwk") &&
        col("probe_d") >= col("ship_d") && col("probe_d") <= date_add(col("ship_d"), 14))
      .groupBy(col("probe_d"))
      .agg(sum(col("n_d")).as("n_in_transit"),
        round(sum(col("q_d")), 2).as("qty_in_transit"))
      .select(date_format(col("probe_d"), "yyyy-MM-dd").as("probe_date"),
        col("n_in_transit"), col("qty_in_transit"))
      .orderBy(col("probe_date"))
  }

  /** DATA-SIZED bucket count for the fact layout: next power of two above
    * maxRows/512Ki, floor 8 (the original constant — sf0.1 and below are
    * unchanged), cap 1024. The fixed 8 made the bucketed WRITE the
    * scale bottleneck — 8 writer tasks serialized the sf2 lineitem commit
    * at 35 s — because with one file per bucket, bucket count IS write
    * parallelism. Row count comes from parquet footers (no Spark job).
    * Both fact tables share one count-derived value: equal bucket counts
    * on both sides are what lets the join drop its exchanges. */
  private def factBuckets(spark: SparkSession, dir: String): Int = {
    val rows = math.max(Tables.rowCount(spark, dir, "orders"),
      Tables.rowCount(spark, dir, "lineitem"))
    var b = 8
    while (b < 1024 && b.toLong * 524288L < rows) b <<= 1
    b
  }

  /** Idempotently materialize orders/lineitem bucketed+sorted on the
    * orderkey ([[factBuckets]] buckets) through the shared
    * [[OpsKernels.bucketedStateTable]] lifecycle: dir-tagged names, stale
    * warehouse cleanup, and a rebuild when the dir's fingerprint moves. */
  private def bucketedFactTables(spark: SparkSession, dir: String): (String, String) = {
    val (tag, nb) = (Tables.dirTag(dir), factBuckets(spark, dir))
    (LlmOps.bucketedStateTable(spark, s"graft_orders_b_$tag", "o_orderkey", dir, nb)(
      Tables.orders(spark, dir)),
     LlmOps.bucketedStateTable(spark, s"graft_lineitem_b_$tag", "l_orderkey", dir, nb)(
      Tables.lineitem(spark, dir)))
  }

  /** One-time state build (bucketed fact tables), timed by Bench as an
    * explicit pre-stage — see LlmOps.stateBuilders for the rationale. */
  def stateBuilders(spark: SparkSession, dir: String): Seq[(String, () => Unit)] =
    Seq("bucketed_facts" -> (() => { bucketedFactTables(spark, dir); () }),
      // the node count is index state like the edge table itself — prewarm
      // it here so q38's broadcast gate is a memo hit, not a shuffle
      "pagerank_edges" -> (() => { pagerankNodeCount(spark, dir); () }))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q33_bloom_prune" -> q33BloomPrune _,
    "q34_skew_aqe" -> q34SkewAqe _,
    "q35_bucketed_join" -> q35BucketedJoin _,
    "q36_interval_join" -> q36IntervalJoin _,
    "q31_approx_quantile" -> q31ApproxQuantile _,
    "q32_zorder" -> q32Zorder _,
    "q30_grouping_sets" -> q30GroupingSets _,
    "q29_window_range" -> q29WindowRange _,
    "q28_salted_join" -> q28SaltedJoin _,
    "q27_json" -> q27Json _,
    "q23_asof_attr" -> q23AsofAttr _,
    "q37_asof_forward" -> q37AsofForward _,
    "q38_pagerank" -> ((s: SparkSession, d: String) => q38Pagerank(s, d)),
    "q39_retention" -> q39Retention _,
    "q40_funnel" -> q40Funnel _,
    "q24_pivot" -> q24Pivot _,
    "q25_percentile" -> q25Percentile _,
    "q26_exists_sql" -> q26ExistsSql _,
    "q21_tumbling" -> q21Tumbling _,
    "q22_cube" -> q22Cube _,
    "cgt_normalize" -> cgtNormalize _,
    "cgt_lines" -> cgtLines _,
    "q19_hash_sample" -> q19HashSample _,
    "q20_approx_distinct" -> q20ApproxDistinct _,
    "q01_lineitem_agg" -> q01LineitemAgg _,
    "q02_filter_topk" -> q02FilterTopk _,
    "q03_join_revenue" -> q03JoinRevenue _,
    "q04_broadcast_star" -> q04BroadcastStar _,
    "q05_region_revenue" -> q05RegionRevenue _,
    "q06_semi_join" -> q06SemiJoin _,
    "q07_anti_join" -> q07AntiJoin _,
    "q08_window_topn" -> q08WindowTopN _,
    "q09_window_running" -> q09WindowRunning _,
    "q10_sessionize" -> q10Sessionize _,
    "q11_rollup" -> q11Rollup _,
    "q12_setops" -> q12SetOps _,
    "q13_conditional_agg" -> q13ConditionalAgg _,
    "q14_distinct_agg" -> q14DistinctAgg _,
    "q15_union_years" -> q15UnionYears _,
    "q16_above_brand_avg" -> q16AboveBrandAvg _,
    "q17_events_hourly" -> q17EventsHourly _,
    "q18_salted_agg" -> q18SaltedAgg _)
}
