package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{r4, table}

/** B-series: relational analytics over the materialized tables
  * (SURVEY.md §2.B). Each query has a DuckDB oracle in [[oracles]].
  *
  * Parity rules (SURVEY.md §5): money(x) = floor(x*100 + 0.5)/100 is
  * written as the *same IEEE double arithmetic* on both sides, so both
  * engines compute bit-identical results from identical inputs; every
  * computed column carries the same alias on both sides; every query
  * ends with a deterministic ORDER BY (unique tie-break key).
  *
  * Scale notes (SURVEY.md §6): filters are plain column predicates
  * (reach the parquet scan as PushedFilters), dims join via broadcast,
  * aggregations are partial (map-side combine) by construction, and no
  * query collects to the driver.
  */
object Relational {

  /** Deterministic 2-dp rounding: identical IEEE ops in Spark + DuckDB. */
  private def money(c: Column): Column = floor(c * 100 + 0.5) / 100

  /** User-timeline contract (dirty-data posture, r10): sessionization,
    * lifecycle, transition, cohort, and interval analytics partition
    * by user and order by event time — an event missing either cannot
    * be placed on any user's timeline, and leaving such rows in makes
    * the result depend on each engine's null-ordering convention
    * (Spark sorts nulls first ASC, DuckDB last — silent divergence).
    * Excluded explicitly on BOTH sides; every oracle carries
    * `WHERE user_id IS NOT NULL AND ts IS NOT NULL`. */
  private def userTimeline(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
  private val userTimelineSql = "user_id IS NOT NULL AND ts IS NOT NULL"

  // ---------------------------------------------------------------- B1
  /** TPC-H Q1 shape: scan + filter + groupBy multi-aggregate.
    * 100 TB: single shuffle on (returnflag, linestatus) — 6 groups —
    * with map-side partial aggregation; filter + 7-column pruning
    * pushed to the scan. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        money(sum($"l_extendedprice")).as("sum_base_price"),
        money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("sum_disc_price"),
        money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"))).as("sum_charge"),
        avg($"l_quantity").as("avg_qty"),
        money(avg($"l_extendedprice")).as("avg_price"),
        r4(avg($"l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  // ---------------------------------------------------------------- B2
  /** TPC-H Q3 shape: 3-way join + agg + deterministic top-k.
    * 100 TB: customer filter prunes before the join (and AQE picks the
    * join strategy — customer scales with SF, so no hard broadcast);
    * orders⋈lineitem shuffles on orderkey; top-k is a
    * TakeOrderedAndProject (no global sort materialization). */
  def q3TopUnshipped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = table(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
    val ord = table(s, dir, "orders").filter($"o_orderdate" < lit("1998-03-15").cast("timestamp"))
    val li = table(s, dir, "lineitem").filter($"l_shipdate" > lit("1998-03-15").cast("timestamp"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"))
      .select($"l_orderkey", $"revenue", $"o_orderdate".cast("date").as("orderdate"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  // ---------------------------------------------------------------- B3
  /** TPC-H Q5 shape: 6-way star join.
    * 100 TB: region/nation are hint-broadcast (bounded at 25/5 rows by
    * the data model — safe at ANY scale); customer/supplier are left
    * to Catalyst/AQE, which broadcasts them while they fit the
    * threshold and degrades to shuffle joins at SF100+ instead of
    * OOMing on a multi-GB forced build side. Only lineitem⋈orders
    * must shuffle (on orderkey). */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val region = table(s, dir, "region").filter($"r_name" === "ASIA")
    val nation = table(s, dir, "nation")
    val supplier = table(s, dir, "supplier")
    val customer = table(s, dir, "customer")
    val orders = table(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    val li = table(s, dir, "lineitem")
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(supplier,
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue"))
      .orderBy($"n_name")
  }

  // ---------------------------------------------------------------- B4
  /** join + groupBy + HAVING + top-k. Customer is NOT hint-broadcast:
    * it grows with SF, so the join strategy is AQE's call (broadcast
    * under the threshold, shuffle join above it). */
  def qTopCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .join(table(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(money(sum($"o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= 5)
      .orderBy($"total_spent".desc, $"c_custkey")
      .limit(20)
  }

  // ---------------------------------------------------------------- B5
  /** EXISTS via left-semi join (TPC-H Q4 shape).
    * 100 TB: semi join never materializes lineitem columns; shuffles
    * only the join keys + condition column. */
  def qExistsSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = table(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
    val li = table(s, dir, "lineitem").select($"l_orderkey", $"l_shipdate")
    ord.join(li, $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > $"o_orderdate", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  // ---------------------------------------------------------------- B6
  /** NOT EXISTS via left-anti join: customers with no high-value order. */
  def qNotExistsAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigOrders = table(s, dir, "orders")
      .filter($"o_totalprice" > 300000.0).select($"o_custkey")
    table(s, dir, "customer")
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  // ---------------------------------------------------------------- B7
  /** Window rank: top-3 orders per customer (row_number with
    * deterministic tie-break). 100 TB: one shuffle on o_custkey; rank
    * filter applied before any further join. */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    table(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", row_number().over(w).as("rn"))
      .filter($"rn" <= 3)
      .orderBy($"o_custkey", $"rn")
  }

  // ---------------------------------------------------------------- B8
  /** Running total over daily revenue. The inner aggregate reduces to
    * ~one row per day before the single-partition ordered window, so
    * the unpartitioned frame is safe at any SF (days, not rows). */
  def qRunningTotal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "orders")
      .groupBy($"o_orderdate".cast("date").as("d"))
      .agg(money(sum($"o_totalprice")).as("rev"))
    val w = Window.orderBy($"d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select($"d", $"rev", money(sum($"rev").over(w)).as("running_rev"))
      .orderBy($"d")
  }

  // ---------------------------------------------------------------- B9
  /** Sessionization of the event stream: 30-minute inactivity gap
    * starts a new session; emits per-session stats. One shuffle on
    * user_id; both windows share the same partitioning (single
    * exchange). */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = userTimeline(s, dir)
      .select($"user_id", $"ts", $"event_id", $"value",
        lag($"ts", 1).over(byUser).as("prev_ts"))
      .withColumn("new_sess",
        when($"prev_ts".isNull || $"ts" > $"prev_ts" + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(byUser))
    ev.groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        money(sum($"value")).as("session_value"),
        date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .orderBy($"user_id", $"session_id")
  }

  // ---------------------------------------------------------------- B10
  /** Pivot via conditional aggregation (event_type → columns).
    * count(when(...)) matches DuckDB count(CASE ...) = 0 for absent
    * combinations (Spark's pivot() API would yield NULL instead). */
  def qEventPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def cnt(tpe: String) = count(when($"event_type" === tpe, lit(1))).as(tpe + "s")
    graft.Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(cnt("click"), cnt("view"), cnt("signup"), cnt("error"),
        money(sum(when($"event_type" === "purchase", $"value").otherwise(lit(0.0)))).as("purchase_value"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------- B11
  /** ROLLUP hierarchical aggregate over region → nation. nation/region
    * are scale-constant (hint-broadcast); customer scales with SF so
    * its join strategy is left to AQE. */
  def qRollupRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .join(table(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(table(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(table(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(money(sum($"o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .select(coalesce($"r_name", lit("ALL")).as("region_name"),
        coalesce($"n_name", lit("ALL")).as("nation_name"),
        $"revenue", $"n_orders")
      .orderBy($"region_name", $"nation_name")
  }

  // ---------------------------------------------------------------- B12
  /** Exact distinct count per group (the approx/HLL variant is
    * exercised in DistinctSpec — approx values aren't oracle-stable). */
  def qDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------- B13
  /** Correlated scalar subquery shape (TPC-H Q17): lineitems below
    * half their part's average quantity. Quantities are integral so
    * avg is an exact double — the threshold comparison is
    * deterministic across engines. 100 TB: the per-part average is a
    * window over partition-by-partkey, so lineitem is scanned ONCE and
    * shuffled ONCE (the agg+re-join formulation scans and shuffles it
    * twice for the same answer). */
  def qCorrelatedScalar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perPart = Window.partitionBy($"l_partkey")
    table(s, dir, "lineitem")
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
      .withColumn("avg_qty", avg($"l_quantity").over(perPart))
      .filter($"l_quantity" < $"avg_qty" * 0.5)
      .join(table(s, dir, "part"), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(money(sum($"l_extendedprice")).as("total_below"), count(lit(1)).as("n_lines"))
      .orderBy($"p_brand")
  }

  // --------------------------------------------------------------- B14
  /** Exact COUNT(DISTINCT) under key skew via salting: phase 1 counts
    * distinct users within (event_type, user_id % 32) — the salt
    * partitions the *distinct state*, so no single reducer holds a hot
    * key's whole user set — phase 2 sums the disjoint partials. With 5
    * hot event_types over millions of users, the unsalted plan
    * concentrates each key's dedup state on one task; this one spreads
    * it 32-way and stays exact (the salt is a function of the counted
    * column, so partials never overlap). */
  def qSkewSaltedDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.events(s, dir)
      .groupBy($"event_type", ($"user_id" % 32).as("salt"))
      .agg(count_distinct($"user_id").as("part_users"),
        count(lit(1)).as("part_events"))
      .groupBy($"event_type")
      .agg(sum($"part_users").as("exact_users"),
        sum($"part_events").as("n_events"))
      .orderBy($"event_type")
  }

  // --------------------------------------------------------------- B15
  /** CUBE over (segment, priority): all four grouping combinations in
    * one pass — Spark expands the grouping sets map-side, so it's one
    * shuffle, not four queries. customer join strategy is AQE's call
    * (it scales with SF). */
  def qCubeSegment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .join(table(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .cube($"c_mktsegment", $"o_orderpriority")
      .agg(money(sum($"o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .select(coalesce($"c_mktsegment", lit("ALL")).as("segment"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"revenue", $"n_orders")
      .orderBy($"segment", $"priority")
  }

  // --------------------------------------------------------------- B16
  /** Top-3 orders per customer via the custom [[graft.functions.TopKAgg]]
    * aggregate — same result as the window-rank formulation (B7 shape)
    * but with map-side k-bounded partial buffers instead of a full
    * per-group sort: the shuffle carries ≤ k rows per (task, group),
    * which is what survives a group with 10^9 rows. */
  def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(expr("topk_agg(struct(o_totalprice, o_orderkey), 3)").as("top"))
      .select($"o_custkey", posexplode($"top"))
      .select($"o_custkey", ($"pos" + 1).as("rank"),
        $"col.id".as("o_orderkey"), money($"col.score").as("totalprice"))
      .orderBy($"o_custkey", $"rank")
  }

  // --------------------------------------------------------------- B17
  /** Fuzzy entity matching: probe the 20 lowest-key customers' names
    * against the whole dimension at edit distance ≤ 2 — the
    * entity-resolution primitive (dirty CDC upstreams misspell keys).
    * Probe side broadcasts; a LENGTH-BAND prefilter guards the scale
    * path (r9 verdict item 6): edit distance ≤ 2 forces
    * |len(a) − len(b)| ≤ 2, so the cheap band predicate runs first and
    * `levenshtein` — O(len²) per pair — only touches the band
    * survivors. With Spark's `levenshtein(a, b, threshold)` overload
    * the inner loop is also banded, so per-surviving-pair cost is
    * O(len·k) not O(len²). At 100 TB this is what keeps a growing
    * probe list from multiplying a full quadratic string pass over
    * the dimension. */
  def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = table(s, dir, "customer").select($"c_custkey", $"c_name")
    val probes = cust.filter($"c_custkey" < 20)
      .select($"c_custkey".as("probe_key"), $"c_name".as("probe_name"))
    cust.crossJoin(broadcast(probes))
      .filter($"c_custkey" =!= $"probe_key")
      // band first: a length gap > 2 can never reach dist <= 2
      .filter(abs(length($"c_name") - length($"probe_name")) <= 2)
      .withColumn("dist", levenshtein($"c_name", $"probe_name", 2))
      .filter($"dist" >= 0)
      .select($"probe_key", $"c_custkey".as("match_key"),
        $"dist".cast("int").as("dist"))
      .orderBy($"probe_key", $"match_key")
  }

  // --------------------------------------------------------------- B18
  /** Exact interpolated percentiles (p50/p90/p99) of order totals per
    * priority — Spark `percentile` and DuckDB `quantile_cont` share
    * the continuous-interpolation definition. */
  def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        money(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        money(expr("percentile(o_totalprice, 0.9)")).as("p90"),
        money(expr("percentile(o_totalprice, 0.99)")).as("p99"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  // --------------------------------------------------------------- B19
  /** User lifecycle summary via frame-spanning window functions:
    * first/last/second event over the full partition frame plus the
    * active-span arithmetic — one shuffle on user_id, every window
    * shares the same frame so Catalyst evaluates them in one pass. */
  def qFirstLast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    userTimeline(s, dir)
      .select($"user_id", $"event_id", $"ts", $"event_type",
        first($"event_type").over(w).as("first_type"),
        last($"event_type").over(w).as("last_type"),
        nth_value($"event_type", 2).over(w).as("second_type"),
        count(lit(1)).over(w).as("n_events"),
        (unix_micros(last($"ts").over(w)) -
          unix_micros(first($"ts").over(w))).as("span_micros"))
      .groupBy($"user_id", $"first_type", $"last_type", $"second_type",
        $"n_events", $"span_micros")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- B20
  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * `hll_sketch_agg`): per-type estimates AND the union of the
    * per-type sketches must land within 5% of exact. At 100 TB a
    * one-pass, constant-memory, mergeable sketch is how distincts are
    * counted across partitions/days; the TOTAL row asserts exactly the
    * merge property (union of per-group sketches estimates the global
    * distinct). The oracle pins the exact counts and the 5%-contract
    * booleans — an estimator drift flips a boolean and fails the hash. */
  def qSketchDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
    val per = ev.groupBy($"event_type".as("scope"))
      .agg(countDistinct($"user_id").as("n_exact"),
        hll_sketch_agg($"user_id").as("sk"))
    val totalRow = per.agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"))
      .crossJoin(ev.agg(countDistinct($"user_id").as("n_exact")))
      .select(lit("TOTAL").as("scope"), $"n_exact",
        (abs($"est" - $"n_exact") <= $"n_exact" * lit(0.05)).as("sketch_ok"))
    per.select($"scope", $"n_exact",
        (abs(hll_sketch_estimate($"sk") - $"n_exact") <=
          $"n_exact" * lit(0.05)).as("sketch_ok"))
      .unionByName(totalRow)
      .orderBy($"scope")
  }

  // --------------------------------------------------------------- B21
  /** Bounded-memory approximate percentiles (`percentile_approx`,
    * GK-style sketch) asserted with the RANK-tolerance contract the
    * sketch actually guarantees: the approx p50 must fall between the
    * exact p45 and p55 values (p95 between p93/p97). Exact
    * interpolated percentiles are the oracle columns (engine parity
    * proven by B18); the booleans pin the contract. */
  def qSketchQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        money(expr("percentile(o_totalprice, 0.5)")).as("p50_exact"),
        money(expr("percentile(o_totalprice, 0.95)")).as("p95_exact"),
        expr("percentile_approx(o_totalprice, 0.5, 1000)").as("ap50"),
        expr("percentile_approx(o_totalprice, 0.95, 1000)").as("ap95"),
        expr("percentile(o_totalprice, 0.45)").as("lo50"),
        expr("percentile(o_totalprice, 0.55)").as("hi50"),
        expr("percentile(o_totalprice, 0.93)").as("lo95"),
        expr("percentile(o_totalprice, 0.97)").as("hi95"))
      .select($"o_orderpriority", $"p50_exact", $"p95_exact",
        ($"ap50" >= $"lo50" && $"ap50" <= $"hi50").as("p50_ok"),
        ($"ap95" >= $"lo95" && $"ap95" <= $"hi95").as("p95_ok"))
      .orderBy($"o_orderpriority")
  }

  // --------------------------------------------------------------- B22
  /** Time-based RANGE window frame: per user, trailing-1-hour event
    * count and value total at every event — the "activity in the last
    * hour" feature primitive. Differs from B8's ROWS frame: the frame
    * is bounded by the ORDER-BY *value* (event time), so peers and
    * gaps behave by time, not by row position.
    * Values sum as exact cents (BIGINT) — a sliding double sum would
    * be addition-order-sensitive across engines.
    * 100 TB: one shuffle on user_id; frames never materialize (running
    * frame evaluation), state per partition is the 1-hour tail. */
  def qTimeWindowFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus")
      .rangeBetween(-3600000000L, 0L)
    graft.Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .select($"user_id", $"event_id",
        count(lit(1)).over(w).as("n_hour"),
        sum($"cents").over(w).as("cents_hour"))
      .orderBy($"user_id", $"event_id")
  }

  // --------------------------------------------------------------- B23
  /** Band (range) join done scalably: each signup event is joined to
    * every purchase event within ±5 minutes — a non-equi time-band
    * join. The naive plan is a BroadcastNestedLoopJoin / O(n·m)
    * comparison; here both sides bucket to 5-minute epochs and the
    * build side replicates to its 3 covering buckets, turning the band
    * predicate into an equi-join on bucket + an exact |Δt| confirm —
    * the standard interval-join decomposition (Flink/Trino interval
    * joins do the same). PlanAuditSpec asserts no BNLJ/cartesian.
    * 100 TB: shuffle keyed on 5-min buckets (time-uniform → no skew);
    * replication factor is a constant 3; AQE splits any hot bucket. */
  def qBandRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val BandUs = 300000000L // 5 minutes in microseconds
    val ev = graft.Tables.events(s, dir)
      .select($"event_id", $"event_type", unix_micros($"ts").as("tus"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id".as("s_id"), $"tus".as("s_tus"),
        ($"tus" - ($"tus" % BandUs)).as("bucket"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"tus".as("p_tus"), $"cents",
        explode(array((-1 to 1).map(d =>
          $"tus" - ($"tus" % BandUs) + lit(d * BandUs)): _*)).as("bucket"))
    val matched = signups.join(purchases, Seq("bucket"))
      .filter(abs($"p_tus" - $"s_tus") <= BandUs)
      .groupBy($"s_id")
      .agg(count(lit(1)).as("n_near"), sum($"cents").as("cents_near"))
    // left join back so band-empty signups surface as zeros, not as
    // silently missing rows
    signups.select($"s_id").join(matched, Seq("s_id"), "left")
      .select($"s_id", coalesce($"n_near", lit(0L)).as("n_near"),
        coalesce($"cents_near", lit(0L)).as("cents_near"))
      .orderBy($"s_id")
  }

  // --------------------------------------------------------------- B24
  /** Salted JOIN under key skew: events map to a merchant id where
    * ~80% of rows hit one hot merchant (synthesized deterministically),
    * then join to a per-merchant dim. A plain hash join puts the hot
    * key's whole volume in ONE task; salting replicates each dim row
    * `Salt` ways and spreads the probe side by a row-hash salt, so the
    * hot key fans out across `Salt` tasks — the manual, portable form
    * of what AQE skew-join does adaptively (and the only form that
    * works when the skew is in a stateful/streaming join).
    * The spec asserts equality with the unsalted join; the oracle is
    * the plain join. */
  def qSkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Salt = 16
    val ev = graft.Tables.events(s, dir)
      .select($"event_id", $"user_id",
        when($"user_id" % 5 < 4, lit(7L)).otherwise($"user_id" % 150)
          .as("merchant_id"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .withColumn("salt", pmod(hash($"event_id"), lit(Salt)))
    val dim = table(s, dir, "customer").filter($"c_custkey" < 150)
      .select($"c_custkey".as("merchant_id"), $"c_mktsegment".as("segment"))
      .withColumn("salt", explode(array((0 until Salt).map(lit): _*)))
    ev.join(dim, Seq("merchant_id", "salt"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("cents_total"))
      .orderBy($"segment")
  }

  // --------------------------------------------------------------- B25
  /** Schema-on-read over the semi-structured `props` JSON column:
    * extract a typed field per event without a declared schema
    * (`get_json_object`), aggregate per event_type. The scan stays
    * narrow (doc-local parse, codegen'd); no shuffle before the final
    * group — the "JSON column in a 100 TB event table" reality. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.events(s, dir)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count($"k").as("n_with_k"), sum($"k").as("k_total"),
        min($"k").as("k_min"), max($"k").as("k_max"))
      .orderBy($"event_type")
  }

  // --------------------------------------------------------------- B26
  /** TPC-H Q13 shape — two-level aggregation: left-join customers to
    * their (non-urgent) orders, count orders per customer INCLUDING
    * zero-order customers, then histogram customers by order count.
    * The left join keeps the empty group; the second aggregation is a
    * re-shuffle on the first's output (tiny: one row per customer).
    * 100 TB: shuffle 1 on custkey (join + count fused), shuffle 2 on
    * c_count over |customers| rows — the histogram is never wider than
    * the max order count. */
  def q13Custdist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_custkey")
    val o = table(s, dir, "orders")
      .filter($"o_orderpriority" =!= "1-URGENT")
      .select($"o_custkey", $"o_orderkey")
    c.join(o, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  // --------------------------------------------------------------- B27
  /** TPC-H Q22 shape — global-scalar filter + anti join: customers
    * whose balance beats the average POSITIVE balance (a one-row
    * aggregate, broadcast into the filter) and who have never placed
    * an URGENT-priority order (left-anti), rolled up per nation. The
    * scalar is the "compare each row against a global statistic"
    * primitive; the anti join is the "never did X" primitive. (The
    * anti side is priority-filtered — in this synthetic feed every
    * customer has *some* order, so "no orders at all" is vacuous;
    * Q22Spec pins a nonzero row count.)
    * 100 TB: scalar = one tiny agg broadcast; anti join shuffles on
    * custkey (or broadcasts the distinct custkeys of the smaller
    * side); rollup is a 25-group agg. */
  def q22GlobalScalarAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = table(s, dir, "customer")
    val avgBal = cust.filter($"c_acctbal" > 0)
      .agg(avg($"c_acctbal").as("avg_bal"))
    val urgent = table(s, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey").distinct()
    cust.crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(table(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("numcust"),
        money(sum($"c_acctbal")).as("totacctbal"))
      .orderBy($"n_name")
  }

  // --------------------------------------------------------------- B28
  /** TPC-H Q18 shape — HAVING-filtered aggregate driving a join: the
    * quantity rollup over lineitem keeps only orders whose total
    * quantity beats a threshold, then rejoins orders + customer for
    * the top-100 by price. The "find the whales" primitive.
    * 100 TB: the rollup is one map-side-combinable shuffle on
    * l_orderkey, and its output (whale orders only, ~1% here) is the
    * *small* side of both rejoins — AQE broadcasts it, so orders and
    * customer are never shuffled; top-100 is TakeOrderedAndProject
    * (per-partition heads, no global sort materialization). Sort key
    * is the STORED o_totalprice double + orderkey tie-break, so the
    * cut is bit-identical in both engines. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = table(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 250)
    table(s, dir, "orders").join(big, $"o_orderkey" === $"l_orderkey")
      .join(table(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"sum_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  // --------------------------------------------------------------- B29
  /** TPC-H Q7 shape — volume shipping between a nation pair: a 4-table
    * fact join (lineitem⋈supplier⋈orders⋈customer) bracketed by two
    * broadcast nation dims, revenue per (supp_nation, cust_nation,
    * ship year) in both directions. The "international trade lanes"
    * multiway-join primitive.
    * 100 TB: both nation dims broadcast (25 rows); the pair predicate
    * is applied to the *joined nation names*, but Catalyst pushes the
    * IN-(2 nations) halves through the broadcast joins onto supplier
    * and customer scans, so the fact shuffles (l_orderkey, then
    * o_custkey) carry only the two nations' traffic; the final agg is
    * 2×|years| groups, map-side combined. */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey",
      year($"l_shipdate").cast("long").as("l_year"),
      ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("volume"))
    val n1 = table(s, dir, "nation")
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    val n2 = table(s, dir, "nation")
      .select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
    li.join(table(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .join(table(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(table(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"s_nk")
      .join(broadcast(n2), $"c_nationkey" === $"c_nk")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", $"l_year")
      .agg(money(sum($"volume")).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  // --------------------------------------------------------------- B30
  /** Gaps-and-islands interval coalescing: merge overlapping intervals
    * per user into maximal islands. Unlike B9's sessionize (gap vs the
    * PREVIOUS event), the merge test is against the RUNNING MAX of all
    * prior interval ends — the only correct rule once durations vary
    * (an early long interval can span several later short ones, and
    * lag(end) would split the island). Intervals derive from events:
    * [ts, ts + (event_id % 97 + 3) min) — deterministic, variable.
    * 100 TB: one shuffle on user_id that the running-max window, the
    * island-id cumsum and the island rollup all reuse (plus the
    * (user, island) agg exchange); windows are incremental frames, no
    * self-join — the O(n²) interval-overlap join this shape replaces. */
  def qIntervalMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = userTimeline(s, dir)
      .select($"user_id", $"ts", $"event_id",
        timestamp_micros(unix_micros($"ts") +
          (($"event_id" % 97) + 3) * 60000000L).as("end_ts"))
      .withColumn("prev_max_end",
        max($"end_ts").over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"prev_max_end".isNull || $"ts" > $"prev_max_end", 1L)
          .otherwise(0L))
      .withColumn("island", sum($"new_island").over(byUser))
    ev.groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("n_events"),
        date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss").as("island_start"),
        date_format(max($"end_ts"), "yyyy-MM-dd HH:mm:ss").as("island_end"))
      .orderBy($"user_id", $"island")
  }

  // --------------------------------------------------------------- B31
  /** Bucketed co-located fact join — the storage-level answer to the
    * biggest shuffle in the warehouse: lineitem and orders are both
    * written `bucketBy(8, orderkey)` + sortBy, so the orderkey join
    * needs NO exchange on either side — the join cost you pre-pay at
    * ingest so every downstream orderkey join is shuffle-free. A
    * narrow in-bucket SortExec remains (Spark 3+ ignores write-time
    * sort order on bucketed scans unless
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` is set; the
    * sort is per-partition, spill-safe, and exchange-free — the
    * network cost is what bucketing eliminates). `.hint("merge")`
    * pins SMJ (a broadcast would hide the property demonstrated);
    * PlanAuditSpec asserts no exchange under the join. At 100 TB the
    * bucket count scales to ~executor-count×4, same plan. */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // external tables on a fresh scratch location: the in-memory
    // catalog forgets tables between sessions while the warehouse dir
    // persists, so a managed overwrite would hit LOCATION_ALREADY_EXISTS
    val base = graft.Scratch.dir("graft_buckets").toString
    s.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    s.sql("DROP TABLE IF EXISTS graft_buckets.lineitem_b")
    s.sql("DROP TABLE IF EXISTS graft_buckets.orders_b")
    // task-per-bucket write: repartition(8, key) uses the same murmur
    // hash pmod as the bucket spec, so write task p holds exactly
    // bucket p — ONE file per bucket (keeping the single-file property
    // write-time sortBy needs) produced by 8 PARALLEL tasks, not one.
    // At 100 TB the same form scales: repartition(numBuckets, key)
    // with the bucket count sized to the cluster
    table(s, dir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .repartition(8, $"l_orderkey")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/lineitem_b")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_buckets.lineitem_b")
    table(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
      .repartition(8, $"o_orderkey")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$base/orders_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_buckets.orders_b")
    s.table("graft_buckets.lineitem_b").hint("merge")
      .join(s.table("graft_buckets.orders_b").hint("merge"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")))
          .as("revenue"))
      .orderBy($"o_orderpriority")
  }

  // --------------------------------------------------------------- B32
  /** Time-bounded ordered-sequence funnel: how far does each user get
    * through signup → view within 1 day → purchase within 1 day of
    * that view? Step predicates are ORDER- and DEADLINE-sensitive (a
    * view before the signup, or a week later, doesn't count), which
    * conditional counts can't express and the naive form needs k
    * self-joins for. Running first-reach timestamps do it in one
    * pass: tᵢ = running-min ts of "event is step i, after tᵢ₋₁ and
    * within its deadline", all three chained over ONE user-partitioned
    * window; the final per-user rollup reuses the same partitioning,
    * so the whole funnel is a single exchange with O(1) state per
    * row. (Depth split at sf0.01: 111/24/15 — every step bites.) */
  def qFunnelSteps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val day = expr("INTERVAL 1 DAY")
    graft.Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("t1",
        min(when($"event_type" === "signup", $"ts")).over(w))
      .withColumn("t2",
        min(when($"event_type" === "view" && $"ts" > $"t1" &&
          $"ts" <= $"t1" + day, $"ts")).over(w))
      .withColumn("t3",
        min(when($"event_type" === "purchase" && $"ts" > $"t2" &&
          $"ts" <= $"t2" + day, $"ts")).over(w))
      .groupBy($"user_id")
      .agg(min($"t1").isNotNull.cast("long").as("reached_signup"),
        min($"t2").isNotNull.cast("long").as("reached_view"),
        min($"t3").isNotNull.cast("long").as("reached_purchase"))
      .withColumn("depth",
        ($"reached_signup" + $"reached_view" + $"reached_purchase"))
      .orderBy($"user_id")
  }

  // --------------------------------------------------------------- B33
  /** Heavy hitters via a Misra–Gries summary (custom
    * TypedImperativeAggregate, functions/MisraGriesAgg.scala) — "top
    * hot keys over a stream whose key cardinality doesn't fit an
    * exact groupBy". The key mix is engineered Zipf: 40% of events on
    * 20 hot keys, the rest spread over ~5k rare keys; m=100 counters,
    * so the MG guarantee (every f > n/(m+1) key present, estimate in
    * [f − n/(m+1), f]) makes exactly the 20 hot keys mandatory.
    * B20-sketch-pattern oracle: rows are the EXACT heavy hitters
    * (re-derived by both engines) and the contract booleans pin the
    * sketch — a dropped hitter or out-of-band estimate flips one.
    * 100 TB: per-task m-bounded counter maps combine map-side
    * (mergeable-summaries rule), so the exchange carries ≤ m counters
    * per partition regardless of stream size; the exact-count branch
    * here exists for the audit, not the sketch path. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyExpr = "CASE WHEN user_id % 5 < 2 THEN CAST(user_id % 20 AS BIGINT) " +
      "ELSE CAST(event_id % 5000 + 100 AS BIGINT) END"
    val ev = graft.Tables.events(s, dir).select(expr(keyExpr).as("k"))
    val sk = ev.agg(expr("mg_agg(k, 100)").as("sk"))
      .select(explode($"sk").as("e"))
      .select($"e.key".as("k"), $"e.est".as("est"))
    val tot = ev.agg(count(lit(1)).as("n"))
    val hh = ev.groupBy($"k").agg(count(lit(1)).as("exact_count"))
      .crossJoin(broadcast(tot))
      .filter($"exact_count" > expr("n div 101"))
    hh.join(sk, Seq("k"), "left")
      .select($"k".as("merchant_id"), $"exact_count",
        $"est".isNotNull.as("in_sketch"),
        ($"est".isNotNull && $"est" <= $"exact_count").as("est_upper_ok"),
        ($"est".isNotNull &&
          $"est" >= $"exact_count" - expr("n div 101")).as("est_lower_ok"))
      .orderBy($"merchant_id")
  }

  // --------------------------------------------------------------- B34
  /** Cohort retention matrix — the other classic event-analytics
    * primitive next to funnels (B32): users grouped by first-activity
    * month, then for each later month, how many of that cohort were
    * active. Two passes that share the user_id partitioning: a
    * per-user min(ts) rollup (the cohort), then a distinct
    * (user, month) activity join back — retention is
    * |active ∩ cohort| / |cohort| per (cohort_month, month_offset).
    * 100 TB: one shuffle on user_id for the cohort agg, one on
    * (user, day) for activity dedup; cohort SIZE is the matrix's own
    * diagonal (every user is active on their cohort day — min day IS
    * an active day), read off with a window over the days²-tiny
    * matrix instead of re-aggregating the cohort table (which would
    * recompute its user_id shuffle, the plan's biggest, twice —
    * PlanAuditSpec pins the exchange count); ppm-integer retention so
    * both engines agree exactly. */
  def qRetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // daily grain: the events feed spans ~one month, so day is the
    // resolution at which cohorts separate (monthly would be one cell)
    val ev = userTimeline(s, dir)
      .select($"user_id", date_format($"ts", "yyyy-MM-dd").as("day"))
    val cohort = ev.groupBy($"user_id")
      .agg(min($"day").as("cohort_day"))
    val active = ev.distinct()
    val matrix = active.join(cohort, "user_id")
      .groupBy($"cohort_day", $"day")
      .agg(count(lit(1)).as("n_active"))
    matrix
      .withColumn("cohort_size",
        max(when($"day" === $"cohort_day", $"n_active"))
          .over(Window.partitionBy($"cohort_day")))
      .select($"cohort_day", $"day", $"n_active", $"cohort_size",
        expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
      .orderBy($"cohort_day", $"day")
  }

  // --------------------------------------------------------------- B35
  /** Sketch-based SET ALGEBRA over distinct users — the capability
    * step past B20: HLL sketches union, but audience-overlap
    * questions ("how many viewers also purchased? how many only
    * viewed?") need intersection and difference, which is exactly
    * what Theta sketches (DataSketches, Spark 4's
    * theta_sketch_agg/theta_union/theta_intersection/
    * theta_difference) exist for. One pass builds both per-segment
    * sketches map-side-combinable; the set ops run on the two
    * finished sketches — no re-scan per question.
    *
    * B20-pattern oracle: rows are the EXACT set cardinalities
    * (re-derived by both engines — intersect/diff via
    * inclusion-exclusion on conditional distinct counts) plus the
    * estimator's AUDIT columns: `est_err_bands` = how many whole
    * ±5% tolerance bands the sketch estimate sits away from exact
    * (floor(|est − exact|·20/exact)), and `est_ok` ⟺ 0 bands. The
    * oracle states the CLAIM (0 bands, ok) rather than the raw
    * estimate, so the identity holds at EVERY SF where the estimator
    * meets its documented error (±5% ≈ 3σ for the default lgK), not
    * just below the sketch's exact-mode threshold — and when an
    * estimate does break the band, the failing value IS the deviation
    * magnitude in 5%-units, a diagnosable column instead of an opaque
    * hash mismatch on a raw count (r8 ADVICE item). RelationalSpec
    * asserts the raw est-vs-exact deviation non-vacuously.
    *
    * 100 TB: sketches are KB-sized mergeable summaries; the exchange
    * carries one sketch per partition per segment; the exact branch
    * here exists for the audit, not the production path. */
  def qSketchSetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
      .select($"user_id", $"event_type")
    val est = ev.agg(
        expr("theta_sketch_agg(CASE WHEN event_type = 'view' " +
          "THEN user_id END)").as("sa"),
        expr("theta_sketch_agg(CASE WHEN event_type = 'purchase' " +
          "THEN user_id END)").as("sb"))
      .select(
        expr("theta_sketch_estimate(sa)").as("e_view"),
        expr("theta_sketch_estimate(sb)").as("e_purchase"),
        expr("theta_sketch_estimate(theta_union(sa, sb))").as("e_union"),
        expr("theta_sketch_estimate(theta_intersection(sa, sb))")
          .as("e_intersect"),
        expr("theta_sketch_estimate(theta_difference(sa, sb))").as("e_diff"))
    val exact = ev.agg(
      count_distinct(when($"event_type" === "view", $"user_id")).as("n_view"),
      count_distinct(when($"event_type" === "purchase", $"user_id"))
        .as("n_purchase"),
      count_distinct(when($"event_type".isin("view", "purchase"), $"user_id"))
        .as("n_union"))
      .withColumn("n_intersect", $"n_view" + $"n_purchase" - $"n_union")
      .withColumn("n_diff", $"n_view" - $"n_intersect")
    // empty sets (possible at tiny SFs) sidestep the relative-error
    // division: estimate ~0 ⇒ in band, anything else ⇒ fully out
    def bands(est: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column) =
      when(ex === 0, when(abs(est) < 0.5, lit(0L)).otherwise(lit(20L)))
        .otherwise(floor(abs(est - ex) * 20 / ex).cast("long"))
    def row(op: String, ex: org.apache.spark.sql.Column,
        est: org.apache.spark.sql.Column) =
      struct(lit(op).as("set_op"), ex.as("exact_count"),
        bands(est, ex).as("est_err_bands"),
        (bands(est, ex) === 0).as("est_ok"))
    exact.crossJoin(est)
      .select(explode(array(
        row("1_view", $"n_view", $"e_view"),
        row("2_purchase", $"n_purchase", $"e_purchase"),
        row("3_union", $"n_union", $"e_union"),
        row("4_intersect", $"n_intersect", $"e_intersect"),
        row("5_diff", $"n_diff", $"e_diff"))).as("r"))
      .select($"r.set_op", $"r.exact_count", $"r.est_err_bands", $"r.est_ok")
      .orderBy($"set_op")
  }
  val qSketchSetOpsSql: String =
    """WITH x AS (SELECT
      |    count(DISTINCT CASE WHEN event_type = 'view'
      |      THEN user_id END) AS n_view,
      |    count(DISTINCT CASE WHEN event_type = 'purchase'
      |      THEN user_id END) AS n_purchase,
      |    count(DISTINCT CASE WHEN event_type IN ('view', 'purchase')
      |      THEN user_id END) AS n_union
      |  FROM events),
      |y AS (SELECT n_view, n_purchase, n_union,
      |    n_view + n_purchase - n_union AS n_intersect,
      |    n_union - n_purchase AS n_diff
      |  FROM x)
      |SELECT set_op, CAST(exact_count AS BIGINT) AS exact_count,
      |  CAST(0 AS BIGINT) AS est_err_bands,
      |  TRUE AS est_ok
      |FROM (
      |  SELECT '1_view' AS set_op, n_view AS exact_count FROM y
      |  UNION ALL SELECT '2_purchase', n_purchase FROM y
      |  UNION ALL SELECT '3_union', n_union FROM y
      |  UNION ALL SELECT '4_intersect', n_intersect FROM y
      |  UNION ALL SELECT '5_diff', n_diff FROM y)
      |ORDER BY set_op""".stripMargin

  // --------------------------------------------------------------- B36
  /** Time-series gap filling (forward fill) — the dense-spine op
    * every monitoring/finance table needs before resampling or
    * joining on time: per user, the hourly value rollup is stretched
    * over that user's FULL hour range (sequence-exploded spine, no
    * generator UDF), hours without activity carry the last known
    * value forward (`last(ignoreNulls)` over the user window) and
    * are flagged `filled`. No self-join, no driver loop: spine
    * build, join and fill are all user-keyed.
    *
    * 100 TB: one (user, hour) rollup shuffle + one user-keyed spine
    * join + one user window; spine size is span-bounded per user
    * (hours, not events), and the fill is O(1)/row state in the
    * window — the same shape works partitioned by any entity key. */
  def qWindowGapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = graft.Tables.events(s, dir)
      .groupBy($"user_id", date_trunc("hour", $"ts").as("hour"))
      .agg(money(sum($"value")).as("v"))
    val spine = hourly.groupBy($"user_id")
      .agg(min($"hour").as("h0"), max($"hour").as("h1"))
      .select($"user_id",
        explode(sequence($"h0", $"h1", expr("INTERVAL 1 HOUR"))).as("hour"))
    spine.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("filled", $"v".isNull)
      .withColumn("v", last($"v", ignoreNulls = true).over(
        Window.partitionBy($"user_id").orderBy($"hour")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select($"user_id",
        date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
        $"v", $"filled")
      .orderBy($"user_id", $"hour")
  }
  val qWindowGapFillSql: String =
    """WITH h AS (SELECT user_id, date_trunc('hour', ts) AS hour,
      |    floor(sum(value) * 100 + 0.5) / 100 AS v
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
      |  FROM h GROUP BY 1),
      |sp AS (SELECT user_id,
      |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM b),
      |j AS (SELECT sp.user_id, sp.hour, h.v, h.v IS NULL AS filled
      |  FROM sp LEFT JOIN h ON sp.user_id = h.user_id
      |    AND sp.hour = h.hour),
      |f AS (SELECT user_id, hour,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY hour ROWS UNBOUNDED PRECEDING) AS v,
      |    filled
      |  FROM j)
      |SELECT user_id, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
      |  v, filled
      |FROM f ORDER BY user_id, hour""".stripMargin

  // --------------------------------------------------------------- B37
  /** Event-type transition matrix (the next-event / Markov-chain
    * table behind session-flow dashboards and path analysis): for
    * each ordered per-user event pair (lead over ts with event_id
    * tie-break), count (from_type → to_type) and the row-conditional
    * probability P(to | from) in ppm.
    *
    * 100 TB: ONE user-keyed exchange feeds the lead window (event
    * sequencing is per-user state, exactly the sessionize shape);
    * the pair rollup map-side combines to |types|² rows and the
    * conditional normalization is a window over that tiny matrix —
    * never over events. */
  def qEventTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = userTimeline(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("p_ppm",
        floor($"n" * 1000000.0 /
          sum($"n").over(Window.partitionBy($"from_type")) + 0.5)
          .cast("long"))
      .orderBy($"from_type", $"to_type")
  }
  val qEventTransitionsSql: String =
    s"""WITH seq AS (SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events WHERE $userTimelineSql),
      |p AS (SELECT event_type AS from_type, to_type, count(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(floor(n * 1000000.0
      |    / sum(n) OVER (PARTITION BY from_type) + 0.5) AS BIGINT)
      |    AS p_ppm
      |FROM p ORDER BY from_type, to_type""".stripMargin

  // --------------------------------------------------------------- B38
  /** TPC-H Q2 shape — min-cost supplier with join-back (no partsupp
    * table in this schema, so supply cost is derived from lineitem:
    * the min fixed-point unit price each supplier ever charged for
    * the part). For small STANDARD parts, find the cheapest EUROPE
    * supplier; ties broken by lowest suppkey via row_number.
    * 100 TB: the (part, supplier) cost rollup is ONE map-side-
    * combinable shuffle on the fact; region→nation→supplier is a
    * broadcast chain onto that rollup's output; the filtered part dim
    * is small → AQE broadcasts it; the per-part min + tie-break ride
    * one partkey exchange. Unit price is fixed-pointed to BIGINT
    * before min/equality so the join-back never compares floats. */
  def q2MinCostSupp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val euro = table(s, dir, "nation")
      .join(broadcast(table(s, dir, "region").filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val supp = table(s, dir, "supplier")
      .join(broadcast(euro), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val parts = table(s, dir, "part")
      .filter($"p_size" <= 10 && $"p_type" === "STANDARD")
      .select($"p_partkey", $"p_brand")
    // prune the fact BEFORE the rollup: the filtered part dim keeps ~3%
    // of partkeys, so a broadcast semi-join ahead of the (part, supp)
    // aggregate shrinks both the shuffle and the rollup state ~30× —
    // cost_fp per surviving key is unchanged (the filter is on the
    // part dim only, independent of the per-pair min)
    val cost = table(s, dir, "lineitem")
      .join(broadcast(parts.select($"p_partkey")),
        $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min(floor($"l_extendedprice" / $"l_quantity" * 10000 + 0.5)
        .cast("long")).as("cost_fp"))
    val w = Window.partitionBy($"l_partkey")
    cost.join(supp, $"l_suppkey" === $"s_suppkey")
      .join(parts, $"l_partkey" === $"p_partkey")
      .withColumn("best", min($"cost_fp").over(w))
      .filter($"cost_fp" === $"best")
      .withColumn("rnk", row_number().over(w.orderBy($"s_suppkey")))
      .filter($"rnk" === 1)
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey",
        $"p_brand", $"cost_fp")
      .orderBy($"s_acctbal".desc, $"p_partkey")
      .limit(100)
  }
  val q2MinCostSuppSql: String =
    """WITH rn AS (SELECT n_nationkey, n_name FROM nation
      |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
      |sp AS (SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN rn ON s_nationkey = n_nationkey),
      |pt AS (SELECT p_partkey, p_brand FROM part
      |  WHERE p_size <= 10 AND p_type = 'STANDARD'),
      |cost AS (SELECT l_partkey, l_suppkey,
      |    CAST(min(floor(l_extendedprice / l_quantity * 10000 + 0.5))
      |      AS BIGINT) AS cost_fp
      |  FROM lineitem GROUP BY 1, 2),
      |j AS (SELECT * FROM cost JOIN sp ON l_suppkey = s_suppkey
      |  JOIN pt ON l_partkey = p_partkey),
      |b AS (SELECT *, min(cost_fp) OVER (PARTITION BY l_partkey) AS best
      |  FROM j),
      |f AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
      |    ORDER BY s_suppkey) AS rnk
      |  FROM b WHERE cost_fp = best)
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost_fp
      |FROM f WHERE rnk = 1
      |ORDER BY s_acctbal DESC, p_partkey LIMIT 100""".stripMargin

  // --------------------------------------------------------------- B39
  /** TPC-H Q17 shape — per-group correlated scalar driving a filter:
    * revenue that would be lost by refusing small-quantity orders of
    * PROMO parts (lines with quantity below 20% of that part's mean
    * quantity), reported as avg yearly revenue. The "compare each row
    * against its group's statistic" primitive, done without the
    * correlated-subquery rescan: the mean rides a window over the
    * SAME partkey partition the join already produced.
    * 100 TB: one partkey exchange feeds the window; the part dim is
    * filter-pruned then broadcast; extendedprice is fixed-pointed to
    * cents BEFORE the order-free sum. Q17's literal form rescans
    * lineitem per part — this plan scans it once. */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val promo = table(s, dir, "part").filter($"p_type" === "PROMO")
      .select($"p_partkey")
    table(s, dir, "lineitem")
      .join(promo, $"l_partkey" === $"p_partkey")
      .withColumn("avg_qty",
        avg($"l_quantity").over(Window.partitionBy($"l_partkey")))
      .filter($"l_quantity" < $"avg_qty" * 0.2)
      .agg(count(lit(1)).as("n_lines"),
        (sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
          / lit(100.0) / lit(7.0)).as("avg_yearly"))
  }
  val q17SmallQtyRevenueSql: String =
    """WITH j AS (SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'PROMO'),
      |w AS (SELECT *, avg(l_quantity)
      |    OVER (PARTITION BY l_partkey) AS avg_qty
      |  FROM j)
      |SELECT count(*) AS n_lines,
      |  CAST(sum(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
      |    / 100.0 / 7.0 AS avg_yearly
      |FROM w WHERE l_quantity < avg_qty * 0.2""".stripMargin

  // --------------------------------------------------------------- B40
  /** TPC-H Q19 shape — disjunctive bracket predicates: revenue from
    * three OR'd (brand, size-range, quantity-range) brackets spanning
    * BOTH join sides. The point is what the optimizer does with the
    * OR: Catalyst's CNF conversion extracts the common implications —
    * brand IN (3 brands) AND size BETWEEN 1..15 push to the part
    * scan, quantity BETWEEN 1..30 pushes to the lineitem scan — so
    * each side is pruned before the join even though no single
    * bracket alone is pushable.
    * 100 TB: filter-pruned part side broadcasts; one scan each side;
    * the residual OR evaluates post-join in codegen. */
  def q19DisjunctiveBrackets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .join(table(s, dir, "part"), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#1" && $"p_size".between(1, 5) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#2" && $"p_size".between(1, 10) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) &&
          $"l_quantity".between(20, 30)))
      .agg(count(lit(1)).as("n_lines"),
        money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")))
          .as("revenue"))
  }
  val q19DisjunctiveBracketsSql: String =
    """SELECT count(*) AS n_lines,
      |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
      |    AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // --------------------------------------------------------------- B41
  /** TPC-H Q21 shape — suppliers who kept orders waiting: late lines
    * (shipped >1400 days after the order date — this schema has no
    * commit/receipt dates, so lateness is ship lag) on multi-supplier
    * finished orders where NO other supplier was late. Q21's literal
    * form is an EXISTS plus a NOT EXISTS, each a correlated rescan of
    * lineitem; here both collapse into ONE per-order rollup —
    * n_supp ≥ 2 ⇔ the EXISTS, n_late_supp = 1 ⇔ the NOT EXISTS
    * (l1's own supplier is late, so "exactly one late supplier" means
    * "no OTHER late supplier"). The DuckDB oracle runs the literal
    * EXISTS/NOT EXISTS form, so the rewrite's equivalence is what the
    * hash match proves.
    * 100 TB: one orderkey rollup (map-side-combinable distincts over
    * ~4 suppliers/order) + one orderkey join back, instead of two
    * correlated fact self-joins; the nation-filtered supplier dim
    * broadcasts. */
  def q21WaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lateLine = $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 1400 DAYS")
    val base = table(s, dir, "lineitem")
      .join(table(s, dir, "orders").filter($"o_orderstatus" === "F"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey", lateLine.as("late"))
    val perOrder = base.groupBy($"l_orderkey")
      .agg(countDistinct($"l_suppkey").as("n_supp"),
        countDistinct(when($"late", $"l_suppkey")).as("n_late_supp"))
    val n3supp = table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation").filter($"n_name" === "NATION_3")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    base.filter($"late")
      .join(perOrder, Seq("l_orderkey"))
      .filter($"n_supp" >= 2 && $"n_late_supp" === 1)
      .join(broadcast(n3supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(100)
  }
  val q21WaitingSupplierSql: String =
    """SELECT s_name, count(*) AS numwait FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
      |WHERE l1.l_shipdate > o_orderdate + INTERVAL 1400 DAY
      |AND EXISTS (SELECT 1 FROM lineitem l2
      |  WHERE l2.l_orderkey = l1.l_orderkey
      |    AND l2.l_suppkey <> l1.l_suppkey)
      |AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
      |  WHERE l3.l_orderkey = l1.l_orderkey
      |    AND l3.l_suppkey <> l1.l_suppkey
      |    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 1400 DAY)
      |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  // --------------------------------------------------------------- B42
  /** TPC-H Q10 shape — returned-item revenue: the top customers by
    * revenue lost to returns ('R' lines) on orders placed in one
    * quarter. The canonical "fact ⋈ two dims ⋈ broadcast dim → rollup
    * → top-k" report.
    * 100 TB: the order-date filter prunes orders BEFORE the fact join
    * (PushedFilters on the orders scan), the returnflag filter prunes
    * lineitem at its scan; the only big shuffle is
    * lineitem⋈orders on orderkey; customer joins the already-reduced
    * per-customer rollup (AQE broadcasts the rollup when it fits);
    * nation is hint-broadcast (25 rows at any SF); top-20 is a
    * TakeOrderedAndProject, never a global sort. */
  def q10ReturnedRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = table(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-04-01").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey")
    val ret = table(s, dir, "lineitem").filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val perCust = ret.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(money(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")))
        .as("revenue"))
    perCust
      .join(table(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(table(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"revenue", $"c_acctbal", $"n_name")
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }
  val q10ReturnedRevenueSql: String =
    """WITH pc AS (SELECT o_custkey,
      |    floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
      |      AS revenue
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1)
      |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
      |FROM pc JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- B43
  /** TPC-H Q14 shape — promo revenue share: what fraction of one
    * month's discounted revenue came from PROMO parts. The
    * conditional-aggregate-over-a-join primitive: ONE scan, ONE join,
    * both the branch and the total in the same rollup (Q14's literal
    * form writes a CASE inside sum — same thing, no second pass).
    * 100 TB: the ship-date month prunes lineitem at the scan; part
    * joins broadcast-side (only partkey+type read — column pruning);
    * revenue is fixed-pointed to cents BIGINT before the order-free
    * sum, the share is integer-ratio ppm so the single output row is
    * bit-identical on both engines. */
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100 + 0.5)
      .cast("long")
    table(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-06-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-07-01").cast("timestamp"))
      .join(table(s, dir, "part"), $"l_partkey" === $"p_partkey")
      .agg(
        sum(when($"p_type" === "PROMO", cents).otherwise(lit(0L)))
          .as("promo_cents"),
        sum(cents).as("total_cents"))
      .select(($"promo_cents" / 100.0).as("promo_revenue"),
        ($"total_cents" / 100.0).as("total_revenue"),
        // ppm through DECIMAL(38): cents × 1e6 exceeds 2^63 once the
        // branch passes ~9.2e12 cents ($92B) — far below the 100 TB
        // revenue totals (~2.2e18 cents). A BIGINT multiply there
        // aborts under ANSI Spark (wraps silently on legacy non-ANSI),
        // and the old double-divide form could round across the floor
        // on either engine. Exact, returns BIGINT.
        expr("cast(promo_cents as decimal(38,0)) * 1000000 div total_cents")
          .as("promo_ppm"))
  }
  val q14PromoShareSql: String =
    """WITH j AS (SELECT p_type,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
      |      AS BIGINT) AS cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-06-01'
      |    AND l_shipdate < TIMESTAMP '1996-07-01'),
      |a AS (SELECT
      |    sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
      |      AS promo_cents,
      |    sum(cents) AS total_cents FROM j)
      |SELECT promo_cents / 100.0 AS promo_revenue,
      |  total_cents / 100.0 AS total_revenue,
      |  CAST(CAST(promo_cents AS HUGEINT) * 1000000 // total_cents
      |    AS BIGINT) AS promo_ppm
      |FROM a""".stripMargin

  // --------------------------------------------------------------- B44
  /** TPC-H Q15 shape — top supplier(s) by quarterly revenue: the
    * "create view revenue0, keep rows equal to its global max" query.
    * The literal form computes the view twice (once for the max, once
    * to filter); here the per-supplier rollup is computed ONCE and the
    * global max rides a window over it — ties kept, exactly like Q15.
    * 100 TB: one map-side-combinable suppkey rollup over the pruned
    * quarter; the all-rows window runs over |suppliers| rows, not the
    * fact; revenue compares as fixed-point cents so the max-equality
    * never tests floats. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = table(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100 + 0.5)
        .cast("long")).as("rev_cents"))
    rev.withColumn("best", max($"rev_cents").over(Window.partitionBy()))
      .filter($"rev_cents" === $"best")
      .join(table(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", ($"rev_cents" / 100.0).as("total_revenue"))
      .orderBy($"s_suppkey")
  }
  val q15TopSupplierSql: String =
    """WITH rev AS (SELECT l_suppkey,
      |    CAST(sum(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5))
      |      AS BIGINT) AS rev_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY 1),
      |b AS (SELECT *, max(rev_cents) OVER () AS best FROM rev)
      |SELECT s_suppkey, s_name, rev_cents / 100.0 AS total_revenue
      |FROM b JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_cents = best ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------------------- B45
  /** TPC-H Q16 shape — supplier diversity per part class: how many
    * DISTINCT suppliers can deliver each (brand, type, size) class,
    * excluding one brand, one type, and a supplier deny-list (Q16's
    * complaint suppliers — modeled as s_acctbal < 2000, non-vacuous at
    * every SF). The schema has no partsupp table, so the part-supplier
    * relation is derived from lineitem — itself a distinct rollup.
    * 100 TB: the (partkey, suppkey) distinct is ONE map-side-
    * combinable shuffle of two keys (the fact's columns never move);
    * the deny-list is a broadcast anti join on the rollup, not the
    * fact; the final count-distinct groups by part attrs after a
    * broadcast join to the pruned part dim. */
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ps = table(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey").distinct()
    val deny = table(s, dir, "supplier").filter($"s_acctbal" < 2000)
      .select($"s_suppkey")
    val parts = table(s, dir, "part")
      .filter($"p_brand" =!= "Brand#5" && $"p_type" =!= "PROMO" &&
        $"p_size".between(1, 10))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    ps.join(broadcast(deny), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(parts, $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }
  val q16SupplierCntSql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ok AS (SELECT * FROM ps WHERE l_suppkey NOT IN
      |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000))
      |SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM ok JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size BETWEEN 1 AND 10
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // --------------------------------------------------------------- B46
  /** TPC-H Q8 shape — national market share: of the revenue ASIA
    * customers generated per order year, what ppm came from
    * NATION_12 suppliers? The two-role dimension pattern: nation
    * joins TWICE under different roles (customer's nation filtered
    * through region, supplier's nation tagged for the share), which
    * is why the dims are aliased broadcasts, not a reused scan.
    * 100 TB: one orderkey shuffle joins the two facts; customer and
    * supplier resolve via broadcast chains onto it; share is a
    * conditional aggregate over the SAME rollup (no second pass),
    * cents fixed-pointed before the order-free sum, ppm integer. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asiaCust = table(s, dir, "customer")
      .join(broadcast(table(s, dir, "nation")
        .join(broadcast(table(s, dir, "region").filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val supp = table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation")
        .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))),
        $"s_nationkey" === $"sn_key")
      .select($"s_suppkey", $"supp_nation")
    val cents = floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100 + 0.5)
      .cast("long")
    table(s, dir, "lineitem")
      .join(table(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(asiaCust, $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(sum(when($"supp_nation" === "NATION_12", cents).otherwise(lit(0L)))
        .as("nation_cents"), sum(cents).as("total_cents"))
      .select($"o_year",
        ($"nation_cents" / 100.0).as("nation_revenue"),
        ($"total_cents" / 100.0).as("total_revenue"),
        // DECIMAL(38) ppm — same overflow/rounding rationale as Q14
        expr("cast(nation_cents as decimal(38,0)) * 1000000 div total_cents")
          .as("share_ppm"))
      .orderBy($"o_year")
  }
  val q8MarketShareSql: String =
    """WITH ac AS (SELECT c_custkey FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
      |sp AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey),
      |j AS (SELECT year(o_orderdate) AS o_year, supp_nation,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
      |      AS BIGINT) AS cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN ac ON o_custkey = c_custkey
      |  JOIN sp ON l_suppkey = s_suppkey),
      |a AS (SELECT o_year,
      |    sum(CASE WHEN supp_nation = 'NATION_12' THEN cents ELSE 0 END)
      |      AS nation_cents,
      |    sum(cents) AS total_cents
      |  FROM j GROUP BY 1)
      |SELECT o_year, nation_cents / 100.0 AS nation_revenue,
      |  total_cents / 100.0 AS total_revenue,
      |  CAST(CAST(nation_cents AS HUGEINT) * 1000000 // total_cents
      |    AS BIGINT) AS share_ppm
      |FROM a ORDER BY o_year""".stripMargin

  // --------------------------------------------------------------- B47
  /** TPC-H Q9 shape — product-line profit by supplier nation and
    * year: revenue minus supply cost for LARGE parts, where supply
    * cost (no partsupp in this schema) is B38's derived unit-cost
    * rollup joined BACK onto the fact — the fact-sized-dimension
    * join Q9 actually stresses.
    * 100 TB: the (part, supplier) cost rollup is one map-side-
    * combinable shuffle of the fact's keys; the join back is
    * (partkey, suppkey)-keyed (co-partitioned with the rollup);
    * part dim prunes at its scan then broadcasts; revenue and cost
    * are fixed-pointed at 1e4 before the order-free BIGINT sum. */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem")
    val largeParts = table(s, dir, "part").filter($"p_type" === "LARGE")
      .select($"p_partkey")
    // prune the rollup input to LARGE partkeys up front (B38's r10
    // lesson): the filter is partkey-only, so every surviving
    // (part, supp) pair keeps ALL its rows and min is unchanged —
    // the rollup shuffles ~1/6 of the fact's keys instead of all
    val cost = li
      .join(broadcast(largeParts), $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_partkey".as("cp"), $"l_suppkey".as("cs"))
      .agg(min(floor($"l_extendedprice" / $"l_quantity" * 10000 + 0.5)
        .cast("long")).as("cost_fp"))
    val supp = table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation")
        .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))),
        $"s_nationkey" === $"sn_key")
      .select($"s_suppkey", $"supp_nation")
    li.join(largeParts, $"l_partkey" === $"p_partkey")
      .join(table(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(cost, $"l_partkey" === $"cp" && $"l_suppkey" === $"cs")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .select($"supp_nation", year($"o_orderdate").as("o_year"),
        (floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000 + 0.5)
          .cast("long") -
          floor($"cost_fp" * $"l_quantity" + 0.5).cast("long")).as("profit_fp"))
      .groupBy($"supp_nation", $"o_year")
      .agg((sum($"profit_fp") / 10000.0).as("profit"))
      .orderBy($"supp_nation", $"o_year")
  }
  val q9ProductProfitSql: String =
    """WITH cost AS (SELECT l_partkey AS cp, l_suppkey AS cs,
      |    CAST(min(floor(l_extendedprice / l_quantity * 10000 + 0.5))
      |      AS BIGINT) AS cost_fp
      |  FROM lineitem GROUP BY 1, 2),
      |sp AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey),
      |j AS (SELECT supp_nation, year(o_orderdate) AS o_year,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)
      |      AS BIGINT)
      |    - CAST(floor(cost_fp * l_quantity + 0.5) AS BIGINT) AS profit_fp
      |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN cost ON l_partkey = cp AND l_suppkey = cs
      |  JOIN sp ON l_suppkey = s_suppkey)
      |SELECT supp_nation, o_year,
      |  CAST(sum(profit_fp) AS BIGINT) / 10000.0 AS profit
      |FROM j GROUP BY 1, 2 ORDER BY supp_nation, o_year""".stripMargin

  // --------------------------------------------------------------- B48
  /** TPC-H Q12 shape — shipping-lag service classes (the schema has
    * no shipmode, so the class IS the measured lag): per lag bucket
    * (fast ≤ 730 days, slow above), how many critical-priority vs
    * other orders shipped in it. Q12's exact output contract:
    * conditional counts over one fact join, bucket derived in-row.
    * 100 TB: lag arithmetic is an exact calendar-day diff at scan
    * parallelism; one orderkey shuffle; two-group rollup combines
    * map-side to nothing. */
  def q12ShipLagPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lagDays = datediff($"l_shipdate".cast("date"), $"o_orderdate".cast("date"))
    val crit = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    table(s, dir, "lineitem")
      .join(table(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy(when(lagDays <= 730, "fast").otherwise("slow").as("lag_class"))
      .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        // same CASE shape as `high`, NOT `when(!crit, ...)`: a NULL
        // priority makes !crit NULL → counted in NEITHER bucket, while
        // the oracle's ELSE branch counts it low. Unknown priority is
        // "not high" → low, spelled identically on both engines.
        sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"lag_class")
  }
  val q12ShipLagPrioritySql: String =
    """SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
      |    CAST(l_shipdate AS DATE)) <= 730 THEN 'fast' ELSE 'slow' END
      |    AS lag_class,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY lag_class""".stripMargin

  // --------------------------------------------------------------- B49
  /** TPC-H Q4 shape — EXISTS over the fact table driving a priority
    * histogram: orders placed in a 3-month window that had at least
    * one line shipped more than 30 days after the order date (the
    * schema has no commit/receipt dates, so "late" is ship-lag >30d —
    * same correlated-EXISTS structure). The date window pushes to the
    * orders parquet scan (PushedFilters), the EXISTS compiles to a
    * LEFT SEMI join so duplicate matching lines are never
    * materialized, and the residual ship-lag predicate rides the join.
    * 100 TB: only the 3-month order slice shuffles; the 5-group agg is
    * map-side combined. On a date-partitioned lake layout the window
    * also prunes order partitions outright. */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = table(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-07-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-10-01").cast("timestamp"))
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val lines = table(s, dir, "lineitem").select($"l_orderkey", $"l_shipdate")
    orders.join(lines,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }
  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- B50
  /** TPC-H Q6 — the pure scan-aggregate: forecast-revenue change from
    * one year of discounted small-quantity lines. Deliberately join-
    * free so the plan IS the scale story: every predicate (shipdate
    * range, discount band, quantity cap) pushes to the parquet scan,
    * ReadSchema is 4 columns of 11, and the single agg is map-side
    * partial — at 100 TB this runs at IO speed with a 1-row exchange.
    * Revenue is fixed-pointed per row (price×discount at 1e4) before
    * the order-free BIGINT sum. */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
        $"l_discount".between(0.02, 0.04) && $"l_quantity" < 24)
      .agg(
        (sum(floor($"l_extendedprice" * $"l_discount" * 10000 + 0.5)
          .cast("long")) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n_lines"))
  }
  val q6ForecastRevenueSql: String =
    """SELECT CAST(sum(floor(l_extendedprice * l_discount * 10000 + 0.5))
      |    AS BIGINT) / 10000.0 AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin

  // --------------------------------------------------------------- B51
  /** TPC-H Q11 shape — group rollup gated by a global scalar: parts
    * whose lineitem value exceeds 1.5× the mean part value ("value
    * concentration"; the schema has no partsupp, so value is shipped
    * revenue, and the fraction is data-derived instead of Q11's
    * SF-scaled constant — same HAVING-over-global-aggregate
    * structure). The rollup is ONE partkey exchange with map-side
    * combine, PERSISTED because it feeds two consumers (the scalar
    * and the gate) — Catalyst plans each branch separately and would
    * otherwise re-scan the fact table for the 1-row total (verified
    * with explain: two parquet scans without the persist, one with).
    * The cache is parts-dimension-sized (key + BIGINT per part), the
    * classic "cache the rollup, never rescan the facts" trade; the
    * global total/count then broadcasts as one row, and the threshold
    * compare is integer fixed-point with an integral-divide mean so
    * no float crosses the gate. 100 TB: the cached rollup is ~100s of
    * MB across the cluster vs a second 100 TB scan. */
  def q11ValueConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = table(s, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(sum(floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100
        + 0.5).cast("long")).as("value_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = v.agg(sum($"value_fp").as("total_fp"),
      count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(tot))
      // total_fp is the WHOLE corpus's 100-scaled revenue (~2.2e18 at
      // 100 TB) — ×3 as BIGINT overflows 2^63 (ANSI abort / legacy
      // wrap); widen to DECIMAL(38)
      .filter($"value_fp" >
        expr("cast(total_fp as decimal(38,0)) * 3 div (n_parts * 2)"))
      .select($"l_partkey".as("p_partkey"), $"value_fp")
      .orderBy($"value_fp".desc, $"p_partkey")
  }
  val q11ValueConcentrationSql: String =
    """WITH v AS (SELECT l_partkey,
      |    CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5))
      |      AS BIGINT) AS value_fp
      |  FROM lineitem GROUP BY 1),
      |s AS (SELECT sum(value_fp) AS total_fp, count(*) AS n_parts FROM v)
      |SELECT l_partkey AS p_partkey, value_fp
      |FROM v, s
      |WHERE value_fp > CAST(total_fp AS HUGEINT) * 3 // (n_parts * 2)
      |ORDER BY value_fp DESC, p_partkey""".stripMargin

  // --------------------------------------------------------------- B52
  /** TPC-H Q20 shape — nested semi-join with a correlated volume
    * threshold: ASIA suppliers who DOMINATE some SMALL part's shipped
    * volume (supplier's quantity >3× the part's mean per-supplier
    * quantity; no partsupp/availqty in this schema, so dominance
    * replaces Q20's "stock > half the shipped volume" — same
    * supplier-qualifies-via-part-level-aggregate nesting). The
    * (part, supplier) rollup shuffles once on partkey; the part total
    * and supplier count ride a window over that same partition (no
    * rescan); the dominant-supplier set then SEMI-joins the supplier
    * dim with the region chain broadcast. 100 TB: lineitem is touched
    * once, pre-filtered by the broadcast SMALL-part dim. */
  def q20DominantSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val small = table(s, dir, "part").filter($"p_type" === "SMALL")
      .select($"p_partkey")
    val ps = table(s, dir, "lineitem")
      .join(broadcast(small), $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum(floor($"l_quantity").cast("long")).as("qty"))
    val w = Window.partitionBy($"l_partkey")
    val dom = ps
      .withColumn("part_qty", sum($"qty").over(w))
      .withColumn("ns", count(lit(1)).over(w))
      .filter($"qty" * $"ns" * 10 > $"part_qty" * 30)
      .select($"l_suppkey").distinct()
    val asia = table(s, dir, "nation")
      .join(broadcast(table(s, dir, "region").filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey")
    table(s, dir, "supplier")
      .join(broadcast(asia), $"s_nationkey" === $"n_nationkey")
      .join(dom, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"s_acctbal")
      .orderBy($"s_suppkey")
  }
  val q20DominantSupplierSql: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |    CAST(sum(floor(l_quantity)) AS BIGINT) AS qty
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'SMALL' GROUP BY 1, 2),
      |w AS (SELECT *, sum(qty) OVER (PARTITION BY l_partkey) AS part_qty,
      |    count(*) OVER (PARTITION BY l_partkey) AS ns
      |  FROM ps),
      |dom AS (SELECT DISTINCT l_suppkey FROM w
      |  WHERE qty * ns * 10 > part_qty * 30)
      |SELECT s_suppkey, s_name, s_acctbal
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN dom ON s_suppkey = l_suppkey
      |WHERE r_name = 'ASIA'
      |ORDER BY s_suppkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q4_order_priority" -> (q4OrderPriority _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q11_value_concentration" -> (q11ValueConcentration _),
    "q20_dominant_supplier" -> (q20DominantSupplier _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q12_ship_lag_priority" -> (q12ShipLagPriority _),
    "q10_returned_revenue" -> (q10ReturnedRevenue _),
    "q14_promo_share" -> (q14PromoShare _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "q2_min_cost_supp" -> (q2MinCostSupp _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q19_disjunctive_brackets" -> (q19DisjunctiveBrackets _),
    "q21_waiting_supplier" -> (q21WaitingSupplier _),
    "q_event_transitions" -> (qEventTransitions _),
    "q_window_gap_fill" -> (qWindowGapFill _),
    "q_sketch_set_ops" -> (qSketchSetOps _),
    "q_retention_cohorts" -> (qRetentionCohorts _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_funnel_steps" -> (qFunnelSteps _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_interval_merge" -> (qIntervalMerge _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q13_custdist" -> (q13Custdist _),
    "q22_global_scalar_anti" -> (q22GlobalScalarAnti _),
    "q_skew_salted_join" -> (qSkewSaltedJoin _),
    "q_json_extract" -> (qJsonExtract _),
    "q_time_window_frame" -> (qTimeWindowFrame _),
    "q_band_range_join" -> (qBandRangeJoin _),
    "q_sketch_distinct" -> (qSketchDistinct _),
    "q_sketch_quantiles" -> (qSketchQuantiles _),
    "q_first_last" -> (qFirstLast _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_percentiles" -> (qPercentiles _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_cube_segment" -> (qCubeSegment _),
    "q_skew_salted_distinct" -> (qSkewSaltedDistinct _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_unshipped" -> (q3TopUnshipped _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q_top_customers" -> (qTopCustomers _),
    "q_exists_semi" -> (qExistsSemi _),
    "q_not_exists_anti" -> (qNotExistsAnti _),
    "q_window_rank" -> (qWindowRank _),
    "q_running_total" -> (qRunningTotal _),
    "q_sessionize" -> (qSessionize _),
    "q_event_pivot" -> (qEventPivot _),
    "q_rollup_revenue" -> (qRollupRevenue _),
    "q_distinct_users" -> (qDistinctUsers _),
    "q_correlated_scalar" -> (qCorrelatedScalar _))

  val oracles: Map[String, String] = Map(
    "q4_order_priority" -> q4OrderPrioritySql,
    "q6_forecast_revenue" -> q6ForecastRevenueSql,
    "q11_value_concentration" -> q11ValueConcentrationSql,
    "q20_dominant_supplier" -> q20DominantSupplierSql,
    "q8_market_share" -> q8MarketShareSql,
    "q9_product_profit" -> q9ProductProfitSql,
    "q12_ship_lag_priority" -> q12ShipLagPrioritySql,
    "q10_returned_revenue" -> q10ReturnedRevenueSql,
    "q14_promo_share" -> q14PromoShareSql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q16_supplier_cnt" -> q16SupplierCntSql,
    "q2_min_cost_supp" -> q2MinCostSuppSql,
    "q17_small_qty_revenue" -> q17SmallQtyRevenueSql,
    "q19_disjunctive_brackets" -> q19DisjunctiveBracketsSql,
    "q21_waiting_supplier" -> q21WaitingSupplierSql,
    "q_event_transitions" -> qEventTransitionsSql,
    "q_window_gap_fill" -> qWindowGapFillSql,
    "q_sketch_set_ops" -> qSketchSetOpsSql,
    "q_retention_cohorts" ->
      s"""WITH ev AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day
        |  FROM events WHERE $userTimelineSql),
        |cohort AS (SELECT user_id, min(day) AS cohort_day
        |  FROM ev GROUP BY user_id),
        |sizes AS (SELECT cohort_day, count(*) AS cohort_size
        |  FROM cohort GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, day FROM ev),
        |m AS (SELECT c.cohort_day, a.day, count(*) AS n_active
        |  FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_day, day, n_active, cohort_size,
        |  CAST(n_active * 1000000 // cohort_size AS BIGINT)
        |    AS retention_ppm
        |FROM m JOIN sizes USING (cohort_day)
        |ORDER BY cohort_day, day""".stripMargin,
    "q_heavy_hitters" ->
      """WITH ev AS (SELECT CASE WHEN user_id % 5 < 2
        |    THEN CAST(user_id % 20 AS BIGINT)
        |    ELSE CAST(event_id % 5000 + 100 AS BIGINT) END AS merchant_id
        |  FROM events),
        |t AS (SELECT count(*) AS n FROM ev),
        |e AS (SELECT merchant_id, count(*) AS exact_count
        |  FROM ev GROUP BY 1)
        |SELECT merchant_id, exact_count,
        |  TRUE AS in_sketch, TRUE AS est_upper_ok, TRUE AS est_lower_ok
        |FROM e, t WHERE exact_count > n // 101
        |ORDER BY merchant_id""".stripMargin,
    "q_funnel_steps" ->
      """WITH a AS (SELECT user_id, ts, event_id, event_type,
        |    min(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER w AS t1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |b AS (SELECT user_id, ts, event_id, event_type, t1,
        |    min(CASE WHEN event_type = 'view' AND ts > t1
        |      AND ts <= t1 + INTERVAL 1 DAY THEN ts END) OVER w AS t2
        |  FROM a
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |c AS (SELECT user_id, t1, t2,
        |    min(CASE WHEN event_type = 'purchase' AND ts > t2
        |      AND ts <= t2 + INTERVAL 1 DAY THEN ts END) OVER w AS t3
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT user_id,
        |  CAST(CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS reached_signup,
        |  CAST(CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS reached_view,
        |  CAST(CASE WHEN min(t3) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS reached_purchase,
        |  CAST((CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN min(t3) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS depth
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_interval_merge" ->
      s"""WITH iv AS (
        |  SELECT user_id, ts, event_id,
        |    ts + (event_id % 97 + 3) * INTERVAL 1 MINUTE AS end_ts
        |  FROM events WHERE $userTimelineSql),
        |g AS (
        |  SELECT user_id, ts, event_id, end_ts,
        |    max(end_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max_end
        |  FROM iv),
        |s AS (
        |  SELECT user_id, ts, end_ts,
        |    sum(CASE WHEN prev_max_end IS NULL OR ts > prev_max_end
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS island
        |  FROM g)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS island_start,
        |  strftime(max(end_ts), '%Y-%m-%d %H:%M:%S') AS island_end
        |FROM s GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  floor(sum(volume) * 100 + 0.5) / 100 AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |      FROM customer c LEFT JOIN orders o
        |        ON c.c_custkey = o.o_custkey
        |       AND o.o_orderpriority <> '1-URGENT'
        |      GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q22_global_scalar_anti" ->
      """SELECT n_name, count(*) AS numcust,
        |  floor(sum(c_acctbal) * 100 + 0.5) / 100 AS totacctbal
        |FROM customer c JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_skew_salted_join" ->
      """WITH ev AS (SELECT event_id,
        |    CASE WHEN user_id % 5 < 4 THEN 7 ELSE user_id % 150 END
        |      AS merchant_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |dim AS (SELECT c_custkey AS merchant_id, c_mktsegment AS segment
        |        FROM customer WHERE c_custkey < 150)
        |SELECT segment, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents_total
        |FROM ev JOIN dim USING (merchant_id)
        |GROUP BY segment ORDER BY segment""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  count(k) AS n_with_k,
        |  CAST(sum(k) AS BIGINT) AS k_total,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_time_window_frame" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_hour,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_hour
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_band_range_join" ->
      """WITH ev AS (SELECT event_id, event_type, epoch_us(ts) AS tus,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |s AS (SELECT event_id AS s_id, tus AS s_tus FROM ev
        |      WHERE event_type = 'signup'),
        |p AS (SELECT event_id AS p_id, tus AS p_tus, cents FROM ev
        |      WHERE event_type = 'purchase'),
        |m AS (SELECT s_id, count(p_id) AS n_near,
        |        coalesce(sum(cents), 0) AS cents_near
        |      FROM s LEFT JOIN p ON abs(p_tus - s_tus) <= 300000000
        |      GROUP BY s_id)
        |SELECT s_id, n_near, CAST(cents_near AS BIGINT) AS cents_near
        |FROM m ORDER BY s_id""".stripMargin,
    "q_sketch_distinct" ->
      """SELECT * FROM (
        |  SELECT event_type AS scope, count(DISTINCT user_id) AS n_exact,
        |    TRUE AS sketch_ok
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'TOTAL', count(DISTINCT user_id), TRUE FROM events)
        |ORDER BY scope""".stripMargin,
    "q_sketch_quantiles" ->
      """SELECT o_orderpriority,
        |  floor(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS p50_exact,
        |  floor(quantile_cont(o_totalprice, 0.95) * 100 + 0.5) / 100 AS p95_exact,
        |  TRUE AS p50_ok, TRUE AS p95_ok
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_first_last" ->
      s"""WITH w AS (SELECT user_id, event_id, ts, event_type,
        |    first_value(event_type) OVER fr AS first_type,
        |    last_value(event_type) OVER fr AS last_type,
        |    nth_value(event_type, 2) OVER fr AS second_type,
        |    count(*) OVER fr AS n_events,
        |    epoch_us(last_value(ts) OVER fr)
        |      - epoch_us(first_value(ts) OVER fr) AS span_micros
        |  FROM events WHERE $userTimelineSql
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, first_type, last_type, second_type, n_events,
        |  span_micros, count(*) AS n_rows
        |FROM w GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY user_id""".stripMargin,
    "q_fuzzy_match" ->
      """SELECT p.c_custkey AS probe_key, c.c_custkey AS match_key,
        |  levenshtein(c.c_name, p.c_name) AS dist
        |FROM customer c CROSS JOIN customer p
        |WHERE p.c_custkey < 20 AND c.c_custkey <> p.c_custkey
        |  AND levenshtein(c.c_name, p.c_name) <= 2
        |ORDER BY probe_key, match_key""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderpriority,
        |  floor(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100 AS p50,
        |  floor(quantile_cont(o_totalprice, 0.9) * 100 + 0.5) / 100 AS p90,
        |  floor(quantile_cont(o_totalprice, 0.99) * 100 + 0.5) / 100 AS p99,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_topk_per_group" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |SELECT o_custkey, rank, o_orderkey,
        |  floor(o_totalprice * 100 + 0.5) / 100 AS totalprice
        |FROM r WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,
    "q_cube_segment" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)
        |HAVING count(*) > 0
        |ORDER BY segment, priority""".stripMargin,
    // ^ HAVING count(*) > 0 is a NO-OP on any populated input (every
    // cube group aggregates >= 1 row) and defines the EMPTY-input
    // semantics as Spark's: the Expand-based cube emits zero groups on
    // zero rows, where SQL's () grouping set would emit one (0, NULL)
    // row (r11 empty-input sweep)
    "q_skew_salted_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base_price,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS sum_disc_price,
        |  floor(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) * 100 + 0.5) / 100 AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  floor(avg(l_extendedprice) * 100 + 0.5) / 100 AS avg_price,
        |  floor(avg(l_discount) * 10000 + 0.5) / 10000 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_unshipped" ->
      """SELECT l_orderkey,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS revenue,
        |  CAST(o_orderdate AS DATE) AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |  floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN customer ON c_nationkey = s_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_top_customers" ->
      """SELECT c_custkey, c_name,
        |  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total_spent,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |HAVING count(*) >= 5
        |ORDER BY total_spent DESC, c_custkey LIMIT 20""".stripMargin,
    "q_exists_semi" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_not_exists_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_running_total" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    floor(sum(o_totalprice) * 100 + 0.5) / 100 AS rev
        |  FROM orders GROUP BY 1)
        |SELECT d, rev,
        |  floor(sum(rev) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS running_rev
        |FROM daily ORDER BY d""".stripMargin,
    "q_sessionize" ->
      s"""WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events WHERE $userTimelineSql),
        |s AS (
        |  SELECT user_id, ts, event_id, value,
        |    sum(CASE WHEN prev_ts IS NULL
        |             OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  floor(sum(value) * 100 + 0.5) / 100 AS session_value,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_event_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
        |  floor(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) * 100 + 0.5) / 100 AS purchase_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |  coalesce(n_name, 'ALL') AS nation_name,
        |  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |HAVING count(*) > 0
        |ORDER BY region_name, nation_name""".stripMargin,
    // ^ empty-input no-op guard — see q_cube_segment
    "q_distinct_users" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_correlated_scalar" ->
      """WITH aq AS (
        |  SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand,
        |  floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS total_below,
        |  count(*) AS n_lines
        |FROM lineitem JOIN aq ON l_partkey = ap_partkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity < avg_qty * 0.5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
