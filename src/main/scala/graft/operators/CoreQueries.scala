package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator battery: projection, filter, aggregate,
  * joins (inner/outer/semi/anti/cross), set ops, windows, CTE-shaped
  * compositions, rollup. Mirrors the reference's operator inventory
  * (SURVEY.md §2.2–§2.6; reference executor at
  * /root/reference/src/executor/query/select/mod.rs) re-expressed as
  * declarative DataFrame plans so Catalyst picks physical strategies.
  *
  * Scale notes (100 TB): every query here keeps filters/projections
  * at the scan (pushdown), broadcasts dimension tables explicitly,
  * and aggregates with partial (map-side) combine — no driver-side
  * collection anywhere.
  */
object CoreQueries {

  /** TPC-H Q1 shape: scan-filter-aggregate with partial aggregation.
    * Reference analogue: GROUP BY + SUM (select/mod.rs:76-134). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        avg(col("l_quantity")).as("avg_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        avg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Projection + filter: both must reach the parquet scan
    * (PushedFilters + pruned ReadSchema in the physical plan). */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-07-01") &&
        col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))

  /** TPC-H Q3 shape: 3-way join + agg + top-k.
    * Only the filtered *dimension* (customer) is broadcast — into the
    * orders fact scan; orders⋈lineitem then shuffle-joins on the order
    * key. (Round 1 broadcast the customer⋈orders OUTPUT — a fact-join
    * result that doesn't shrink with scale and would OOM the driver at
    * 100×.) TakeOrderedAndProject caps the sort at k. */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > lit("1997-01-01"))
    l.join(o.join(broadcast(c), c("c_custkey") === o("o_custkey"))
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Semi-join (EXISTS). The reference has no semi/anti joins
    * (SURVEY.md §2.3) — free extension surface in Spark. */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val bigLines = t(spark, dir, "lineitem").filter(col("l_quantity") > 45)
    o.join(bigLines, o("o_orderkey") === bigLines("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Anti-join (NOT EXISTS): customers with no orders. */
  def q5AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  /** TPC-H Q5 shape: 5-way star join, dims broadcast, revenue per
    * nation. Exercises multi-join planning (SURVEY.md §2.3). */
  def q6NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    val l = t(spark, dir, "lineitem")
    val s = t(spark, dir, "supplier")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** TPC-H Q6 shape: pure scan-filter-agg, fully pushed down. */
  def q7ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** MultiSQL integer-division semantics: `/` on two ints is integer
    * division, and AVG of an int column is SUM/COUNT in integer math
    * (reference value/methods/binary.rs:66-100, recipe/new.rs:117-130).
    * Spark `div` reproduces it; plain `/` would yield double. */
  def q8IntDivAvg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_linenumber"))
      .agg(
        sum(col("l_orderkey")).as("sum_ok"),
        count(lit(1)).as("n"))
      .select(col("l_linenumber"),
        expr("sum_ok div n").as("int_avg_orderkey"),
        col("n"))

  /** DISTINCT — the reference parses-and-ignores it (manual/mod.rs:47);
    * we honor it (documented divergence, SURVEY.md §2.4). */
  def q9Distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()

  /** COUNT(DISTINCT) — partial aggregation with distinct expansion. */
  def q10CountDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n"))

  /** ORDER BY with NULLS-LAST default — MultiSQL places NULLs last on
    * ASC (reference order.rs:84-104); Spark default is NULLS FIRST, so
    * we pin asc_nulls_last explicitly (SURVEY.md §1.2). */
  def q11OrderByNulls(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        nullif(col("l_discount"), lit(0.0)).as("disc_or_null"))
      .orderBy(col("disc_or_null").asc_nulls_last, col("l_orderkey").asc,
        col("l_linenumber").asc)

  /** Set ops: EXCEPT (distinct semantics, not the reference's
    * adjacent-dedup quirk — set_expr.rs:78-80, documented divergence). */
  def q12Except(spark: SparkSession, dir: String): DataFrame = {
    val rich = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val bigSpenders = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    rich.except(bigSpenders)
  }

  /** UNION ALL + INTERSECT over compatible shapes. */
  def q13UnionIntersect(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    val b = t(spark, dir, "orders").filter(col("o_totalprice") > 200000)
      .select(col("o_custkey"))
    a.intersect(b).union(
      t(spark, dir, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("o_custkey")))
  }

  /** Conditional aggregation (CASE WHEN inside agg). */
  def q14CaseAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(
        sum(when(col("o_orderpriority").startsWith("1"), 1).otherwise(0)).as("urgent_count"),
        sum(when(col("o_orderpriority").startsWith("5"), 1).otherwise(0)).as("low_count"),
        count(lit(1)).as("total"))

  /** Window: rank per partition + filter (top-3 customers by balance
    * per nation). Net-new surface — the reference has no window
    * functions (SURVEY.md §2.5).
    *
    * TWO-STAGE top-k, not one window over the 25-value nation key
    * (which sorts 1/25th of all customers per task at any cluster
    * size): stage 1 ranks within (salt, nation) — 64 balanced
    * sub-groups per nation, the q33/q34 salting pattern — and keeps
    * each sub-group's top 3, which every global top-3 row must be in;
    * stage 2 re-ranks the ≤ 64×3 survivors per nation. The ordering
    * is total (custkey tiebreak), so the result is identical. */
  def q15WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val ord = Seq(col("c_acctbal").desc, col("c_custkey").asc)
    val base = t(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
    val w = Window.partitionBy(col("c_nationkey")).orderBy(ord: _*)
    // Size gate (same knob as DistributedPrefix): an input that fits
    // one task doesn't need the salt stage's second exchange
    if (DistributedPrefix.isSmallInput(base))
      return base
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"), col("rn"))
    val salted = base
      .withColumn("salt", pmod(hash(col("c_custkey")), lit(64)))
    val wLoc = Window.partitionBy(col("salt"), col("c_nationkey"))
      .orderBy(ord: _*)
    val survivors = salted
      .withColumn("lrn", row_number().over(wLoc))
      .filter(col("lrn") <= 3)
    survivors
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"), col("rn"))
  }

  /** Window: running sum per key, deterministic frame via unique
    * (date, orderkey) ordering. */
  def q16WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .filter(col("o_custkey") <= 20)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("o_totalprice")).over(w).as("running_spend"))
  }

  /** q35: the rest of the window-function surface beyond q15's
    * ranking and q16's running frame — ntile, percent_rank,
    * cume_dist, lead/lag, nth_value — over one deterministic
    * per-status ordering (unique o_orderkey tiebreak, so every
    * function's output is total-order stable for the oracle).
    *
    * DERIVED from [[DistributedPrefix.rankedSlices]] rather than run
    * through `Window.partitionBy(o_orderstatus)`: a 3-value partition
    * key means the built-in WindowExec sorts the whole table in 3
    * tasks at any cluster size. Every function here reduces to the
    * distributed global rank plus broadcast-sized side tables:
    *  - ntile/percent_rank/cume_dist are pure (rank, n) arithmetic
    *    (exact integer bucket formula; the same (rank−1)/(n−1) and
    *    rank/n divisions the built-ins compute, so floats match
    *    bit-for-bit — the ordering is total, so there are no
    *    cume_dist peer groups to worry about);
    *  - lag/lead shift WITHIN each range-split slice; only each
    *    slice's edge rows consult the neighbor slice's boundary row,
    *    carried by a P×|status| broadcast;
    *  - nth_value(3) under its default running frame is NULL below
    *    rank 3, else the group's rank-3 value — one broadcast row
    *    per status. */
  def q35WindowSuite(spark: SparkSession, dir: String): DataFrame =
    windowSuiteOn(t(spark, dir, "orders")
      .filter(col("o_custkey") <= 50)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))

  /** Source-parameterized form of [[q35WindowSuite]] (also drives the
    * derived-vs-built-in parity spec at slice scale). */
  def windowSuiteOn(base: DataFrame): DataFrame = {
    // recomputeInput: a deterministic filter+3-column scan projection
    // — cheaper to re-derive per branch than to checkpoint (see
    // percentilesOn)
    val r = DistributedPrefix.rankedSlices(base, "o_orderstatus",
      Seq(col("o_totalprice").asc, col("o_orderkey").asc),
      DistributedPrefix.logSlice(col("o_totalprice")),
      "s", "loc", "cnt", "rn", "n", recomputeInput = true)
    // slice-local neighbor shift — same (slice, status) clustering
    // and ordering as the rank window, so no extra exchange or sort
    val wl = Window.partitionBy(col("s"), col("o_orderstatus"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val local = r
      .withColumn("prev_l", lag(col("o_totalprice"), 1).over(wl))
      .withColumn("next_l", lead(col("o_totalprice"), 1).over(wl))
    // per-slice boundary rows (first/last in order) → each slice
    // learns its neighbors' edge values through a tiny window by slice
    val bounds = r.groupBy(col("s"), col("o_orderstatus"))
      .agg(min(struct(col("o_totalprice"), col("o_orderkey"))).as("f"),
        max(struct(col("o_totalprice"), col("o_orderkey"))).as("l"))
    val wb = Window.partitionBy(col("o_orderstatus")).orderBy(col("s"))
    val edges = bounds
      .withColumn("prev_b", lag(col("l.o_totalprice"), 1).over(wb))
      .withColumn("next_b", lead(col("f.o_totalprice"), 1).over(wb))
      .select(col("s"), col("o_orderstatus"), col("prev_b"), col("next_b"))
    val third = r.filter(col("rn") === 3)
      .select(col("o_orderstatus").as("tstatus"),
        col("o_totalprice").as("third_v"))
    // ntile(4) exact integer formula: the first n%4 buckets hold
    // ceil(n/4) rows (lazy CASE guards the div when base = 0)
    val bse = expr("n div 4")
    val rem = col("n") % 4
    val quartile =
      when(col("rn") <= rem * (bse + 1L),
        expr("(rn - 1) div (n div 4 + 1) + 1"))
        .otherwise(rem + expr("(rn - n % 4 * (n div 4 + 1) - 1) div (n div 4)") + 1L)
    local
      .join(edges, Seq("s", "o_orderstatus"), "left")
      .join(third, col("o_orderstatus") === col("tstatus"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        quartile.cast("long").as("quartile"),
        when(col("n") === 1L, lit(0.0))
          .otherwise((col("rn") - 1L).cast("double") /
            (col("n") - 1L).cast("double")).as("pct_rank"),
        (col("rn").cast("double") / col("n").cast("double")).as("cum_dist"),
        when(col("loc") === 1L, col("prev_b"))
          .otherwise(col("prev_l")).as("prev_price"),
        when(col("loc") === col("cnt"), col("next_b"))
          .otherwise(col("next_l")).as("next_price"),
        when(col("rn") >= 3L, col("third_v")).as("third_price"))
  }

  def q35OracleSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cum_dist,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  nth_value(o_totalprice, 3) OVER w AS third_price
      |FROM orders WHERE o_custkey <= 50
      |WINDOW w AS (PARTITION BY o_orderstatus
      |  ORDER BY o_totalprice, o_orderkey)""".stripMargin

  /** CTE-shaped composition (TPC-H Q15 shape): revenue per supplier,
    * then keep the max. The reference materializes CTEs eagerly
    * (query/mod.rs:72-91); in Spark the CTE is just a shared subplan. */
  def q17CteMaxSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revenue = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("m"))
    revenue.join(broadcast(maxRev), col("total_revenue") === col("m"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** Scalar subquery: parts above average retail price. */
  def q18ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val avgPrice = p.agg(avg(col("p_retailprice")).as("ap"))
    p.join(broadcast(avgPrice), col("p_retailprice") > col("ap"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
  }

  /** IN-subquery → semi-join: customers of nations in ASIA. */
  def q19InSubquery(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    t(spark, dir, "customer")
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
  }

  /** HAVING (aggregate filter) — the reference only supports HAVING on
    * grouped columns (select/mod.rs:33-34); full aggregate-HAVING is
    * extension surface. */
  def q20Having(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_count"),
        sum(col("o_totalprice")).as("total_spend"))
      .filter(col("order_count") >= 3)

  /** Left outer join + null-handling aggregation: orders per nation
    * including nations with no customers. */
  def q21OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left_outer")
      .join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(
        count(col("o_orderkey")).as("order_count"),
        coalesce(sum(col("o_totalprice")), lit(0.0)).as("total_spend"))
  }

  /** ROLLUP hierarchy totals (region → nation). Extension surface:
    * the reference has no grouping sets (SURVEY.md §2.4). */
  def q22Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sum(col("c_acctbal")).as("total_bal"))

  /** Arbitrary GROUPING SETS (not a rollup/cube prefix pattern):
    * (status, priority) detail + per-priority totals + grand total,
    * via Spark 4's Dataset.groupingSets — same partial-aggregate
    * expansion as rollup/cube, one shuffle. */
  def q32GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total_price"))
  }

  /** Full outer join on aggregated sides: per-nation customer count vs
    * supplier count (some nations have one side only). */
  def q23FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cn = t(spark, dir, "customer").groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val sn = t(spark, dir, "supplier").groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** Cross join (small × small): region × order-status grid with
    * per-cell counts via a subsequent join. */
  def q24CrossJoin(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region").select(col("r_name"))
    val s = t(spark, dir, "orders").select(col("o_orderstatus")).distinct()
    r.crossJoin(s).orderBy(col("r_name"), col("o_orderstatus"))
  }

  /** String function battery: UPPER/LOWER/LEFT/RIGHT/REPLACE/CONCAT/
    * LEN — the reference's scalar set (SURVEY.md §2.7,
    * value/methods/utility.rs). LEN is byte-length there; data is
    * ASCII so length == octet_length (divergence documented). */
  def q25StringFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_partkey") <= 50)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_brand")).as("low_brand"),
        substring(col("p_name"), 1, 4).as("left4"),
        expr("substring(p_type, -3, 3)").as("right3"),
        regexp_replace(col("p_type"), lit(" "), lit("_")).as("type_snake"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"))

  /** Date/time function battery: YEAR/MONTH/DAY + date_trunc
    * (reference methods/timestamp.rs maps epoch-seconds; Spark native
    * timestamps are the idiomatic carrier). */
  def q26DateFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).as("month_total"))

  /** CUBE: all grouping combinations over (status, priority-class)
    * with grouping-id disambiguation — completes the grouping-sets
    * family next to q22's ROLLUP (extension surface; the reference
    * has no grouping sets, SURVEY.md §2.4). */
  def q28Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
      .cube(col("o_orderstatus"), col("prio"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
      .select(col("o_orderstatus"), col("prio"), col("n"), col("total"))

  /** Point find (BASELINE.md's `find` shape): key-equality lookup on
    * the smallest order key (scale-factor independent), pushed to the
    * scan — at scale this is partition/row-group pruning, not a full
    * pass. */
  def q29PointFind(spark: SparkSession, dir: String): DataFrame = {
    // The min-key probe is a DRIVER METADATA READ, not a Spark job:
    // parquet footers carry exact per-row-group min/max for int
    // columns — the same statistics a warehouse catalog serves — so
    // the probe costs one footer parse (~ms), and the whole query is
    // ONE job: a point-equality scan on a literal key, pushed to the
    // scan (row-group/partition pruning at scale, no join). Falls back
    // to a plain min aggregate, one more job (~0.1 s floor), if a
    // footer lacks statistics. */
    val l = t(spark, dir, "lineitem")
    val minKey = parquetFooterMin(spark, s"$dir/lineitem.parquet", "l_orderkey")
      .getOrElse(l.agg(min(col("l_orderkey"))).head().get(0))
    l.filter(col("l_orderkey") === lit(minKey))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
  }

  /** Exact MIN of an int64 column from parquet footer statistics —
    * every row group's stats min, reduced on the driver. Returns None
    * if any row group lacks stats (caller falls back to a Spark
    * aggregate). Handles both a single file and a directory of
    * part-files. */
  private def parquetFooterMin(spark: SparkSession, path: String,
                               column: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.map(_.getPath)
            .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        else Seq(p)
      val mins = files.flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(return None)
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) return None
          st.genericGetMin match {
            case l: java.lang.Long    => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case _                    => return None
          }
        }
        finally reader.close()
      }
      if (mins.isEmpty) None else Some(mins.min)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Exact-percentile ORACLE ANCHOR (linear interpolation) + spread
    * stats per group — the percentile family from the extension
    * surface (SURVEY.md §2.7 "absent whole categories").
    *
    * Formulated as a SLICED DISTRIBUTED SELECTION over
    * [[DistributedPrefix.rankedSlices]], not the built-in
    * `percentile` aggregate and not a per-group window sort:
    * `percentile` buffers every group value in one executor array
    * (OOM once a group holds billions of rows), and ranking via
    * row_number over a per-group window full-sorts each group in ONE
    * task — with a 3-value group key that is 3 tasks sorting the
    * whole table, at any cluster size. Here the value's own
    * log-bucket ([[DistributedPrefix.logSlice]], weakly monotone, no
    * range sampling) splits each group's ordered values into ~64
    * slices per octave; slice ranks plus broadcast offsets give the
    * global rank, and a broadcast join keeps only the 6 floor/ceil
    * target ranks per group (derived declaratively from the group
    * counts the stats pass already computes) before the
    * interpolating sum — term-for-term the Spark Percentile/DuckDB
    * quantile_cont arithmetic (lower·(hi−pos) + upper·(pos−lo)), so
    * the oracle hash still matches bit-exactly. ONE full-data
    * exchange; sort parallelism bounded by the value distribution,
    * never by group cardinality. q31's sketch remains the
    * single-pass 100 TB default; this is the exact tier done
    * scalably. */
  def q30Percentiles(spark: SparkSession, dir: String): DataFrame =
    // broadcastWanted: the DECLARED query's group column is
    // l_returnflag — a ≤3-value flag, problem knowledge the planner
    // lacks (guide §8) — so the wanted-rank table (6 rows/group) is
    // statically tiny and the hint removes the ranked value stream's
    // join exchange outright (round 20; AQE's runtime SMJ→BHJ rewrite
    // cannot un-write the corpus side's shuffle files, the same
    // limitation t17's gate documents).
    percentilesOn(t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")),
      broadcastWanted = true)

  /** Source-parameterized form of [[q30Percentiles]] over (g, v)
    * columns (also drives the NULL-group/edge-case spec).
    * `broadcastWanted = false` here: a facade caller's group column
    * has unknown cardinality, and the wanted table is 6 rows PER
    * GROUP — the AQE size gate (broadcast at sane group counts,
    * shuffle fallback over-limit) is the safe default; pass true only
    * when the group domain is known tiny. */
  def percentilesOn(base: DataFrame, broadcastWanted: Boolean = false): DataFrame = {
    // min/max/group presence come from the UNFILTERED rows, so a
    // group whose values are all NULL still appears (with NULL
    // percentiles) — matching the built-in aggregate and the oracle.
    // count(v) skips NULLs: exactly the ranked row population.
    val stats = base.groupBy(col("g"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(col("v")).as("n"))
    val l = base.filter(col("v").isNotNull)
    // recomputeInput: the input is a deterministic 2-column scan
    // projection — re-deriving it per branch is cheaper than writing
    // and re-reading a corpus-scale checkpoint, and the offsets
    // aggregate collapses to a map-side partial agg on the scan
    val r = DistributedPrefix.rankedSlices(l, "g", Seq(col("v")),
      DistributedPrefix.logSlice(col("v")), "s", "loc", "cnt", "rn", "nn",
      recomputeInput = true)
    // wanted 1-BASED global ranks + interpolation weights, 2 rows per
    // percentile per group, derived declaratively from n (no collect)
    val targets = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    val wantedStructs = targets.flatMap { case (p, tag) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      val lower = floor(pos)
      val higher = ceil(pos)
      Seq(
        struct(lit(tag).as("tag"), (lower + 1L).as("rank"),
          when(lower === higher, lit(1.0))
            .otherwise(higher.cast("double") - pos).as("w")),
        struct(lit(tag).as("tag"), (higher + 1L).as("rank"),
          when(lower === higher, lit(0.0))
            .otherwise(pos - lower.cast("double")).as("w")))
    }
    val wanted = stats
      .select(col("g").as("wg"), explode(array(wantedStructs: _*)).as("t"))
      .select(col("wg"), col("t.tag").as("tag"),
        col("t.rank").as("trank"), col("t.w").as("w"))
    // Broadcast hint only under the caller's known-tiny-group promise
    // (see broadcastWanted above); otherwise AQE broadcasts the
    // 6-rows-per-group table at sane group counts (plan-pinned) and
    // falls back to a shuffle join if a pathological group column
    // makes it over-limit.
    val wantedSide = if (broadcastWanted) broadcast(wanted) else wanted
    val hits = r.join(wantedSide,
      col("g") === col("wg") && col("rn") === col("trank"))
    def pct(tag: String, name: String) =
      sum(when(col("tag") === tag, col("v") * col("w"))
        .otherwise(lit(0.0))).as(name)
    val pcts = hits.groupBy(col("g"))
      .agg(pct("p50", "p50"), pct("p90", "p90"), pct("p99", "p99"))
    stats.join(pcts, Seq("g"), "left")
      .select(col("g").as("l_returnflag"),
        col("p50"), col("p90"), col("p99"), col("lo"), col("hi"))
  }

  /** Approx-percentile tier — the 100 TB default for the percentile
    * family. `approx_percentile` keeps a bounded-size mergeable
    * quantile summary per group (map-side partial agg, O(accuracy)
    * memory however large the group), where q30's exact form buffers
    * every value (executor OOM once one group holds billions of
    * rows). Accuracy 10⁴ bounds rank error to n/10⁴; sketches are
    * not bit-identical across engines, so the driver records the
    * rows-only check (no oracleSql entry) and ApproxPercentileSpec
    * pins the tolerance against the exact anchor. */
  def q31ApproxPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // ONE sketch queried at three ranks — three scalar
        // approx_percentile calls each build their own full summary
        // over every value (3x the build/merge cost: 12.3 s vs 2.2 s
        // on the 60M-row rung for identical output)
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)").as("ps"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .select(col("l_returnflag"),
        col("ps").getItem(0).as("p50"),
        col("ps").getItem(1).as("p90"),
        col("ps").getItem(2).as("p99"),
        col("lo"), col("hi"))

  /** q36: APPROX COUNT DISTINCT — the HyperLogLog++ sketch tier next
    * to q10's exact COUNT(DISTINCT). At 100 TB this is the cardinality
    * path: fixed-size sketches merge map-side, so the exchange carries
    * one sketch per group per partition instead of re-shuffling every
    * distinct value the way q10/q34 must. rsd = 0.02, decided round
    * 10 after two rounds at 0.01: registers scale as 1/rsd², so 0.02
    * quarters the sketch (~16k → ~4k registers) and its build/merge
    * cost, while 2% relative error is far inside what a cardinality
    * consumer (join planning, dedup sizing) needs — nobody plans a
    * shuffle differently over a 1% vs 2% estimate. No DuckDB oracle
    * by design (HLL implementations differ across engines);
    * ApproxDistinctSpec pins the estimate against the exact count
    * within a few multiples of the configured rsd, and the exact
    * per-group row counts anchor the grouping itself. */
  def q36ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
        count(lit(1)).as("n_rows"))

  /** CASE + CAST + BETWEEN battery (reference recipe/new.rs:218-270). */
  def q27CaseCast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 100000, "small")
          .when(col("o_totalprice").between(100000, 300000), "medium")
          .otherwise("large").as("size_class"),
        col("o_totalprice").cast("long").as("price_long"),
        col("o_orderstatus"))
}
