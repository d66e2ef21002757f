package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Core relational analytics over the star schema: scan→filter→join→agg
  * shapes in their canonical Spark form.
  *
  * Design rules (the 100 TB story):
  *   - filters sit directly over the scan so they push into parquet;
  *   - dimension joins (`region`, `nation`) are explicitly `broadcast` —
  *     they are tiny and must never shuffle the fact side;
  *   - aggregations are expressed as `groupBy.agg` so Catalyst plans
  *     partial (map-side) aggregation before the exchange;
  *   - every output is deterministically ordered and doubles are rounded,
  *     so results hash-match an exact SQL oracle.
  *
  * All transforms are pure DataFrame → DataFrame functions (same discipline
  * as the reference's build_*_frame layer, reference:
  * src/streaming/transforms/kpi_aggregator.py:146-203).
  */
object Tpch {

  /** Pricing summary (TPC-H Q1 shape): single wide aggregation over the
    * largest table. One shuffle on the (tiny-cardinality) group key; all
    * aggregates computed map-side first.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Top unshipped-revenue orders (TPC-H Q3 shape): selective dimension
    * filter, two joins, top-k. `customer` filtered before the join so only
    * the matching segment shuffles. Revenue sums in DECIMAL(15,2) inputs
    * and rounds the exact sum to cents: a double sum depends on summation
    * order and can land on either side of a half cent.
    */
  def topOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame =
    customer
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
      .join(orders.filter(col("o_orderdate") < lit("1998-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_shipdate") > lit("1996-01-01")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(15,2)") *
          (lit(1) - col("l_discount").cast("decimal(15,2)"))), 2)
        .cast("double").as("revenue"))
      // Parquet timestamps load as TIMESTAMP_NTZ in Spark 4, and NTZ→BIGINT
      // is not a valid cast; route through LTZ (session tz is pinned UTC, so
      // this matches the oracle's epoch()::BIGINT exactly).
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").cast("long").as("o_epoch"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_epoch").asc, col("o_orderkey").asc)
      .limit(10)

  /** Regional revenue rollup (TPC-H Q5 shape): fact table joined through a
    * broadcast dimension chain customer→nation→region. The two dims are
    * broadcast (≤25 rows); only the customer join shuffles, and AQE may
    * broadcast that too at small SF.
    */
  def regionRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val asia = broadcast(region.filter(col("r_name") === "ASIA"))
    val dims = broadcast(nation.join(asia, col("n_regionkey") === col("r_regionkey")))
      .select("n_nationkey", "n_name")
    customer.select("c_custkey", "c_nationkey")
      .join(dims, col("c_nationkey") === col("n_nationkey"))
      .join(orders.filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  /** National market share (TPC-H Q8 shape): of all revenue from AMERICA
    * customers' 1995–1996 orders, the yearly fraction delivered by
    * suppliers of one nation. Exercises the two-sided dimension chain —
    * customer-side region gate AND supplier-side nation attribution on the
    * same fact row — that Q5's single chain doesn't. All four dims
    * broadcast (region/nation/supplier are tiny; the conditional share is
    * a when() inside one agg, not a second join pass). Revenue is
    * per-row floor(extprice·(1−disc)·100) integer cents: the doubles
    * multiply identically under IEEE on both engines and the floor pins
    * them, so the yearly sums and the ppm share are exact — no
    * round(sum(double)) half-boundary exposure.
    */
  def marketShare(region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val america = broadcast(region.filter(col("r_name") === "AMERICA"))
    val custNations = broadcast(
      nation.join(america, col("n_regionkey") === col("r_regionkey")))
      .select(col("n_nationkey").as("cust_nk"))
    val suppNation = broadcast(nation
      .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation")))
    customer.select(col("c_custkey"), col("c_nationkey"))
      .join(custNations, col("c_nationkey") === col("cust_nk"))
      .join(orders.filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("supp_nk"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long").as("cents"),
        col("supp_nation"))
      .groupBy(col("o_year"))
      .agg(sum(col("cents")).as("total_cents"),
        sum(when(col("supp_nation") === "NATION_3", col("cents"))
          .otherwise(0L)).as("nation_cents"))
      .select(col("o_year"), col("total_cents"), col("nation_cents"),
        expr("(nation_cents * 1000000) div total_cents").as("share_ppm"))
      .orderBy(col("o_year"))
  }

  /** Top customers per market segment: aggregate then rank, two-phase.
    *
    * A single `row_number` over `partitionBy(c_mktsegment)` funnels every
    * customer row through 5 tasks — a scale-killer at 100× customers. Phase 1
    * ranks within (segment, salt-bucket) partitions — parallel across
    * 5×64 keys — and keeps each bucket's local top-3, which provably contains
    * the global top-3. Phase 2 re-ranks the ≤ 5×64×3 survivors, which is
    * driver-trivial. Output is identical to the single-window plan.
    */
  def topCustomersPerSegment(customer: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val salts = 64
    val spend = orders.groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spend"),
        count(lit(1)).as("n_orders"))
    val joined = customer.select("c_custkey", "c_mktsegment")
      .join(spend, col("c_custkey") === col("o_custkey"))
    val localTop = joined
      .withColumn("salt", pmod(col("c_custkey"), lit(salts)))
      .withColumn("local_rnk", row_number().over(
        Window.partitionBy(col("c_mktsegment"), col("salt"))
          .orderBy(col("total_spend").desc, col("c_custkey").asc)))
      .filter(col("local_rnk") <= 3)
      .drop("salt", "local_rnk")
    localTop
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("total_spend").desc, col("c_custkey").asc))
        .cast("long"))
      .filter(col("rnk") <= 3)
      .select("c_mktsegment", "rnk", "c_custkey", "total_spend", "n_orders")
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  /** Orders with at least one returned line (semi-join shape): left_semi
    * keeps the probe side small — no fact-side row multiplication.
    */
  def priorityReturnCounts(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem.filter(col("l_returnflag") === "R").select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .orderBy(col("o_orderpriority"))

  /** Customers with no orders (anti-join shape): `left_anti` instead of a
    * NOT IN subquery — the anti join streams the fact side through a hash
    * lookup of the key set (one shuffle on the key, or none if the key side
    * broadcasts); a NOT IN on a nullable key degenerates to a
    * null-aware nested loop.
    */
  def inactiveCustomers(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(col("o_orderdate") >= lit("1998-01-01")).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_inactive"),
        min(col("c_custkey")).as("min_custkey"))
      .orderBy(col("c_mktsegment"))

  /** Order-count distribution (TPC-H Q13 shape): customers bucketed by how
    * many orders they placed, INCLUDING the zero bucket — the left outer
    * join is the load-bearing part (an inner join silently drops the
    * no-order customers, the classic distribution-query bug). Two
    * aggregations, both map-side combinable; the join is on the
    * high-cardinality customer key.
    */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders")) // count(col) skips nulls
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders").desc)

  /** Cheapest-supply-line-per-part (TPC-H Q2's correlated-min shape): the
    * correlated subquery `price = (SELECT min(price) ...)` re-expressed as
    * a min-aggregate joined back on (part, min-price) — the decorrelation
    * Spark's optimizer would have to find, written directly. Both sides
    * shuffle once on the part key; ties admit all minimal suppliers
    * (deterministic output via the final sort).
    */
  def cheapestSupplier(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val lines = lineitem.select(col("l_partkey"), col("l_suppkey"),
      col("l_extendedprice"))
    val minPrice = lines.groupBy(col("l_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    lines
      .join(minPrice, Seq("l_partkey"))
      .filter(col("l_extendedprice") === col("min_price"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("s_name"),
        round(col("l_extendedprice"), 2).as("price"))
      .distinct() // the same supplier may hit the minimum on several lines
      .orderBy(col("l_partkey"), col("s_name"))
  }

  /** Supplier diversity per part type (TPC-H Q16 shape): how many distinct
    * suppliers ship each part type — brand catalog breadth, computed as
    * dedup-then-count: the (type, supplier) distinct runs BEFORE the
    * count agg, so the count's shuffle carries one row per pair, not one
    * per lineitem. The part dim joins broadcast.
    */
  def partTypeSuppliers(part: DataFrame, lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), col("l_suppkey")).distinct()
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_suppliers"))
      .orderBy(col("n_suppliers").desc, col("p_type"))

  /** Column profile (the `describe` a pipeline snapshots before training):
    * per column — row count, null count, distinct count, min/max rendered
    * as strings. One unpivot (`stack`) then one groupBy: a single pass over
    * the table regardless of column count, where per-column queries would
    * rescan once per column.
    */
  def orderProfile(orders: DataFrame): DataFrame =
    // fan: the 4-way stack unpivot + distinct-count map pass ran on the
    // single scan task (profiled: 3.5 s single-task stage at sf0.1).
    Par.fan(orders)
      // doubles render via DECIMAL(18,2): Java and DuckDB double→string
      // rendering can disagree (exponent forms); decimal strings are exact
      // and identical on both engines.
      .select(expr(
        """stack(4,
          |  'o_custkey', cast(o_custkey as string),
          |  'o_orderpriority', o_orderpriority,
          |  'o_totalprice', cast(cast(o_totalprice as decimal(18,2)) as string),
          |  'o_orderdate', cast(cast(o_orderdate as date) as string)
          |) as (col_name, val)""".stripMargin))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("val")).as("n_distinct"),
        min(col("val")).as("min_val"),
        max(col("val")).as("max_val"))
      .orderBy(col("col_name"))

  /** Data-quality report: named rules evaluated in ONE pass as conditional
    * aggregates (no per-rule rescan), plus a referential-integrity rule as
    * a broadcast anti-join count. The violations frame is what gates a
    * pipeline run; rules that scan the same table fold into a single
    * aggregation by construction.
    */
  /** Promotion revenue share (TPC-H Q14 shape): conditional numerator over
    * a joined month of the fact table. The date filter sits on the scan
    * (parquet min/max pruning); `part` broadcasts; the ratio is one
    * conditional-sum pass — no second scan for the denominator.
    */
  def promoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-02-01"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))), 2).as("promo_revenue"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"),
        count(lit(1)).as("n_lines"))

  /** Disjunctive-predicate scan (TPC-H Q19 shape, single-table form): an
    * OR of conjunct ranges pushed INTO the parquet scan as one compound
    * filter — at 100 TB the row groups matching neither branch are never
    * decompressed. PlanSpec pins the pushed `Or(...)`.
    */
  def disjunctiveFilter(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        (col("l_quantity") >= 1 && col("l_quantity") <= 11 &&
          col("l_discount") < 0.05) ||
        (col("l_quantity") >= 20 && col("l_quantity") <= 30 &&
          col("l_discount") > 0.07))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("l_returnflag"))

  def dqReport(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val scanRules = orders.agg(
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_total"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      // fixed reference instant, not current_timestamp(): a DQ gate must be
      // reproducible (and the oracle must compute the identical bound)
      sum(when(col("o_orderdate") > lit("2026-01-01"), 1L).otherwise(0L))
        .as("future_orderdate"))
    val orphans = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitems"))
    scanRules.crossJoin(orphans)
      .select(expr(
        """stack(4,
          |  'nonpositive_total', nonpositive_total,
          |  'null_custkey', null_custkey,
          |  'future_orderdate', future_orderdate,
          |  'orphan_lineitems', orphan_lineitems
          |) as (rule, violations)""".stripMargin))
      .orderBy(col("rule"))
  }

  /** CUBE: all four grouping sets of (year, priority) — detail, each
    * one-dimension margin, and the grand total — in the same single-Expand
    * pass as [[orderPriorityRollup]]; ROLLUP's hierarchy becomes the full
    * cross of margins.
    */
  def orderPriorityCube(orders: DataFrame): DataFrame =
    orders
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .cube(col("o_year"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .select(col("gid"),
        coalesce(col("o_year"), lit(-1L)).as("o_year"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("total_value"))
      .orderBy(col("gid"), col("o_year"), col("o_orderpriority"))

  /** Quantile bucketing WITHOUT a global sort: `ntile(4)` over all
    * customers needs one totally-ordered partition (the single-task window
    * funnel this codebase bans); instead the per-segment quartile THRESHOLDS
    * are computed in an ordinary aggregation (exact `percentile` here for
    * oracle parity; `approx_percentile` at 100 TB), broadcast back, and each
    * row labels itself by comparison — two shuffles total, both on group
    * keys, nothing ordered globally.
    */
  def spendQuartiles(customer: DataFrame, orders: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    val seg = customer.select(col("c_custkey"), col("c_mktsegment"))
      .join(spend, col("c_custkey") === col("o_custkey"))
    val thresholds = seg.groupBy(col("c_mktsegment"))
      .agg(expr("percentile(spend, 0.25)").as("p25"),
        expr("percentile(spend, 0.5)").as("p50"),
        expr("percentile(spend, 0.75)").as("p75"))
    seg.join(broadcast(thresholds), "c_mktsegment")
      .select(col("c_mktsegment"), col("c_custkey"), col("spend"),
        when(col("spend") <= col("p25"), 1L)
          .when(col("spend") <= col("p50"), 2L)
          .when(col("spend") <= col("p75"), 3L)
          .otherwise(4L).as("quartile"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** Multi-level aggregation (ROLLUP): per (year, priority), per year, and
    * grand total in ONE pass — Catalyst expands the grouping sets and still
    * plans map-side partial aggregation, where three separate groupBys would
    * re-shuffle the fact table three times. Grouping columns are
    * null-marked at super-aggregate rows; both sides coalesce them to
    * sentinels so ordering and hashing are engine-independent.
    */
  def orderPriorityRollup(orders: DataFrame): DataFrame =
    orders
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .rollup(col("o_year"), col("o_orderpriority"))
      // grouping_id() is only resolvable inside the rollup's own aggregate.
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .select(col("gid"),
        coalesce(col("o_year"), lit(-1L)).as("o_year"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("total_value"))
      .orderBy(col("gid"), col("o_year"), col("o_orderpriority"))
}
