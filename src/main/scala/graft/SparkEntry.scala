package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.Tpch
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here twice:
  * as a Spark query (`queries`) and as equivalent ANSI SQL for the DuckDB
  * oracle (`oracleSql`). Column names and row order are deterministic and
  * identical on both sides so the driver's sorted-column hash compare
  * matches.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Tpch.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    relational ++ graft.ops.Frames.queries ++ graft.sources.Cdc.queries ++
      graft.ops.Activity.queries ++ graft.ops.Alerts.queries ++
      graft.ops.TextStats.queries ++ graft.ops.Dedup.queries ++
      graft.ops.Similarity.queries ++ graft.ops.Multimodal.queries ++
      graft.ops.Pipeline.queries ++ graft.ops.Temporal.queries ++
      graft.ops.RegionLookup.queries ++ graft.streaming.StreamJoins.queries ++
      graft.ops.Curation.queries ++ graft.ops.Mixing.queries ++
      graft.ops.Quantize.queries ++ graft.ops.IvfPqIndex.queries ++
      graft.ops.LshIndex.queries ++
      graft.functions.Sketches.queries ++
      graft.ops.Incremental.queries ++ graft.functions.Bitmaps.queries ++
      graft.sources.AvroCodec.queries ++ graft.sources.Gavro.queries ++
      graft.ops.Graph.queries ++ graft.ops.Profiling.queries ++
      graft.ops.Corpus.queries

  private def relational: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S9 payload shape: the KPI frame serialized exactly as the Kafka sink
    // sends it (key + to_json struct). Oracle-checked byte-for-byte: the
    // DuckDB side re-renders the JSON by concatenation (Frames.oracleSql),
    // which works because every double in the payload is round(x, 2).
    "kpi_kafka_payload" -> ((s, d) =>
      graft.streaming.KafkaStack.kpiKafkaPayload(
        graft.ops.Frames.kpiFrame(graft.sources.Tables.events(s, d)))
        .orderBy(col("key"))),
    "pricing_summary" -> ((s, d) => Tpch.pricingSummary(Tables.lineitem(s, d))),
    "top_orders" -> ((s, d) =>
      Tpch.topOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "region_revenue" -> ((s, d) =>
      Tpch.regionRevenue(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "market_share" -> ((s, d) =>
      Tpch.marketShare(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d))),
    "top_customers_per_segment" -> ((s, d) =>
      Tpch.topCustomersPerSegment(Tables.customer(s, d), Tables.orders(s, d))),
    "priority_return_counts" -> ((s, d) =>
      Tpch.priorityReturnCounts(Tables.orders(s, d), Tables.lineitem(s, d))),
    "inactive_customers" -> ((s, d) =>
      Tpch.inactiveCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    "order_priority_rollup" -> ((s, d) =>
      Tpch.orderPriorityRollup(Tables.orders(s, d))),
    "order_priority_cube" -> ((s, d) =>
      Tpch.orderPriorityCube(Tables.orders(s, d))),
    "spend_quartiles" -> ((s, d) =>
      Tpch.spendQuartiles(Tables.customer(s, d), Tables.orders(s, d))),
    "order_profile" -> ((s, d) => Tpch.orderProfile(Tables.orders(s, d))),
    "order_count_distribution" -> ((s, d) =>
      Tpch.orderCountDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    "cheapest_supplier" -> ((s, d) =>
      Tpch.cheapestSupplier(Tables.lineitem(s, d), Tables.supplier(s, d))),
    "part_type_suppliers" -> ((s, d) =>
      Tpch.partTypeSuppliers(Tables.part(s, d), Tables.lineitem(s, d))),
    // Custom whole-operator Catalyst extension (graft.plans.TopK): top-k
    // per group planned as partial+final bounded heaps around the group
    // exchange — shuffles ≤ P·G·k rows where the window form shuffles all.
    "topk_per_group" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      graft.plans.TopK.topKPerGroup(o, Seq("o_orderpriority"),
          Seq("o_totalprice" -> false, "o_orderkey" -> true), 3)
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    }),
    // Same top-k as above, but written as the STANDARD rank-filter window
    // query — the WindowTopKRewrite optimizer rule substitutes the custom
    // operator; a green oracle row here proves the rewrite is sound on a
    // query the user never changed (plan shape pinned in TopKSpec).
    "topk_window_rewrite" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .drop("rnk")
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    }),
    // Tie-keeping rank modes through the same rewrite: rank() keeps every
    // boundary tie (a group can emit more than k rows), dense_rank() keeps
    // all rows of the top-k DISTINCT order values. Both plan through the
    // TopK operator's treemap tie path; DuckDB recomputes the window
    // directly, so a hash match proves tie semantics, not just top-k.
    "topk_rank_ties" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.rank
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_quantity").desc)
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 2).drop("rnk")
        .orderBy(col("l_suppkey"), col("l_quantity").desc,
          col("l_orderkey"), col("l_linenumber"))
    }),
    "topk_dense_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.dense_rank
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_quantity").desc)
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("rnk", dense_rank().over(w)).filter(col("rnk") <= 2).drop("rnk")
        .orderBy(col("l_suppkey"), col("l_quantity").desc,
          col("l_orderkey"), col("l_linenumber"))
    }),
    "dq_report" -> ((s, d) =>
      Tpch.dqReport(Tables.orders(s, d), Tables.lineitem(s, d))),
    "promo_revenue" -> ((s, d) =>
      Tpch.promoRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "disjunctive_filter" -> ((s, d) =>
      Tpch.disjunctiveFilter(Tables.lineitem(s, d))),
    // Z-order layout key (graft.sources.Bucketing.zorderKey): the Morton
    // interleave itself, oracle-checked bit-for-bit; the layout writer and
    // its pruning/locality evidence live in BucketingSpec.
    "zorder_key" -> ((s, d) => {
      import org.apache.spark.sql.functions.{lit, pmod}
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(65536)).as("x"),
          pmod(col("o_custkey"), lit(65536)).as("y"))
      o.select(col("o_orderkey"), col("x"), col("y"),
          graft.sources.Bucketing.zorderKey(col("x"), col("y")).as("zkey"))
        .orderBy(col("o_orderkey"))
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = relationalOracle ++
    graft.ops.Frames.oracleSql ++ graft.sources.Cdc.oracleSql ++
    graft.ops.Activity.oracleSql ++ graft.ops.Alerts.oracleSql ++
    graft.ops.TextStats.oracleSql ++ graft.ops.Dedup.oracleSql ++
    graft.ops.Similarity.oracleSql ++ graft.ops.Multimodal.oracleSql ++
    graft.ops.Pipeline.oracleSql ++ graft.ops.Temporal.oracleSql ++
    graft.ops.RegionLookup.oracleSql ++ graft.streaming.StreamJoins.oracleSql ++
    graft.ops.Curation.oracleSql ++ graft.ops.Mixing.oracleSql ++
    graft.ops.Quantize.oracleSql ++ graft.ops.IvfPqIndex.oracleSql ++
    graft.ops.LshIndex.oracleSql ++
    graft.functions.Sketches.oracleSql ++ graft.ops.Incremental.oracleSql ++
    graft.functions.Bitmaps.oracleSql ++ graft.sources.AvroCodec.oracleSql ++
    graft.sources.Gavro.oracleSql ++ graft.ops.Graph.oracleSql ++
    graft.ops.Profiling.oracleSql ++ graft.ops.Corpus.oracleSql

  private def relationalOracle: Map[String, String] = Map(
    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "top_orders" ->
      """SELECT o_orderkey,
        |  epoch(o_orderdate)::BIGINT AS o_epoch,
        |  round(sum(l_extendedprice::DECIMAL(15,2)
        |    * (1 - l_discount::DECIMAL(15,2))), 2)::DOUBLE AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_epoch ASC, o_orderkey ASC
        |LIMIT 10""".stripMargin,
    "market_share" ->
      """WITH base AS (
        |  SELECT year(o.o_orderdate)::BIGINT AS o_year,
        |    floor(l.l_extendedprice * (1 - l.l_discount) * 100)::BIGINT AS cents,
        |    n2.n_name AS supp_nation
        |  FROM customer c
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |)
        |SELECT o_year, sum(cents)::BIGINT AS total_cents,
        |  sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)::BIGINT
        |    AS nation_cents,
        |  (sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)::BIGINT
        |    * 1000000 // sum(cents)::BIGINT) AS share_ppm
        |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin,
    "region_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "top_customers_per_segment" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    round(sum(o_totalprice), 2) AS total_spend,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey
        |), ranked AS (
        |  SELECT c_mktsegment,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY total_spend DESC, c_custkey ASC) AS rnk,
        |    c_custkey, total_spend, n_orders
        |  FROM customer JOIN spend ON c_custkey = o_custkey
        |)
        |SELECT c_mktsegment, rnk, c_custkey, total_spend, n_orders
        |FROM ranked WHERE rnk <= 3
        |ORDER BY c_mktsegment, rnk""".stripMargin,
    "priority_return_counts" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_value
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "inactive_customers" ->
      """SELECT c_mktsegment,
        |  count(*) AS n_inactive,
        |  min(c_custkey) AS min_custkey
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "order_priority_rollup" ->
      """SELECT grouping(o_year, o_orderpriority)::BIGINT AS gid,
        |  coalesce(o_year, -1) AS o_year,
        |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_value
        |FROM (SELECT year(o_orderdate)::BIGINT AS o_year, o_orderpriority, o_totalprice
        |      FROM orders)
        |GROUP BY ROLLUP(o_year, o_orderpriority)
        |ORDER BY gid, o_year, o_orderpriority""".stripMargin,
    "order_priority_cube" ->
      """SELECT grouping(o_year, o_orderpriority)::BIGINT AS gid,
        |  coalesce(o_year, -1) AS o_year,
        |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_value
        |FROM (SELECT year(o_orderdate)::BIGINT AS o_year, o_orderpriority, o_totalprice
        |      FROM orders)
        |GROUP BY CUBE(o_year, o_orderpriority)
        |ORDER BY gid, o_year, o_orderpriority""".stripMargin,
    "spend_quartiles" ->
      """WITH spend AS (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
        |  FROM orders GROUP BY o_custkey
        |), seg AS (
        |  SELECT c_mktsegment, c_custkey, spend
        |  FROM customer JOIN spend ON c_custkey = o_custkey
        |), thresholds AS (
        |  SELECT c_mktsegment,
        |    quantile_cont(spend, 0.25) AS p25,
        |    quantile_cont(spend, 0.5) AS p50,
        |    quantile_cont(spend, 0.75) AS p75
        |  FROM seg GROUP BY c_mktsegment
        |)
        |SELECT seg.c_mktsegment, c_custkey, spend,
        |  CASE WHEN spend <= p25 THEN 1
        |       WHEN spend <= p50 THEN 2
        |       WHEN spend <= p75 THEN 3
        |       ELSE 4 END::BIGINT AS quartile
        |FROM seg JOIN thresholds USING (c_mktsegment)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "order_count_distribution" ->
      """SELECT n_orders, count(*) AS n_customers FROM (
        |  SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY n_orders
        |ORDER BY n_customers DESC, n_orders DESC""".stripMargin,
    "cheapest_supplier" ->
      """WITH lines AS (
        |  SELECT l_partkey, l_suppkey, l_extendedprice FROM lineitem
        |), mn AS (
        |  SELECT l_partkey, min(l_extendedprice) AS min_price
        |  FROM lines GROUP BY l_partkey
        |)
        |SELECT DISTINCT l_partkey, s_name, round(l_extendedprice, 2) AS price
        |FROM lines
        |JOIN mn USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_extendedprice = min_price
        |ORDER BY l_partkey, s_name""".stripMargin,
    "part_type_suppliers" ->
      """SELECT p_type, count(*) AS n_suppliers FROM (
        |  SELECT DISTINCT p_type, l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |GROUP BY p_type
        |ORDER BY n_suppliers DESC, p_type""".stripMargin,
    "topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,
    "topk_window_rewrite" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,
    "topk_rank_ties" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC) AS rnk
        |  FROM lineitem)
        |WHERE rnk <= 2
        |ORDER BY l_suppkey, l_quantity DESC, l_orderkey, l_linenumber""".stripMargin,
    "topk_dense_rank" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC) AS rnk
        |  FROM lineitem)
        |WHERE rnk <= 2
        |ORDER BY l_suppkey, l_quantity DESC, l_orderkey, l_linenumber""".stripMargin,
    "order_profile" ->
      """WITH vals AS (
        |  SELECT 'o_custkey' AS col_name, o_custkey::VARCHAR AS val FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', (o_totalprice::DECIMAL(18,2))::VARCHAR FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', (o_orderdate::DATE)::VARCHAR FROM orders
        |)
        |SELECT col_name,
        |  count(*) AS n_rows,
        |  (sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_nulls,
        |  count(DISTINCT val) AS n_distinct,
        |  min(val) AS min_val,
        |  max(val) AS max_val
        |FROM vals GROUP BY col_name ORDER BY col_name""".stripMargin,
    "dq_report" ->
      """WITH scan AS (
        |  SELECT
        |    (sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END))::BIGINT AS nonpositive_total,
        |    (sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END))::BIGINT AS null_custkey,
        |    (sum(CASE WHEN o_orderdate > TIMESTAMP '2026-01-01 00:00:00'
        |      THEN 1 ELSE 0 END))::BIGINT AS future_orderdate
        |  FROM orders
        |), orphan AS (
        |  SELECT count(*) AS orphan_lineitems FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |)
        |SELECT rule, violations FROM (
        |  SELECT 'nonpositive_total' AS rule, nonpositive_total AS violations FROM scan
        |  UNION ALL SELECT 'null_custkey', null_custkey FROM scan
        |  UNION ALL SELECT 'future_orderdate', future_orderdate FROM scan
        |  UNION ALL SELECT 'orphan_lineitems', orphan_lineitems FROM orphan
        |) ORDER BY rule""".stripMargin,
    "promo_revenue" ->
      """SELECT
        |  round(sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) AS promo_revenue,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin,
    "disjunctive_filter" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE (l_quantity >= 1 AND l_quantity <= 11 AND l_discount < 0.05)
        |   OR (l_quantity >= 20 AND l_quantity <= 30 AND l_discount > 0.07)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "zorder_key" ->
      """SELECT o_orderkey, x, y,
        |  list_sum(list_transform(range(0, 16),
        |    i -> (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))::BIGINT AS zkey
        |FROM (
        |  SELECT o_orderkey, o_orderkey % 65536 AS x, o_custkey % 65536 AS y
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
  )
}
