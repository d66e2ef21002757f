package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{Profiling, Tpch}

/** Layout diagnostics and the Q8-shape market share over planted fixtures
  * with hand-computable answers. */
class ProfilingSpec extends SparkSpec {

  test("skew profile buckets key counts by binary magnitude") {
    import spark.implicits._
    // 4 keys with 1 event (bucket 1), 2 keys with 3 (bucket 2 = [2,4)),
    // 1 key with 12 (bucket 4 = [8,16)). Total rows = 4 + 6 + 12 = 22.
    val events = (
      (1 to 4).map(u => (u.toLong, u.toLong)) ++
      (5 to 6).flatMap(u => Seq.fill(3)((u.toLong, u.toLong))) ++
      Seq.fill(12)((7L, 7L))
    ).zipWithIndex.map { case ((u, _), i) =>
      (i.toLong, new Timestamp(i * 1000L), u, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Profiling.skewProfile(events).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_keys"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("max_cnt"), r.getAs[Long]("rows_ppm"))).toMap
    assert(out.keySet == Set(1L, 2L, 4L))
    assert(out(1L) == (4L, 4L, 1L, 4L * 1000000 / 22))
    assert(out(2L) == (2L, 6L, 3L, 6L * 1000000 / 22))
    assert(out(4L) == (1L, 12L, 12L, 12L * 1000000 / 22))
  }

  test("column profile reports nulls, distincts, mode, and exact entropy") {
    import spark.implicits._
    import graft.ops.Profiling
    // o_orderstatus: A x4, B x2, C x2 (+1 null row). Entropy over {4,2,2}
    // with n=8: 4*floor(log2(2)) + 2*floor(log2(4)) + 2*floor(log2(4))
    // = 4 + 4 + 4 = 12 -> 1000*12/8 = 1500 millibits.
    val statuses = Seq("A", "A", "A", "A", "B", "B", "C", "C", null)
    val orders = statuses.zipWithIndex.map { case (s, i) =>
      (i.toLong % 3, s, "1-URGENT")
    }.toDF("o_custkey", "o_orderstatus", "o_orderpriority")
    val rows = Profiling.columnProfile(orders).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    val st = rows("o_orderstatus")
    assert(st.getAs[Long]("n_rows") == 9L)
    assert(st.getAs[Long]("n_nulls") == 1L)
    assert(st.getAs[Long]("n_distinct") == 3L)
    assert(st.getAs[Long]("entropy_millibits") == 1500L)
    assert(st.getAs[String]("top_value") == "A")
    assert(st.getAs[Long]("top_cnt") == 4L)
    // A constant column has zero entropy and itself as the mode.
    val pr = rows("o_orderpriority")
    assert(pr.getAs[Long]("entropy_millibits") == 0L)
    assert(pr.getAs[String]("top_value") == "1-URGENT")
  }

  test("column profile on an EMPTY table: zero counts, not nulls (oracle parity)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)]
      .toDF("o_custkey", "o_orderstatus", "o_orderpriority")
    val rows = Profiling.columnProfile(empty).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == 0L)
      // sum(when(...)) over zero rows is NULL in raw Spark; the profiler
      // coalesces so it matches DuckDB's count(*) WHERE ... = 0.
      assert(r.getAs[Long]("n_nulls") == 0L)
      assert(r.getAs[Long]("n_distinct") == 0L)
    }
  }

  test("analyzeTable-injected profile stats flip a selective join to broadcast under CBO") {
    val dir = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS cbo_orders")
    spark.sql(s"CREATE TABLE cbo_orders (o_orderkey BIGINT, o_custkey BIGINT, " +
      s"o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, " +
      s"o_orderpriority STRING) " +
      s"USING parquet LOCATION '$dir/orders.parquet'")
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "2000",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      def joinPlan = {
        val li = graft.sources.Tables.lineitem(spark, dir)
        val dim = spark.table("cbo_orders")
          .filter(col("o_custkey") === 421)
          .select(col("o_orderkey"), col("o_orderstatus"))
        li.join(dim, col("l_orderkey") === col("o_orderkey"))
          .queryExecution.executedPlan
      }
      // Without statistics the dim side is costed from file size scaled
      // by column pruning (~10 KB > the 2 KB threshold): shuffle join.
      val before = joinPlan
      assert(before.collect { case b: BroadcastHashJoinExec => b }.isEmpty,
        s"expected no broadcast before stats:\n$before")
      assert(before.collect { case s: SortMergeJoinExec => s }.nonEmpty)
      // Inject the profiler's numbers: o_custkey NDV makes the equality
      // filter selective, shrinking the estimated build side under the
      // threshold — the optimizer now broadcasts.
      graft.ops.Profiling.analyzeTable(spark, "cbo_orders")
      val after = joinPlan
      assert(after.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"expected broadcast after stats:\n$after")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS cbo_orders")
    }
  }

  test("equi-height histogram flips a skewed range filter that min/max cannot explain") {
    // 100k rows, 99% of custkeys at the TOP of the domain (1_000_000),
    // 1% spread over [1, 1000]. The predicate o_custkey <= 500_000 is
    // ~1% true, but from (min, max) alone the CBO's uniform assumption
    // estimates ~50% — numRows/NDV/min-max CANNOT see the skew, so the
    // dim side stays above the broadcast threshold. The injected
    // equi-height histogram concentrates nearly all bins at 1e6, the
    // range overlaps only a sliver of the first bin, and the same join
    // flips to broadcast.
    val dir = java.nio.file.Files.createTempDirectory("cbo_skew").toFile
    dir.deleteOnExit()
    spark.range(0, 100000).select(
        col("id").as("o_orderkey"),
        when(col("id") % 100 === 0, pmod(col("id"), lit(1000)) + 1)
          .otherwise(lit(1000000L)).as("o_custkey"))
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    spark.sql("DROP TABLE IF EXISTS cbo_skew")
    spark.sql(s"CREATE TABLE cbo_skew (o_orderkey BIGINT, o_custkey BIGINT) " +
      s"USING parquet LOCATION '${dir.getAbsolutePath}'")
    val confs = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "100000",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
      def joinPlan = {
        val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
        val dim = spark.table("cbo_skew")
          .filter(col("o_custkey") <= 500000)
          .select(col("o_orderkey"), col("o_custkey"))
        li.join(dim, col("l_orderkey") === col("o_orderkey"))
          .queryExecution.executedPlan
      }
      // numRows + NDV + min/max, NO histogram: uniform range selectivity
      // keeps the estimate ~50% of 100k rows — shuffle join.
      graft.ops.Profiling.analyzeTable(spark, "cbo_skew",
        Seq("o_custkey"), withHistograms = false)
      val without = joinPlan
      assert(without.collect { case b: BroadcastHashJoinExec => b }.isEmpty,
        s"expected no broadcast without histogram:\n$without")
      assert(without.collect { case s: SortMergeJoinExec => s }.nonEmpty)
      // Same stats + the equi-height histogram: the bins expose the skew.
      graft.ops.Profiling.analyzeTable(spark, "cbo_skew",
        Seq("o_custkey"), withHistograms = true)
      val withH = joinPlan
      assert(withH.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"expected broadcast with histogram:\n$withH")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS cbo_skew")
    }
  }

  test("histogram bins are equi-height with exact per-bin value counts") {
    import spark.implicits._
    // 64 distinct values, 16 rows each → with 64 bins every bin holds
    // exactly one value; height = n/64 = 16.
    val df = spark.range(0, 1024).select((col("id") % 64).as("k"))
    val h = graft.ops.Profiling.equiHeightHistogram(df, "k").get
    assert(h.height == 16.0)
    assert(h.bins.length == 64)
    assert(h.bins.map(_.ndv).sum == 64L)
    assert(h.bins.head.lo == 0.0 && h.bins.last.hi == 63.0)
    // empty input → no histogram, not a crash
    val empty = Seq.empty[Long].toDF("k")
    assert(graft.ops.Profiling.equiHeightHistogram(empty, "k").isEmpty)
    // non-finite values (NaN / ±Infinity) would poison the percentile
    // edges (the old SQL-spliced edge array produced unparseable 'NaND'
    // literals and threw the whole ANALYZE) — they're excluded and the
    // histogram covers the finite subset
    val nan = Seq(1.0, Double.NaN, 3.0).toDF("k")
    val hn = graft.ops.Profiling.equiHeightHistogram(nan, "k").get
    assert(hn.bins.head.lo == 1.0 && hn.bins.last.hi == 3.0)
    assert(hn.bins.map(_.ndv).sum == 2L)
    val inf = Seq(1.0, Double.PositiveInfinity, Double.NegativeInfinity).toDF("k")
    val hi = graft.ops.Profiling.equiHeightHistogram(inf, "k").get
    assert(hi.bins.head.lo == 1.0 && hi.bins.last.hi == 1.0)
    // a column with NO finite values → None, not a crash
    val allNan = Seq(Double.NaN, Double.PositiveInfinity).toDF("k")
    assert(graft.ops.Profiling.equiHeightHistogram(allNan, "k").isEmpty)
    // and finite doubles still build (the typedLit path, no SQL splice)
    val fin = Seq(1.5, 2.5, 3.5).toDF("k")
    assert(graft.ops.Profiling.equiHeightHistogram(fin, "k").isDefined)
  }

  test("market share attributes exact cent shares to the supplier nation") {
    import spark.implicits._
    val region = Seq((0L, "AMERICA"), (1L, "ASIA")).toDF("r_regionkey", "r_name")
    val nation = Seq((0L, "NATION_3", 0L), (1L, "NATION_9", 0L), (2L, "FAR", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq((10L, 0L), (11L, 2L)) // cust 11 outside AMERICA
      .toDF("c_custkey", "c_nationkey")
    val orders = Seq(
      (100L, 10L, Timestamp.valueOf("1995-06-01 00:00:00")),
      (101L, 10L, Timestamp.valueOf("1996-06-01 00:00:00")),
      (102L, 11L, Timestamp.valueOf("1995-06-01 00:00:00")), // wrong region
      (103L, 10L, Timestamp.valueOf("1998-06-01 00:00:00"))) // out of range
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val supplier = Seq((1000L, 0L), (1001L, 1L))
      .toDF("s_suppkey", "s_nationkey")
    // 1995: NATION_3 ships 10.00 of 30.00 → ⌊1e9/3e3⌋ ppm; 1996: all of it.
    val lineitem = Seq(
      (100L, 1000L, 10.0, 0.0), (100L, 1001L, 20.0, 0.0),
      (101L, 1000L, 40.0, 0.5),
      (102L, 1000L, 99.0, 0.0), (103L, 1000L, 99.0, 0.0))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val out = Tpch.marketShare(region, nation, customer, orders, lineitem, supplier)
      .collect().map(r => r.getAs[Long]("o_year") ->
        (r.getAs[Long]("total_cents"), r.getAs[Long]("nation_cents"),
          r.getAs[Long]("share_ppm"))).toMap
    assert(out.keySet == Set(1995L, 1996L))
    assert(out(1995L) == (3000L, 1000L, 1000L * 1000000 / 3000))
    assert(out(1996L) == (2000L, 2000L, 1000000L))
  }

  test("top orders rounds the exact revenue sum, not a double sum, to cents") {
    import spark.implicits._
    val customer = Seq((10L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
    val orders = Seq((100L, 10L, Timestamp.valueOf("1997-06-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    // 1.00·(1−0) + 2.19·(1−0.5) = 2.095 exactly, a half cent; the double
    // sum is 2.0949999999999998 and would round down to 2.09.
    val shipped = Timestamp.valueOf("1997-07-01 00:00:00")
    val lineitem = Seq((100L, 1.00, 0.00, shipped), (100L, 2.19, 0.50, shipped))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
    val out = Tpch.topOrders(customer, orders, lineitem).collect()
    assert(out.map(_.getAs[Double]("revenue")).toSeq == Seq(2.10))
  }
}
