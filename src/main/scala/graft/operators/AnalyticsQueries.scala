package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.QuerySpec
import graft.QueryHarness._

/** The beyond-reference analytics rows of the driver contract
  * (SURVEY.md §7.2 step 7): `agg_*` (TPC-H shapes, rollups, windows,
  * distributions), the join, basket, sequence, as-of and window rows.
  * Each row's build sits beside the DuckDB SQL that checks it. */
private[graft] object AnalyticsQueries {

  /** `seq_window_funnel` window: 6 hours in epoch micros — sized so the
    * sf0.01 events stream yields a mixed depth histogram (chains that
    * stall at every stage). */
  val FunnelWindowUs: Long = 6L * 3600 * 1000 * 1000

  /** `join_full_outer` gates: big-spender spend floor, active-user
    * event-count floor — chosen so both orphan sides are non-empty. */
  val SpendBar: Double = 3000000.0
  val ActiveBar: Long = 70L

  /** `interval_overlap_orders` bin width (days): ≥ the longest order
    * window (50 days), so every interval covers ≤ 2 bins. */
  val OrderWindowBinDays: Long = 64L

  /** Minimum co-occurrence count for `basket_frequent_pairs`. */
  val MinSupport: Long = 3L

  /** Session gap for `agg_sessionize`: 30 minutes in epoch MICROS.
    * The query sessionizes on µs-truncated event time: DuckDB timestamps
    * are µs-resolution, so feeding both engines identical µs values is
    * the only way boundaries and durations agree bit-for-bit (testdata
    * carries sub-µs nano components at some SFs). */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Revenue by nation (4-table join + aggregation): the
    * `agg_revenue_by_nation` row and `SparkEntry.entry`. */
  def aggRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o  = table(spark, dir, "orders")
    val c  = table(spark, dir, "customer")
    val n  = table(spark, dir, "nation")
    // nation is tiny — broadcast; customer⋈orders⋈lineitem shuffle on keys.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name"))
      .agg(
        // exact decimal accumulation (order-insensitive), double on output
        sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2))))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- Beyond-reference analytics (SURVEY.md §7.2 step 7) ----
    QuerySpec("agg_pricing_summary", ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base"),
          count(lit(1)).as("count_order"))
    }),
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
        "COUNT(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus")),
    QuerySpec("agg_revenue_by_nation", ((s, dir) => aggRevenueByNation(s, dir)),
      ("SELECT n.n_name, " +
        "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name")),
    QuerySpec("agg_top_orders", ((s, dir) => {
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    // TPC-H Q16-like: distinct suppliers per (brand, type) — the
    // count-distinct aggregation pattern (expand → two-level agg)
    QuerySpec("agg_supplier_variety", ((s, dir) => {
      val ps = table(s, dir, "part")
      table(s, dir, "lineitem")
        .join(ps, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
          count(lit(1)).as("n_lineitems"))
    }),
      ("SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt, " +
        "COUNT(*) AS n_lineitems FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand, p_type")),
    // TPC-H Q3 (shipping priority): revenue of not-yet-shipped order
    // segments — both fact-side filters sit ON THE SCANS (pushed-down
    // date predicates prune row groups before any join), the dimension
    // filter semi-reduces orders via the key join, and the top-10 is a
    // TakeOrdered (never a global sort). Ties on revenue break on the
    // order key so the row SET is deterministic.
    QuerySpec("agg_q3_shipping", ((s, dir) => {
      val cut = lit("1998-06-30").cast("timestamp")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = table(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = table(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2)))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
      ("""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-30'
         |  AND l_shipdate > TIMESTAMP '1998-06-30'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    // TPC-H Q5 (local supplier volume): the 6-way star with the extra
    // c_nationkey = s_nationkey co-membership condition — supplier and
    // customer must sit in the SAME nation, which rides the supplier
    // join as a second equality (one hash join, no post-filter product).
    // region/nation broadcast; the fact chain shuffles on its keys.
    QuerySpec("agg_q5_local_supplier", ((s, dir) => {
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = table(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val sup = table(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n = table(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA").select(col("r_regionkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2)))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),
      ("""SELECT n_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name""".stripMargin)),
    // TPC-H Q10 (returned-item customers): one quarter of orders joined
    // to only the RETURNED lineitems (both filters on the scans), rolled
    // up per customer, top-20 by lost revenue (TakeOrdered; key-ordered
    // tie-break keeps the set deterministic).
    QuerySpec("agg_q10_returns", ((s, dir) => {
      val l = table(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      val n = table(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2)))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
      ("""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-07-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    // 2-D Pareto front of parts (minimize price, maximize size) — the
    // distributed sort-sweep skyline: one hash collapse to distinct
    // costs, a two-phase prefix-max (never a single-task global
    // window), and a keyed join back. See operators/Skyline.
    QuerySpec("agg_pareto_front", ((s, dir) =>
      graft.operators.Skyline.front2d(
        table(s, dir, "part")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
        "p_retailprice", "p_size")),
      // quadratic NOT-EXISTS dominance — fine at oracle scale; the Spark
      // side is the distributed sort-sweep
      """SELECT p_partkey, p_retailprice, p_size FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))""".stripMargin),
    // TPC-H Q7-like: shipping volume between nation pairs by order
    // year — a two-dimension join-aggregate with integer-exact volume
    // (quantity sum) so the oracle hash cannot drift
    QuerySpec("agg_nation_traffic", ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val su = table(s, dir, "supplier")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("supp_nation"),
          col("c_nationkey").as("cust_nation"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("volume"),
          count(lit(1)).as("n_items"))
        .select(col("supp_nation"), col("cust_nation"), col("volume"), col("n_items"))
    }),
      ("SELECT s_nationkey AS supp_nation, c_nationkey AS cust_nation, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS volume, " +
        "COUNT(*) AS n_items FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE s_nationkey <> c_nationkey GROUP BY 1, 2")),
    // ROLLUP over (returnflag, linestatus): hierarchical subtotals in ONE
    // pass — Spark expands the grouping sets map-side, so the grand total
    // never costs a second scan; 'ALL' stands in for the rollup NULLs
    // (both columns are non-null in the data, so the encoding is lossless)
    QuerySpec("agg_rollup", ((s, dir) => {
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_items"))
    }),
      ("SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n_items FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)")),
    // per-customer running order total: the cumulative-window pattern.
    // One hash exchange on o_custkey, then each customer's history sums
    // in-partition; DECIMAL accumulation + a unique (date, key) sort
    // order make the running values exact and the hash reproducible
    QuerySpec("agg_running_total", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("run_total"),
          row_number().over(order).as("rn"))
    }),
      ("""SELECT o_orderkey, o_custkey,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER cum AS DOUBLE) AS run_total,
         |  row_number() OVER ord AS rn
         |FROM orders
         |WINDOW cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING),
         |  ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),
    // LEFT ANTI at the analytics layer: customers with no urgent orders,
    // counted per nation. The anti side ships only o_custkey (filter and
    // projection both push to the scan); at 1000× the anti join shuffles
    // on the key like any equi-join — no NOT IN rewrite blow-up
    QuerySpec("agg_no_urgent_customers", ((s, dir) => {
      val urgent = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      table(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
    }),
      ("SELECT c_nationkey, COUNT(*) AS n_customers FROM customer " +
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "GROUP BY c_nationkey")),
    // pivot: order counts per year × priority — Spark's pivot compiles to
    // ONE aggregate with conditional sums (no per-priority passes); the
    // explicit value list keeps the plan static and the columns named
    QuerySpec("agg_priority_pivot", ((s, dir) => {
      table(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .groupBy(col("yr"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("yr"), col("`1-URGENT`").as("urgent"), col("`2-HIGH`").as("high"),
          col("`3-MEDIUM`").as("medium"), col("`4-NOT SPECIFIED`").as("notspec"),
          col("`5-LOW`").as("low"))
    }),
      ("""SELECT year(o_orderdate) AS yr,
         |  SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS urgent,
         |  SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS high,
         |  SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS medium,
         |  SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS notspec,
         |  SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS low
         |FROM orders GROUP BY yr""".stripMargin)),
    // quartiles of the integral quantity column: percentile interpolation
    // lands on exact binary fractions (.25/.5/.75 of integer gaps), so the
    // doubles match DuckDB's quantile_cont bit-for-bit
    QuerySpec("agg_quartiles", ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("q1"),
          expr("percentile(l_quantity, 0.5)").as("med"),
          expr("percentile(l_quantity, 0.75)").as("q3"),
          count(lit(1)).as("n"))
    }),
      ("SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS q1, " +
        "quantile_cont(l_quantity, 0.5) AS med, quantile_cont(l_quantity, 0.75) AS q3, " +
        "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")),
    // decile revenue profile via the SCALABLE global rank: range exchange
    // + per-partition sorts + driver prefix sum over partition counts —
    // never Spark's single-task no-partition window (see GlobalRank)
    QuerySpec("agg_decile_profile", ((s, dir) => {
      val d = graft.operators.GlobalRank.withNtile(
        table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        Seq("o_totalprice", "o_orderkey"), buckets = 10, out = "decile")
      d.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("volume"))
    }),
      ("""WITH d AS (SELECT ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
         |  o_totalprice FROM orders)
         |SELECT decile, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS volume
         |FROM d GROUP BY decile""".stripMargin)),
    // TPC-H Q17-like decorrelated aggregate join: lineitems whose quantity
    // is below 20% of their part's average. The correlated subquery
    // becomes ONE per-part aggregate joined back; the threshold compare is
    // division-free integer-exact DECIMAL arithmetic (5·qty·cnt < Σqty)
    QuerySpec("agg_small_quantity_revenue", ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter((col("l_quantity") * 5).cast(DecimalType(18, 2)) * col("cnt") < col("sq"))
        .agg(count(lit(1)).as("n_small"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
    }),
      ("""WITH pa AS (SELECT l_partkey AS pk, COUNT(*) AS cnt,
         |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq FROM lineitem GROUP BY 1)
         |SELECT COUNT(*) AS n_small,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM lineitem JOIN pa ON l_partkey = pk
         |WHERE CAST(5 * l_quantity AS DECIMAL(18,2)) * cnt < sq""".stripMargin)),
    // CUBE over (returnflag, linestatus): all four grouping sets in ONE
    // pass (Spark expands map-side, like rollup), with grouping_id
    // distinguishing the subtotal level — same bitmask encoding as
    // DuckDB's GROUPING(a, b), so the oracle checks the id itself
    QuerySpec("agg_cube", ((s, dir) => {
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("sum_qty"), col("n_items"))
    }),
      ("SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        "GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n_items FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)")),
    // explicit GROUPING SETS — the mixed-granularity report neither
    // cube nor rollup can express: flag×status detail, per-ship-year
    // totals, and the grand total in ONE aggregation pass (one shuffle
    // with map-side partials across all three set expansions)
    QuerySpec("agg_grouping_sets", ((s, dir) => {
      val li = table(s, dir, "lineitem").withColumn("ship_year", year(col("l_shipdate")))
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("ship_year")), Seq()),
          col("l_returnflag"), col("l_linestatus"), col("ship_year"))
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          coalesce(col("ship_year").cast("string"), lit("ALL")).as("yr"),
          col("gid"), col("sum_qty"), col("n_items"))
    }),
      """WITH li AS (SELECT l_returnflag, l_linestatus,
        |              year(l_shipdate) AS ship_year, l_quantity FROM lineitem)
        |SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COALESCE(ship_year::VARCHAR, 'ALL') AS yr,
        |  GROUPING(l_returnflag, l_linestatus, ship_year)::BIGINT AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM li
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())""".stripMargin),
    // equi-width histogram profile of extendedprice: the data-profiling
    // primitive. Bin = floor(x / 1000) — one IEEE division + floor, bit-
    // identical in every engine, so bins never drift at the boundary.
    // ONE map-side-combinable aggregate: ~100 bins regardless of corpus
    // size, the shape that holds at 100 TB
    QuerySpec("agg_histogram", ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 1000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_items"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
    }),
      ("SELECT floor(l_extendedprice / 1000)::BIGINT AS bin, COUNT(*) AS n_items, " +
        "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM lineitem GROUP BY 1")),
    // semi-structured extraction: JSON props parsed in-plan
    // (get_json_object is codegen'd — no UDF, no schema inference pass)
    // and aggregated per event type; integer-exact stats
    QuerySpec("events_props_agg", ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      table(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    }),
      ("""SELECT event_type, count(*) AS n_events,
         |  count(json_extract_string(props, '$.k')) AS n_with_k,
         |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
         |  min(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
         |  max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
         |FROM events GROUP BY event_type""".stripMargin)),
    // staged conversion funnel signup → click → purchase: each stage is
    // min-ts-after-previous-stage — two key-partitioned joins + three
    // map-side-combinable min aggregates, no window, no ordering
    // sensitivity (min over µs-truncated ts is order-free)
    QuerySpec("agg_funnel", ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr(TsUsSql).as("tus"))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t1"))
      val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("tus") >= col("t1"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("tus") >= col("t2"))
        .groupBy(col("user_id")).agg(min(col("tus")).as("t3"))
      val total = e.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      total
        .crossJoin(s1.agg(count(lit(1)).as("n_signup")))
        .crossJoin(s2.agg(count(lit(1)).as("n_signup_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_signup_click_purchase")))
    }),
      ("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         |s1 AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING (user_id)
         |       WHERE event_type = 'click' AND tus >= t1 GROUP BY 1),
         |s3 AS (SELECT e.user_id, min(tus) AS t3 FROM e JOIN s2 USING (user_id)
         |       WHERE event_type = 'purchase' AND tus >= t2 GROUP BY 1)
         |SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
         |  (SELECT count(*) FROM s1) AS n_signup,
         |  (SELECT count(*) FROM s2) AS n_signup_click,
         |  (SELECT count(*) FROM s3) AS n_signup_click_purchase""".stripMargin)),
    // per-key group-size skew profile (the shuffle-planning diagnostic):
    // sizes are one map-side-combinable count; the stats pass aggregates
    // ~|keys| rows. Percentiles at binary fractions (.5/.75) keep the
    // interpolation IEEE-exact cross-engine
    QuerySpec("agg_key_skew", ((s, dir) => {
      val sizes = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
      sizes.agg(count(lit(1)).as("n_keys"),
        max(col("sz")).as("max_sz"),
        expr("percentile(sz, 0.5)").as("p50_sz"),
        expr("percentile(sz, 0.75)").as("p75_sz"),
        (sum(col("sz")).cast("double") / count(lit(1))).as("avg_sz"))
    }),
      ("""WITH sz AS (SELECT l_orderkey, count(*) AS sz FROM lineitem GROUP BY 1)
         |SELECT count(*) AS n_keys, max(sz) AS max_sz,
         |  quantile_cont(sz, 0.5) AS p50_sz, quantile_cont(sz, 0.75) AS p75_sz,
         |  sum(sz)::DOUBLE / count(*) AS avg_sz FROM sz""".stripMargin)),
    // Gini concentration of customer revenue: the sorted-rank identity
    // G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with ranks from the
    // range-partitioned GlobalRank (never a single-task global window);
    // moments accumulate in exact DECIMAL, ONE double division at the
    // end (both engines evaluate the identical IEEE expression)
    QuerySpec("agg_gini_revenue", ((s, dir) => {
      val x = table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("x"))
      val ranked = graft.operators.GlobalRank.withRank(x, Seq("x", "o_custkey"), "r")
      ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("total"),
        sum(col("r") * col("x")).as("rx"))
        .select(col("n"),
          round((lit(2.0d) * col("rx").cast("double") -
            (col("n") + 1).cast("double") * col("total").cast("double")) /
            (col("n").cast("double") * col("total").cast("double")), 6).as("gini"))
    }),
      ("""WITH x AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
         |      FROM orders GROUP BY 1),
         |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS r FROM x),
         |s AS (SELECT count(*) AS n, sum(x) AS total, sum(r * x) AS rx FROM r)
         |SELECT n, round((2.0 * CAST(rx AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(total AS DOUBLE))
         |  / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS gini FROM s""".stripMargin)),
    // the Lorenz curve behind that Gini: revenue share of each customer
    // DECILE (GlobalRank NTILE — the parallel two-phase rank, never a
    // single-task window over customers); the cumulative pass runs over
    // 10 metadata rows. cum_share is DECIMAL-exact until one division
    QuerySpec("agg_lorenz_deciles", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val x = table(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("x"))
      val d = graft.operators.GlobalRank.withNtile(x, Seq("x", "o_custkey"), 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"), sum(col("x")).as("rev"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.select(col("decile"), col("n_customers"),
          col("rev").cast("double").as("decile_revenue"),
          round(sum(col("rev")).over(w).cast("double") /
            sum(col("rev")).over(all).cast("double"), 6).as("cum_share"))
    }),
      ("""WITH x AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
         |      FROM orders GROUP BY 1),
         |d AS (SELECT x, ntile(10) OVER (ORDER BY x, o_custkey) AS decile FROM x),
         |g AS (SELECT decile, count(*) AS n_customers, sum(x) AS rev FROM d GROUP BY 1)
         |SELECT decile, n_customers, CAST(rev AS DOUBLE) AS decile_revenue,
         |  round(CAST(sum(rev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / CAST(sum(rev) OVER () AS DOUBLE), 6) AS cum_share
         |FROM g""".stripMargin)),
    // trailing 30-day spend per customer: the RANGE window frame (peers
    // by VALUE distance, not row count) — frame membership is a pure
    // function of the integer day, so ties need no ordering tiebreak and
    // the result is deterministic under any shuffle. One hash exchange
    // on o_custkey, in-partition sort, single window pass
    QuerySpec("agg_trailing_30d", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val day = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).cast("long")
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day")).rangeBetween(-29, 0)
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.as("day"), col("o_totalprice"))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double").as("trail_total"),
          count(lit(1)).over(w).as("trail_n"))
    }),
      ("""SELECT o_orderkey, o_custkey, (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS day,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_total,
         |  COUNT(*) OVER w AS trail_n
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY (o_orderdate::DATE - DATE '1970-01-01')::BIGINT
         |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin)),
    // big spenders FULL OUTER active users — the reconcile shape (ledger
    // vs telemetry) where either side may be missing; both aggregates
    // shuffle once on their key, the outer join on the shared id
    QuerySpec("join_full_outer", ((s, dir) => {
      val spend = table(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("spend"))
        .where(col("spend") > SpendBar)
      val active = table(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .where(col("n_events") >= ActiveBar)
      spend.join(active, col("o_custkey") === col("user_id"), "full_outer")
        .select(coalesce(col("o_custkey"), col("user_id")).as("id"),
          col("spend"), col("n_events"))
    }),
      s"""WITH s AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         |      FROM orders GROUP BY 1
         |      HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > $SpendBar),
         |a AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1 HAVING count(*) >= $ActiveBar)
         |SELECT coalesce(o_custkey, user_id) AS id, spend, n_events
         |FROM s FULL JOIN a ON o_custkey = user_id""".stripMargin),
    // variable-length interval intersection: per-customer order windows
    // (duration scales with priority) that collide in time — binned
    // equi-join on (customer, time-bin), never a per-key product
    QuerySpec("interval_overlap_orders", ((s, dir) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val sp = table(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey").as("ok"), day.as("lo"),
        (day + lit(10L) * substring(col("o_orderpriority"), 1, 1).cast("long")).as("hi"))
      graft.operators.IntervalJoin.selfOverlaps(
        sp, Seq("o_custkey"), "ok", "lo", "hi", binWidth = OrderWindowBinDays)
        .select(col("o_custkey"), col("id_a").as("o_a"), col("id_b").as("o_b"),
          col("overlap").as("overlap_days"))
    }),
      """WITH sp AS (SELECT o_custkey, o_orderkey AS ok,
        |  (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |  (o_orderdate::DATE - DATE '1970-01-01')::BIGINT
        |    + 10 * CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS hi
        |  FROM orders)
        |SELECT a.o_custkey, a.ok AS o_a, b.ok AS o_b,
        |  least(a.hi, b.hi) - greatest(a.lo, b.lo) AS overlap_days
        |FROM sp a JOIN sp b ON a.o_custkey = b.o_custkey AND a.ok < b.ok
        |  AND a.lo <= b.hi AND b.lo <= a.hi""".stripMargin),
    // cohort retention: users bucketed by first-active day, activity
    // counted per day offset — the product-analytics staple; (user, day)
    // is distinct first, so the count needs no distinct aggregate
    QuerySpec("agg_cohort_retention", ((s, dir) => {
      val d = table(s, dir, "events")
        .select(col("user_id"),
          expr(s"($TsUsSql) div $RangeJoinDayUs").as("day")).distinct()
      val f = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      d.join(f, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
    }),
      s"""WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // $RangeJoinDayUs AS day FROM events),
         |f AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1)
         |SELECT f.cohort, d.day - f.cohort AS day_offset, count(*) AS n_active
         |FROM d JOIN f ON d.user_id = f.user_id GROUP BY 1, 2""".stripMargin),
    // market-basket frequent pairs: parts co-ordered ≥ MinSupport times —
    // support counting over the same once-emitted pair stream as the
    // graph queries; one shuffle to count, the HAVING prunes the tail
    QuerySpec("basket_frequent_pairs", ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      lp.select(col("ok"), col("p").as("p_a"))
        .join(lp.select(col("ok").as("ok2"), col("p").as("p_b")),
          col("ok") === col("ok2") && col("p_a") < col("p_b"))
        .groupBy(col("p_a"), col("p_b")).agg(count(lit(1)).as("support"))
        .where(col("support") >= MinSupport)
    }),
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem)
         |SELECT a.p AS p_a, b.p AS p_b, count(*) AS support
         |FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
         |GROUP BY 1, 2 HAVING count(*) >= $MinSupport""".stripMargin),
    // association RULES over the frequent pairs: confidence in both
    // directions and lift, each an exact-integer numerator/denominator
    // with ONE double division (rank-preserving rational form — no
    // transcendentals); the basket total is a 1-row broadcast
    QuerySpec("basket_rules", ((s, dir) => {
      val lp = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val itemN = lp.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
      val pairs = lp.select(col("ok"), col("p").as("p_a"))
        .join(lp.select(col("ok").as("ok2"), col("p").as("p_b")),
          col("ok") === col("ok2") && col("p_a") < col("p_b"))
        .groupBy(col("p_a"), col("p_b")).agg(count(lit(1)).as("support"))
        .where(col("support") >= MinSupport)
      val baskets = lp.select(col("ok")).distinct()
        .agg(count(lit(1)).as("__n_baskets"))
      pairs
        .join(itemN.select(col("p").as("p_a"), col("n_item").as("__na")), Seq("p_a"))
        .join(itemN.select(col("p").as("p_b"), col("n_item").as("__nb")), Seq("p_b"))
        .crossJoin(broadcast(baskets))
        .select(col("p_a"), col("p_b"), col("support"),
          round(col("support").cast("double") / col("__na"), 4).as("conf_a_b"),
          round(col("support").cast("double") / col("__nb"), 4).as("conf_b_a"),
          round((col("support") * col("__n_baskets")).cast("double") /
            (col("__na") * col("__nb")), 4).as("lift"))
    }),
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
         |n AS (SELECT p, count(*) AS n_item FROM lp GROUP BY 1),
         |pr AS (SELECT a.p AS p_a, b.p AS p_b, count(*)::BIGINT AS support
         |       FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
         |       GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |t AS (SELECT count(DISTINCT ok) AS n_baskets FROM lp)
         |SELECT pr.p_a, pr.p_b, pr.support,
         |  round(pr.support::DOUBLE / na.n_item, 4) AS conf_a_b,
         |  round(pr.support::DOUBLE / nb.n_item, 4) AS conf_b_a,
         |  round((pr.support * t.n_baskets)::DOUBLE / (na.n_item * nb.n_item), 4) AS lift
         |FROM pr JOIN n na ON na.p = pr.p_a JOIN n nb ON nb.p = pr.p_b, t""".stripMargin),
    // sequential pattern mining: event-type transition counts (first-order
    // Markov edges) per user timeline — one window pass on the µs-truncated
    // (ts, event_id) order both engines agree on, then one count shuffle
    QuerySpec("seq_transition_counts", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type").as("next"),
          expr(TsUsSql).as("tus"))
        .withColumn("prev", lag(col("next"), 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    }),
      """WITH e AS (SELECT user_id, event_id, event_type AS next, epoch_us(ts) AS tus FROM events),
        |l AS (SELECT next, lag(next) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e)
        |SELECT prev, next, count(*) AS n FROM l WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin),
    // argmax-by-count: each user's dominant event type (ties break
    // lexicographically) — two-level aggregate + one per-key window
    QuerySpec("agg_mode_event_type", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = table(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
    }),
      """WITH c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |        row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        |      FROM c)
        |SELECT user_id, event_type AS mode_type, n FROM r WHERE rn = 1""".stripMargin),
    // Pearson correlation of quantity vs price per return flag, in
    // deterministic arithmetic: the five moment sums accumulate in exact
    // DECIMAL (order-insensitive), then ONE fixed IEEE expression over
    // their double casts — identical on any engine, so the oracle
    // hash-checks the correlation itself (a float-accumulated corr()
    // could never be)
    QuerySpec("agg_corr_pricing", ((s, dir) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_extendedprice").cast(DecimalType(18, 2))
      table(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"))
        .select(col("l_returnflag"),
          // round(…, 6) absorbs the one-ULP DECIMAL→DOUBLE conversion
          // divergence between engines (observed at sf0.001: DuckDB's
          // int128/pow10 path vs BigDecimal.doubleValue differ in the
          // last bit for some exact sums)
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"))
    }),
      """WITH m AS (SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  round(((n * sxy) - (sx * sy)) / (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy))), 6) AS corr_qty_price
        |FROM m""".stripMargin),
    // windowed ordered funnel (view → click → purchase within 6 h of
    // the chain's first step): earliest-continuation chains via one
    // forward as-of pass per step — never a per-user event product —
    // then the per-user max depth histogram
    QuerySpec("seq_window_funnel", ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), expr(TsUsSql).as("t"), col("event_type"))
      graft.operators.Funnel.windowFunnel(ev, "user_id", "t", "event_type",
          Seq("view", "click", "purchase"), FunnelWindowUs)
        .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
    }),
      (s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
         |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
         |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
         |vc AS (SELECT v.user_id, v.t AS t0, min(c.t) AS t1raw
         |       FROM v LEFT JOIN c ON c.user_id = v.user_id AND c.t >= v.t
         |       GROUP BY 1, 2),
         |vc2 AS (SELECT user_id, t0,
         |          CASE WHEN t1raw <= t0 + $FunnelWindowUs THEN t1raw END AS t1 FROM vc),
         |vcp AS (SELECT vc2.user_id, vc2.t0, vc2.t1, min(p.t) AS t2raw
         |        FROM vc2 LEFT JOIN p ON p.user_id = vc2.user_id
         |          AND vc2.t1 IS NOT NULL AND p.t >= vc2.t1
         |        GROUP BY 1, 2, 3),
         |d AS (SELECT user_id,
         |        max(1 + (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
         |          + (CASE WHEN t1 IS NOT NULL AND t2raw <= t0 + $FunnelWindowUs
         |              THEN 1 ELSE 0 END)) AS depth
         |      FROM vcp GROUP BY 1)
         |SELECT depth, count(*) AS n_users FROM d GROUP BY 1""".stripMargin)),
    // ingest-monitoring anomaly flags: per-type daily event counts
    // scored by |n − median| > 3·MAD — medians at the .5 binary fraction
    // over integer counts interpolate IEEE-exactly on both engines, so
    // even the float comparisons are deterministic. Two tiny keyed
    // aggregates + broadcast joins back onto the day grain; at 100 TB
    // the moving rows are (type, day) pairs, never events
    QuerySpec("agg_daily_anomaly", ((s, dir) => {
      val d = table(s, dir, "events")
        .select(col("event_type"), expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
      val med = d.groupBy(col("event_type")).agg(expr("percentile(n, 0.5)").as("med"))
      val dev = d.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("n") - col("med")))
      val mad = dev.groupBy(col("event_type")).agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
          (col("dev") > col("mad") * 3).as("is_anomaly"))
    }),
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        count(*) AS n FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM d GROUP BY 1),
         |dev AS (SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS dev
         |        FROM d JOIN m USING (event_type)),
         |s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY 1)
         |SELECT dev.event_type, dev.day, dev.n, dev.med, s.mad,
         |       dev.dev > s.mad * 3 AS is_anomaly
         |FROM dev JOIN s USING (event_type)""".stripMargin),
    // TPC-H Q21 SHAPE (multi-supplier blame assignment): late lines on
    // finished multi-supplier orders where NO other supplier was also
    // late — one correlated EXISTS and one correlated NOT EXISTS, both
    // ALSO correlated on the outer join's orders row. The Spark side is
    // real SQL so CATALYST does the decorrelation (EXISTS → left-semi,
    // NOT EXISTS → left-anti on the order key) — the declarative form a
    // reference user would actually write
    QuerySpec("agg_q21_blame", ((s, dir) => {
      table(s, dir, "supplier").createOrReplaceTempView("supplier")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        |SELECT sp.s_suppkey, sp.s_name, count(*) AS numwait
        |FROM supplier sp
        |JOIN lineitem l1 ON sp.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL '60' DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND CAST(l3.l_shipdate AS DATE) >
        |                        CAST(o.o_orderdate AS DATE) + INTERVAL '60' DAY)
        |GROUP BY sp.s_suppkey, sp.s_name""".stripMargin)
    }),
      """SELECT sp.s_suppkey, sp.s_name, count(*) AS numwait
        |FROM supplier sp
        |JOIN lineitem l1 ON sp.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate::DATE > o.o_orderdate::DATE + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate::DATE > o.o_orderdate::DATE + INTERVAL 60 DAY)
        |GROUP BY sp.s_suppkey, sp.s_name""".stripMargin),
    // TPC-H Q4 SHAPE (priority ordering health): orders counted per
    // priority when at least one line shipped > 30 days after the order
    // date — correlated EXISTS again correlated on the OUTER's date
    // column, decorrelated by Catalyst to a left-semi on the order key
    QuerySpec("agg_q4_priority", ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        |SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND CAST(l.l_shipdate AS DATE) >
        |                    CAST(o.o_orderdate AS DATE) + INTERVAL '30' DAY)
        |GROUP BY o.o_orderpriority""".stripMargin)
    }),
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate::DATE > o.o_orderdate::DATE + INTERVAL 30 DAY)
        |GROUP BY o.o_orderpriority""".stripMargin),
    // TPC-H Q14 SHAPE (promo revenue share): conditional aggregation —
    // one decimal-exact sum gated by the part-type predicate over the
    // same single join pass, the ratio one IEEE division at the end
    // TPC-H Q15 SHAPE (top supplier): per-supplier revenue over one
    // quarter, keep the max — the equality compare runs on the EXACT
    // decimal sums (a double-equality would be engine-dependent)
    QuerySpec("agg_q15_top_supplier", ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      val r = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey")).agg(sum(rev).as("total_rev"))
      val m = r.agg(max(col("total_rev")).as("mx"))
      r.join(broadcast(m), col("total_rev") === col("mx"))
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_revenue"))
    }),
      """WITH r AS (SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM r JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM r)""".stripMargin),
    // TPC-H Q8 SHAPE (national market share): NATION_7's share of
    // ASIA-customer revenue per ship year — two decimal sums over one
    // 6-way join pass, one IEEE division at the very end
    QuerySpec("agg_q8_market_share", ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2))
      table(s, dir, "lineitem")
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("sn_key") === col("s_nationkey"))
        .join(table(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(table(s, dir, "nation")
          .join(table(s, dir, "region"), col("r_regionkey") === col("n_regionkey"))
          .filter(col("r_name") === "ASIA")
          .select(col("n_nationkey").as("cn_key"))),
          col("cn_key") === col("c_nationkey"))
        .groupBy(year(col("l_shipdate")).as("l_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", rev).otherwise(zero))
            .cast("double").as("nation_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .select(col("l_year"), col("nation_revenue"), col("total_revenue"),
          round(col("nation_revenue") / col("total_revenue"), 4).as("mkt_share"))
    }),
      """WITH rows_ AS (
        |  SELECT year(l_shipdate) AS l_year, n1.n_name AS supp_nation,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n2.n_regionkey
        |  WHERE r_name = 'ASIA')
        |SELECT l_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_revenue,
        |  CAST(SUM(rev) AS DOUBLE) AS total_revenue,
        |  round(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |        CAST(SUM(rev) AS DOUBLE), 4) AS mkt_share
        |FROM rows_ GROUP BY 1""".stripMargin),
    // TPC-H Q6 SHAPE (forecast revenue change): pure scan-side range
    // predicates — every filter must reach the parquet scan; one
    // decimal-exact product sum, no join at all
    QuerySpec("agg_q6_forecast", ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    // TPC-H Q7 SHAPE (volume shipping): the 6-way join — lineitem →
    // supplier → nation AND → orders → customer → nation — grouped by
    // (supplier nation, customer nation, ship year); nation joins
    // broadcast, the fact table streams once
    QuerySpec("agg_q7_volume", ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("sn_key") === col("s_nationkey"))
        .join(table(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
          col("cn_key") === col("c_nationkey"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(rev).cast("double").as("revenue"))
    }),
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin),
    // TPC-H Q18 SHAPE (large-volume customers): per-order quantity sums
    // (exact — quantities are integral doubles) filtered above 250,
    // joined back to the order and buyer
    QuerySpec("agg_q18_top_buyers", ((s, dir) => {
      val big = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(table(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
          col("total_qty"))
    }),
      """WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS total_qty
        |             FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250)
        |SELECT c_name, o_orderkey, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey""".stripMargin),
    // TPC-H Q13 SHAPE (customer order-count distribution): LEFT join so
    // zero-order customers land in the 0 bucket — the shape a plain
    // inner-join histogram silently gets wrong
    QuerySpec("agg_order_count_dist", ((s, dir) =>
      table(s, dir, "customer")
        .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),
      """WITH cc AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |            FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM cc GROUP BY 1""".stripMargin),
    QuerySpec("agg_q14_promo_share", ((s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
      table(s, dir, "lineitem")
        .join(table(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type").startsWith("PROMO"), rev)
            .otherwise(lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2))))
            .cast("double").as("promo_revenue"),
          sum(rev).cast("double").as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          (col("promo_revenue") / col("total_revenue")).as("promo_share"))
    }),
      ("""WITH r AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
         |    p_type
         |  FROM lineitem JOIN part ON l_partkey = p_partkey),
         |s AS (SELECT
         |    CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
         |    CAST(SUM(rev) AS DOUBLE) AS total_revenue
         |  FROM r)
         |SELECT promo_revenue, total_revenue,
         |       promo_revenue / total_revenue AS promo_share FROM s""".stripMargin)),
    // TPC-H Q9 SHAPE (product profit): per (supplier nation, ship year)
    // profit over a name-LIKE-filtered part slice. The schema has no
    // partsupp, so line cost is the part's retail price scaled by
    // quantity at a fixed margin factor — decimal-exact throughout, one
    // IEEE cast at the end. The LIKE filter prunes the part dimension
    // BEFORE the fact join (broadcast after pruning), and nation
    // broadcasts; lineitem streams once
    QuerySpec("agg_q9_profit", ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(java.math.BigDecimal.ONE).cast(d2) - col("l_discount").cast(d2))
      val cost = col("p_retailprice").cast(d2) * col("l_quantity").cast(d2) *
        lit(new java.math.BigDecimal("0.10")).cast(d2)
      table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")
          .filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice"))),
          col("p_partkey") === col("l_partkey"))
        .join(table(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(table(s, dir, "nation")), col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
        .agg(sum(rev.cast(DecimalType(28, 6)) - cost.cast(DecimalType(28, 6)))
          .cast("double").as("sum_profit"))
    }),
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6)) -
        |      CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) *
        |        CAST(0.10 AS DECIMAL(18,2)) AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin),
    // TPC-H Q19 SHAPE (disjunctive cross-table predicate): revenue over
    // an OR of brand/size/quantity conjunctions spanning BOTH join
    // sides. The per-table residue of the disjunction (brand ∈ {…},
    // size ≤ 15, quantity ≤ 30) is what Catalyst can push into each
    // scan; the cross-table conjuncts evaluate post-join — the shape
    // that punishes engines which can only push conjunctive filters
    QuerySpec("agg_q19_disjunctive", ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(java.math.BigDecimal.ONE).cast(d2) - col("l_discount").cast(d2))
      table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(count(lit(1)).as("n_lines"), sum(rev).cast("double").as("revenue"))
    }),
      """SELECT count(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // TPC-H Q11 SHAPE (important stock): per-part revenue groups gated
    // by a GLOBAL-total scalar subquery — the threshold gates GROUPS
    // (HAVING vs an uncorrelated aggregate), unlike Q22's row gate. The
    // total is a one-row broadcast nested-loop join; the compare stays
    // in exact decimals (rev·10⁴ > total — never a float fraction), so
    // the boundary groups are pinned cross-engine
    QuerySpec("agg_q11_share", ((s, dir) => {
      val d2 = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d2) *
        (lit(java.math.BigDecimal.ONE).cast(d2) - col("l_discount").cast(d2))
      val li = table(s, dir, "lineitem")
      val per = li.groupBy(col("l_partkey")).agg(sum(rev).as("__v"))
      val total = li.agg(sum(rev).as("__t"))
      per.crossJoin(broadcast(total))
        .filter(col("__v") * 10000 > col("__t"))
        .select(col("l_partkey"), col("__v").cast("double").as("value"))
    }),
      """WITH r AS (SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS v
        |  FROM lineitem GROUP BY 1)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS value FROM r
        |WHERE v * 10000 > (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) FROM lineitem)""".stripMargin),
    // TPC-H Q12 SHAPE (shipmode priority): one fact pass, per-group
    // conditional two-way counts (CASE inside SUM — the pivot-in-an-
    // aggregate idiom); the date range prunes at the lineitem scan and
    // orders joins once on the key
    QuerySpec("agg_q12_modes", ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
    }),
      """SELECT l_returnflag,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin),
    // TPC-H Q20 SHAPE (excess inventory): the nested semi-join chain —
    // suppliers IN (grouped-HAVING subquery over lineitem ⋈ filtered
    // part). The name filter prunes part BEFORE the fact join, the
    // HAVING group keys on (supplier, part) so the aggregate is
    // map-side combinable, and the outer membership is a LEFT SEMI
    // (never a dedup-then-inner-join); nation broadcasts
    QuerySpec("agg_q20_excess", ((s, dir) => {
      val excess = table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part").filter(col("p_name").contains("red"))
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("__q"))
        .filter(col("__q") > 90)
        .select(col("l_suppkey"))
      table(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
    }),
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%red%'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 90)""".stripMargin),
    // TPC-H Q22 SHAPE (idle rich customers): above-average balance with
    // no URGENT orders — an uncorrelated scalar aggregate subquery (one-row
    // broadcast) gating the scan plus a NOT EXISTS anti-join. The
    // average is an exact decimal sum with ONE IEEE division, so the
    // float threshold compare is deterministic cross-engine
    QuerySpec("agg_q22_idle_rich", ((s, dir) => {
      table(s, dir, "customer").createOrReplaceTempView("customer")
      table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""
        |SELECT c.c_custkey, c.c_acctbal
        |FROM customer c
        |WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                            / COUNT(*)
        |                     FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin)
    }),
      """SELECT c.c_custkey, c.c_acctbal
        |FROM customer c
        |WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                            / COUNT(*)
        |                     FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')""".stripMargin),
    // TPC-H Q2 SHAPE: rows achieving a correlated scalar-subquery
    // minimum (cheapest line per part, ties kept) — Catalyst rewrites
    // the scalar subquery to an aggregate + join; equality on the
    // UNMODIFIED double is exact (same parquet value both engines)
    QuerySpec("agg_q2_min_price", ((s, dir) => {
      table(s, dir, "part").createOrReplaceTempView("part")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        |SELECT p.p_partkey, p.p_name, l.l_suppkey, l.l_extendedprice
        |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |WHERE l.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                           FROM lineitem l2
        |                           WHERE l2.l_partkey = p.p_partkey)""".stripMargin)
    }),
      """SELECT p.p_partkey, p.p_name, l.l_suppkey, l.l_extendedprice
        |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |WHERE l.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                           FROM lineitem l2
        |                           WHERE l2.l_partkey = p.p_partkey)""".stripMargin),
    // lineitem ⋈ orders with the probe side salted 8 ways — the skew
    // tool; the salt is invisible in the result, so the oracle is the
    // PLAIN join (multiset equality is exactly the operator's contract)
    QuerySpec("join_salted_agg", ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val o = table(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      graft.operators.SaltedJoin.inner(li, o, Seq("okey"), saltFactor = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),
      ("SELECT o_orderstatus, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderstatus")),
    // batch sessionization: per-user sessions split on >30 min gaps
    QuerySpec("agg_sessionize", ((s, dir) =>
      graft.operators.Sessionize.byGap(
        table(s, dir, "events").withColumn("ts", expr(TsUsSql)),
        "user_id", "ts", SessionGapUs, "value")),
      (s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events),
          |b AS (SELECT user_id, tus, value,
          |  CASE WHEN tus - lag(tus) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS boundary
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
          |s AS (SELECT user_id, tus, value,
          |  SUM(boundary) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
          |  FROM b)
          |SELECT user_id, session_idx, count(*) AS n_events,
          |  (max(tus) - min(tus))::BIGINT AS duration,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM s GROUP BY 1, 2""".stripMargin)),
    QuerySpec("agg_latest_event_per_user", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id"))
      table(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),
      ("SELECT event_id, user_id, event_type, value FROM (" +
        "SELECT event_id, user_id, event_type, value, " +
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn " +
        "FROM events) WHERE rn = 1")),
    // as-of join: each click attributed to the user's most recent
    // purchase at-or-before it (union + one window pass — no join)
    QuerySpec("asof_click_purchase", ((s, dir) => {
      // epoch-µs ordering time — the grid both engines share (see TsUsSql)
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsofJoin.backward(clicks, purchases, Seq("user_id"), "ts",
        Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"), col("asof_value"))
    }),
      // window-formulation mirror of AsofJoin.backward: same tagged union,
      // same (ts, side, tie) ordering, same inclusive frame — and the same
      // STRUCT-filled payload, so the matched right row travels whole
      ("""WITH u AS (
         |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS tie, event_id,
         |         NULL::STRUCT(e BIGINT, v DOUBLE) AS pay
         |  FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, ts, 0, event_id, NULL,
         |         struct_pack(e := event_id, v := value)
         |  FROM events WHERE event_type = 'purchase'
         |), f AS (
         |  SELECT side, event_id, user_id,
         |    last_value(pay IGNORE NULLS) OVER win AS pay
         |  FROM u
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, tie
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, user_id, pay.e AS asof_event_id, pay.v AS asof_value
         |FROM f WHERE side = 1""".stripMargin)),
    // forward as-of: each click's NEXT purchase at-or-after it (same
    // union-scan single-window formulation as the backward join, order
    // reversed) — the "time-to-conversion" primitive
    QuerySpec("asof_next_purchase", ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsofJoin.forward(clicks, purchases, Seq("user_id"), "ts",
        Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"), col("asof_value"))
    }),
      // mirror of the forward as-of: ts DESC, rights before lefts at the
      // same ts, smallest event id winning ties (tie DESC under last_value)
      ("""WITH u AS (
         |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS tie, event_id,
         |         NULL::STRUCT(e BIGINT, v DOUBLE) AS pay
         |  FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, ts, 0, event_id, NULL,
         |         struct_pack(e := event_id, v := value)
         |  FROM events WHERE event_type = 'purchase'
         |), f AS (
         |  SELECT side, event_id, user_id,
         |    last_value(pay IGNORE NULLS) OVER win AS pay
         |  FROM u
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts DESC, side, tie DESC
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT event_id, user_id, pay.e AS asof_event_id, pay.v AS asof_value
         |FROM f WHERE side = 1""".stripMargin)),
    // nearest as-of: each click's closest purchase in EITHER direction
    // (distance ties go backward) — two window passes over one shuffle,
    // still no join; the sensor-alignment primitive
    QuerySpec("asof_nearest_purchase", ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsofJoin.nearest(clicks, purchases, Seq("user_id"), "ts",
        Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"), col("asof_value"))
    }),
      // mirror of the nearest as-of: the backward and forward candidates
      // from their respective window passes, then the smaller-delta pick
      // (ties backward) on the µs grid both engines share
      ("""WITH u AS (
         |  SELECT user_id, epoch_us(ts) AS ts, 1 AS side, NULL::BIGINT AS tie, event_id,
         |         NULL::STRUCT(e BIGINT, v DOUBLE, t BIGINT) AS pay
         |  FROM events WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT user_id, epoch_us(ts), 0, event_id, NULL,
         |         struct_pack(e := event_id, v := value, t := epoch_us(ts))
         |  FROM events WHERE event_type = 'purchase'
         |), w AS (
         |  SELECT side, event_id, user_id, ts,
         |    last_value(pay IGNORE NULLS) OVER wb AS bp,
         |    last_value(pay IGNORE NULLS) OVER wf AS fp
         |  FROM u
         |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, side, tie
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wf AS (PARTITION BY user_id ORDER BY ts DESC, side, tie DESC
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), p AS (
         |  SELECT event_id, user_id,
         |    CASE WHEN bp IS NULL THEN fp WHEN fp IS NULL THEN bp
         |         WHEN ts - bp.t <= fp.t - ts THEN bp ELSE fp END AS pay
         |  FROM w WHERE side = 1)
         |SELECT event_id, user_id, pay.e AS asof_event_id, pay.v AS asof_value
         |FROM p""".stripMargin)),
    // per-user inter-event gap profile: one window lag (partition-local
    // sort) + one hash aggregate; ties on ts are ordered by the unique
    // event id so every gap — and the max — is deterministic
    QuerySpec("win_event_gaps", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), expr(TsUsSql).as("tsu"), col("event_id"))
        .withColumn("gap", col("tsu") - lag(col("tsu"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("gap")).as("max_gap_us"),
          // exact long sum ÷ count, one IEEE division — deterministic
          avg(col("gap")).as("mean_gap_us"))
    }),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
        |g AS (SELECT user_id,
        |        tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS gap
        |      FROM e)
        |SELECT user_id, count(*) AS n_events, max(gap) AS max_gap_us,
        |       avg(gap) AS mean_gap_us
        |FROM g GROUP BY 1""".stripMargin),
    // trailing 7-observed-day rolling MEDIAN of per-user daily event
    // counts — robust smoothing (spike-insensitive, unlike the trailing
    // mean). The median runs over INTEGER-valued counts, where both
    // engines' even-count interpolation (a+(b−a)·0.5 vs (a+b)/2) is
    // exact and identical — arbitrary doubles could drift 1 ulp
    QuerySpec("win_rolling_median", ((s, dir) => {
      val d = table(s, dir, "events")
        .select(col("user_id"), expr(s"($TsUsSql) div $RangeJoinDayUs").as("day"))
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day")).rowsBetween(-6, 0)
      d.withColumn("med7", expr("percentile(n, 0.5)").over(w))
    }),
      s"""WITH d AS (SELECT user_id, epoch_us(ts) // $RangeJoinDayUs AS day,
         |        count(*) AS n FROM events GROUP BY 1, 2)
         |SELECT user_id, day, n,
         |  quantile_cont(n, 0.5) OVER (PARTITION BY user_id ORDER BY day
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
         |FROM d""".stripMargin),
    // banded range join: every non-signup event within a day after a
    // signup by the same user (bucketed equi-join, never a cross
    // product). µs-truncated time on both sides — see SessionGapUs note.
    QuerySpec("range_join_events", ((s, dir) => {
      val ev = table(s, dir, "events").withColumn("ts", expr(TsUsSql))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_event"), col("user_id"), col("ts"))
      val acts = ev.filter(col("event_type") =!= "signup")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      graft.operators.RangeJoin.band(signups, acts, Seq("user_id"), "ts",
        1L, RangeJoinDayUs, Seq("event_id", "event_type"))
        .select(col("signup_event"), col("user_id"), col("r_event_id"), col("r_event_type"))
    }),
      // the band is [1 µs, 1 day] after the signup, on µs-truncated time
      // (identical on both engines — see the SessionGapUs note)
      (s"""SELECT l.event_id AS signup_event, l.user_id,
          |       r.event_id AS r_event_id, r.event_type AS r_event_type
          |FROM events l JOIN events r ON l.user_id = r.user_id
          |  AND epoch_us(r.ts) - epoch_us(l.ts) BETWEEN 1 AND $RangeJoinDayUs
          |WHERE l.event_type = 'signup' AND r.event_type <> 'signup'""".stripMargin)),
    // deterministic Bloom runtime filter: urgent-order keys build an
    // 8 KB literal bitset that pre-filters the lineitem scan (no join,
    // no shuffle); the row reports admitted vs exact vs false positives
    QuerySpec("join_bloom_filter", ((s, dir) =>
      graft.operators.BloomFilter.semiJoinStats(
        table(s, dir, "lineitem"), "l_orderkey",
        table(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        "o_orderkey")),
      graft.pipeline.Oracles.joinBloomFilter(
        graft.operators.BloomFilter.DefaultBits,
        graft.operators.BloomFilter.DefaultHashes)),
  )
}
