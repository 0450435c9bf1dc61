package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** General relational operator inventory (SURVEY.md §2.2-2.7) over the
  * TPC-H-ish tables. Every query is a declarative plan: filters/projections
  * push to the parquet scan, small dimension tables broadcast, aggregations
  * run partial->final, top-k plans as TakeOrderedAndProject.
  *
  * All timestamps are emitted as formatted strings (UTC) and all aggregates
  * cast to bigint/double so the DuckDB compare sees identical schemas.
  */
object RelationalQueries {

  // ---- P1/P7: projection + predicate pushdown --------------------------------
  def scanFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") > lit(0.05))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("double").as("price"))
      .orderBy("l_orderkey", "l_linenumber")

  val scanFilterSql: String =
    """SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS DOUBLE) AS price
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- J (multi-way join) + A: TPC-H Q3-style --------------------------------
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    // customer is ~1/400 of lineitem: broadcast it through the orders join.
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(graft.Money.sumCents(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3ShippingSql: String =
    s"""SELECT l_orderkey, o_orderpriority,
      |  ${graft.Money.sumCentsSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY l_orderkey, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---- J: 5-way star join through region/nation (TPC-H Q5 shape) -------------
  def q5StarJoin(s: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.region(s, dir))
    val nation = broadcast(Tables.nation(s, dir))
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val sup = broadcast(Tables.supplier(s, dir))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(nation, cust("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        graft.Money.sumCents(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).cast("long").as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q5StarJoinSql: String =
    s"""SELECT r_name, n_name,
      |  ${graft.Money.sumCentsSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---- Outer join with null handling -----------------------------------------
  def leftOuterOrders(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(sum("l_quantity").as("qty"))
      .filter(col("qty") > 150)
    Tables.orders(s, dir)
      .join(bigOrders, col("o_orderkey") === bigOrders("l_orderkey"), "left_outer")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).cast("long").as("n_orders"),
        count(col("l_orderkey")).cast("long").as("n_big"),
        sum(coalesce(col("qty"), lit(0.0))).cast("double").as("big_qty"))
      .orderBy("o_orderpriority")
  }

  val leftOuterOrdersSql: String =
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(b.l_orderkey) AS BIGINT) AS n_big,
      |  CAST(sum(COALESCE(b.qty, 0.0)) AS DOUBLE) AS big_qty
      |FROM orders LEFT OUTER JOIN
      |  (SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem
      |   GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
      |ON o_orderkey = b.l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- Semi / anti joins (P6 and its dual) -----------------------------------
  def semiJoinCustomers(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, dir)
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal").cast("double").as("acctbal"))
      .orderBy("c_custkey")
  }

  val semiJoinCustomersSql: String =
    """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  def antiJoinCustomers(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, dir)
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val antiJoinCustomersSql: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ---- T1: global top-k with deterministic tiebreak --------------------------
  def topkOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice").cast("double").as("total"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .orderBy(col("total").desc, col("o_orderkey").asc)
      .limit(25)

  val topkOrdersSql: String =
    """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
      |FROM orders
      |ORDER BY total DESC, o_orderkey ASC
      |LIMIT 25""".stripMargin

  // ---- Window: rank per group (top-3 orders per customer) --------------------
  def windowTopPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("total"))
      .orderBy("o_custkey", "rn")
  }

  val windowTopPerGroupSql: String =
    """SELECT o_custkey, rn, o_orderkey, total FROM (
      |  SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS total,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // ---- Same result via graft.plans.TopK.perGroup: per-partition top-k
  //      heaps ahead of the same rank window, so the window sorts at most
  //      k rows per group per map task, not every order ------------------
  def aggTopPerGroup(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perGroup(Tables.orders(s, dir),
        "o_custkey", "o_orderkey", "o_totalprice", 3)
      .select(col("o_custkey"), col("rank").as("rn"), col("o_orderkey"),
        col("o_totalprice").as("total"))
      .orderBy("o_custkey", "rn")
  // oracle: identical result set to window_top_per_group
  val aggTopPerGroupSql: String = windowTopPerGroupSql

  // ---- Window: running sum + lag over event time -----------------------------
  def windowRunningRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .filter(col("o_custkey") % 100 === 0)
      .withColumn("running_total",
        sum(col("o_totalprice")).over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("prev_price",
        lag(col("o_totalprice"), 1).over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate").asc, col("o_orderkey").asc))
          .cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od"),
        col("o_totalprice").cast("double").as("price"),
        col("running_total"), col("prev_price"))
      .orderBy("o_custkey", "od", "o_orderkey")
  }

  val windowRunningRevenueSql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od,
      |  CAST(o_totalprice AS DOUBLE) AS price,
      |  CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  CAST(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS DOUBLE) AS prev_price
      |FROM orders
      |WHERE o_custkey % 100 = 0
      |ORDER BY o_custkey, od, o_orderkey""".stripMargin

  // ---- Window rank statistics -------------------------------------------------
  def windowRankStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 100)
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("total"),
        percent_rank().over(w).cast("double").as("pct_rank"),
        ntile(4).over(w).cast("long").as("quartile"),
        cume_dist().over(w).cast("double").as("cdist"),
        nth_value(col("o_orderkey"), 1).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cheapest_so_far"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  val windowRankStatsSql: String =
    """SELECT o_orderpriority, o_orderkey,
      |  CAST(o_totalprice AS DOUBLE) AS total,
      |  CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  CAST(cume_dist() OVER w AS DOUBLE) AS cdist,
      |  nth_value(o_orderkey, 1) OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice ASC, o_orderkey ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cheapest_so_far
      |FROM orders WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice ASC, o_orderkey ASC)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // ---- Set operations ---------------------------------------------------------
  def setOpsSegments(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val urgentCust = ord.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    val highCust = ord.filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("custkey"))
    val both = urgentCust.intersect(highCust).withColumn("bucket", lit("both"))
    val urgentOnly = urgentCust.except(highCust).withColumn("bucket", lit("urgent_only"))
    val all = urgentCust.union(highCust).distinct().withColumn("bucket", lit("any"))
    both.union(urgentOnly).union(all)
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("n"))
      .orderBy("bucket")
  }

  val setOpsSegmentsSql: String =
    """WITH urgent AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |high AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000),
      |labeled AS (
      |  SELECT custkey, 'both' AS bucket FROM (SELECT custkey FROM urgent INTERSECT SELECT custkey FROM high)
      |  UNION ALL
      |  SELECT custkey, 'urgent_only' AS bucket FROM (SELECT custkey FROM urgent EXCEPT SELECT custkey FROM high)
      |  UNION ALL
      |  SELECT custkey, 'any' AS bucket FROM (SELECT custkey FROM urgent UNION SELECT custkey FROM high)
      |)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n
      |FROM labeled GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- Rollup with grouping indicator ----------------------------------------
  // sum_qty stays a raw double sum: l_quantity is integer-valued (1..50),
  // and integer double sums below 2^53 are exact in any accumulation
  // order — no cent grid needed (MoneySpec pins the integer-valued
  // property over the testdata).
  def rollupPricing(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).cast("long").as("n"),
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("lvl"))
      .orderBy(col("lvl"), col("l_returnflag"), col("l_linestatus"))

  val rollupPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS lvl
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY lvl, l_returnflag, l_linestatus""".stripMargin

  // ---- GROUPING SETS (non-hierarchical) ---------------------------------------
  // Two independent groupings in one pass — ((l_returnflag), (l_linestatus))
  // is expressible as neither ROLLUP nor CUBE, the case that needs the
  // explicit GROUPING SETS surface. One Expand + one aggregation shuffle,
  // same plan family as the cube/rollup queries.
  def groupingSetsPricing(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
        |    AS lvl
        |FROM graft_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY lvl, l_returnflag, l_linestatus""".stripMargin)
  }

  val groupingSetsPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS lvl
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY lvl, l_returnflag, l_linestatus""".stripMargin

  // ---- Distinct aggregates ----------------------------------------------------
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).cast("long").as("n_parts"),
        countDistinct(col("l_suppkey")).cast("long").as("n_supps"),
        count(lit(1)).cast("long").as("n"))
      .orderBy("l_returnflag")

  val distinctAggSql: String =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Exact percentiles (interpolated, matches quantile_cont) ---------------
  /** Exact interpolated percentiles via graft.operators.Quantiles — a
    * two-pass distributed selection that stays parallel even with only two
    * groups (window/percentile formulations collapse to one task per group).
    */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.exactQuantiles(
      Tables.lineitem(s, dir), "l_linestatus", "l_extendedprice",
      Seq(0.25, 0.5, 0.75, 0.95))
      .select(col("l_linestatus"),
        col("q0").as("p25"), col("q1").as("p50"),
        col("q2").as("p75"), col("q3").as("p95"))
      .orderBy("l_linestatus")

  val percentilesSql: String =
    """SELECT l_linestatus,
      |  CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE) AS p25,
      |  CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) AS p50,
      |  CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE) AS p75,
      |  CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE) AS p95
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---- TPC-H Q18 shape: HAVING-subquery semi-join (large-volume orders) ------
  // The classic "orders whose total quantity exceeds a threshold" query:
  // an aggregated subquery gates the main join via a semi join, then the
  // winners re-aggregate with customer context. Two partial-aggregated
  // shuffles on l_orderkey (the gate reuses the first's shape) + broadcast
  // customer; top-k plans TakeOrdered. Both the gate's sum and total_qty
  // are sums of integer-valued l_quantity — exact in double in any
  // accumulation order, so no cent grid is needed.
  private val Q18Threshold = 250

  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > Q18Threshold)
      .select(col("l_orderkey"))
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    li.join(big, "l_orderkey")
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"))
      .agg(sum(col("l_quantity")).cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        col("total_qty"))
  }

  val q18LargeOrdersSql: String =
    s"""SELECT c_name, c_custkey, o_orderkey,
       |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       |  CAST(sum(l_quantity) AS DOUBLE) AS total_qty
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE l_orderkey IN (
       |  SELECT l_orderkey FROM lineitem
       |  GROUP BY l_orderkey HAVING sum(l_quantity) > $Q18Threshold)
       |GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
       |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  // ---- Scalar function sampler (string/case/conditional) ---------------------
  def scalarFunctions(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_custkey") <= 200)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        length(col("c_name")).cast("long").as("name_len"),
        substring(col("c_name"), 1, 8).as("prefix"),
        concat_ws("/", col("c_mktsegment"), col("c_nationkey")).as("seg_nation"),
        when(col("c_acctbal") < 0, lit("neg"))
          .when(col("c_acctbal") < 5000, lit("mid"))
          .otherwise(lit("high")).as("bal_bucket"),
        round(abs(col("c_acctbal")), 1).cast("double").as("abs_bal"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("-")).as("seg_or_dash"))
      .orderBy("c_custkey")

  val scalarFunctionsSql: String =
    """SELECT c_custkey,
      |  upper(c_name) AS uname,
      |  CAST(length(c_name) AS BIGINT) AS name_len,
      |  substring(c_name, 1, 8) AS prefix,
      |  concat_ws('/', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
      |  CASE WHEN c_acctbal < 0 THEN 'neg'
      |       WHEN c_acctbal < 5000 THEN 'mid'
      |       ELSE 'high' END AS bal_bucket,
      |  CAST(round(abs(c_acctbal), 1) AS DOUBLE) AS abs_bal,
      |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '-') AS seg_or_dash
      |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin

  // ---- Deterministic sample + limit (P2/P3 made oracle-checkable) ------------
  def sampleLimit(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 97 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("qty"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)

  val sampleLimitSql: String =
    """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS qty
      |FROM lineitem WHERE l_orderkey % 97 = 0
      |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin

  // ---- collect_set / collect_list with deterministic serialization -----------
  def collectAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 50)
      .groupBy(col("o_custkey"))
      .agg(
        array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).cast("long").as("n"))
      .orderBy("o_custkey")

  val collectAggSql: String =
    """SELECT o_custkey,
      |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
      |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM orders WHERE o_custkey < 50
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---- Statistical aggregates -------------------------------------------------
  def statsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // moment aggregates (corr/covar/stddev/var) merge partial moments
        // in partition order — a few-ulp formation difference across
        // engines and thread counts; all four pinned to the 1e-9 grid
        // (observed noise <= 1e-12 absolute, half-grid 5e-10: safe)
        graft.Money.nanos(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        graft.Money.nanos(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_qty_price"),
        graft.Money.nanos(stddev_samp(col("l_extendedprice"))).as("sd_price"),
        graft.Money.nanos(var_samp(col("l_discount"))).as("var_disc"))
      .orderBy("l_returnflag")

  val statsAggSql: String =
    """SELECT l_returnflag,
      |  CAST(CAST(round((corr(l_quantity, l_extendedprice)) * 1000000000.0) AS BIGINT) AS DOUBLE) / 1000000000.0 AS corr_qty_price,
      |  CAST(CAST(round((covar_samp(l_quantity, l_extendedprice)) * 1000000000.0) AS BIGINT) AS DOUBLE) / 1000000000.0 AS covar_qty_price,
      |  CAST(CAST(round((stddev_samp(l_extendedprice)) * 1000000000.0) AS BIGINT) AS DOUBLE) / 1000000000.0 AS sd_price,
      |  CAST(CAST(round((var_samp(l_discount)) * 1000000000.0) AS BIGINT) AS DOUBLE) / 1000000000.0 AS var_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Conditional / boolean aggregates ---------------------------------------
  def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count_if(col("o_totalprice") > 200000).cast("long").as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderstatus") === "F").as("any_final"),
        sum(when(col("o_orderstatus") === "O", col("o_totalprice")).otherwise(0.0))
          .cast("double").as("open_total"))
      .orderBy("o_orderpriority")

  val conditionalAggSql: String =
    """SELECT o_orderpriority,
      |  CAST(count(*) FILTER (o_totalprice > 200000) AS BIGINT) AS n_big,
      |  bool_and(o_totalprice > 0) AS all_positive,
      |  bool_or(o_orderstatus = 'F') AS any_final,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END) AS DOUBLE) AS open_total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- Z-score standardization (feature engineering) --------------------------
  def zscoreValues(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 1000)
      .withColumn("mu", avg(col("l_extendedprice")).over(w))
      .withColumn("sd", stddev_samp(col("l_extendedprice")).over(w))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        // z chains through stddev's sqrt — pinned to the 1e-9 grid
        graft.Money.nanos((col("l_extendedprice") - col("mu")) / col("sd")).as("z"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val zscoreValuesSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag,
      |  CAST(CAST(round(((l_extendedprice - avg(l_extendedprice) OVER w) /
      |       (stddev_samp(l_extendedprice) OVER w)) * 1000000000.0) AS BIGINT) AS DOUBLE)
      |    / 1000000000.0 AS z
      |FROM lineitem WHERE l_orderkey < 1000
      |WINDOW w AS (PARTITION BY l_returnflag)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- RFM features per customer ----------------------------------------------
  def customerRfm(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit("1998-12-31").cast("date"),
          max(col("o_orderdate")).cast("date")).cast("long").as("recency_days"),
        count(lit(1)).cast("long").as("frequency"),
        graft.Money.sumCents(col("o_totalprice")).as("monetary"))
      .orderBy("o_custkey")

  val customerRfmSql: String =
    s"""SELECT o_custkey,
      |  CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '1998-12-31') AS BIGINT) AS recency_days,
      |  CAST(count(*) AS BIGINT) AS frequency,
      |  ${graft.Money.sumCentsSql("o_totalprice")} AS monetary
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---- Unpivot/melt: wide per-flag aggregates back to long form --------------
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      // qty stays a raw double sum (integer-valued, exact below 2^53);
      // price/disc go through the cent grid (Money.scala)
      .agg(sum(col("l_quantity")).cast("double").as("qty"),
        graft.Money.sumCents(col("l_extendedprice")).as("price"),
        graft.Money.sumCents(col("l_discount")).as("disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")), "metric", "value")
      .orderBy("l_returnflag", "metric")

  val unpivotMetricsSql: String =
    s"""WITH wide AS (
      |  SELECT l_returnflag,
      |    CAST(sum(l_quantity) AS DOUBLE) AS qty,
      |    ${graft.Money.sumCentsSql("l_extendedprice")} AS price,
      |    ${graft.Money.sumCentsSql("l_discount")} AS disc
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, 'qty' AS metric, qty AS value FROM wide
      |UNION ALL SELECT l_returnflag, 'price', price FROM wide
      |UNION ALL SELECT l_returnflag, 'disc', disc FROM wide
      |ORDER BY l_returnflag, metric""".stripMargin

  // ---- Salted skew join, oracle-checked against the plain join semantics ----
  // The canonical salting shape: big skew-keyed fact (orders by customer),
  // SMALL replicated build side (customer dim) — replication cost is
  // buckets * |dim|, independent of the fact side where the skew lives.
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.operators.SkewJoin.saltedInnerJoin(ord, cust, "c_custkey", buckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n"),
        graft.Money.sumCents(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
  }

  val skewSaltedJoinSql: String =
    s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  ${graft.Money.sumCentsSql("o_totalprice")} AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- Engine-RNG / engine-sketch shapes: NOT registry entries.
  //      Their internals are nondeterministic across engines by nature, so
  //      a DuckDB hash can never match; ApproxSpec owns them (seed
  //      reproducibility, fraction/error envelopes). The registry carries
  //      deterministic md5-gate twins (sample_hash, sample_stratified_hash)
  //      that oracle exactly — SURVEY §5.2's contract (every entry has an
  //      oracle) holds with zero exceptions. ------------------------------

  /** P2: true Bernoulli sample (seed-deterministic within Spark).
    * NOT in the driver registry — engine RNG has no cross-engine oracle;
    * ApproxSpec pins seed reproducibility and the binomial fraction band.
    * The registry carries the deterministic twin [[sampleHash]].
    */
  def sampleBernoulli(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).sample(0.1, seed = 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** P2 deterministic twin: 10% Bernoulli-style gate on a 60-bit md5
    * prefix of the row key (the mixture_sample idiom) — same selectivity,
    * same per-row independence, but reproducible in any engine, so the
    * DuckDB oracle hashes it exactly. At scale this is strictly better
    * than engine RNG for pipeline reproducibility: re-running the job, on
    * a different cluster or engine, keeps the identical sample.
    */
  def sampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(graft.functions.TextHash.hash64(
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))) % 1000L < 100L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber")

  val sampleHashSql: String =
    s"""SELECT l_orderkey, l_linenumber, l_quantity
       |FROM lineitem
       |WHERE ${OracleSql.hash64(
      "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")} % 1000 < 100
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Stratified sample: per-stratum fractions (engine-specific RNG).
    * NOT in the driver registry (see [[sampleBernoulli]]); ApproxSpec pins
    * reproducibility and per-stratum rate bands. The registry carries the
    * deterministic twin [[sampleStratifiedHash]].
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .stat.sampleBy("l_returnflag",
        Map("A" -> 0.05, "N" -> 0.2, "R" -> 0.05), seed = 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))

  /** Stratified deterministic twin: per-stratum md5-gate thresholds
    * (A 5%, N 20%, R 5%) on the same row key as [[sampleHash]] — exact
    * cross-engine agreement, no RNG state, fully codegen'd predicate.
    */
  def sampleStratifiedHash(s: SparkSession, dir: String): DataFrame = {
    val thresh = when(col("l_returnflag") === "N", lit(200L)).otherwise(lit(50L))
    Tables.lineitem(s, dir)
      .filter(graft.functions.TextHash.hash64(
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))) % 1000L < thresh)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val sampleStratifiedHashSql: String =
    s"""SELECT l_orderkey, l_linenumber, l_returnflag
       |FROM lineitem
       |WHERE ${OracleSql.hash64(
      "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")} % 1000
       |  < CASE WHEN l_returnflag = 'N' THEN 200 ELSE 50 END
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** A2-scalable variant: HLL++ approximate distinct counts.
    * NOT in the driver registry — sketch internals are engine-specific;
    * ApproxSpec pins the 5% error envelope vs exact distinct counts
    * (the exact A2 surface is registry-green as distinct_agg).
    */
  def distinctApprox(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"))
      .orderBy("l_returnflag")

  /** T-digest approximate percentiles (scalable alternative to Quantiles).
    * NOT in the driver registry — sketch internals are engine-specific;
    * ApproxSpec pins the 2% envelope vs exact distributed quantiles
    * (the exact surface is registry-green as percentiles).
    */
  def percentilesApprox(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95), 10000)")
        .as("approx_ps"))
      .select(col("l_linestatus"),
        col("approx_ps").getItem(0).as("p25"), col("approx_ps").getItem(1).as("p50"),
        col("approx_ps").getItem(2).as("p75"), col("approx_ps").getItem(3).as("p95"))
      .orderBy("l_linestatus")

  // ---- MERGE INTO (copy-on-write upsert) over the document store -------------
  // CDC ingest against an immutable columnar corpus: an update batch
  // (revised text for doc_id%10==0) plus an insert batch (new ids) merged
  // in ONE union + max_by groupBy — no join, skew-safe (Upsert scaladoc).
  // The oracle is the NOT EXISTS formulation of the same merge.
  def docsUpsert(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val revisions = d.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(lit("v2 "), col("text")))
    val inserts = d.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(lit("new "), col("text")))
    graft.operators.Upsert
      .mergeInto(d, revisions.unionByName(inserts), "doc_id", "doc_id")
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"), col("source"))
      .orderBy("doc_id")
  }

  val docsUpsertSql: String =
    """WITH upd AS (
      |  SELECT doc_id, 'v2 ' || text AS text, lang, source FROM documents
      |  WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'new ' || text, lang, source FROM documents
      |  WHERE doc_id % 25 = 0),
      |merged AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT doc_id, text, lang, source FROM documents d
      |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = d.doc_id))
      |SELECT doc_id, md5(text) AS text_md5, lang, source
      |FROM merged ORDER BY doc_id""".stripMargin

  // ---- Equal-frequency feature binning (decile buckets) ----------------------
  // The feature-engineering staple: bucket order totals into deciles and
  // report per-bin stats. NOT a global ntile window (one task at scale) —
  // boundaries come from the range-partitioned exact-quantile operator
  // (Quantiles scaladoc: parallel sort, O(partitions·groups) driver
  // traffic), then bin assignment is a completely narrow broadcast
  // comparison against the 9 boundary literals. Boundaries and values
  // compare on the 1e-6 integer grid so an ulp of interpolation
  // difference between engines cannot flip a bin; per-bin averages sum
  // exact cents. Ties ON a boundary land in the lower bin by definition.
  def quantileBins(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice").cast("double").as("v"))
    val ps = (1 to 9).map(_ / 10.0)
    val qs = graft.operators.Quantiles.exactQuantiles(
      o.withColumn("g", lit("all")), "g", "v", ps)
    val b = qs.select(ps.indices.map(i =>
      round(col(s"q$i") * 1e6).cast("long").as(s"b$i")): _*)
    o.crossJoin(broadcast(b))
      .withColumn("vmu", round(col("v") * 1e6).cast("long"))
      .withColumn("bin",
        ps.indices.map(i => when(col("vmu") > col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _) + lit(1))
      .groupBy(col("bin").cast("int").as("bin"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        min(col("v")).cast("double").as("min_price"),
        max(col("v")).cast("double").as("max_price"),
        (sum(round(col("v") * 100.0).cast("long")).cast("double") / 100.0
          / count(lit(1)).cast("double")).as("avg_price"))
      .orderBy("bin")
  }

  val quantileBinsSql: String = {
    val plist = (1 to 9).map(i => s"0.${i}").mkString("[", ",", "]")
    s"""WITH q AS (
       |  SELECT quantile_cont(o_totalprice, $plist) AS qs FROM orders),
       |b AS (SELECT list_transform(qs,
       |        x -> CAST(round(x * 1000000.0) AS BIGINT)) AS bs FROM q),
       |a AS (
       |  SELECT o_totalprice AS v,
       |    1 + len(list_filter(b.bs,
       |      x -> CAST(round(o_totalprice * 1000000.0) AS BIGINT) > x)) AS bin
       |  FROM orders, b)
       |SELECT CAST(bin AS INTEGER) AS bin, CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(min(v) AS DOUBLE) AS min_price,
       |  CAST(max(v) AS DOUBLE) AS max_price,
       |  CAST(sum(CAST(round(v * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
       |    / CAST(count(*) AS DOUBLE) AS avg_price
       |FROM a GROUP BY bin ORDER BY bin""".stripMargin
  }

  // ---- Fuzzy entity resolution: token blocking + edit-distance verify --------
  // The record-linkage candidate report: which distinct part names are
  // near-identical (levenshtein <= 3) and should merge into one entity?
  // Classic blocked ER — all-pairs levenshtein is O(V^2) in the name
  // vocabulary, so candidates are generated only for name pairs sharing a
  // blocking token, then verified with the exact distance. The distinct-
  // name dictionary (V = name vocabulary, not row count — at 100 TB the
  // rows grow, the dictionary doesn't) is one groupBy, feeds both join
  // sides from a registered cache, and the candidate join keys on the
  // blocking token. Per-entity row counts ride along so a downstream
  // merge knows which spelling is canonical.
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    import graft.CacheRegistry.RegisteredCache
    val names = Tables.part(s, dir).groupBy("p_name")
      .agg(count(lit(1)).cast("long").as("n_parts"))
      .registeredCache()
    val toks = names.select(col("p_name"), col("n_parts"),
      explode(split(col("p_name"), " ")).as("tok"))
    val a = toks.select(col("tok"), col("p_name").as("name_a"),
      col("n_parts").as("parts_a"))
    val b = toks.select(col("tok"), col("p_name").as("name_b"),
      col("n_parts").as("parts_b"))
    a.join(b, "tok").filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b", "parts_a", "parts_b").distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .orderBy("name_a", "name_b")
  }

  val fuzzyMatchSql: String =
    """WITH n AS (
      |  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      |  FROM part GROUP BY 1),
      |t AS (SELECT p_name, n_parts, unnest(string_split(p_name, ' ')) AS tok
      |      FROM n),
      |cand AS (
      |  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
      |    a.n_parts AS parts_a, b.n_parts AS parts_b
      |  FROM t a JOIN t b ON a.tok = b.tok AND a.p_name < b.p_name)
      |SELECT name_a, name_b, parts_a, parts_b,
      |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
      |FROM cand WHERE levenshtein(name_a, name_b) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fuzzy_match" -> (fuzzyMatch _),
    "quantile_bins" -> (quantileBins _),
    "grouping_sets" -> (groupingSetsPricing _),
    "docs_upsert" -> (docsUpsert _),
    "skew_salted_join" -> (skewSaltedJoin _),
    "unpivot_metrics" -> (unpivotMetrics _),
    "collect_agg" -> (collectAgg _),
    "stats_agg" -> (statsAgg _),
    "conditional_agg" -> (conditionalAgg _),
    "zscore_values" -> (zscoreValues _),
    "customer_rfm" -> (customerRfm _),
    "sample_hash" -> (sampleHash _),
    "sample_stratified_hash" -> (sampleStratifiedHash _),
    "scan_filter" -> (scanFilter _),
    "q3_shipping" -> (q3Shipping _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q5_star_join" -> (q5StarJoin _),
    "left_outer_orders" -> (leftOuterOrders _),
    "semi_join_customers" -> (semiJoinCustomers _),
    "anti_join_customers" -> (antiJoinCustomers _),
    "topk_orders" -> (topkOrders _),
    "window_top_per_group" -> (windowTopPerGroup _),
    "agg_top_per_group" -> (aggTopPerGroup _),
    "window_running_revenue" -> (windowRunningRevenue _),
    "window_rank_stats" -> (windowRankStats _),
    "setops_segments" -> (setOpsSegments _),
    "rollup_pricing" -> (rollupPricing _),
    "distinct_agg" -> (distinctAgg _),
    "percentiles" -> (percentiles _),
    "scalar_functions" -> (scalarFunctions _),
    "sample_limit" -> (sampleLimit _))

  val oracles: Map[String, String] = Map(
    "docs_upsert" -> docsUpsertSql,
    "fuzzy_match" -> fuzzyMatchSql,
    "quantile_bins" -> quantileBinsSql,
    "grouping_sets" -> groupingSetsPricingSql,
    "skew_salted_join" -> skewSaltedJoinSql,
    "unpivot_metrics" -> unpivotMetricsSql,
    "collect_agg" -> collectAggSql,
    "stats_agg" -> statsAggSql,
    "conditional_agg" -> conditionalAggSql,
    "zscore_values" -> zscoreValuesSql,
    "customer_rfm" -> customerRfmSql,
    "sample_hash" -> sampleHashSql,
    "sample_stratified_hash" -> sampleStratifiedHashSql,
    "scan_filter" -> scanFilterSql,
    "q3_shipping" -> q3ShippingSql,
    "q18_large_orders" -> q18LargeOrdersSql,
    "q5_star_join" -> q5StarJoinSql,
    "left_outer_orders" -> leftOuterOrdersSql,
    "semi_join_customers" -> semiJoinCustomersSql,
    "anti_join_customers" -> antiJoinCustomersSql,
    "topk_orders" -> topkOrdersSql,
    "window_top_per_group" -> windowTopPerGroupSql,
    "agg_top_per_group" -> aggTopPerGroupSql,
    "window_running_revenue" -> windowRunningRevenueSql,
    "window_rank_stats" -> windowRankStatsSql,
    "setops_segments" -> setOpsSegmentsSql,
    "rollup_pricing" -> rollupPricingSql,
    "distinct_agg" -> distinctAggSql,
    "percentiles" -> percentilesSql,
    "scalar_functions" -> scalarFunctionsSql,
    "sample_limit" -> sampleLimitSql)
}
