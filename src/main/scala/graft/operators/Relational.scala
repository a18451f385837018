package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Exprs, Tables}
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Relational core: joins + aggregates (SURVEY.md §2 #7-15).
  *
  * Catalog analytics re-expressed as declarative DataFrame plans so
  * Catalyst handles pushdown/pruning/join planning. Dimension tables
  * (`region`, `nation`) get explicit broadcast hints — they stay small at
  * any catalog scale; fact-fact joins (lineitem⋈orders) shuffle on their
  * keys and rely on AQE for runtime re-planning at cluster scale.
  * The Pareto skyline (#287) is a sweep over the price domain, not a
  * global sort of the fact table.
  */
object Relational {

  private val revenueCol = sumDec(
    col("l_extendedprice") * (lit(1) - col("l_discount")), 22, 6)
  private val revenueSql =
    sumDecSql("l_extendedprice*(1-l_discount)", 22, 6)

  /** #7 TPC-H Q1-style pricing summary: single scan, map-side partial agg. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .where(expr("l_shipdate <= '1998-09-02'"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumDec(col("l_quantity"), 18, 2).as("sum_qty"),
        sumDec(col("l_extendedprice"), 18, 2).as("sum_base_price"),
        revenueCol.as("sum_disc_price"),
        sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")), 24, 6).as("sum_charge"),
        (sumDec(col("l_quantity"), 18, 2) / count(lit(1))).as("avg_qty"),
        (sumDec(col("l_extendedprice"), 18, 2) / count(lit(1))).as("avg_price"),
        (sumDec(col("l_discount"), 18, 4) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sumDecSql("l_quantity", 18, 2)} AS sum_qty,
       |  ${sumDecSql("l_extendedprice", 18, 2)} AS sum_base_price,
       |  $revenueSql AS sum_disc_price,
       |  ${sumDecSql("l_extendedprice*(1-l_discount)*(1+l_tax)", 24, 6)} AS sum_charge,
       |  ${sumDecSql("l_quantity", 18, 2)}/COUNT(*) AS avg_qty,
       |  ${sumDecSql("l_extendedprice", 18, 2)}/COUNT(*) AS avg_price,
       |  ${sumDecSql("l_discount", 18, 4)}/COUNT(*) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** #8 3-way join + agg + deterministic top-k. Customer is left to
    * AQE/shuffle planning (too big to force-broadcast at catalog scale);
    * revenue is decimal-exact so the DESC ordering is engine-stable.
    */
  def q3TopUnshipped(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
    val o = Tables(spark, dir, "orders")
      .where(expr("o_orderdate < '1998-03-15'"))
    val l = Tables(spark, dir, "lineitem")
      .where(expr("l_shipdate > '1998-03-15'"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(revenueCol.as("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |  $revenueSql AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       |GROUP BY 1, 2
       |ORDER BY revenue DESC, o_orderkey
       |LIMIT 10""".stripMargin

  /** #9 6-way star join; nation/region broadcast (bounded cardinality). */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
      .where(expr("o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'"))
    val l = Tables(spark, dir, "lineitem")
    val s = Tables(spark, dir, "supplier")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region").where(col("r_name") === "ASIA")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(revenueCol.as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  val q5Sql: String =
    s"""SELECT n_name, $revenueSql AS revenue
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** #12 left-semi (EXISTS): customers with >=1 order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** #13 left-anti (NOT EXISTS): customers with no activity in the event
    * log (an all-orders anti-set is empty in this data, which would make
    * the check vacuous).
    */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val e = Tables.eventsUs(spark, dir)
    c.join(e, col("c_custkey") === col("user_id"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** #14 ROLLUP hierarchy totals over lineitem. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sumDec(col("l_quantity"), 18, 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  val aggRollupSql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  ${sumDecSql("l_quantity", 18, 2)} AS sum_qty,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** #15 multi-stat agg. stddev is derived from two decimal-exact sums
    * (sum, sum-of-squares) with an identical double formula on both
    * engines, so no cross-engine stddev algorithm drift can leak in;
    * the interpolated median is rounded 4dp instead.
    */
  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    val s1 = sumDec(col("o_totalprice"), 18, 2)
    val s2 = sumDec(col("o_totalprice") * col("o_totalprice"), 30, 4)
    val n = count(lit(1))
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        n.as("n"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        (s1 / n).as("avg_price"),
        sqrt((s2 - s1 * s1 / n) / (n - lit(1))).as("std_price"),
        r4(expr("percentile(o_totalprice, 0.5)")).as("median_price"))
      .orderBy("o_orderpriority")
  }

  val aggStatsSql: String = {
    val s1 = sumDecSql("o_totalprice", 18, 2)
    val s2 = sumDecSql("o_totalprice*o_totalprice", 30, 4)
    s"""SELECT o_orderpriority,
       |  COUNT(*) AS n,
       |  MIN(o_totalprice) AS min_price,
       |  MAX(o_totalprice) AS max_price,
       |  $s1/COUNT(*) AS avg_price,
       |  SQRT(($s2 - $s1*$s1/COUNT(*))/(COUNT(*) - 1)) AS std_price,
       |  ${r4Sql("quantile_cont(o_totalprice, 0.5)")} AS median_price
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  // ---------------------------------------------------------------- #73
  /** #73 TPC-H Q4 shape: orders per priority having at least one
    * late-shipped line (EXISTS with a non-equi residual). The semi-join
    * carries the `l_shipdate > o_orderdate` residual inside the join
    * condition, so lineitem is touched once and never materializes a
    * row per matching line — the dedup is free in the semi-join.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val l = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_shipdate")
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- #74
  /** #74 TPC-H Q10 shape: top-20 customers by revenue on returned
    * items. lineitem filters to returnflag='R' at the scan (pushed),
    * joins orders then customer (both fact-sized — shuffle joins under
    * AQE), nation broadcasts; revenue is decimal-exact so the DESC
    * top-k is engine-stable with the c_custkey tie-break.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .where(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey")
    val n = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(revenueCol.as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name, n_name, $revenueSql AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- #75
  /** #75 TPC-H Q14 shape: share of revenue from PROMO-type parts —
    * conditional aggregation over a fact⋈dim join. Both sums are
    * decimal-exact; only the final ratio drops to double (identical
    * decimal→double conversion and one IEEE division on both engines,
    * then 4dp rounding).
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables(spark, dir, "part").select("p_partkey", "p_type")
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sumDec(when(col("p_type") === "PROMO", rev).otherwise(lit(0)), 22, 6)
          .as("promo_revenue"),
        revenueCol.as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        r4(lit(100.0) * col("promo_revenue").cast("double") /
          col("total_revenue").cast("double")).as("promo_share"))
  }

  val q14Sql: String =
    s"""SELECT
       |  ${sumDecSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END", 22, 6)}
       |    AS promo_revenue,
       |  $revenueSql AS total_revenue,
       |  ${r4Sql(
            s"""100.0 * CAST(${sumDecSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END", 22, 6)} AS DOUBLE)
               | / CAST($revenueSql AS DOUBLE)""".stripMargin)} AS promo_share
       |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin

  // ---------------------------------------------------------------- #86
  /** #86 explicit GROUPING SETS lattice: per-returnflag totals,
    * per-linestatus totals, and the grand total in ONE pass — the
    * arbitrary-sets sibling of ROLLUP (#14) and CUBE (#52), via
    * Spark 4's `Dataset.groupingSets`. The Expand under it emits one
    * row per (input row × set), so cost scales with |sets| — here 3,
    * all aggregated map-side before the single keyed Exchange.
    */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sumDec(col("l_quantity"), 18, 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  val aggGroupingSetsSql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  ${sumDecSql("l_quantity", 18, 2)} AS sum_qty, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY returnflag, linestatus""".stripMargin

  // ---------------------------------------------------------------- #83
  /** #83 skew-proof salted join: lineitem⋈orders where a handful of hot
    * order keys would otherwise concentrate in a few shuffle partitions.
    * Production form: PROFILE the fact side first (a cheap keyed count),
    * then salt ONLY the profiled hot keys — the dim side replicates
    * ×SALT for just those keys (everyone else keeps salt 0 and a
    * 1-element explode), so the replication cost is |hot|×SALT, not
    * |dim|×SALT. The fact side salts deterministically
    * (l_linenumber % SALT). The ORACLE is the plain unsalted join —
    * salting must not change the answer, only the partition histogram.
    * (AQE's skew-join split handles sort-merge skew at runtime;
    * explicit salting is the plan-level form that also covers hash
    * aggregation downstream of the join, shown here end-to-end.)
    */
  def joinSalted(spark: SparkSession, dir: String, salt: Int = 8,
      hotMinRows: Long = 6L): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    // skew profile: keys whose fact-row count crosses the threshold.
    // Tiny by definition (it's the skew tail) — broadcast both ways.
    val hot = l.groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= hotMinRows)
      .select(col("l_orderkey").as("hot_key"))
    val lS = l.join(broadcast(hot), col("l_orderkey") === col("hot_key"),
        "left")
      .withColumn("salt",
        when(col("hot_key").isNotNull, pmod(col("l_linenumber"), lit(salt)))
          .otherwise(lit(0)))
    val o = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
      .join(broadcast(hot), col("o_orderkey") === col("hot_key"), "left")
      .withColumn("salt", explode(
        when(col("hot_key").isNotNull,
          sequence(lit(0), lit(salt - 1))).otherwise(array(lit(0)))))
    lS.join(o, col("l_orderkey") === col("o_orderkey") &&
        lS("salt") === o("salt"))
      .groupBy("o_orderpriority")
      .agg(revenueCol.as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy("o_orderpriority")
  }

  val joinSaltedSql: String =
    s"""SELECT o_orderpriority, $revenueSql AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- #91
  /** #91 TPC-H Q7 shape: shipping volume between a nation pair, by ship
    * year. The nation dim is filtered to the pair FIRST and broadcast
    * into supplier and customer, so both fact sides are semi-reduced to
    * pair-nation rows before the lineitem⋈orders fact⋈fact shuffle —
    * the disjunctive (n1,n2)/(n2,n1) check then runs on the tiny joined
    * remainder instead of the raw cross of facts.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    // pair chosen to have supplier coverage down to sf0.001 (the spec
    // sweep scale — supplier nations are sparse in the tiny sample)
    val pair = Seq("NATION_3", "NATION_8")
    val n = Tables(spark, dir, "nation")
      .where(col("n_name").isin(pair: _*))
    val s = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(n.select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("s_nk"))
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(n.select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("c_nk"))
    val l = Tables(spark, dir, "lineitem")
      .where(expr("l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    l.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(revenueCol.as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  year(l_shipdate) AS l_year, $revenueSql AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE n1.n_name IN ('NATION_3','NATION_8')
       |  AND n2.n_name IN ('NATION_3','NATION_8')
       |  AND n1.n_name <> n2.n_name
       |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- #92
  /** #92 TPC-H Q8 shape: per order-year market share of one supplier
    * nation, restricted to PROMO-type parts and ASIA-region customers.
    * part and the region-filtered nation set broadcast (bounded dims);
    * the share is a conditional decimal sum over a decimal total, with
    * ONE decimal→double cast + division + 4dp floor-round on both
    * engines, so the ratio is bit-stable cross-engine.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").where(col("p_type") === "PROMO")
      .select("p_partkey")
    val asia = Tables(spark, dir, "nation")
      .join(broadcast(Tables(spark, dir, "region")
        .where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(asia), col("c_nationkey") === col("c_nk"), "left_semi")
    val o = Tables(spark, dir, "orders")
      .where(expr(
        "o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val s = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val n = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sumDec(when(col("supp_nation") === "NATION_7", rev).otherwise(lit(0)),
          22, 6).as("nation_revenue"),
        revenueCol.as("total_revenue"))
      .select(col("o_year"), col("nation_revenue"), col("total_revenue"),
        r4(col("nation_revenue").cast("double") /
          col("total_revenue").cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  val q8Sql: String = {
    val natRev = sumDecSql(
      "CASE WHEN n1.n_name = 'NATION_7' THEN l_extendedprice*(1-l_discount) ELSE 0 END",
      22, 6)
    s"""SELECT year(o_orderdate) AS o_year,
       |  $natRev AS nation_revenue,
       |  $revenueSql AS total_revenue,
       |  ${r4Sql(s"CAST($natRev AS DOUBLE) / CAST($revenueSql AS DOUBLE)")}
       |    AS mkt_share
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
       |  AND o_custkey IN (
       |    SELECT c_custkey FROM customer
       |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |    JOIN region ON n2.n_regionkey = r_regionkey
       |    WHERE r_name = 'ASIA')
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- #93
  /** #93 TPC-H Q19 shape: disjunctive-predicate join (OR of three
    * brand/size/quantity clauses). The full disjunction can only be
    * evaluated after the join, but each side gets an explicit
    * semantics-preserving SUPERSET prefilter (the union of its
    * per-clause ranges) so the parquet scans push `p_brand IN …,
    * p_size BETWEEN` and `l_quantity BETWEEN` down and the join input
    * shrinks before any shuffle — the classic manual factoring Catalyst
    * can't derive from an OR-of-ANDs across two relations.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val brands = Seq("Brand#12", "Brand#20", "Brand#23")
    val p = Tables(spark, dir, "part")
      .where(col("p_brand").isin(brands: _*) && col("p_size").between(1, 15))
      .select("p_partkey", "p_brand", "p_size")
    val l = Tables(spark, dir, "lineitem")
      .where(col("l_quantity").between(1, 30))
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val clause = (
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#20" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30)))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(clause)
      .agg(revenueCol.as("revenue"), count(lit(1)).as("n_lines"))
  }

  val q19Sql: String =
    s"""SELECT $revenueSql AS revenue, COUNT(*) AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // --------------------------------------------------------------- #120
  /** #120 TPC-H Q6 shape: the forecast-revenue scan — ALL predicates
    * (date range, discount band, quantity cap) push to the parquet
    * scan, so the plan is scan → partial agg → single-row exchange;
    * no join, no window. The purest pushdown showcase in the suite:
    * at 100 TB this query's cost is exactly the row-group pruning the
    * filters buy.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .where(expr("l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'")
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sumDec(col("l_extendedprice") * col("l_discount"), 22, 6)
        .as("revenue"),
        count(lit(1)).as("n_lines"))

  val q6Sql: String =
    s"""SELECT ${sumDecSql("l_extendedprice*l_discount", 22, 6)} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  // --------------------------------------------------------------- #121
  /** #121 rank vs dense_rank tie semantics: parts ranked by size
    * within brand — sizes tie heavily, so `rank` shows gaps after tie
    * groups while `dense_rank` stays gapless. Tie-group rank VALUES
    * are deterministic by definition (equal keys ⇒ equal rank), so no
    * tie-break is needed in the window ORDER BY itself — only the
    * output's total order carries the p_partkey key.
    */
  def windowDenseRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("p_brand").orderBy("p_size")
    Tables(spark, dir, "part")
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"))
      .orderBy("p_brand", "p_partkey")
  }

  val windowDenseRankSql: String =
    """SELECT p_brand, p_partkey, p_size,
      |  CAST(RANK() OVER w AS BIGINT) AS rk,
      |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drk
      |FROM part
      |WINDOW w AS (PARTITION BY p_brand ORDER BY p_size)
      |ORDER BY p_brand, p_partkey""".stripMargin

  // --------------------------------------------------------------- #287
  /** #287 Pareto skyline of parts: the non-dominated set under
    * (minimize retail price, maximize size) — no other part is both
    * cheaper-or-equal and larger-or-equal with one strict. The
    * multi-objective shortlist read (cheapest part at every size
    * frontier) that BI suites ship as SKYLINE.
    *
    * Exactness: prices clear to integer cents (the #231 floor device),
    * so dominance is integer-only. Survival: a part survives iff its
    * size strictly exceeds the best size at any strictly lower price
    * AND equals the best size at its own price (price-tied parts with
    * the same size are mutually non-dominated and all survive).
    *
    * Scale: one keyed agg to the per-cents best-size table (bounded by
    * the PRICE DOMAIN, not the part count), ONE ordered window over
    * that domain-sized table for the running best, and a broadcast
    * join back — the data-sized pass never sorts globally. This is the
    * standard 2D skyline sweep; higher dimensions go through repeated
    * sweeps or a grid prune, same domain-bounded shape.
    */
  def partsSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        col("p_size").cast("long").as("size"),
        expr("cast(floor(p_retailprice * 100.0 + 0.5) as bigint)")
          .as("cents"))
    val best = p.groupBy("cents").agg(max("size").as("best_size"))
    val w = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    // runs over the price-DOMAIN-sized table (≤ distinct cents rows)
    val frontier = best
      .withColumn("best_below", max("best_size").over(w))
    p.join(broadcast(frontier), "cents")
      .where(col("size") === col("best_size") &&
        (col("best_below").isNull || col("size") > col("best_below")))
      .select(col("p_partkey"), col("p_brand"), col("size"), col("cents"))
      .orderBy("cents", "p_partkey")
  }

  val partsSkylineSql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS size,
      |    CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM part),
      |best AS (
      |  SELECT cents, MAX(size) AS best_size FROM p GROUP BY cents),
      |fr AS (
      |  SELECT cents, best_size,
      |    MAX(best_size) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS best_below
      |  FROM best)
      |SELECT p.p_partkey, p.p_brand, p.size, p.cents
      |FROM p JOIN fr USING (cents)
      |WHERE p.size = fr.best_size
      |  AND (fr.best_below IS NULL OR p.size > fr.best_below)
      |ORDER BY p.cents, p.p_partkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "parts_skyline" -> (partsSkyline _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "window_dense_rank" -> (windowDenseRank _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_unshipped" -> (q3TopUnshipped _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_share" -> (q14PromoShare _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_salted" -> ((s: SparkSession, d: String) => joinSalted(s, d)),
    "agg_rollup" -> (aggRollup _),
    "agg_grouping_sets" -> (aggGroupingSets _),
    "agg_stats" -> (aggStats _))

  val oracles: Map[String, String] = Map(
    "parts_skyline" -> partsSkylineSql,
    "q6_forecast_revenue" -> q6Sql,
    "window_dense_rank" -> windowDenseRankSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_top_unshipped" -> q3Sql,
    "q5_region_revenue" -> q5Sql,
    "q4_order_priority" -> q4Sql,
    "q10_returned_items" -> q10Sql,
    "q14_promo_share" -> q14Sql,
    "q7_volume_shipping" -> q7Sql,
    "q8_market_share" -> q8Sql,
    "q19_disjunctive" -> q19Sql,
    "join_semi" -> joinSemiSql,
    "join_anti" -> joinAntiSql,
    "join_salted" -> joinSaltedSql,
    "agg_rollup" -> aggRollupSql,
    "agg_grouping_sets" -> aggGroupingSetsSql,
    "agg_stats" -> aggStatsSql)
}
