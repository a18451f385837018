package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Temporal operators: as-of / range joins, windows, sessionization,
  * tumbling aggregation (SURVEY.md §2 #10-11, #16-21).
  *
  * Scale notes (100 TB): every operator here shuffles at most ONCE, on
  * its partition key (user/customer). The as-of join deliberately avoids
  * the naive pair-explosion (join-all-then-rank) by unioning both event
  * streams and taking a running `last(ignoreNulls)` within the
  * partition — the classic sort-merge as-of, expressed declaratively so
  * Tungsten window exec runs it spill-aware.
  *
  * All event timestamps are epoch MICROSECONDS ([[Tables.eventsUs]]) so
  * results hash-match the DuckDB oracle's micro-precision timestamps.
  * Robust trends (#288 Theil-Sen) run on the span-sized daily series,
  * never on event-volume pairs.
  */
object Temporal {

  /** #10 as-of join: for each purchase event, the latest view event of
    * the same user at-or-before it. Single shuffle on user_id; no
    * purchase×view pair blow-up. Ordering key (ts_us, tag, event_id)
    * puts same-instant views before purchases and is a total order, so
    * the picked row is engine-deterministic.
    */
  def joinAsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, dir)
      .where(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("tag"),
        when(col("event_type") === "view", col("event_id")).as("vid"),
        when(col("event_type") === "view", col("ts_us")).as("vts"))
    val w = Window.partitionBy("user_id")
      .orderBy("ts_us", "tag", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("view_event_id", last(col("vid"), ignoreNulls = true).over(w))
      .withColumn("view_ts_us", last(col("vts"), ignoreNulls = true).over(w))
      .where(col("tag") === 1 && col("view_event_id").isNotNull)
      .select("event_id", "user_id", "ts_us", "view_event_id", "view_ts_us")
      .orderBy("event_id")
  }

  val joinAsOfSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type IN ('purchase', 'view')),
      |u AS (
      |  SELECT *, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag,
      |    CASE WHEN event_type = 'view' THEN event_id END AS vid,
      |    CASE WHEN event_type = 'view' THEN ts_us END AS vts
      |  FROM e),
      |w AS (
      |  SELECT *,
      |    LAST_VALUE(vid IGNORE NULLS) OVER win AS view_event_id,
      |    LAST_VALUE(vts IGNORE NULLS) OVER win AS view_ts_us
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, tag, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, ts_us, view_event_id, view_ts_us
      |FROM w WHERE tag = 1 AND view_event_id IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** #11 range join: same-user event pairs within a 5-minute window.
    * Equi key (user_id) bounds the shuffle; the range predicate is a
    * residual filter inside the join, never a cartesian product.
    */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, dir)
    val a = ev.select(col("user_id"), col("event_id").as("e1"),
      col("ts_us").as("t1"))
    val b = ev.select(col("user_id").as("u2"), col("event_id").as("e2"),
      col("ts_us").as("t2"))
    a.join(b, col("user_id") === col("u2") && col("t2") > col("t1") &&
        col("t2") - col("t1") <= lit(300000000L))
      .select(col("e1"), col("e2"), (col("t2") - col("t1")).as("delta_us"))
      .orderBy("e1", "e2")
  }

  val joinRangeSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
      |SELECT a.event_id AS e1, b.event_id AS e2, b.ts_us - a.ts_us AS delta_us
      |FROM e a JOIN e b ON a.user_id = b.user_id
      |  AND b.ts_us > a.ts_us AND b.ts_us - a.ts_us <= 300000000
      |ORDER BY e1, e2""".stripMargin

  /** #16 running revenue per customer over order date (window cumsum). */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val windowRunningSql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_total
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** #17 top-3 orders per customer by price (rank-per-group). */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rk"))
      .where(col("rk") <= 3)
      .orderBy("o_custkey", "rk")
  }

  val windowTopKSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** #18 per-customer day gaps between consecutive orders (lag delta). */
  def windowLagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("od"), "yyyy-MM-dd").as("o_orderdate"),
        datediff(col("od"), lag(col("od"), 1).over(
          Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")))
          .cast("long").as("gap_days"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val windowLagDeltaSql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  date_diff('day',
      |    LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
      |      ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |    CAST(o_orderdate AS DATE)) AS gap_days
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** #20 gap-based sessionization (30-min inactivity) via window cumsum.
    * One shuffle on user_id; session ids are per-user ordinals.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("is_new",
        when(lag(col("ts_us"), 1).over(ord).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(ord) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(cum))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy("user_id", "session_id")
  }

  val sessionizeSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN LAG(ts_us) OVER w IS NULL
      |      OR ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
      |    CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** #21 tumbling-window (hourly) event aggregation; map-side partial agg. */
  def tsTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(spark, dir)
      .withColumn("hour_us", expr("(ts_us div 3600000000) * 3600000000"))
      .groupBy("hour_us", "event_type")
      .agg(count(lit(1)).as("n"),
        sumDec(col("value"), 18, 2).as("sum_value"),
        countDistinct(col("user_id")).as("users"))
      .orderBy("hour_us", "event_type")

  val tsTumblingSql: String =
    s"""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us, event_type,
       |  COUNT(*) AS n,
       |  ${sumDecSql("value", 18, 2)} AS sum_value,
       |  COUNT(DISTINCT user_id) AS users
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY hour_us, event_type""".stripMargin

  // ---------------------------------------------------------------- #85
  /** #85 NTILE quartile banding: customers ranked into 4 spend
    * quartiles. Inherently a GLOBAL ranking — the window has no
    * partition key, so the (customer-sized, already aggregated) spend
    * table funnels through one single-partition sort; the fact scan
    * below it still aggregates map-side first. The ranking key
    * (total_spend DESC, o_custkey) is total, so bucket boundaries are
    * engine-deterministic; NTILE's earlier-buckets-bigger fill rule is
    * the SQL standard on both engines.
    */
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(graft.Exprs.sumDec(col("o_totalprice"), 18, 2).as("total_spend"),
        count(lit(1)).as("n_orders"))
    spend
      .withColumn("quartile", ntile(4)
        .over(Window.orderBy(desc("total_spend"), col("o_custkey")))
        .cast("long"))
      .select("o_custkey", "total_spend", "n_orders", "quartile")
      .orderBy("o_custkey")
  }

  val windowNtileSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey,
       |    ${graft.Exprs.sumDecSql("o_totalprice", 18, 2)} AS total_spend,
       |    COUNT(*) AS n_orders
       |  FROM orders GROUP BY o_custkey)
       |SELECT o_custkey, total_spend, n_orders,
       |  CAST(NTILE(4) OVER (ORDER BY total_spend DESC, o_custkey)
       |    AS BIGINT) AS quartile
       |FROM spend ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- #90
  /** #90 distribution-position windows: percent_rank and cume_dist of
    * each order within its customer's order-value history. Both are
    * exact rationals of rank counters — (rank-1)/(n-1) and n_leq/n —
    * so the doubles are bit-identical across engines with no rounding
    * discipline needed beyond the final r4. One shuffle on the
    * partition key, same as every other window op.
    */
  def windowPercentRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, dir, "orders")
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        graft.Exprs.r4(col("pr")).as("pct_rank"),
        graft.Exprs.r4(col("cd")).as("cume_dist"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowPercentRankSql: String =
    s"""SELECT o_custkey, o_orderkey, o_totalprice,
       |  ${graft.Exprs.r4Sql("PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)")}
       |    AS pct_rank,
       |  ${graft.Exprs.r4Sql("CUME_DIST() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)")}
       |    AS cume_dist
       |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- #94
  /** #94 value-extraction windows: first / last / 2nd order price over
    * each customer's full date-ordered history (frame UNBOUNDED
    * PRECEDING → UNBOUNDED FOLLOWING, the full-partition frame the
    * running windows deliberately avoid). One shuffle on o_custkey;
    * the ordering key (o_orderdate, o_orderkey) is total so the
    * extracted rows are engine-deterministic.
    */
  def windowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowFirstLastSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  FIRST_VALUE(o_totalprice) OVER win AS first_price,
      |  LAST_VALUE(o_totalprice) OVER win AS last_price,
      |  NTH_VALUE(o_totalprice, 2) OVER win AS second_price
      |FROM orders
      |WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------- #109
  /** #109 OHLC downsampling: per hour, the open/high/low/close of the
    * event value stream — the standard time-series resample. Open and
    * close are `min/max(struct(ts, id, value))` — partial-aggregable
    * extrema, so the whole query is ONE keyed agg with map-side
    * combine (no window, no sort); values pass through untouched (no
    * float arithmetic to discipline).
    */
  def tsOhlc(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(spark, dir)
      .withColumn("hour_us", expr("(ts_us div 3600000000) * 3600000000"))
      .groupBy("hour_us")
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts_us"), col("event_id"), col("value")))
          .getField("value").as("close"),
        count(lit(1)).as("n"))
      .orderBy("hour_us")

  val tsOhlcSql: String =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS ts_us, value FROM events)
      |SELECT (ts_us // 3600000000) * 3600000000 AS hour_us,
      |  (min({'t': ts_us, 'e': event_id, 'v': value})).v AS open,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  (max({'t': ts_us, 'e': event_id, 'v': value})).v AS close,
      |  COUNT(*) AS n
      |FROM e GROUP BY 1 ORDER BY hour_us""".stripMargin

  // --------------------------------------------------------------- #118
  /** #118 session statistics: the sessionize (#20) output re-aggregated
    * into the distribution a product team actually reads — sessions,
    * events/session, duration stats (avg via decimal sums, p95 via
    * exact percentile under r4). Composition: the session build
    * shuffles once on user_id, the rollup is one more tiny agg over
    * session-sized rows.
    */
  def sessionsStats(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionize(spark, dir)
      .withColumn("duration_s",
        ((col("end_us") - col("start_us")) / 1000000L).cast("long"))
    s.agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        (sumDec(col("n_events").cast("double"), 18, 2) / count(lit(1)))
          .as("avg_events"),
        (sumDec(col("duration_s").cast("double"), 18, 2) / count(lit(1)))
          .as("avg_duration_s"),
        expr("cast(percentile(duration_s, 0.5) as double)")
          .as("p50_duration_s"),
        expr("cast(percentile(duration_s, 0.95) as double)")
          .as("p95_duration_s"))
      .select(col("n_sessions"), col("n_users"),
        graft.Exprs.r4(col("avg_events")).as("avg_events"),
        graft.Exprs.r4(col("avg_duration_s")).as("avg_duration_s"),
        graft.Exprs.r4(col("p50_duration_s")).as("p50_duration_s"),
        graft.Exprs.r4(col("p95_duration_s")).as("p95_duration_s"))
  }

  val sessionsStatsSql: String = {
    import graft.Exprs.r4Sql
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
       |  FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN LAG(ts_us) OVER w IS NULL
       |      OR ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
       |      AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |sess AS (
       |  SELECT user_id,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us,
       |      event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS session_id, ts_us
       |  FROM flagged),
       |agg AS (
       |  SELECT user_id, session_id, COUNT(*) AS n_events,
       |    (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_s
       |  FROM sess GROUP BY user_id, session_id)
       |SELECT COUNT(*) AS n_sessions,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  ${r4Sql(
          "CAST(SUM(CAST(CAST(n_events AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)")}
       |    AS avg_events,
       |  ${r4Sql(
          "CAST(SUM(CAST(CAST(duration_s AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)")}
       |    AS avg_duration_s,
       |  ${r4Sql("CAST(quantile_cont(duration_s, 0.5) AS DOUBLE)")}
       |    AS p50_duration_s,
       |  ${r4Sql("CAST(quantile_cont(duration_s, 0.95) AS DOUBLE)")}
       |    AS p95_duration_s
       |FROM agg""".stripMargin
  }

  // --------------------------------------------------------------- #119
  /** #119 backlog curve (sweep line): daily opened/closed order counts
    * and the running open-order backlog. The interval problem (how
    * many orders are open on day D) becomes two +1/−1 event streams —
    * order placed, last line shipped — merged, aggregated per day, and
    * prefix-summed. That turns an interval-overlap join (quadratic-ish
    * at scale) into one union + one keyed agg + one cumsum over the
    * DAY-COUNT-sized curve (the single-partition sort sees ~10³ rows
    * at any data volume). Orders with no shipped lines never emit a
    * close event and correctly stay in the backlog.
    */
  def ordersBacklog(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
    val closeDay = Tables(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(max(col("l_shipdate").cast("date")).as("cd"))
    val opens = o.select(col("od").as("day"),
      lit(1L).as("opened"), lit(0L).as("closed"))
    val closes = o.join(closeDay, col("o_orderkey") === col("l_orderkey"))
      .select(col("cd").as("day"), lit(0L).as("opened"), lit(1L).as("closed"))
    val curve = opens.union(closes)
      .groupBy("day")
      .agg(sum(col("opened")).as("opened"), sum(col("closed")).as("closed"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve
      .withColumn("backlog", sum(col("opened") - col("closed")).over(cum))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("opened"), col("closed"), col("backlog"))
      .orderBy("day")
  }

  val ordersBacklogSql: String =
    """WITH opens AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS opened, 0 AS closed
      |  FROM orders),
      |closes AS (
      |  SELECT cd AS day, 0 AS opened, 1 AS closed
      |  FROM orders JOIN (
      |    SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS cd
      |    FROM lineitem GROUP BY l_orderkey) c
      |  ON o_orderkey = c.l_orderkey),
      |curve AS (
      |  SELECT day, CAST(SUM(opened) AS BIGINT) AS opened,
      |    CAST(SUM(closed) AS BIGINT) AS closed
      |  FROM (SELECT * FROM opens UNION ALL SELECT * FROM closes)
      |  GROUP BY day)
      |SELECT strftime(day, '%Y-%m-%d') AS day, opened, closed,
      |  CAST(SUM(opened - closed) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS backlog
      |FROM curve ORDER BY day""".stripMargin

  // --------------------------------------------------------------- #122
  /** #122 running distinct cardinality: how many DISTINCT event types
    * each user has seen as of every event. Window DISTINCT aggregates
    * don't exist in either engine; the standard re-expression is
    * first-occurrence flags (row_number per (user, type) == 1) folded
    * by a running sum — two window passes over the SAME (user)
    * partitioning, one Exchange.
    */
  def windowRunningDistinct(spark: SparkSession, dir: String): DataFrame = {
    val firstW = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_us", "event_id")
    val cumW = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .select("user_id", "event_id", "ts_us", "event_type")
      .withColumn("is_first",
        (row_number().over(firstW) === 1).cast("long"))
      .withColumn("types_seen", sum(col("is_first")).over(cumW))
      .select("user_id", "event_id", "ts_us", "types_seen")
      .orderBy("user_id", "ts_us", "event_id")
  }

  val windowRunningDistinctSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN ROW_NUMBER() OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts_us, event_id) = 1
      |    THEN 1 ELSE 0 END AS is_first
      |  FROM e)
      |SELECT user_id, event_id, ts_us,
      |  CAST(SUM(is_first) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS types_seen
      |FROM f
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  // --------------------------------------------------------------- #363
  /** #363 view→purchase AS-OF conversion attribution — the BATCH
    * contract of streaming family #22, registered so the DuckDB gate
    * hash-proves the exact frame the streamed
    * `EventStream.asofJoinStream` is spec-pinned equal to: every
    * purchase LEFT-joined to the latest view by the same user
    * at-or-before it within the 1-hour tolerance (ties → highest
    * view_us, then highest view_id — the stream processor's
    * tie-break), null view when none qualifies, lag in exact micros.
    * This is last-touch attribution with a tolerance window — the #10
    * as-of family pointed at the funnel read (#48 counts stage
    * conversion; this emits WHICH view converted and how fast).
    *
    * Scale: one interval-bounded equi-join on user_id + one
    * per-purchase rank window — both shuffle on keys the event table
    * already clusters by in practice; the tolerance bounds the join
    * fan-out per purchase.
    */
  def eventsAsofConversion(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.asofJoinBatch(
      Tables.eventsUs(spark, dir)
        .select("event_id", "user_id", "event_type", "ts_us", "value"))
      .orderBy("purchase_id")

  val eventsAsofConversionSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    epoch_us(ts) AS purchase_us
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id AS v_user, event_id AS view_id,
      |    epoch_us(ts) AS view_us
      |  FROM events WHERE event_type = 'view'),
      |j AS (
      |  SELECT p.user_id, p.purchase_id, p.purchase_us,
      |    v.view_id, v.view_us,
      |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |      ORDER BY v.view_us DESC, v.view_id DESC) AS rn
      |  FROM p LEFT JOIN v ON p.user_id = v.v_user
      |    AND v.view_us <= p.purchase_us
      |    AND v.view_us + 3600000000 >= p.purchase_us)
      |SELECT user_id, purchase_id, purchase_us, view_id, view_us,
      |  purchase_us - view_us AS lag_us
      |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin

  // --------------------------------------------------------------- #288
  /** #288 Theil-Sen robust trend per event type over the daily count
    * series: the median of all pairwise slopes (y_j−y_i)/(d_j−d_i),
    * with the intercept as the median residual y_i − slope·d_i. A
    * single wild day shifts #142's least-squares slope arbitrarily;
    * the pairwise-median estimator has a 29% breakdown point — the
    * robust read an ops dashboard wants next to the OLS one.
    *
    * Determinism: daily counts are exact integers; each slope is ONE
    * IEEE division of exact int64s (identical on both engines), so
    * the (slope, i, j) total order — and therefore the lower-median
    * pick at rank ⌈n/2⌉ — is engine-identical; same for residuals.
    *
    * Scale: the dense axis is SPAN-sized (days), so the pair
    * explosion is span²-bounded per type — a fixed-horizon constant,
    * never event-volume-quadratic; everything after the one
    * events→daily agg runs on domain-sized tables.
    */
  def tsTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    // the daily table is referenced 3× (both pair sides + residuals);
    // unlike the graph family's DATA-sized edge caches (where the idle
    // A/B favors parallel recompute), this subplan reduces to a
    // SPAN-sized handful of rows behind a full events scan — persist
    // is unambiguous: one scan instead of three at any scale, and the
    // materialization barrier costs a ~|types|·days-row cache
    val daily = Tables.persistSlot("temporal.theilSen.daily",
      Tables.eventsUs(spark, dir)
        .groupBy(col("event_type"),
          expr(s"ts_us div $dayUs").as("d"))
        .agg(count(lit(1)).as("y")))
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        col("a.d").as("di"), col("a.y").as("yi"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.d") - col("a.d")).cast("double")).as("slope"),
        col("b.d").as("dj"))
    val ws = Window.partitionBy("event_type")
      .orderBy("slope", "di", "dj")
    val slope = pairs
      .withColumn("rn", row_number().over(ws))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("rn") === ceil(col("np").cast("double") / 2).cast("long"))
      .select(col("event_type"), col("slope"), col("np").as("n_pairs"))
    val resid = daily.join(slope, "event_type")
      .select(col("event_type"), col("slope"), col("n_pairs"),
        (col("y").cast("double") - col("slope") * col("d")).as("r"),
        col("d"))
    val wr = Window.partitionBy("event_type").orderBy("r", "d")
    resid
      .withColumn("rn", row_number().over(wr))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("rn") === ceil(col("nd").cast("double") / 2).cast("long"))
      .select(col("event_type"), col("nd").as("n_days"), col("n_pairs"),
        r4(col("slope")).as("slope"), r4(col("r")).as("intercept"))
      .orderBy("event_type")
  }

  val tsTheilSenSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
       |    CAST(COUNT(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.event_type, a.d AS di, a.y AS yi,
       |    CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope, b.d AS dj
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND a.d < b.d),
       |sl AS (
       |  SELECT event_type, slope, np AS n_pairs FROM (
       |    SELECT event_type, slope,
       |      ROW_NUMBER() OVER (PARTITION BY event_type
       |        ORDER BY slope, di, dj) AS rn,
       |      COUNT(*) OVER (PARTITION BY event_type) AS np
       |    FROM pairs)
       |  WHERE rn = CAST(CEIL(CAST(np AS DOUBLE) / 2) AS BIGINT)),
       |res AS (
       |  SELECT d.event_type, sl.slope, sl.n_pairs,
       |    CAST(d.y AS DOUBLE) - sl.slope * d.d AS r, d.d
       |  FROM daily d JOIN sl ON d.event_type = sl.event_type)
       |SELECT event_type, nd AS n_days, n_pairs,
       |  ${r4Sql("slope")} AS slope, ${r4Sql("r")} AS intercept
       |FROM (
       |  SELECT event_type, slope, n_pairs, r,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r, d) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS nd
       |  FROM res)
       |WHERE rn = CAST(CEIL(CAST(nd AS DOUBLE) / 2) AS BIGINT)
       |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_theil_sen" -> (tsTheilSen _),
    "window_running_distinct" -> (windowRunningDistinct _),
    "events_asof_conversion" -> (eventsAsofConversion _),
    "orders_backlog" -> (ordersBacklog _),
    "sessions_stats" -> (sessionsStats _),
    "ts_ohlc" -> (tsOhlc _),
    "window_first_last" -> (windowFirstLast _),
    "window_percent_rank" -> (windowPercentRank _),
    "window_ntile" -> (windowNtile _),
    "join_asof" -> (joinAsOf _),
    "join_range" -> (joinRange _),
    "window_running" -> (windowRunning _),
    "window_topk" -> (windowTopK _),
    "window_lag_delta" -> (windowLagDelta _),
    "sessionize" -> (sessionize _),
    "ts_tumbling" -> (tsTumbling _))

  val oracles: Map[String, String] = Map(
    "ts_theil_sen" -> tsTheilSenSql,
    "window_running_distinct" -> windowRunningDistinctSql,
    "events_asof_conversion" -> eventsAsofConversionSql,
    "orders_backlog" -> ordersBacklogSql,
    "sessions_stats" -> sessionsStatsSql,
    "ts_ohlc" -> tsOhlcSql,
    "window_first_last" -> windowFirstLastSql,
    "window_percent_rank" -> windowPercentRankSql,
    "window_ntile" -> windowNtileSql,
    "join_asof" -> joinAsOfSql,
    "join_range" -> joinRangeSql,
    "window_running" -> windowRunningSql,
    "window_topk" -> windowTopKSql,
    "window_lag_delta" -> windowLagDeltaSql,
    "sessionize" -> sessionizeSql,
    "ts_tumbling" -> tsTumblingSql)
}
