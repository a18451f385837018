package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.Exprs.{r4, r4Sql}

/** Round-13 widening (SURVEY.md §2 #262+): the cluster-operations
  * pre-flight family (join-key skew audit — the measurement that
  * decides when #83/#46's salting is worth its shuffle), funnel
  * conversion latency (the time axis #48's funnel lacks), discrete
  * repeat-purchase hazard, chance-corrected rater agreement over the
  * #81 quality gates (Cohen's κ beside #256's Jaccard), graph-based
  * ANN search (the HNSW-family baseline: greedy best-first beam over
  * the #71 kNN graph), multimodal shot-boundary detection (consecutive
  * frame-phash hamming), Bollinger-band breakout detection in exact
  * integer band space, and the brand-switching transition matrix.
  *
  * Reference grounding: the reference indexes pipeline outputs so
  * downstream jobs can run exactly this class of QC / analytics
  * sweeps over them (reactor.py:147-218 routes every archived
  * product into the queryable catalog); the skew audit and agreement
  * stats are the operational reads a 1000-executor deployment runs
  * before trusting a join layout or a filter cascade.
  *
  * Cross-engine exactness (the repo-wide contract): counts and sums
  * are exact int64/DECIMAL(38,0); thresholds compare in integer or
  * decimal space (never on a derived float); each emitted ratio is
  * ONE r4'd IEEE division over exact inputs; order statistics use
  * total-order ranking keys or the bounded-domain histogram device.
  */
object Summit {

  // --------------------------------------------------------------- #262
  /** #262 join-key skew pre-flight audit: the measurement a cluster
    * operator runs BEFORE deciding whether a join/agg key needs
    * salting (#83/#46) or AQE skew handling. Emits the top-5 heaviest
    * keys, each row carrying the global distribution stats: key count,
    * row count, max/mean/p99 rows-per-key, and the derived salt factor
    * `ceil(max_rows / mean_rows)` (the fan-out that levels the
    * heaviest key to the mean) with its power-of-two bit width via the
    * `length(bin(n))` integer-bits device (#131/#197 — no libm log).
    *
    * Exactness: mean and share are ONE r4'd division each over exact
    * int64 counts; p99 is an exact order statistic — smallest
    * rows-per-key value whose cumulative key count reaches
    * ⌈0.99·n_keys⌉, compared as `cum·100 ≥ n_keys·99` in integer
    * space; salt is exact integer ceiling division.
    *
    * Scale: ONE keyed count agg (map-side combine) to the |keys|-sized
    * table; the p99 comes from a HISTOGRAM of rows-per-key VALUES
    * (bounded by max_rows, not |keys| — the #245 bounded-domain
    * device), so the only global window runs over the value domain;
    * top-5 is a TakeOrdered, never a full sort. 100 TB: |keys| rows
    * shuffle once; everything after is domain-sized.
    */
  def auditKeySkew(spark: SparkSession, dir: String): DataFrame = {
    // the per-key count table feeds THREE consumers (global stats, the
    // value-domain histogram, the top-5) — slot-persist it so lineitem
    // scans once, not three times
    val perKey = Tables.persistSlot("summit.keySkew.perKey",
      Tables(spark, dir, "lineitem")
        .groupBy(col("l_partkey").as("key"))
        .agg(count(lit(1)).as("key_rows")))
    val stats = perKey.agg(
      count(lit(1)).as("n_keys"),
      sum("key_rows").as("n_rows"),
      max("key_rows").as("max_rows"))
    // histogram over the rows-per-key VALUE domain (≤ max_rows cells)
    val hist = perKey.groupBy("key_rows").agg(count(lit(1)).as("n_at"))
    val wc = Window.orderBy("key_rows") // domain-sized, documented
    val p99 = hist.withColumn("cum", sum("n_at").over(wc))
      .crossJoin(broadcast(stats.select(col("n_keys").as("nk"))))
      .where(col("cum") * 100 >= col("nk") * 99)
      .agg(min("key_rows").as("p99_rows"))
    perKey.orderBy(desc("key_rows"), col("key")).limit(5)
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(p99))
      .withColumn("share",
        r4(col("key_rows").cast("double") / col("n_rows")))
      .withColumn("mean_rows",
        r4(col("n_rows").cast("double") / col("n_keys")))
      .withColumn("salt",
        expr("(max_rows * n_keys + n_rows - 1) div n_rows"))
      .withColumn("salt_bits",
        when(col("salt") <= 1, lit(0L))
          .otherwise(length(bin(col("salt") - 1)).cast("long")))
      .select("key", "key_rows", "share", "n_rows", "n_keys", "max_rows",
        "mean_rows", "p99_rows", "salt", "salt_bits")
      .orderBy(desc("key_rows"), col("key"))
  }

  val auditKeySkewSql: String =
    s"""WITH pk AS (
       |  SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS key_rows
       |  FROM lineitem GROUP BY 1),
       |st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(SUM(key_rows) AS BIGINT) AS n_rows,
       |    MAX(key_rows) AS max_rows
       |  FROM pk),
       |h AS (SELECT key_rows, COUNT(*) AS n_at FROM pk GROUP BY 1),
       |c AS (
       |  SELECT key_rows, SUM(n_at) OVER (ORDER BY key_rows) AS cum
       |  FROM h),
       |p AS (
       |  SELECT MIN(key_rows) AS p99_rows FROM c, st
       |  WHERE cum * 100 >= n_keys * 99),
       |t5 AS (
       |  SELECT key, key_rows FROM pk
       |  ORDER BY key_rows DESC, key LIMIT 5)
       |SELECT key, key_rows,
       |  ${r4Sql("CAST(key_rows AS DOUBLE) / n_rows")} AS share,
       |  n_rows, n_keys, max_rows,
       |  ${r4Sql("CAST(n_rows AS DOUBLE) / n_keys")} AS mean_rows,
       |  p99_rows,
       |  (max_rows * n_keys + n_rows - 1) // n_rows AS salt,
       |  CASE WHEN (max_rows * n_keys + n_rows - 1) // n_rows <= 1 THEN 0
       |    ELSE CAST(length(bin(
       |      (max_rows * n_keys + n_rows - 1) // n_rows - 1)) AS BIGINT)
       |  END AS salt_bits
       |FROM t5, st, p
       |ORDER BY key_rows DESC, key""".stripMargin

  // --------------------------------------------------------------- #263
  /** #263 funnel conversion latency: #48's view→click→purchase funnel
    * with the TIME axis — per converting user, the delay between the
    * first view and the first subsequent click, and between that
    * click and the first subsequent purchase; per step, the count and
    * the exact-rank median / p90 / mean latency in seconds.
    *
    * Exactness: order statistics ride the bounded-domain histogram
    * device (#245): latencies are floored to SECONDS first, and
    * because floor is monotone the rank-th smallest floored latency
    * IS the floor of the rank-th smallest latency — one histogram
    * pass, no in-bucket resolution needed at second granularity.
    * Ranks are integers (lower median `(n+1) div 2`, p90
    * `⌈9n/10⌉ = (9n+9) div 10`); the mean is ONE r4'd division of
    * the exact int64 µs sum.
    *
    * Scale: three keyed min-aggs (user-keyed shuffles with map-side
    * combine), then a latency-SECOND histogram — the per-step
    * cumulative window runs over the second-valued domain, never over
    * |users| rows (the #224 low-cardinality window ceiling does not
    * apply).
    */
  def eventsFunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
      .select("user_id", "event_type", "ts_us")
    val v = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t0"))
    // first-click table feeds BOTH the purchase chain and the latency
    // union — slot-persist so the view⋈click subtree computes once
    val c = Tables.persistSlot("summit.funnelLatency.firstClick",
      e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts_us") > col("t0"))
        .groupBy("user_id", "t0").agg(min("ts_us").as("t1")))
    val p = e.where(col("event_type") === "purchase")
      .join(c.select("user_id", "t1"), "user_id")
      .where(col("ts_us") > col("t1"))
      .groupBy("user_id", "t1").agg(min("ts_us").as("t2"))
    val lat = c.select(lit("1_view_to_click").as("step"),
        (col("t1") - col("t0")).as("lat_us"))
      .unionByName(p.select(lit("2_click_to_purchase").as("step"),
        (col("t2") - col("t1")).as("lat_us")))
    // the second-domain histogram feeds FOUR consumers (cum, tot, med,
    // p90) — slot-persist the tiny table so the event-scan upstream
    // runs once, not four times
    val hist = Tables.persistSlot("summit.funnelLatency.hist",
      lat.groupBy(col("step"), expr("lat_us div 1000000").as("lat_s"))
        .agg(count(lit(1)).as("n_at"), sum("lat_us").as("sum_us")))
    val ws = Window.partitionBy("step").orderBy("lat_s")
    val cum = hist.withColumn("cum", sum("n_at").over(ws))
    val tot = hist.groupBy("step")
      .agg(sum("n_at").as("n_conv"), sum("sum_us").as("tot_us"))
    val med = cum.join(tot, "step")
      .where(col("cum") >= expr("(n_conv + 1) div 2"))
      .groupBy("step").agg(min("lat_s").as("median_s"))
    val p90 = cum.join(tot, "step")
      .where(col("cum") >= expr("(9 * n_conv + 9) div 10"))
      .groupBy("step").agg(min("lat_s").as("p90_s"))
    tot.join(med, "step").join(p90, "step")
      .select(col("step"), col("n_conv"), col("median_s"), col("p90_s"),
        r4(col("tot_us").cast("double") / (col("n_conv") * lit(1000000L)))
          .as("mean_s"))
      .orderBy("step")
  }

  val eventsFunnelLatencySql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |v AS (
       |  SELECT user_id, MIN(ts_us) AS t0 FROM e
       |  WHERE event_type = 'view' GROUP BY 1),
       |c AS (
       |  SELECT e.user_id, v.t0, MIN(ts_us) AS t1
       |  FROM e JOIN v ON e.user_id = v.user_id
       |  WHERE event_type = 'click' AND ts_us > t0 GROUP BY 1, 2),
       |p AS (
       |  SELECT e.user_id, c.t1, MIN(ts_us) AS t2
       |  FROM e JOIN c ON e.user_id = c.user_id
       |  WHERE event_type = 'purchase' AND ts_us > t1 GROUP BY 1, 2),
       |lat AS (
       |  SELECT '1_view_to_click' AS step, t1 - t0 AS lat_us FROM c
       |  UNION ALL
       |  SELECT '2_click_to_purchase', t2 - t1 FROM p),
       |h AS (
       |  SELECT step, lat_us // 1000000 AS lat_s,
       |    COUNT(*) AS n_at, SUM(lat_us) AS sum_us
       |  FROM lat GROUP BY 1, 2),
       |cumt AS (
       |  SELECT step, lat_s,
       |    SUM(n_at) OVER (PARTITION BY step ORDER BY lat_s) AS cum
       |  FROM h),
       |tot AS (
       |  SELECT step, CAST(SUM(n_at) AS BIGINT) AS n_conv,
       |    CAST(SUM(sum_us) AS BIGINT) AS tot_us
       |  FROM h GROUP BY 1),
       |med AS (
       |  SELECT c.step, MIN(lat_s) AS median_s
       |  FROM cumt c JOIN tot t ON c.step = t.step
       |  WHERE cum >= (n_conv + 1) // 2 GROUP BY 1),
       |p90 AS (
       |  SELECT c.step, MIN(lat_s) AS p90_s
       |  FROM cumt c JOIN tot t ON c.step = t.step
       |  WHERE cum >= (9 * n_conv + 9) // 10 GROUP BY 1)
       |SELECT t.step, n_conv, median_s, p90_s,
       |  ${r4Sql("CAST(tot_us AS DOUBLE) / (n_conv * 1000000)")} AS mean_s
       |FROM tot t JOIN med ON t.step = med.step
       |  JOIN p90 ON t.step = p90.step
       |ORDER BY t.step""".stripMargin

  // --------------------------------------------------------------- #264
  /** #264 discrete repeat-purchase hazard curve: for every pair of a
    * customer's consecutive orders, the gap in 30-day months (capped
    * into a 12+ tail bucket); per month offset m, the risk set (gaps
    * that survived to m), the event count (gaps ending in m), and the
    * discrete hazard d/n — the life-table read under #57's retention
    * matrix and #219's repeat rate: WHEN the repeat purchase comes,
    * not just whether.
    *
    * Exactness: gaps are integer day differences; the risk set is a
    * reverse cumulative sum of exact counts; hazard is ONE r4'd
    * division per row.
    *
    * Scale: one per-customer lag window (key-partitioned, scales by
    * width), one keyed agg to the 13-row month domain; the reverse
    * cumsum window runs over 13 rows (domain-sized).
    */
  def ordersHazardCurve(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    val gaps = Tables(spark, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_orderdate")
      .withColumn("prev_date", lag("o_orderdate", 1).over(w))
      .where(col("prev_date").isNotNull)
      .select(expr("least(datediff(o_orderdate, prev_date) div 30, 12)")
        .cast("long").as("m"))
    val d = gaps.groupBy("m").agg(count(lit(1)).as("n_events"))
    val wm = Window.orderBy(desc("m")) // 13 rows — domain-sized
    d.withColumn("n_at_risk", sum("n_events").over(wm))
      .select(col("m").as("month_offset"), col("n_at_risk"),
        col("n_events"),
        r4(col("n_events").cast("double") / col("n_at_risk")).as("hazard"))
      .orderBy("month_offset")
  }

  val ordersHazardCurveSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, o_orderkey, o_orderdate,
       |    LAG(o_orderdate) OVER (
       |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |      AS prev_date
       |  FROM orders),
       |g AS (
       |  SELECT LEAST(date_diff('day', CAST(prev_date AS DATE),
       |      CAST(o_orderdate AS DATE)) // 30, 12) AS m
       |  FROM o WHERE prev_date IS NOT NULL),
       |d AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM g GROUP BY 1),
       |r AS (
       |  SELECT m, n_events,
       |    SUM(n_events) OVER (ORDER BY m DESC) AS n_at_risk
       |  FROM d)
       |SELECT CAST(m AS BIGINT) AS month_offset,
       |  CAST(n_at_risk AS BIGINT) AS n_at_risk, n_events,
       |  ${r4Sql("CAST(n_events AS DOUBLE) / n_at_risk")} AS hazard
       |FROM r ORDER BY month_offset""".stripMargin

  // --------------------------------------------------------------- #265
  /** #265 chance-corrected rule agreement: Cohen's κ for every pair of
    * the four #81 quality gates, from the same per-doc independent
    * verdicts as #256's overlap matrix. Jaccard says how often two
    * rules co-fire; κ says whether they agree MORE THAN CHANCE given
    * their marginal fire rates — a high-Jaccard pair of rules that
    * both fire on 90% of docs is agreement by base rate, not
    * redundancy. The standard inter-rater read before merging rules.
    *
    * Exactness: from the 2×2 table (a=both, b/c=one-only, d=neither),
    * κ = 2(ad−bc) / ((a+b)(b+d)+(a+c)(c+d)); numerator and
    * denominator are DECIMAL(38,0) products of exact counts (the #222
    * HHI device), the emitted κ is ONE r4'd division, and the
    * agreement class thresholds (0.2/0.4/0.6/0.8) compare `5·num`
    * against integer multiples of `den` in decimal space — the class
    * can't float apart from the ratio.
    *
    * Scale: identical to #256 — one map pass, ONE global aggregate,
    * a 6-row unpivot.
    */
  def qualityRuleKappa(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // sums coalesce to 0 so a zero-row corpus lands every pair in the
    // den=0 'degenerate' class instead of null-poisoning the chain
    val cz = (c: org.apache.spark.sql.Column) => coalesce(c, lit(0L))
    val s = Pinnacle.ruleFlags(spark, dir).agg(
      count(lit(1)).as("n"),
      cz(sum("f0")).as("n0"), cz(sum("f1")).as("n1"),
      cz(sum("f2")).as("n2"), cz(sum("f3")).as("n3"),
      cz(sum(col("f0") * col("f1"))).as("n01"),
      cz(sum(col("f0") * col("f2"))).as("n02"),
      cz(sum(col("f0") * col("f3"))).as("n03"),
      cz(sum(col("f1") * col("f2"))).as("n12"),
      cz(sum(col("f1") * col("f3"))).as("n13"),
      cz(sum(col("f2") * col("f3"))).as("n23"))
    s.selectExpr(
      """stack(6,
        |  'min_tokens', 'repetition',  n, n0, n1, n01,
        |  'min_tokens', 'token_shape', n, n0, n2, n02,
        |  'min_tokens', 'digit_ratio', n, n0, n3, n03,
        |  'repetition', 'token_shape', n, n1, n2, n12,
        |  'repetition', 'digit_ratio', n, n1, n3, n13,
        |  'token_shape', 'digit_ratio', n, n2, n3, n23)
        |  AS (rule_a, rule_b, n, n_a, n_b, n_both)""".stripMargin)
      .withColumn("a", col("n_both").cast(dec))
      .withColumn("b", (col("n_a") - col("n_both")).cast(dec))
      .withColumn("c", (col("n_b") - col("n_both")).cast(dec))
      .withColumn("d",
        (col("n") - col("n_a") - col("n_b") + col("n_both")).cast(dec))
      .withColumn("num",
        lit(2).cast(dec) * (col("a") * col("d") - col("b") * col("c")))
      .withColumn("den",
        (col("a") + col("b")) * (col("b") + col("d")) +
          (col("a") + col("c")) * (col("c") + col("d")))
      .withColumn("kappa",
        when(col("den") =!= 0,
          r4(col("num").cast("double") / col("den").cast("double"))))
      .withColumn("agreement",
        when(col("den") === 0, "degenerate")
          .when(col("num") < 0, "poor")
          .when(col("num") * 5 < col("den"), "slight")
          .when(col("num") * 5 < col("den") * 2, "fair")
          .when(col("num") * 5 < col("den") * 3, "moderate")
          .when(col("num") * 5 < col("den") * 4, "substantial")
          .otherwise(lit("almost_perfect")))
      .select("rule_a", "rule_b", "n_a", "n_b", "n_both", "kappa",
        "agreement")
      .orderBy("rule_a", "rule_b")
  }

  val qualityRuleKappaSql: String =
    s"""WITH ${Pinnacle.ruleFlagsCtesSql},
       |s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COALESCE(SUM(f0), 0) AS BIGINT) AS n0,
       |    CAST(COALESCE(SUM(f1), 0) AS BIGINT) AS n1,
       |    CAST(COALESCE(SUM(f2), 0) AS BIGINT) AS n2,
       |    CAST(COALESCE(SUM(f3), 0) AS BIGINT) AS n3,
       |    CAST(COALESCE(SUM(f0 * f1), 0) AS BIGINT) AS n01,
       |    CAST(COALESCE(SUM(f0 * f2), 0) AS BIGINT) AS n02,
       |    CAST(COALESCE(SUM(f0 * f3), 0) AS BIGINT) AS n03,
       |    CAST(COALESCE(SUM(f1 * f2), 0) AS BIGINT) AS n12,
       |    CAST(COALESCE(SUM(f1 * f3), 0) AS BIGINT) AS n13,
       |    CAST(COALESCE(SUM(f2 * f3), 0) AS BIGINT) AS n23
       |  FROM fl),
       |pairs AS (
       |  SELECT 'min_tokens' AS rule_a, 'repetition' AS rule_b,
       |    n, n0 AS n_a, n1 AS n_b, n01 AS n_both FROM s
       |  UNION ALL SELECT 'min_tokens', 'token_shape', n, n0, n2, n02 FROM s
       |  UNION ALL SELECT 'min_tokens', 'digit_ratio', n, n0, n3, n03 FROM s
       |  UNION ALL SELECT 'repetition', 'token_shape', n, n1, n2, n12 FROM s
       |  UNION ALL SELECT 'repetition', 'digit_ratio', n, n1, n3, n13 FROM s
       |  UNION ALL SELECT 'token_shape', 'digit_ratio', n, n2, n3, n23 FROM s),
       |k AS (
       |  SELECT rule_a, rule_b, n_a, n_b, n_both,
       |    CAST(n_both AS HUGEINT) AS a,
       |    CAST(n_a - n_both AS HUGEINT) AS b,
       |    CAST(n_b - n_both AS HUGEINT) AS c,
       |    CAST(n - n_a - n_b + n_both AS HUGEINT) AS d
       |  FROM pairs),
       |kk AS (
       |  SELECT rule_a, rule_b, n_a, n_b, n_both,
       |    2 * (a * d - b * c) AS num,
       |    (a + b) * (b + d) + (a + c) * (c + d) AS den
       |  FROM k)
       |SELECT rule_a, rule_b, n_a, n_b, n_both,
       |  CASE WHEN den <> 0 THEN
       |    ${r4Sql("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)")} END
       |    AS kappa,
       |  CASE WHEN den = 0 THEN 'degenerate'
       |    WHEN num < 0 THEN 'poor'
       |    WHEN num * 5 < den THEN 'slight'
       |    WHEN num * 5 < den * 2 THEN 'fair'
       |    WHEN num * 5 < den * 3 THEN 'moderate'
       |    WHEN num * 5 < den * 4 THEN 'substantial'
       |    ELSE 'almost_perfect' END AS agreement
       |FROM kk ORDER BY rule_a, rule_b""".stripMargin

  // --------------------------------------------------------------- #266
  /** #266 graph-based ANN search — the HNSW/NSG family's baseline
    * shape: greedy best-first beam search over the #71 kNN graph.
    * From a fixed entry point, each hop expands the current beam's
    * graph neighbors, scores them by exact cosine against the query,
    * and keeps the top-`beam`; after `hops` expansions the top-k of
    * the final candidate set is the answer. The point vs #32's
    * brute force: per-query work is O(hops·beam·degree) cosine
    * evaluations — INDEPENDENT of corpus size — because the corpus
    * pass happened once, at graph build.
    *
    * Determinism: the graph comes from the md5-parity hyperplane
    * buckets (#33's oracle-reproducible planes); every beam/top-k
    * selection ranks on (cosine DESC, vec_id) — a total order.
    *
    * Recall caveat (shared with #71): a query whose entry path stays
    * inside a sparse bucket component can miss; vectors whose bucket
    * is a singleton contribute no edges. Production patches are a
    * second hash table or higher graph degree, not wider buckets.
    *
    * Scale: graph build is the LSH-bucketed self-join (never
    * all-pairs); each hop is one pass over the (src-keyed) edge list
    * and one over the corpus with a TINY broadcast frontier
    * (≤ |queries|·beam rows). On a cluster the edge list is bucketed
    * by src so the hop join is co-located; the registered eval query
    * set is horizon-bounded (#32's `vec_id < 10^6` contract).
    */
  def annGraphSearch(spark: SparkSession, dir: String): DataFrame =
    annGraphSearch(spark, dir, bits = 6, kGraph = 8, beam = 8,
      hops = 3, k = 3)

  /** The production scale dial: size the bucket bits from the corpus
    * as `bits = max(6, ⌈log₂(n/occupancy)⌉)` so bucket occupancy — and
    * with it the O(n²/2^bits) graph-build self-join — stays at
    * ~occupancy (256 measured well) at any corpus size: total build
    * cost ≈ n·occupancy cosine evaluations, LINEAR in n. The registered eval query pins bits=6 because the
    * DuckDB oracle interpolates a STATIC bit count; measured at the 30×
    * replica the fixed-6-bit build is the whole cost (70.3 s vs 19.3 s
    * with the sized bits at occupancy 256). Smaller buckets trade
    * candidate recall exactly like #71 — production patches with
    * multi-probe or a second hash table, not wider buckets.
    */
  def annGraphSearch(spark: SparkSession, dir: String, bits: Int,
      kGraph: Int, beam: Int, hops: Int, k: Int): DataFrame = {
    val v = Tables.persistSlot("summit.graphSearch.v",
      Tables.spread(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr(s"md5_rhp_bucket(embedding, $bits)").as("bucket")))
    val we = Window.partitionBy("src").orderBy(desc("cos_raw"), col("dst"))
    val edges = Tables.persistSlot("summit.graphSearch.edges",
      v.as("a")
        .join(v.select(col("vec_id").as("dst"),
            col("embedding").as("d_emb"),
            col("bucket").as("d_bucket")).as("b"),
          col("bucket") === col("d_bucket") && col("vec_id") =!= col("dst"))
        .withColumn("cos_raw", expr("cosine_f32(embedding, d_emb)"))
        .select(col("vec_id").as("src"), col("dst"), col("cos_raw"))
        .withColumn("rk", row_number().over(we))
        .where(col("rk") <= kGraph)
        .select("src", "dst"))
    val q = Similarity.evalQueries(spark, dir)
    val entry = v.agg(min(col("vec_id")).as("node"))
    var frontier = q.select("q_id").crossJoin(broadcast(entry))
    var scored: DataFrame = null
    for (_ <- 1 to hops) {
      val cand = frontier
        .unionByName(edges
          .join(broadcast(frontier), col("src") === col("node"))
          .select(col("q_id"), col("dst").as("node")))
        .distinct()
      scored = cand
        .join(v.select(col("vec_id"), col("embedding")),
          col("node") === col("vec_id"))
        .join(broadcast(q), "q_id")
        .where(col("node") =!= col("q_id"))
        .withColumn("cos_raw", expr("cosine_f32(q_emb, embedding)"))
      val wq = Window.partitionBy("q_id").orderBy(desc("cos_raw"),
        col("node"))
      // lineage cut (the graph-iteration device): each hop references
      // the previous frontier TWICE (as candidates and via the edge
      // expansion), so the textual plan doubles per hop; checkpointing
      // the ≤|q|·beam-row frontier keeps the plan hop-sized
      frontier = scored.withColumn("rk", row_number().over(wq))
        .where(col("rk") <= beam)
        .select("q_id", "node")
        .localCheckpoint()
    }
    val wq = Window.partitionBy("q_id").orderBy(desc("cos_raw"),
      col("node"))
    scored.withColumn("rank", row_number().over(wq).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("node").as("c_id"),
        r4(col("cos_raw")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Oracle mirror: same md5-parity buckets/edges as `annKnnGraphSql`,
    * three unrolled hop CTEs (candidates = frontier ∪ graph neighbors,
    * rank by exact cosine, keep beam=8), top-3 of the last hop's
    * scored set.
    */
  val annGraphSearchSql: String = {
    def hop(fPrev: String, i: Int): String =
      s"""c$i AS (
         |  SELECT q_id, node FROM $fPrev
         |  UNION
         |  SELECT f.q_id, e.dst FROM $fPrev f JOIN e ON e.src = f.node),
         |s$i AS (
         |  SELECT c.q_id, c.node,
         |    list_sum(list_transform(range(1, len(q.q_emb) + 1),
         |      i -> q.q_emb[i]::DOUBLE * v.embedding[i]::DOUBLE))
         |      / (q.q_norm * v.norm) AS cos_raw
         |  FROM c$i c JOIN v ON c.node = v.vec_id
         |    JOIN q ON c.q_id = q.q_id
         |  WHERE c.node <> c.q_id),
         |f$i AS (
         |  SELECT q_id, node FROM (
         |    SELECT q_id, node, ROW_NUMBER() OVER (
         |      PARTITION BY q_id ORDER BY cos_raw DESC, node) AS rk
         |    FROM s$i) WHERE rk <= 8)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(range(0, 6), j ->
       |      CASE WHEN list_sum(list_transform(range(1, 65), d ->
       |        (CASE WHEN ('0x' || substr(md5(j || ':' || (d - 1)), 1, 1))::INT
       |            & 1 = 1 THEN 1.0 ELSE -1.0 END)
       |          * embedding[CAST(d AS INT)]::DOUBLE)) > 0
       |      THEN 1 << CAST(j AS INT) ELSE 0 END)) AS bucket,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS norm
       |  FROM embeddings),
       |es AS (
       |  SELECT a.vec_id AS src, c.vec_id AS dst,
       |    list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |      / (a.norm * c.norm) AS cos_raw
       |  FROM v a JOIN v c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
       |e AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (
       |      PARTITION BY src ORDER BY cos_raw DESC, dst) AS rk
       |    FROM es) WHERE rk <= 8),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
       |  FROM v WHERE vec_id % 50 = 0 AND vec_id < 1000000),
       |entry AS (SELECT MIN(vec_id) AS node FROM v),
       |f0 AS (SELECT q_id, node FROM q, entry),
       |${hop("f0", 1)},
       |${hop("f1", 2)},
       |${hop("f2", 3)}
       |SELECT q_id, rank, c_id,
       |  ${r4Sql("cos_raw")} AS cosine
       |FROM (
       |  SELECT q_id, node AS c_id, cos_raw, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY cos_raw DESC, node) AS rank
       |  FROM s3)
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- #267
  /** #267 shot-boundary detection — SEVENTH real-codec leg
    * (pixels-true, the follow-up the #272 VAD upgrade promised): each
    * asset is a planted VIDEO of 4..8 REAL 32×32 BMP frames
    * (`Multimodal.plantedFrameBmp`); every frame is decoded with JDK
    * `ImageIO` and perceptually hashed over its TRUE pixels (the #290
    * 8×8 block-mean phash), consecutive frames compare by hamming
    * distance, and a distance > 16 bits marks a cut. Emits per asset:
    * frame count, shot count, max inter-frame hamming, mean shot
    * length — the video-curation pre-step before #51's keyframe
    * sampling (sample per SHOT, not per fixed stride).
    *
    * Planted ground truth makes detection PROVABLE: within-shot
    * frames advance the pixel function by +1 (measured hamming ≤ 3 —
    * block sums and the global mean shift together except at mod-256
    * wrap pixels), cuts jump it by +128 (half the pixels wrap;
    * measured hamming ≥ 45), so threshold 16 recovers the planted
    * cuts EXACTLY. The oracle recomputes phash bits from the
    * closed-form pixel function — a green hash proves the
    * encode→ImageIO-decode→phash path pixels-true on every frame, and
    * the spec asserts detected cuts == planted cuts per doc.
    *
    * Scale: frames decode map-side in mapPartitions (payload bytes
    * never shuffle) and project to (doc_id, fi, sig) BEFORE the
    * per-asset window — only 8-byte signatures move; the window
    * partitions by the high-cardinality asset id.
    */
  def mmShotBoundaries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    val frames = ids.mapPartitions(_.flatMap { id =>
      (0 until Multimodal.plantedFrameCount(id)).iterator.map { f =>
        val img = Multimodal.decodeBmp(Multimodal.plantedFrameBmp(id, f))
        val px = img.getRaster.getSamples(0, 0, 32, 32,
          0, new Array[Int](32 * 32))
        val sums = new Array[Long](64)
        var total = 0L
        var i = 0
        while (i < 1024) {
          val v = px(i).toLong
          sums(((i / 32) / 4) * 8 + (i % 32) / 4) += v
          total += v
          i += 1
        }
        var sig = 0L
        var b = 0
        while (b < 64) {
          if (sums(b) * 64 > total) sig |= 1L << b
          b += 1
        }
        (id, f.toLong, sig)
      }
    }).toDF("doc_id", "fi", "sig")
    val wd = Window.partitionBy("doc_id").orderBy("fi")
    frames
      .withColumn("prev", lag("sig", 1).over(wd))
      .withColumn("hamming", when(col("prev").isNotNull,
        expr("cast(bit_count(sig ^ prev) as long)")))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_frames"),
        (sum(when(col("hamming") > 16, 1L).otherwise(0L)) + 1L)
          .as("n_shots"),
        max("hamming").as("max_hamming"))
      .withColumn("mean_shot_frames",
        r4(col("n_frames").cast("double") / col("n_shots")))
      .orderBy("doc_id")
  }

  /** Oracle recomputes every frame's phash bits from the closed-form
    * pixel function (3x + 5y + id + shift(f)) mod 256 — never parses
    * a byte (the #285/#317 proof shape, per FRAME here).
    */
  val mmShotBoundariesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, 4 + (3 * doc_id + 1) % 5 AS nf FROM documents),
       |fr AS (SELECT doc_id, unnest(range(0, nf)) AS fi FROM d),
       |sh AS (
       |  SELECT doc_id, fi, fi + 127 * COALESCE(list_sum(
       |    list_transform(range(1, fi + 1),
       |      g -> CASE WHEN (doc_id + g) % 3 = 0 THEN 1 ELSE 0 END)), 0)
       |    AS s
       |  FROM fr),
       |pv AS (
       |  SELECT doc_id, fi,
       |    ((i // 32) // 4) * 8 + (i % 32) // 4 AS blk,
       |    (3 * (i % 32) + 5 * (i // 32) + doc_id + s) % 256 AS v
       |  FROM (SELECT doc_id, fi, s, unnest(range(0, 1024)) AS i
       |        FROM sh)),
       |bs AS (
       |  SELECT doc_id, fi, blk, SUM(v) AS bsum
       |  FROM pv GROUP BY 1, 2, 3),
       |tot AS (
       |  SELECT doc_id, fi, SUM(v) AS total FROM pv GROUP BY 1, 2),
       |bits AS (
       |  SELECT bs.doc_id, bs.fi, bs.blk,
       |    CASE WHEN bs.bsum * 64 > t.total THEN 1 ELSE 0 END AS bit
       |  FROM bs JOIN tot t ON bs.doc_id = t.doc_id AND bs.fi = t.fi),
       |hm AS (
       |  SELECT x.doc_id, x.fi,
       |    CAST(SUM(ABS(x.bit - y.bit)) AS BIGINT) AS hamming
       |  FROM bits x JOIN bits y ON x.doc_id = y.doc_id
       |    AND x.fi = y.fi + 1 AND x.blk = y.blk
       |  GROUP BY 1, 2),
       |per AS (
       |  SELECT doc_id, CAST(nf AS BIGINT) AS n_frames FROM d),
       |hs AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) FILTER (WHERE hamming > 16) AS BIGINT) AS n_bound,
       |    MAX(hamming) AS max_hamming
       |  FROM hm GROUP BY 1)
       |SELECT p.doc_id, n_frames,
       |  COALESCE(n_bound, 0) + 1 AS n_shots, max_hamming,
       |  ${r4Sql("CAST(n_frames AS DOUBLE) / (COALESCE(n_bound, 0) + 1)")}
       |    AS mean_shot_frames
       |FROM per p LEFT JOIN hs ON p.doc_id = hs.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------- #268
  /** #268 Bollinger-band breakout detection: per event type, flag
    * values outside mean ± 2σ of the TRAILING 24 observations (the
    * window excludes the current row — the band is a prediction, not
    * a self-including smooth). The volatility-band anomaly read
    * beside #82's global z-score and #257's CUSUM level-shift.
    *
    * Exactness: values clear to integer cents via the #231 floor
    * device (`floor(v·100 + 0.5)` — pure IEEE, identical on both
    * engines); with frame sums S1=Σv, S2=Σv² over w=24 rows, the
    * breakout test (x−μ)² > 4σ² clears to the INTEGER comparison
    * `(w·x − S1)² > 4·(w·S2 − S1²)` — no float mean or stddev ever
    * materializes. The emitted z² is ONE r4'd division of the two
    * exact integers (null when the window is constant).
    *
    * Scale: one frame-bounded window per event type — the #224
    * documented low-cardinality ceiling applies (|types| partitions);
    * the production form partitions by (type, series-shard) exactly
    * like #151/#257.
    */
  def tsBollingerBreakout(spark: SparkSession, dir: String): DataFrame = {
    val wSize = 24
    val w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
      .rowsBetween(-wSize, -1)
    Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts_us"),
        col("value"))
      .withColumn("v", expr("cast(floor(value * 100.0 + 0.5) as bigint)"))
      // ONLY the square-sum accumulates in DECIMAL(38,0) (the #222
      // device at the accumulation): a LongType Σv² wraps int64 once
      // |v| ≳ 6e8 cents at w=24 and v·v wraps at |v| ≳ 3e9 — but the
      // LINEAR window sum Σv wraps only at |v| ≈ 3.8e17 cents over 24
      // rows, nine orders beyond any cents domain, so s1 stays a LONG
      // window sum and enters decimal per-ROW afterwards for the
      // exact s1² product (the r8-verdict claw-back: the decimal
      // WINDOW sum was the 2.5× cost, the per-row cast is free;
      // measured 2.31 → 1.63 s at sf0.1, result domain identical —
      // the streaming twin's BigInt bands are unchanged)
      .withColumn("vd", col("v").cast("decimal(38,0)"))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("s1d", sum(col("v")).over(w).cast("decimal(38,0)"))
      .withColumn("s2d", sum(col("vd") * col("vd")).over(w))
      .where(col("cnt") === wSize)
      .withColumn("dev", col("vd") * wSize - col("s1d"))
      .withColumn("band2",
        (col("s2d") * wSize - col("s1d") * col("s1d")) * 4)
      .where(col("dev") * col("dev") > col("band2"))
      .select(col("event_type"), col("event_id"), col("ts_us"),
        col("value"),
        when(col("dev") > 0, "up").otherwise(lit("down")).as("side"),
        when(col("band2") > 0,
          r4((col("dev") * col("dev")).cast("double") / col("band2")))
          .as("z2"))
      .orderBy("event_type", "ts_us", "event_id")
  }

  val tsBollingerBreakoutSql: String =
    s"""WITH e AS (
       |  SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v
       |  FROM events),
       |w AS (
       |  SELECT event_type, event_id, ts_us, value, v,
       |    COUNT(*) OVER win AS cnt,
       |    SUM(v) OVER win AS s1,
       |    SUM(v * v) OVER win AS s2
       |  FROM e WINDOW win AS (
       |    PARTITION BY event_type ORDER BY ts_us, event_id
       |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
       |b AS (
       |  SELECT *, v * 24 - s1 AS dev,
       |    (s2 * 24 - s1 * s1) * 4 AS band2
       |  FROM w WHERE cnt = 24)
       |SELECT event_type, event_id, ts_us, value,
       |  CASE WHEN dev > 0 THEN 'up' ELSE 'down' END AS side,
       |  CASE WHEN band2 > 0 THEN
       |    ${r4Sql("CAST(dev * dev AS DOUBLE) / band2")} END AS z2
       |FROM b WHERE dev * dev > band2
       |ORDER BY event_type, ts_us, event_id""".stripMargin

  // --------------------------------------------------------------- #269
  /** #269 brand-switching transition matrix: each order's modal brand
    * (most line items, ties → lexicographically first), lagged along
    * every customer's order sequence; transitions counted into the
    * |brands|² matrix with per-origin row shares and the loyalty
    * diagonal flagged. #103's Markov device on the retail axis —
    * the cross-sell / loyalty read beside #243's reorder cadence.
    *
    * Scale: part is a broadcast dim; the modal-brand window partitions
    * by order (high cardinality, scales by width); the customer
    * sequence window scales by customer width; the transition matrix
    * is attribute-bounded (≤ |brands|²), so the share window runs
    * over a domain-sized table.
    */
  def ordersBrandSwitch(spark: SparkSession, dir: String): DataFrame = {
    val lb = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")
        .select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey", "p_brand").agg(count(lit(1)).as("n_lines"))
    // modal brand as an ARGMAX aggregate, not a sort-window:
    // min(struct(−n, brand)) picks max count with lexicographic
    // tie-break — partial-aggregatable, no per-order sort (measured at
    // the 10× probe: the row_number form was the operator's cost)
    val modal = lb.groupBy("l_orderkey")
      .agg(min(struct((-col("n_lines")).as("neg"),
        col("p_brand").as("b"))).as("m"))
      .select(col("l_orderkey"), col("m.b").as("brand"))
    val wo = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    val t = Tables(spark, dir, "orders")
      .join(modal, col("o_orderkey") === col("l_orderkey"))
      .withColumn("prev_brand", lag("brand", 1).over(wo))
      .where(col("prev_brand").isNotNull)
      .groupBy(col("prev_brand").as("brand_from"),
        col("brand").as("brand_to"))
      .agg(count(lit(1)).as("n_trans"))
    val wf = Window.partitionBy("brand_from") // |brands|² rows — bounded
    t.withColumn("n_from", sum("n_trans").over(wf))
      .select(col("brand_from"), col("brand_to"), col("n_trans"),
        r4(col("n_trans").cast("double") / col("n_from")).as("share"),
        (col("brand_from") === col("brand_to")).as("is_loyal"))
      .orderBy("brand_from", "brand_to")
  }

  val ordersBrandSwitchSql: String =
    s"""WITH lb AS (
       |  SELECT l_orderkey, p_brand, COUNT(*) AS n_lines
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |modal AS (
       |  SELECT l_orderkey, p_brand AS brand FROM (
       |    SELECT l_orderkey, p_brand, ROW_NUMBER() OVER (
       |      PARTITION BY l_orderkey ORDER BY n_lines DESC, p_brand) AS rk
       |    FROM lb) WHERE rk = 1),
       |sq AS (
       |  SELECT o_custkey, brand,
       |    LAG(brand) OVER (
       |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |      AS prev_brand
       |  FROM orders JOIN modal ON o_orderkey = l_orderkey),
       |t AS (
       |  SELECT prev_brand AS brand_from, brand AS brand_to,
       |    CAST(COUNT(*) AS BIGINT) AS n_trans
       |  FROM sq WHERE prev_brand IS NOT NULL GROUP BY 1, 2)
       |SELECT brand_from, brand_to, n_trans,
       |  ${r4Sql("CAST(n_trans AS DOUBLE) / " +
                  "SUM(n_trans) OVER (PARTITION BY brand_from)")} AS share,
       |  brand_from = brand_to AS is_loyal
       |FROM t ORDER BY brand_from, brand_to""".stripMargin

  // --------------------------------------------------------------- #270
  /** #270 robust IQR outlier fences per event type: Tukey's
    * q3 + 1.5·IQR / q1 − 1.5·IQR rule — the distribution-free
    * complement to #82's z-score (which a heavy tail drags) and
    * #268's rolling band (which needs a time axis).
    *
    * Exactness: values clear to integer cents (#231 floor device);
    * quartiles are exact order statistics from the per-type
    * VALUE-domain histogram (the #245 device — `4·cum ≥ n` /
    * `4·cum ≥ 3n` integer rank compares); the fences clear to
    * integers too: v is an upper outlier iff 2v > 5·q3 − 3·q1 and a
    * lower one iff 2v < 5·q1 − 3·q3 — no float quartile or fence
    * ever materializes. Emitted dollar values are ONE r4'd division
    * each.
    *
    * Scale: one keyed count agg to |types|·|distinct cents| cells;
    * the cumulative window runs over the value domain per type;
    * outlier counting is a second pass over the same tiny histogram
    * — the raw events never shuffle at all.
    */
  def eventsAnomalyIqr(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.persistSlot("summit.anomalyIqr.hist",
      Tables.eventsUs(spark, dir)
        .select(col("event_type"),
          expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("v"))
        .groupBy("event_type", "v").agg(count(lit(1)).as("n_at")))
    val wt = Window.partitionBy("event_type").orderBy("v")
    val cum = hist.withColumn("cum", sum("n_at").over(wt))
    val tot = hist.groupBy("event_type").agg(sum("n_at").as("n_events"))
    val q1 = cum.join(tot, "event_type")
      .where(col("cum") * 4 >= col("n_events"))
      .groupBy("event_type").agg(min("v").as("q1c"))
    val q3 = cum.join(tot, "event_type")
      .where(col("cum") * 4 >= col("n_events") * 3)
      .groupBy("event_type").agg(min("v").as("q3c"))
    val fences = q1.join(q3, "event_type")
      .withColumn("low2", col("q1c") * 5 - col("q3c") * 3)
      .withColumn("high2", col("q3c") * 5 - col("q1c") * 3)
    val counts = hist.join(fences, "event_type")
      .groupBy("event_type").agg(
        sum(when(col("v") * 2 < col("low2"), col("n_at"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("v") * 2 > col("high2"), col("n_at"))
          .otherwise(0L)).as("n_high"))
    tot.join(fences, "event_type").join(counts, "event_type")
      .select(col("event_type"), col("n_events"),
        r4(col("q1c").cast("double") / 100.0).as("q1"),
        r4(col("q3c").cast("double") / 100.0).as("q3"),
        r4(col("low2").cast("double") / 200.0).as("low_fence"),
        r4(col("high2").cast("double") / 200.0).as("high_fence"),
        col("n_low"), col("n_high"))
      .orderBy("event_type")
  }

  val eventsAnomalyIqrSql: String =
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v
       |  FROM events),
       |h AS (
       |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS n_at
       |  FROM e GROUP BY 1, 2),
       |c AS (
       |  SELECT event_type, v, n_at,
       |    SUM(n_at) OVER (PARTITION BY event_type ORDER BY v) AS cum
       |  FROM h),
       |tot AS (
       |  SELECT event_type, CAST(SUM(n_at) AS BIGINT) AS n_events
       |  FROM h GROUP BY 1),
       |q1 AS (
       |  SELECT c.event_type, MIN(v) AS q1c
       |  FROM c JOIN tot t ON c.event_type = t.event_type
       |  WHERE cum * 4 >= n_events GROUP BY 1),
       |q3 AS (
       |  SELECT c.event_type, MIN(v) AS q3c
       |  FROM c JOIN tot t ON c.event_type = t.event_type
       |  WHERE cum * 4 >= n_events * 3 GROUP BY 1),
       |f AS (
       |  SELECT q1.event_type, q1c, q3c,
       |    q1c * 5 - q3c * 3 AS low2, q3c * 5 - q1c * 3 AS high2
       |  FROM q1 JOIN q3 ON q1.event_type = q3.event_type),
       |cnts AS (
       |  SELECT h.event_type,
       |    CAST(SUM(CASE WHEN v * 2 < low2 THEN n_at ELSE 0 END)
       |      AS BIGINT) AS n_low,
       |    CAST(SUM(CASE WHEN v * 2 > high2 THEN n_at ELSE 0 END)
       |      AS BIGINT) AS n_high
       |  FROM h JOIN f ON h.event_type = f.event_type GROUP BY 1)
       |SELECT t.event_type, n_events,
       |  ${r4Sql("CAST(q1c AS DOUBLE) / 100.0")} AS q1,
       |  ${r4Sql("CAST(q3c AS DOUBLE) / 100.0")} AS q3,
       |  ${r4Sql("CAST(low2 AS DOUBLE) / 200.0")} AS low_fence,
       |  ${r4Sql("CAST(high2 AS DOUBLE) / 200.0")} AS high_fence,
       |  n_low, n_high
       |FROM tot t JOIN f ON t.event_type = f.event_type
       |  JOIN cnts ON t.event_type = cnts.event_type
       |ORDER BY t.event_type""".stripMargin

  // --------------------------------------------------------------- #271
  /** #271 edge embeddedness + local bridges: for every co-purchase
    * edge (#99's support-floored graph), the number of common
    * neighbors of its endpoints, the neighborhood Jaccard
    * cn/(da+db−cn), and the LOCAL BRIDGE flag (cn = 0 — removing the
    * edge puts its endpoints ≥ 3 hops apart). Burt's structural-hole
    * read: high-embeddedness edges live inside communities, local
    * bridges span them — the per-EDGE complement of #100's global
    * transitivity and #242's per-node clustering.
    *
    * Scale: the wedge join runs over the support-floored
    * structure-sized edge list (the family's guard — never over raw
    * co-occurrence); degrees are one keyed count; everything is
    * edge- or arc-sized.
    */
  def graphEmbeddedness(spark: SparkSession, dir: String): DataFrame = {
    val und = Tables.persistSlot("summit.embeddedness.und",
      Graph.undirected(spark, dir))
    val adj = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val cn = und
      .join(adj.select(col("src").as("pa"), col("dst").as("x")), "pa")
      .join(adj.select(col("src").as("pb"), col("dst").as("x")),
        Seq("pb", "x"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("cn"))
    und.join(cn, Seq("pa", "pb"), "left")
      .na.fill(0L, Seq("cn"))
      .join(deg.select(col("src").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("src").as("pb"), col("deg").as("db")), "pb")
      .select(col("pa"), col("pb"), col("cn"), col("da"), col("db"),
        r4(col("cn").cast("double") / (col("da") + col("db") - col("cn")))
          .as("jaccard"),
        (col("cn") === 0L).as("is_local_bridge"))
      .orderBy("pa", "pb")
  }

  val graphEmbeddednessSql: String =
    s"""WITH ${Graph.edgeSql},
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM e GROUP BY 1),
       |cn AS (
       |  SELECT u.pa, u.pb, CAST(COUNT(*) AS BIGINT) AS cn
       |  FROM und u
       |    JOIN e ea ON ea.src = u.pa
       |    JOIN e eb ON eb.src = u.pb AND eb.dst = ea.dst
       |  GROUP BY 1, 2)
       |SELECT u.pa, u.pb, COALESCE(cn.cn, 0) AS cn,
       |  da.deg AS da, db.deg AS db,
       |  ${r4Sql("CAST(COALESCE(cn.cn, 0) AS DOUBLE) / " +
                  "(da.deg + db.deg - COALESCE(cn.cn, 0))")} AS jaccard,
       |  COALESCE(cn.cn, 0) = 0 AS is_local_bridge
       |FROM und u
       |  LEFT JOIN cn ON u.pa = cn.pa AND u.pb = cn.pb
       |  JOIN deg da ON da.src = u.pa
       |  JOIN deg db ON db.src = u.pb
       |ORDER BY u.pa, u.pb""".stripMargin

  // --------------------------------------------------------------- #272
  /** #272 voice-activity segments for audio payloads — SIXTH
    * real-codec leg (samples-true, the #317 honesty upgrade applied
    * to VAD): each asset's planted 8-bit PCM WAV (a REAL RIFF
    * container, `Multimodal.plantedWav`) is decoded with
    * `javax.sound.sampled`; 100-sample FULL frames get an exact
    * integer energy (byte sum of decoded samples), a frame is voiced
    * iff its mean sample exceeds the 128 midline (energy > 100·128),
    * and consecutive voiced frames merge into segments by the
    * gaps-and-islands device (#147's streaks on the frame axis). The
    * frame length is deliberately COPRIME to the sample function's
    * 256-residue cycle so frame phases drift and multi-frame voiced
    * runs actually occur (128-sample frames alternate voiced/unvoiced
    * every frame, leaving the island merge decorative — measured
    * longest runs reach 7 at 100).
    * Emits per asset: frames, voiced frames, segment count, longest
    * run, voiced fraction — the audio-curation pre-step that decides
    * what to transcribe.
    *
    * The oracle never parses a byte: it evaluates the closed-form
    * sample function s(i) = (5i + id) mod 256 over n(id) =
    * 512 + (13·id + 7) mod 512 — a green hash proves the
    * RIFF-parse→decode→frame-energy path is samples-true (the
    * #285/#317 proof shape), and AudioCodecSpec pins the per-frame
    * flags against a direct recompute.
    *
    * Scale: the codec runs map-side in mapPartitions (payload bytes
    * never shuffle); only (doc_id, fi, voiced) frame rows — bounded
    * per clip — enter the per-asset windows, which partition on the
    * high-cardinality doc_id. The only division is ONE r4'd fraction.
    */
  def mmAudioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    val frames = ids.mapPartitions(_.flatMap { id =>
      val ais = Multimodal.decodeAudio(Multimodal.plantedWav(id))
      val s = ais.readAllBytes()
      (0 until s.length / 100).iterator.map { f =>
        var e = 0L
        var i = f * 100
        val end = i + 100
        while (i < end) { e += (s(i) & 0xff).toLong; i += 1 }
        (id, f.toLong, if (e > 100L * 128L) 1 else 0)
      }
    }).toDF("doc_id", "fi", "voiced")
    val wd = Window.partitionBy("doc_id").orderBy("fi")
    val runs = frames
      .withColumn("rn", row_number().over(wd))
      .where(col("voiced") === 1)
      .withColumn("rnv",
        row_number().over(Window.partitionBy("doc_id").orderBy("fi")))
      .withColumn("grp", col("rn") - col("rnv"))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_segments"),
        max("run_len").as("longest_run"),
        sum("run_len").as("n_voiced"))
    frames.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
      .join(runs, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_segments", "longest_run", "n_voiced"))
      .select(col("doc_id"), col("n_frames"), col("n_voiced"),
        col("n_segments"), col("longest_run"),
        r4(col("n_voiced").cast("double") / col("n_frames"))
          .as("voiced_frac"))
      .orderBy("doc_id")
  }

  val mmAudioVadSql: String =
    s"""WITH dims AS (
       |  SELECT doc_id, 512 + (13 * doc_id + 7) % 512 AS n
       |  FROM documents),
       |en AS (
       |  SELECT doc_id, i // 100 AS fi,
       |    CAST(SUM((5 * i + doc_id) % 256) AS BIGINT) AS energy
       |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims)
       |  WHERE i // 100 < n // 100
       |  GROUP BY 1, 2),
       |v AS (
       |  SELECT doc_id, fi,
       |    CASE WHEN energy > 100 * 128 THEN 1 ELSE 0 END AS voiced,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS rn
       |  FROM en),
       |runs AS (
       |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run_len
       |  FROM (
       |    SELECT doc_id, rn -
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
       |    FROM v WHERE voiced = 1)
       |  GROUP BY 1, 2),
       |seg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |    MAX(run_len) AS longest_run,
       |    CAST(SUM(run_len) AS BIGINT) AS n_voiced
       |  FROM runs GROUP BY 1),
       |per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames
       |  FROM v GROUP BY 1)
       |SELECT p.doc_id, n_frames,
       |  COALESCE(n_voiced, 0) AS n_voiced,
       |  COALESCE(n_segments, 0) AS n_segments,
       |  COALESCE(longest_run, 0) AS longest_run,
       |  ${r4Sql("CAST(COALESCE(n_voiced, 0) AS DOUBLE) / n_frames")}
       |    AS voiced_frac
       |FROM per p LEFT JOIN seg ON p.doc_id = seg.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------- #273
  /** #273 filter-cascade ordering optimizer: which order of the four
    * #81 gates minimizes expected rule evaluations per document? A doc
    * stops at its first failing rule, so the cost of an ordering
    * depends on the FULL 16-cell joint verdict distribution — which
    * one global aggregate produces exactly (#256 stops at pairwise).
    * All 24 orderings are priced from the joint and ranked; the
    * winner is the cascade #81 should run. The plan-space is
    * data-independent (a 24×16 literal table of "evaluations until
    * first failure"), so the whole optimization is one tiny join.
    *
    * Exactness: the joint is exact int64 counts; expected evaluations
    * is ONE r4'd division of the exact integer cost sum; ranking ties
    * break on the ordering name — total order.
    *
    * Scale: one map pass + ONE 16-row aggregate; the 384-row pricing
    * join and the 24-row rank window are constant-sized at any
    * corpus size.
    */
  def qualityCascadePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Pinnacle.ruleFlags(spark, dir)
      .groupBy(expr("f0 + 2 * f1 + 4 * f2 + 8 * f3").as("cell"))
      .agg(count(lit(1)).as("cnt"))
    val price = cascadePriceTable.toDF("ordering", "cell", "evals")
    val tot = cells.agg(sum("cnt").as("n_docs"))
    val costs = cells.join(broadcast(price), "cell")
      .groupBy("ordering")
      .agg(sum(col("cnt") * col("evals")).as("cost"))
    val wr = Window.orderBy("cost", "ordering") // 24 rows — constant
    costs.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .select(col("rank"), col("ordering"),
        r4(col("cost").cast("double") / col("n_docs"))
          .as("expected_evals"))
      .orderBy("rank")
  }

  /** The data-independent pricing table: for each of the 24 orderings
    * of the four rules and each of the 16 joint verdict cells (bit r
    * set = rule r fires), the number of rules evaluated until the
    * first firing rule (all 4 if none fires).
    */
  private[operators] lazy val cascadePriceTable: Seq[(String, Long, Long)] = {
    val names = Vector("min_tokens", "repetition", "token_shape",
      "digit_ratio")
    for {
      perm <- (0 to 3).permutations.toSeq
      cell <- 0L to 15L
    } yield {
      val name = perm.map(names).mkString(">")
      val first = perm.indexWhere(r => ((cell >> r) & 1L) == 1L)
      val evals = if (first < 0) 4L else first + 1L
      (name, cell, evals)
    }
  }

  val qualityCascadePlanSql: String = {
    val values = cascadePriceTable
      .map { case (o, c, e) => s"('$o', $c, $e)" }.mkString(", ")
    s"""WITH ${Pinnacle.ruleFlagsCtesSql},
       |cells AS (
       |  SELECT f0 + 2 * f1 + 4 * f2 + 8 * f3 AS cell,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM fl GROUP BY 1),
       |price(ordering, cell, evals) AS (VALUES $values),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs FROM cells),
       |costs AS (
       |  SELECT ordering, CAST(SUM(cnt * evals) AS BIGINT) AS cost
       |  FROM cells JOIN price ON cells.cell = price.cell
       |  GROUP BY 1)
       |SELECT ROW_NUMBER() OVER (ORDER BY cost, ordering) AS rank,
       |  ordering,
       |  ${r4Sql("CAST(cost AS DOUBLE) / n_docs")} AS expected_evals
       |FROM costs, tot ORDER BY rank""".stripMargin
  }

  // --------------------------------------------------------------- #274
  /** #274 vocabulary Gini: inequality of the corpus token-frequency
    * distribution — the single-number companion to #80's Zipf fit and
    * #189's hapax rate (a template-y corpus concentrates mass in few
    * types → Gini ↑). Computed WITHOUT the global sort #133 uses:
    * tokens with equal frequency contribute rank·freq sums that
    * depend only on the run's position, so the frequency-VALUE
    * histogram (distinct frequency values, domain-sized) yields
    * Σ rank·freq exactly: a run of m types at frequency f after
    * `cum` lighter types contributes f·(m·cum + m(m+1)/2).
    *
    * Exactness: all sums are DECIMAL(38,0) products of exact counts
    * (the #222 HUGEINT device on the oracle side); Gini
    * (2W − (n+1)T) / (nT) is ONE r4'd division of exact integers.
    *
    * Scale: token explode → ONE keyed count (map-side combine), a
    * second count to the frequency histogram, and a cumulative window
    * over DISTINCT FREQUENCY VALUES — at web scale that is thousands
    * of cells where #133's row_number window would be |vocab|-wide.
    */
  def textVocabGini(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val freq = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val hist = freq.groupBy("f").agg(count(lit(1)).as("m"))
    val wf = Window.orderBy("f") // distinct-frequency domain
    // 2W (twice the rank-weighted sum) stays INTEGRAL — a run of m
    // types at frequency f after cum lighter types contributes
    // f·(2·m·cum + m² + m) — so no division happens before the single
    // r4'd Gini emit (DuckDB HUGEINT `/` would drop to double)
    hist
      .withColumn("cum_after", sum("m").over(wf))
      .withColumn("cum", col("cum_after") - col("m"))
      .select(
        sum(col("m")).as("n_types"),
        sum(col("f").cast(dec) * col("m").cast(dec)).as("total"),
        sum(col("f").cast(dec) *
          (lit(2).cast(dec) * col("m").cast(dec) * col("cum").cast(dec) +
            col("m").cast(dec) * col("m").cast(dec) + col("m").cast(dec)))
          .as("w2"))
      .select(col("n_types"),
        col("total").cast("long").as("n_tokens"),
        r4((col("w2").cast("double") -
            (col("n_types") + lit(1)).cast("double") *
              col("total").cast("double")) /
          (col("n_types").cast("double") * col("total").cast("double")))
          .as("gini"))
  }

  val textVocabGiniSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |freq AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM toks WHERE tok <> '' GROUP BY 1),
       |h AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS m
       |  FROM freq GROUP BY 1),
       |c AS (
       |  SELECT f, m,
       |    SUM(m) OVER (ORDER BY f) - m AS cum
       |  FROM h),
       |agg AS (
       |  SELECT CAST(SUM(m) AS BIGINT) AS n_types,
       |    SUM(CAST(f AS HUGEINT) * CAST(m AS HUGEINT)) AS total,
       |    SUM(CAST(f AS HUGEINT) *
       |      (2 * CAST(m AS HUGEINT) * CAST(cum AS HUGEINT)
       |        + CAST(m AS HUGEINT) * CAST(m AS HUGEINT)
       |        + CAST(m AS HUGEINT))) AS w2
       |  FROM c)
       |SELECT n_types, CAST(total AS BIGINT) AS n_tokens,
       |  ${r4Sql("(CAST(w2 AS DOUBLE) - " +
                  "(n_types + 1) * CAST(total AS DOUBLE)) / " +
                  "(n_types * CAST(total AS DOUBLE))")} AS gini
       |FROM agg""".stripMargin

  // --------------------------------------------------------------- #275
  /** #275 cross-modal consistency audit: documents with BYTE-IDENTICAL
    * text must carry (near-)identical embeddings — a text-duplicate
    * pair whose vectors disagree means the embedding run mixed model
    * versions, truncation settings, or row alignment. Each exact-dup
    * doc compares to its cluster REPRESENTATIVE (min doc_id per text
    * hash), so work is linear in duplicates, never quadratic in
    * cluster size. Emits the pair, the exact cosine, and the conflict
    * flag (cosine < 0.99).
    *
    * Determinism: the conflict compare runs on the same IEEE cosine
    * double both engines compute (the proven cosine device) — the
    * threshold can't straddle.
    *
    * Scale: one md5-keyed agg for representatives, one equi-join
    * attach, two id-keyed embedding joins — all width-distributed;
    * the cosine is the only per-pair compute.
    */
  def embedTextConflict(spark: SparkSession, dir: String): DataFrame = {
    // the eval corpus plants the positive class (the #140 convention —
    // the organic corpus has no byte-identical dups): every 7th doc
    // re-uploads under a fresh id; HALF the re-uploads (every 14th)
    // carry the correctly-aligned embedding, half carry the NEXT row's
    // embedding — the off-by-one join-misalignment bug this audit
    // exists to catch
    // planted ids live at +10^12 — disjoint from the organic range by
    // construction (doc_ids are corpus ordinals; even a 100 TB corpus
    // stays orders of magnitude below 10^12 docs), so re-uploads can
    // never collide with real doc_ids/vec_ids and silently corrupt the
    // planted audit class the way a +10^6 offset would at ≥1e6 docs
    val plantOff = 1000000000000L
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val planted = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + plantOff).as("doc_id"), col("text"))
    val all = docs.unionByName(planted)
    val emb = Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val plantedEmb = emb.where(col("vec_id") % 7 === 0)
      .select((col("vec_id") + plantOff).as("vec_id"),
        when(col("vec_id") % 14 === 0, col("vec_id"))
          .otherwise(col("vec_id") + 1).as("src"))
      .join(emb.select(col("vec_id").as("src"), col("embedding")), "src")
      .select("vec_id", "embedding")
    val allEmb = emb.unionByName(plantedEmb)
    val d = all.select(col("doc_id"), md5(col("text")).as("th"))
    val rep = d.groupBy("th").agg(min("doc_id").as("rep_id"),
      count(lit(1)).as("csize"))
      .where(col("csize") >= 2)
    val pairs = d.join(rep, "th")
      .where(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id"), col("doc_id").as("dup_id"))
    pairs
      .join(allEmb.select(col("vec_id").as("rep_id"),
        col("embedding").as("e_rep")), "rep_id")
      .join(allEmb.select(col("vec_id").as("dup_id"),
        col("embedding").as("e_dup")), "dup_id")
      .withColumn("cos_raw", expr("cosine_f32(e_rep, e_dup)"))
      .select(col("rep_id"), col("dup_id"),
        r4(col("cos_raw")).as("cosine"),
        (col("cos_raw") < 0.99).as("conflict"))
      .orderBy("rep_id", "dup_id")
  }

  val embedTextConflictSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000000000, text FROM documents
       |  WHERE doc_id % 7 = 0),
       |emb AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT p.vec_id + 1000000000000, s.embedding
       |  FROM embeddings p JOIN embeddings s
       |    ON s.vec_id = CASE WHEN p.vec_id % 14 = 0 THEN p.vec_id
       |                       ELSE p.vec_id + 1 END
       |  WHERE p.vec_id % 7 = 0),
       |d AS (SELECT doc_id, md5(text) AS th FROM docs),
       |rep AS (
       |  SELECT th, MIN(doc_id) AS rep_id, COUNT(*) AS csize
       |  FROM d GROUP BY 1 HAVING COUNT(*) >= 2),
       |pairs AS (
       |  SELECT rep_id, doc_id AS dup_id
       |  FROM d JOIN rep ON d.th = rep.th
       |  WHERE doc_id <> rep_id),
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS norm
       |  FROM emb),
       |scored AS (
       |  SELECT rep_id, dup_id,
       |    list_sum(list_transform(range(1, len(a.embedding) + 1),
       |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
       |      / (a.norm * b.norm) AS cos_raw
       |  FROM pairs JOIN v a ON rep_id = a.vec_id
       |    JOIN v b ON dup_id = b.vec_id)
       |SELECT rep_id, dup_id, ${r4Sql("cos_raw")} AS cosine,
       |  cos_raw < 0.99 AS conflict
       |FROM scored ORDER BY rep_id, dup_id""".stripMargin

  // --------------------------------------------------------------- #276
  /** #276 code-vs-prose detection: the corpus-routing gate an LLM data
    * pipeline runs before tokenizer/quality decisions (code wants a
    * different tokenizer budget and different quality rules than
    * prose). Pure structural heuristics — code-symbol density
    * ([]{}();=<>), identifier underscores, and line-indent rate —
    * each compared in INTEGER space (20·n_sym > len ⟺ density > 5%,
    * 10·n_indent > n_lines ⟺ >10% indented lines); a doc flags as
    * code on 2-of-3 votes.
    *
    * Scale: one map-side pass (regexp counting is per-row), no
    * shuffle at all before the final order.
    */
  def textCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .withColumn("n_sym", col("len") -
        length(regexp_replace(col("text"), "[\\[\\]{}();=<>]", "")))
      .withColumn("n_underscore", col("len") -
        length(regexp_replace(col("text"), "_", "")))
      .withColumn("n_lines",
        (col("len") - length(regexp_replace(col("text"), "\n", "")) + 1))
      .withColumn("n_indent",
        (length(regexp_replace(col("text"), "(?m)^[ \\t]", "@$0")) -
          col("len")))
      .withColumn("v_sym", (col("n_sym") * 20 > col("len")).cast("int"))
      .withColumn("v_us", (col("n_underscore") * 100 > col("len")).cast("int"))
      .withColumn("v_ind", (col("n_indent") * 10 > col("n_lines")).cast("int"))
      .select(col("doc_id"),
        col("n_sym").cast("long").as("n_sym"),
        col("n_underscore").cast("long").as("n_underscore"),
        col("n_indent").cast("long").as("n_indent"),
        r4(col("n_sym").cast("double") / col("len")).as("sym_density"),
        (col("v_sym") + col("v_us") + col("v_ind") >= 2).as("is_code"))
      .orderBy("doc_id")
  }

  val textCodeDetectSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text, len(text) AS len,
       |    len(text) - len(regexp_replace(text,
       |      '[\\[\\]{}();=<>]', '', 'g')) AS n_sym,
       |    len(text) - len(regexp_replace(text, '_', '', 'g'))
       |      AS n_underscore,
       |    len(text) - len(regexp_replace(text, e'\\n', '', 'g')) + 1
       |      AS n_lines,
       |    len(regexp_replace(text, '(?m)^[ \\t]', e'@\\\\0', 'g')) - len(text)
       |      AS n_indent
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, n_sym, n_underscore, n_indent, len,
       |    CASE WHEN n_sym * 20 > len THEN 1 ELSE 0 END AS v_sym,
       |    CASE WHEN n_underscore * 100 > len THEN 1 ELSE 0 END AS v_us,
       |    CASE WHEN n_indent * 10 > n_lines THEN 1 ELSE 0 END AS v_ind
       |  FROM d)
       |SELECT doc_id, CAST(n_sym AS BIGINT) AS n_sym,
       |  CAST(n_underscore AS BIGINT) AS n_underscore,
       |  CAST(n_indent AS BIGINT) AS n_indent,
       |  ${r4Sql("CAST(n_sym AS DOUBLE) / len")} AS sym_density,
       |  v_sym + v_us + v_ind >= 2 AS is_code
       |FROM v ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #277
  /** #277 deterministic random-walk corpus (node2vec/DeepWalk's data
    * step): one length-3 walk per graph node over the co-purchase
    * graph, the "sentence" corpus a graph-embedding trainer consumes.
    * The walk is DETERMINISTIC — at step t from node u, the next hop
    * is neighbor rank 1 + (md5(u:t) mod deg(u)) — so 1000 executors
    * (and the DuckDB oracle) generate bit-identical walks with no
    * RNG state, the same device as #44's md5 sampling.
    *
    * Scale: the neighbor-ranked adjacency builds once (arc-sized,
    * per-src window — width-distributed); each step is one equi-join
    * of the |nodes|-sized walk head against it. Walk length is the
    * unrolled-iteration count, the #180 BFS pattern.
    */
  def graphWalkCorpus(spark: SparkSession, dir: String): DataFrame = {
    val und = Tables.persistSlot("summit.walkCorpus.und",
      Graph.undirected(spark, dir))
    val adj = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(und.select(col("pb").as("src"), col("pa").as("dst")))
    val wn = Window.partitionBy("src").orderBy("dst")
    val ranked = Tables.persistSlot("summit.walkCorpus.adj",
      adj.withColumn("rn", row_number().over(wn).cast("long"))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("src"))
          .cast("long")))
    def hop(cur: DataFrame, curCol: String, t: Int,
        outCol: String): DataFrame =
      cur.join(ranked.select(col("src"), col("dst"), col("rn"), col("deg")),
          col(curCol) === col("src"))
        .where(col("rn") === lit(1) +
          conv(substring(md5(concat(col(curCol).cast("string"),
            lit(":"), lit(t).cast("string"))), 1, 8), 16, 10)
            .cast("long") % col("deg"))
        .drop("src", "rn", "deg")
        .withColumnRenamed("dst", outCol)
    val start = ranked.select(col("src").as("n0")).distinct()
    val w1 = hop(start, "n0", 1, "n1")
    val w2 = hop(w1, "n1", 2, "n2")
    val w3 = hop(w2, "n2", 3, "n3")
    w3.select("n0", "n1", "n2", "n3").orderBy("n0")
  }

  val graphWalkCorpusSql: String = {
    def hopSql(prev: String, t: Int, cols: String, nxt: String): String = {
      val cur = if (t == 1) "n0" else s"n${t - 1}"
      s"""w$t AS (
         |  SELECT $cols, a.dst AS $nxt
         |  FROM $prev p JOIN adj a ON p.$cur = a.src
         |  WHERE a.rn = 1 + ('0x' || substr(md5(
         |    CAST(p.$cur AS VARCHAR) || ':' || '$t'),
         |    1, 8))::BIGINT % a.deg)""".stripMargin
    }
    s"""WITH ${Graph.edgeSql},
       |adj AS (
       |  SELECT src, dst,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
       |      AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
       |  FROM e),
       |w0 AS (SELECT DISTINCT src AS n0 FROM adj),
       |${hopSql("w0", 1, "p.n0", "n1")},
       |${hopSql("w1", 2, "p.n0, p.n1", "n2")},
       |${hopSql("w2", 3, "p.n0, p.n1, p.n2", "n3")}
       |SELECT n0, n1, n2, n3 FROM w3 ORDER BY n0""".stripMargin
  }

  // --------------------------------------------------------------- #278
  /** #278 binary (1-bit) quantized ANN — the third leg of the
    * quantization family beside SQ8 (#84) and PQ (#107): each vector
    * packs to a 64-bit SIGN signature (bit i = dim i > 0, dims = 64),
    * candidates rank by hamming distance popcount(sig_q ⊕ sig_c) —
    * 64× memory reduction and XOR+popcount scan speed, the standard
    * first-stage filter for billion-vector search. The exact cosine
    * rides along per result so the recall loss is observable (#84's
    * convention).
    *
    * Cross-engine: Spark scans the PACKED path (shiftleft build,
    * bit_count(xor) distance); the oracle computes the identical
    * hamming as an unpacked sign-disagreement sum (DuckDB's strict
    * `1<<63` overflow makes packing bit 63 impossible there) — same
    * integer, proven by the hash match. Ranking key (hamming, c_id)
    * is total.
    *
    * Scale: signatures are a map-side projection (8 bytes/vector
    * leave the scan); ranking reuses the broadcast-query
    * WindowGroupLimit shape of #32.
    */
  def annBinaryHamming(spark: SparkSession, dir: String): DataFrame = {
    val sigExpr =
      """aggregate(sequence(0, 63), 0L, (acc, i) ->
        |  acc + if(element_at(embedding, i + 1) > 0.0F,
        |    shiftleft(1L, i), 0L))""".stripMargin
    val v = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), expr(sigExpr).as("sig"))
    val q = v
      .where(col("vec_id") % 50 === 0 && col("vec_id") < 1000000L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("sig").as("q_sig"))
    val w = Window.partitionBy("q_id").orderBy("hamming", "c_id")
    v.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("sig").as("c_sig"))
      .join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("hamming",
        expr("cast(bit_count(q_sig ^ c_sig) as long)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("c_id"), col("hamming"),
        r4(expr("cosine_f32(q_emb, c_emb)")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  val annBinaryHammingSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS norm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    CAST(list_sum(list_transform(range(1, 65), i ->
       |      CASE WHEN (q.embedding[i] > 0) <> (c.embedding[i] > 0)
       |        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming,
       |    list_sum(list_transform(range(1, len(q.embedding) + 1),
       |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |      / (q.norm * c.norm) AS cos_raw
       |  FROM v q JOIN v c
       |    ON q.vec_id % 50 = 0 AND q.vec_id < 1000000
       |      AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, c_id, hamming, cos_raw, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY hamming, c_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, c_id, hamming, ${r4Sql("cos_raw")} AS cosine
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- #279
  /** #279 Matryoshka truncation eval (MRL): how much recall does
    * serving on the first 16 of 64 dimensions cost? Per eval query,
    * the top-5 by exact cosine on the FULL vector (truth) vs the
    * top-5 by cosine on the 16-dim PREFIX; emits overlap, recall@5,
    * and whether the top-1 survives truncation. The dial a serving
    * stack reads before switching to truncated embeddings (4×
    * memory/bandwidth win when recall holds).
    *
    * Scale: two broadcast-query corpus scans (the #32 shape twice);
    * the overlap join is |q|·k rows. The registered query set is
    * horizon-bounded as always.
    */
  def embedMatryoshkaEval(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = Similarity.evalQueries(spark, dir)
    def topk(scoreExpr: String): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(desc("s"), col("c_id"))
      v.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        .join(broadcast(q), col("q_id") =!= col("c_id"))
        .withColumn("s", expr(scoreExpr))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
        .select("q_id", "rank", "c_id")
    }
    val full = topk("cosine_f32(q_emb, c_emb)")
    val pref = topk("cosine_f32(slice(q_emb, 1, 16), slice(c_emb, 1, 16))")
    val overlap = full.select("q_id", "c_id")
      .join(pref.select("q_id", "c_id"), Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
    val top1 = full.where(col("rank") === 1)
      .select(col("q_id"), col("c_id").as("t_full"))
      .join(pref.where(col("rank") === 1)
        .select(col("q_id"), col("c_id").as("t_pref")), "q_id")
      .select(col("q_id"), (col("t_full") === col("t_pref")).as("top1_match"))
    q.select("q_id").join(overlap, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .join(top1, "q_id")
      .select(col("q_id"), col("n_overlap"),
        r4(col("n_overlap").cast("double") / 5.0).as("recall_at_5"),
        col("top1_match"))
      .orderBy("q_id")
  }

  val embedMatryoshkaEvalSql: String = {
    def rankedSql(name: String, emb: String, dims: String): String =
      s"""$name AS (
         |  SELECT q_id, c_id, rank FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS c_id, ROW_NUMBER() OVER (
         |      PARTITION BY q.vec_id ORDER BY
         |        list_sum(list_transform(range(1, $dims + 1), i ->
         |          q.embedding$emb[i]::DOUBLE * c.embedding$emb[i]::DOUBLE))
         |        / (sqrt(list_sum(list_transform(q.embedding$emb,
         |            x -> x::DOUBLE * x::DOUBLE)))
         |          * sqrt(list_sum(list_transform(c.embedding$emb,
         |            x -> x::DOUBLE * x::DOUBLE)))) DESC,
         |        c.vec_id) AS rank
         |    FROM embeddings q JOIN embeddings c
         |      ON q.vec_id % 50 = 0 AND q.vec_id < 1000000
         |        AND q.vec_id <> c.vec_id)
         |  WHERE rank <= 5)""".stripMargin
    s"""WITH ${rankedSql("fullk", "", "64")},
       |${rankedSql("prefk", "[1:16]", "16")},
       |ov AS (
       |  SELECT f.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM fullk f JOIN prefk p ON f.q_id = p.q_id AND f.c_id = p.c_id
       |  GROUP BY 1),
       |qs AS (
       |  SELECT DISTINCT vec_id AS q_id FROM embeddings
       |  WHERE vec_id % 50 = 0 AND vec_id < 1000000)
       |SELECT qs.q_id, COALESCE(n_overlap, 0) AS n_overlap,
       |  ${r4Sql("CAST(COALESCE(n_overlap, 0) AS DOUBLE) / 5.0")}
       |    AS recall_at_5,
       |  ft.c_id = pt.c_id AS top1_match
       |FROM qs
       |  LEFT JOIN ov ON qs.q_id = ov.q_id
       |  JOIN (SELECT q_id, c_id FROM fullk WHERE rank = 1) ft
       |    ON qs.q_id = ft.q_id
       |  JOIN (SELECT q_id, c_id FROM prefk WHERE rank = 1) pt
       |    ON qs.q_id = pt.q_id
       |ORDER BY qs.q_id""".stripMargin
  }

  // --------------------------------------------------------------- #280
  /** #280 dominant-period detection per event type: #178's gap-filled
    * hourly ACF extended to lags 2-24 and arg-maxed — "what cadence
    * does this series repeat at" as one row per type (best lag, its
    * autocorrelation, pair count). The read that chooses #43/#21's
    * window widths and #195's seasonal baseline.
    *
    * Determinism: each per-lag r is the #178 device (exact int64
    * cross-products, 3 correctly-rounded IEEE ops) — identical
    * doubles on both engines, so the (acf DESC, lag) arg-max ranking
    * is engine-identical; lag 1 is excluded (trivially high for any
    * smooth series), zero-variance lags rank last as NULL.
    *
    * Scale: the dense axis is span-sized (not event-sized), 23 leads
    * over ONE per-type window Exchange, final state 23·|types| rows;
    * the arg-max window runs over the 23-row lag domain per type.
    */
  def tsPeriodDetect(spark: SparkSession, dir: String): DataFrame = {
    val maxLag = 24
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        // integer-space div (the tsCusum device) — float division then
        // cast deviates from the repo's integer contract and from the
        // oracle's exact // even though epoch-us quotients happen to
        // stay clear of double half-ULP boundaries
        expr("ts_us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
    val axis = hourly.groupBy("event_type")
      .agg(min("hr").as("lo"), max("hr").as("hi"))
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("hr"))
    val dense = axis.join(hourly, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("c"), lit(0L)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    // ONE window pass computes all 23 leads; stack unpivots — the
    // 23-way union of per-lag selects would re-run the window 23×
    val wide = dense.select(
      Seq(col("event_type"), col("x")) ++
        (2 to maxLag).map(l => lead(col("x"), l).over(w).as(s"y$l")): _*)
    val lagged = wide.selectExpr("event_type", "x",
      s"stack(${maxLag - 1}, " +
        (2 to maxLag).map(l => s"${l}L, y$l").mkString(", ") +
        ") as (lag, y)")
      .where(col("y").isNotNull)
    val acfs = lagged.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n"),
        r4((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(when(
            (col("n") * col("sxx") - col("sx") * col("sx")) === 0L ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0L,
            lit(null).cast("double"))
            .otherwise(
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("acf"))
    val wa = Window.partitionBy("event_type")
      .orderBy(desc_nulls_last("acf"), col("lag"))
    acfs.withColumn("rk", row_number().over(wa))
      .where(col("rk") === 1)
      .select(col("event_type"), col("lag").as("best_lag"), col("n"),
        col("acf"))
      .orderBy("event_type")
  }

  val tsPeriodDetectSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |axis AS (
       |  SELECT event_type, unnest(range(lo, hi + 1)) AS hr
       |  FROM (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi
       |        FROM hourly GROUP BY event_type)),
       |dense AS (
       |  SELECT a.event_type, a.hr, COALESCE(h.c, 0) AS x
       |  FROM axis a LEFT JOIN hourly h
       |    ON a.event_type = h.event_type AND a.hr = h.hr),
       |wide AS (
       |  SELECT event_type, x,
       |    ${(2 to 24).map(l =>
              s"LEAD(x, $l) OVER w AS y$l").mkString(",\n       |    ")}
       |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
       |lagged AS (
       |  ${(2 to 24).map(l =>
            s"SELECT event_type, CAST($l AS BIGINT) AS lag, x, y$l AS y " +
              s"FROM wide WHERE y$l IS NOT NULL")
            .mkString("\n       |  UNION ALL ")}),
       |acfs AS (
       |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM lagged GROUP BY 1, 2),
       |scored AS (
       |  SELECT event_type, lag, n,
       |    ${r4Sql(
            """CAST(n * sxy - sx * sy AS DOUBLE) /
              |      sqrt(CASE WHEN n * sxx - sx * sx = 0
              |          OR n * syy - sy * sy = 0 THEN NULL
              |        ELSE CAST(n * sxx - sx * sx AS DOUBLE)
              |          * CAST(n * syy - sy * sy AS DOUBLE) END)"""
              .stripMargin)} AS acf
       |  FROM acfs)
       |SELECT event_type, lag AS best_lag, n, acf FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY acf DESC NULLS LAST, lag) AS rk
       |  FROM scored) WHERE rk = 1
       |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- #281
  /** #281 class-balanced sampling: per language, keep exactly
    * `min-class-count` documents selected by deterministic md5 rank —
    * the balanced-training-set construction beside #44's rate-based
    * stratified sampling and the fixed-k variant (#198): here k is
    * DERIVED (the smallest class), so the output is exactly balanced
    * at any corpus composition without a config change.
    *
    * Scale: one count agg (tiny), a 1-row global-min broadcast, and a
    * per-class hash-rank window; the data-dependent k means no
    * WindowGroupLimit pushdown (documented — the fixed-k form gets
    * it), so the rank materializes per class and the filter follows.
    */
  def sampleClassBalanced(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
    val m = d.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .agg(min("cnt").as("k"))
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
    d.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(m))
      .where(col("rk") <= col("k"))
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy("lang", "rk")
  }

  val sampleClassBalancedSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |m AS (SELECT MIN(cnt) AS k FROM (
      |  SELECT lang, COUNT(*) AS cnt FROM d GROUP BY 1)),
      |r AS (
      |  SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rk
      |  FROM d)
      |SELECT lang, doc_id, rk FROM r, m WHERE rk <= k
      |ORDER BY lang, rk""".stripMargin

  // --------------------------------------------------------------- #282
  /** #282 template coverage: what share of each document's bigrams
    * belong to the corpus-wide top-100 bigram set? #34/#64 measure
    * INTRA-doc repetition; this is the CROSS-doc templating signal —
    * boilerplate-heavy docs score high even when each is internally
    * diverse. The standard "SEO-template farm" detector beside
    * #104's heavy hitters (which finds the grams; this attributes
    * them back to documents).
    *
    * Determinism: the top-100 cut ranks by (count DESC, gram) — a
    * total order, so the template set is engine-identical.
    *
    * Scale: bigram explode → ONE keyed count (map-side combine) →
    * TakeOrdered(100) — the template set is a constant-size
    * broadcast; the attribution is a map-side broadcast semi-join
    * per exploded bigram + one doc-keyed count.
    */
  def textTemplateCoverage(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), expr(
        """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |  (a, b) -> concat(a, ' ', b))""".stripMargin).as("bs"))
      .select(col("doc_id"), explode(col("bs")).as("gram"))
    val top = bigrams.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("gram")).limit(100)
      .select(col("gram"))
    val perDoc = bigrams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"))
    val tmpl = bigrams.join(broadcast(top), "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_template"))
    perDoc.join(tmpl, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_template"))
      .select(col("doc_id"), col("n_bigrams"), col("n_template"),
        r4(col("n_template").cast("double") / col("n_bigrams"))
          .as("coverage"))
      .orderBy("doc_id")
  }

  val textTemplateCoverageSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split(text, ' '))),
       |    i -> string_split(text, ' ')[i] || ' ' ||
       |      string_split(text, ' ')[i + 1])) AS gram
       |  FROM documents),
       |top100 AS (
       |  SELECT gram FROM (
       |    SELECT gram, COUNT(*) AS cnt FROM b GROUP BY 1)
       |  ORDER BY cnt DESC, gram LIMIT 100),
       |per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams
       |  FROM b GROUP BY 1),
       |tm AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_template
       |  FROM b JOIN top100 USING (gram) GROUP BY 1)
       |SELECT p.doc_id, n_bigrams, COALESCE(n_template, 0) AS n_template,
       |  ${r4Sql("CAST(COALESCE(n_template, 0) AS DOUBLE) / n_bigrams")}
       |    AS coverage
       |FROM per p LEFT JOIN tm ON p.doc_id = tm.doc_id
       |ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------- #283
  /** #283 ABC class migration: #110's Pareto classification computed
    * independently on the early and late half of the order history
    * (calendar cut at 1998-01-01), then the A/B/C→A/B/C transition
    * matrix with 'absent' rows for churned/new customers — "did my A
    * customers stay A" as one bounded table. The class-level
    * companion to #113's cohort LTV.
    *
    * Scale: two half-sized #110 windows (the cum-share global sort is
    * inherent to Pareto ranking — at cluster scale it is the
    * TakeOrdered-style range partition sort), a full-outer key join,
    * and a ≤ 15-row matrix with domain-sized share windows.
    */
  def ordersAbcMigration(spark: SparkSession, dir: String): DataFrame = {
    def abcOf(half: DataFrame): DataFrame = {
      val rev = half.groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("revenue"))
      val ord = Window.orderBy(desc("revenue"), col("o_custkey"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = ord.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      rev.withColumn("cum_share",
          sum(col("revenue")).over(cum).cast("double") /
            sum(col("revenue")).over(all).cast("double"))
        .select(col("o_custkey"),
          when(col("cum_share") <= 0.5, "A")
            .when(col("cum_share") <= 0.8, "B")
            .otherwise(lit("C")).as("cls"))
    }
    val o = Tables(spark, dir, "orders")
    val h1 = abcOf(o.where(col("o_orderdate") < "1998-01-01"))
      .withColumnRenamed("cls", "class_from")
    val h2 = abcOf(o.where(col("o_orderdate") >= "1998-01-01"))
      .withColumnRenamed("cls", "class_to")
    val t = h1.join(h2, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("class_from"), lit("absent")).as("class_from"),
        coalesce(col("class_to"), lit("absent")).as("class_to"))
      .groupBy("class_from", "class_to").agg(count(lit(1)).as("n_cust"))
    val wf = Window.partitionBy("class_from") // ≤ 4×4 rows
    t.withColumn("n_from", sum("n_cust").over(wf))
      .select(col("class_from"), col("class_to"), col("n_cust"),
        r4(col("n_cust").cast("double") / col("n_from")).as("share"))
      .orderBy("class_from", "class_to")
  }

  val ordersAbcMigrationSql: String = {
    def abcSql(name: String, pred: String): String =
      s"""$name AS (
         |  SELECT o_custkey,
         |    CASE WHEN cum_share <= 0.5 THEN 'A'
         |         WHEN cum_share <= 0.8 THEN 'B' ELSE 'C' END AS cls
         |  FROM (
         |    SELECT o_custkey,
         |      CAST(SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS DOUBLE) / CAST(SUM(revenue) OVER () AS DOUBLE)
         |        AS cum_share
         |    FROM (
         |      SELECT o_custkey,
         |        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
         |      FROM orders WHERE $pred GROUP BY 1)))""".stripMargin
    s"""WITH ${abcSql("h1", "o_orderdate < TIMESTAMP '1998-01-01'")},
       |${abcSql("h2", "o_orderdate >= TIMESTAMP '1998-01-01'")},
       |t AS (
       |  SELECT COALESCE(h1.cls, 'absent') AS class_from,
       |    COALESCE(h2.cls, 'absent') AS class_to,
       |    CAST(COUNT(*) AS BIGINT) AS n_cust
       |  FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
       |  GROUP BY 1, 2)
       |SELECT class_from, class_to, n_cust,
       |  ${r4Sql("CAST(n_cust AS DOUBLE) / " +
                  "SUM(n_cust) OVER (PARTITION BY class_from)")} AS share
       |FROM t ORDER BY class_from, class_to""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "audit_key_skew" -> (auditKeySkew _),
    "events_funnel_latency" -> (eventsFunnelLatency _),
    "orders_hazard_curve" -> (ordersHazardCurve _),
    "quality_rule_kappa" -> (qualityRuleKappa _),
    "ann_graph_search" -> ((s: SparkSession, d: String) =>
      annGraphSearch(s, d)),
    "mm_shot_boundaries" -> (mmShotBoundaries _),
    "ts_bollinger_breakout" -> (tsBollingerBreakout _),
    "orders_brand_switch" -> (ordersBrandSwitch _),
    "events_anomaly_iqr" -> (eventsAnomalyIqr _),
    "graph_embeddedness" -> (graphEmbeddedness _),
    "mm_audio_vad" -> (mmAudioVad _),
    "quality_cascade_plan" -> (qualityCascadePlan _),
    "text_vocab_gini" -> (textVocabGini _),
    "embed_text_conflict" -> (embedTextConflict _),
    "text_code_detect" -> (textCodeDetect _),
    "graph_walk_corpus" -> (graphWalkCorpus _),
    "ann_binary_hamming" -> (annBinaryHamming _),
    "embed_matryoshka_eval" -> (embedMatryoshkaEval _),
    "ts_period_detect" -> (tsPeriodDetect _),
    "sample_class_balanced" -> (sampleClassBalanced _),
    "text_template_coverage" -> (textTemplateCoverage _),
    "orders_abc_migration" -> (ordersAbcMigration _))

  val oracles: Map[String, String] = Map(
    "audit_key_skew" -> auditKeySkewSql,
    "events_funnel_latency" -> eventsFunnelLatencySql,
    "orders_hazard_curve" -> ordersHazardCurveSql,
    "quality_rule_kappa" -> qualityRuleKappaSql,
    "ann_graph_search" -> annGraphSearchSql,
    "mm_shot_boundaries" -> mmShotBoundariesSql,
    "ts_bollinger_breakout" -> tsBollingerBreakoutSql,
    "orders_brand_switch" -> ordersBrandSwitchSql,
    "events_anomaly_iqr" -> eventsAnomalyIqrSql,
    "graph_embeddedness" -> graphEmbeddednessSql,
    "mm_audio_vad" -> mmAudioVadSql,
    "quality_cascade_plan" -> qualityCascadePlanSql,
    "text_vocab_gini" -> textVocabGiniSql,
    "embed_text_conflict" -> embedTextConflictSql,
    "text_code_detect" -> textCodeDetectSql,
    "graph_walk_corpus" -> graphWalkCorpusSql,
    "ann_binary_hamming" -> annBinaryHammingSql,
    "embed_matryoshka_eval" -> embedMatryoshkaEvalSql,
    "ts_period_detect" -> tsPeriodDetectSql,
    "sample_class_balanced" -> sampleClassBalancedSql,
    "text_template_coverage" -> textTemplateCoverageSql,
    "orders_abc_migration" -> ordersAbcMigrationSql)
}
