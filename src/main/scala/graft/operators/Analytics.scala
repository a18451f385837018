package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Corpus/catalog analytics extensions (SURVEY.md §2 #131-134):
  * readability scoring, concentration/diversity indices, and interval
  * coverage — each a single declarative plan with exact-arithmetic
  * discipline (integer counters and decimal sums everywhere; IEEE
  * division only in the final projection under r4). Also the
  * deterministic samplers that evaluate themselves against exact
  * answers: mergeable bottom-k group samples (#322) and sequential
  * Poisson PPS samples (#342).
  */
object Analytics {

  // --------------------------------------------------------------- #131
  /** #131 Flesch-Kincaid readability per document: words, sentences,
    * vowel-group syllable proxy, FK grade + reading ease. Pure
    * single-scan narrow projection (regexp counts — no explode, no
    * shuffle except the final sort); all three ratio inputs are
    * integers, so the grade is engine-exact under r4. The standard
    * text-quality signal next to #35/#64 for corpus filtering.
    */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val words = greatest(size(split(col("text"), " ")), lit(1))
    val sentences = greatest(
      size(expr("regexp_extract_all(text, '[.!?]', 0)")), lit(1))
    val syllables =
      size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        // int/int divides first (double in BOTH engines), THEN the
        // literal multiplies — DuckDB parses bare 0.39 as DECIMAL, so
        // literal*int would take its decimal arithmetic path
        r4(lit(0.39) * (col("n_words") / col("n_sentences")) +
          lit(11.8) * (col("n_syllables") / col("n_words")) - lit(15.59))
          .as("fk_grade"),
        r4(lit(206.835) -
          lit(1.015) * (col("n_words") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables") / col("n_words")))
          .as("reading_ease"))
      .orderBy("doc_id")
  }

  val textReadabilitySql: String = {
    val words = "GREATEST(len(string_split(text, ' ')), 1)"
    val sentences = "GREATEST(len(regexp_extract_all(text, '[.!?]')), 1)"
    val syllables = "len(regexp_extract_all(lower(text), '[aeiouy]+'))"
    s"""WITH t AS (
       |  SELECT doc_id, $words AS n_words, $sentences AS n_sentences,
       |    $syllables AS n_syllables
       |  FROM documents)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  ${r4Sql("0.39 * (n_words / n_sentences) + " +
                  "11.8 * (n_syllables / n_words) - 15.59")} AS fk_grade,
       |  ${r4Sql("206.835 - 1.015 * (n_words / n_sentences) - " +
                  "84.6 * (n_syllables / n_words)")} AS reading_ease
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- #132
  /** #132 Simpson diversity of each user's event mix: 1 - Σp² plus the
    * effective type count 1/Σp². Σc² and N are integers off one keyed
    * agg (the per-(user,type) counts are partial-aggregable map-side),
    * so both indices are exact rationals under single IEEE divisions.
    * The catalog reading: how concentrated is each job's event
    * history — the state-machine health check next to #103's Markov
    * matrix.
    */
  def eventsDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sumsq"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        r4(lit(1.0) - col("sumsq") /
          (col("n_events") * col("n_events")).cast("double"))
          .as("simpson"),
        r4((col("n_events") * col("n_events")) / col("sumsq").cast("double"))
          .as("effective_types"))
      .orderBy("user_id")

  val eventsDiversitySql: String =
    s"""WITH c AS (
       |  SELECT user_id, event_type, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |s AS (
       |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
       |    COUNT(*) AS n_types, CAST(SUM(c * c) AS BIGINT) AS sumsq
       |  FROM c GROUP BY 1)
       |SELECT user_id, n_events, n_types,
       |  ${r4Sql("1.0 - sumsq / CAST(n_events * n_events AS DOUBLE)")}
       |    AS simpson,
       |  ${r4Sql("(n_events * n_events) / CAST(sumsq AS DOUBLE)")}
       |    AS effective_types
       |FROM s ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- #133
  /** #133 Gini coefficient of customer revenue concentration —
    * G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over revenue sorted
    * ascending. Per-customer revenue and both weighted sums are exact
    * decimals (rank × decimal products — no floating accumulation);
    * the ranking sort is total via the (revenue, custkey) tie-break.
    * The single global window IS the algorithm (a Gini needs a full
    * sort); at 100 TB use the #110 ABC machinery's range-partitioned
    * sort — the formula stays one pass either way. Complements #110's
    * Pareto bands with the scalar inequality measure.
    */
  def ordersGini(spark: SparkSession, dir: String): DataFrame = {
    // per-customer revenue re-clamped to DECIMAL(18,2) after the sum so
    // the rank×revenue product stays inside DECIMAL(38) on BOTH engines
    // (DuckDB's SUM widens to DECIMAL(38,2), whose product would spill)
    val rev = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DecimalType(18, 2)).as("rev"))
    val w = Window.orderBy("rev", "o_custkey")
    val ranked = rev.withColumn("i", row_number().over(w))
    ranked.agg(
        count(lit(1)).as("n_customers"),
        sum(col("rev")).cast("double").as("total_revenue"),
        sum(col("i").cast(DecimalType(18, 0)) * col("rev"))
          .cast("double").as("wsum"))
      .select(col("n_customers"), col("total_revenue"),
        r4((lit(2.0) * col("wsum") -
            (col("n_customers") + lit(1)) * col("total_revenue")) /
          (col("n_customers") * col("total_revenue"))).as("gini"))
  }

  val ordersGiniSql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
       |      AS rev
       |  FROM orders GROUP BY 1),
       |ranked AS (
       |  SELECT rev, o_custkey,
       |    ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
       |  FROM rev),
       |agg AS (
       |  SELECT COUNT(*) AS n_customers,
       |    CAST(SUM(rev) AS DOUBLE) AS total_revenue,
       |    CAST(SUM(CAST(i AS DECIMAL(18,0)) * rev) AS DOUBLE) AS wsum
       |  FROM ranked)
       |SELECT n_customers, total_revenue,
       |  ${r4Sql("(2.0 * wsum - (n_customers + 1) * total_revenue) / " +
                  "(n_customers * total_revenue)")} AS gini
       |FROM agg""".stripMargin

  // --------------------------------------------------------------- #134
  /** #134 interval merge (coverage union): each order opens a 30-day
    * service interval; overlapping-or-touching intervals per customer
    * merge into segments via the sweep: a row starts a new segment iff
    * its start exceeds the running max end of all earlier intervals
    * (two stacked windows over ONE per-customer Exchange — the
    * standard O(n log n) union, no self-join). Pure integer date
    * arithmetic. The catalog reading: collapse per-job file-activity
    * windows into contiguous busy periods (reference jobs emit events
    * over archive windows — reactor.py:183-218).
    */
  def intervalsMerge(spark: SparkSession, dir: String,
      lengthDays: Int = 30): DataFrame = {
    val iv = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("start"),
        date_add(to_date(col("o_orderdate")), lengthDays).as("end"))
    val wPrev = Window.partitionBy("o_custkey")
      .orderBy("start", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("o_custkey")
      .orderBy("start", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("prev_end", max(col("end")).over(wPrev))
      .withColumn("new_seg",
        when(col("prev_end").isNull || col("start") > col("prev_end"), 1)
          .otherwise(0))
      .withColumn("seg", sum(col("new_seg")).over(wRun))
      .groupBy("o_custkey", "seg")
      .agg(min(col("start")).as("seg_start"), max(col("end")).as("seg_end"),
        count(lit(1)).as("n_orders"))
      .groupBy("o_custkey")
      .agg(sum(col("n_orders")).as("n_intervals"),
        count(lit(1)).as("n_segments"),
        sum(datediff(col("seg_end"), col("seg_start"))).as("covered_days"))
      .orderBy("o_custkey")
  }

  /** Parameter-matched oracle (same `lengthDays` as the operator). */
  def intervalsMergeSql(lengthDays: Int = 30): String =
    s"""WITH iv AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS s,
      |    CAST(o_orderdate AS DATE) + $lengthDays AS e
      |  FROM orders),
      |marked AS (
      |  SELECT o_custkey, s, e,
      |    CASE WHEN MAX(e) OVER (PARTITION BY o_custkey
      |        ORDER BY s, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR s > MAX(e) OVER (PARTITION BY o_custkey
      |        ORDER BY s, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS new_seg, o_orderkey
      |  FROM iv),
      |seg AS (
      |  SELECT o_custkey, s, e,
      |    SUM(new_seg) OVER (PARTITION BY o_custkey ORDER BY s, o_orderkey
      |      ROWS UNBOUNDED PRECEDING) AS seg
      |  FROM marked),
      |merged AS (
      |  SELECT o_custkey, seg, MIN(s) AS seg_start, MAX(e) AS seg_end,
      |    COUNT(*) AS n_orders
      |  FROM seg GROUP BY 1, 2)
      |SELECT o_custkey, CAST(SUM(n_orders) AS BIGINT) AS n_intervals,
      |  COUNT(*) AS n_segments,
      |  CAST(SUM(date_diff('day', seg_start, seg_end)) AS BIGINT)
      |    AS covered_days
      |FROM merged GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // --------------------------------------------------------------- #141
  /** #141 Count-Min frequency estimation with observable error: the
    * corpus token stream folds into ONE 4×256 CMS (`cms_agg` — fixed
    * 8 KB partials, elementwise-add merge), which broadcasts back to
    * probe the exact top-20 tokens. Emitting estimate AND exact makes
    * the ε-overcount a measured column (CMS never undercounts) — the
    * same observable-error discipline as #114's histogram quantiles.
    * Positions are md5-derived so the oracle rebuilds every counter;
    * production swaps xxhash in (same plan).
    */
  def textCmsFreq(spark: SparkSession, dir: String,
      w: Int = 256, d: Int = 4, topK: Int = 20): DataFrame = {
    val toks = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    val cms = toks.agg(expr(s"cms_agg(tok, $w, $d)").as("cms"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_count"))
      .orderBy(desc("exact_count"), col("tok"))
      .limit(topK)
    exact.crossJoin(broadcast(cms))
      .select(col("tok"), col("exact_count"),
        expr(s"cms_est(cms, tok, $w, $d)").as("est"))
      .withColumn("overcount", col("est") - col("exact_count"))
      .orderBy(desc("exact_count"), col("tok"))
  }

  val textCmsFreqSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      |cells AS (
      |  SELECT r, ('0x' || substr(md5(tok || ':' || r), 1, 8))::BIGINT
      |      % 256 AS pos,
      |    CAST(SUM(c) AS BIGINT) AS total
      |  FROM cnt CROSS JOIN range(0, 4) t(r)
      |  GROUP BY 1, 2),
      |top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
      |probe AS (
      |  SELECT top.tok, top.c AS exact_count, MIN(total) AS est
      |  FROM top CROSS JOIN range(0, 4) t(r)
      |  JOIN cells ON cells.r = t.r AND cells.pos =
      |    ('0x' || substr(md5(top.tok || ':' || t.r), 1, 8))::BIGINT % 256
      |  GROUP BY 1, 2)
      |SELECT tok, exact_count, est, est - exact_count AS overcount
      |FROM probe ORDER BY exact_count DESC, tok""".stripMargin

  // --------------------------------------------------------------- #144
  /** #144 CUSUM changepoint detection per event type: the day where
    * the cumulative deviation of daily volume from the series mean
    * peaks — the standard level-shift detector for monitoring feeds.
    * The statistic is cleared to pure integers: Sₙ(i) = n·Σ₍ⱼ≤ᵢ₎cⱼ −
    * i·total is n× the CUSUM, so the argmax (tie-break: earliest day)
    * involves NO division and can't drift; the reported magnitude
    * divides once under r4. One keyed day-agg, two windows over one
    * per-type Exchange, a rank-1 filter.
    */
  def eventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(86400000000L)).cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
    val totals = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total"))
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily.join(totals, "event_type")
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("i", row_number().over(
        Window.partitionBy("event_type").orderBy("day")))
      .withColumn("sn",
        col("n_days") * col("cum") - col("i") * col("total"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(abs(col("sn")).desc, col("day"))))
      .where(col("rk") === 1)
      .select(col("event_type"), col("n_days"),
        col("day").as("cp_day"),
        r4(abs(col("sn")) / col("n_days").cast("double")).as("cusum_peak"))
      .orderBy("event_type")
  }

  val eventsChangepointSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT)
       |      AS day,
       |    COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |totals AS (
       |  SELECT event_type, COUNT(*) AS n_days,
       |    CAST(SUM(c) AS BIGINT) AS total
       |  FROM daily GROUP BY 1),
       |scored AS (
       |  SELECT d.event_type, d.day, t.n_days, t.total,
       |    SUM(c) OVER (PARTITION BY d.event_type ORDER BY day
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY day) AS i
       |  FROM daily d JOIN totals t ON d.event_type = t.event_type),
       |sn AS (
       |  SELECT event_type, day, n_days,
       |    n_days * cum - i * total AS sn
       |  FROM scored),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY abs(sn) DESC, day) AS rk
       |  FROM sn)
       |SELECT event_type, n_days, day AS cp_day,
       |  ${r4Sql("abs(sn) / CAST(n_days AS DOUBLE)")} AS cusum_peak
       |FROM ranked WHERE rk = 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- #148
  /** #148 LLM-watermark detection (Kirchenbauer-style): score each doc
    * for green-list excess, where the "green" half of the vocabulary
    * is an md5-parity partition (the detector needs only the hash
    * key, not the generator). z = (2g − n)/√n under the null
    * (tokens green at rate ½); g and n are exact integers off one
    * filter-fold per row — no explode, no shuffle but the final sort.
    * The z > 4 flag means ≳ 3σ⁴ false-positive odds — corpus hygiene
    * for synthetic-text contamination, next to #65's benchmark
    * decontamination.
    */
  def textWatermark(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val green = expr(
      "size(filter(transform(split(text, ' '), " +
        "t -> conv(substring(md5(t), 1, 2), 16, 10) % 2), p -> p = 0))")
    Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), size(toks).as("n_tokens"),
        green.as("n_green"))
      .select(col("doc_id"), col("n_tokens"), col("n_green"),
        r4((lit(2) * col("n_green") - col("n_tokens")) /
          sqrt(col("n_tokens").cast("double"))).as("z_green"))
      .withColumn("flagged", col("z_green") > 4.0)
      .orderBy("doc_id")
  }

  val textWatermarkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(list_filter(list_transform(string_split(text, ' '),
       |      tk -> ('0x' || substr(md5(tk), 1, 2))::INT % 2),
       |      p -> p = 0)) AS n_green
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_green,
       |  ${r4Sql("(2 * n_green - n_tokens) / sqrt(CAST(n_tokens AS DOUBLE))")}
       |    AS z_green,
       |  ${r4Sql("(2 * n_green - n_tokens) / sqrt(CAST(n_tokens AS DOUBLE))")}
       |    > 4.0 AS flagged
       |FROM t ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #145
  /** #145 linear multi-touch attribution: each purchase's value splits
    * equally across the same user's views in the preceding 7 days;
    * per view, the attributed revenue sums over all purchases it
    * touched. The pair join is equi-keyed on user with the time
    * residual INSIDE the join (the #11 range-join shape — never a
    * cartesian); the 1/k split is one IEEE division per pair and each
    * share is decimal-cast before the per-view sum, so pair
    * enumeration order can't move a bit. Mass conservation (Σ
    * attributed == Σ touched purchase value) is the spec's invariant.
    */
  def eventsAttribution(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val ev = Tables.eventsUs(spark, dir)
    val horizon = windowDays * 86400000000L
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("p_id"),
        col("ts_us").as("pt"), col("value").as("pv"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("event_id").as("view_id"),
        col("ts_us").as("vt"))
    val pairs = p.join(v, col("pu") === col("vu") &&
      col("vt") <= col("pt") && col("pt") - col("vt") <= lit(horizon))
    val wK = Window.partitionBy("p_id")
    pairs
      .withColumn("k", count(lit(1)).over(wK))
      .withColumn("share",
        (col("pv") / col("k").cast("double")).cast(DecimalType(28, 10)))
      .groupBy("view_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("share")).cast("double").as("attr_raw"))
      .select(col("view_id"), col("n_purchases"),
        r4(col("attr_raw")).as("attributed_value"))
      .orderBy("view_id")
  }

  /** Parameter-matched oracle: interpolates the SAME `windowDays` the
    * Scala operator takes, so non-default calls stay oracle-comparable
    * (the textCmsFreq pattern).
    */
  def eventsAttributionSql(windowDays: Int = 7): String =
    s"""WITH p AS (
       |  SELECT user_id AS pu, event_id AS p_id, epoch_us(ts) AS pt,
       |    value AS pv
       |  FROM events WHERE event_type = 'purchase'),
       |v AS (
       |  SELECT user_id AS vu, event_id AS view_id, epoch_us(ts) AS vt
       |  FROM events WHERE event_type = 'view'),
       |pairs AS (
       |  SELECT p_id, view_id, pv,
       |    COUNT(*) OVER (PARTITION BY p_id) AS k
       |  FROM p JOIN v ON pu = vu AND vt <= pt
       |    AND pt - vt <= ${windowDays * 86400000000L}),
       |shares AS (
       |  SELECT view_id,
       |    CAST(pv / CAST(k AS DOUBLE) AS DECIMAL(28,10)) AS share
       |  FROM pairs)
       |SELECT view_id, COUNT(*) AS n_purchases,
       |  ${r4Sql("CAST(SUM(share) AS DOUBLE)")} AS attributed_value
       |FROM shares GROUP BY view_id ORDER BY view_id""".stripMargin

  // --------------------------------------------------------------- #142
  /** #142 OLS revenue trend per order priority: slope/intercept of
    * daily revenue over the day index from the five classic power
    * sums — Σx and Σx² exact integers, Σy and Σxy exact decimals
    * (day × decimal products), so both engines enter the closed-form
    * with identical inputs and diverge only through the same IEEE
    * division sequence (r4-rounded). Two keyed aggs, no window — the
    * distributed-regression shape that needs no ML library.
    */
  def ordersTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("x"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DecimalType(18, 2)).as("y"))
    val sums = daily.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("long")).as("sx"),
        sum(col("x").cast("long") * col("x")).as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x").cast(DecimalType(18, 0)) * col("y"))
          .cast("double").as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    sums.select(col("o_orderpriority"), col("n").as("n_days"),
        r4(slope).as("slope"),
        r4((col("sy") - slope * col("sx")) / col("n").cast("double"))
          .as("intercept"))
      .orderBy("o_orderpriority")
  }

  val ordersTrendSql: String = {
    val slope = "(n*sxy - sx*sy) / CAST(n*sxx - sx*sx AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT o_orderpriority,
       |    date_diff('day', DATE '1995-01-01', o_orderdate) AS x,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
       |      AS y
       |  FROM orders GROUP BY 1, 2),
       |sums AS (
       |  SELECT o_orderpriority, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy
       |  FROM daily GROUP BY 1)
       |SELECT o_orderpriority, n AS n_days,
       |  ${r4Sql(slope)} AS slope,
       |  ${r4Sql(s"(sy - ($slope) * sx) / CAST(n AS DOUBLE)")} AS intercept
       |FROM sums ORDER BY o_orderpriority""".stripMargin
  }

  // --------------------------------------------------------------- #143
  /** #143 as-of linear interpolation: the expected purchase `value` at
    * each view instant, interpolated between the same user's
    * bracketing purchases. The union trick makes it ONE shuffle on
    * the user key + two window passes (backward last / forward first
    * with IGNORE NULLS) — never a probe×signal range join.
    * Same-instant signal rows sort BEFORE the probe (tag), so the
    * backward bracket may be exact-at-t and the forward bracket is
    * strictly later — the denominator can't be zero. The time-series
    * gap-fill primitive (#61) generalized to continuous values.
    */
  def tsInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.eventsUs(spark, dir)
    // `tie` is event_id on BOTH legs (never NULL): two same-instant
    // purchases by one user would otherwise sort nondeterministically —
    // and engine-divergently, since Spark sorts NULLs first where
    // DuckDB sorts them last (r4 ADVICE)
    val ev = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("ts_us").as("t"),
        lit(0).as("tag"), lit(null).cast("long").as("probe_id"),
        col("value").as("v"), col("event_id").as("tie"))
    val probes = events.where(col("event_type") === "view")
      .select(col("user_id").as("u"), col("ts_us").as("t"),
        lit(1).as("tag"), col("event_id").as("probe_id"),
        lit(null).cast("double").as("v"), col("event_id").as("tie"))
    val wb = Window.partitionBy("u").orderBy("t", "tag", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("u").orderBy("t", "tag", "tie")
      .rowsBetween(1, Window.unboundedFollowing)
    ev.union(probes)
      .withColumn("vp", last(col("v"), ignoreNulls = true).over(wb))
      .withColumn("tp", last(when(col("tag") === 0, col("t")),
        ignoreNulls = true).over(wb))
      .withColumn("vn", first(col("v"), ignoreNulls = true).over(wf))
      .withColumn("tn", first(when(col("tag") === 0, col("t")),
        ignoreNulls = true).over(wf))
      .where(col("tag") === 1 && col("vp").isNotNull && col("vn").isNotNull)
      .select(col("probe_id").as("view_event_id"), col("u").as("user_id"),
        col("tp").as("prev_ts_us"), col("tn").as("next_ts_us"),
        r4(col("vp") + (col("vn") - col("vp")) *
          ((col("t") - col("tp")).cast("double") /
            (col("tn") - col("tp")).cast("double"))).as("v_interp"))
      .orderBy("view_event_id")
  }

  val tsInterpolateSql: String =
    s"""WITH ev AS (
       |  SELECT user_id AS u, epoch_us(ts) AS t, 0 AS tag,
       |    CAST(NULL AS BIGINT) AS probe_id, value AS v,
       |    event_id AS tie
       |  FROM events WHERE event_type = 'purchase'),
       |probes AS (
       |  SELECT user_id AS u, epoch_us(ts) AS t, 1 AS tag,
       |    event_id AS probe_id, CAST(NULL AS DOUBLE) AS v,
       |    event_id AS tie
       |  FROM events WHERE event_type = 'view'),
       |uni AS (SELECT * FROM ev UNION ALL SELECT * FROM probes),
       |br AS (
       |  SELECT *,
       |    LAST_VALUE(v IGNORE NULLS) OVER wb AS vp,
       |    LAST_VALUE(CASE WHEN tag = 0 THEN t END IGNORE NULLS)
       |      OVER wb AS tp,
       |    FIRST_VALUE(v IGNORE NULLS) OVER wf AS vn,
       |    FIRST_VALUE(CASE WHEN tag = 0 THEN t END IGNORE NULLS)
       |      OVER wf AS tn
       |  FROM uni
       |  WINDOW wb AS (PARTITION BY u ORDER BY t, tag, tie
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |  wf AS (PARTITION BY u ORDER BY t, tag, tie
       |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
       |SELECT probe_id AS view_event_id, u AS user_id, tp AS prev_ts_us,
       |  tn AS next_ts_us,
       |  ${r4Sql("vp + (vn - vp) * (CAST(t - tp AS DOUBLE) " +
                  "/ CAST(tn - tp AS DOUBLE))")} AS v_interp
       |FROM br WHERE tag = 1 AND vp IS NOT NULL AND vn IS NOT NULL
       |ORDER BY view_event_id""".stripMargin

  /** An event's value in integer cents: the samplers' weight. */
  private val centsExpr = "cast(floor(value * 100.0 + 0.5) as bigint)"
  private val centsSql = "CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)"
  private val dec = DecimalType(38, 0)

  // --------------------------------------------------------------- #322
  /** #322 mergeable bottom-k group samples + estimate-vs-exact eval:
    * every event type carries a k=32 deterministic uniform sample of
    * its purchase-value cents (rows with the 32 smallest md5 hashes of
    * their event id — the KMV lattice emitting SAMPLE ROWS instead of
    * a cardinality, `functions.SampleSketch`), evaluated against the
    * exact group mean. The sample is a pure set function of the data —
    * any partition layout, merge tree, or replay yields the identical
    * exemplar set (spec-pinned), which is what makes it usable as
    * merge-on-read state in the streamed twin.
    *
    * Exactness: sample membership is proven by the integer
    * sample_sum_cents (the oracle re-derives the same 32 rows by
    * `ROW_NUMBER() OVER (ORDER BY hash, id)`); means and the relative
    * error are r4'd IEEE over exact integers, with the zero-mean
    * denominator gated to null on both engines.
    *
    * Scale: ONE grouped aggregation; partial state is ≤ 24·k bytes per
    * group and combines map-side — only sketches cross the shuffle
    * (the reason a reservoir with random draws is the wrong tool: not
    * mergeable, not replayable, not oracle-checkable).
    */
  def sampleBottomk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr(centsExpr).as("c"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 15), " +
          "16, 10) as long)"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast(dec)).as("sc"),
        expr("bottomk_sample(h, event_id, c, 32)").as("sample"))
      .select(col("event_type"), col("n"),
        size(col("sample")).cast("long").as("sample_n"),
        expr("aggregate(sample, 0L, (a, x) -> a + x)")
          .as("sample_sum_cents"),
        col("sc"))
      .select(col("event_type"), col("n"), col("sample_n"),
        col("sample_sum_cents"),
        r4(col("sc").cast("double") / col("n") / 100.0)
          .as("exact_mean_dollars"),
        r4(col("sample_sum_cents").cast("double") / col("sample_n")
          / 100.0).as("sample_mean_dollars"),
        when(col("sc") =!= 0L,
          r4(abs(col("sample_sum_cents").cast("double") / col("sample_n")
            - col("sc").cast("double") / col("n"))
            / abs(col("sc").cast("double") / col("n")))).as("rel_err"))
      .orderBy("event_type")
  }

  val sampleBottomkSql: String =
    s"""WITH e AS (
       |  SELECT event_type, event_id, $centsSql AS c,
       |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
       |      ::UBIGINT AS h
       |  FROM events),
       |rk AS (
       |  SELECT event_type, c, ROW_NUMBER() OVER (
       |    PARTITION BY event_type ORDER BY h, event_id) AS rn
       |  FROM e WHERE c IS NOT NULL),
       |samp AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sample_n,
       |    CAST(SUM(c) AS BIGINT) AS sample_sum_cents
       |  FROM rk WHERE rn <= 32 GROUP BY 1),
       |ex AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(c::HUGEINT) AS sc
       |  FROM e GROUP BY 1)
       |SELECT ex.event_type, ex.n, samp.sample_n, samp.sample_sum_cents,
       |  ${r4Sql("CAST(ex.sc AS DOUBLE) / ex.n / 100.0")}
       |    AS exact_mean_dollars,
       |  ${r4Sql("CAST(samp.sample_sum_cents AS DOUBLE) " +
                  "/ samp.sample_n / 100.0")} AS sample_mean_dollars,
       |  CASE WHEN ex.sc <> 0 THEN
       |    ${r4Sql("ABS(CAST(samp.sample_sum_cents AS DOUBLE) " +
                    "/ samp.sample_n - CAST(ex.sc AS DOUBLE) / ex.n) " +
                    "/ ABS(CAST(ex.sc AS DOUBLE) / ex.n)")} END AS rel_err
       |FROM ex JOIN samp ON ex.event_type = samp.event_type
       |ORDER BY ex.event_type""".stripMargin

  // --------------------------------------------------------------- #342
  /** #342 sequential Poisson PPS sampling (Ohlsson): per event type,
    * the k=50 rows with smallest ξᵢ = uᵢ/wᵢ form a probability-
    * proportional-to-size sample — the estimator-grade upgrade of the
    * uniform samplers (#44/#316 allocate BETWEEN strata; this weights
    * WITHIN one): big-value events are near-certain draws, so a
    * value-weighted total is estimated from k rows with far less
    * variance than uniform sampling, which is how production metric
    * pipelines sample pennies-to-millions payment streams. uᵢ is the
    * #67 md5 uniform — deterministic, rerunnable, stable under other
    * rows' arrival (a row's ξ never changes, the bottom-k property
    * #322 proved mergeable). The eval emits the PPS estimate of the
    * population COUNT (Σ 1/pᵢ over the sample, pᵢ = k·wᵢ/W — for the
    * count target, PPS is deliberately mis-matched weighting, so the
    * estimate is unbiased but visibly noisier on skewed types; the
    * per-type relative error IS the read) next to the exact count,
    * plus the exact integer sample-value sum as the membership proof
    * (the #322 device).
    *
    * Scale: ranking is a per-type bottom-k (WindowGroupLimit pushes
    * the rank filter map-side, partial top-k per partition before the
    * shuffle); everything emitted is one grouped agg over ≤ k·types
    * rows. Every double is one IEEE expression over exact integers,
    * sumDec-summed.
    */
  def samplePps(spark: SparkSession, dir: String): DataFrame = {
    val k = 50
    val e = Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr(centsExpr).as("c"))
      .where(col("c") > 0L)
    val tot = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("w_total_cents"))
    val xi = (conv(substring(md5(col("event_id").cast("string")), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)) / col("c").cast("double")
    val w = Window.partitionBy("event_type")
      .orderBy(col("xi"), col("event_id"))
    val s = e.withColumn("xi", xi)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
    val term = col("w_total_cents").cast("double") /
      (lit(k.toDouble) * col("c").cast("double"))
    s.join(broadcast(tot), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"), max("w_total_cents").as("w_total_cents"),
        count(lit(1)).as("k_taken"), sum("c").as("sample_w_cents"),
        sumDec(term, 38, 8).as("n_est_raw"))
      .select(col("event_type"), col("n"), col("w_total_cents"),
        col("k_taken"), col("sample_w_cents"),
        r4(col("n_est_raw")).as("n_est"),
        r4(abs(col("n_est_raw") - col("n").cast("double")) /
          col("n").cast("double")).as("err_rel"))
      .orderBy("event_type")
  }

  val samplePpsSql: String =
    s"""WITH e AS (
       |  SELECT event_type, event_id,
       |    $centsSql AS c
       |  FROM events
       |  WHERE $centsSql > 0),
       |tot AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS w_total_cents
       |  FROM e GROUP BY 1),
       |s AS (
       |  SELECT event_type, event_id, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY (('0x' || substr(md5(CAST(event_id AS VARCHAR)),
       |        1, 8))::UBIGINT / 4294967296.0) / CAST(c AS DOUBLE),
       |        event_id) AS rn
       |    FROM e)
       |  WHERE rn <= 50),
       |j AS (
       |  SELECT s.event_type, s.c, t.n, t.w_total_cents
       |  FROM s JOIN tot t ON s.event_type = t.event_type),
       |agg AS (
       |  SELECT event_type, MAX(n) AS n,
       |    MAX(w_total_cents) AS w_total_cents,
       |    CAST(COUNT(*) AS BIGINT) AS k_taken,
       |    CAST(SUM(c) AS BIGINT) AS sample_w_cents,
       |    ${sumDecSql("CAST(w_total_cents AS DOUBLE) / " +
                        "(50.0 * CAST(c AS DOUBLE))", 38, 8)} AS n_est_raw
       |  FROM j GROUP BY 1)
       |SELECT event_type, n, w_total_cents, k_taken, sample_w_cents,
       |  ${r4Sql("n_est_raw")} AS n_est,
       |  ${r4Sql("ABS(n_est_raw - CAST(n AS DOUBLE)) / " +
                  "CAST(n AS DOUBLE)")} AS err_rel
       |FROM agg ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_bottomk" -> (sampleBottomk _),
    "sample_pps" -> (samplePps _),
    "text_cms_freq" ->
      ((s: SparkSession, d: String) => textCmsFreq(s, d)),
    "orders_trend" -> (ordersTrend _),
    "ts_interpolate" -> (tsInterpolate _),
    "events_changepoint" -> (eventsChangepoint _),
    "text_watermark" -> (textWatermark _),
    "events_attribution" ->
      ((s: SparkSession, d: String) => eventsAttribution(s, d)),
    "text_readability" -> (textReadability _),
    "events_diversity" -> (eventsDiversity _),
    "orders_gini" -> (ordersGini _),
    "intervals_merge" ->
      ((s: SparkSession, d: String) => intervalsMerge(s, d)))

  val oracles: Map[String, String] = Map(
    "sample_bottomk" -> sampleBottomkSql,
    "sample_pps" -> samplePpsSql,
    "text_cms_freq" -> textCmsFreqSql,
    "orders_trend" -> ordersTrendSql,
    "ts_interpolate" -> tsInterpolateSql,
    "events_changepoint" -> eventsChangepointSql,
    "text_watermark" -> textWatermarkSql,
    "events_attribution" -> eventsAttributionSql(),
    "text_readability" -> textReadabilitySql,
    "events_diversity" -> eventsDiversitySql,
    "orders_gini" -> ordersGiniSql,
    "intervals_merge" -> intervalsMergeSql())
}
