package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Round-15 widening (SURVEY.md §2 #293-299): the HyperLogLog read
  * beside the KMV one (#293 — the canonical cardinality sketch,
  * register-max mergeable), snapshot time travel over the CDC'd
  * catalog (#294 — the as-of read every versioned table format
  * ships), the Mann-Kendall trend TEST beside #288's Theil-Sen trend
  * ESTIMATE (#295), Spearman rank correlation with exact tie-averaged
  * ranks (#296), the rich-club coefficient curve (#297 — hub-to-hub
  * wiring density), a pixels-true luminance histogram through the
  * real #285 codec (#298), and gapped sequential-pattern support over
  * event streams (#299 — subsequence containment, the SPAM/PrefixSpan
  * read, distinct from #105's contiguous trigram paths).
  *
  * Cross-engine exactness: every aggregation below clears to integer
  * or DECIMAL space (register sums, sign sums, 2×-scaled ranks, bin
  * counts, user counts); the only doubles are final IEEE expressions
  * over those exact integers, each r4'd identically on both sides.
  */
object Crest {

  // --------------------------------------------------------------- #293
  /** #293 HyperLogLog distinct word-trigram SHINGLES per source, read
    * against the exact count — the shingle-space cardinality is the
    * dedup-relevant quantity (how much non-repeated trigram mass a
    * source contributes; the same unit #28's MinHash signatures),
    * and unlike the raw ~31-word vocabulary it is genuinely high-
    * cardinality, so the sketch operates in its design regime: KMV
    * ships k·8 bytes with ~1/√k error, HLL ships a fixed 512-byte
    * register array with ~4.6% standard error at ANY cardinality
    * (the sketch of choice once distinct counts outgrow KMV's k).
    *
    * Exactness: the sketch crosses the aggregation as the exact
    * INTEGER harmonic denominator S = Σ 2^(56−M_j) (DECIMAL(38,0) /
    * HUGEINT — see functions/HllSketch.scala); both engines apply the
    * same literal-double estimate α·m²·2^56/S, so the oracle proves
    * the registers bit-for-bit. The raw estimate is emitted without
    * the small-range linear-counting branch (read-side correction,
    * demonstrated in HllSketchSpec — keeping ln() out of the oracle).
    *
    * Scale: shingles explode map-side; 512-byte partials combine
    * map-side and only registers cross the shuffle — the whole point
    * vs #25's exact countDistinct, which shuffles every distinct
    * value. The exact column here is the eval harness, not the plan.
    */
  def aggHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.spread(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("source"),
        explode(Signatures.wordShingles(col("toks"), 3)).as("shingle"))
    val estRaw =
      expr(s"${graft.functions.HllSketch.estNumSql} / cast(s as double)")
    sh.groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct("shingle").as("exact_distinct"),
        expr("hll_agg(shingle)").as("s"))
      .select(col("source"), col("n_shingles"), col("exact_distinct"),
        r4(estRaw).as("hll_est"),
        r4(abs(estRaw - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double")).as("rel_err"))
      .orderBy("source")
  }

  val aggHllDistinctSql: String = {
    val estNum = graft.functions.HllSketch.estNumSql
    s"""WITH d AS (
       |  SELECT source, string_split(text, ' ') AS toks FROM documents),
       |t AS (
       |  SELECT source,
       |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tok
       |  FROM d, unnest(range(1, len(toks) - 1)) AS u(i)),
       |hv AS (
       |  SELECT source,
       |    ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
       |  FROM t),
       |reg AS (
       |  SELECT source, h >> 55 AS idx,
       |    MAX(CASE WHEN (h & 36028797018963967) = 0 THEN 56
       |        ELSE 56 - length(bin((h & 36028797018963967)::BIGINT))
       |        END) AS m
       |  FROM hv GROUP BY 1, 2),
       |s AS (
       |  SELECT source,
       |    SUM(1::HUGEINT << (56 - m))
       |      + (512 - COUNT(*)) * (1::HUGEINT << 56) AS s
       |  FROM reg GROUP BY 1),
       |ex AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
       |  FROM t GROUP BY 1)
       |SELECT ex.source, ex.n_shingles, ex.exact_distinct,
       |  ${r4Sql(s"$estNum / CAST(s.s AS DOUBLE)")} AS hll_est,
       |  ${r4Sql(s"ABS($estNum / CAST(s.s AS DOUBLE) " +
                  "- CAST(ex.exact_distinct AS DOUBLE)) " +
                  "/ CAST(ex.exact_distinct AS DOUBLE)")} AS rel_err
       |FROM ex JOIN s ON ex.source = s.source
       |ORDER BY ex.source""".stripMargin
  }

  // --------------------------------------------------------------- #294
  /** #294 snapshot time travel over the CDC'd orders base: the #238
    * merge-on-read view generalized to "AS OF <date>" — the versioned
    * change log (update v1 at +10 days, update v2 at +40 days on a
    * subset, tombstone at +25 days) is applied only up to the cutoff,
    * latest-effective-change-per-key wins, and changes beyond the
    * cutoff are reported as pending. Keys divisible by 77/231 carry
    * genuinely interleaved histories (update→delete→update), so the
    * latest-wins pick is exercised, not just decorative. This is the
    * read every versioned table format (Delta/Iceberg/Hudi time
    * travel) serves; together with #284's compactor it completes the
    * catalog's write/read maintenance story.
    *
    * Exactness: all counts integer; prices are IEEE adds of literal
    * constants summed through `sumDec`. Scale: the log is derived
    * fact-sized; ONE key-partitioned window picks latest-per-key, one
    * key equi-join applies it — no global sort, no driver state.
    */
  def cdcTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_date(lit("1996-06-30"))
    val base = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"),
        col("o_orderdate").cast("date").as("odate"))
    def leg(modK: Int, days: Int, ver: Int, bump: Option[Double]) =
      base.where(col("key") % modK === 0)
        .select(col("key"), col("status"),
          date_add(col("odate"), days).as("eff"), lit(ver.toLong).as("ver"),
          bump.map(b => (col("price") + lit(b)).as("newp"))
            .getOrElse(lit(null).cast("double").as("newp")),
          lit(bump.isEmpty).as("del"))
    val log = leg(7, 10, 1, Some(50.0))
      .unionByName(leg(21, 40, 2, Some(120.0)))
      .unionByName(leg(11, 25, 3, None))
    val wk = Window.partitionBy("key").orderBy(desc("eff"), desc("ver"))
    val latest = log.where(col("eff") <= cutoff)
      .withColumn("rn", row_number().over(wk))
      .where(col("rn") === 1)
      .select(col("key"), col("ver"), col("newp"), col("del"))
    val view = base.join(latest, Seq("key"), "left")
      .select(col("status"),
        coalesce(col("newp"), col("price")).as("price"),
        col("ver"), coalesce(col("del"), lit(false)).as("del"))
    val live = view.where(!col("del"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_live"),
        sumDec(col("price"), 38, 2).as("total_price"),
        sum(when(col("ver") === 1L, 1L).otherwise(0L)).as("n_upd_v1"),
        sum(when(col("ver") === 2L, 1L).otherwise(0L)).as("n_upd_v2"))
    val dels = view.where(col("del"))
      .groupBy("status").agg(count(lit(1)).as("n_deleted_asof"))
    val pend = log.where(col("eff") > cutoff)
      .groupBy("status").agg(count(lit(1)).as("n_pending"))
    live.join(dels, Seq("status"), "left")
      .join(pend, Seq("status"), "left")
      .select(col("status").as("o_orderstatus"), col("n_live"),
        col("total_price"), col("n_upd_v1"), col("n_upd_v2"),
        coalesce(col("n_deleted_asof"), lit(0L)).as("n_deleted_asof"),
        coalesce(col("n_pending"), lit(0L)).as("n_pending"))
      .orderBy("o_orderstatus")
  }

  val cdcTimeTravelSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey AS key, o_orderstatus AS status,
       |    o_totalprice AS price, CAST(o_orderdate AS DATE) AS odate
       |  FROM orders),
       |lg AS (
       |  SELECT key, status, odate + 10 AS eff, 1 AS ver,
       |    price + 50.0 AS newp, FALSE AS del
       |  FROM base WHERE key % 7 = 0
       |  UNION ALL
       |  SELECT key, status, odate + 40, 2, price + 120.0, FALSE
       |  FROM base WHERE key % 21 = 0
       |  UNION ALL
       |  SELECT key, status, odate + 25, 3, NULL, TRUE
       |  FROM base WHERE key % 11 = 0),
       |latest AS (
       |  SELECT key, ver, newp, del FROM (
       |    SELECT key, ver, newp, del, ROW_NUMBER() OVER (
       |      PARTITION BY key ORDER BY eff DESC, ver DESC) AS rn
       |    FROM lg WHERE eff <= DATE '1996-06-30')
       |  WHERE rn = 1),
       |v AS (
       |  SELECT b.status, COALESCE(l.newp, b.price) AS price, l.ver,
       |    COALESCE(l.del, FALSE) AS del
       |  FROM base b LEFT JOIN latest l USING (key)),
       |live AS (
       |  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_live,
       |    ${sumDecSql("price", 38, 2)} AS total_price,
       |    CAST(COUNT(*) FILTER (WHERE ver = 1) AS BIGINT) AS n_upd_v1,
       |    CAST(COUNT(*) FILTER (WHERE ver = 2) AS BIGINT) AS n_upd_v2
       |  FROM v WHERE NOT del GROUP BY status),
       |dels AS (
       |  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_deleted_asof
       |  FROM v WHERE del GROUP BY status),
       |pend AS (
       |  SELECT status, CAST(COUNT(*) AS BIGINT) AS n_pending
       |  FROM lg WHERE eff > DATE '1996-06-30' GROUP BY status)
       |SELECT live.status AS o_orderstatus, n_live, total_price,
       |  n_upd_v1, n_upd_v2,
       |  COALESCE(dels.n_deleted_asof, 0) AS n_deleted_asof,
       |  COALESCE(pend.n_pending, 0) AS n_pending
       |FROM live LEFT JOIN dels ON live.status = dels.status
       |  LEFT JOIN pend ON live.status = pend.status
       |ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- #295
  /** #295 Mann-Kendall trend test per event type over the daily
    * series: the nonparametric significance TEST that pairs with
    * #288's Theil-Sen slope ESTIMATE (the two are the standard
    * monotonic-trend kit — Sen gives the magnitude, MK says whether
    * the monotonicity beats chance). S = Σ_{i<j} sign(y_j − y_i);
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 with the exact
    * tie correction; z uses the standard continuity correction
    * (S∓1)/√Var; τ_a = 2S / n(n−1).
    *
    * Exactness: S, the variance NUMERATOR, and the tie term are pure
    * integers; z and τ are single IEEE expressions over them, r4'd.
    * The significance CLASS never touches z's float: |z| > 1.96 ⟺
    * (S−sgn)²·180000 > 38416·var_num — an integer-space compare
    * (38416 = 1.96²·10⁴), so the label can't float apart from the
    * statistic (the #265 device).
    *
    * Scale: the span-sized daily table persists into a bounded slot
    * (3 subplan refs — the #288 rationale verbatim); the pair
    * explosion is span²-bounded per type, never data-sized.
    */
  def tsMannKendall(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val daily = Tables.persistSlot("crest.mannKendall.daily",
      Tables.eventsUs(spark, dir)
        .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("d"))
        .agg(count(lit(1)).as("y")))
    val sgn = when(col("b.y") > col("a.y"), 1L)
      .when(col("b.y") < col("a.y"), -1L).otherwise(0L)
    val s = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(sgn).as("s_stat"), count(lit(1)).as("n_pairs"))
    val ties = daily.groupBy("event_type", "y")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("tie_term"))
    val n = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    val joined = n
      .join(s, Seq("event_type"), "left")
      .join(ties, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        (col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) -
          col("tie_term")).as("var_num"))
    val sg = when(col("s_stat") > 0L, 1L)
      .when(col("s_stat") < 0L, -1L).otherwise(0L)
    val sc = col("s_stat") - sg // continuity-corrected S
    joined.select(col("event_type"), col("n_days"), col("n_pairs"),
      col("s_stat"), col("var_num"),
      when(col("n_days") >= 2,
        r4(col("s_stat").cast("double") * 2.0 /
          (col("n_days") * (col("n_days") - 1)).cast("double")))
        .as("tau"),
      when(col("var_num") > 0L,
        r4(sc.cast("double") /
          sqrt(col("var_num").cast("double") / 18.0)))
        .otherwise(0.0).as("z"),
      when(col("s_stat") > 0L &&
          sc * sc * 180000L > lit(38416L) * col("var_num"), "increasing")
        .when(col("s_stat") < 0L &&
          sc * sc * 180000L > lit(38416L) * col("var_num"), "decreasing")
        .otherwise("no_trend").as("trend"))
      .orderBy("event_type")
  }

  val tsMannKendallSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
       |    CAST(COUNT(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |s AS (
       |  SELECT a.event_type,
       |    CAST(SUM(CASE WHEN b.y > a.y THEN 1
       |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND a.d < b.d
       |  GROUP BY 1),
       |ties AS (
       |  SELECT event_type,
       |    CAST(SUM(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tie_term
       |  FROM (SELECT event_type, y, COUNT(*) AS t
       |        FROM daily GROUP BY 1, 2)
       |  GROUP BY 1),
       |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       |      FROM daily GROUP BY 1),
       |j AS (
       |  SELECT n.event_type, n.n_days,
       |    COALESCE(s.n_pairs, 0) AS n_pairs,
       |    COALESCE(s.s_stat, 0) AS s_stat,
       |    n.n_days * (n.n_days - 1) * (n.n_days * 2 + 5)
       |      - ties.tie_term AS var_num,
       |    COALESCE(s.s_stat, 0)
       |      - CASE WHEN COALESCE(s.s_stat, 0) > 0 THEN 1
       |             WHEN COALESCE(s.s_stat, 0) < 0 THEN -1
       |             ELSE 0 END AS sc
       |  FROM n LEFT JOIN s ON n.event_type = s.event_type
       |    LEFT JOIN ties ON n.event_type = ties.event_type)
       |SELECT event_type, n_days, n_pairs, s_stat, var_num,
       |  CASE WHEN n_days >= 2 THEN
       |    ${r4Sql("CAST(s_stat AS DOUBLE) * 2.0 / " +
                    "CAST(n_days * (n_days - 1) AS DOUBLE)")}
       |  END AS tau,
       |  CASE WHEN var_num > 0 THEN
       |    ${r4Sql("CAST(sc AS DOUBLE) / " +
                    "SQRT(CAST(var_num AS DOUBLE) / 18.0)")}
       |  ELSE 0.0 END AS z,
       |  CASE WHEN s_stat > 0 AND sc * sc * 180000 > 38416 * var_num
       |    THEN 'increasing'
       |  WHEN s_stat < 0 AND sc * sc * 180000 > 38416 * var_num
       |    THEN 'decreasing'
       |  ELSE 'no_trend' END AS trend
       |FROM j ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- #296
  /** #296 Spearman rank correlation between quantity and extended
    * price per return flag — the monotonic-association read beside
    * #215's Pearson (quality_signal_corr): rank first, then Pearson
    * on the ranks, so outliers and nonlinearity can't dominate.
    *
    * Exactness: ties take AVERAGE ranks; to keep them integral the
    * ranks live in 2× space — 2·avg_rank = 2·rank_min + ties − 1, an
    * exact integer on both engines (Pearson is scale-invariant, so ρ
    * is unchanged). All five moments accumulate in DECIMAL(38,0)/
    * HUGEINT (the #222 device — n·Σxy products reach ~5·10²³ at sf0.1
    * and int64 wraps at the 100× probe); ρ is ONE IEEE expression
    * num/(√dx·√dy) over exact integers (√dx·√dy instead of √(dx·dy):
    * the PRODUCT would overflow DECIMAL(38), the factors don't), r4'd.
    *
    * Scale: a row's tie-averaged rank is a pure function of its VALUE
    * — 2·avg_rank = 2·cnt_less + cnt_eq + 1 = 2·cum≤ − cnt_eq + 1 —
    * so the plan NEVER rank-windows the fact table (partitionBy on a
    * 3-value flag would sort a third of the data in one task): it
    * builds per-(flag, value) count maps (grouped shuffle, parallel)
    * and cumsums them with a window over the DISTINCT-VALUE table
    * (the domain-sized-window discipline; quantity has ~50 values,
    * price is bounded by parts×quantities, both ≪ rows). Since r13
    * the moments never join back onto the fact table either: the
    * x-moments are t-weighted sums over the x count map, and the
    * cross moment Σrx·ry factors through per-(flag, y) partials of
    * Σrx after a broadcast attach of the tiny x map — the fact table
    * is scanned twice and shuffled only as value-level map-side
    * partial aggregates. No pair explosion — Spearman needs only
    * moments of the rank pairs.
    */
  def aggSpearman(spark: SparkSession, dir: String): DataFrame = {
    // NOT spread: an A/B with a round-robin rebalance of the projected
    // scan measured 4.4-5.0 s vs 4.0 s without (the per-row work here
    // is one broadcast probe + narrow partial aggs — the extra
    // exchange costs more than the single-task scan it parallelizes)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // r13 restructure (r12 verdict task #3 + guide §2.3/§2.4). Two
    // changes vs the join-back shape, same exact integers throughout:
    //
    // 1. NO row-level join back onto lineitem. Every moment is a
    //    function of per-VALUE counts: the x-side moments (n, Σrx,
    //    Σrx²) come straight off the (flag, x) count map weighted by
    //    t; the cross moment Σ rx·ry groups rows by (flag, y) AFTER a
    //    broadcast attach of the tiny x-rank map, so Σrx per (flag,y)
    //    carries everything the product needs (Σ_rows rx·ry =
    //    Σ_y ry·(Σ_{rows@y} rx)). The old plan shuffled the fact
    //    table by (flag, y) for a sort-merge join AND aggregated the
    //    joined rows; this one shuffles only the value-level partial
    //    aggregates (map-side combine) — the big-side exchange and
    //    one full scan disappear.
    // 2. Aggregate in LONG when provably exact, DECIMAL(38,0)
    //    otherwise (r12 verdict task #3). Per flag-group of g rows,
    //    ranks are < 2g+1, so every sum below is bounded by
    //    n·(2n+1)² < 4.3·n³; for n ≤ 10⁶ rows (from footer metadata,
    //    no scan) that is < 4.3·10¹⁸ < 2⁶³−1, so long-backed codegen
    //    arithmetic is exact. Past the gate (the 10×/100× replicas,
    //    production volumes) the sums keep the r12 DECIMAL(38,0)
    //    lanes — same values, wider type. The FINAL n·sxx − sx²
    //    expression stays DECIMAL in both paths (it reaches ~5·10²³
    //    at sf0.1 — the #222 note above).
    val exactLong =
      Tables.parquetRowCount(spark, dir, "lineitem") <= 1000000L
    def w(c: Column): Column = if (exactLong) c else c.cast(dec)
    // 2x-integral tie-averaged rank per distinct value: 2*cum<= - t + 1
    val xm = li.groupBy(col("l_returnflag"), col("x"))
      .agg(count(lit(1)).as("t"))
      .withColumn("cum", sum("t").over(
        Window.partitionBy("l_returnflag").orderBy("x")))
      .select(col("l_returnflag"), col("x"), col("t"),
        (col("cum") * 2L - col("t") + 1L).as("rx"))
    val xs = xm.groupBy("l_returnflag").agg(
      sum(w(col("t"))).as("n"),
      sum(w(col("t")) * w(col("rx"))).as("sx"),
      sum(w(col("t")) * w(col("rx")) * w(col("rx"))).as("sxx"))
    // y-side: attach rx map-side (value-level, size-gated broadcast),
    // reduce to (flag, y) partials, rank y over the distinct-value
    // table, then one flag-level rollup of the weighted moments
    val ym = li
      .join(Tables.maybeBroadcast(
        xm.select(col("l_returnflag"), col("x"), col("rx"))),
        Seq("l_returnflag", "x"))
      .groupBy(col("l_returnflag"), col("y"))
      .agg(count(lit(1)).as("t"), sum(w(col("rx"))).as("srx"))
      .withColumn("cum", sum("t").over(
        Window.partitionBy("l_returnflag").orderBy("y")))
      .withColumn("ry", col("cum") * 2L - col("t") + 1L)
    val ys = ym.groupBy("l_returnflag").agg(
      sum(w(col("t")) * w(col("ry"))).as("sy"),
      sum(w(col("t")) * w(col("ry")) * w(col("ry"))).as("syy"),
      sum(w(col("ry")) * col("srx")).as("sxy"))
    val agg = xs.join(ys, "l_returnflag")
      .select(col("l_returnflag"), col("n").cast(dec).as("n"),
        col("sx").cast(dec).as("sx"), col("sy").cast(dec).as("sy"),
        col("sxx").cast(dec).as("sxx"), col("syy").cast(dec).as("syy"),
        col("sxy").cast(dec).as("sxy"))
    // degenerate-group guard: a constant column makes its rank
    // variance 0 — Spark would emit NaN (0/0) where DuckDB's double
    // division by zero yields NULL, so BOTH sides gate to null
    // explicitly (unreachable in this data; the #295 guard class)
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    agg.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
      when(dx > 0 && dy > 0,
        r4((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))))
        .as("spearman_rho"))
      .orderBy("l_returnflag")
  }

  val aggSpearmanSql: String =
    s"""WITH ranked AS (
       |  SELECT l_returnflag,
       |    RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
       |      * 2 + COUNT(*) OVER (
       |        PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
       |    RANK() OVER (PARTITION BY l_returnflag
       |        ORDER BY l_extendedprice)
       |      * 2 + COUNT(*) OVER (
       |        PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
       |  FROM lineitem),
       |m AS (
       |  SELECT l_returnflag, COUNT(*)::HUGEINT AS n,
       |    SUM(rx::HUGEINT) AS sx, SUM(ry::HUGEINT) AS sy,
       |    SUM(rx::HUGEINT * rx) AS sxx, SUM(ry::HUGEINT * ry) AS syy,
       |    SUM(rx::HUGEINT * ry) AS sxy
       |  FROM ranked GROUP BY 1)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
       |  ${r4Sql("CAST(n * sxy - sx * sy AS DOUBLE) / " +
                  "(SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
                  "SQRT(CAST(n * syy - sy * sy AS DOUBLE)))")}
       |  END AS spearman_rho
       |FROM m ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- #297
  /** #297 rich-club coefficient curve of the co-purchase graph: for
    * each degree threshold k, the edge density among nodes of degree
    * > k — φ(k) = 2·E_k / (N_k·(N_k−1)). Rising φ(k) means hubs wire
    * to each other (the "rich club" of network science); the
    * assortativity (#208) summarizes the same tendency in one number,
    * this is the full curve.
    *
    * Exactness: all integer counts; φ is one r4'd division.
    *
    * Scale: NO per-k pass over the data — the degree table reduces to
    * a degree HISTOGRAM and each edge to its min-endpoint-degree
    * bucket; N_k and E_k are suffix sums over those domain-sized
    * histograms joined to the 12-row threshold axis. The graph itself
    * is structure-sized by the support-≥2 floor (Graph.scala:44).
    */
  def graphRichClub(spark: SparkSession, dir: String): DataFrame = {
    // the edge list is referenced 3× below (twice via the degree
    // union, once by the min-degree bucket join) and already routes
    // through the clusterSaturated dial inside Graph.undirected; an
    // UNCONDITIONAL persist was A/B'd and rejected (sf0.1 6.64 s vs
    // 5.80 recomputed; 100× 65.8 s vs 63.3 with spill 49 vs 71 GB —
    // the idle-recompute profile wins on wall, the dial covers the
    // saturated case; PLANS.md round-16)
    val und = Graph.undirected(spark, dir)
    val deg = und.select(col("pa").as("node"))
      .union(und.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val degHist = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
    val edgeMin = und
      .join(deg.select(col("node").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("db")), "pb")
      .select(least(col("da"), col("db")).as("mindeg"))
      .groupBy("mindeg").agg(count(lit(1)).as("n_edges"))
    val ks = spark.range(1, 13).select(col("id").as("k"))
    val nk = ks.join(broadcast(degHist), col("deg") > col("k"), "left")
      .groupBy("k").agg(coalesce(sum("n_nodes"), lit(0L)).as("n_nodes"))
    val ek = ks.join(broadcast(edgeMin), col("mindeg") > col("k"), "left")
      .groupBy("k").agg(coalesce(sum("n_edges"), lit(0L)).as("n_edges"))
    nk.join(ek, "k")
      .select(col("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") >= 2,
          r4(col("n_edges").cast("double") * 2.0 /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double")))
          .as("phi"))
      .orderBy("k")
  }

  val graphRichClubSql: String =
    s"""WITH ${Graph.edgeSql},
       |deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT pa AS node FROM und
       |    UNION ALL SELECT pb AS node FROM und)
       |  GROUP BY 1),
       |dh AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |       FROM deg GROUP BY 1),
       |em AS (
       |  SELECT LEAST(da.deg, db.deg) AS mindeg,
       |    CAST(COUNT(*) AS BIGINT) AS n_edges
       |  FROM und JOIN deg da ON und.pa = da.node
       |    JOIN deg db ON und.pb = db.node
       |  GROUP BY 1),
       |ks AS (SELECT unnest(range(1, 13)) AS k),
       |nk AS (
       |  SELECT k, CAST(COALESCE(SUM(dh.n_nodes), 0) AS BIGINT) AS n_nodes
       |  FROM ks LEFT JOIN dh ON dh.deg > ks.k GROUP BY 1),
       |ek AS (
       |  SELECT k, CAST(COALESCE(SUM(em.n_edges), 0) AS BIGINT) AS n_edges
       |  FROM ks LEFT JOIN em ON em.mindeg > ks.k GROUP BY 1)
       |SELECT nk.k, nk.n_nodes, ek.n_edges,
       |  CASE WHEN nk.n_nodes >= 2 THEN
       |    ${r4Sql("CAST(ek.n_edges AS DOUBLE) * 2.0 / " +
                    "CAST(nk.n_nodes * (nk.n_nodes - 1) AS DOUBLE)")}
       |  END AS phi
       |FROM nk JOIN ek ON nk.k = ek.k
       |ORDER BY nk.k""".stripMargin

  // --------------------------------------------------------------- #298
  /** #298 pixels-true luminance histogram: the third REAL-codec leg
    * (after #285 resize and #290 phash) — each doc's planted BMP
    * decodes through JDK ImageIO and the 8-bin luminance histogram
    * (bin = v >> 5), pixel count, and dominant bin (lowest bin on
    * ties) come off the TRUE raster. The oracle recomputes the
    * closed-form pixel function, so a green hash proves the decode —
    * and the histogram is the standard per-image exposure/contrast
    * profile a curation pipeline gates on (all-dark / all-flat image
    * screens).
    *
    * Scale: map-side narrow; per-doc work capped by the 128×128
    * dimension bound; only (doc_id, 8 counts, argmax) leaves the
    * partition — payload bytes never shuffle.
    */
  def mmImageHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    ids.mapPartitions(_.map { id =>
      val img = Multimodal.decodeBmp(Multimodal.plantedBmp(id))
      val w = img.getWidth
      val h = img.getHeight
      val px = img.getRaster.getSamples(0, 0, w, h, 0,
        new Array[Int](w * h))
      val bins = new Array[Long](8)
      var i = 0
      while (i < px.length) {
        bins(px(i) >> 5) += 1L
        i += 1
      }
      var dom = 0
      var b = 1
      while (b < 8) {
        if (bins(b) > bins(dom)) dom = b
        b += 1
      }
      (id, w.toLong * h, bins(0), bins(1), bins(2), bins(3), bins(4),
        bins(5), bins(6), bins(7), dom.toLong)
    }).toDF("doc_id", "n_px", "b0", "b1", "b2", "b3", "b4", "b5", "b6",
      "b7", "dominant_bin")
      .orderBy("doc_id")
  }

  /** Oracle evaluates the closed-form pixel function v = (3x+5y+id)
    * mod 256 over the planted dimensions — never decodes a byte
    * (the #285/#290 proof shape).
    */
  val mmImageHistSql: String =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    16 * (1 + (doc_id * 7 + 3) % 8) AS w,
       |    16 * (1 + (doc_id * 5 + 1) % 8) AS h
       |  FROM documents),
       |pxb AS (
       |  SELECT doc_id, w, h,
       |    ((3 * (i % w) + 5 * (i // w) + doc_id) % 256) // 32 AS bin
       |  FROM (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i
       |        FROM dims)),
       |hist AS (
       |  SELECT doc_id, CAST(MAX(w * h) AS BIGINT) AS n_px,
       |    CAST(COUNT(*) FILTER (WHERE bin = 0) AS BIGINT) AS b0,
       |    CAST(COUNT(*) FILTER (WHERE bin = 1) AS BIGINT) AS b1,
       |    CAST(COUNT(*) FILTER (WHERE bin = 2) AS BIGINT) AS b2,
       |    CAST(COUNT(*) FILTER (WHERE bin = 3) AS BIGINT) AS b3,
       |    CAST(COUNT(*) FILTER (WHERE bin = 4) AS BIGINT) AS b4,
       |    CAST(COUNT(*) FILTER (WHERE bin = 5) AS BIGINT) AS b5,
       |    CAST(COUNT(*) FILTER (WHERE bin = 6) AS BIGINT) AS b6,
       |    CAST(COUNT(*) FILTER (WHERE bin = 7) AS BIGINT) AS b7
       |  FROM pxb GROUP BY doc_id),
       |dom AS (
       |  SELECT doc_id, CAST(bin AS BIGINT) AS dominant_bin FROM (
       |    SELECT doc_id, bin, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id
       |      ORDER BY COUNT(*) DESC, bin) AS rn
       |    FROM pxb GROUP BY doc_id, bin)
       |  WHERE rn = 1)
       |SELECT h.doc_id, h.n_px, h.b0, h.b1, h.b2, h.b3, h.b4, h.b5,
       |  h.b6, h.b7, d.dominant_bin
       |FROM hist h JOIN dom d ON h.doc_id = d.doc_id
       |ORDER BY h.doc_id""".stripMargin

  // --------------------------------------------------------------- #299
  /** #299 gapped sequential-pattern support: for every ordered triple
    * of event types (t1, t2, t3), the number of users whose stream
    * contains it as a SUBSEQUENCE — occurrences at strictly
    * increasing timestamps, gaps allowed — vs #105's contiguous
    * trigram paths. This is the SPAM/PrefixSpan support read behind
    * behavioral cohorting ("saw X, later clicked Y, eventually
    * bought Z, with anything in between").
    *
    * The containment test is witness-free: (t1,t2,t3) occurs in a
    * user's stream ⟺ some t2 event falls strictly between the
    * EARLIEST t1 and the LATEST t3 (if any witness exists, the
    * min-t1/max-t3 witness exists — WLOG). So the plan needs only
    * per-(user, type) min/max timestamps joined back to the raw
    * events — never an occurrence³ explosion.
    *
    * Scale: everything is keyed on user_id — one shuffle lands the
    * type-stats self-join (≤ |types|² = 36 rows per user) and the
    * middle-event probe (≤ 36·events_per_user, a bounded constant
    * factor); support counting de-dups per user then aggregates a
    * ≤|types|³-row table. Exactness: pure integer counts.
    */
  def eventsSeqSupport(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val st = e.groupBy("user_id", "event_type")
      .agg(min("ts_us").as("tmin"), max("ts_us").as("tmax"))
    val pairs = st.as("s1")
      .join(st.as("s3"),
        col("s1.user_id") === col("s3.user_id") &&
          col("s1.tmin") < col("s3.tmax"))
      .select(col("s1.user_id").as("user_id"),
        col("s1.event_type").as("t1"), col("s1.tmin").as("tmin"),
        col("s3.event_type").as("t3"), col("s3.tmax").as("tmax"))
    val trip = pairs.join(e.as("m"),
        col("m.user_id") === pairs("user_id") &&
          col("m.ts_us") > col("tmin") && col("m.ts_us") < col("tmax"))
      .select(pairs("user_id"), col("t1"),
        col("m.event_type").as("t2"), col("t3"))
      .distinct()
    trip.groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), col("t1"), col("t2"), col("t3"))
      .limit(25)
  }

  val eventsSeqSupportSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |st AS (
      |  SELECT user_id, event_type, MIN(ts_us) AS tmin,
      |    MAX(ts_us) AS tmax
      |  FROM e GROUP BY 1, 2),
      |trip AS (
      |  SELECT DISTINCT s1.user_id, s1.event_type AS t1,
      |    m.event_type AS t2, s3.event_type AS t3
      |  FROM st s1
      |  JOIN st s3 ON s1.user_id = s3.user_id AND s1.tmin < s3.tmax
      |  JOIN e m ON m.user_id = s1.user_id
      |    AND m.ts_us > s1.tmin AND m.ts_us < s3.tmax)
      |SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM trip GROUP BY 1, 2, 3
      |ORDER BY n_users DESC, t1, t2, t3 LIMIT 25""".stripMargin

  // --------------------------------------------------------------- #313
  /** #313 vacuum plan over the #294 versioned change log: which
    * eff-month log segments are safe to physically delete, given the
    * compaction watermark (#284 folded changes through 1996-06-30)
    * and a 90-day time-travel retention window. A segment is `folded`
    * when every change in it is at or before the watermark (the
    * compactor has applied it to the base), and `vacuumable` when it
    * is folded AND past the retention horizon — deleting it can no
    * longer break any AS-OF read the window promises. This is the
    * third leg of the catalog maintenance triad (merge/compact →
    * time-travel → vacuum), the Spark answer to Delta VACUUM's
    * retention check.
    *
    * Exactness: pure integer/date logic; months and day bounds emit
    * as strings (the repo's date-emission contract). Scale: the log
    * is fact-derived; ONE grouped shuffle to month segments.
    */
  def cdcVacuumPlan(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_date(lit("1996-06-30"))
    val horizon = date_sub(cutoff, 90)
    val base = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_orderdate").cast("date").as("odate"))
    def leg(modK: Int, days: Int, del: Boolean) =
      base.where(col("key") % modK === 0)
        .select(date_add(col("odate"), days).as("eff"),
          lit(del).as("del"))
    val log = leg(7, 10, del = false)
      .unionByName(leg(21, 40, del = false))
      .unionByName(leg(11, 25, del = true))
    log.groupBy(date_format(col("eff"), "yyyy-MM").as("seg_month"))
      .agg(count(lit(1)).as("n_changes"),
        sum(when(!col("del"), 1L).otherwise(0L)).as("n_updates"),
        sum(when(col("del"), 1L).otherwise(0L)).as("n_tombstones"),
        min(date_format(col("eff"), "yyyy-MM-dd")).as("min_eff"),
        max(date_format(col("eff"), "yyyy-MM-dd")).as("max_eff"),
        (max(col("eff")) <= cutoff).as("folded"),
        (max(col("eff")) <= horizon).as("vacuumable"))
      .orderBy("seg_month")
  }

  val cdcVacuumPlanSql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS key, CAST(o_orderdate AS DATE) AS odate
      |  FROM orders),
      |lg AS (
      |  SELECT odate + 10 AS eff, FALSE AS del FROM base WHERE key % 7 = 0
      |  UNION ALL
      |  SELECT odate + 40, FALSE FROM base WHERE key % 21 = 0
      |  UNION ALL
      |  SELECT odate + 25, TRUE FROM base WHERE key % 11 = 0)
      |SELECT strftime(eff, '%Y-%m') AS seg_month,
      |  CAST(COUNT(*) AS BIGINT) AS n_changes,
      |  CAST(COUNT(*) FILTER (WHERE NOT del) AS BIGINT) AS n_updates,
      |  CAST(COUNT(*) FILTER (WHERE del) AS BIGINT) AS n_tombstones,
      |  MIN(strftime(eff, '%Y-%m-%d')) AS min_eff,
      |  MAX(strftime(eff, '%Y-%m-%d')) AS max_eff,
      |  MAX(eff) <= DATE '1996-06-30' AS folded,
      |  MAX(eff) <= DATE '1996-06-30' - 90 AS vacuumable
      |FROM lg GROUP BY 1 ORDER BY seg_month""".stripMargin

  /** Test-only access to the shared co-purchase edge list so the
    * rich-club spec can recompute N_k/E_k from the raw edges.
    */
  private[graft] def undirectedEdges(spark: SparkSession,
      dir: String): DataFrame = Graph.undirected(spark, dir)

  // ----------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_hll_distinct" -> (aggHllDistinct _),
    "cdc_time_travel" -> (cdcTimeTravel _),
    "ts_mann_kendall" -> (tsMannKendall _),
    "agg_spearman" -> (aggSpearman _),
    "graph_rich_club" -> (graphRichClub _),
    "mm_image_hist" -> (mmImageHist _),
    "events_seq_support" -> (eventsSeqSupport _),
    "cdc_vacuum_plan" -> (cdcVacuumPlan _))

  val oracles: Map[String, String] = Map(
    "agg_hll_distinct" -> aggHllDistinctSql,
    "cdc_time_travel" -> cdcTimeTravelSql,
    "ts_mann_kendall" -> tsMannKendallSql,
    "agg_spearman" -> aggSpearmanSql,
    "graph_rich_club" -> graphRichClubSql,
    "mm_image_hist" -> mmImageHistSql,
    "events_seq_support" -> eventsSeqSupportSql,
    "cdc_vacuum_plan" -> cdcVacuumPlanSql)
}
