package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql}

/** Round-10 widening (SURVEY.md §2 #199+): evaluation closures for
  * families that could run but not yet GRADE themselves, plus the
  * retrieval-prep and backtest shapes a production curation pipeline
  * still lacked.
  *
  *  - `graph_closeness`: landmark closeness centrality — per-landmark
  *    BFS hops (the #180 frontier device keyed by (landmark, node))
  *    folded to the classic k/Σd approximation. #180 labels "how far
  *    from the seed set"; this ranks "how central overall".
  *  - `text_kneser_ney`: interpolated Kneser-Ney bigram probabilities
  *    with the canonical D = 0.75 discount — the LM-estimation
  *    upgrade of #117 (raw MLE) that #160's perplexity scoring would
  *    use in production. The discount clears to ONE rational:
  *    P = ((4·c12−3)·B + 3·N1+(w1·)·N1-(·w2)) / (4·c1·B), every
  *    factor an exact int64 count, ONE r4'd IEEE division.
  *  - `text_langid_eval`: confusion matrix of #36's language
  *    identifier against the gold `lang` column — the eval row the
  *    langid heuristic never had (per (gold, predicted) cell counts +
  *    per-gold-row share).
  *  - `quality_classifier_eval`: precision/recall/F1 of #166's hashed
  *    linear classifier against #81's cascade survival as gold — each
  *    metric ONE r4'd division of exact confusion counts (F1 via
  *    2tp/(2tp+fp+fn), not a composition of divisions).
  *  - `events_forecast_snaive`: seasonal-naive backtest (forecast =
  *    value one week earlier) over the #178 gap-filled hourly series,
  *    scored on each type's final week — MAE + signed bias, the
  *    baseline every fancier forecaster must beat.
  *  - `corpus_chunks`: RAG/retrieval chunker — overlapping 64-token
  *    windows at stride 48 per document (16-token overlap), with
  *    exact integer chunk arithmetic and a content hash per chunk
  *    (#66 packs the corpus end-to-end for TRAINING; this preserves
  *    doc-local windows for RETRIEVAL).
  *  - `embed_quantile_clip`: per-dimension p05/p95 clip profile — the
  *    int8-quantization prep readout over #181's exact order-stat
  *    bounds: how many coordinates each dimension would clip and the
  *    resulting int8 scale.
  *  - `join_interval_overlap`: interval×interval overlap join via
  *    DAY-BUCKET blocking — user sessions (#20) against the data-
  *    derived top-20 peak-traffic hours, emitting per-session overlap
  *    microseconds. The equi-key-free interval join made shuffleable:
  *    sessions explode into the days they touch (≈1 row each),
  *    windows carry their day, and the join is a plain hash equi-join
  *    on day with the range predicate as residual — never a
  *    nested-loop pair explosion (#111's BNLJ is justified only by
  *    its O(1) literal dim; this one scales with BOTH sides).
  *
  * Cross-engine exactness: every aggregate here is an exact int64
  * count/sum; each emitted ratio (closeness, p_kn, share, precision/
  * recall/F1, MAE, clip_frac, int8 scale) is ONE r4'd IEEE division
  * (or subtraction) of exact values — no float accumulation anywhere.
  * Order statistics (#205's bounds) are selected by exact integer
  * rank with vec_id tie-breaks, the #181 device.
  *
  * Scale design (100 TB):
  *  - graph_closeness: 3 unrolled rounds over the support-floored
  *    edge list keyed by (landmark, node) — 5× #180's reach rows,
  *    still structure-sized; ReuseExchange collapses the repeated
  *    edge subplan (the measured #180 A/B transfers: no lineage cut).
  *  - text_kneser_ney: bigram-vocabulary-sized table (never
  *    token-sized after the first keyed agg); c1/N1+ ride ONE w1
  *    window Exchange, N1- one w2 Exchange, B is a 1-row broadcast.
  *  - corpus_chunks: pure map-side explode — zero shuffles, output
  *    ≈ 1.33× token volume (stride/size), partition-width parallel.
  *  - events_forecast_snaive: span-sized dense axis, one per-type
  *    window Exchange, 168-row lag — identical envelope to #178.
  *  - embed_quantile_clip: one Exchange keyed by dimension for the
  *    rank pass; the bounds join is a dim-bounded (64-row) broadcast.
  *  - join_interval_overlap: the peak dim is a top-k (20-row)
  *    broadcast; the global hour ranking sorts a SPAN-sized table
  *    (hours, not events); sessions shuffle once for sessionization
  *    and the overlap join adds no further event-sized shuffle.
  */
object Meridian {

  // --------------------------------------------------------------- #199
  /** #199 landmark closeness centrality: BFS hop counts from the 5
    * smallest-id landmarks, kept per (landmark, node) — unlike #180's
    * multi-source MIN — then closeness ≈ |reached landmarks| / Σhops.
    * Nodes reached by more landmarks in fewer hops rank higher; a
    * landmark reached only by itself (Σ = 0) emits NULL rather than a
    * divide-by-zero.
    */
  def graphCloseness(spark: SparkSession, dir: String): DataFrame = {
    val und = Graph.undirected(spark, dir)
    val edges = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val nodes = edges.select(col("src").as("node")).distinct()
    val landmarks = nodes.orderBy("node").limit(5)
      .select(col("node").as("lm"))
    var reach = landmarks
      .withColumn("node", col("lm")).withColumn("hop", lit(0L))
    for (_ <- 1 to 3) {
      val expand = reach.join(edges, col("node") === col("src"))
        .select(col("lm"), col("dst").as("node"), (col("hop") + 1L).as("hop"))
      reach = reach.select("lm", "node", "hop").union(expand)
        .groupBy("lm", "node").agg(min("hop").as("hop"))
    }
    reach.groupBy("node")
      .agg(count(lit(1)).as("n_landmarks"), sum("hop").as("sum_hops"))
      .select(col("node"), col("n_landmarks"), col("sum_hops"),
        when(col("sum_hops") > 0L,
          r4(col("n_landmarks").cast("double") / col("sum_hops")))
          .as("closeness"))
      .orderBy("node")
  }

  val graphClosenessSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT lm, node, MIN(hop) AS hop FROM (
         |    SELECT lm, node, hop FROM $prev
         |    UNION ALL
         |    SELECT p.lm, e.dst AS node, p.hop + 1 AS hop
         |    FROM $prev p JOIN e ON e.src = p.node)
         |  GROUP BY lm, node)""".stripMargin
    s"""WITH ${Graph.edgeSql},
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |lmk AS (SELECT node FROM nodes ORDER BY node LIMIT 5),
       |r0 AS (SELECT node AS lm, node, 0 AS hop FROM lmk),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_landmarks,
       |  CAST(SUM(hop) AS BIGINT) AS sum_hops,
       |  CASE WHEN SUM(hop) > 0 THEN
       |    ${r4Sql("COUNT(*) / CAST(SUM(hop) AS DOUBLE)")} END AS closeness
       |FROM r3 GROUP BY node ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- #200
  /** #200 interpolated Kneser-Ney bigram LM (D = 0.75), the estimator
    * behind real n-gram LM toolkits: discounted bigram mass plus the
    * famous continuation-probability backoff ("how many contexts does
    * w2 COMPLETE" rather than "how often does w2 occur").
    *
    * P(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1·)/c1) · (N1-(·w2)/B)
    * with D = 3/4 clears to ONE rational over exact int64 counts:
    * ((4·c12 − 3)·B + 3·N1+·N1-) / (4·c1·B)   [c12 ≥ 1 ⇒ no max]
    * — ONE r4'd division. (Factors stay < 2^63 up to ~10^9 distinct
    * bigram types; past that the numerator moves to DECIMAL(38,0)
    * with the same shape.) Context floor c1 ≥ 100 as in #117.
    */
  def textKneserNey(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.spread(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(explode(Signatures.wordPairs(col("toks"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val wc = Window.partitionBy("w1")
    val wr = Window.partitionBy("w2")
    val tot = big.agg(count(lit(1)).as("bt"))
    big
      .withColumn("c1", sum("c12").over(wc))
      .withColumn("n1p", count(lit(1)).over(wc))
      .withColumn("n1m", count(lit(1)).over(wr))
      .crossJoin(broadcast(tot))
      .where(col("c1") >= 100L)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1p"), col("n1m"),
        r4(((lit(4L) * col("c12") - lit(3L)) * col("bt") +
            lit(3L) * col("n1p") * col("n1m")).cast("double") /
           (lit(4L) * col("c1") * col("bt")).cast("double")).as("p_kn"))
      .orderBy("w1", "w2")
  }

  val textKneserNeySql: String =
    s"""WITH b AS (
       |  SELECT unnest(sp[1:len(sp) - 1]) AS w1,
       |    unnest(sp[2:len(sp)]) AS w2
       |  FROM (SELECT string_split(text, ' ') AS sp FROM documents)
       |  WHERE len(sp) >= 2),
       |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |      FROM b GROUP BY 1, 2),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM c),
       |w AS (
       |  SELECT w1, w2, c12,
       |    CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
       |    CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n1p,
       |    CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n1m
       |  FROM c)
       |SELECT w1, w2, c12, c1, n1p, n1m,
       |  ${r4Sql("((4 * c12 - 3) * bt + 3 * n1p * n1m) / " +
                  "CAST(4 * c1 * bt AS DOUBLE)")} AS p_kn
       |FROM w CROSS JOIN t
       |WHERE c1 >= 100 ORDER BY w1, w2""".stripMargin

  // --------------------------------------------------------------- #201
  /** #201 language-ID evaluation: the confusion matrix of #36's
    * stopword-profile predictor against the gold `lang` column — cell
    * counts plus each cell's share of its gold row (ONE r4'd
    * division). The eval readout that turns "we have a langid
    * heuristic" into "here is where it misclassifies".
    */
  def textLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val cells = TextAnalysis.textLangId(spark, dir)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val wg = Window.partitionBy("lang")
    cells.withColumn("gold_total", sum("n").over(wg))
      .select(col("lang"), col("pred_lang"), col("n"), col("gold_total"),
        r4(col("n").cast("double") / col("gold_total")).as("share"))
      .orderBy("lang", "pred_lang")
  }

  val textLangidEvalSql: String =
    s"""WITH pred AS (${TextAnalysis.textLangIdSql}),
       |cells AS (
       |  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2)
       |SELECT lang, pred_lang, n,
       |  CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS gold_total,
       |  ${r4Sql("n / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)")}
       |    AS share
       |FROM cells ORDER BY lang, pred_lang""".stripMargin

  // --------------------------------------------------------------- #202
  /** #202 classifier evaluation: #166's hashed linear scorer judged
    * against #81's cascade survival as the gold label — the
    * confusion counts and the three standard metrics, each ONE r4'd
    * division of exact integers (F1 computed directly as
    * 2tp/(2tp+fp+fn), never precision∘recall). Single-row output;
    * empty-metric cells emit NULL, not 0/0.
    */
  def qualityClassifierEval(spark: SparkSession, dir: String): DataFrame = {
    val pred = Curation.textQualityClassifier(spark, dir)
      .select(col("doc_id"), (col("sum_w") >= 0L).as("pred_keep"))
    val gold = Quality.cascadeFate(spark, dir)
      .select(col("doc_id"), (col("ff") === 4L).as("gold_keep"))
    pred.join(gold, "doc_id")
      .agg(
        sum(when(col("pred_keep") && col("gold_keep"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred_keep") && !col("gold_keep"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("pred_keep") && col("gold_keep"), 1L).otherwise(0L))
          .as("fn"),
        sum(when(!col("pred_keep") && !col("gold_keep"), 1L).otherwise(0L))
          .as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0L,
          r4(col("tp").cast("double") / (col("tp") + col("fp"))))
          .as("precision_score"),
        when(col("tp") + col("fn") > 0L,
          r4(col("tp").cast("double") / (col("tp") + col("fn"))))
          .as("recall_score"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
          r4((lit(2L) * col("tp")).cast("double") /
             (lit(2L) * col("tp") + col("fp") + col("fn"))))
          .as("f1_score"))
  }

  val qualityClassifierEvalSql: String =
    s"""WITH p0 AS (${Curation.textQualityClassifierSql}),
       |${Quality.cascadeFateCtes},
       |j AS (
       |  SELECT (p0.sum_w >= 0) AS pred_keep, (f.ff = 4) AS gold_keep
       |  FROM p0 JOIN f ON p0.doc_id = f.doc_id),
       |cm AS (
       |  SELECT
       |    CAST(COUNT(*) FILTER (WHERE pred_keep AND gold_keep) AS BIGINT)
       |      AS tp,
       |    CAST(COUNT(*) FILTER (WHERE pred_keep AND NOT gold_keep)
       |      AS BIGINT) AS fp,
       |    CAST(COUNT(*) FILTER (WHERE NOT pred_keep AND gold_keep)
       |      AS BIGINT) AS fn,
       |    CAST(COUNT(*) FILTER (WHERE NOT pred_keep AND NOT gold_keep)
       |      AS BIGINT) AS tn
       |  FROM j)
       |SELECT tp, fp, fn, tn,
       |  CASE WHEN tp + fp > 0 THEN
       |    ${r4Sql("tp / CAST(tp + fp AS DOUBLE)")} END AS precision_score,
       |  CASE WHEN tp + fn > 0 THEN
       |    ${r4Sql("tp / CAST(tp + fn AS DOUBLE)")} END AS recall_score,
       |  CASE WHEN 2 * tp + fp + fn > 0 THEN
       |    ${r4Sql("2 * tp / CAST(2 * tp + fp + fn AS DOUBLE)")} END
       |    AS f1_score
       |FROM cm""".stripMargin

  // --------------------------------------------------------------- #203
  /** #203 seasonal-naive forecast backtest: over each event type's
    * gap-filled hourly series (#178's construction), forecast every
    * hour of the FINAL week as the count one week (168 h) earlier and
    * score it — n_eval, totals, signed bias (exact ints) and MAE (ONE
    * r4'd division). Types whose span can't cover train+eval drop
    * out. The sanity baseline any real forecaster must beat.
    */
  def eventsForecastSnaive(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(3600000000L)).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
    val span = hourly.groupBy("event_type")
      .agg(min("hr").as("lo"), max("hr").as("hi"))
    val axis = span.select(col("event_type"), col("hi"),
      explode(expr("sequence(lo, hi)")).as("hr"))
    val dense = axis.join(hourly, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), col("hi"),
        coalesce(col("c"), lit(0L)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    dense
      .withColumn("f", lag(col("x"), 168).over(w))
      .where(col("hr") > col("hi") - 168L && col("f").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum("x").as("actual_total"),
        sum("f").as("forecast_total"),
        sum(abs(col("x") - col("f"))).as("abs_err"),
        sum(col("x") - col("f")).as("bias"))
      .select(col("event_type"), col("n_eval"), col("actual_total"),
        col("forecast_total"), col("bias"),
        r4(col("abs_err").cast("double") / col("n_eval")).as("mae"))
      .orderBy("event_type")
  }

  val eventsForecastSnaiveSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |axis AS (
       |  SELECT event_type, hi, unnest(range(lo, hi + 1)) AS hr
       |  FROM (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi
       |        FROM hourly GROUP BY event_type)),
       |dense AS (
       |  SELECT a.event_type, a.hr, a.hi, COALESCE(h.c, 0) AS x
       |  FROM axis a LEFT JOIN hourly h
       |    ON a.event_type = h.event_type AND a.hr = h.hr),
       |l AS (
       |  SELECT *, LAG(x, 168) OVER (PARTITION BY event_type ORDER BY hr)
       |    AS f
       |  FROM dense)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
       |  CAST(SUM(x) AS BIGINT) AS actual_total,
       |  CAST(SUM(f) AS BIGINT) AS forecast_total,
       |  CAST(SUM(x - f) AS BIGINT) AS bias,
       |  ${r4Sql("SUM(ABS(x - f)) / CAST(COUNT(*) AS DOUBLE)")} AS mae
       |FROM l WHERE hr > hi - 168 AND f IS NOT NULL
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- #365
  /** #365 Holt-Winters triple exponential smoothing — the forecasting
    * step between `ts_ewma` (level only, no trend/season) and the
    * #203 seasonal-naive baseline any real forecaster must beat:
    * additive level+trend+season (m=24: the daily cycle of an hourly
    * series) trained on everything before the final week, then
    * backtested over that week against the SAME snaive forecast, so
    * each row carries both MAEs side by side.
    *
    * Dyadic smoothing constants (α=1/4, β=1/16, γ=1/8) keep every
    * recursion step a fixed sequence of exactly-rounded IEEE ops —
    * deterministic across engines because BOTH replay the identical
    * op order: Spark as one sequential `aggregate` fold per series,
    * DuckDB as a recursive CTE advancing t by 1 (the
    * pack_sequences_binned device) carrying (l, b, s[24]) as state.
    * Init: l₀ = mean of season 1, b₀ = (mean₂ − mean₁)/24, s₀ = the
    * first season's deviations (integer-valued doubles sum exactly,
    * so the init means are order-free). Per-row forecasts are r4'd
    * and the MAE numerator is summed as DECIMAL(18,4), so no
    * cross-engine float-summation-order hazard exists anywhere.
    *
    * Scale: the series is collected PER KEY as one array — bounded by
    * the time span (hours), not data volume, the standard shape for
    * sequential smoothers (a year is 8,760 doubles); everything else
    * is the #203 dense-axis construction plus one keyed rollup.
    * Types whose training span can't cover snaive's 168-hour lag
    * drop out, exactly like #203.
    */
  def tsHoltWinters(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(3600000000L)).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
    val span = hourly.groupBy("event_type")
      .agg(min("hr").as("lo"), max("hr").as("hi"))
    val axis = span.select(col("event_type"), col("hi"),
      explode(expr("sequence(lo, hi)")).as("hr"))
    val dense = axis.join(hourly, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), col("hi"),
        coalesce(col("c"), lit(0L)).as("x"))
    holtWintersOn(dense)
  }

  /** [[tsHoltWinters]] over an arbitrary dense series frame
    * (event_type, hr, hi, x) — split out so the spec can run the
    * identical machinery on a planted trend+season series and assert
    * the MAE beats snaive's.
    */
  private[graft] def holtWintersOn(dense: DataFrame): DataFrame = {
    val H = 168
    // one fold per series: state (l, b, s[24]); L is the new level,
    // recomputed inline where b/s need it (same IEEE value each time)
    val L = "0.25D * (e.y - element_at(acc.s, " +
      "cast((e.t - 1) % 24 as int) + 1)) + 0.75D * (acc.l + acc.b)"
    // DETRENDED init (the standard HW device, and load-bearing: raw
    // first-season deviations leak the trend into the seasonals and
    // bias b for hundreds of steps — the planted-series spec pins the
    // exact-fit fixed point this init restores): a₁/a₂ = season means,
    // b₀ = (a₂−a₁)/24, l₀ = a₁ + 11.5·b₀ (level at t=24), s₀ᵢ =
    // yᵢ − (a₁ + (i−12.5)·b₀).
    val A1 = "aggregate(slice(ys, 1, 24), 0D, (a, v) -> a + v) / 24.0D"
    val B0 = s"(aggregate(slice(ys, 25, 24), 0D, (a, v) -> a + v) " +
      s"/ 24.0D - $A1) / 24.0D"
    val hwExpr =
      s"""aggregate(
         |  zip_with(slice(ys, 25, size(ys) - 24), sequence(25, size(ys)),
         |    (y, t) -> named_struct('y', y, 't', t)),
         |  named_struct(
         |    'l', $A1 + 11.5D * ($B0),
         |    'b', $B0,
         |    's', transform(slice(ys, 1, 24), (v, i) -> v -
         |      ($A1 + (cast(i as double) + 1.0D - 12.5D) * ($B0)))),
         |  (acc, e) -> named_struct(
         |    'l', $L,
         |    'b', 0.0625D * (($L) - acc.l) + 0.9375D * acc.b,
         |    's', transform(acc.s, (sv, si) ->
         |      IF(si = cast((e.t - 1) % 24 as int),
         |        0.125D * (e.y - ($L)) + 0.875D * sv, sv))))""".stripMargin
    val st = dense.where(col("hr") <= col("hi") - H)
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hr"), col("x"))))
        .as("sx"))
      .select(col("event_type"),
        expr("transform(sx, p -> cast(p.x as double))").as("ys"))
      .where(size(col("ys")) >= H)
      .withColumn("hw", expr(hwExpr))
      .select(col("event_type"), size(col("ys")).cast("long").as("tn"),
        col("hw.l").as("lvl"), col("hw.b").as("trd"),
        col("hw.s").as("season"))
    val ev = dense.where(col("hr") > col("hi") - H)
      .withColumn("h", row_number().over(
        Window.partitionBy("event_type").orderBy("hr")).cast("long"))
    val sn = dense.select(col("event_type"), (col("hr") + H).as("hr"),
      col("x").as("f_sn"))
    ev.join(st, "event_type")
      .join(sn, Seq("event_type", "hr"))
      .withColumn("f_hw", r4(col("lvl") + col("h") * col("trd") +
        expr("element_at(season, cast((tn + h - 1) % 24 as int) + 1)")))
      .withColumn("ae_hw",
        abs(col("x") - col("f_hw")).cast("decimal(18,4)"))
      .withColumn("ae_sn", abs(col("x") - col("f_sn")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        max("lvl").as("mlvl"), max("trd").as("mtrd"),
        sum("ae_hw").as("sae_hw"), sum("ae_sn").as("sae_sn"))
      .select(col("event_type"), col("n_eval"),
        r4(col("mlvl")).as("level"), r4(col("mtrd")).as("trend"),
        r4(col("sae_hw").cast("double") / col("n_eval")).as("mae_hw"),
        r4(col("sae_sn").cast("double") / col("n_eval")).as("mae_snaive"))
      .orderBy("event_type")
  }

  val tsHoltWintersSql: String = {
    val L = "0.25 * (tr.y - r.s[CAST((tr.t - 1) % 24 AS INT) + 1]) " +
      "+ 0.75 * (r.l + r.b)"
    s"""WITH RECURSIVE hourly AS (
       |  SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |axis AS (
       |  SELECT event_type, hi, unnest(range(lo, hi + 1)) AS hr
       |  FROM (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi
       |        FROM hourly GROUP BY event_type)),
       |dense AS MATERIALIZED (
       |  SELECT a.event_type, a.hr, a.hi, COALESCE(h.c, 0) AS x
       |  FROM axis a LEFT JOIN hourly h
       |    ON a.event_type = h.event_type AND a.hr = h.hr),
       |tr AS MATERIALIZED (
       |  SELECT event_type, CAST(x AS DOUBLE) AS y,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
       |      AS BIGINT) AS t
       |  FROM dense WHERE hr <= hi - 168),
       |agg0 AS (
       |  SELECT event_type,
       |    SUM(y) FILTER (WHERE t <= 24) AS s1,
       |    SUM(y) FILTER (WHERE t BETWEEN 25 AND 48) AS s2,
       |    list(y ORDER BY t) FILTER (WHERE t <= 24) AS y24
       |  FROM tr GROUP BY event_type HAVING MAX(t) >= 168),
       |ini AS (
       |  SELECT event_type,
       |    s1 / 24.0 + 11.5 * ((s2 / 24.0 - s1 / 24.0) / 24.0) AS l0,
       |    (s2 / 24.0 - s1 / 24.0) / 24.0 AS b0,
       |    list_transform(y24, (v, i) -> v - (s1 / 24.0 +
       |      (CAST(i AS DOUBLE) - 12.5) *
       |      ((s2 / 24.0 - s1 / 24.0) / 24.0))) AS s0
       |  FROM agg0),
       |rec AS (
       |  SELECT event_type, CAST(24 AS BIGINT) AS t, l0 AS l, b0 AS b,
       |    s0 AS s
       |  FROM ini
       |  UNION ALL
       |  SELECT r.event_type, tr.t,
       |    $L,
       |    0.0625 * (($L) - r.l) + 0.9375 * r.b,
       |    list_transform(r.s, (sv, si) ->
       |      CASE WHEN si = CAST((tr.t - 1) % 24 AS BIGINT) + 1
       |        THEN 0.125 * (tr.y - ($L)) + 0.875 * sv ELSE sv END)
       |  FROM rec r JOIN tr
       |    ON tr.event_type = r.event_type AND tr.t = r.t + 1),
       |fin AS (
       |  SELECT event_type, t AS tn, l AS lvl, b AS trd, s FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY t DESC) AS z FROM rec)
       |  WHERE z = 1),
       |ev AS (
       |  SELECT event_type, hr, x,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
       |      AS BIGINT) AS h
       |  FROM dense WHERE hr > hi - 168),
       |sn AS (SELECT event_type, hr + 168 AS hr, x AS f_sn FROM dense),
       |fc AS (
       |  SELECT e.event_type, e.x, s.f_sn, f.lvl, f.trd,
       |    ${r4Sql("f.lvl + e.h * f.trd + " +
                    "f.s[CAST((f.tn + e.h - 1) % 24 AS INT) + 1]")}
       |      AS f_hw
       |  FROM ev e JOIN fin f USING (event_type)
       |    JOIN sn s ON s.event_type = e.event_type AND s.hr = e.hr)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
       |  ${r4Sql("MAX(lvl)")} AS level,
       |  ${r4Sql("MAX(trd)")} AS trend,
       |  ${r4Sql("CAST(SUM(CAST(ABS(x - f_hw) AS DECIMAL(18,4))) " +
                  "AS DOUBLE) / COUNT(*)")} AS mae_hw,
       |  ${r4Sql("CAST(SUM(ABS(x - f_sn)) AS DOUBLE) / COUNT(*)")}
       |    AS mae_snaive
       |FROM fc GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- #369
  /** #369 Kaplan-Meier survival over view→purchase conversion — the
    * time-to-event read the funnel family (#48 counts, #363 names the
    * converting view, #365 forecasts) still lacked: of the users who
    * viewed, what fraction remains unconverted after t days, with
    * RIGHT-CENSORING done properly (a user who hasn't purchased YET is
    * censored at the observation horizon, not counted as a never —
    * the bias naive conversion curves have). Cohort: each user's
    * first view; event: first purchase strictly after it; censor time:
    * the stream's max timestamp. Product-limit estimator at day
    * granularity: one row per EVENT day with at-risk n, events d,
    * same-day censorings c, and S(t) = Π_{i≤t}(1 − dᵢ/nᵢ).
    *
    * Exactness: d/n are integer ratios; the running product is a
    * SEQUENTIAL fold over event days in ascending order — Spark as
    * one aggregate over the (span-bounded) collected day table,
    * DuckDB as the rk+1 recursive CTE — so both engines replay the
    * identical IEEE multiply chain; one r4 at the end.
    *
    * Scale: two per-user aggs (shuffle on user_id), a day rollup
    * bounded by the TIME SPAN (the ts_gap_fill argument — the
    * single-partition cumsum window and the collected fold table are
    * days-sized, never user-sized), broadcast 1-row horizon.
    */
  def eventsSurvival(spark: SparkSession, dir: String): DataFrame =
    eventsSurvivalOn(Tables.eventsUs(spark, dir))

  /** [[eventsSurvival]] over an arbitrary (user_id, event_type, ts_us)
    * frame — split out so the spec can plant view-only users and prove
    * the censoring leg on a cohort where everyone organically
    * converts.
    */
  private[graft] def eventsSurvivalOn(ev: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val firstView = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("v_us"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_us").as("p_us"))
    val horizon = ev.agg(max("ts_us").as("end_us"))
    val users = firstView
      .join(purch,
        col("user_id") === col("pu") && col("p_us") > col("v_us"),
        "left")
      .groupBy(col("user_id"), col("v_us"))
      .agg(min("p_us").as("p_first"))
      .join(broadcast(horizon))
      .select(col("user_id"),
        when(col("p_first").isNotNull,
          expr(s"(p_first - v_us) div $dayUs"))
          .otherwise(expr(s"(end_us - v_us) div $dayUs")).as("t"),
        col("p_first").isNotNull.as("event"))
    val total = users.agg(count(lit(1)).as("n_cohort"))
    val byDay = users.groupBy("t").agg(
      sum(when(col("event"), 1L).otherwise(0L)).as("d"),
      sum(when(col("event"), 0L).otherwise(1L)).as("c"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = byDay.join(broadcast(total))
      .withColumn("n", col("n_cohort") -
        coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
    val fold =
      """aggregate(es,
        |  named_struct('p', cast(1.0 as double), 'out',
        |    cast(array() as array<struct<t:bigint,n:bigint,d:bigint,
        |      c:bigint,s:double>>)),
        |  (acc, e) -> named_struct(
        |    'p', acc.p * (cast(1.0 as double)
        |      - cast(e.d as double) / cast(e.n as double)),
        |    'out', concat(acc.out, array(named_struct(
        |      't', e.t, 'n', e.n, 'd', e.d, 'c', e.c,
        |      's', acc.p * (cast(1.0 as double)
        |        - cast(e.d as double) / cast(e.n as double)))))),
        |  acc -> acc.out)""".stripMargin
    risk.where(col("d") > 0)
      .select(struct(col("t"), col("n"), col("d"), col("c")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(explode(expr(fold)).as("r"))
      .select(col("r.t").as("day"), col("r.n").as("n_risk"),
        col("r.d").as("n_events"), col("r.c").as("n_censored"),
        r4(col("r.s")).as("survival"))
      .orderBy("day")
  }

  val eventsSurvivalSql: String =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |fv AS (SELECT user_id, MIN(ts_us) AS v_us FROM ev
       |  WHERE event_type = 'view' GROUP BY 1),
       |fp AS (
       |  SELECT f.user_id, MIN(p.ts_us) AS p_first
       |  FROM fv f JOIN ev p ON p.user_id = f.user_id
       |    AND p.event_type = 'purchase' AND p.ts_us > f.v_us
       |  GROUP BY 1),
       |hz AS (SELECT MAX(ts_us) AS end_us FROM ev),
       |users AS (
       |  SELECT f.user_id,
       |    CASE WHEN p.p_first IS NOT NULL
       |      THEN (p.p_first - f.v_us) // 86400000000
       |      ELSE (h.end_us - f.v_us) // 86400000000 END AS t,
       |    p.p_first IS NOT NULL AS event
       |  FROM fv f LEFT JOIN fp p USING (user_id) CROSS JOIN hz h),
       |byday AS (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(SUM(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
       |  FROM users GROUP BY t),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cohort FROM users),
       |risk AS (
       |  SELECT t, d, c,
       |    n_cohort - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n
       |  FROM byday CROSS JOIN tot),
       |ed AS MATERIALIZED (
       |  SELECT t, n, d, c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rk
       |  FROM risk WHERE d > 0),
       |km AS (
       |  SELECT CAST(0 AS BIGINT) AS rk, CAST(1.0 AS DOUBLE) AS p,
       |    CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS n,
       |    CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS c
       |  UNION ALL
       |  SELECT e.rk,
       |    k.p * (CAST(1.0 AS DOUBLE)
       |      - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE)),
       |    e.t, e.n, e.d, e.c
       |  FROM km k JOIN ed e ON e.rk = k.rk + 1)
       |SELECT t AS day, n AS n_risk, d AS n_events, c AS n_censored,
       |  ${r4Sql("p")} AS survival
       |FROM km WHERE rk >= 1 ORDER BY day""".stripMargin

  // --------------------------------------------------------------- #204
  /** #204 retrieval chunker: overlapping 64-token windows at stride
    * 48 (16-token overlap so no boundary sentence is ever lost to
    * retrieval), one row per chunk with its token span and content
    * hash. Chunk count per doc is exact integer arithmetic:
    * k = ⌊max(n−17, 0)/48⌋ + 1 — the smallest k with
    * 48·(k−1) + 64 ≥ n (last chunk may run short).
    */
  def corpusChunks(spark: SparkSession, dir: String): DataFrame = {
    Tables.spread(spark, dir, "documents")
      .where(col("text").isNotNull) // extraction failures chunk to nothing
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0, greatest(n - 17, 0) div 48)"))
          .as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * 48L + 1L)
      .withColumn("chunk",
        expr("slice(toks, cast(start_tok as int), 64)"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val corpusChunksSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (
      |  SELECT doc_id, toks, n,
      |    unnest(range(0, greatest(n - 17, 0) // 48 + 1)) AS chunk_idx
      |  FROM d)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(chunk_idx * 48 + 1 AS BIGINT) AS start_tok,
      |  CAST(len(toks[(chunk_idx * 48 + 1):least(chunk_idx * 48 + 64, n)])
      |    AS BIGINT) AS n_chunk_toks,
      |  md5(array_to_string(
      |    toks[(chunk_idx * 48 + 1):least(chunk_idx * 48 + 64, n)], ' '))
      |    AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------- #205
  /** #205 int8 quantile-clip profile: per dimension, the EXACT p05/p95
    * order-stat bounds (#181's integer-rank selection, un-rounded for
    * the comparisons), how many coordinates sit outside them, and the
    * (p95−p05)/255 int8 scale — the table that decides whether
    * quantile clipping (vs #84's global max-abs) is worth it per
    * dimension. Counts compare doubles against an exactly-selected
    * data value, so they cannot flake across engines.
    */
  def embedQuantileClip(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("x"))
    val byDim = Window.partitionBy("dim")
    val ranked = ex
      .withColumn("r",
        row_number().over(byDim.orderBy(col("x"), col("vec_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byDim))
    val bounds = ranked.groupBy("dim")
      .agg(max(when(col("r") === expr("(n + 19) div 20"), col("x"))).as("lo"),
        max(when(col("r") === expr("(19 * n + 19) div 20"), col("x")))
          .as("hi"))
    // dim-bounded (|dims| rows) — a true O(1) broadcast, like #111's dim
    ex.join(broadcast(bounds), "dim")
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        max("lo").as("lo_x"), max("hi").as("hi_x"))
      .select(col("dim"), col("n"),
        r4(col("lo_x")).as("p05"), r4(col("hi_x")).as("p95"),
        col("n_lo"), col("n_hi"),
        r4((col("n_lo") + col("n_hi")).cast("double") / col("n"))
          .as("clip_frac"),
        r4((col("hi_x") - col("lo_x")) / lit(255.0)).as("int8_scale"))
      .orderBy("dim")
  }

  val embedQuantileClipSql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, CAST(j AS BIGINT) AS dim, embedding[j]::DOUBLE AS x
       |  FROM (SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS j FROM embeddings)),
       |ranked AS (
       |  SELECT dim, x,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY dim ORDER BY x, vec_id)
       |      AS BIGINT) AS r,
       |    CAST(COUNT(*) OVER (PARTITION BY dim) AS BIGINT) AS n
       |  FROM ex),
       |bounds AS (
       |  SELECT dim,
       |    MAX(CASE WHEN r = (n + 19) // 20 THEN x END) AS lo,
       |    MAX(CASE WHEN r = (19 * n + 19) // 20 THEN x END) AS hi
       |  FROM ranked GROUP BY dim)
       |SELECT e.dim, CAST(COUNT(*) AS BIGINT) AS n,
       |  ${r4Sql("MAX(lo)")} AS p05, ${r4Sql("MAX(hi)")} AS p95,
       |  CAST(COUNT(*) FILTER (WHERE x < lo) AS BIGINT) AS n_lo,
       |  CAST(COUNT(*) FILTER (WHERE x > hi) AS BIGINT) AS n_hi,
       |  ${r4Sql("(COUNT(*) FILTER (WHERE x < lo) + " +
                  "COUNT(*) FILTER (WHERE x > hi)) / CAST(COUNT(*) AS DOUBLE)")}
       |    AS clip_frac,
       |  ${r4Sql("(MAX(hi) - MAX(lo)) / 255.0")} AS int8_scale
       |FROM ex e JOIN bounds b ON e.dim = b.dim
       |GROUP BY e.dim ORDER BY e.dim""".stripMargin

  // --------------------------------------------------------------- #206
  /** #206 interval-overlap join with day-bucket blocking: each user
    * session (#20) against the top-20 busiest hours of the whole
    * event log ("did this session ride a traffic spike, and for how
    * long"). The STRICT predicate (start < w_end AND end > w_start —
    * boundary touches excluded; an instantaneous session strictly
    * inside a window joins with 0 µs) makes the day blocking provably
    * lossless: the resulting non-empty intersection contains a point
    * in [w_start, w_end), which lies inside the
    * window's hour, hence inside its calendar day, hence that day is
    * among the days the session spans — so exploding sessions by
    * their covered days (≈1 row each; sessions are ≤ hours long) and
    * equi-joining on day finds every overlapping pair exactly once.
    */
  def joinIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy((col("ts_us") / lit(3600000000L)).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"))
    // global top-20: the ranked table is SPAN-sized (hours), never
    // event-sized; at true scale TakeOrdered replaces the window sort
    val peak = hourly
      .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("hr"))))
      .where(col("rk") <= 20)
      .select(col("hr"),
        (col("hr") * 3600000000L).as("w_start"),
        ((col("hr") + 1L) * 3600000000L).as("w_end"),
        expr("hr div 24").as("day"))
    val sess = Temporal.sessionize(spark, dir)
      .select(col("user_id"), col("session_id"), col("start_us"),
        col("end_us"),
        explode(expr(
          "sequence(start_us div 86400000000, end_us div 86400000000)"))
          .as("day"))
    sess.join(broadcast(peak), Seq("day"))
      .where(col("start_us") < col("w_end") && col("end_us") > col("w_start"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_peak_windows"),
        sum(least(col("end_us"), col("w_end")) -
            greatest(col("start_us"), col("w_start"))).as("overlap_us"))
      .orderBy("user_id", "session_id")
  }

  val joinIntervalOverlapSql: String =
    s"""WITH s0 AS (${Temporal.sessionizeSql}),
       |hourly AS (
       |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |peak AS (
       |  SELECT hr, hr * 3600000000 AS w_start,
       |    (hr + 1) * 3600000000 AS w_end, hr // 24 AS day
       |  FROM (SELECT hr, n,
       |      ROW_NUMBER() OVER (ORDER BY n DESC, hr) AS rk FROM hourly)
       |  WHERE rk <= 20),
       |sd AS (
       |  SELECT user_id, session_id, start_us, end_us,
       |    unnest(range(start_us // 86400000000,
       |                 end_us // 86400000000 + 1)) AS day
       |  FROM s0)
       |SELECT user_id, session_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_peak_windows,
       |  CAST(SUM(least(end_us, w_end) - greatest(start_us, w_start))
       |    AS BIGINT) AS overlap_us
       |FROM sd JOIN peak USING (day)
       |WHERE start_us < w_end AND end_us > w_start
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // --------------------------------------------------------------- #207
  /** #207 FORWARD as-of join — the missing direction of the family
    * (#10 backward, #194 nearest): each purchase picks the NEXT view
    * strictly after it ("did the purchase lead to a return visit").
    * Same union-ordering device as #10 with the window flipped to
    * (1, unbounded following); a view at the purchase's exact
    * timestamp sorts BEFORE it (tag 0 < 1) and stays backward's —
    * the two directions partition same-instant ties consistently.
    */
  def joinAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, dir)
      .where(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("tag"),
        when(col("event_type") === "view", col("event_id")).as("vid"),
        when(col("event_type") === "view", col("ts_us")).as("vts"))
    val wf = Window.partitionBy("user_id")
      .orderBy("ts_us", "tag", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    ev.withColumn("view_event_id",
        first(col("vid"), ignoreNulls = true).over(wf))
      .withColumn("view_ts_us", first(col("vts"), ignoreNulls = true).over(wf))
      .where(col("tag") === 1 && col("view_event_id").isNotNull)
      .select("event_id", "user_id", "ts_us", "view_event_id", "view_ts_us")
      .orderBy("event_id")
  }

  val joinAsofForwardSql: String =
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
      |    FIRST_VALUE(vid IGNORE NULLS) OVER win AS view_event_id,
      |    FIRST_VALUE(vts IGNORE NULLS) OVER win AS view_ts_us
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, tag, event_id
      |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id, ts_us, view_event_id, view_ts_us
      |FROM w WHERE tag = 1 AND view_event_id IS NOT NULL
      |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- #208
  /** #208 degree assortativity of the co-purchase graph: Pearson r of
    * endpoint degrees over both arc orientations — "do hubs link to
    * hubs?" (r > 0) or "hubs to leaves" (r < 0), the one-number
    * structural summary next to #198's modularity. The #178 exact
    * device: every sum is an int64 of integer degrees; the 3 IEEE ops
    * happen once, r4'd; zero-variance (regular) graphs emit NULL.
    */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = Graph.undirected(spark, dir)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    e.join(Tables.maybeBroadcast(deg.toDF("src", "dx")), "src")
      .join(Tables.maybeBroadcast(deg.toDF("dst", "dy")), "dst")
      .agg(count(lit(1)).as("n"),
        countDistinct("src").as("n_nodes"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n").as("n_arcs"), col("n_nodes"),
        r4((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(when(
            (col("n") * col("sxx") - col("sx") * col("sx")) === 0L ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0L,
            lit(null).cast("double"))
            .otherwise(
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity"))
  }

  val graphAssortativitySql: String =
    s"""WITH ${Graph.edgeSql},
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
       |        FROM e GROUP BY src),
       |pairs AS (
       |  SELECT e.src, da.d AS dx, db.d AS dy
       |  FROM e JOIN deg da ON da.src = e.src
       |         JOIN deg db ON db.src = e.dst),
       |st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
       |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
       |    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
       |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
       |    CAST(SUM(dy * dy) AS BIGINT) AS syy
       |  FROM pairs)
       |SELECT n AS n_arcs, n_nodes,
       |  ${r4Sql("""(n * sxy - sx * sy) / sqrt(CASE
       |      WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
       |      ELSE CAST(n * sxx - sx * sx AS DOUBLE) *
       |           CAST(n * syy - sy * sy AS DOUBLE) END)""")}
       |    AS assortativity
       |FROM st""".stripMargin

  // --------------------------------------------------------------- #209
  /** #209 degree-distribution profile: exact order statistics (min /
    * p50 / p95 / max — integer ranks, node-id tie-breaks, #181's
    * device) plus the ONE-division mean — the graph-QC readout read
    * before choosing support floors or salting hub keys. The ranked
    * table is structure-sized (|nodes|), so the global sort is the
    * same class as #206's hour ranking.
    */
  def graphDegreeStats(spark: SparkSession, dir: String): DataFrame = {
    val und = Graph.undirected(spark, dir)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val ranked = deg
      .withColumn("r",
        row_number().over(Window.orderBy(col("d"), col("src"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    ranked.agg(
        max("n").as("n_nodes"),
        sum("d").as("sum_deg"),
        max(when(col("r") === 1L, col("d"))).as("min_deg"),
        max(when(col("r") === expr("(n + 1) div 2"), col("d"))).as("p50_deg"),
        max(when(col("r") === expr("(19 * n + 19) div 20"), col("d")))
          .as("p95_deg"),
        max(when(col("r") === col("n"), col("d"))).as("max_deg"))
      .select(col("n_nodes"), col("min_deg"), col("p50_deg"),
        col("p95_deg"), col("max_deg"),
        r4(col("sum_deg").cast("double") / col("n_nodes")).as("mean_deg"))
  }

  val graphDegreeStatsSql: String =
    s"""WITH ${Graph.edgeSql},
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
       |        FROM e GROUP BY src),
       |ranked AS (
       |  SELECT d,
       |    CAST(ROW_NUMBER() OVER (ORDER BY d, src) AS BIGINT) AS r,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM deg)
       |SELECT MAX(n) AS n_nodes,
       |  MAX(CASE WHEN r = 1 THEN d END) AS min_deg,
       |  MAX(CASE WHEN r = (n + 1) // 2 THEN d END) AS p50_deg,
       |  MAX(CASE WHEN r = (19 * n + 19) // 20 THEN d END) AS p95_deg,
       |  MAX(CASE WHEN r = n THEN d END) AS max_deg,
       |  ${r4Sql("SUM(d) / CAST(MAX(n) AS DOUBLE)")} AS mean_deg
       |FROM ranked""".stripMargin

  // --------------------------------------------------------------- #210
  /** #210 doc-length histogram: per (source, ⌊log2 tokens⌋ bucket) —
    * doc and token volume plus each bucket's share of its source
    * (ONE r4'd division). Log-2 buckets via the #160/#175 integer-bits
    * device (`length(bin(k)) − 1`), exact in both engines; the
    * composition readout sitting beside #191 (charsets) and #196
    * (vocabulary growth).
    */
  def corpusLengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
    Tables.spread(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("bucket", (length(bin(col("n_toks"))) - 1).cast("long"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .withColumn("src_docs", sum("n_docs").over(w))
      .select(col("source"), col("bucket"), col("n_docs"), col("n_tokens"),
        r4(col("n_docs").cast("double") / col("src_docs")).as("doc_share"))
      .orderBy("source", "bucket")
  }

  val corpusLengthHistogramSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents WHERE text IS NOT NULL),
       |h AS (
       |  SELECT source,
       |    CAST(length(bin(n_toks)) - 1 AS BIGINT) AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY 1, 2)
       |SELECT source, bucket, n_docs, n_tokens,
       |  ${r4Sql("n_docs / CAST(SUM(n_docs) OVER " +
                  "(PARTITION BY source) AS DOUBLE)")} AS doc_share
       |FROM h ORDER BY source, bucket""".stripMargin

  // --------------------------------------------------------------- #211
  /** #211 hapax rate: per source, how many of its distinct token types
    * are corpus-wide hapax legomena (global count 1 — so each belongs
    * to exactly one source) — the classic "is this source noise or
    * novelty" corpus-linguistics readout completing #196's growth
    * curve. Vocabulary-sized flows throughout; ONE r4'd division.
    */
  def corpusHapaxRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val corpus = toks.groupBy("token").agg(count(lit(1)).as("c"))
    toks.groupBy("source", "token").agg(count(lit(1)).as("cs"))
      .join(corpus, "token")
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_hapax"),
        r4(col("n_hapax").cast("double") / col("n_types")).as("hapax_rate"))
      .orderBy("source")
  }

  val corpusHapaxRateSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |corpus AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM toks GROUP BY token),
       |per_src AS (
       |  SELECT source, token FROM toks GROUP BY source, token)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
       |  CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
       |  ${r4Sql("COUNT(*) FILTER (WHERE c = 1) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS hapax_rate
       |FROM per_src JOIN corpus USING (token)
       |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #212
  /** #212 PQ distortion audit: per (subspace, codebook cell), how many
    * vectors landed there and their mean/max quantization error — the
    * index-quality eval for #107/#167 (the PQ analogue of #173's
    * recall@k): unbalanced cells or high-distortion outliers mean the
    * codebook needs more Lloyd steps or more centroids. Reuses the
    * EXACT #107 model ([[Similarity.pqModel]]); the distortion is the
    * argmin distance the encoder already computed — free to audit.
    * Mean goes through a decimal-exact sum, ONE r4'd division.
    */
  def embedPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val (_, coded) = Similarity.pqModel(spark, dir, m = 2, ksub = 16)
    coded.groupBy("s", "cid")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("dist").cast("decimal(28,12)")).cast("double").as("sum_d"),
        max("dist").as("max_d"))
      .select(col("s").as("subspace"), col("cid"), col("n_vectors"),
        r4(col("sum_d") / col("n_vectors")).as("mean_distortion"),
        r4(col("max_d")).as("max_distortion"))
      .orderBy("subspace", "cid")
  }

  val embedPqDistortionSql: String =
    s"""WITH ${Similarity.pqCtes}
       |SELECT s AS subspace, cid, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  ${r4Sql("CAST(SUM(CAST(dist AS DECIMAL(28,12))) AS DOUBLE) / " +
                  "COUNT(*)")} AS mean_distortion,
       |  ${r4Sql("MAX(dist)")} AS max_distortion
       |FROM coded GROUP BY s, cid ORDER BY subspace, cid""".stripMargin

  // --------------------------------------------------------------- #213
  /** #213 SCD2 as-of dimension join — the canonical warehouse temporal
    * join: each purchase event against the type-2 state dimension #95
    * builds, picking the interval containing the purchase instant
    * (user-keyed equi join, [from, to) containment as the residual —
    * the #11 range-join class, never a pair explosion). #10 answers
    * "last view BEFORE"; this answers "which STATE RUN contains" —
    * intervals tile each user's timeline from their first event, so
    * every purchase matches EXACTLY one row (pinned in the spec).
    */
  def joinScd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val dim = Change.scd2Intervals(spark, dir)
      .select(col("user_id").as("du"), col("state"),
        col("effective_from"), col("effective_to"), col("is_current"))
    Tables.eventsUs(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
      .join(dim, col("user_id") === col("du") &&
        col("effective_from") <= col("ts_us") &&
        (col("effective_to").isNull || col("ts_us") < col("effective_to")))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("state"),
        col("effective_from"), col("is_current"))
      .orderBy("event_id")
  }

  val joinScd2AsofSql: String =
    s"""WITH dim AS (${Change.scd2Sql}),
       |f AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
       |  FROM events WHERE event_type = 'purchase')
       |SELECT f.event_id, f.user_id, f.ts_us, d.state,
       |  d.effective_from, d.is_current
       |FROM f JOIN dim d ON d.user_id = f.user_id
       |  AND d.effective_from <= f.ts_us
       |  AND (d.effective_to IS NULL OR f.ts_us < d.effective_to)
       |ORDER BY f.event_id""".stripMargin

  // --------------------------------------------------------------- #214
  /** #214 time-bounded funnel — #48's funnel with the product-analytics
    * clock attached: first view → first click within 1 h of it →
    * first purchase within 1 h of that click, per user; one summary
    * row of stage populations and r4'd conversion rates. Three keyed
    * aggs chained by user-keyed joins (each stage's anchor is a
    * one-row-per-user table, so the joins stay entity-sized).
    */
  def eventsFunnelStrict(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("v_ts"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("ts_us") > col("v_ts") &&
        col("ts_us") <= col("v_ts") + hourUs)
      .groupBy("user_id").agg(min("ts_us").as("c_ts"))
    val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("ts_us") > col("c_ts") &&
        col("ts_us") <= col("c_ts") + hourUs)
      .groupBy("user_id").agg(min("ts_us").as("p_ts"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
        c.agg(count(lit(1)).as("n_click_1h")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_1h")))
      .select(col("n_view"), col("n_click_1h"), col("n_purchase_1h"),
        when(col("n_view") > 0,
          r4(col("n_click_1h").cast("double") / col("n_view")))
          .as("click_rate"),
        when(col("n_click_1h") > 0,
          r4(col("n_purchase_1h").cast("double") / col("n_click_1h")))
          .as("purchase_rate"))
  }

  val eventsFunnelStrictSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |v AS (
       |  SELECT user_id, MIN(ts_us) AS v_ts FROM e
       |  WHERE event_type = 'view' GROUP BY user_id),
       |c AS (
       |  SELECT e.user_id, MIN(e.ts_us) AS c_ts
       |  FROM e JOIN v ON e.user_id = v.user_id
       |  WHERE e.event_type = 'click' AND e.ts_us > v.v_ts
       |    AND e.ts_us <= v.v_ts + 3600000000
       |  GROUP BY e.user_id),
       |p AS (
       |  SELECT e.user_id, MIN(e.ts_us) AS p_ts
       |  FROM e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts_us > c.c_ts
       |    AND e.ts_us <= c.c_ts + 3600000000
       |  GROUP BY e.user_id),
       |s AS (
       |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_1h,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_1h)
       |SELECT n_view, n_click_1h, n_purchase_1h,
       |  CASE WHEN n_view > 0 THEN
       |    ${r4Sql("n_click_1h / CAST(n_view AS DOUBLE)")} END AS click_rate,
       |  CASE WHEN n_click_1h > 0 THEN
       |    ${r4Sql("n_purchase_1h / CAST(n_click_1h AS DOUBLE)")} END
       |    AS purchase_rate
       |FROM s""".stripMargin

  // --------------------------------------------------------------- #215
  /** #215 quality-signal correlation matrix: pairwise Pearson r
    * between the three #176 ensemble signals (token count, distinct
    * tokens, distinct bigrams), each an exact integer per doc — "are
    * my filters measuring the same thing?" The #178 device three
    * times over ONE global agg of int64 cross-products; highly
    * correlated signals mean the ensemble is redundant.
    */
  def qualitySignalCorr(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.spread(spark, dir, "documents")
      .where(col("text").isNotNull)
      .withColumn("toks", split(col("text"), " "))
      .select(size(col("toks")).cast("long").as("x"),
        size(array_distinct(col("toks"))).cast("long").as("y"),
        size(array_distinct(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
            |  slice(toks, 2, size(toks) - 1),
            |  (a, b) -> concat(a, ' ', b))""".stripMargin))).cast("long")
          .as("z"))
    def pearson(sab: Column, sa: Column, sb: Column, saa: Column,
        sbb: Column, n: Column): Column =
      r4((n * sab - sa * sb).cast("double") /
        sqrt(when((n * saa - sa * sa) === 0L || (n * sbb - sb * sb) === 0L,
          lit(null).cast("double"))
          .otherwise((n * saa - sa * sa).cast("double") *
                     (n * sbb - sb * sb).cast("double"))))
    sig.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
      .select(col("n").as("n_docs"),
        pearson(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"),
          col("n")).as("r_len_div"),
        pearson(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"),
          col("n")).as("r_len_rep"),
        pearson(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"),
          col("n")).as("r_div_rep"))
  }

  val qualitySignalCorrSql: String = {
    def p(ab: String, a: String, b: String, aa: String, bb: String) =
      r4Sql(s"""(n * $ab - $a * $b) / sqrt(CASE
        WHEN n * $aa - $a * $a = 0 OR n * $bb - $b * $b = 0 THEN NULL
        ELSE CAST(n * $aa - $a * $a AS DOUBLE) *
             CAST(n * $bb - $b * $b AS DOUBLE) END)""")
    s"""WITH sig AS (
       |  SELECT CAST(len(sp) AS BIGINT) AS x,
       |    CAST(len(list_distinct(sp)) AS BIGINT) AS y,
       |    CAST(len(list_distinct(list_transform(range(1, len(sp)),
       |      i -> sp[i] || ' ' || sp[i + 1]))) AS BIGINT) AS z
       |  FROM (SELECT string_split(text, ' ') AS sp FROM documents
       |        WHERE text IS NOT NULL)),
       |st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(z) AS BIGINT) AS sz,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy,
       |    CAST(SUM(z * z) AS BIGINT) AS szz,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * z) AS BIGINT) AS sxz,
       |    CAST(SUM(y * z) AS BIGINT) AS syz
       |  FROM sig)
       |SELECT n AS n_docs,
       |  ${p("sxy", "sx", "sy", "sxx", "syy")} AS r_len_div,
       |  ${p("sxz", "sx", "sz", "sxx", "szz")} AS r_len_rep,
       |  ${p("syz", "sy", "sz", "syy", "szz")} AS r_div_rep
       |FROM st""".stripMargin
  }

  // --------------------------------------------------------------- #216
  /** #216 vocabulary coverage curve: what fraction of total token
    * volume the top-k most frequent types cover, k ∈ {10, 100, 1000}
    * — the compressibility/stop-list readout beside #80's Zipf curve
    * (#80 reports the shape; this reports the actionable cumulative
    * number). Exact integer cumsum over the (count desc, token)-ranked
    * vocabulary; ONE r4'd division per k. The k-dim attach is a 3-row
    * literal BNLJ (`r = least(k, nv)` references both sides) — the
    * #111-sanctioned O(1)-dim exception, 3 rows at ANY scale.
    */
  def corpusNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.spread(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = counts
      .withColumn("r",
        row_number().over(Window.orderBy(col("c").desc, col("token")))
          .cast("long"))
      .withColumn("cum", sum("c").over(w))
      .withColumn("nv", count(lit(1)).over(Window.partitionBy()))
      .withColumn("total", sum("c").over(Window.partitionBy()))
    val ks = Seq(10L, 100L, 1000L).toDF("k")
    ranked.join(broadcast(ks), col("r") === least(col("k"), col("nv")))
      .select(col("k"), least(col("k"), col("nv")).as("n_types"),
        col("cum").as("covered_tokens"), col("total").as("total_tokens"),
        r4(col("cum").cast("double") / col("total")).as("coverage"))
      .orderBy("k")
  }

  val corpusNgramCoverageSql: String =
    s"""WITH counts AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token
       |    FROM documents WHERE text IS NOT NULL)
       |  GROUP BY token),
       |ranked AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token) AS BIGINT)
       |      AS r,
       |    CAST(SUM(c) OVER (ORDER BY c DESC, token
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS nv,
       |    CAST(SUM(c) OVER () AS BIGINT) AS total
       |  FROM counts)
       |SELECT k, least(k, nv) AS n_types, cum AS covered_tokens,
       |  total AS total_tokens,
       |  ${r4Sql("cum / CAST(total AS DOUBLE)")} AS coverage
       |FROM ranked JOIN (VALUES (CAST(10 AS BIGINT)),
       |  (CAST(100 AS BIGINT)), (CAST(1000 AS BIGINT))) t(k)
       |  ON r = least(k, nv)
       |ORDER BY k""".stripMargin

  // --------------------------------------------------------------- #217
  /** #217 boilerplate detection (the C4 "repeated spans within a
    * source" filter): 8-token tumbling chunk hashes (#68's device),
    * a chunk is BOILERPLATE when ≥ 5 distinct docs of the SAME source
    * carry it (nav bars, footers, license headers — the source-local
    * furniture near-dup passes ignore because the surrounding docs
    * differ). Per-source report: chunk-type counts, affected docs,
    * and the r4'd occurrence share boilerplate removal would delete.
    *
    * Scale: one explode to (source, ph, doc) — linear in token
    * volume ÷ 8; doc counting rides ONE (source, ph) window Exchange;
    * the rollup is |sources| rows.
    */
  def textBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.spread(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("source"), col("doc_id"),
        explode(Signatures.passageHashes(col("toks"), 8)).as("ph"))
    val perDoc = p.groupBy("source", "ph", "doc_id")
      .agg(count(lit(1)).as("cnt"))
    val wPh = Window.partitionBy("source", "ph")
    perDoc
      .withColumn("n_docs", count(lit(1)).over(wPh))
      .groupBy("source")
      .agg(countDistinct("ph").as("n_chunk_types"),
        countDistinct(when(col("n_docs") >= 5, col("ph")))
          .as("n_boiler_types"),
        countDistinct(when(col("n_docs") >= 5, col("doc_id")))
          .as("n_docs_affected"),
        sum(when(col("n_docs") >= 5, col("cnt")).otherwise(0L))
          .as("boiler_occurrences"),
        sum("cnt").as("total_occurrences"))
      .withColumn("boiler_share",
        r4(col("boiler_occurrences").cast("double") /
          col("total_occurrences")))
      .orderBy("source")
  }

  val textBoilerplateSql: String =
    s"""WITH p AS (
       |  SELECT source, doc_id, unnest(list_transform(
       |    range(1, len(string_split(text, ' ')) // 8 + 1),
       |    i -> md5(array_to_string(
       |      string_split(text, ' ')[(i - 1) * 8 + 1 : (i - 1) * 8 + 8],
       |      ' ')))) AS ph
       |  FROM documents),
       |per_doc AS (
       |  SELECT source, ph, doc_id, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM p GROUP BY 1, 2, 3),
       |f AS (
       |  SELECT *, CAST(COUNT(*) OVER (PARTITION BY source, ph) AS BIGINT)
       |    AS n_docs
       |  FROM per_doc)
       |SELECT source,
       |  CAST(COUNT(DISTINCT ph) AS BIGINT) AS n_chunk_types,
       |  CAST(COUNT(DISTINCT CASE WHEN n_docs >= 5 THEN ph END) AS BIGINT)
       |    AS n_boiler_types,
       |  CAST(COUNT(DISTINCT CASE WHEN n_docs >= 5 THEN doc_id END)
       |    AS BIGINT) AS n_docs_affected,
       |  CAST(SUM(CASE WHEN n_docs >= 5 THEN cnt ELSE 0 END) AS BIGINT)
       |    AS boiler_occurrences,
       |  CAST(SUM(cnt) AS BIGINT) AS total_occurrences,
       |  ${r4Sql("SUM(CASE WHEN n_docs >= 5 THEN cnt ELSE 0 END) / " +
                  "CAST(SUM(cnt) AS DOUBLE)")} AS boiler_share
       |FROM f GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #218
  /** #218 seasonal-baseline anomaly detection: each (type, hour)
    * count against its (epoch-week-position, hour-of-day) cell mean —
    * #82 flags "unusual for this user", #144 finds level SHIFTS; this
    * flags "unusual for a Tuesday 3 pm". The ≥2× threshold compares in
    * EXACT integers (c·n_cell ≥ 2·sum_cell — divisionless, #154's
    * cross-multiplication device; inclusive, so a count at exactly
    * twice its cell mean flags) with a ≥4-observation support
    * floor; the day-of-week index is pure epoch arithmetic
    * ((hr div 24) mod 7 — calendar-free, #115's convention).
    */
  def tsAnomalySeasonal(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(3600000000L)).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", expr("(hr div 24) % 7"))
      .withColumn("hod", expr("hr % 24"))
    val wCell = Window.partitionBy("event_type", "dow", "hod")
    hourly
      .withColumn("n_cell", count(lit(1)).over(wCell))
      .withColumn("sum_cell", sum("c").over(wCell))
      .where(col("n_cell") >= 4 &&
        col("c") * col("n_cell") >= lit(2L) * col("sum_cell"))
      .select(col("event_type"), col("hr"), col("c"),
        col("n_cell"), col("sum_cell"),
        r4((col("c") * col("n_cell")).cast("double") / col("sum_cell"))
          .as("ratio_to_mean"))
      .orderBy("event_type", "hr")
  }

  val tsAnomalySeasonalSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |cells AS (
       |  SELECT *, (hr // 24) % 7 AS dow, hr % 24 AS hod FROM hourly),
       |w AS (
       |  SELECT *,
       |    CAST(COUNT(*) OVER cell AS BIGINT) AS n_cell,
       |    CAST(SUM(c) OVER cell AS BIGINT) AS sum_cell
       |  FROM cells
       |  WINDOW cell AS (PARTITION BY event_type, dow, hod))
       |SELECT event_type, hr, c, n_cell, sum_cell,
       |  ${r4Sql("c * n_cell / CAST(sum_cell AS DOUBLE)")} AS ratio_to_mean
       |FROM w
       |WHERE n_cell >= 4 AND c * n_cell >= 2 * sum_cell
       |ORDER BY event_type, hr""".stripMargin

  // --------------------------------------------------------------- #219
  /** #219 repeat-purchase rate per part: of the customers who ever
    * bought a part, what fraction bought it in ≥ 2 DISTINCT orders —
    * the retail loyalty/consumable-vs-durable signal (and the
    * business-level cousin of the co-purchase support floor). Two
    * keyed aggs; the fact⋈fact join shuffles once on orderkey.
    */
  def ordersRepeatRate(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"), col("o_custkey"))
      .agg(countDistinct("l_orderkey").as("n_orders"))
      .groupBy(col("l_partkey").as("partkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2L, 1L).otherwise(0L)).as("n_repeat"))
      .select(col("partkey"), col("n_customers"), col("n_repeat"),
        r4(col("n_repeat").cast("double") / col("n_customers"))
          .as("repeat_rate"))
      .orderBy("partkey")
  }

  val ordersRepeatRateSql: String =
    s"""WITH pc AS (
       |  SELECT l_partkey AS partkey, o_custkey,
       |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2)
       |SELECT partkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
       |  CAST(COUNT(*) FILTER (WHERE n_orders >= 2) AS BIGINT) AS n_repeat,
       |  ${r4Sql("COUNT(*) FILTER (WHERE n_orders >= 2) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS repeat_rate
       |FROM pc GROUP BY partkey ORDER BY partkey""".stripMargin

  // --------------------------------------------------------------- #353
  /** #353 POINT-IN-TIME feature assembly — the feature-store read
    * that decides whether a training set leaks: one row per label
    * event (purchase; label = its cents), carrying behavioral
    * features computed from STRICTLY-PRIOR history only — window
    * frames ending at `1 PRECEDING` in the deterministic
    * (ts, event_id) order, so even a same-microsecond later event
    * can never contribute to an earlier row's features — plus the
    * SCD2 state IN EFFECT at the label instant (the #213 interval
    * containment: state is knowledge-at-time, not leakage).
    * Features: prior event count, prior purchase count, prior spend
    * (exact cents), recency to the previous event (null for a
    * user's first event — absence, never a fabricated 0). The
    * strict-prior frame IS the leakage proof: the oracle and the
    * spec recompute every row from raw history, so a feature that
    * saw its own label (the classic `≤` bug) hash-breaks.
    *
    * Scale: ONE user-partitioned window pass over events + the
    * user-keyed interval equi-join — both partition by the entity
    * key; no shuffle grows faster than the event table.
    */
  def joinPitFeatures(spark: SparkSession, dir: String): DataFrame = {
    val centsE = "cast(floor(value * 100.0 + 0.5) as bigint)"
    val ev = Tables.eventsUs(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), expr(centsE).as("cents"))
    val wPrior = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val feats = ev
      .withColumn("f_prior_events", count(lit(1)).over(wPrior))
      // SUM over the empty first-row frame is NULL on both engines;
      // counts/spend are genuinely zero there (recency stays null —
      // absence), so coalesce on BOTH sides
      .withColumn("f_prior_purchases",
        coalesce(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(wPrior), lit(0L)))
      .withColumn("f_prior_spend_cents",
        coalesce(sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).over(wPrior), lit(0L)))
      .withColumn("f_recency_us",
        col("ts_us") - max(col("ts_us")).over(wPrior))
      .where(col("event_type") === "purchase")
    val dim = Change.scd2Intervals(spark, dir)
      .select(col("user_id").as("du"), col("state"),
        col("effective_from"), col("effective_to"))
    feats.join(dim, col("user_id") === col("du") &&
        col("effective_from") <= col("ts_us") &&
        (col("effective_to").isNull || col("ts_us") < col("effective_to")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("cents").as("label_cents"), col("f_prior_events"),
        col("f_prior_purchases"), col("f_prior_spend_cents"),
        col("f_recency_us"), col("state").as("f_state"))
      .orderBy("event_id")
  }

  val joinPitFeaturesSql: String =
    s"""WITH dim AS (${Change.scd2Sql}),
       |ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM events),
       |f AS (
       |  SELECT *,
       |    CAST(COUNT(*) OVER wp AS BIGINT) AS f_prior_events,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN 1 ELSE 0 END) OVER wp, 0) AS BIGINT)
       |      AS f_prior_purchases,
       |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN cents ELSE 0 END) OVER wp, 0) AS BIGINT)
       |      AS f_prior_spend_cents,
       |    ts_us - MAX(ts_us) OVER wp AS f_recency_us
       |  FROM ev
       |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT f.event_id, f.user_id, f.ts_us, f.cents AS label_cents,
       |  f.f_prior_events, f.f_prior_purchases, f.f_prior_spend_cents,
       |  f.f_recency_us, d.state AS f_state
       |FROM f JOIN dim d ON d.user_id = f.user_id
       |  AND d.effective_from <= f.ts_us
       |  AND (d.effective_to IS NULL OR f.ts_us < d.effective_to)
       |WHERE f.event_type = 'purchase'
       |ORDER BY f.event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_pit_features" -> (joinPitFeatures _),
    "graph_closeness" -> (graphCloseness _),
    "text_kneser_ney" -> (textKneserNey _),
    "text_langid_eval" -> (textLangidEval _),
    "quality_classifier_eval" -> (qualityClassifierEval _),
    "events_forecast_snaive" -> (eventsForecastSnaive _),
    "ts_holt_winters" -> (tsHoltWinters _),
    "events_survival" -> (eventsSurvival _),
    "corpus_chunks" -> (corpusChunks _),
    "embed_quantile_clip" -> (embedQuantileClip _),
    "join_interval_overlap" -> (joinIntervalOverlap _),
    "join_asof_forward" -> (joinAsofForward _),
    "graph_assortativity" -> (graphAssortativity _),
    "graph_degree_stats" -> (graphDegreeStats _),
    "corpus_length_histogram" -> (corpusLengthHistogram _),
    "corpus_hapax_rate" -> (corpusHapaxRate _),
    "embed_pq_distortion" -> (embedPqDistortion _),
    "join_scd2_asof" -> (joinScd2Asof _),
    "events_funnel_strict" -> (eventsFunnelStrict _),
    "quality_signal_corr" -> (qualitySignalCorr _),
    "corpus_ngram_coverage" -> (corpusNgramCoverage _),
    "text_boilerplate" -> (textBoilerplate _),
    "ts_anomaly_seasonal" -> (tsAnomalySeasonal _),
    "orders_repeat_rate" -> (ordersRepeatRate _))

  val oracles: Map[String, String] = Map(
    "join_pit_features" -> joinPitFeaturesSql,
    "graph_closeness" -> graphClosenessSql,
    "text_kneser_ney" -> textKneserNeySql,
    "text_langid_eval" -> textLangidEvalSql,
    "quality_classifier_eval" -> qualityClassifierEvalSql,
    "events_forecast_snaive" -> eventsForecastSnaiveSql,
    "ts_holt_winters" -> tsHoltWintersSql,
    "events_survival" -> eventsSurvivalSql,
    "corpus_chunks" -> corpusChunksSql,
    "embed_quantile_clip" -> embedQuantileClipSql,
    "join_interval_overlap" -> joinIntervalOverlapSql,
    "join_asof_forward" -> joinAsofForwardSql,
    "graph_assortativity" -> graphAssortativitySql,
    "graph_degree_stats" -> graphDegreeStatsSql,
    "corpus_length_histogram" -> corpusLengthHistogramSql,
    "corpus_hapax_rate" -> corpusHapaxRateSql,
    "embed_pq_distortion" -> embedPqDistortionSql,
    "join_scd2_asof" -> joinScd2AsofSql,
    "events_funnel_strict" -> eventsFunnelStrictSql,
    "quality_signal_corr" -> qualitySignalCorrSql,
    "corpus_ngram_coverage" -> corpusNgramCoverageSql,
    "text_boilerplate" -> textBoilerplateSql,
    "ts_anomaly_seasonal" -> tsAnomalySeasonalSql,
    "orders_repeat_rate" -> ordersRepeatRateSql)
}
