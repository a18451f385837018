package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Round-9 widening (SURVEY.md §2 #174+): the remaining TPC-H shape
  * plus the evaluation/planning layer a curation pipeline runs AFTER
  * scoring — fusing quality signals, planning epoch mixes, and
  * calibrating its own sketches.
  *
  *  - `q12_shipmode`: TPC-H Q12 shape — late-line priority counts per
  *    ship mode (conditional aggregation over a fact⋈fact join). With
  *    q12 every TPC-H query expressible on this schema (no `partsupp`
  *    table exists, so Q11/Q16 have no home) is covered.
  *  - `text_entropy`: per-document integer-bits token entropy — the
  *    diversity complement of #64's repetition filter (a doc of one
  *    repeated token scores 0; an all-distinct doc scores ≈ log2 N).
  *  - `quality_ensemble`: Borda rank fusion of three independent
  *    quality signals (length, lexical diversity, bigram
  *    non-repetition) — the standard way to combine filter scores
  *    without calibrating their scales against each other.
  *  - `corpus_epoch_plan`: epoch/repeat planning for data-constrained
  *    training (Muennighoff et al. 2023) — repeat small sources toward
  *    mixture parity, capped at 4 epochs.
  *  - `ts_acf`: per-type autocorrelation of the gap-filled hourly
  *    event series, lags 1-3 — the burstiness diagnostic.
  *  - `dedup_minhash_est`: MinHash estimate-vs-exact calibration on
  *    the index's own candidate pairs (the dedup analogue of #173),
  *    with an engine-portable md5 signature so the estimates
  *    themselves are oracle-checked.
  *  - `graph_bfs`: multi-source BFS hop labeling from a landmark set —
  *    the frontier-growth traversal the whole-graph iterators
  *    (#99/#152/#163/#169) don't cover.
  *  - `embed_dim_stats`: exact per-dimension order statistics of the
  *    embedding cloud — the quantile-clip/scale table int8 pipelines
  *    read (#84's scale is its coarsest summary).
  *  - `sample_fixed_k`: fixed-size-per-stratum md5 sampling (the
  *    eval-set builder; #44's fraction sampler can't pin sizes).
  *  - `events_dispersion`: Poisson index-of-dispersion per event type
  *    over the gap-filled hourly series — integer-compared over/under
  *    dispersion flags, the burstiness QC next to #178.
  *  - `ts_cross_corr`: lead-lag cross-correlation between event-type
  *    pairs at lags −2..+2 (#178's bivariate extension).
  *  - `text_source_jaccard`: source-pair vocabulary-overlap matrix —
  *    the "same crawl under two names?" composition diagnostic.
  *  - `mix_curriculum`: entropy-ranked curriculum schedule with the
  *    cumulative token plan (diverse-first ordering over #175's
  *    exact per-source score).
  *  - `ann_mmr`: MMR-diversified top-3 retrieval (λ=0.7) — unrolled
  *    greedy maximal marginal relevance over a top-10 cosine pool.
  *  - `dedup_threshold_sweep`: the dedup yield curve (pairs/docs
  *    touched per Jaccard threshold 0.5-0.9) over the #179 portable
  *    candidates — thresholds below 0.8 stay oracle-checkable.
  *  - `events_user_overlap`: audience-overlap (user-set Jaccard)
  *    matrix per event-type pair — #185's device on behavior.
  *  - `embed_label_drift`: per-label early-vs-late centroid cosine —
  *    the "re-embed / retrain the quantizer" drift alarm.
  *  - `text_script_profile`: per-source character-class composition
  *    (letters/digits/spaces/other) — charset QC next to #36.
  *  - `window_rolling_median`: robust rolling smoother by exact
  *    order-statistic selection over a 5-row frame.
  *  - `mm_audio_features`: per-file windowed-energy features over
  *    binary payloads (the per-FILE typed feature row; #50/#51 emit
  *    per-chunk records).
  *  - `join_asof_nearest`: nearest-by-|Δt| as-of join with tolerance
  *    (the sensor-fusion variant of #10's backward as-of).
  *  - `dedup_prefix`: shared-16-token-prefix duplicate groups (the
  *    truncation-artifact pass #26/#60 miss).
  *  - `corpus_vocab_growth`: Heaps-law vocabulary growth curve per
  *    source — "is more data still buying new vocabulary?".
  *  - `events_active_users`: DAU/WAU/MAU + stickiness rollup (rolling
  *    distinct via trailing-range joins over the span-sized axis).
  *  - `graph_modularity`: modularity Q of the #163 LPA partition as
  *    ONE rational of exact cross-products — the community-quality
  *    eval beside #173/#157.
  *
  * Cross-engine exactness: q12 is pure integer counting over a derived
  * mode column (md5-free modulo arithmetic — identical in both
  * engines). Entropy uses the INTEGER-BITS device of #160/#165/#170:
  * Σ cᵢ·(bits(N) − bits(cᵢ)) = N·bits(N) − Σ cᵢ·bits(cᵢ) with
  * bits(k) = length(bin(k)) − 1, all int64-exact, then ONE r4'd IEEE
  * division by N. The ensemble's per-signal orderings use at most ONE
  * IEEE division each (a/b is correctly rounded and identical in both
  * engines); every rank and the Borda sum are exact integers.
  *
  * Scale design (100 TB):
  *  - q12: the orders side projects to (orderkey, priority) before the
  *    join — AQE picks broadcast vs sort-merge on the shuffled key; the
  *    mode/lateness arithmetic is map-side on the scan, and the final
  *    agg is 5 groups with map-side combine.
  *  - text_entropy: one explode → keyed agg (map-side combinable) →
  *    per-doc agg (map-side combinable). No joins, no windows — the
  *    same two-shuffle shape as #34.
  *  - quality_ensemble: the three signals are ARRAY-function map-side
  *    work on the scan (no explode, no shuffle); the global rankings
  *    are the #85/#106 global-window shape — fine to |corpus| rows of
  *    12-byte (signal, id) pairs, and at true 100 TB the drop-in
  *    replacement is bucketed ranks via #161's tertile device (the
  *    Borda sum is rank-scale-free, so bucketed ranks fuse the same
  *    way). The payload text never enters the sort — only doc_id and
  *    three numbers.
  */
object Horizon {

  /** One media file's typed features (#193). */
  final case class AudioFeat(doc_id: Long, n_bytes: Long, n_windows: Long,
      peak_idx: Long, peak_energy: Long, mean_energy: Double)

  // --------------------------------------------------------------- #174
  /** #174 TPC-H Q12 shape: for each ship mode, how many LATE lines
    * belonged to high-priority orders vs low — the "is the cheap
    * carrier hurting urgent orders" audit. This schema carries no
    * l_shipmode / l_receiptdate / l_commitdate, so (a) the mode is a
    * deterministic derived dimension (5 carriers by
    * (l_suppkey + l_linenumber) mod 5 — stable line-level assignment),
    * and (b) "late" is the #128 convention: l_shipdate more than 60
    * days past o_orderdate. Q12's MAIL/SHIP restriction is kept (2 of
    * 5 modes pass).
    *
    * Plan: both fact scans project slim; the only shuffle is the
    * orderkey join (AQE chooses broadcast vs sort-merge); mode
    * derivation, the mode IN filter, and the lateness residual are all
    * map-side; the final aggregate is ≤ 2 groups with map-side combine.
    */
  def q12Shipmode(spark: SparkSession, dir: String): DataFrame = {
    val modes = array(lit("MAIL"), lit("SHIP"), lit("TRUCK"),
      lit("AIR"), lit("RAIL"))
    val l = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"),
        element_at(modes,
          (pmod(col("l_suppkey") + col("l_linenumber"), lit(5)) + 1)
            .cast("int")).as("ship_mode"))
      .where(col("ship_mode").isin("MAIL", "SHIP"))
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    l.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("ship_mode")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("ship_mode")
  }

  val q12Sql: String =
    """SELECT ship_mode,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM (
      |  SELECT l_orderkey, l_shipdate,
      |    (['MAIL', 'SHIP', 'TRUCK', 'AIR', 'RAIL'])[
      |      CAST((l_suppkey + l_linenumber) % 5 AS INT) + 1] AS ship_mode
      |  FROM lineitem) l
      |JOIN orders ON o_orderkey = l_orderkey
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |WHERE ship_mode IN ('MAIL', 'SHIP')
      |GROUP BY ship_mode
      |ORDER BY ship_mode""".stripMargin

  // --------------------------------------------------------------- #175
  /** #175 integer-bits token entropy per document. For token counts
    * cᵢ summing to N, the Shannon entropy is
    * Σ (cᵢ/N)·log2(N/cᵢ); replacing log2 with the integer floor
    * bits(k) = length(bin(k)) − 1 (the #160 device) gives
    * ent_bits = (N·bits(N) − Σ cᵢ·bits(cᵢ)) / N — within 1 bit of the
    * real value, monotone in the same direction (0 iff the doc is one
    * token repeated; ≈ bits(N) when all tokens are distinct), and
    * bit-identical across engines: every term is int64 arithmetic and
    * the ONE IEEE division is r4'd. The filtering use is the Gopher
    * "entropy floor" — boilerplate and keyword-stuffed docs sit at the
    * bottom of the column.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val bits: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => (length(bin(c)) - 1).cast("long")
    val counts = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    counts
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * bits(col("c"))).as("sum_cbits"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        r4((col("n_tokens") * bits(col("n_tokens")) - col("sum_cbits"))
          .cast("double") / col("n_tokens")).as("ent_bits"))
      .orderBy("doc_id")
  }

  val textEntropySql: String =
    s"""WITH counts AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |        FROM documents)
       |  GROUP BY doc_id, token),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |    CAST(SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS sum_cbits
       |  FROM counts GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_distinct,
       |  ${r4Sql("(n_tokens * (length(bin(n_tokens)) - 1) - sum_cbits)" +
                  " / n_tokens")} AS ent_bits
       |FROM agg ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #176
  /** #176 Borda rank fusion of three quality signals: token length
    * (longer is better), lexical diversity (distinct-token ratio,
    * higher is better), and bigram non-repetition (#64's signal,
    * higher distinct-bigram ratio is better). Each signal contributes
    * a full-corpus row_number rank (ties broken by doc_id — total
    * order, engine-stable); the composite is the rank SUM, re-ranked.
    * Rank fusion is how production filters combine heterogeneous
    * scores (model-based, heuristic, LM-based) without calibrating
    * their scales; the Borda sum is also what #49's keep-best consumes
    * when "best" is multi-signal.
    *
    * All three signals are computed with ARRAY functions on the scan —
    * no explode, no join, no shuffle before the ranking windows. Docs
    * need ≥ 2 tokens (the bigram signal must exist).
    */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        (size(col("toks")) - 1).cast("long").as("n_bigrams"),
        size(array_distinct(Signatures.wordShingles(col("toks"), 2)))
          .cast("long").as("n_distinct_bg"))
      .withColumn("div_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("bg_ratio",
        col("n_distinct_bg").cast("double") / col("n_bigrams"))
    val byLen = Window.orderBy(desc("n_tokens"), col("doc_id"))
    val byDiv = Window.orderBy(desc("div_ratio"), col("doc_id"))
    val byRep = Window.orderBy(desc("bg_ratio"), col("doc_id"))
    val ranked = sig
      .withColumn("r_len", row_number().over(byLen).cast("long"))
      .withColumn("r_div", row_number().over(byDiv).cast("long"))
      .withColumn("r_rep", row_number().over(byRep).cast("long"))
      .withColumn("borda", col("r_len") + col("r_div") + col("r_rep"))
    ranked
      .withColumn("final_rank", row_number()
        .over(Window.orderBy(col("borda"), col("doc_id"))).cast("long"))
      .select("doc_id", "r_len", "r_div", "r_rep", "borda", "final_rank")
      .orderBy("final_rank")
  }

  val qualityEnsembleSql: String =
    """WITH sig AS (
      |  SELECT doc_id,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
      |    CAST(len(t) - 1 AS BIGINT) AS n_bigrams,
      |    CAST(len(list_distinct(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i + 1]))) AS BIGINT) AS n_distinct_bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 2),
      |ranked AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id)
      |      AS BIGINT) AS r_len,
      |    CAST(ROW_NUMBER() OVER (
      |      ORDER BY n_distinct / n_tokens DESC, doc_id)
      |      AS BIGINT) AS r_div,
      |    CAST(ROW_NUMBER() OVER (
      |      ORDER BY n_distinct_bg / n_bigrams DESC, doc_id)
      |      AS BIGINT) AS r_rep
      |  FROM sig),
      |fused AS (
      |  SELECT doc_id, r_len, r_div, r_rep,
      |    r_len + r_div + r_rep AS borda
      |  FROM ranked)
      |SELECT doc_id, r_len, r_div, r_rep, borda,
      |  CAST(ROW_NUMBER() OVER (ORDER BY borda, doc_id) AS BIGINT)
      |    AS final_rank
      |FROM fused ORDER BY final_rank""".stripMargin

  // --------------------------------------------------------------- #177
  /** #177 epoch/repeat plan for data-constrained training (the
    * Muennighoff et al. 2023 recipe): when the target mixture wants
    * more tokens from a source than it has, REPEAT the source — up to
    * a cap (4 epochs here; beyond ~4 repeats the marginal value of a
    * repeated token decays sharply). Budget per source = the largest
    * source's token count (train every source toward parity with the
    * biggest); epochs = min(cap, ceil(budget / tokens)); the plan
    * reports per-source planned tokens, the achieved mixture share,
    * and the unique-token fraction of what the trainer will actually
    * see.
    *
    * Exactness: tokens/epochs/planned are pure int64 (ceil via
    * (a + b − 1) div b); share and unique_frac are each ONE r4'd IEEE
    * division. Scale: one keyed agg to |sources| rows; the budget and
    * the total are 1-row/global-window aggregates over that
    * structure-sized table — driver-scale math, corpus touched once.
    */
  def corpusEpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val budget = perSrc.agg(max("n_tokens").as("budget"))
    val planned = perSrc.crossJoin(broadcast(budget))
      .withColumn("epochs",
        least(lit(4L), expr("(budget + n_tokens - 1) div n_tokens")))
      .withColumn("planned_tokens", col("epochs") * col("n_tokens"))
    planned
      .withColumn("total_planned",
        sum("planned_tokens").over(Window.partitionBy()))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("epochs"), col("planned_tokens"),
        r4(col("planned_tokens").cast("double") / col("total_planned"))
          .as("share"),
        r4(col("n_tokens").cast("double") / col("planned_tokens"))
          .as("unique_frac"))
      .orderBy("source")
  }

  val corpusEpochPlanSql: String =
    s"""WITH per_src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |b AS (SELECT MAX(n_tokens) AS budget FROM per_src),
       |planned AS (
       |  SELECT source, n_docs, n_tokens,
       |    least(4, (budget + n_tokens - 1) // n_tokens) AS epochs,
       |    least(4, (budget + n_tokens - 1) // n_tokens) * n_tokens
       |      AS planned_tokens
       |  FROM per_src CROSS JOIN b)
       |SELECT source, n_docs, n_tokens, epochs, planned_tokens,
       |  ${r4Sql("planned_tokens / CAST(SUM(planned_tokens) OVER () AS DOUBLE)")}
       |    AS share,
       |  ${r4Sql("n_tokens / CAST(planned_tokens AS DOUBLE)")} AS unique_frac
       |FROM planned ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #178
  /** #178 autocorrelation of the hourly event-count series, per event
    * type, lags 1–3 — the seasonality/burstiness diagnostic read
    * before choosing session windows or anomaly baselines (#82's
    * z-scores assume weak autocorrelation; this measures it).
    *
    * The series is the GAP-FILLED (#61 shape) hourly count over each
    * type's [min, max] hour span — zero hours are real observations,
    * skipping them would bias r upward. Pearson r at lag L over pairs
    * (x_t, x_{t+L}) clears to integer cross-products:
    * r = (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²)·(n·Σyy − Σy²)) — every
    * sum is an exact int64 (counts are integers), and the 3 IEEE ops
    * (one multiply, one sqrt, one divide — each correctly rounded,
    * engine-identical) happen once per (type, lag) row, r4'd.
    * Zero-variance series emit NULL (0/0 is engine-divergent).
    *
    * Scale: one keyed agg to (type, hour) cells, the dense axis is a
    * per-type sequence explode (span-sized, not event-sized), the lag
    * pairing is 3 leads over ONE per-type window Exchange, and the
    * final agg is 3·|types| rows with map-side combine.
    */
  def tsAcf(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(3600000000L)).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
    val axis = hourly.groupBy("event_type")
      .agg(min("hr").as("lo"), max("hr").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi)")).as("hr"))
    val dense = axis.join(hourly, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("c"), lit(0L)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    val lagged = (1 to 3).map { lag =>
      dense.select(col("event_type"), lit(lag.toLong).as("lag"),
        col("x"), lead(col("x"), lag).over(w).as("y"))
    }.reduce(_ union _).where(col("y").isNotNull)
    lagged.groupBy("event_type", "lag")
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
      .orderBy("event_type", "lag")
  }

  val tsAcfSql: String =
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
       |lagged AS (
       |  SELECT event_type, lag, x, y FROM (
       |    SELECT event_type, l.lag, x,
       |      CASE l.lag
       |        WHEN 1 THEN LEAD(x, 1) OVER w
       |        WHEN 2 THEN LEAD(x, 2) OVER w
       |        WHEN 3 THEN LEAD(x, 3) OVER w END AS y
       |    FROM dense CROSS JOIN
       |      (SELECT CAST(unnest(range(1, 4)) AS BIGINT) AS lag) l
       |    WINDOW w AS (PARTITION BY event_type, l.lag ORDER BY hr))
       |  WHERE y IS NOT NULL),
       |s AS (
       |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM lagged GROUP BY 1, 2)
       |SELECT event_type, lag, n,
       |  ${r4Sql("""(n * sxy - sx * sy) / sqrt(CASE
       |      WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
       |      ELSE CAST(n * sxx - sx * sx AS DOUBLE) *
       |           CAST(n * syy - sy * sy AS DOUBLE) END)""")} AS acf
       |FROM s ORDER BY event_type, lag""".stripMargin

  // --------------------------------------------------------------- #179
  /** #179 MinHash estimation-accuracy calibration — the QC readout
    * that justifies the #28 threshold choice: for every LSH candidate
    * pair, the SIGNATURE-estimated Jaccard (fraction of agreeing
    * minhash coordinates) next to the exact trigram Jaccard and the
    * absolute error. This is the dedup analogue of #173's recall@k:
    * it measures the sketch against the truth it approximates, on the
    * pairs the index actually surfaces.
    *
    * PORTABILITY variant of the signature: minhash coordinate k is the
    * lexicographic MIN of md5(k || ':' || shingle) over the doc's
    * distinct word-trigram shingles (16 coordinates, banded 4×4 for
    * candidates) — byte-identical in Spark and DuckDB, unlike #28's
    * native xxhash64 signatures (which stay the production path; md5
    * here buys a value-level oracle for the ESTIMATES themselves).
    * est/exact/err are each ONE r4'd division of exact integers.
    *
    * Scale: identical shape to #28 — map-side signatures, band-bucket
    * equi-join for candidates, verify re-join by doc_id with the
    * size-gated attach; no global cross product. The md5-per-(k,gram)
    * cost is 16× one hash per shingle, still map-side linear.
    */
  /** Shared by #179/#188: documents → (doc_id, sh, sig) with the
    * md5-PORTABLE 16-coordinate minhash signature over distinct word
    * trigrams (reproducible in DuckDB, unlike #28's native xxhash64).
    */
  private[operators] def portableSig(spark: SparkSession,
      dir: String): DataFrame = {
    val sh = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"),
        array_distinct(Signatures.wordShingles(col("t"), 3)).as("sh"))
    sh.withColumn("sig", expr(
      """transform(sequence(0, 15),
        |  k -> array_min(transform(sh,
        |    g -> md5(concat(cast(k as string), ':', g)))))""".stripMargin))
  }

  /** Oracle building block for the 16-coord md5-portable signature:
    * CTEs `sh`, `sig` mirroring [[portableSig]] — shared by #179/#188
    * here and the banding sweep in Zenith.
    */
  private[operators] val portableSigSqlCtes: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |sig AS (
      |  SELECT doc_id, sh, list_transform(range(0, 16),
      |    k -> list_aggregate(list_transform(sh,
      |      g -> md5(CAST(k AS VARCHAR) || ':' || g)), 'min')) AS sig
      |  FROM sh)""".stripMargin

  /** Oracle building block shared by #179/#188: [[portableSigSqlCtes]]
    * plus the 4×4 `banded`/`pairs` CTEs of the candidates in
    * [[portableScoredCached]].
    */
  private val portableCandidatesSqlCtes: String =
    s"""$portableSigSqlCtes,
      |banded AS (
      |  SELECT doc_id, b.band,
      |    md5(array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], ','))
      |      AS bsig
      |  FROM sig CROSS JOIN
      |    (SELECT unnest(range(0, 4)) AS band) b),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bsig = b.bsig
      |    AND a.doc_id < b.doc_id)""".stripMargin

  /** [[portableSig]] materialized ONCE per (dir) per JVM as parquet
    * via LayoutCache (r12; previously an in-memory persistSlot). Two
    * wins: (a) the 16×-md5-per-shingle signature pass — a real per-row
    * compute shared by #179/#188/#235 — stops re-running per consumer
    * and per Bench pass; (b) the attach-gate estimate problem the old
    * persist+count dance existed for (default-width stats under-count
    * the shingle/signature arrays ~100×, PLANS.md round-11) disappears:
    * a parquet scan's sizeInBytes IS the real file bytes, so
    * [[Tables.maybeBroadcast]] gates on honest sizes without a forced
    * materialization pass. Eviction-immune, unlike the persistSlot the
    * r11 verdict flagged as the 4× driver-sweep outlier mechanism.
    * Schema-pinned read so an empty corpus still yields a typed empty
    * frame.
    */
  private[operators] def portableSigCached(spark: SparkSession,
      dir: String): DataFrame =
    LayoutCache.table("portable_sig", dir)(portableSig(spark, dir))

  /** The SCORED default-banding candidates — (id_a, id_b, agree,
    * inter, uni) over the 4×4 [[Signatures.md5Bands]] bucket pairs of
    * the cached signature table — materialized once per (dir) per JVM
    * (r12). This is the exact shared subplan the r11 verdict's task #1 named: #188
    * consumes it through THREE downstream branches (two unions + a
    * join) and #179 through one, so before r12 the banding join and
    * both array-side attaches could re-run per branch. The table is
    * candidate-density-sized; both consumers are pure projections/
    * aggregations over it, byte-identical to their previous results.
    */
  private[operators] def portableScoredCached(spark: SparkSession,
      dir: String): DataFrame =
    LayoutCache.table("portable_scored", dir) {
      val sig = portableSigCached(spark, dir)
      val side = sig.select(col("doc_id"), col("sh"), col("sig"))
      val banded = sig.select(col("doc_id"),
          explode(Signatures.md5Bands(col("sig"), 4, 4)).as("bb"))
        .select(col("doc_id"), col("bb.*"))
      Signatures.bucketPairs(banded, "doc_id")
        .join(Tables.maybeBroadcast(side.toDF("id_a", "sh_a", "sig_a")), "id_a")
        .join(Tables.maybeBroadcast(side.toDF("id_b", "sh_b", "sig_b")), "id_b")
        .withColumn("agree", expr(
          "size(filter(sequence(1, 16), k -> sig_a[k - 1] = sig_b[k - 1]))")
          .cast("long"))
        .withColumn("inter",
          expr("size(array_intersect(sh_a, sh_b))").cast("long"))
        .withColumn("uni",
          (expr("size(sh_a)") + expr("size(sh_b)")).cast("long") - col("inter"))
        .select("id_a", "id_b", "agree", "inter", "uni")
    }

  def dedupMinhashEst(spark: SparkSession, dir: String): DataFrame =
    portableScoredCached(spark, dir)
      .select(col("id_a"), col("id_b"),
        r4(col("agree").cast("double") / 16).as("est_jaccard"),
        r4(col("inter").cast("double") / col("uni")).as("exact_jaccard"),
        r4(abs(col("agree").cast("double") / 16 -
          col("inter").cast("double") / col("uni"))).as("abs_err"))
      .orderBy("id_a", "id_b")

  val dedupMinhashEstSql: String =
    s"""WITH $portableCandidatesSqlCtes,
       |scored AS (
       |  SELECT id_a, id_b,
       |    len(list_filter(range(1, 17),
       |      k -> sa.sig[k] = sb.sig[k])) AS agree,
       |    len(list_intersect(sa.sh, sb.sh)) AS inter,
       |    len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
       |      AS uni
       |  FROM pairs JOIN sig sa ON sa.doc_id = id_a
       |             JOIN sig sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b,
       |  ${r4Sql("agree / 16.0")} AS est_jaccard,
       |  ${r4Sql("inter / CAST(uni AS DOUBLE)")} AS exact_jaccard,
       |  ${r4Sql("abs(agree / 16.0 - inter / CAST(uni AS DOUBLE))")}
       |    AS abs_err
       |FROM scored ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- #180
  /** #180 multi-source BFS hop labeling (3 hops) from the 5
    * smallest-id landmark nodes, over the support-floored co-purchase
    * graph — the traversal primitive behind "distance to a trusted
    * seed set" features (spam/fraud propagation, catalog taxonomy
    * distance). Completes the graph family's missing axis: #99/#152/
    * #163/#169 iterate on WHOLE-graph state; BFS grows a FRONTIER.
    *
    * Each round: reach ∪ (reach ⋈ edges → neighbor, hop+1), min-hop
    * per node — unrolled 3 rounds (the #99 fixed-k shape). All hops
    * are exact integers; no floats anywhere.
    *
    * Scale: each round shuffles the structure-sized (support-floored)
    * edge list once on src, plus a min-combine keyed agg over the
    * reach set — the same-key iteration shape AQE lines up; the reach
    * table is bounded by |nodes|, never by order volume. At true
    * 100 TB the landmark set stays a broadcast and rounds stay
    * edge-list-sized; the unreached long tail never materializes.
    */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val und = Graph.undirected(spark, dir)
    val edges = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val nodes = edges.select(col("src").as("node")).distinct()
    val landmarks = nodes.orderBy("node").limit(5)
    var reach = landmarks.withColumn("hop", lit(0L))
    for (_ <- 1 to 3) {
      val expand = reach.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("hop") + 1L).as("hop"))
      reach = reach.union(expand)
        .groupBy("node").agg(min("hop").as("hop"))
      // reach feeds the NEXT round twice (itself + its expansion), so
      // the textual plan duplicates per round — but ReuseExchange
      // collapses the repeated edge/reach subplans to one physical
      // computation each, and measured A/B shows the single fused DAG
      // beats per-round localCheckpoint materialization 2.4x here
      // (5.7s vs 13.3s at sf0.1; the #152 lineage cut serializes
      // rounds AND re-derives the edge self-join per round)
    }
    reach.select(col("node"), col("hop")).orderBy("node")
  }

  val graphBfsSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, MIN(hop) AS hop FROM (
         |    SELECT node, hop FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, p.hop + 1 AS hop
         |    FROM $prev p JOIN e ON e.src = p.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH ${Graph.edgeSql},
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |lm AS (SELECT node FROM nodes ORDER BY node LIMIT 5),
       |r0 AS (SELECT node, 0 AS hop FROM lm),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, CAST(hop AS BIGINT) AS hop
       |FROM r3 ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- #181
  /** #181 per-dimension embedding distribution profile: exact order
    * statistics (min / p05 / p50 / p95 / max) of every embedding
    * coordinate — the table a preprocessing stage reads before
    * quantile-clipping, scaling, or int8-quantizing vectors (#84's
    * global max-abs scale is this table's coarsest summary).
    *
    * Order statistics are selected by EXACT integer rank (ceil(q·n)
    * via (q·n ceil-div) — ties broken by vec_id, a total order), so
    * there is no interpolation to diverge between engines; the float32
    * coordinates widen to double losslessly and round under r4 only
    * for display. n is a COUNT window over the same Exchange the
    * ranking uses — no second pass, no join.
    *
    * Scale: ONE Exchange keyed by dimension. 64 keys bound the
    * parallelism of the sort — at true 100 TB the two-phase refinement
    * (range-partition within dimension, merge per-range order stats)
    * or #114's mergeable-histogram quantiles replace the exact sort;
    * the output contract (dim → clip bounds) is unchanged.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("x"))
    val byDim = Window.partitionBy("dim")
    val ranked = ex
      .withColumn("r", row_number().over(byDim.orderBy(col("x"), col("vec_id")))
        .cast("long"))
      .withColumn("n", count(lit(1)).over(byDim))
    ranked.groupBy("dim")
      .agg(max("n").as("n"),
        r4(max(when(col("r") === 1L, col("x")))).as("min_x"),
        r4(max(when(col("r") === expr("(n + 19) div 20"), col("x"))))
          .as("p05"),
        r4(max(when(col("r") === expr("(n + 1) div 2"), col("x"))))
          .as("p50"),
        r4(max(when(col("r") === expr("(19 * n + 19) div 20"), col("x"))))
          .as("p95"),
        r4(max(when(col("r") === col("n"), col("x")))).as("max_x"))
      .orderBy("dim")
  }

  val embedDimStatsSql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, CAST(j AS BIGINT) AS dim, embedding[j]::DOUBLE AS x
       |  FROM (SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS j FROM embeddings)),
       |ranked AS (
       |  SELECT dim, x,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY dim ORDER BY x, vec_id)
       |      AS BIGINT) AS r,
       |    CAST(COUNT(*) OVER (PARTITION BY dim) AS BIGINT) AS n
       |  FROM ex)
       |SELECT dim, MAX(n) AS n,
       |  ${r4Sql("MAX(CASE WHEN r = 1 THEN x END)")} AS min_x,
       |  ${r4Sql("MAX(CASE WHEN r = (n + 19) // 20 THEN x END)")} AS p05,
       |  ${r4Sql("MAX(CASE WHEN r = (n + 1) // 2 THEN x END)")} AS p50,
       |  ${r4Sql("MAX(CASE WHEN r = (19 * n + 19) // 20 THEN x END)")} AS p95,
       |  ${r4Sql("MAX(CASE WHEN r = n THEN x END)")} AS max_x
       |FROM ranked GROUP BY dim ORDER BY dim""".stripMargin

  // --------------------------------------------------------------- #182
  /** #182 fixed-size-per-stratum deterministic sample (k = 10 docs per
    * source): rank every doc by an md5 draw WITHIN its source and keep
    * the first k — the eval-set builder's contract (every stratum
    * contributes EXACTLY k, unlike #44's fraction sampling whose
    * stratum sizes float with the data). The draw is salted
    * (`fk:<doc_id>`) so this sample decorrelates from #44/#67/#102's
    * draws.
    *
    * Scale: the rank-≤-k filter over a per-source window is the
    * window_topk shape — Spark's WindowGroupLimit prunes to
    * per-partition top-k map-side BEFORE the Exchange, so the shuffle
    * carries ~k rows per (partition × source), not the corpus.
    */
  def sampleFixedK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(concat(lit("fk:"), col("doc_id").cast("string"))),
        col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"))
      .withColumn("r", row_number().over(w).cast("long"))
      .where(col("r") <= 10)
      .orderBy("source", "r")
  }

  val sampleFixedKSql: String =
    """SELECT source, doc_id, r FROM (
      |  SELECT source, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5('fk:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS BIGINT) AS r
      |  FROM documents)
      |WHERE r <= 10 ORDER BY source, r""".stripMargin

  // --------------------------------------------------------------- #183
  /** #183 index-of-dispersion test per event type over the gap-filled
    * hourly series (#178's axis): D = variance/mean of hourly counts.
    * A Poisson arrival process has D = 1; D ≫ 1 flags bursty/bot
    * traffic (pairs with #154's gap stats), D ≪ 1 flags rate-limited
    * or scripted uniformity. The over/under-dispersion FLAG compares
    * in pure integers (n·Σx² − (Σx)² vs n·Σx — no epsilon, no float
    * boundary), and D itself is ONE r4'd division of those exact
    * int64 cross-products.
    *
    * Scale: same shape as #178 — keyed agg to (type, hour) cells,
    * span-sized axis explode, final |types|-row agg with map-side
    * combine.
    */
  def eventsDispersion(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(3600000000L)).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
    val axis = hourly.groupBy("event_type")
      .agg(min("hr").as("lo"), max("hr").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi)")).as("hr"))
    axis.join(hourly, Seq("event_type", "hr"), "left")
      .select(col("event_type"),
        coalesce(col("c"), lit(0L)).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("x").as("total"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_hours"), col("total"),
        r4(col("total").cast("double") / col("n_hours")).as("mean_rate"),
        r4((col("n_hours") * col("sxx") - col("total") * col("total"))
          .cast("double") / (col("n_hours") * col("total"))).as("dispersion"),
        (col("n_hours") * col("sxx") - col("total") * col("total") >
          col("n_hours") * col("total")).as("overdispersed"))
      .orderBy("event_type")
  }

  val eventsDispersionSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |axis AS (
       |  SELECT event_type, unnest(range(lo, hi + 1)) AS hr
       |  FROM (SELECT event_type, MIN(hr) AS lo, MAX(hr) AS hi
       |        FROM hourly GROUP BY event_type)),
       |dense AS (
       |  SELECT a.event_type, COALESCE(h.c, 0) AS x
       |  FROM axis a LEFT JOIN hourly h
       |    ON a.event_type = h.event_type AND a.hr = h.hr),
       |s AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
       |    CAST(SUM(x) AS BIGINT) AS total,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx
       |  FROM dense GROUP BY event_type)
       |SELECT event_type, n_hours, total,
       |  ${r4Sql("total / CAST(n_hours AS DOUBLE)")} AS mean_rate,
       |  ${r4Sql("(n_hours * sxx - total * total) / " +
                  "CAST(n_hours * total AS DOUBLE)")} AS dispersion,
       |  (n_hours * sxx - total * total) > (n_hours * total)
       |    AS overdispersed
       |FROM s ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- #184
  /** #184 cross-correlation between event-type pairs at lags −2..+2
    * hours — the lead-lag discovery readout (#178's bivariate
    * extension): "view peaks lead purchase peaks by one hour" is this
    * table's positive-lag row. Series are the GLOBAL-span gap-filled
    * hourly counts (both types on one axis, zeros included), so every
    * (pair, lag) correlates over the same n.
    *
    * Same exactness contract as #178: Pearson r cleared to integer
    * cross-products over exact int64 sums; 3 IEEE ops r4'd once per
    * output row; NULL on zero variance.
    *
    * Scale: the dense table is (|types| × span) rows — axis-sized, not
    * event-sized; the per-lag pairing is an equi-join of that table
    * with itself on (hr − lag) keyed by hour, and the final agg is
    * |types|²·5 rows. Event volume only touches the first keyed agg.
    */
  def tsCrossCorr(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(3600000000L)).cast("long").as("hr"))
      .agg(count(lit(1)).as("c"))
    val span = hourly.agg(min("hr").as("lo"), max("hr").as("hi"))
    val types = hourly.select("event_type").distinct()
    val axis = types.crossJoin(broadcast(span))
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("hr"))
    val dense = axis.join(hourly, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("c"), lit(0L)).as("x"))
    val lagged = (-2 to 2).map { l =>
      dense.as("a").join(dense.as("b"),
          col("a.hr") === col("b.hr") - lit(l.toLong) &&
            col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          lit(l.toLong).as("lag"),
          col("a.x").as("x"), col("b.x").as("y"))
    }.reduce(_ union _)
    lagged.groupBy("type_a", "type_b", "lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("type_a"), col("type_b"), col("lag"), col("n"),
        r4((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(when(
            (col("n") * col("sxx") - col("sx") * col("sx")) === 0L ||
            (col("n") * col("syy") - col("sy") * col("sy")) === 0L,
            lit(null).cast("double"))
            .otherwise(
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("xcorr"))
      .orderBy("type_a", "type_b", "lag")
  }

  val tsCrossCorrSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM hourly),
       |axis AS (
       |  SELECT t.event_type, unnest(range(lo, hi + 1)) AS hr
       |  FROM (SELECT DISTINCT event_type FROM hourly) t CROSS JOIN span),
       |dense AS (
       |  SELECT a.event_type, a.hr, COALESCE(h.c, 0) AS x
       |  FROM axis a LEFT JOIN hourly h
       |    ON a.event_type = h.event_type AND a.hr = h.hr),
       |lagged AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    l.lag, a.x AS x, b.x AS y
       |  FROM dense a JOIN
       |    (SELECT CAST(unnest([-2, -1, 0, 1, 2]) AS BIGINT) AS lag) l
       |    ON TRUE
       |  JOIN dense b
       |    ON a.hr = b.hr - l.lag AND a.event_type < b.event_type),
       |s AS (
       |  SELECT type_a, type_b, lag, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM lagged GROUP BY 1, 2, 3)
       |SELECT type_a, type_b, lag, n,
       |  ${r4Sql("""(n * sxy - sx * sy) / sqrt(CASE
       |      WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
       |      ELSE CAST(n * sxx - sx * sx AS DOUBLE) *
       |           CAST(n * syy - sy * sy AS DOUBLE) END)""")} AS xcorr
       |FROM s ORDER BY type_a, type_b, lag""".stripMargin

  // --------------------------------------------------------------- #185
  /** #185 source-pair vocabulary overlap matrix: Jaccard of the
    * distinct-token vocabularies of every source pair — the corpus
    * composition diagnostic ("are src3 and src7 the same crawl under
    * two names?") read before mixing decisions (#67/#168/#177 all
    * assume sources are distinct populations; this measures it).
    *
    * Exactness: set sizes and intersections are exact integers off
    * one distinct (source, token) table; Jaccard is ONE r4'd
    * division.
    *
    * Scale: the distinct (source, token) table is vocabulary-sized ×
    * |sources|; the pair intersection is an equi-join on token (never
    * a doc-level flow), and the output is |sources|² rows. At 100 TB
    * the token join is the one data-shaped shuffle and it's bounded
    * by vocabulary, not corpus volume.
    */
  def textSourceJaccard(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .distinct()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("nv"))
    val inter = vocab.as("a")
      .join(vocab.as("b"),
        col("a.token") === col("b.token") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(Tables.maybeBroadcast(sizes.toDF("src_a", "na")), "src_a")
      .join(Tables.maybeBroadcast(sizes.toDF("src_b", "nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("na"), col("nb"),
        col("inter"),
        r4(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  val textSourceJaccardSql: String =
    s"""WITH vocab AS (
       |  SELECT DISTINCT source, token
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
       |        FROM documents)),
       |sizes AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nv
       |  FROM vocab GROUP BY source),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM vocab a JOIN vocab b
       |    ON a.token = b.token AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, sa.nv AS na, sb.nv AS nb, inter,
       |  ${r4Sql("inter / CAST(sa.nv + sb.nv - inter AS DOUBLE)")} AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.source = src_a
       |JOIN sizes sb ON sb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  // --------------------------------------------------------------- #186
  /** #186 entropy-ranked curriculum schedule: order sources by mean
    * integer-bits token entropy (highest-diversity first — the
    * "clean/diverse early, repetitive tail late" curriculum shape)
    * and emit each source's position plus the cumulative token
    * schedule a trainer would consume. The per-source score is the
    * EXACT ratio of summed per-doc surprisal numerators to summed
    * tokens (one r4'd division per source — not a mean of per-doc
    * rounded means, which would compound r4 grids).
    *
    * Scale: #175's two keyed aggs roll straight up to |sources| rows;
    * ranking and the cumulative window run on that structure-sized
    * table.
    */
  def mixCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val bits: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => (length(bin(c)) - 1).cast("long")
    val perDoc = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "source", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * bits(col("c"))).as("sum_cbits"))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens") * bits(col("n_tokens")) - col("sum_cbits"))
          .as("surprisal"))
    val perSrc = perDoc.groupBy("source")
      .agg(sum("n_tokens").as("n_tokens"),
        sum("surprisal").as("surprisal"))
      .withColumn("score",
        r4(col("surprisal").cast("double") / col("n_tokens")))
    val byScore = Window.orderBy(desc("score"), col("source"))
    perSrc
      .withColumn("position", row_number().over(byScore).cast("long"))
      .withColumn("cum_tokens", sum("n_tokens").over(
        byScore.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_tokens",
        sum("n_tokens").over(Window.partitionBy()))
      .select(col("position"), col("source"), col("score"),
        col("n_tokens"), col("cum_tokens"),
        r4(col("cum_tokens").cast("double") / col("total_tokens"))
          .as("cum_share"))
      .orderBy("position")
  }

  val mixCurriculumSql: String =
    s"""WITH counts AS (
       |  SELECT doc_id, source, token, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, source,
       |          unnest(string_split(text, ' ')) AS token
       |        FROM documents)
       |  GROUP BY 1, 2, 3),
       |per_doc AS (
       |  SELECT source,
       |    CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(SUM(c) * (length(bin(CAST(SUM(c) AS BIGINT))) - 1)
       |      - SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS surprisal
       |  FROM counts GROUP BY doc_id, source),
       |per_src AS (
       |  SELECT source,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(surprisal) AS BIGINT) AS surprisal
       |  FROM per_doc GROUP BY source),
       |scored AS (
       |  SELECT source, n_tokens,
       |    ${r4Sql("surprisal / CAST(n_tokens AS DOUBLE)")} AS score
       |  FROM per_src),
       |ranked AS (
       |  SELECT source, n_tokens, score,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, source)
       |      AS BIGINT) AS position,
       |    CAST(SUM(n_tokens) OVER (ORDER BY score DESC, source
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
       |  FROM scored)
       |SELECT position, source, score, n_tokens, cum_tokens,
       |  ${r4Sql("cum_tokens / CAST(total_tokens AS DOUBLE)")} AS cum_share
       |FROM ranked ORDER BY position""".stripMargin

  // --------------------------------------------------------------- #187
  /** #187 MMR-diversified top-3 retrieval (λ = 0.7): greedy maximal
    * marginal relevance over a top-10 cosine candidate pool per query
    * — position 1 is the plain nearest neighbor, positions 2-3
    * maximize 0.7·sim(q,c) − 0.3·max_{s∈selected} sim(c,s). The
    * redundancy-avoiding retrieval contract RAG stacks and negative
    * miners want (#171 mines HARD negatives; MMR prevents them from
    * all being the same near-duplicate).
    *
    * The greedy recursion is unrolled 2 steps (k = 3), each an argmax
    * (row_number over (score DESC, c_id) = 1) after attaching the
    * previous selections' penalty cosines. Scores are identical
    * expression trees over identical doubles in both engines
    * (correctly-rounded ops, no accumulation), so the orderings — and
    * the r4'd reported scores — are engine-stable.
    *
    * Scale: #32's broadcast-query contract bounds the pool build (the
    * corpus never shuffles; WindowGroupLimit prunes per-partition);
    * everything after operates on |queries| × 10 rows.
    */
  def annMmr(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    annMmrFrom(
      emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
      emb.where(col("vec_id") % 50 === 0 && col("vec_id") < 1000000L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
  }

  /** The production entry point (the #32 `*From` contract): caller
    * supplies the corpus and a BOUNDED query set — the eval-geometry
    * default above grows queries with the corpus only so the oracle
    * has rows to check.
    */
  def annMmrFrom(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val wPool = Window.partitionBy("q_id")
      .orderBy(desc("cos_q"), col("c_id"))
    val pool = corpus.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("cos_q", expr("cosine_f32(q_emb, c_emb)"))
      .withColumn("prank", row_number().over(wPool).cast("long"))
      .where(col("prank") <= 10)
      .select("q_id", "c_id", "c_emb", "cos_q")
    val s1 = pool.withColumn("r", row_number().over(wPool))
      .where(col("r") === 1)
      .select(col("q_id"), col("c_id").as("s1_id"),
        col("c_emb").as("s1_emb"), col("cos_q").as("s1_cos"))
    val step2 = pool.join(Tables.maybeBroadcast(s1), "q_id")
      .where(col("c_id") =!= col("s1_id"))
      .withColumn("pen1", expr("cosine_f32(c_emb, s1_emb)"))
      .withColumn("mmr", lit(0.7) * col("cos_q") - lit(0.3) * col("pen1"))
    val wMmr = Window.partitionBy("q_id").orderBy(desc("mmr"), col("c_id"))
    val s2 = step2.withColumn("r", row_number().over(wMmr))
      .where(col("r") === 1)
      .select(col("q_id"), col("c_id").as("s2_id"),
        col("c_emb").as("s2_emb"), col("mmr").as("s2_mmr"),
        col("cos_q").as("s2_cos"))
    val step3 = step2.drop("mmr", "pen1")
      .join(Tables.maybeBroadcast(s2.drop("s2_mmr", "s2_cos")), "q_id")
      .where(col("c_id") =!= col("s2_id"))
      .withColumn("mmr", lit(0.7) * col("cos_q") - lit(0.3) *
        greatest(expr("cosine_f32(c_emb, s1_emb)"),
          expr("cosine_f32(c_emb, s2_emb)")))
    val s3 = step3.withColumn("r", row_number().over(wMmr))
      .where(col("r") === 1)
      .select(col("q_id"), col("c_id").as("s3_id"),
        col("mmr").as("s3_mmr"), col("cos_q").as("s3_cos"))
    s1.select(col("q_id"), lit(1L).as("position"),
        col("s1_id").as("c_id"), r4(col("s1_cos")).as("cosine"),
        r4(col("s1_cos")).as("score"))
      .union(s2.select(col("q_id"), lit(2L).as("position"),
        col("s2_id").as("c_id"), r4(col("s2_cos")).as("cosine"),
        r4(col("s2_mmr")).as("score")))
      .union(s3.select(col("q_id"), lit(3L).as("position"),
        col("s3_id").as("c_id"), r4(col("s3_cos")).as("cosine"),
        r4(col("s3_mmr")).as("score")))
      .orderBy("q_id", "position")
  }

  val annMmrSql: String = {
    val dot = (a: String, b: String) =>
      s"""list_sum(list_transform(range(1, len($a) + 1),
         |      i -> $a[i]::DOUBLE * $b[i]::DOUBLE))""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS norm
       |  FROM embeddings),
       |pool AS (
       |  SELECT q_id, c_id, c_emb, c_norm, q_emb, q_norm, cos_q FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      c.embedding AS c_emb, c.norm AS c_norm,
       |      q.embedding AS q_emb, q.norm AS q_norm,
       |      ${dot("q.embedding", "c.embedding")} / (q.norm * c.norm)
       |        AS cos_q,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dot("q.embedding", "c.embedding")}
       |          / (q.norm * c.norm) DESC, c.vec_id) AS prank
       |    FROM v q JOIN v c
       |      ON q.vec_id % 50 = 0 AND q.vec_id < 1000000 AND q.vec_id <> c.vec_id)
       |  WHERE prank <= 10),
       |s1 AS (
       |  SELECT q_id, c_id AS s1_id, c_emb AS s1_emb, c_norm AS s1_norm,
       |    cos_q AS s1_cos
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos_q DESC, c_id) AS r FROM pool) WHERE r = 1),
       |step2 AS (
       |  SELECT p.*, s1_id, s1_emb, s1_norm, s1_cos,
       |    0.7 * cos_q - 0.3 * (${dot("p.c_emb", "s1_emb")}
       |      / (p.c_norm * s1_norm)) AS mmr
       |  FROM pool p JOIN s1 USING (q_id) WHERE p.c_id <> s1_id),
       |s2 AS (
       |  SELECT q_id, c_id AS s2_id, c_emb AS s2_emb, c_norm AS s2_norm,
       |    cos_q AS s2_cos, mmr AS s2_mmr
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY mmr DESC, c_id) AS r FROM step2) WHERE r = 1),
       |step3 AS (
       |  SELECT t.q_id, t.c_id, t.cos_q,
       |    0.7 * t.cos_q - 0.3 * greatest(
       |      ${dot("t.c_emb", "t.s1_emb")} / (t.c_norm * t.s1_norm),
       |      ${dot("t.c_emb", "s2_emb")} / (t.c_norm * s2_norm)) AS mmr
       |  FROM (SELECT p.*, s1_id, s1_emb, s1_norm FROM pool p
       |        JOIN s1 USING (q_id) WHERE p.c_id <> s1_id) t
       |  JOIN s2 ON t.q_id = s2.q_id AND t.c_id <> s2_id),
       |s3 AS (
       |  SELECT q_id, c_id AS s3_id, cos_q AS s3_cos, mmr AS s3_mmr
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY mmr DESC, c_id) AS r FROM step3) WHERE r = 1),
       |outp AS (
       |  SELECT q_id, 1 AS position, s1_id AS c_id,
       |    ${r4Sql("s1_cos")} AS cosine, ${r4Sql("s1_cos")} AS score
       |  FROM s1
       |  UNION ALL
       |  SELECT q_id, 2, s2_id, ${r4Sql("s2_cos")}, ${r4Sql("s2_mmr")}
       |  FROM s2
       |  UNION ALL
       |  SELECT q_id, 3, s3_id, ${r4Sql("s3_cos")}, ${r4Sql("s3_mmr")}
       |  FROM s3)
       |SELECT q_id, CAST(position AS BIGINT) AS position, c_id,
       |  cosine, score
       |FROM outp ORDER BY q_id, position""".stripMargin
  }

  // --------------------------------------------------------------- #188
  /** #188 dedup threshold yield curve: for each Jaccard threshold in
    * {0.5, 0.6, 0.7, 0.8, 0.9}, how many candidate pairs and how many
    * distinct documents the dedup pass would touch — the tuning
    * readout that turns "pick 0.8" from folklore into a measured
    * trade (yield vs threshold), run BEFORE committing a full dedup
    * sweep. Pairs are the #179 md5-portable LSH candidates scored
    * with exact trigram Jaccard, so the curve measures exactly what
    * the production pass would act on (and the oracle reproduces the
    * candidate set byte-for-byte — thresholds below #28's 0.8 stay
    * oracle-checkable, which native xxhash64 candidates can't offer).
    *
    * Scale: the candidate/verify shape of #28 plus a 5-row threshold
    * explode of the SCORED pair table (structure-sized).
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    // reads the shared scored-candidate table from its LayoutCache
    // parquet (r12) instead of re-running the shingle→signature→
    // banding→attach pipeline (the r11 4× outlier)
    val scored = portableScoredCached(spark, dir)
      .select(col("id_a"), col("id_b"),
        (col("inter") * 10L).as("i10"), col("uni"))
    // threshold t in tenths: jaccard >= t/10  <=>  10*inter >= t*uni
    // (exact integer comparison — no float boundary)
    // each swept pair becomes its two endpoints (side 0 = id_a), so one
    // keyed agg counts both the distinct documents and the pairs
    scored.crossJoin(
        broadcast(spark.range(5, 10).select(col("id").as("t"))))
      .where(col("i10") >= col("t") * col("uni"))
      .select(col("t"),
        posexplode(array(col("id_a"), col("id_b")))
          .as(Seq("side", "doc_id")))
      .groupBy("t")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(when(col("side") === 0, true)).as("n_pairs"))
      .select((col("t").cast("double") / 10).as("threshold"),
        col("n_pairs"), col("n_docs"))
      .orderBy("threshold")
  }

  val dedupThresholdSweepSql: String =
    s"""WITH $portableCandidatesSqlCtes,
       |scored AS (
       |  SELECT id_a, id_b,
       |    10 * len(list_intersect(sa.sh, sb.sh)) AS i10,
       |    len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
       |      AS uni
       |  FROM pairs JOIN sig sa ON sa.doc_id = id_a
       |             JOIN sig sb ON sb.doc_id = id_b),
       |swept AS (
       |  SELECT t.t, id_a, id_b FROM scored CROSS JOIN
       |    (SELECT CAST(unnest(range(5, 10)) AS BIGINT) AS t) t
       |  WHERE i10 >= t.t * uni),
       |np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |       FROM swept GROUP BY t),
       |nd AS (
       |  SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM (SELECT t, id_a AS doc_id FROM swept
       |        UNION ALL SELECT t, id_b FROM swept)
       |  GROUP BY t)
       |SELECT t / 10.0 AS threshold, n_pairs, n_docs
       |FROM np JOIN nd USING (t) ORDER BY threshold""".stripMargin

  // --------------------------------------------------------------- #189
  /** #189 audience-overlap matrix: Jaccard of the distinct USER sets
    * of every event-type pair — #185's device pointed at behavior
    * ("do viewers and purchasers overlap, or are they disjoint
    * populations?"), the readout funnel design (#48) and attribution
    * windows (#145) implicitly assume.
    *
    * Scale: the distinct (type, user) table is audience-sized; the
    * pair intersection joins on user_id (audience-shaped, not event-
    * shaped); output is |types|² rows.
    */
  def eventsUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val aud = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = aud.groupBy("event_type").agg(count(lit(1)).as("nu"))
    aud.as("a")
      .join(aud.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("inter"))
      .join(Tables.maybeBroadcast(sizes.toDF("type_a", "na")), "type_a")
      .join(Tables.maybeBroadcast(sizes.toDF("type_b", "nb")), "type_b")
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        col("inter"),
        r4(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  val eventsUserOverlapSql: String =
    s"""WITH aud AS (
       |  SELECT DISTINCT event_type, user_id FROM events),
       |sizes AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu
       |  FROM aud GROUP BY event_type),
       |inter AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM aud a JOIN aud b
       |    ON a.user_id = b.user_id AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT type_a, type_b, sa.nu AS na, sb.nu AS nb, inter,
       |  ${r4Sql("inter / CAST(sa.nu + sb.nu - inter AS DOUBLE)")} AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.event_type = type_a
       |JOIN sizes sb ON sb.event_type = type_b
       |ORDER BY type_a, type_b""".stripMargin

  // --------------------------------------------------------------- #190
  /** #190 embedding drift monitor: per label, the cosine between the
    * centroid of the EARLY half and the LATE half of the vector
    * population (halves by vec_id rank — the ingestion-order proxy
    * this synthetic corpus offers; swap the rank for an ingest
    * timestamp in production). cos ≈ 1 means the embedding
    * distribution is stationary; a dropping cosine is the
    * "re-embed / retrain the quantizer" alarm for every index built
    * on #55/#84/#107's geometry.
    *
    * Exactness: cosine is scale-invariant, so centroids are
    * represented by per-dim SUMS — exact via the sumDec contract
    * (float32 widens to double losslessly, decimal sums are
    * order-free). The three 64-term dot products fold over
    * dim-SORTED arrays (sequential, deterministic in both engines —
    * the list_sum convention the ann oracles already pin), then 3
    * IEEE ops r4'd once per label.
    *
    * Scale: one explode → keyed decimal agg (map-side combinable) to
    * |labels|×dims rows; everything after is structure-sized.
    */
  def embedLabelDrift(spark: SparkSession, dir: String): DataFrame = {
    val byLabel = Window.partitionBy("label")
    val halves = Tables(spark, dir, "embeddings")
      .withColumn("r", row_number().over(byLabel.orderBy("vec_id")))
      .withColumn("n", count(lit(1)).over(byLabel))
      .where(col("n") >= 2)
      .withColumn("half",
        when(col("r") * 2 <= col("n"), lit("early")).otherwise(lit("late")))
    val sums = halves
      .select(col("label"), col("half"), posexplode(col("embedding")))
      .select(col("label"), col("half"), col("pos").as("dim"),
        col("col").cast("double").as("x"))
      .groupBy("label", "half", "dim")
      .agg(sumDec(col("x"), 38, 18).as("s"))
    val paired = sums.groupBy("label", "dim")
      .agg(max(when(col("half") === "early", col("s"))).as("sa"),
        max(when(col("half") === "late", col("s"))).as("sb"))
      .select(col("label"), col("dim"),
        (col("sa") * col("sb")).as("pab"),
        (col("sa") * col("sa")).as("paa"),
        (col("sb") * col("sb")).as("pbb"))
    val counts = halves.groupBy("label")
      .agg(sum(when(col("half") === "early", 1L).otherwise(0L))
          .as("n_early"),
        sum(when(col("half") === "late", 1L).otherwise(0L)).as("n_late"))
    paired
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("pab"),
        col("paa"), col("pbb")))).as("terms"))
      .select(col("label"),
        expr("aggregate(terms, cast(0.0 as double), (a, t) -> a + t.pab)")
          .as("nab"),
        expr("aggregate(terms, cast(0.0 as double), (a, t) -> a + t.paa)")
          .as("naa"),
        expr("aggregate(terms, cast(0.0 as double), (a, t) -> a + t.pbb)")
          .as("nbb"))
      .join(Tables.maybeBroadcast(counts), "label")
      .select(col("label"), col("n_early"), col("n_late"),
        r4(col("nab") / sqrt(col("naa") * col("nbb"))).as("cos_drift"))
      .orderBy("label")
  }

  val embedLabelDriftSql: String =
    s"""WITH ranked AS (
       |  SELECT label, vec_id, embedding,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS r,
       |    COUNT(*) OVER (PARTITION BY label) AS n
       |  FROM embeddings),
       |halves AS (
       |  SELECT label,
       |    CASE WHEN r * 2 <= n THEN 'early' ELSE 'late' END AS half,
       |    embedding
       |  FROM ranked WHERE n >= 2),
       |ex AS (
       |  SELECT label, half, j AS dim, embedding[j]::DOUBLE AS x
       |  FROM (SELECT label, half, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS j FROM halves)),
       |sums AS (
       |  SELECT label, half, dim, ${sumDecSql("x", 38, 18)} AS s
       |  FROM ex GROUP BY 1, 2, 3),
       |paired AS (
       |  SELECT label, dim,
       |    MAX(CASE WHEN half = 'early' THEN s END) AS sa,
       |    MAX(CASE WHEN half = 'late' THEN s END) AS sb
       |  FROM sums GROUP BY 1, 2),
       |folded AS (
       |  SELECT label,
       |    list_sum(list(sa * sb ORDER BY dim)) AS nab,
       |    list_sum(list(sa * sa ORDER BY dim)) AS naa,
       |    list_sum(list(sb * sb ORDER BY dim)) AS nbb
       |  FROM paired GROUP BY label),
       |counts AS (
       |  SELECT label,
       |    CAST(SUM(CASE WHEN half = 'early' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_early,
       |    CAST(SUM(CASE WHEN half = 'late' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_late
       |  FROM halves GROUP BY label)
       |SELECT label, n_early, n_late,
       |  ${r4Sql("nab / sqrt(naa * nbb)")} AS cos_drift
       |FROM folded JOIN counts USING (label)
       |ORDER BY label""".stripMargin

  // --------------------------------------------------------------- #191
  /** #191 per-source character-class composition profile: fractions of
    * lowercase letters, digits, spaces, and other characters — the
    * charset/script QC read next to #36's language ID ("is src12
    * suddenly 40% digits?" catches encoding regressions and log spam
    * at the source level before they hit per-doc filters).
    *
    * Counting device: class count = length(text) − length(text with
    * the class deleted) — one global regexp_replace per class, pure
    * integer arithmetic after that (DuckDB mirrors with the 'g'
    * flag). Σ per source, then one r4'd division per fraction.
    *
    * Scale: per-doc map-side projection, one keyed agg with map-side
    * combine to |sources| rows — the #34 shape.
    */
  def textScriptProfile(spark: SparkSession, dir: String): DataFrame = {
    def cnt(cls: String) =
      (length(col("text")) -
        length(regexp_replace(col("text"), cls, ""))).cast("long")
    val per = Tables(spark, dir, "documents")
      .select(col("source"),
        length(col("text")).cast("long").as("nc"),
        cnt("[a-z]").as("letters"),
        cnt("[0-9]").as("digits"),
        cnt(" ").as("spaces"))
    per.groupBy("source")
      .agg(sum("nc").as("n_chars"), sum("letters").as("letters"),
        sum("digits").as("digits"), sum("spaces").as("spaces"))
      .select(col("source"), col("n_chars"),
        r4(col("letters").cast("double") / col("n_chars")).as("letter_frac"),
        r4(col("digits").cast("double") / col("n_chars")).as("digit_frac"),
        r4(col("spaces").cast("double") / col("n_chars")).as("space_frac"),
        r4((col("n_chars") - col("letters") - col("digits") - col("spaces"))
          .cast("double") / col("n_chars")).as("other_frac"))
      .orderBy("source")
  }

  val textScriptProfileSql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(length(text) AS BIGINT) AS nc,
       |    CAST(length(text) -
       |      length(regexp_replace(text, '[a-z]', '', 'g')) AS BIGINT)
       |      AS letters,
       |    CAST(length(text) -
       |      length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
       |      AS digits,
       |    CAST(length(text) -
       |      length(regexp_replace(text, ' ', '', 'g')) AS BIGINT)
       |      AS spaces
       |  FROM documents),
       |agg AS (
       |  SELECT source, CAST(SUM(nc) AS BIGINT) AS n_chars,
       |    CAST(SUM(letters) AS BIGINT) AS letters,
       |    CAST(SUM(digits) AS BIGINT) AS digits,
       |    CAST(SUM(spaces) AS BIGINT) AS spaces
       |  FROM per GROUP BY source)
       |SELECT source, n_chars,
       |  ${r4Sql("letters / CAST(n_chars AS DOUBLE)")} AS letter_frac,
       |  ${r4Sql("digits / CAST(n_chars AS DOUBLE)")} AS digit_frac,
       |  ${r4Sql("spaces / CAST(n_chars AS DOUBLE)")} AS space_frac,
       |  ${r4Sql("(n_chars - letters - digits - spaces) / " +
                  "CAST(n_chars AS DOUBLE)")} AS other_frac
       |FROM agg ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #192
  /** #192 rolling median (5-order frame) of each customer's order
    * values — the robust smoother the moving AVERAGE family
    * (#47/#54) can't provide: one pathological order shifts a mean
    * for 5 frames but leaves the median untouched. Exact order-
    * statistic semantics: the frame's values sort and the
    * ceil(n/2)-th is selected (n < 5 at history starts) — selection,
    * not interpolation, so the emitted double IS an input value and
    * both engines agree bit-for-bit.
    *
    * Scale: one per-customer window Exchange; the frame is O(1) per
    * row (collect of ≤ 5 values), so memory per row is bounded — no
    * whole-partition buffering.
    */
  def windowRollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-4, Window.currentRow)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("frame", array_sort(collect_list("o_totalprice").over(w)))
      .select(col("o_custkey"), col("o_orderkey"),
        expr("element_at(frame, cast((size(frame) + 1) div 2 as int))")
          .as("rolling_median"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowRollingMedianSql: String =
    """SELECT o_custkey, o_orderkey,
      |  list_sort(frame)[CAST((len(frame) + 1) // 2 AS INT)]
      |    AS rolling_median
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    list(o_totalprice) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS frame
      |  FROM orders)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------- #193
  /** #193 windowed audio-style feature extraction over binary
    * payloads: 256-byte windows, per-window energy Σ byte² (the RMS
    * proxy a real pipeline computes from PCM samples — the byte loop
    * is the STUB standing in for the codec, per the #39 convention),
    * rolled up per document to (window count, peak window index,
    * peak energy, mean energy). Completes the multimodal quartet's
    * missing shape: #50/#51 emit per-chunk records; this emits the
    * per-FILE typed feature row a training pipeline joins back to
    * metadata.
    *
    * Exactness: energies are exact integer sums of byte² ≤ 255²·256
    * per window; peak selection ties break on the LOWEST window index
    * (min over (−energy, idx) structs); the mean is ONE r4'd
    * division.
    *
    * Scale: the payload never shuffles — windowing and energy are
    * map-side on the scan partitions (partition-batched typed
    * iteration, the mapInPandas batch shape); only the 5-column
    * feature row flows onward.
    */
  def mmAudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bin = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      // upstream extraction failures arrive as null payloads at 100 TB
      // — skip them instead of NPE-ing the task (the oracle agrees:
      // a null text generates zero windows)
      .where(col("payload").isNotNull)
      .as[Multimodal.BinaryDoc]
    bin.mapPartitions(_.map { d =>
      val n = d.payload.length
      val nw = (n + 255) / 256
      var peakIdx = 0L; var peakE = -1L; var sumE = 0L
      var w = 0
      while (w < nw) {
        val start = w * 256
        val end = math.min(start + 256, n)
        var e = 0L; var i = start
        while (i < end) {
          val b = java.lang.Byte.toUnsignedInt(d.payload(i))
          e += b.toLong * b; i += 1
        }
        if (e > peakE) { peakE = e; peakIdx = w.toLong }
        sumE += e; w += 1
      }
      AudioFeat(d.doc_id, n.toLong, nw.toLong, peakIdx, peakE,
        math.floor(sumE.toDouble / nw * 10000.0 + 0.5) / 10000.0)
    }).toDF()
      .orderBy("doc_id")
  }

  val mmAudioFeaturesSql: String =
    s"""WITH wins AS (
       |  SELECT doc_id, length(text) AS n,
       |    unnest(range(0, (length(text) + 255) // 256)) AS w,
       |    text
       |  FROM documents),
       |energy AS (
       |  SELECT doc_id, n, w,
       |    CAST(list_sum(list_transform(
       |      range(CAST(w * 256 + 1 AS INT),
       |        CAST(least(w * 256 + 256, n) + 1 AS INT)),
       |      i -> ascii(substr(text, CAST(i AS INT), 1)) *
       |           ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
       |      AS e
       |  FROM wins)
       |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bytes,
       |  CAST(COUNT(*) AS BIGINT) AS n_windows,
       |  CAST((MIN(struct_pack(ne := -e, i := w))).i AS BIGINT)
       |    AS peak_idx,
       |  CAST(MAX(e) AS BIGINT) AS peak_energy,
       |  ${r4Sql("SUM(e) / CAST(COUNT(*) AS DOUBLE)")} AS mean_energy
       |FROM energy GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #194
  /** #194 NEAREST-neighbor as-of join: each view pairs with the
    * closest purchase (same user) by |Δt| within a 1-hour tolerance —
    * the sensor-fusion/attribution variant #10's BACKWARD as-of can't
    * express (a purchase 5 s after the view beats one 50 min before).
    * Equidistant ties take the earlier (backward) purchase; the
    * same-instant case is backward with Δ = 0.
    *
    * Same plan shape as #143: ONE union + ONE per-user window
    * Exchange, backward/forward IGNORE-NULLS window passes carrying
    * (ts, id, value) structs — never a pair-explosion join. All
    * deltas are exact integer microseconds; the tolerance and the
    * nearer-side choice are integer compares.
    */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.eventsUs(spark, dir)
    val ev = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("u"), col("ts_us").as("t"),
        lit(0).as("tag"), lit(null).cast("long").as("probe_id"),
        struct(col("ts_us").as("pt"), col("event_id").as("pid"),
          col("value").as("pv")).as("p"),
        col("event_id").as("tie"))
    val probes = events.where(col("event_type") === "view")
      .select(col("user_id").as("u"), col("ts_us").as("t"),
        lit(1).as("tag"), col("event_id").as("probe_id"),
        lit(null).cast("struct<pt:bigint,pid:bigint,pv:double>").as("p"),
        col("event_id").as("tie"))
    val wb = Window.partitionBy("u").orderBy("t", "tag", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("u").orderBy("t", "tag", "tie")
      .rowsBetween(1, Window.unboundedFollowing)
    val tol = 3600000000L
    ev.union(probes)
      .withColumn("pb", last(col("p"), ignoreNulls = true).over(wb))
      .withColumn("pf", first(col("p"), ignoreNulls = true).over(wf))
      .where(col("tag") === 1)
      .withColumn("db", col("t") - col("pb.pt"))
      .withColumn("df", col("pf.pt") - col("t"))
      .withColumn("pick", when(col("pb").isNull && col("pf").isNull,
          lit(null).cast("string"))
        .when(col("pf").isNull, lit("b"))
        .when(col("pb").isNull, lit("f"))
        .when(col("db") <= col("df"), lit("b")).otherwise(lit("f")))
      .withColumn("delta_us",
        when(col("pick") === "b", col("db")).otherwise(col("df")))
      .where(col("pick").isNotNull && col("delta_us") <= tol)
      .select(col("probe_id").as("view_event_id"), col("u").as("user_id"),
        when(col("pick") === "b", col("pb.pid")).otherwise(col("pf.pid"))
          .as("purchase_event_id"),
        col("delta_us"),
        when(col("pick") === "b", col("pb.pv")).otherwise(col("pf.pv"))
          .as("purchase_value"))
      .orderBy("view_event_id")
  }

  val joinAsofNearestSql: String =
    """WITH ev AS (
      |  SELECT user_id AS u, epoch_us(ts) AS t, 0 AS tag,
      |    CAST(NULL AS BIGINT) AS probe_id,
      |    struct_pack(pt := epoch_us(ts), pid := event_id, pv := value)
      |      AS p,
      |    event_id AS tie
      |  FROM events WHERE event_type = 'purchase'),
      |probes AS (
      |  SELECT user_id AS u, epoch_us(ts) AS t, 1 AS tag,
      |    event_id AS probe_id,
      |    CAST(NULL AS STRUCT(pt BIGINT, pid BIGINT, pv DOUBLE)) AS p,
      |    event_id AS tie
      |  FROM events WHERE event_type = 'view'),
      |uni AS (SELECT * FROM ev UNION ALL SELECT * FROM probes),
      |w AS (
      |  SELECT *,
      |    LAST_VALUE(p IGNORE NULLS) OVER (PARTITION BY u
      |      ORDER BY t, tag, tie
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
      |    FIRST_VALUE(p IGNORE NULLS) OVER (PARTITION BY u
      |      ORDER BY t, tag, tie
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS pf
      |  FROM uni),
      |chosen AS (
      |  SELECT probe_id, u,
      |    CASE WHEN pb IS NULL AND pf IS NULL THEN NULL
      |         WHEN pf IS NULL THEN 'b'
      |         WHEN pb IS NULL THEN 'f'
      |         WHEN t - pb.pt <= pf.pt - t THEN 'b' ELSE 'f' END AS pick,
      |    t - pb.pt AS db, pf.pt - t AS df, pb, pf
      |  FROM w WHERE tag = 1)
      |SELECT probe_id AS view_event_id, u AS user_id,
      |  CASE WHEN pick = 'b' THEN pb.pid ELSE pf.pid END
      |    AS purchase_event_id,
      |  CAST(CASE WHEN pick = 'b' THEN db ELSE df END AS BIGINT)
      |    AS delta_us,
      |  CASE WHEN pick = 'b' THEN pb.pv ELSE pf.pv END AS purchase_value
      |FROM chosen
      |WHERE pick IS NOT NULL
      |  AND (CASE WHEN pick = 'b' THEN db ELSE df END) <= 3600000000
      |ORDER BY view_event_id""".stripMargin

  // --------------------------------------------------------------- #195
  /** #195 prefix-duplicate detection: documents sharing an identical
    * 16-token PREFIX — the truncation-artifact dedup pass (a crawl
    * that cut the same page at different lengths produces docs exact
    * dedup (#26) and even fingerprint dedup (#60) miss, while their
    * shared prefix gives them away). The #60 group-report shape:
    * prefix fingerprint → keep the smallest doc_id, count the rest.
    */
  def dedupPrefix(spark: SparkSession, dir: String): DataFrame = {
    Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 16)
      .select(col("doc_id"),
        md5(expr("concat_ws(' ', slice(t, 1, 16))")).as("prefix_fp"))
      .groupBy("prefix_fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") > 1)
      .orderBy("prefix_fp")
  }

  val dedupPrefixSql: String =
    """SELECT md5(array_to_string(t[1:16], ' ')) AS prefix_fp,
      |  MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |WHERE len(t) >= 16
      |GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY prefix_fp""".stripMargin

  // --------------------------------------------------------------- #196
  /** #196 vocabulary growth curve (the Heaps-law QC readout):
    * processing sources in lexicographic order, how many NEW token
    * types each source contributes, cumulatively — the "is more data
    * still buying new vocabulary?" curve that motivates dedup and
    * source-mixing decisions. A token's first source is its MIN
    * source name (exact, order-free); the per-source rollup and both
    * cumulative columns are integer windows over |sources| rows.
    *
    * Scale: one distinct (token, source) reduce, one min-per-token
    * keyed agg — vocabulary-shaped flows; the curve itself is
    * structure-sized.
    */
  def corpusVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val perSrcTokens = toks.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"))
    val firstSrc = toks.groupBy("token").agg(min("source").as("source"))
      .groupBy("source").agg(count(lit(1)).as("new_types"))
    val wCum = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSrcTokens
      .join(firstSrc, Seq("source"), "left")
      .select(col("source"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum("n_tokens").over(wCum))
      .withColumn("cum_types", sum("new_types").over(wCum))
      .withColumn("new_type_rate",
        r4(col("new_types").cast("double") / col("n_tokens")))
      .orderBy("source")
  }

  val corpusVocabGrowthSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |per_src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
       |  FROM toks GROUP BY source),
       |first_src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
       |    SELECT token, MIN(source) AS source FROM toks GROUP BY token)
       |  GROUP BY source)
       |SELECT source, n_tokens,
       |  COALESCE(new_types, 0) AS new_types,
       |  CAST(SUM(n_tokens) OVER (ORDER BY source
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY source
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types,
       |  ${r4Sql("COALESCE(new_types, 0) / CAST(n_tokens AS DOUBLE)")}
       |    AS new_type_rate
       |FROM per_src LEFT JOIN first_src USING (source)
       |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #197
  /** #197 active-user rollup: per day, DAU plus rolling 7-day (WAU)
    * and 30-day (MAU) distinct users and the DAU/MAU "stickiness"
    * ratio — the product-health dashboard row. Rolling DISTINCT
    * cannot ride an ordinary window frame (distincts don't compose),
    * so each day joins the distinct (user, day) table over its
    * trailing range — the axis is span-sized, so the replication
    * factor is the window length, never event volume.
    *
    * Counts are exact integers; stickiness is ONE r4'd division.
    */
  def eventsActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.eventsUs(spark, dir)
      .select(col("user_id"),
        (col("ts_us") / lit(86400000000L)).cast("long").as("day"))
      .distinct()
    val days = userDays.select("day").distinct()
    def rolling(win: Long, name: String): DataFrame = days.as("d")
      .join(userDays.as("u"),
        col("u.day") <= col("d.day") &&
          col("u.day") > col("d.day") - win)
      .groupBy(col("d.day").as("day"))
      .agg(countDistinct("user_id").as(name))
    val dau = userDays.groupBy("day").agg(countDistinct("user_id").as("dau"))
    dau
      .join(rolling(7L, "wau"), "day")
      .join(rolling(30L, "mau"), "day")
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        r4(col("dau").cast("double") / col("mau")).as("stickiness"))
      .orderBy("day")
  }

  val eventsActiveUsersSql: String =
    s"""WITH user_days AS (
       |  SELECT DISTINCT user_id,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
       |  FROM events),
       |days AS (SELECT DISTINCT day FROM user_days),
       |dau AS (
       |  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
       |  FROM user_days GROUP BY day),
       |wau AS (
       |  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
       |  FROM days d JOIN user_days u
       |    ON u.day <= d.day AND u.day > d.day - 7
       |  GROUP BY d.day),
       |mau AS (
       |  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
       |  FROM days d JOIN user_days u
       |    ON u.day <= d.day AND u.day > d.day - 30
       |  GROUP BY d.day)
       |SELECT day, dau, wau, mau,
       |  ${r4Sql("dau / CAST(mau AS DOUBLE)")} AS stickiness
       |FROM dau JOIN wau USING (day) JOIN mau USING (day)
       |ORDER BY day""".stripMargin

  // --------------------------------------------------------------- #198
  /** #198 modularity of the #163 LPA communities — the quality score
    * that turns "we ran community detection" into "the partition is
    * better than random": Q = Σ_c (e_c/m − (d_c/2m)²) over the
    * support-floored co-purchase graph. The community-eval readout
    * beside #173 (ANN recall) and #157 (dedup clusters).
    *
    * Exactness: e_c (intra-community edges), d_c (total community
    * degree) and m are exact integers; Q clears to ONE rational —
    * Q = (4m·Σe_c − Σd_c²) / 4m² — computed as one r4'd division of
    * exact int64 cross-products (degrees ≤ 2m ~ structure-sized, so
    * the squares stay far under int64).
    *
    * Scale: reuses #163's fixed-k LPA labels (structure-sized edge
    * iteration); the scoring pass is two keyed aggs over the edge
    * list and a 1-row reduce.
    */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val labels = Frontier.lpaLabels(spark, dir)
    val und = Graph.undirected(spark, dir)
    val edges = und
      .join(Tables.maybeBroadcast(labels.toDF("pa", "ca")), "pa")
      .join(Tables.maybeBroadcast(labels.toDF("pb", "cb")), "pb")
    val m = edges.agg(count(lit(1)).as("m"))
    val intra = edges.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = edges.select(col("pa").as("node"), col("ca").as("community"))
      .union(edges.select(col("pb").as("node"), col("cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("d_c"))
    val perC = deg.join(intra, deg("community") === intra("community"),
        "left")
      .select(deg("community"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_c"))
    perC.crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"),
        max("m").as("m"),
        sum("e_in").as("sum_e_in"),
        sum(col("d_c") * col("d_c")).as("sum_d2"))
      .select(col("n_communities"), col("m"), col("sum_e_in"),
        r4((lit(4L) * col("m") * col("sum_e_in") - col("sum_d2"))
          .cast("double") / (lit(4L) * col("m") * col("m")))
          .as("modularity"))
  }

  val graphModularitySql: String = {
    s"""WITH ${Graph.edgeSql},
       |${Frontier.lpaLabelCtes(3)},
       |ue AS (
       |  SELECT u.pa, u.pb, la.lbl AS ca, lb.lbl AS cb
       |  FROM und u JOIN l3 la ON la.id = u.pa
       |             JOIN l3 lb ON lb.id = u.pb),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ue),
       |intra AS (
       |  SELECT ca AS community, CAST(COUNT(*) AS BIGINT) AS e_in
       |  FROM ue WHERE ca = cb GROUP BY ca),
       |deg AS (
       |  SELECT community, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
       |    SELECT pa AS node, ca AS community FROM ue
       |    UNION ALL SELECT pb, cb FROM ue)
       |  GROUP BY community),
       |per_c AS (
       |  SELECT deg.community, COALESCE(e_in, 0) AS e_in, d_c
       |  FROM deg LEFT JOIN intra ON deg.community = intra.community)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  MAX(m.m) AS m,
       |  CAST(SUM(e_in) AS BIGINT) AS sum_e_in,
       |  ${r4Sql("(4 * MAX(m.m) * SUM(e_in) - SUM(d_c * d_c)) / " +
                  "CAST(4 * MAX(m.m) * MAX(m.m) AS DOUBLE)")} AS modularity
       |FROM per_c CROSS JOIN m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q12_shipmode" -> (q12Shipmode _),
    "text_entropy" -> (textEntropy _),
    "quality_ensemble" -> (qualityEnsemble _),
    "corpus_epoch_plan" -> (corpusEpochPlan _),
    "ts_acf" -> (tsAcf _),
    "dedup_minhash_est" -> (dedupMinhashEst _),
    "graph_bfs" -> (graphBfs _),
    "embed_dim_stats" -> (embedDimStats _),
    "sample_fixed_k" -> (sampleFixedK _),
    "events_dispersion" -> (eventsDispersion _),
    "ts_cross_corr" -> (tsCrossCorr _),
    "text_source_jaccard" -> (textSourceJaccard _),
    "mix_curriculum" -> (mixCurriculum _),
    "ann_mmr" -> (annMmr _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "events_user_overlap" -> (eventsUserOverlap _),
    "embed_label_drift" -> (embedLabelDrift _),
    "text_script_profile" -> (textScriptProfile _),
    "window_rolling_median" -> (windowRollingMedian _),
    "mm_audio_features" -> (mmAudioFeatures _),
    "join_asof_nearest" -> (joinAsofNearest _),
    "dedup_prefix" -> (dedupPrefix _),
    "corpus_vocab_growth" -> (corpusVocabGrowth _),
    "events_active_users" -> (eventsActiveUsers _),
    "graph_modularity" -> (graphModularity _))

  val oracles: Map[String, String] = Map(
    "q12_shipmode" -> q12Sql,
    "text_entropy" -> textEntropySql,
    "quality_ensemble" -> qualityEnsembleSql,
    "corpus_epoch_plan" -> corpusEpochPlanSql,
    "ts_acf" -> tsAcfSql,
    "dedup_minhash_est" -> dedupMinhashEstSql,
    "graph_bfs" -> graphBfsSql,
    "embed_dim_stats" -> embedDimStatsSql,
    "sample_fixed_k" -> sampleFixedKSql,
    "events_dispersion" -> eventsDispersionSql,
    "ts_cross_corr" -> tsCrossCorrSql,
    "text_source_jaccard" -> textSourceJaccardSql,
    "mix_curriculum" -> mixCurriculumSql,
    "ann_mmr" -> annMmrSql,
    "dedup_threshold_sweep" -> dedupThresholdSweepSql,
    "events_user_overlap" -> eventsUserOverlapSql,
    "embed_label_drift" -> embedLabelDriftSql,
    "text_script_profile" -> textScriptProfileSql,
    "window_rolling_median" -> windowRollingMedianSql,
    "mm_audio_features" -> mmAudioFeaturesSql,
    "join_asof_nearest" -> joinAsofNearestSql,
    "dedup_prefix" -> dedupPrefixSql,
    "corpus_vocab_growth" -> corpusVocabGrowthSql,
    "events_active_users" -> eventsActiveUsersSql,
    "graph_modularity" -> graphModularitySql)
}
