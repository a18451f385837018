package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql}

/** Corpus-quality and data-quality-monitoring operators (SURVEY.md §2
  * extensions #78-82): the guardrail jobs a training-data pipeline runs
  * continuously — PII redaction, perplexity-proxy rarity scoring, Zipf
  * sanity checks, the staged quality-filter funnel, and metric anomaly
  * detection over the event stream.
  *
  * Scale design (100 TB):
  *  - pii scrub: pure map-side regex projection — no shuffle but the
  *    presentation sort; the scrubbed text itself never leaves the
  *    executor (only counts + a digest flow on).
  *  - rarity: the unigram table is vocabulary-sized at any corpus size
  *    (a keyed count with map-side combine) and broadcasts; the corpus
  *    side is touched once.
  *  - zipf: one keyed aggregation to the (tiny) distinct-token table,
  *    then a K-row single-partition sort.
  *  - cascade: ALL rule predicates evaluate in one map-side pass per
  *    document (no per-rule scans); the funnel rollup crosses each doc
  *    with the 4-row rule dim and aggregates once.
  *  - anomaly: per-user moments via ONE window shuffle on user_id;
  *    decimal-exact sums make mean/variance/z bit-identical across
  *    engines, so the |z| threshold can't flake the gate.
  *
  * Table audits over the same gates and columns: exact Shapley
  * attribution of the filter funnel's drops (#289), the Deequ-style
  * column profiler (#326) and its constraint suite (#327) — each one
  * pass over the documents.
  */
object Quality {

  // ---------------------------------------------------------------- #78
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** #78 PII scrubbing: count and redact emails / IPv4 addresses before
    * training (the compliance pass every crawl corpus needs). The
    * synthetic corpus carries no natural PII, so identifiers are
    * INJECTED deterministically first (same pattern as the multimodal
    * ops' synth-binary step) — the regex plumbing, counting, and
    * redaction are the real operator. Only counts and a digest of the
    * scrubbed text are emitted; the text stays in the executors.
    */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "documents")
      .withColumn("synth0",
        when(col("doc_id") % 7 === 0,
          concat(lit("contact user"), col("doc_id").cast("string"),
            lit("@example.com now "), col("text")))
          .otherwise(col("text")))
      .withColumn("synth",
        when(col("doc_id") % 11 === 0,
          concat(lit("from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string"), lit(" "),
            col("synth0")))
          .otherwise(col("synth0")))
      .select(
        col("doc_id"),
        regexp_count(col("synth"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("synth"), lit(ipRe)).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(col("synth"), emailRe, "<EMAIL>"),
          ipRe, "<IP>")).as("clean_md5"))
      .orderBy("doc_id")

  val textPiiScrubSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN
      |      'from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
      |        || CAST(doc_id % 100 AS VARCHAR) || ' ' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN
      |      'contact user' || CAST(doc_id AS VARCHAR)
      |        || '@example.com now ' ELSE '' END || text AS synth
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(synth,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(synth,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      |  md5(regexp_replace(regexp_replace(synth,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
      |    AS clean_md5
      |FROM s ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #356
  /** Luhn digit-sum of positions `1..n` of string expr `v`, where a
    * position's digit is DOUBLED (with the 9-fold) iff `i % 2 == par`
    * — `i` counts from the LEFT. Emitted as a SQL expression string so
    * the same integer arithmetic runs inside Spark lambda contexts.
    */
  private def luhnSumSparkExpr(v: String, n: Int, par: Int): String = {
    val d = s"(cast(ascii(substring($v, i, 1)) as bigint) - 48)"
    s"aggregate(sequence(1, $n), 0L, (s, i) -> s + " +
      s"IF(i % 2 = $par, $d * 2 - IF($d > 4, 9, 0), $d))"
  }

  /** DuckDB twin of [[luhnSumSparkExpr]] (list_sum over the same
    * per-position integer terms).
    */
  private def luhnSumDuckExpr(v: String, n: Int, par: Int): String = {
    val d = s"(ascii(substr($v, i, 1)) - 48)"
    s"list_sum(list_transform(range(1, ${n + 1}), i -> " +
      s"CASE WHEN i % 2 = $par THEN $d * 2 - " +
      s"CASE WHEN $d > 4 THEN 9 ELSE 0 END ELSE $d END))"
  }

  /** #356 CHECKSUM-VALIDATED PII detection — the step #78's regexes
    * can't take: a 16-digit run is only a payment-card number if its
    * Luhn checksum closes, and the valid/invalid split is what a
    * compliance report actually needs (validated hits are reportable
    * PII; checksum-failing runs are the false-positive rate of the
    * naive regex). The synthetic corpus carries no natural card
    * numbers, so — the #78 injection device — card-shaped runs are
    * planted deterministically first: every doc_id % 5 == 0 gets a
    * VALID number (15 payload digits derived from the doc id + the
    * Luhn check digit computed in-engine), every doc_id % 13 == 0 gets
    * the same payload with a BROKEN check digit (+5 mod 10). Detection
    * is then real: extract every 16-digit run, validate each with the
    * Luhn fold in pure integer arithmetic (no float, engine-exact),
    * count valid vs invalid, and digest the text with all card-shaped
    * runs redacted (policy: redact every run — a scrubber must not
    * leak near-miss numbers either; the counts carry the validation).
    *
    * Position algebra: with the check digit appended at the right of a
    * 16-digit number, Luhn doubles positions 2,4,..,16 from the RIGHT
    * = the ODD positions from the left (parity 1) — in both the
    * 15-digit payload and the full 16-digit run, since the payload
    * occupies left positions 1..15 unshifted and the check digit sits
    * at (never-doubled) position 16. QualitySpec plants both kinds
    * and pins the split against an independent Scala Luhn; the DuckDB
    * oracle recomputes injection + validation end to end, so a green
    * hash proves the two Luhn folds agree digit-for-digit.
    *
    * Scale: pure map-side projection (regex + bounded integer folds
    * per document), no shuffle but the presentation sort; the text
    * never leaves the executors — only counts and a digest flow on.
    */
  def textPiiLuhn(spark: SparkSession, dir: String): DataFrame = {
    val payload =
      "lpad(cast((doc_id * 7919) % 1000000000000000 as string), 15, '0')"
    val luhnOk = {
      val s16 = luhnSumSparkExpr("r", 16, 1)
      s"r -> $s16 % 10 = 0"
    }
    Tables.spread(spark, dir, "documents")
      .withColumn("pay", expr(payload))
      .withColumn("chk",
        expr(s"(10 - ${luhnSumSparkExpr("pay", 15, 1)} % 10) % 10"))
      .withColumn("synth0",
        when(col("doc_id") % 5 === 0,
          concat(lit("card "), col("pay"), col("chk").cast("string"),
            lit(" "), col("text")))
          .otherwise(col("text")))
      .withColumn("synth",
        when(col("doc_id") % 13 === 0,
          concat(lit("card "), col("pay"),
            ((col("chk") + 5) % 10).cast("string"), lit(" "),
            col("synth0")))
          .otherwise(col("synth0")))
      .withColumn("runs",
        expr("regexp_extract_all(synth, '\\\\d{16}', 0)"))
      .select(col("doc_id"),
        size(col("runs")).cast("long").as("n_card_runs"),
        expr(s"cast(size(filter(runs, $luhnOk)) as bigint)")
          .as("n_luhn_valid"),
        (size(col("runs")).cast("long") -
          expr(s"cast(size(filter(runs, $luhnOk)) as bigint)"))
          .as("n_luhn_invalid"),
        md5(regexp_replace(col("synth"), "\\d{16}", "<CARD16>"))
          .as("clean_md5"))
      .orderBy("doc_id")
  }

  val textPiiLuhnSql: String = {
    val okSum = luhnSumDuckExpr("r", 16, 1)
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR),
       |      15, '0') AS pay
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, text, pay,
       |    (10 - ${luhnSumDuckExpr("pay", 15, 1)} % 10) % 10 AS chk
       |  FROM b),
       |s AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN
       |      'card ' || pay || CAST((chk + 5) % 10 AS VARCHAR) || ' '
       |      ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN
       |      'card ' || pay || CAST(chk AS VARCHAR) || ' '
       |      ELSE '' END || text AS synth
       |  FROM k),
       |e AS (
       |  SELECT doc_id, synth,
       |    regexp_extract_all(synth, '\\d{16}') AS runs
       |  FROM s)
       |SELECT doc_id,
       |  CAST(len(runs) AS BIGINT) AS n_card_runs,
       |  CAST(len(list_filter(runs, r -> $okSum % 10 = 0)) AS BIGINT)
       |    AS n_luhn_valid,
       |  CAST(len(runs) - len(list_filter(runs, r -> $okSum % 10 = 0))
       |    AS BIGINT) AS n_luhn_invalid,
       |  md5(regexp_replace(synth, '\\d{16}', '<CARD16>', 'g'))
       |    AS clean_md5
       |FROM e ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- #79
  /** #79 unigram-rarity scoring: each document's mean inverse token
    * frequency (total_tokens / token_count, averaged over the doc) — a
    * rational-arithmetic perplexity proxy (CCNet-style LM filtering
    * without the LM): common-word boilerplate scores low, rare-token
    * gibberish scores high. Rational inverse frequencies instead of
    * -log p keeps the score cross-engine exact (libm `log` is not
    * correctly rounded; division is).
    */
  def textRarity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val gc = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum("cnt").over(Window.partitionBy()))
      .withColumn("rarity",
        col("total").cast("double") / col("cnt").cast("double"))
    // the vocabulary grows (sublinearly) with the corpus — size-gate
    // the broadcast instead of assuming it stays dim-sized
    toks.join(graft.Tables.maybeBroadcast(gc), "tok")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("rarity").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("mean_inv_freq"),
        max(col("rarity")).as("max_inv_freq"))
      .select(col("doc_id"), col("n_tokens"),
        r4(col("mean_inv_freq")).as("rarity_mean"),
        r4(col("max_inv_freq")).as("rarity_max"))
      .orderBy("doc_id")
  }

  val textRaritySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |gc AS (
       |  SELECT tok, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS total
       |  FROM t GROUP BY tok),
       |j AS (
       |  SELECT t.doc_id,
       |    CAST(gc.total AS DOUBLE) / CAST(gc.cnt AS DOUBLE) AS rarity
       |  FROM t JOIN gc ON t.tok = gc.tok)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  ${r4Sql("CAST(SUM(CAST(rarity AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*)")}
       |    AS rarity_mean,
       |  ${r4Sql("MAX(rarity)")} AS rarity_max
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- #80
  /** #80 Zipf sanity check: the corpus's token rank/frequency curve —
    * rank × share should be roughly constant for natural text, and a
    * broken crawl (template spam, binary junk) shows up immediately as
    * a flat or cliffed curve. Top-K of the vocabulary-sized count table;
    * the K-row sort never sees the corpus.
    */
  def textZipf(spark: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val gc = Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum("cnt").over(Window.partitionBy()))
    gc.withColumn("rank",
        row_number().over(Window.orderBy(desc("cnt"), col("tok"))))
      .where(col("rank") <= topK)
      .select(col("rank").cast("long").as("rank"), col("tok"), col("cnt"),
        r4(col("cnt").cast("double") / col("total")).as("share"),
        r4(col("rank") * col("cnt").cast("double") / col("total"))
          .as("zipf_c"))
      .orderBy("rank")
  }

  val textZipfSql: String =
    s"""WITH gc AS (
       |  SELECT tok, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS total
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
       |        FROM documents) GROUP BY tok),
       |r AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
       |      AS rank, tok, cnt, total
       |  FROM gc)
       |SELECT rank, tok, cnt,
       |  ${r4Sql("CAST(cnt AS DOUBLE) / total")} AS share,
       |  ${r4Sql("rank * CAST(cnt AS DOUBLE) / total")} AS zipf_c
       |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- #81
  /** #81 staged quality-filter funnel (the FineWeb/Gopher filter-cascade
    * report): four ordered gates — minimum length, bigram repetition,
    * token shape, digit ratio — and for each the docs entering, dropped
    * there, and surviving. EVERY predicate evaluates in one map-side
    * pass (the bigram stats reuse #64's array fold — no explode); each
    * doc then crosses with the 4-row rule dim so the whole funnel is a
    * single aggregation, not one scan per rule.
    */
  /** Per-doc cascade fate (#81's inner pass): `ff` is the index of the
    * first gate the document fails, 4 = survives all four. Exposed for
    * the #202 classifier-evaluation operator, which uses survival as
    * its gold label.
    */
  private[operators] def cascadeFate(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_bigrams", greatest(col("n_tokens") - 1, lit(0L)))
      .withColumn("n_distinct_bigrams", size(array_distinct(expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
          |  slice(toks, 2, size(toks) - 1),
          |  (a, b) -> concat(a, ' ', b))""".stripMargin))).cast("long"))
      .withColumn("dup_frac",
        when(col("n_bigrams") > 0,
          lit(1.0) - col("n_distinct_bigrams").cast("double") /
            col("n_bigrams").cast("double")).otherwise(lit(0.0)))
      .withColumn("mean_tok_len",
        length(regexp_replace(col("text"), " ", "")).cast("double") /
          col("n_tokens").cast("double"))
      .withColumn("digit_frac",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
          length(col("text")).cast("double"))
      .select(col("doc_id"),
        when(col("n_tokens") < 20, lit(0L))
          .when(col("dup_frac") > 0.2, lit(1L))
          .when(col("mean_tok_len") < 2.0 || col("mean_tok_len") > 12.0,
            lit(2L))
          .when(col("digit_frac") >= 0.2, lit(3L))
          .otherwise(lit(4L)).as("ff"))

  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = cascadeFate(spark, dir)
    val rules = Seq(
      (0L, "min_tokens"), (1L, "repetition"),
      (2L, "token_shape"), (3L, "digit_ratio"))
      .toDF("rule_id", "rule")
    perDoc.crossJoin(broadcast(rules))
      .groupBy("rule_id", "rule").agg(
        sum(when(col("ff") >= col("rule_id"), 1L).otherwise(0L)).as("n_in"),
        sum(when(col("ff") === col("rule_id"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("ff") > col("rule_id"), 1L).otherwise(0L)).as("n_out"))
      .orderBy("rule_id")
  }

  /** SQL mirror of [[cascadeFate]] as CTEs `d` (signals) and `f`
    * (doc_id, ff) — shared by #81 and #202.
    */
  private[operators] val cascadeFateCtes: String =
    """d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    len(string_split(text, ' ')) - 1 AS n_bigrams,
      |    len(list_distinct(list_transform(
      |      range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' ' ||
      |        string_split(text, ' ')[i + 1]))) AS n_distinct_bigrams,
      |    CAST(len(replace(text, ' ', '')) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS mean_tok_len,
      |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
      |      AS DOUBLE) / len(text) AS digit_frac
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CASE WHEN n_tokens < 20 THEN 0
      |         WHEN (CASE WHEN n_bigrams > 0 THEN
      |             1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
      |           ELSE 0.0 END) > 0.2 THEN 1
      |         WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0 THEN 2
      |         WHEN digit_frac >= 0.2 THEN 3
      |         ELSE 4 END AS ff
      |  FROM d)""".stripMargin

  val filterCascadeSql: String =
    s"""WITH $cascadeFateCtes
      |SELECT CAST(r.rule_id AS BIGINT) AS rule_id, r.rule,
      |  CAST(COUNT(*) FILTER (WHERE f.ff >= r.rule_id) AS BIGINT) AS n_in,
      |  CAST(COUNT(*) FILTER (WHERE f.ff = r.rule_id) AS BIGINT)
      |    AS n_dropped,
      |  CAST(COUNT(*) FILTER (WHERE f.ff > r.rule_id) AS BIGINT) AS n_out
      |FROM f CROSS JOIN (VALUES (0, 'min_tokens'), (1, 'repetition'),
      |  (2, 'token_shape'), (3, 'digit_ratio')) AS r(rule_id, rule)
      |GROUP BY r.rule_id, r.rule ORDER BY rule_id""".stripMargin

  // ---------------------------------------------------------------- #82
  /** #82 metric anomaly detection over the event log: per-user z-scores
    * of event values, flagging |z| > 2 (the pipeline-health monitor a
    * catalog's event stream feeds). Mean and variance come from
    * DECIMAL-exact window sums (value and value² each cast to decimal
    * before summing), so mean/var/z are bit-identical across engines —
    * the threshold comparison cannot flake the hash gate. One window
    * shuffle on user_id; no per-user state.
    */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables(spark, dir, "events")
      .select("event_id", "user_id", "value")
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1",
        sum(col("value").cast("decimal(20,2)")).over(w).cast("double"))
      .withColumn("s2",
        sum((col("value") * col("value")).cast("decimal(24,4)")).over(w)
          .cast("double"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("variance",
        greatest(col("s2") / col("n") - col("mean") * col("mean"), lit(0.0)))
      .where(col("n") >= 5 && col("variance") > 0.0 &&
        abs(col("value") - col("mean")) > lit(2.0) * sqrt(col("variance")))
      .select(col("event_id"), col("user_id"), col("value"),
        r4(col("mean")).as("mean_value"),
        r4((col("value") - col("mean")) / sqrt(col("variance"))).as("z"))
      .orderBy("event_id")
  }

  val eventsAnomalySql: String =
    s"""WITH s AS (
       |  SELECT event_id, user_id, value,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n,
       |    CAST(SUM(CAST(value AS DECIMAL(20,2)))
       |      OVER (PARTITION BY user_id) AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(value * value AS DECIMAL(24,4)))
       |      OVER (PARTITION BY user_id) AS DOUBLE) AS s2
       |  FROM events),
       |m AS (
       |  SELECT event_id, user_id, value, n, s1 / n AS mean,
       |    GREATEST(s2 / n - (s1 / n) * (s1 / n), 0.0) AS variance
       |  FROM s)
       |SELECT event_id, user_id, value,
       |  ${r4Sql("mean")} AS mean_value,
       |  ${r4Sql("(value - mean) / sqrt(variance)")} AS z
       |FROM m
       |WHERE n >= 5 AND variance > 0.0
       |  AND abs(value - mean) > 2.0 * sqrt(variance)
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- #89
  /** #89 event-type co-occurrence (market-basket shape): which event
    * types fire together in the same (user, hour) cell, with the cell
    * count and distinct-user support for each unordered pair. The
    * standard affinity/association signal over an event log.
    *
    * Scale: the input collapses to DISTINCT (user, hour, type) cells
    * first — the self-join is over cells, not raw events, and the
    * per-cell pair fan-out is bounded by |event types|² (a constant),
    * never by event volume. One shuffle to distinct, one equi-join on
    * the (user, hour) cell key, one keyed aggregation.
    */
  def eventsCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_us div 3600000000").as("hour"))
      .distinct()
    cells.as("a")
      .join(cells.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.hour") === col("b.hour") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_cells"),
        count_distinct(col("a.user_id")).as("n_users"))
      .orderBy(desc("n_cells"), col("type_a"), col("type_b"))
  }

  val eventsCooccurrenceSql: String =
    """WITH cells AS (
      |  SELECT DISTINCT user_id, event_type,
      |    epoch_us(ts) // 3600000000 AS hour
      |  FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  COUNT(*) AS n_cells, COUNT(DISTINCT a.user_id) AS n_users
      |FROM cells a JOIN cells b
      |  ON a.user_id = b.user_id AND a.hour = b.hour
      |  AND a.event_type < b.event_type
      |GROUP BY type_a, type_b
      |ORDER BY n_cells DESC, type_a, type_b""".stripMargin

  // --------------------------------------------------------------- #289
  /** #289 exact Shapley drop-attribution over the four #81 gates: how
    * much of the corpus does each rule FAIRLY cost, averaged over
    * every evaluation order? #81's funnel charges a doc to the first
    * gate in ONE fixed order and #273 optimizes that order; Shapley
    * removes the order from the question — a doc failing two rules
    * splits its drop between them. With 4 rules the game is exact:
    * value(S) = share of docs passing every rule in S, and the
    * 16-cell fire-pattern distribution (ONE map-side pass + ONE tiny
    * agg) determines all 16 coalition values.
    *
    * Exactness: φ_r·24·N = Σ over the 8 subsets S ∌ r of
    * |S|!·(3−|S|)!·[passN(S) − passN(S∪{r})] — an INTEGER; the
    * emitted share is ONE r4'd division by 24N. Conservation (spec-
    * pinned): Σ_r drop_share == overall drop rate (v(∅) − v(R)).
    *
    * Scale: one doc-sized pass → 16-row pattern table; coalition
    * values and the Shapley sum run on constant-size literal dims
    * (16 masks × 16 patterns, 4 rules × 8 subsets) — broadcast
    * crosses of O(1) tables, nothing data-sized after the scan.
    */
  def qualityRuleShapley(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ≤16 rows behind a full doc scan, referenced by both `pass` and
    // the total — persist (the span-sized-cache rule of #288): one
    // scan instead of two at any corpus size
    val pat = Tables.persistSlot("quality.shapley.patterns",
      Pinnacle.ruleFlags(spark, dir)
        .select((col("f0") + col("f1") * 2 + col("f2") * 4 + col("f3") * 8)
          .as("p"))
        .groupBy("p").agg(count(lit(1)).as("c")))
    val masks = spark.range(16).select(col("id").as("m"))
    // passN(mask) = docs whose fire pattern avoids every rule in mask
    val pass = pat.crossJoin(broadcast(masks))
      .groupBy("m")
      .agg(sum(when(expr("(p & m) = 0"), col("c")).otherwise(0L))
        .as("pn"))
    val n = pat.agg(sum("c").as("n"))
    // (rule, subset-without-rule, permutation weight |S|!·(3-|S|)!)
    val ruleNames =
      Seq("min_tokens", "repetition", "token_shape", "digit_ratio")
    val combos = (for {
      r <- 0 until 4
      s <- 0 until 16 if (s & (1 << r)) == 0
    } yield {
      val k = Integer.bitCount(s)
      val wt = Seq(6L, 2L, 2L, 6L)(k)
      (r.toLong, ruleNames(r), s.toLong, (s | (1 << r)).toLong, wt)
    }).toDF("rule_id", "rule", "s", "sr", "wt")
    combos
      .join(broadcast(pass.select(col("m").as("s"), col("pn").as("pn_s"))),
        "s")
      .join(broadcast(pass.select(col("m").as("sr"), col("pn").as("pn_sr"))),
        "sr")
      .groupBy("rule_id", "rule")
      .agg(sum(col("wt") * (col("pn_s") - col("pn_sr"))).as("num"))
      .crossJoin(broadcast(n))
      .select(col("rule_id"), col("rule"),
        r4(col("num").cast("double") / (col("n") * 24).cast("double"))
          .as("drop_share"))
      .orderBy("rule_id")
  }

  val qualityRuleShapleySql: String =
    s"""WITH ${Pinnacle.ruleFlagsCtesSql},
       |pat AS (
       |  SELECT f0 + f1 * 2 + f2 * 4 + f3 * 8 AS p,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM fl GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pat),
       |pass AS (
       |  SELECT m.m, CAST(SUM(CASE WHEN (pat.p & m.m) = 0 THEN pat.c
       |    ELSE 0 END) AS BIGINT) AS pn
       |  FROM pat CROSS JOIN (SELECT unnest(range(0, 16)) AS m) m
       |  GROUP BY m.m),
       |combos AS (
       |  SELECT r.r AS rule_id,
       |    ['min_tokens', 'repetition', 'token_shape', 'digit_ratio']
       |      [CAST(r.r AS INT) + 1] AS rule,
       |    s.m AS s, s.m | (1 << CAST(r.r AS INT)) AS sr,
       |    CASE bit_count(s.m) WHEN 0 THEN 6 WHEN 1 THEN 2
       |      WHEN 2 THEN 2 ELSE 6 END AS wt
       |  FROM (SELECT unnest(range(0, 4)) AS r) r
       |  JOIN (SELECT unnest(range(0, 16)) AS m) s
       |    ON (s.m & (1 << CAST(r.r AS INT))) = 0)
       |SELECT c.rule_id, c.rule,
       |  ${r4Sql("CAST(SUM(c.wt * (ps.pn - psr.pn)) AS DOUBLE) " +
                  "/ (MAX(tot.n) * 24)")} AS drop_share
       |FROM combos c
       |  JOIN pass ps ON c.s = ps.m
       |  JOIN pass psr ON c.sr = psr.m
       |  CROSS JOIN tot
       |GROUP BY c.rule_id, c.rule
       |ORDER BY c.rule_id""".stripMargin

  // --------------------------------------------------------------- #326
  private val profileCols = Seq("doc_id", "lang", "source", "n_chars")

  /** #326 column profiler — the Deequ-style first read on ANY new
    * table a data platform ingests: per column the row count, null
    * count, completeness, APPROXIMATE distinct, and a min/max
    * representation (value bounds for scalars, LENGTH bounds for the
    * text payload). The whole profile is ONE map-side-combinable pass
    * over the table — five sketches and a handful of counters per
    * partition, unpivoted to the per-column report with `stack`.
    *
    * Sketch choice: KMV (k=256), NOT HLL — a profiler meets columns
    * across the whole cardinality spectrum, and KMV is EXACT below k
    * (a 5-value lang column reports 5.0, where HLL's raw estimate
    * without its small-range ln() correction reads ~370 — measured,
    * and the correction is exactly the cross-engine ln() this repo
    * keeps out of oracles) while carrying ~1/√k error above k. 2 KiB
    * of partial state per column crosses the shuffle, never value
    * sets — the exact per-column countDistinct a 100 TB profile
    * cannot afford.
    *
    * Exactness: counts/bounds exact; the KMV estimate is the
    * literal-double (k−1)/(h_k/2^64) over the exact k-th smallest
    * 60-bit md5 hash, which the oracle re-derives by ORDER BY/OFFSET.
    */
  def qualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // the full-64-bit md5 hash (ngram_md5_hashes at n=1 over a
    // singleton array) — KMV's (k−1)/(h_k/2^64) estimator needs the
    // whole hash range; a 60-bit hash reads 16× high (measured)
    def kmvOf(c: String): org.apache.spark.sql.Column = expr(
      s"""kmv_distinct(
         |  if(isnull($c), cast(null as array<bigint>),
         |     ngram_md5_hashes(array(cast($c as string)), 1)), 256)"""
        .stripMargin)
    val aggs =
      Seq(count(lit(1)).as("n")) ++
        profileCols.flatMap(c => Seq(
          count(col(c)).as(s"p_$c"),
          kmvOf(c).as(s"ad_$c"),
          min(col(c)).cast("string").as(s"lo_$c"),
          max(col(c)).cast("string").as(s"hi_$c"))) ++
        Seq(count(col("text")).as("p_text"),
          kmvOf("text").as("ad_text"),
          min(length(col("text"))).cast("string").as("lo_text"),
          max(length(col("text"))).cast("string").as("hi_text"))
    val wide = docs.agg(aggs.head, aggs.tail: _*)
    val stackArgs = (profileCols :+ "text")
      .map(c => s"'$c', p_$c, ad_$c, lo_$c, hi_$c").mkString(", ")
    wide
      .selectExpr("n", s"stack(5, $stackArgs) as " +
        "(col_name, n_present, ad, min_repr, max_repr)")
      .select(col("col_name"), col("n").as("n_rows"),
        (col("n") - col("n_present")).as("n_nulls"),
        when(col("n") > 0L, r4(col("n_present").cast("double") /
          col("n").cast("double"))).as("completeness"),
        when(col("n_present") > 0L, r4(col("ad")))
          .as("approx_distinct"),
        col("min_repr"), col("max_repr"))
      .orderBy("col_name")
  }

  val qualityProfileSql: String = {
    def branch(c: String, v: String, lo: String, hi: String): String =
      s"""hv_$c AS (
         |  SELECT DISTINCT ('0x' || substr(md5($v), 1, 16))::UBIGINT
         |    AS h
         |  FROM documents WHERE $v IS NOT NULL),
         |k_$c AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM hv_$c) AS nd,
         |    (SELECT h FROM hv_$c ORDER BY h LIMIT 1 OFFSET 255) AS hk),
         |m_$c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT($v) AS BIGINT) AS p,
         |    CAST($lo AS VARCHAR) AS lo, CAST($hi AS VARCHAR) AS hi
         |  FROM documents)""".stripMargin
    val estSql = "CASE WHEN k.nd < 256 THEN CAST(k.nd AS DOUBLE) " +
      "ELSE 255.0 / (CAST(k.hk AS DOUBLE) / 18446744073709551616.0) END"
    def leg(c: String): String =
      s"""SELECT '$c' AS col_name, m.n AS n_rows, m.n - m.p AS n_nulls,
         |  CASE WHEN m.n > 0 THEN
         |    ${r4Sql("CAST(m.p AS DOUBLE) / CAST(m.n AS DOUBLE)")}
         |    END AS completeness,
         |  CASE WHEN m.p > 0 THEN
         |    ${r4Sql(estSql)}
         |    END AS approx_distinct,
         |  m.lo AS min_repr, m.hi AS max_repr
         |FROM m_$c m CROSS JOIN k_$c k""".stripMargin
    val specs = Seq(
      ("doc_id", "CAST(doc_id AS VARCHAR)", "MIN(doc_id)", "MAX(doc_id)"),
      ("lang", "lang", "MIN(lang)", "MAX(lang)"),
      ("source", "source", "MIN(source)", "MAX(source)"),
      ("n_chars", "CAST(n_chars AS VARCHAR)", "MIN(n_chars)",
        "MAX(n_chars)"),
      ("text", "text", "MIN(length(text))", "MAX(length(text))"))
    s"""WITH ${specs.map(s => branch(s._1, s._2, s._3, s._4))
         .mkString(",\n")}
       |SELECT * FROM (
       |${specs.map(s => leg(s._1)).mkString("\nUNION ALL\n")})
       |ORDER BY col_name""".stripMargin
  }

  // --------------------------------------------------------------- #327
  /** #327 constraint verification — the Deequ-check suite the profiler
    * feeds: declarative data-quality assertions evaluated in ONE pass
    * and emitted as an audit table (check, measured metric, threshold,
    * passed). Checks cover the real failure modes of an ingested
    * corpus: key completeness and uniqueness, payload completeness,
    * categorical containment (lang ⊆ the allowed set), CROSS-COLUMN
    * consistency (n_chars must equal length(text) — the declared
    * metadata matching the payload), and value bounds — where the
    * min-length floor legitimately FAILS on this corpus (min 48 < 100),
    * so the audit demonstrably reports both outcomes.
    *
    * Exactness: every pass/fail verdict compares EXACT INTEGERS
    * (100·p ≥ 99·n for the 0.99 floor — never a float threshold), so
    * the booleans cannot drift; metrics are r4'd for the report.
    */
  def qualityConstraints(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val langSet = Seq("en", "de", "fr", "es", "zh")
    val wide = docs.agg(
      count(lit(1)).as("n"),
      count(col("doc_id")).as("p_doc"),
      countDistinct(col("doc_id")).as("d_doc"),
      count(col("text")).as("p_text"),
      count(col("lang")).as("p_lang"),
      sum(when(col("lang").isin(langSet: _*), 1L).otherwise(0L))
        .as("lang_in"),
      sum(when(col("n_chars").isNotNull && col("text").isNotNull,
        1L).otherwise(0L)).as("both"),
      sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L))
        .as("consistent"),
      min(col("n_chars")).as("min_nc"),
      max(col("n_chars")).as("max_nc"))
    // every ratio is GATED before it is computed: under ANSI (the
    // Spark 4 default) 0/0 throws, and an empty table must yield null
    // verdicts, not a crashed audit
    val checks = wide.select(col("*"),
      when(col("n") > 0L,
        r4(col("p_doc").cast("double") / col("n"))).as("m1"),
      (col("p_doc") === col("n")).as("ok1"),
      when(col("p_doc") > 0L,
        r4(col("d_doc").cast("double") / col("p_doc"))).as("m2"),
      (col("d_doc") === col("p_doc")).as("ok2"),
      when(col("n") > 0L,
        r4(col("p_text").cast("double") / col("n"))).as("m3"),
      (col("p_text") * 100L >= col("n") * 99L).as("ok3"),
      when(col("p_lang") > 0L,
        r4(col("lang_in").cast("double") / col("p_lang"))).as("m4"),
      (col("lang_in") === col("p_lang")).as("ok4"),
      when(col("both") > 0L,
        r4(col("consistent").cast("double") / col("both"))).as("m5"),
      (col("consistent") === col("both")).as("ok5"),
      col("min_nc").cast("double").as("m6"),
      (col("min_nc") >= 100L).as("ok6"),
      col("max_nc").cast("double").as("m7"),
      (col("max_nc") <= 100000L).as("ok7"))
    checks.selectExpr("n",
      """stack(7,
        |  'completeness_doc_id', m1, 1.0D, ok1,
        |  'uniqueness_doc_id', m2, 1.0D, ok2,
        |  'completeness_text', m3, 0.99D, ok3,
        |  'containment_lang', m4, 1.0D, ok4,
        |  'consistency_n_chars', m5, 1.0D, ok5,
        |  'min_length_floor', m6, 100.0D, ok6,
        |  'max_length_cap', m7, 100000.0D, ok7
        |) as (check_name, metric, threshold, passed)""".stripMargin)
      .select(col("check_name"),
        when(col("n") > 0L, col("metric")).as("metric"),
        col("threshold"),
        when(col("n") > 0L, col("passed")).as("passed"))
      .orderBy("check_name")
  }

  val qualityConstraintsSql: String =
    s"""WITH w AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(doc_id) AS BIGINT) AS p_doc,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_doc,
       |    CAST(COUNT(text) AS BIGINT) AS p_text,
       |    CAST(COUNT(lang) AS BIGINT) AS p_lang,
       |    CAST(COUNT(*) FILTER (WHERE lang IN
       |      ('en','de','fr','es','zh')) AS BIGINT) AS lang_in,
       |    CAST(COUNT(*) FILTER (WHERE n_chars IS NOT NULL
       |      AND text IS NOT NULL) AS BIGINT) AS nboth,
       |    CAST(COUNT(*) FILTER (WHERE n_chars = length(text))
       |      AS BIGINT) AS consistent,
       |    MIN(n_chars) AS min_nc, MAX(n_chars) AS max_nc
       |  FROM documents),
       |c AS (
       |  SELECT 'completeness_doc_id' AS check_name,
       |    ${r4Sql("CAST(p_doc AS DOUBLE) / n")} AS metric,
       |    1.0 AS threshold, p_doc = n AS passed, n FROM w
       |  UNION ALL SELECT 'uniqueness_doc_id',
       |    ${r4Sql("CAST(d_doc AS DOUBLE) / p_doc")}, 1.0,
       |    d_doc = p_doc, n FROM w
       |  UNION ALL SELECT 'completeness_text',
       |    ${r4Sql("CAST(p_text AS DOUBLE) / n")}, 0.99,
       |    p_text * 100 >= n * 99, n FROM w
       |  UNION ALL SELECT 'containment_lang',
       |    ${r4Sql("CAST(lang_in AS DOUBLE) / p_lang")}, 1.0,
       |    lang_in = p_lang, n FROM w
       |  UNION ALL SELECT 'consistency_n_chars',
       |    ${r4Sql("CAST(consistent AS DOUBLE) / nboth")}, 1.0,
       |    consistent = nboth, n FROM w
       |  UNION ALL SELECT 'min_length_floor',
       |    CAST(min_nc AS DOUBLE), 100.0, min_nc >= 100, n FROM w
       |  UNION ALL SELECT 'max_length_cap',
       |    CAST(max_nc AS DOUBLE), 100000.0, max_nc <= 100000, n FROM w)
       |SELECT check_name,
       |  CASE WHEN n > 0 THEN metric END AS metric, threshold,
       |  CASE WHEN n > 0 THEN passed END AS passed
       |FROM c ORDER BY check_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_rule_shapley" -> (qualityRuleShapley _),
    "quality_profile" -> (qualityProfile _),
    "quality_constraints" -> (qualityConstraints _),
    "events_cooccurrence" -> (eventsCooccurrence _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_pii_luhn" -> (textPiiLuhn _),
    "text_rarity" -> (textRarity _),
    "text_zipf" -> ((s: SparkSession, d: String) => textZipf(s, d)),
    "filter_cascade" -> (filterCascade _),
    "events_anomaly" -> (eventsAnomaly _))

  val oracles: Map[String, String] = Map(
    "quality_rule_shapley" -> qualityRuleShapleySql,
    "quality_profile" -> qualityProfileSql,
    "quality_constraints" -> qualityConstraintsSql,
    "events_cooccurrence" -> eventsCooccurrenceSql,
    "text_pii_scrub" -> textPiiScrubSql,
    "text_pii_luhn" -> textPiiLuhnSql,
    "text_rarity" -> textRaritySql,
    "text_zipf" -> textZipfSql,
    "filter_cascade" -> filterCascadeSql,
    "events_anomaly" -> eventsAnomalySql)
}
