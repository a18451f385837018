package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql}

/** Text analysis over `documents` (SURVEY.md §2 #34-38): token stats,
  * quality scoring, language ID, fingerprinting, n-gram frequencies.
  *
  * These are the per-document scoring passes an LLM-training-data
  * pipeline runs before filtering/dedup (the reference's datacatalog
  * runs the analogous per-file metadata inference at indexing time).
  *
  * All operators are a single scan with narrow, codegen'd projections —
  * higher-order array functions (`transform`/`filter`/`aggregate`), no
  * UDFs, no shuffle except the final small aggregations. Ratios are
  * linear arithmetic only (no transcendentals) rounded to 4dp so the
  * DuckDB oracle computes bit-identical doubles.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private def stopList = stopwords.map(w => s"'$w'").mkString(", ")

  /** #34 per-document token/char statistics. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[aeiou]", "")))
          .cast("long").as("n_consonants_sp"),
        expr(s"cast(size(filter(toks, t -> t IN ($stopList))) as long)")
          .as("n_stopwords"),
        // BPE-ish subword count: alpha runs, digit runs, and isolated
        // non-alnum marks — the GPT-2-style pre-tokenizer boundary rule
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_subtokens"))
      .orderBy("doc_id")

  val textStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_m,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |    AS n_distinct,
       |  CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
       |    AS BIGINT) AS n_consonants_sp,
       |  CAST(len(list_filter(string_split(text, ' '),
       |    t -> t IN ($stopList))) AS BIGINT) AS n_stopwords,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
       |    AS BIGINT) AS n_subtokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** #35 quality score: linear blend of stopword ratio, short-token
    * ratio, and a length prior. Deliberately transcendental-free so the
    * score is cross-engine bit-identical before its 4dp rounding.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("double"))
      .withColumn("stop_ratio",
        expr(s"size(filter(toks, t -> t IN ($stopList)))") / col("n_tokens"))
      .withColumn("short_ratio",
        expr("size(filter(toks, t -> length(t) <= 2))") / col("n_tokens"))
      .withColumn("len_prior", least(col("n_tokens") / lit(100.0), lit(1.0)))
      .select(
        col("doc_id"),
        r4(col("stop_ratio")).as("stop_ratio"),
        r4(col("short_ratio")).as("short_ratio"),
        r4(
          lit(0.4) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * (lit(1.0) - col("short_ratio")) +
          lit(0.3) * col("len_prior")).as("quality"))
      .orderBy("doc_id")

  val textQualitySql: String =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopList)))
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       |    len(list_filter(string_split(text, ' '), t -> length(t) <= 2))
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS short_ratio,
       |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
       |      AS len_prior
       |  FROM documents)
       |SELECT doc_id, ${r4Sql("stop_ratio")} AS stop_ratio,
       |  ${r4Sql("short_ratio")} AS short_ratio,
       |  ${r4Sql("0.4 * (1.0 - stop_ratio) + 0.3 * (1.0 - short_ratio)" +
                  " + 0.3 * len_prior")} AS quality
       |FROM q ORDER BY doc_id""".stripMargin

  /** Language profiles for the n-gram/stopword language-ID heuristic.
    * The synthetic corpus shares one vocabulary across langs, so the
    * profiles are frequency-skew picks; what the operator demonstrates
    * is the scoring/argmax shape, computed identically on both engines.
    */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "join", "row", "batch"),
    "en" -> Seq("the", "a", "spark", "order", "table"),
    "es" -> Seq("slow", "agg", "merge", "vector", "value"),
    "fr" -> Seq("scan", "data", "query", "small", "key"),
    "zh" -> Seq("stream", "fast", "column", "line", "part"))

  /** #36 language ID: per-profile token-hit count, argmax with
    * alphabetical tie-break (first >= all others wins).
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val scored = profiles.foldLeft(
      Tables(spark, dir, "documents")
        .withColumn("toks", split(col("text"), " "))) {
      case (df, (lang, words)) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"s_$lang",
          expr(s"size(filter(toks, t -> t IN ($inList)))"))
    }
    val langs = profiles.map(_._1)
    val pred = langs.foldLeft(lit(null).cast("string")) { (acc, l) =>
      val geAll = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      coalesce(acc, when(geAll, l))
    }
    scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  val textLangIdSql: String = {
    val scoreCols = profiles.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS s_$lang"
    }.mkString(",\n    ")
    val langs = profiles.map(_._1)
    val whens = langs.map { l =>
      val cond = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM documents)
       |SELECT doc_id, lang, CASE $whens END AS pred_lang
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** #37 document fingerprint: md5 of the sorted-distinct-token
    * canonical form (order-insensitive content identity).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ",
          array_sort(array_distinct(split(col("text"), " ")))))
          .as("fingerprint"))
      .orderBy("doc_id")

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
      |    ' ')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** #56 rolling-hash fingerprints: Rabin-Karp polynomial hash (base
    * 31, prime modulus < 2^57 so the fold never overflows a signed 64)
    * over the full text and over the 100-char prefix — the
    * streaming-friendly content identity (a rolling window can extend
    * it incrementally, unlike a digest). Fold seed is the first char
    * code to match DuckDB's `list_reduce` seeding.
    */
  def textRollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val M = 144115188075855859L
    def roll(colExpr: String) =
      s"""aggregate(
         |  transform(slice(split($colExpr, ''), 2,
         |    size(split($colExpr, '')) - 1), c -> cast(ascii(c) as long)),
         |  cast(ascii(substring($colExpr, 1, 1)) as long),
         |  (a, x) -> (a * 31 + x) % ${M}L)""".stripMargin
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        expr(roll("text")).as("h_full"),
        expr(roll("substring(text, 1, 100)")).as("h_prefix"))
      .orderBy("doc_id")
  }

  val textRollingFingerprintSql: String = {
    val M = "144115188075855859"
    def roll(e: String) =
      s"""list_reduce(list_transform(string_split($e, ''),
         |    c -> CAST(ascii(c) AS BIGINT)),
         |  (a, x) -> (a * 31 + x) % $M)""".stripMargin
    s"""SELECT doc_id,
       |  ${roll("text")} AS h_full,
       |  ${roll("substr(text, 1, 100)")} AS h_prefix
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** #38 top word-bigram frequencies (global, deterministic top-40). */
  def textNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(explode(Signatures.wordShingles(col("toks"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("bigram"))
      .limit(40)

  val textNgramsSql: String =
    """WITH b AS (
      |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[i] || ' '
      |      || string_split(text, ' ')[i + 1])) AS bigram
      |  FROM documents)
      |SELECT bigram, COUNT(*) AS n FROM b
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 40""".stripMargin

  // ---------------------------------------------------------------- #97
  /** #97 inverted index (search-engine core): term → document frequency
    * + the sorted posting list. One explode + one groupBy shuffle on the
    * term; postings build via a partial-aggregable collect, serialized
    * as a comma-joined string so the row is oracle-hashable. The df
    * floor plays the stop-list role AND the skew guard: ultra-common
    * terms would otherwise produce corpus-sized posting rows — at 100 TB
    * those terms carry no retrieval signal and every IR system drops or
    * blocks them, so the cap is semantics, not a shortcut. (For the
    * survivors, posting rows are bounded by maxDf ids ≈ a few KB.)
    */
  def textInvertedIndex(spark: SparkSession, dir: String): DataFrame =
    textInvertedIndex(spark, dir, minDfFrac = 0.02, maxDfFrac = 0.8)

  /** df band is RELATIVE to corpus size (fractions, not counts) so the
    * stop-list/skew-guard semantics hold at any scale — an absolute
    * band tuned at one SF strangles or floods at another. The doc
    * count is a 1-row broadcast cross join (scalar subplan).
    */
  def textInvertedIndex(spark: SparkSession, dir: String, minDfFrac: Double,
      maxDfFrac: Double): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val n = d.agg(count(lit(1)).as("n_docs"))
    d.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
          i => i.cast("string"))).as("postings"))
      .crossJoin(broadcast(n))
      .where(col("df") >= ceil(lit(minDfFrac) * col("n_docs")) &&
        col("df") <= floor(lit(maxDfFrac) * col("n_docs")))
      .select("term", "df", "postings")
      .orderBy("term")
  }

  val textInvertedIndexSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT term, df, postings FROM (
      |  SELECT term, COUNT(*) AS df,
      |    string_agg(doc_id, ',' ORDER BY doc_id) AS postings
      |  FROM t GROUP BY term) g, n
      |WHERE df >= CEIL(0.02 * n_docs) AND df <= FLOOR(0.8 * n_docs)
      |ORDER BY term""".stripMargin

  // --------------------------------------------------------------- #104
  /** #104 heavy hitters via the Misra-Gries sketch (`mg_topk`, a native
    * TypedImperativeAggregate) + exact verify. The sketch pass keeps k
    * counters per partial — not the item domain — so only k strings
    * cross the shuffle; its guarantee (any item with freq > N/k always
    * survives, order-independent) makes the downstream exact re-count
    * of just the candidates, filtered by n·k > N (integer-exact),
    * EQUAL the true heavy-hitter set. At 100 TB this replaces a
    * full-vocabulary groupBy shuffle with a k-bounded sketch plus a
    * candidate-filtered count — the same approx-generate / exact-verify
    * shape as the LSH dedup family.
    */
  def textHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    textHeavyHitters(spark, dir, k = 32)

  def textHeavyHitters(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val toks = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    val cand = toks.agg(expr(s"mg_topk(tok, $k)").as("cands"))
      .select(explode(col("cands")).as("cand"))
    val totals = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cand), col("tok") === col("cand"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totals))
      .where(col("n") * k > col("n_total"))
      .select(col("tok"), col("n"), col("n_total"))
      .orderBy(desc("n"), col("tok"))
  }

  /** Oracle: the exact heavy-hitter set — by the MG guarantee the
    * sketch candidates cover it, so the verified output is identical.
    */
  val textHeavyHittersSql: String =
    """WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |tot AS (SELECT COUNT(*) AS n_total FROM t),
      |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok)
      |SELECT tok, n, n_total FROM c, tot
      |WHERE n * 32 > n_total ORDER BY n DESC, tok""".stripMargin

  // --------------------------------------------------------------- #117
  /** #117 bigram language model estimation: P(w2 | w1) = c(w1 w2) /
    * c(w1 ·) over the corpus — the counting backbone of n-gram LMs
    * (and of the perplexity-style quality filters built on them). Two
    * keyed aggs: bigram counts, then the conditional via a window sum
    * over the aggregated bigram table (the unigram-context total —
    * never a second corpus pass). Restricted to contexts with ≥ 100
    * observations so emitted probabilities are statistically meaningful
    * AND the output is bounded at any corpus size (context count is
    * capped by vocabulary, not data volume).
    */
  def textBigramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val big = Tables(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(explode(Signatures.wordPairs(col("toks"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))
    val ctx = Window.partitionBy("w1")
    big
      .withColumn("c1", sum(col("c12")).over(ctx))
      .where(col("c1") >= 100)
      .select(col("w1"), col("w2"), col("c12"),
        r4(col("c12") / col("c1").cast("double")).as("prob"))
      .orderBy("w1", "w2")
  }

  val textBigramLmSql: String =
    s"""WITH b AS (
       |  SELECT unnest(sp[1:len(sp) - 1]) AS w1,
       |    unnest(sp[2:len(sp)]) AS w2
       |  FROM (SELECT string_split(text, ' ') AS sp FROM documents)),
       |c AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
       |w AS (
       |  SELECT w1, w2, c12,
       |    SUM(c12) OVER (PARTITION BY w1) AS c1
       |  FROM c)
       |SELECT w1, w2, c12,
       |  ${r4Sql("c12 / CAST(c1 AS DOUBLE)")} AS prob
       |FROM w WHERE c1 >= 100
       |ORDER BY w1, w2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bigram_lm" -> (textBigramLm _),
    "text_heavy_hitters" ->
      ((s: SparkSession, d: String) => textHeavyHitters(s, d)),
    "text_inverted_index" ->
      ((s: SparkSession, d: String) => textInvertedIndex(s, d)),
    "text_stats" -> (textStats _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangId _),
    "text_fingerprint" -> (textFingerprint _),
    "text_rolling_fingerprint" -> (textRollingFingerprint _),
    "text_ngrams" -> (textNgrams _))

  val oracles: Map[String, String] = Map(
    "text_bigram_lm" -> textBigramLmSql,
    "text_heavy_hitters" -> textHeavyHittersSql,
    "text_inverted_index" -> textInvertedIndexSql,
    "text_stats" -> textStatsSql,
    "text_quality" -> textQualitySql,
    "text_langid" -> textLangIdSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_rolling_fingerprint" -> textRollingFingerprintSql,
    "text_ngrams" -> textNgramsSql)
}
