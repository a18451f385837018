package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql}

/** LLM corpus-preparation operators (SURVEY.md §2 extensions #64-67):
  * the batch jobs a training-data pipeline runs between "raw crawl" and
  * "tokenizer input" — repetition-quality filtering, benchmark
  * decontamination, sequence packing, and domain-mixture balancing.
  *
  * Scale design (100 TB):
  *  - repetition stats: explode → two keyed aggregations on doc_id
  *    (map-side partial combine both times) — no joins, no state.
  *  - decontamination: the classic n-gram join — both sides explode to
  *    (gram_hash, doc_id) and equi-join on the hash; the benchmark side
  *    is small by construction (an eval suite) and broadcasts; the
  *    corpus side never self-joins.
  *  - packing: one cumulative-sum window per source partition — the
  *    concat-then-chunk assignment used for pretraining batches.
  *  - mixing: per-source counts (tiny aggregate, broadcast back) + a
  *    deterministic per-row hash draw — no sampling state, rerunnable.
  */
object Corpus {

  // ---------------------------------------------------------------- #64
  /** #64 Gopher-style repetition filter: fraction of word bigrams that
    * are duplicates and the top-bigram share, per document. High values
    * mark boilerplate/spam for removal before training.
    *
    * Entirely map-side: the bigram multiset never explodes into rows —
    * distinct count via `array_distinct`, top-bigram count via a
    * run-length fold over the SORTED gram array (one `aggregate` HOF
    * pass). The first cut shuffled (doc_id, gram) strings through two
    * groupBys and was the most expensive text op in the suite; this
    * form's only shuffle is the final presentation sort.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    Tables.spread(spark, dir, "documents")
      // bind the token array OUTSIDE the lambda: referencing
      // split(text) inside transform re-splits the whole text once per
      // element (O(tokens²) per doc); zip_with over two slices builds
      // the bigrams from the bound array in one pass
      .withColumn("toks", split(col("text"), " "))
      .withColumn("grams", expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
          |  slice(toks, 2, size(toks) - 1),
          |  (a, b) -> concat(a, ' ', b))""".stripMargin))
      .withColumn("n_bigrams", size(col("grams")).cast("long"))
      .withColumn("n_distinct_bigrams",
        size(array_distinct(col("grams"))).cast("long"))
      // max run length over the sorted grams == max multiplicity
      .withColumn("top_cnt", expr(
        """aggregate(array_sort(grams),
          |  named_struct('prev', '', 'run', 0L, 'best', 0L),
          |  (acc, g) -> named_struct(
          |    'prev', g,
          |    'run', IF(g = acc.prev, acc.run + 1L, 1L),
          |    'best', greatest(acc.best,
          |      IF(g = acc.prev, acc.run + 1L, 1L))),
          |  acc -> acc.best)""".stripMargin))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        r4(lit(1.0) - col("n_distinct_bigrams") / col("n_bigrams"))
          .as("dup_frac"),
        r4(col("top_cnt") / col("n_bigrams")).as("top_frac"))
      .withColumn("keep", (col("dup_frac") <= 0.2).cast("boolean"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split(text, ' '))),
       |    i -> string_split(text, ' ')[i] || ' '
       |      || string_split(text, ' ')[i + 1])) AS gram
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
       |s AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |    COUNT(*) AS n_distinct_bigrams, MAX(cnt) AS top_cnt
       |  FROM c GROUP BY 1)
       |SELECT doc_id, n_bigrams,
       |  ${r4Sql("1.0 - n_distinct_bigrams / CAST(n_bigrams AS DOUBLE)")}
       |    AS dup_frac,
       |  ${r4Sql("top_cnt / CAST(n_bigrams AS DOUBLE)")} AS top_frac,
       |  (${r4Sql("1.0 - n_distinct_bigrams / CAST(n_bigrams AS DOUBLE)")}
       |    <= 0.2) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- #65
  /** #65 benchmark decontamination: flag corpus documents sharing any
    * 5-gram with the benchmark set (here: the `src0` slice stands in
    * for an eval suite). The shape is THE decontamination job every
    * pretraining corpus runs: explode both sides to (gram_hash, id),
    * equi-join on the hash, aggregate per corpus doc.
    *
    * Gram hashes are md5-derived (`ngram_md5_hashes`) so the oracle
    * reproduces the exact join keys; the benchmark side is tiny and
    * broadcasts — the corpus is touched once, map-side, no self-join.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame, idAs: String): DataFrame = df
      .select(col("doc_id").as(idAs), explode(
        expr("ngram_md5_hashes(split(text, ' '), 5)")).as("gh"))
    val docs = Tables.spread(spark, dir, "documents")
    val bench = grams(docs.where(col("source") === "src0"), "bench_id")
    val corpus = grams(docs.where(col("source") =!= "src0"), "doc_id")
    corpus.join(broadcast(bench), "gh")
      .groupBy("doc_id").agg(
        count_distinct(col("gh")).as("n_shared_grams"),
        count_distinct(col("bench_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  val decontaminateSql: String =
    """WITH g AS (
      |  SELECT doc_id, source, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text, ' ')) - 3),
      |    i -> ('0x' || substr(md5(string_split(text, ' ')[i] || ' '
      |      || string_split(text, ' ')[i + 1] || ' '
      |      || string_split(text, ' ')[i + 2] || ' '
      |      || string_split(text, ' ')[i + 3] || ' '
      |      || string_split(text, ' ')[i + 4]), 1, 16))::UBIGINT))) AS gh
      |  FROM documents)
      |SELECT c.doc_id, COUNT(DISTINCT c.gh) AS n_shared_grams,
      |  COUNT(DISTINCT b.doc_id) AS n_bench_docs
      |FROM g c JOIN g b ON c.gh = b.gh
      |WHERE c.source <> 'src0' AND b.source = 'src0'
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- #130
  /** #130 Bloom-prefiltered decontamination — the 100 TB form of #65.
    * The benchmark slice's 5-gram hashes fold into ONE m-bit Bloom
    * filter (`bloom_agg`: fixed-size partials, bitwise-OR merge — only
    * m/8 bytes cross the shuffle), which broadcasts to the corpus as a
    * 1-row cross join. Docs failing `bloom_any` never explode their
    * grams at all, so the exact verify join's big side shrinks from
    * |corpus| × grams-per-doc to (match rate + false-positive rate) ×
    * that — at a real corpus-vs-benchmark ratio, orders of magnitude.
    * No false negatives ⇒ the verified output (and the oracle) are
    * IDENTICAL to #65's exact join; the filter only deletes work.
    */
  def decontaminateBloom(spark: SparkSession, dir: String,
      mBits: Int = 1 << 20, kProbes: Int = 4): DataFrame = {
    val docs = Tables.spread(spark, dir, "documents")
      .withColumn("ghs", expr("ngram_md5_hashes(split(text, ' '), 5)"))
    val bench = docs.where(col("source") === "src0")
    val bloom = bench.agg(
      expr(s"bloom_agg(ghs, $mBits, $kProbes)").as("bloom"))
    val benchGrams = bench
      .select(col("doc_id").as("bench_id"), explode(col("ghs")).as("gh"))
    docs.where(col("source") =!= "src0")
      .join(broadcast(bloom))
      .where(expr(s"bloom_any(bloom, ghs, $mBits, $kProbes)"))
      .select(col("doc_id"), explode(col("ghs")).as("gh"))
      .join(broadcast(benchGrams), "gh")
      .groupBy("doc_id").agg(
        count_distinct(col("gh")).as("n_shared_grams"),
        count_distinct(col("bench_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- #150
  /** #150 incremental-ingest dedup: the day-N pattern — new documents
    * (the `src1` slice standing in for today's batch) dedup against
    * the HISTORY (every other source) without re-joining the full
    * corpus. History folds into one Bloom filter of 60-bit md5 content
    * keys (m/8 bytes total, OR-merged partials); new docs that fail
    * `bloom_any` never reach the verify join, so the exact-match join's
    * left side shrinks to true-dup + false-positive rate. No false
    * negatives ⇒ output == the plain cross-source equi-join. At 100 TB
    * the bloom is built once per ingest window and reused across
    * batches (the streaming dedup's state, batch-shaped).
    */
  def dedupIncremental(spark: SparkSession, dir: String,
      mBits: Int = 1 << 20, kProbes: Int = 4): DataFrame = {
    // 60-bit md5-derived content key (15 hex chars — fits BIGINT on
    // both engines; the verify join makes collisions harmless)
    val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    val docs = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), col("source"), h.as("h"))
    val history = docs.where(col("source") =!= "src1")
    // today's batch: the src1 slice plus a planted re-ingest of every
    // 5th history doc under a fresh id — the corpus has no organic
    // cross-source exact dupes, and a day-N batch ALWAYS carries
    // already-ingested content (crawler overlap); this models it
    // deterministically so the match path is exercised
    val batch = docs.where(col("source") === "src1")
      .unionByName(history.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          lit("src1").as("source"), col("h")))
    val bloom = history
      .select(array(col("h")).as("hs"))
      .agg(expr(s"bloom_agg(hs, $mBits, $kProbes)").as("bloom"))
    batch
      .join(broadcast(bloom))
      .where(expr(s"bloom_any(bloom, array(h), $mBits, $kProbes)"))
      .join(history.select(col("h").as("hh")), col("h") === col("hh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_history_copies"))
      .orderBy("doc_id")
  }

  /** Oracle: the exact cross-source content join — the bloom only
    * prunes the plan (no false negatives + exact verify).
    */
  val dedupIncrementalSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      |  FROM documents),
      |hist AS (SELECT * FROM d WHERE source <> 'src1'),
      |batch AS (
      |  SELECT doc_id, h FROM d WHERE source = 'src1'
      |  UNION ALL
      |  SELECT doc_id + 2000000, h FROM hist WHERE doc_id % 5 = 0)
      |SELECT b.doc_id, COUNT(*) AS n_history_copies
      |FROM batch b JOIN hist o ON b.h = o.h
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- #66
  /** #66 sequence packing: concat-then-chunk assignment of documents to
    * fixed-size training sequences, per source stream. Each document is
    * tagged with the chunk where it starts (floor of the preceding
    * token count / chunk size) — the standard packed-pretraining layout
    * computed as ONE cumulative-sum window, no iteration.
    */
  def packSequences(spark: SparkSession, dir: String,
      chunkTokens: Int = 2048): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum_after", sum("n_tokens").over(w))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        floor((col("cum_after") - col("n_tokens")) / chunkTokens)
          .as("chunk"))
      .orderBy("source", "doc_id")
  }

  val packSequencesSql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT source, doc_id, n_tokens,
      |  CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0) AS BIGINT)
      |    AS chunk
      |FROM t ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------- #67
  /** #67 domain-mixture balancing: downsample every source to the
    * smallest source's size with a DETERMINISTIC per-document draw
    * (md5(doc_id) as a uniform in [0,1)) — rerunnable, no RNG state,
    * and the kept set is stable under corpus growth of other sources.
    * The per-source rates are a tiny aggregate cross-joined back
    * (broadcast); the draw is map-side.
    */
  def mixDomains(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val rates = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
      .withColumn("n_min", min("n_source").over(Window.partitionBy()))
      .select(col("source"),
        (col("n_min") / col("n_source")).as("p_keep"))
    docs
      .join(broadcast(rates), "source")
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") / 4294967296.0)
      .where(col("u") < col("p_keep"))
      .select("source", "doc_id", "lang", "n_chars")
      .orderBy("source", "doc_id")
  }

  val mixDomainsSql: String =
    """WITH r AS (
      |  SELECT source, COUNT(*) AS n_source,
      |    MIN(COUNT(*)) OVER () AS n_min
      |  FROM documents GROUP BY source)
      |SELECT d.source, d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN r ON d.source = r.source
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
      |    / 4294967296.0 < r.n_min / CAST(r.n_source AS DOUBLE)
      |ORDER BY d.source, d.doc_id""".stripMargin

  // --------------------------------------------------------------- #370
  /** #370 temperature-smoothed mixture weights (α = 1/2) — the
    * multilingual/multi-domain sampling recipe (mT5/XLM-R and the
    * open-LLM data mixes): raw shares pᵢ ∝ token mass are SMOOTHED to
    * pᵢ^α before normalizing, boosting low-resource sources without
    * the hard floor #67's equal-mass downsample imposes. α = 1/2 is
    * the standard default AND the engine-exact choice: sqrt is a
    * correctly-rounded IEEE-754 primitive on both engines (no libm
    * pow), each source's √mass is pinned to DECIMAL(28,12) so the
    * normalizing total is an order-free exact sum, and the emitted
    * share/boost are one r4'd division each. Emits per source the
    * token mass, raw share, temperature share, and the sampling boost
    * (temp share ÷ raw share — >1 = upsampled), the numbers a mixture
    * spec is written from.
    *
    * Scale: one map-side token count + a sources-sized agg; the 1-row
    * total broadcasts. No data movement beyond the rollup at any
    * corpus size.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.spread(spark, dir, "documents")
      .where(col("text").isNotNull)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
      .withColumn("sq",
        sqrt(col("tokens").cast("double")).cast("decimal(28,12)"))
    val tot = m.agg(sum("tokens").as("tok_total"),
      sum("sq").as("sq_total"))
    m.join(broadcast(tot))
      .select(col("source"), col("tokens"),
        r4(col("tokens").cast("double") /
          col("tok_total").cast("double")).as("raw_share"),
        r4(col("sq").cast("double") /
          col("sq_total").cast("double")).as("temp_share"),
        r4(col("sq").cast("double") / col("sq_total").cast("double") /
          (col("tokens").cast("double") /
            col("tok_total").cast("double"))).as("boost"))
      .orderBy("source")
  }

  val mixTemperatureSql: String =
    s"""WITH m AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |q AS (
       |  SELECT source, tokens,
       |    CAST(sqrt(CAST(tokens AS DOUBLE)) AS DECIMAL(28,12)) AS sq
       |  FROM m),
       |t AS (
       |  SELECT CAST(SUM(tokens) AS BIGINT) AS tok_total,
       |    CAST(SUM(sq) AS DECIMAL(38,12)) AS sq_total
       |  FROM q)
       |SELECT source, tokens,
       |  ${r4Sql("CAST(tokens AS DOUBLE) / CAST(tok_total AS DOUBLE)")}
       |    AS raw_share,
       |  ${r4Sql("CAST(sq AS DOUBLE) / CAST(sq_total AS DOUBLE)")}
       |    AS temp_share,
       |  ${r4Sql("CAST(sq AS DOUBLE) / CAST(sq_total AS DOUBLE) / " +
                  "(CAST(tokens AS DOUBLE) / CAST(tok_total AS DOUBLE))")}
       |    AS boost
       |FROM q CROSS JOIN t ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- #68
  /** #68 repeated-passage detection (the C4/MassiveText passage-level
    * dedup signal): chunk every document into non-overlapping 8-token
    * passages, hash each passage, and per document report how many of
    * its passages also occur in ANOTHER document. Docs dominated by
    * cross-document boilerplate (nav bars, license headers, templated
    * spam) get a high shared fraction and are dropped before training.
    *
    * Scale: ONE scan — the (hash, doc) stream aggregates to per-(hash,
    * doc) multiplicities (map-side partial combine), a window over the
    * hash counts co-resident documents without a second pass, and the
    * per-doc rollup is the only other shuffle. The corpus's token
    * stream is materialized exactly once; no self-join, no flag-back
    * join, everything linear in total passage count.
    */
  def dedupPassages(spark: SparkSession, dir: String,
      passageTokens: Int = 8): DataFrame = {
    val p = Tables.spread(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      // NB sequence(1, 0) DESCENDS in Spark — guard the <1-passage case
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $passageTokens THEN
           |  transform(sequence(1, size(toks) div $passageTokens),
           |    i -> md5(concat_ws(' ',
           |      slice(toks, (i - 1) * $passageTokens + 1, $passageTokens))))
           |ELSE array() END""".stripMargin)).as("ph"))
    val perDoc = p.groupBy("ph", "doc_id").agg(count(lit(1)).as("cnt"))
    // docs co-resident on the hash, counted in-place by a window — a
    // passage is shared iff >= 2 distinct docs carry its hash
    val wPh = Window.partitionBy("ph")
    perDoc
      .withColumn("n_docs", count(lit(1)).over(wPh))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_passages"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(lit(0L)))
          .as("n_shared"))
      .select(col("doc_id"), col("n_passages"), col("n_shared"),
        r4(col("n_shared") / col("n_passages")).as("shared_frac"))
      .orderBy("doc_id")
  }

  val dedupPassagesSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split(text, ' ')) // 8 + 1),
       |    i -> md5(array_to_string(
       |      string_split(text, ' ')[(i - 1) * 8 + 1 : (i - 1) * 8 + 8],
       |      ' ')))) AS ph
       |  FROM documents),
       |shared AS (
       |  SELECT ph FROM (SELECT DISTINCT doc_id, ph FROM p)
       |  GROUP BY ph HAVING COUNT(*) >= 2)
       |SELECT p.doc_id, COUNT(*) AS n_passages,
       |  CAST(SUM(CASE WHEN s.ph IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared,
       |  ${r4Sql("SUM(CASE WHEN s.ph IS NOT NULL THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)")}
       |    AS shared_frac
       |FROM p LEFT JOIN shared s ON p.ph = s.ph
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  // --------------------------------------------------------------- #160
  /** #160 unaligned duplicated-SPAN detection — the declarative
    * approximation of suffix-array substring dedup ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022).
    * `dedup_passages` (#68) hashes NON-overlapping fixed chunks, so a
    * duplicated span that straddles a chunk boundary (any alignment
    * shift of 1..7 tokens) produces zero matching hashes and is missed.
    * Here every OVERLAPPING w-token window (stride 1) is hashed, so a
    * cross-document duplicated span of >= w tokens matches at EVERY
    * alignment; per document, the shared windows are run-merged into
    * maximal covered intervals (stacked windows: consecutive shared
    * starts closer than w merge) and the covered token count reported.
    *
    * Scale: the shingle stream is w× the token stream (w=8) but stays
    * one scan — (doc, pos, hash) aggregates to the distinct-doc count
    * per hash (map-side combine), the shared-hash set is DUPLICATE-
    * DENSITY-sized and size-gates onto the broadcast path for the
    * attach join, and the run-merge is one lag window per document.
    * No self-join, no all-pairs — same shape that lets MinHash LSH
    * scale, applied at substring granularity.
    */
  def dedupSubstrings(spark: SparkSession, dir: String,
      window: Int = 8): DataFrame =
    dedupSubstringsDocs(Tables.spread(spark, dir, "documents"), window)

  /** Core of #160 over an arbitrary `(doc_id, text)` table (spec entry
    * point: plant an unaligned duplicated span, prove #68 misses it).
    */
  private[operators] def dedupSubstringsDocs(docs: DataFrame,
      window: Int): DataFrame = {
    val w = window
    // every overlapping w-token window, hashed; docs shorter than w
    // tokens carry no window and drop out (mirrors #68's chunk rule)
    val s = docs
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= w)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - $w + 1),
           |  i -> struct(i AS pos,
           |    md5(concat_ws(' ', slice(toks, i, $w))) AS sh))"""
          .stripMargin)).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.sh").as("sh"))
    // hashes carried by >= 2 distinct docs: duplicate-density-sized,
    // so the attach join onto the position stream size-gates to a
    // broadcast; past the gate it is a plain equi-join on the hash
    val sharedHashes = Tables.maybeBroadcast(
      s.select("doc_id", "sh").distinct()
        .groupBy("sh").agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 2).select("sh"))
    // run-merge per doc: sorted shared starts; a start within w-1 of
    // its predecessor extends the current run (contributes the overlap
    // delta), a farther one opens a new run (contributes w)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val covered = s.join(sharedHashes, "sh")
      .select("doc_id", "pos")
      .withColumn("prev", lag("pos", 1).over(wDoc))
      .groupBy("doc_id").agg(
        sum(when(col("prev").isNull, lit(w))
          .otherwise(least(lit(w), col("pos") - col("prev"))))
          .cast("bigint").as("dup_tokens"))
    // per-doc totals from the same stream (max start + w - 1 tokens);
    // left join keeps clean docs at dup_tokens = 0
    s.groupBy("doc_id")
      .agg((max(col("pos")) + lit(w - 1)).cast("bigint").as("n_tokens"))
      .join(Tables.maybeBroadcast(covered), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        r4(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val dedupSubstringsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8),
       |s AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |    md5(array_to_string(toks[i : i + 7], ' ')) AS sh
       |  FROM t, UNNEST(range(1, len(toks) - 8 + 2)) AS u(i)),
       |shared AS (
       |  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM s)
       |  GROUP BY sh HAVING COUNT(*) >= 2),
       |runs AS (
       |  SELECT s.doc_id, s.pos,
       |    lag(s.pos) OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS prev
       |  FROM s JOIN shared USING (sh)),
       |cov AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN prev IS NULL THEN 8
       |    ELSE LEAST(8, pos - prev) END) AS BIGINT) AS dup_tokens
       |  FROM runs GROUP BY doc_id),
       |tot AS (
       |  SELECT doc_id, CAST(MAX(pos) + 7 AS BIGINT) AS n_tokens
       |  FROM s GROUP BY doc_id)
       |SELECT tot.doc_id, tot.n_tokens,
       |  COALESCE(cov.dup_tokens, 0) AS dup_tokens,
       |  ${r4Sql("COALESCE(cov.dup_tokens, 0) / CAST(tot.n_tokens AS DOUBLE)")}
       |    AS dup_frac
       |FROM tot LEFT JOIN cov ON tot.doc_id = cov.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  // ---------------------------------------------------------------- #69
  /** #69 out-of-vocabulary rate: build the corpus top-K vocabulary
    * (global token frequencies, ties broken lexically) and report each
    * document's OOV token fraction — the standard tokenizer-coverage /
    * gibberish signal for corpus triage.
    *
    * Scale: the vocabulary is K rows (tiny) no matter the corpus size —
    * token counting is one keyed aggregation with map-side combine, the
    * top-K is a single-partition sort of the (small) distinct-token
    * table, and the per-doc OOV check is a broadcast LEFT ANTI join of
    * the exploded token stream against the K-row vocab.
    */
  def textOovRate(spark: SparkSession, dir: String,
      vocabSize: Int = 30): DataFrame = {
    val toks = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("tok")).limit(vocabSize)
      .select("tok")
    val oov = toks.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_oov"),
        count_distinct(col("tok")).as("n_oov_distinct"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("n_oov_distinct"), lit(0L)).as("n_oov_distinct"),
        r4(coalesce(col("n_oov"), lit(0L)) / col("n_tokens"))
          .as("oov_frac"))
      .orderBy("doc_id")
  }

  val textOovRateSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok FROM t GROUP BY tok
       |  ORDER BY COUNT(*) DESC, tok LIMIT 30),
       |oov AS (
       |  SELECT doc_id, COUNT(*) AS n_oov,
       |    COUNT(DISTINCT tok) AS n_oov_distinct
       |  FROM t WHERE tok NOT IN (SELECT tok FROM vocab)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |  COALESCE(o.n_oov, 0) AS n_oov,
       |  COALESCE(o.n_oov_distinct, 0) AS n_oov_distinct,
       |  ${r4Sql("COALESCE(o.n_oov, 0) / CAST(len(string_split(d.text, ' ')) AS DOUBLE)")}
       |    AS oov_frac
       |FROM documents d LEFT JOIN oov o ON d.doc_id = o.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- #70
  /** #70 token-budgeted source selection: every source gets an equal
    * slice of a global token budget (integer division — exact), and
    * documents are admitted in doc_id order until their source's slice
    * is full (a doc is kept iff it ENDS within budget). This is the
    * deterministic "cap every domain at N tokens" mixture step that
    * runs after quality filtering and before packing.
    *
    * Scale: one cumulative-sum window per source partition (same
    * shuffle shape as pack_sequences) — admission needs no iteration
    * and no driver state, and appending new docs (higher doc_ids)
    * never evicts previously admitted ones: rerunnable incrementally.
    */
  def corpusTokenBudget(spark: SparkSession, dir: String,
      totalBudget: Long = 10000L): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val nSources = docs.select("source").distinct()
      .agg(count(lit(1)).as("n_sources"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .join(broadcast(nSources), lit(true))
      // integer division on BOTH engines (Spark `/` on longs is double)
      .where(col("cum_tokens") <= expr(s"${totalBudget}L div n_sources"))
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .orderBy("source", "doc_id")
  }

  val corpusTokenBudgetSql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
      |      PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum_tokens
      |  FROM documents),
      |n AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
      |SELECT source, doc_id, n_tokens, cum_tokens
      |FROM t, n WHERE cum_tokens <= 10000 // n_sources
      |ORDER BY source, doc_id""".stripMargin

  // --------------------------------------------------------------- #102
  /** #102 token-weighted deterministic sampling: each document is kept
    * with probability proportional to its token count (the standard
    * weighting when a token budget — not a document budget — drives
    * corpus composition). The draw is the stratified-sampling idiom: a
    * 16-bit md5 slice of the doc id as a uniform [0,1) variate,
    * accepted when it falls under tokens/max_tokens. Deterministic →
    * rerunnable and engine-reproducible; no sampling state.
    *
    * Scale: one corpus scan; max_tokens is a 1-row aggregate grafted in
    * as a broadcast cross join (a scalar subplan, not a driver
    * collect); the summary is one keyed agg with map-side combine.
    */
  def sampleTokenWeighted(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    val mx = d.agg(max(col("n_toks")).as("max_toks"))
    d.crossJoin(broadcast(mx))
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"))
      .withColumn("keep", col("h") / lit(65536.0) <
        col("n_toks") / col("max_toks").cast("double"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("keep"), 1)).as("n_kept"),
        sum(when(col("keep"), col("n_toks")).otherwise(lit(0L)))
          .as("kept_tokens"),
        r4(count(when(col("keep"), 1)) / count(lit(1)).cast("double"))
          .as("keep_ratio"))
      .orderBy("source")
  }

  val sampleTokenWeightedSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT AS h
       |  FROM documents),
       |mx AS (SELECT MAX(n_toks) AS max_toks FROM d)
       |SELECT source, COUNT(*) AS n_total,
       |  COUNT(*) FILTER (WHERE keep) AS n_kept,
       |  CAST(COALESCE(SUM(n_toks) FILTER (WHERE keep), 0) AS BIGINT)
       |    AS kept_tokens,
       |  ${r4Sql("COUNT(*) FILTER (WHERE keep) / CAST(COUNT(*) AS DOUBLE)")}
       |    AS keep_ratio
       |FROM (
       |  SELECT source, n_toks,
       |    h / 65536.0 < n_toks / CAST(max_toks AS DOUBLE) AS keep
       |  FROM d CROSS JOIN mx)
       |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #136
  /** #136 deterministic train/val/test split: every doc lands in
    * exactly one split by an md5 draw on its id — reproducible across
    * engines, runs, and cluster layouts (no RNG state, no sampling
    * operator), with 80/10/10 enforced by EXACT integer threshold
    * comparisons (5h < 4·65536 etc. — no float boundary can flip a
    * doc). Map-side classification + one keyed agg; the assignment
    * column itself is what a real pipeline writes out as the split
    * partition key.
    */
  def splitTrainVal(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"))
      .withColumn("split",
        when(col("h") * 5 < 4L * 65536L, "train")
          .when(col("h") * 10 < 9L * 65536L, "val")
          .otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("source", "split")

  val splitTrainValSql: String =
    """WITH d AS (
      |  SELECT source,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS h,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |s AS (
      |  SELECT source, n_toks,
      |    CASE WHEN h * 5 < 4 * 65536 THEN 'train'
      |      WHEN h * 10 < 9 * 65536 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM d)
      |SELECT source, split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      |FROM s GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  // --------------------------------------------------------------- #137
  /** #137 domain drift: χ² divergence of each source's unigram
    * distribution from the corpus distribution over the top-200 vocab.
    * Distributions are exact integer-count rationals; missing words
    * enter as true zero terms via the source×vocab cross join (tiny:
    * |sources|×200); each χ² term is decimal-cast before the sum so
    * IEEE accumulation order can't drift. The corpus-monitoring signal
    * for mixture shift between ingests — pairs with #67 (mixing) and
    * #80 (Zipf shape).
    */
  def corpusDomainDrift(spark: SparkSession, dir: String,
      vocabK: Int = 200): DataFrame = {
    val toks = Tables.spread(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val global = toks.groupBy("tok").agg(count(lit(1)).as("cg"))
    val vocab = global
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("cg"), col("tok"))))
      .where(col("rk") <= vocabK)
      .select("tok", "cg")
    val ng = vocab.agg(sum(col("cg")).as("ng"))
    val srcCounts = toks
      .join(broadcast(vocab.select("tok")), "tok")
      .groupBy("source", "tok").agg(count(lit(1)).as("cs"))
    val ns = srcCounts.groupBy("source").agg(sum(col("cs")).as("ns"))
    val grid = ns.crossJoin(broadcast(vocab))
      .join(srcCounts, Seq("source", "tok"), "left")
      .withColumn("cs", coalesce(col("cs"), lit(0L)))
      .crossJoin(broadcast(ng))
    val ps = col("cs") / col("ns").cast("double")
    val pg = col("cg") / col("ng").cast("double")
    grid
      .withColumn("term",
        ((ps - pg) * (ps - pg) / pg).cast(DecimalType(38, 18)))
      .groupBy("source")
      .agg(max(col("ns")).as("n_tokens_vocab"),
        sum(col("term")).cast("double").as("chi2_raw"))
      .select(col("source"), col("n_tokens_vocab"),
        r4(col("chi2_raw")).as("chi2"))
      .orderBy("source")
  }

  val corpusDomainDriftSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |global AS (SELECT tok, COUNT(*) AS cg FROM toks GROUP BY 1),
       |vocab AS (
       |  SELECT tok, cg FROM (
       |    SELECT tok, cg,
       |      ROW_NUMBER() OVER (ORDER BY cg DESC, tok) AS rk
       |    FROM global)
       |  WHERE rk <= 200),
       |ng AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng FROM vocab),
       |sc AS (
       |  SELECT source, t.tok, COUNT(*) AS cs
       |  FROM toks t JOIN vocab v ON t.tok = v.tok
       |  GROUP BY 1, 2),
       |ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns
       |  FROM sc GROUP BY 1),
       |grid AS (
       |  SELECT ns.source, ns.ns, v.tok, v.cg, COALESCE(sc.cs, 0) AS cs
       |  FROM ns CROSS JOIN vocab v
       |  LEFT JOIN sc ON sc.source = ns.source AND sc.tok = v.tok),
       |terms AS (
       |  SELECT source, ns,
       |    CAST((cs / CAST(ns AS DOUBLE) - cg / CAST(ng AS DOUBLE))
       |      * (cs / CAST(ns AS DOUBLE) - cg / CAST(ng AS DOUBLE))
       |      / (cg / CAST(ng AS DOUBLE)) AS DECIMAL(38,18)) AS term
       |  FROM grid CROSS JOIN ng)
       |SELECT source, MAX(ns) AS n_tokens_vocab,
       |  ${r4Sql("CAST(SUM(term) AS DOUBLE)")} AS chi2
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #138
  /** #138 first BPE merge iteration: corpus-weighted adjacent
    * character-pair frequencies, computed over the DISTINCT-WORD
    * vocabulary (pair extraction runs once per vocab word, then
    * multiplies by the word's corpus count — the standard trick that
    * makes distributed BPE training linear in |vocab|, not corpus
    * tokens). Top-20 by (count, pair) total order; ties can't
    * reorder cross-engine.
    */
  def textBpePairs(spark: SparkSession, dir: String,
      topK: Int = 20): DataFrame = {
    val words = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .where(length(col("w")) >= 2)
    words
      .select(col("cw"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(sum(col("cw")).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("pair"))
      .limit(topK)
  }

  val textBpePairsSql: String =
    """WITH words AS (
      |  SELECT w, COUNT(*) AS cw FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w HAVING len(w) >= 2),
      |pairs AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> substr(w, i, 2))) AS pair, cw
      |  FROM words)
      |SELECT pair, CAST(SUM(cw) AS BIGINT) AS n_occurrences
      |FROM pairs GROUP BY pair
      |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin

  // --------------------------------------------------------------- #161
  /** #161 multi-iteration BPE training (k merges): the real tokenizer-
    * training loop, not just #138's first pair table. Each iteration
    * counts corpus-weighted adjacent symbol pairs over the distinct-word
    * vocabulary, emits the top-`topK` pair table, then merges the #1
    * pair (count desc, pair asc — a total order, so cross-engine
    * deterministic) into every word greedily left-to-right and repeats
    * on the merged symbols, exactly Sennrich et al.'s algorithm.
    *
    * Scale: per iteration one keyed pair aggregation with map-side
    * combine (vocabulary-sized, not corpus-sized — the distinct-word
    * trick from #138), a row_number over the AGGREGATED pair table
    * (tiny: distinct adjacent symbol pairs), and one narrow map that
    * folds the merge through each word's symbol array. The only
    * driver-side value is the 1-row winning pair per iteration — the
    * same fixpoint pattern as k-means centroids. `localCheckpoint`
    * cuts lineage so iteration k doesn't replay 1..k-1.
    */
  def textBpeMerges(spark: SparkSession, dir: String,
      iterations: Int = 3, topK: Int = 10): DataFrame = {
    def sqlLit(s: String): String =
      s.replace("\\", "\\\\").replace("'", "\\'")
    var vocab = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .where(length(col("w")) >= 2)
      .select(col("cw"), split(col("w"), "").as("syms"))
      .localCheckpoint(true)
    val perIter = (1 to iterations).map { it =>
      val ranked = vocab
        .select(col("cw"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> concat_ws(' ', slice(syms, i, 2)))""".stripMargin))
          .as("pair"))
        .groupBy("pair").agg(sum("cw").as("n_occurrences"))
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("n_occurrences"), col("pair"))))
        .where(col("rk") <= topK)
        .select(lit(it).as("iter"), col("rk"), col("pair"),
          col("n_occurrences"))
        .localCheckpoint(true) // pin THIS iteration's counts (10 rows)
      if (it < iterations) {
        // winning pair -> greedy left-to-right merge fold: the merged
        // symbol can never chain-merge within the same iteration
        // because the folded tail compares against the FULL symbol
        val parts = ranked.where(col("rk") === 1)
          .head.getAs[String]("pair").split(' ')
        val (a, b) = (sqlLit(parts(0)), sqlLit(parts(1)))
        vocab = vocab.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>),
             |  (acc, s) -> CASE WHEN size(acc) > 0
             |      AND element_at(acc, -1) = '$a' AND s = '$b'
             |    THEN concat(slice(acc, 1, size(acc) - 1), array('$a$b'))
             |    ELSE concat(acc, array(s)) END)""".stripMargin))
          .localCheckpoint(true)
      }
      ranked
    }
    perIter.reduce(_.unionAll(_)).orderBy("iter", "rk")
  }

  /** DuckDB mirror of the 3-iteration merge loop. The greedy merge is
    * expressed as repeated boundary-space `replace` over the space-
    * joined symbol string: ' a b ' -> ' ab '. One replace pass merges
    * every OTHER occurrence in a consecutive chain (the consumed
    * boundary space hides the next), so the pass is applied 7 times —
    * enough for chains up to 2^7 occurrences, far past any real token —
    * after which the result equals the left-to-right greedy fold.
    */
  val textBpeMergesSql: String = {
    def rep7(inner: String): String =
      (1 to 7).foldLeft(inner)((s, _) => s"replace($s, pat, rep)")
    def pairsOf(v: String): String =
      s"""SELECT cw, unnest(list_transform(
         |    range(1, len(string_split(s, ' '))),
         |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i + 1]))
         |    AS pair
         |  FROM $v""".stripMargin
    def iterCtes(i: Int, vPrev: String): String =
      s"""p$i AS (
         |  SELECT pair, CAST(SUM(cw) AS BIGINT) AS c FROM (
         |  ${pairsOf(vPrev)})
         |  GROUP BY pair),
         |t$i AS (
         |  SELECT pair, c,
         |    CAST(row_number() OVER (ORDER BY c DESC, pair) AS INTEGER)
         |      AS rk
         |  FROM p$i),
         |m$i AS (
         |  SELECT ' ' || pair || ' ' AS pat,
         |    ' ' || replace(pair, ' ', '') || ' ' AS rep
         |  FROM t$i WHERE rk = 1),
         |v$i AS (
         |  SELECT cw, trim(${rep7("' ' || s || ' '")}) AS s
         |  FROM $vPrev CROSS JOIN m$i)""".stripMargin
    s"""WITH words AS (
       |  SELECT w, COUNT(*) AS cw FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w HAVING len(w) >= 2),
       |v0 AS (
       |  SELECT cw, array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i]), ' ') AS s
       |  FROM words),
       |${iterCtes(1, "v0")},
       |${iterCtes(2, "v1")},
       |${iterCtes(3, "v2")}
       |SELECT 1 AS iter, rk, pair, c AS n_occurrences
       |FROM t1 WHERE rk <= 10
       |UNION ALL SELECT 2, rk, pair, c FROM t2 WHERE rk <= 10
       |UNION ALL SELECT 3, rk, pair, c FROM t3 WHERE rk <= 10
       |ORDER BY iter, rk""".stripMargin
  }

  // --------------------------------------------------------------- #328
  /** Learn the first `nMerges` BPE merges over the distinct-word
    * vocabulary — the #159 training loop (Sennrich et al.) extracted
    * so the ENCODER below can apply what the trainer learned. Each
    * iteration aggregates corpus-weighted adjacent symbol pairs
    * (vocabulary-sized, map-side combined), takes the (count desc,
    * pair asc) winner — a 1-row TakeOrdered, the k-means-style
    * fixpoint scalar — and folds the merge through every word's
    * symbol array. `localCheckpoint` cuts lineage per iteration.
    * Stops early when no pair remains (degenerate corpora).
    */
  private def bpeSqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  private def bpeMergeFoldExpr(a: String, b: String): String =
    s"""aggregate(syms, cast(array() as array<string>),
       |  (acc, s) -> CASE WHEN size(acc) > 0
       |      AND element_at(acc, -1) = '$a' AND s = '$b'
       |    THEN concat(slice(acc, 1, size(acc) - 1), array('$a$b'))
       |    ELSE concat(acc, array(s)) END)""".stripMargin

  private[graft] def bpeLearnMerges(spark: SparkSession, dir: String,
      nMerges: Int): Seq[(String, String)] =
    // learned ONCE per (dir, nMerges) per JVM: the merge ranking is a
    // deterministic pure function of the corpus, re-derived identically
    // by 7 registered queries (and every Bench pass) before r12 — see
    // JvmMemo. Consumers still run their full encode plans.
    graft.JvmMemo.getOrCompute("value", s"bpe_merges_$nMerges", dir) {
      bpeLearnMergesUncached(spark, dir, nMerges)
    }

  private def bpeLearnMergesUncached(spark: SparkSession, dir: String,
      nMerges: Int): Seq[(String, String)] = {
    var vocab = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .where(length(col("w")) >= 2)
      .select(col("cw"), split(col("w"), "").as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    var it = 0
    while (it < nMerges && !exhausted) {
      it += 1
      // size guard: a fully-merged word (1 symbol) must not reach
      // sequence(1, 0), which Spark renders DESCENDING, not empty
      val top = vocab.where(size(col("syms")) >= 2)
        .select(col("cw"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> concat_ws(' ', slice(syms, i, 2)))""".stripMargin))
          .as("pair"))
        .groupBy("pair").agg(sum("cw").as("n"))
        .orderBy(desc("n"), col("pair"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val parts = top.head.getAs[String]("pair").split(' ')
        merges += ((parts(0), parts(1)))
        if (it < nMerges) {
          vocab = vocab.withColumn("syms", expr(bpeMergeFoldExpr(
            bpeSqlLit(parts(0)), bpeSqlLit(parts(1)))))
            .localCheckpoint(true)
        }
      }
    }
    merges.toSeq
  }

  /** Per-document REAL token counts: encode every distinct word once
    * by applying the learned merges in rank order (each a greedy
    * left-to-right fold — rank order is sufficient because a rank-k
    * merge's operands are built only from merges of rank < k, so a
    * later merge can never create an earlier merge's pair), then join
    * counts back to the corpus word stream. The encode table is
    * vocabulary-sized (sub-linear in corpus bytes at any scale); the
    * join is AQE-broadcastable at bench scale and a plain shuffle
    * join on `w` when a web-scale vocabulary outgrows that; the
    * per-doc rollup is one keyed agg with map-side combine.
    */
  private[graft] def bpeDocTokens(spark: SparkSession, dir: String,
      nMerges: Int = 8): DataFrame = {
    // r12: the per-doc encoded-token table is materialized once per
    // (dir, nMerges) per JVM — six registered queries consume it
    // (several through 2-3 plan branches each), and "tokenize once,
    // account everywhere" is the production contract this family
    // models. Doc-count-sized skinny columns; schema-pinned read.
    LayoutCache.table(s"bpe_doc_tokens_$nMerges", dir) {
      bpeDocTokensPlan(spark, dir, nMerges)
    }
  }

  private def bpeDocTokensPlan(spark: SparkSession, dir: String,
      nMerges: Int): DataFrame = {
    val merges = bpeLearnMerges(spark, dir, nMerges)
    val words = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
    var enc = words.select("w").distinct()
      .withColumn("syms", split(col("w"), ""))
    merges.foreach { case (a, b) =>
      enc = enc.withColumn("syms",
        expr(bpeMergeFoldExpr(bpeSqlLit(a), bpeSqlLit(b))))
    }
    val wtok = enc.select(col("w"), size(col("syms")).cast("long").as("nt"))
    words.join(wtok, "w")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_words"), sum("nt").as("n_bpe_tokens"))
  }

  /** #328 tokenizer-true encoding: per-document BPE token counts from
    * the merge table #159 LEARNS but nothing previously APPLIED —
    * every real budget/packing/mixture decision is made in tokenizer
    * units, not whitespace words. Emits per doc the word count, the
    * encoded token count, and tokens/word (the compression the merges
    * bought). The DuckDB oracle re-runs the full learn+encode loop
    * via boundary-space replace, so a green hash proves the Spark
    * fold IS Sennrich encoding, end to end.
    */
  def corpusBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeDocTokens(spark, dir)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        r4(col("n_bpe_tokens") / col("n_words")).as("tokens_per_word"))
      .orderBy("doc_id")

  /** Shared DuckDB CTE block: learn `nMerges` merges (the #159 loop,
    * winner-only), encode ALL distinct words by applying each merge's
    * boundary-space replace in rank order (7 nested passes handle
    * chained occurrences — see textBpeMergesSql), and roll up per-doc
    * word/token counts as `doc_tokens(doc_id, source, n_words,
    * n_bpe_tokens)`. `m_i` is COALESCE-guarded to one no-op row
    * (chr(1) never occurs in text) so a pair-exhausted iteration
    * can't empty the pipeline — mirroring the Scala early-stop.
    */
  private def bpeOracleCtes(nMerges: Int): String = {
    def rep7(inner: String): String =
      (1 to 7).foldLeft(inner)((s, _) => s"replace($s, pat, rep)")
    def pairsOf(v: String): String =
      s"""SELECT cw, unnest(list_transform(
         |    range(1, len(string_split(s, ' '))),
         |    i -> string_split(s, ' ')[i] || ' ' || string_split(s, ' ')[i + 1]))
         |    AS pair
         |  FROM $v""".stripMargin
    val iters = (1 to nMerges).map { i =>
      val vPrev = s"v${i - 1}"
      val merged =
        s"""SELECT cw, trim(${rep7("' ' || s || ' '")}) AS s
           |  FROM $vPrev CROSS JOIN m$i""".stripMargin
      s"""p$i AS (
         |  SELECT pair, CAST(SUM(cw) AS BIGINT) AS c FROM (
         |  ${pairsOf(vPrev)})
         |  GROUP BY pair),
         |m$i AS (
         |  SELECT COALESCE(MAX(pat), chr(1)) AS pat,
         |    COALESCE(MAX(rep), chr(1)) AS rep
         |  FROM (
         |    SELECT ' ' || pair || ' ' AS pat,
         |      ' ' || replace(pair, ' ', '') || ' ' AS rep
         |    FROM p$i ORDER BY c DESC, pair LIMIT 1)),
         |v$i AS (
         |  $merged)""".stripMargin
    }.mkString(",\n")
    val encodes = (1 to nMerges).map { i =>
      s"""e$i AS (
         |  SELECT w, trim(${rep7("' ' || s || ' '")}) AS s
         |  FROM e${i - 1} CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w, COUNT(*) AS cw FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w HAVING len(w) >= 2),
       |v0 AS (
       |  SELECT cw, array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i]), ' ') AS s
       |  FROM words),
       |$iters,
       |aw AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |e0 AS (
       |  SELECT w, array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i]), ' ') AS s
       |  FROM aw),
       |$encodes,
       |wt AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS nt
       |  FROM e$nMerges),
       |dw AS (SELECT doc_id, source,
       |  unnest(string_split(text, ' ')) AS w FROM documents),
       |doc_tokens AS (
       |  SELECT dw.doc_id, dw.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(wt.nt) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN wt USING (w) GROUP BY 1, 2)""".stripMargin
  }

  val corpusBpeEncodeSql: String =
    s"""WITH ${bpeOracleCtes(8)}
       |SELECT doc_id, n_words, n_bpe_tokens,
       |  ${r4Sql("n_bpe_tokens / CAST(n_words AS DOUBLE)")}
       |    AS tokens_per_word
       |FROM doc_tokens ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #341
  /** #341 tokenizer-design compression curve: encode the corpus at
    * merge budgets 0 / 2 / 4 / 8 and report, per budget, the symbol
    * vocabulary in use, total stream words, total encoded tokens and
    * tokens/word — the tokens-vs-vocab trade a tokenizer build sweeps
    * BEFORE committing to a merge count (every extra merge grows the
    * embedding table by one row and shrinks every future training
    * batch; this is the curve that prices that trade). Budget 0 is
    * the character baseline; the rank-order argument (#328) makes
    * PREFIX application exact — encoding with the first k of 8
    * learned merges IS the k-merge tokenizer, so one learn pass
    * serves all four budgets.
    *
    * Scale: the learn loop is #159's vocabulary-sized iteration; the
    * four encode branches share one distinct-word frame (re-folding a
    * ≤8-step expression chain per branch — vocab-sized, never corpus-
    * sized); stream totals join encoded token counts back through the
    * same AQE-broadcastable vocab join as #328. Empty corpus → zero
    * rows (grouped aggregates, not global ones, on both engines).
    */
  def corpusBpeVocabSweep(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeLearnMerges(spark, dir, 8)
    val wc = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .withColumn("syms", split(col("w"), ""))
    val depths = Seq(0, 2, 4, 8)
    // ONE annotated encode pass (r12 verdict task #1): the four sweep
    // budgets are PREFIXES of a single merge chain (budget k == state
    // after k folds), so instead of re-folding the chain per budget —
    // four union branches, each with its own scan + groupBy + up to 8
    // fold expressions, the whole union evaluated twice (tot + vs) —
    // fold ONCE over the distinct-word frame and snapshot the symbol
    // array at each budget depth, then explode the four snapshots into
    // the same (n_merges, cw, syms) rows the union produced. Identical
    // values by construction; the oracle re-proves it.
    var enc = wc.withColumn("s_0", col("syms"))
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      enc = enc.withColumn("syms",
        expr(bpeMergeFoldExpr(bpeSqlLit(a), bpeSqlLit(b))))
      if (depths.contains(i + 1))
        enc = enc.withColumn(s"s_${i + 1}", col("syms"))
    }
    // early merge exhaustion (< 8 learnable pairs): deeper budgets see
    // the final state — exactly what merges.take(k)'s fold produced
    depths.filter(d => d > merges.size).foreach { d =>
      enc = enc.withColumn(s"s_$d", col("syms"))
    }
    // vocabulary-sized (distinct words × 4 budgets, skinny columns);
    // persisted because BOTH rollups below consume it — one encode
    // pass total, not one per consumer
    val tagged = Tables.persistSlot("corpus.bpe_vocab_sweep.tagged",
      enc.select(col("cw"), explode(array(depths.map(d =>
        struct(lit(d.toLong).as("n_merges"), col(s"s_$d").as("syms"))): _*))
        .as("snap"))
        .select(col("snap.n_merges").as("n_merges"), col("cw"),
          col("snap.syms").as("syms")))
    val tot = tagged.groupBy("n_merges")
      .agg(sum("cw").as("total_words"),
        sum(col("cw") * size(col("syms")).cast("long"))
          .as("total_tokens"))
    val vs = tagged.select(col("n_merges"), explode(col("syms")).as("sym"))
      .groupBy("n_merges").agg(countDistinct("sym").as("vocab_size"))
    tot.join(vs, "n_merges")
      .select(col("n_merges"), col("vocab_size"), col("total_words"),
        col("total_tokens"),
        r4(col("total_tokens").cast("double") /
          col("total_words").cast("double")).as("tokens_per_word"))
      .orderBy("n_merges")
  }

  val corpusBpeVocabSweepSql: String = {
    val branches = Seq(0, 2, 4, 8).map { k =>
      s"SELECT CAST($k AS BIGINT) AS n_merges, w, s FROM e$k"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${bpeOracleCtes(8)},
       |wcall AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |alld AS (
       |  $branches),
       |tot AS (
       |  SELECT n_merges, CAST(SUM(cw) AS BIGINT) AS total_words,
       |    CAST(SUM(cw * len(string_split(s, ' '))) AS BIGINT)
       |      AS total_tokens
       |  FROM alld JOIN wcall USING (w) GROUP BY 1),
       |vs AS (
       |  SELECT n_merges, CAST(COUNT(DISTINCT sym) AS BIGINT)
       |    AS vocab_size
       |  FROM (SELECT n_merges, unnest(string_split(s, ' ')) AS sym
       |    FROM alld)
       |  GROUP BY 1)
       |SELECT t.n_merges, v.vocab_size, t.total_words, t.total_tokens,
       |  ${r4Sql("CAST(t.total_tokens AS DOUBLE) / " +
                  "CAST(t.total_words AS DOUBLE)")} AS tokens_per_word
       |FROM tot t JOIN vs v ON t.n_merges = v.n_merges
       |ORDER BY t.n_merges""".stripMargin
  }

  // --------------------------------------------------------------- #329
  /** #329 the #70 budget gate re-pointed at REAL tokens: every source
    * gets an equal slice of a global BPE-token budget; docs admit in
    * doc_id order while their source's cumulative ENCODED token count
    * fits. Same single cum-sum window shape as #70 — only the unit
    * changed, which changes which documents are admitted (the point).
    */
  def corpusTokenBudgetTokened(spark: SparkSession, dir: String,
      totalBudget: Long = 30000L): DataFrame = {
    val dt = bpeDocTokens(spark, dir)
    val nSources = dt.select("source").distinct()
      .agg(count(lit(1)).as("n_sources"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dt.withColumn("cum_tokens", sum("n_bpe_tokens").over(w))
      .join(broadcast(nSources), lit(true))
      .where(col("cum_tokens") <= expr(s"${totalBudget}L div n_sources"))
      .select("source", "doc_id", "n_bpe_tokens", "cum_tokens")
      .orderBy("source", "doc_id")
  }

  val corpusTokenBudgetTokenedSql: String =
    s"""WITH ${bpeOracleCtes(8)},
       |n AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents),
       |c AS (
       |  SELECT source, doc_id, n_bpe_tokens,
       |    CAST(SUM(n_bpe_tokens) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS cum_tokens
       |  FROM doc_tokens)
       |SELECT source, doc_id, n_bpe_tokens, cum_tokens
       |FROM c, n WHERE cum_tokens <= 30000 // n_sources
       |ORDER BY source, doc_id""".stripMargin

  // --------------------------------------------------------------- #330
  /** #330 the #66 packing layout re-pointed at REAL tokens: each doc
    * tagged with the fixed-size training chunk where it starts, with
    * chunk fill measured in ENCODED tokens — the unit the GPU batch
    * actually sees. One cum-sum window per source stream.
    */
  def packSequencesTokened(spark: SparkSession, dir: String,
      chunkTokens: Int = 2048): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bpeDocTokens(spark, dir)
      .withColumn("cum_after", sum("n_bpe_tokens").over(w))
      .select(col("source"), col("doc_id"), col("n_bpe_tokens"),
        floor((col("cum_after") - col("n_bpe_tokens")) / chunkTokens)
          .as("chunk"))
      .orderBy("source", "doc_id")
  }

  val packSequencesTokenedSql: String =
    s"""WITH ${bpeOracleCtes(8)}
       |SELECT source, doc_id, n_bpe_tokens,
       |  CAST(FLOOR((SUM(n_bpe_tokens) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_bpe_tokens)
       |    / 2048.0) AS BIGINT) AS chunk
       |FROM doc_tokens ORDER BY source, doc_id""".stripMargin

  // --------------------------------------------------------------- #336
  /** #336 the #67 mixture re-pointed at REAL tokens: downsample every
    * source to the smallest source's ENCODED token mass, not its doc
    * count — a long-document source must shed more documents for the
    * same token share, which is the entire reason mixtures are
    * specified in tokenizer units. Same deterministic md5 draw as #67
    * (rerunnable, no RNG state, kept set stable under other sources'
    * growth); per-source token masses are a tiny broadcast; the draw
    * is map-side over the per-doc encoded counts, so the mixture
    * costs one vocab-sized encode + one keyed agg at any corpus size.
    */
  def mixDomainsTokened(spark: SparkSession, dir: String): DataFrame = {
    val dt = bpeDocTokens(spark, dir)
    val rates = dt.groupBy("source")
      .agg(sum("n_bpe_tokens").as("tok_source"))
      .withColumn("tok_min", min("tok_source").over(Window.partitionBy()))
      .select(col("source"),
        (col("tok_min") / col("tok_source")).as("p_keep"))
    dt.join(broadcast(rates), "source")
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") / 4294967296.0)
      .where(col("u") < col("p_keep"))
      .select("source", "doc_id", "n_bpe_tokens")
      .orderBy("source", "doc_id")
  }

  val mixDomainsTokenedSql: String =
    s"""WITH ${bpeOracleCtes(8)},
       |r AS (
       |  SELECT source, CAST(SUM(n_bpe_tokens) AS BIGINT) AS tok_source,
       |    MIN(CAST(SUM(n_bpe_tokens) AS BIGINT)) OVER () AS tok_min
       |  FROM doc_tokens GROUP BY source)
       |SELECT d.source, d.doc_id, d.n_bpe_tokens
       |FROM doc_tokens d JOIN r USING (source)
       |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
       |    / 4294967296.0 < r.tok_min / CAST(r.tok_source AS DOUBLE)
       |ORDER BY d.source, d.doc_id""".stripMargin

  // --------------------------------------------------------------- #357
  /** #357 unigram-LM (SentencePiece-style) tokenizer leg — the OTHER
    * tokenizer family next to BPE #328/#341: a fixed piece vocabulary
    * with frequency-derived costs and per-word VITERBI segmentation
    * (minimum total cost), instead of greedy merge application. The
    * vocabulary is every single character plus the top-24 length-2..4
    * substrings of the weighted word stream (count DESC, piece ASC —
    * deterministic); a piece's cost is the INTEGER-BITS surprisal
    * floor(log2(N_tot div cnt)) (the #160 `length(bin(k)) − 1` device —
    * no libm anywhere), and the dp value packs (total_bits, n_pieces)
    * as bits·1024 + 1 per piece, so the minimum is the LEXICOGRAPHIC
    * (fewest bits, then fewest pieces) optimum with no tie ambiguity
    * across engines. Emits per doc the word count, Viterbi token count,
    * total bits, and tokens/word — the number read next to #328's BPE
    * tokens/word when choosing a tokenizer family.
    *
    * Oracle strength: the DuckDB side does NOT run Viterbi — it
    * enumerates ALL 2^(len−1) segmentations of every distinct word and
    * takes the same composite minimum, so a green hash PROVES the
    * Spark fold's dp is the true optimum (the #346 brute-force-oracle
    * discipline). Tractable because corpus words are short (≤ 8 chars
    * at every sf); the Spark side is linear in word length and carries
    * no such bound.
    *
    * Scale: candidate counting is one keyed agg with map-side combine
    * (piece space ≤ 4× corpus bytes pre-agg, vocabulary-sized after);
    * the chosen vocabulary (≤ alphabet + 24 rows) collects to the
    * driver exactly like #159's merge table and ships as a map literal
    * inside the dp expression; encoding runs once per DISTINCT word
    * (sub-linear in corpus bytes) and attaches back through a
    * size-gated broadcast join; the per-doc rollup is one keyed agg.
    */
  /** Per-document unigram-Viterbi token counts (doc_id, source,
    * n_words, n_uni_tokens, uni_bits) — the #357 core, shared with the
    * #360 tokenizer-family comparison (the bpeDocTokens twin).
    */
  /** The #357 vocabulary + composite costs, learned from `dir`'s
    * corpus and collected to the driver (vocabulary-sized — the #159
    * precedent): every single character plus the top-24 length-2..4
    * substrings by weighted count, each mapped to bits·1024 + 1 where
    * bits = floor(log₂(N_tot div cnt)). Shared by the batch encode and
    * the streamed family-#23 twin (frozen-vocab argument).
    */
  private[graft] def unigramVocabCosts(spark: SparkSession,
      dir: String): Map[String, Long] = {
    val (chars, multi) = unigramVocabCandidates(spark, dir)
    unigramCosts(chars ++ multi)
  }

  /** The learned vocabulary candidates, collected to the driver: ALL
    * single characters and the top-24 length-2..4 substrings by
    * weighted count (count DESC, piece ASC — so the top-k multigrams
    * at any budget k ≤ 24 are a PREFIX, letting one learn pass serve
    * the whole #362 sweep, the #341 argument).
    */
  private[graft] def unigramVocabCandidates(spark: SparkSession,
      dir: String): (Seq[(String, Long)], Seq[(String, Long)]) =
    // one learn per (dir) per JVM through JvmMemo (see
    // bpeLearnMerges); 3 registered queries share this collect.
    graft.JvmMemo.getOrCompute("value", "unigram_cand", dir) {
      unigramVocabCandidatesUncached(spark, dir)
    }

  private def unigramVocabCandidatesUncached(spark: SparkSession,
      dir: String): (Seq[(String, Long)], Seq[(String, Long)]) = {
    val words = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val candidates = words.groupBy("w").agg(count(lit(1)).as("cw"))
      .select(col("cw"), explode(expr(
        """flatten(transform(filter(sequence(1, 4), l -> l <= length(w)),
          |  l -> transform(sequence(1, length(w) - l + 1),
          |         i -> substring(w, i, l))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("cw").as("cnt"))
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.collect().map(r =>
        r.getAs[String]("piece") -> r.getAs[Long]("cnt")).toSeq
    (pairs(candidates.where(length(col("piece")) === 1)),
      pairs(candidates.where(length(col("piece")) >= 2)
        .orderBy(desc("cnt"), col("piece")).limit(24)))
  }

  /** Composite costs (bits·1024 + 1, bits = floor(log₂(N_tot div
    * cnt))) for a chosen vocabulary — N_tot is the chosen vocab's own
    * count mass, so every #362 budget re-costs its own vocabulary.
    */
  private[graft] def unigramCosts(
      vocab: Seq[(String, Long)]): Map[String, Long] = {
    val nTot = vocab.map(_._2).sum
    def bits(c: Long): Long =
      63L - java.lang.Long.numberOfLeadingZeros(nTot / c)
    vocab.map { case (p, c) => p -> (bits(c) * 1024L + 1L) }.toMap
  }

  /** The #357 Viterbi dp as a SQL expression over a word `w` (column
    * or lambda variable) and a cost map column `vm`: dp[i] (1-based
    * element i+1) = min composite cost of chars 1..i; a length-L piece
    * ending at i reads dp[i-L] (element i-L+1) + cost(substring(
    * i-L+1, L)), missing piece → INF. Returns the final dp entry
    * (bits·1024 + n_pieces). Shared with the streamed twin.
    */
  private[graft] val unigramDpExpr: String = {
    val inf = "1000000000000000L"
    val candL = (1 to 4).map { l =>
      s"IF(i >= $l, element_at(dp, i - $l + 1) + coalesce(" +
        s"element_at(vm, substring(w, i - $l + 1, $l)), $inf), $inf)"
    }.mkString(", ")
    "element_at(aggregate(sequence(1, length(w)), " +
      s"array(0L), (dp, i) -> concat(dp, array(least($candL)))), -1)"
  }

  private[graft] def unigramDocTokens(spark: SparkSession,
      dir: String): DataFrame = {
    // r12: materialized once per (dir) per JVM — the bpeDocTokens
    // discipline (see there); consumed by #357 and the #360 eval.
    LayoutCache.table("uni_doc_tokens", dir)(unigramDocTokensPlan(spark, dir))
  }

  // private[graft]: BroadcastGateSpec pins the attach-join gate on THIS
  // plan (the registered query reads the materialized parquet back, so
  // the gated join only exists in the cache-write plan)
  private[graft] def unigramDocTokensPlan(spark: SparkSession,
      dir: String): DataFrame = {
    val words = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val costMap = unigramVocabCosts(spark, dir)
    val wtok = words.select("w").distinct()
      .withColumn("vm", typedlit(costMap))
      .withColumn("dp", expr(unigramDpExpr))
      .select(col("w"), (col("dp") % 1024).cast("long").as("nt"),
        expr("dp div 1024").cast("long").as("wbits"))
    words.join(Tables.maybeBroadcast(wtok), "w")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_words"),
        sum("nt").as("n_uni_tokens"),
        sum("wbits").as("uni_bits"))
  }

  def corpusUnigramEncode(spark: SparkSession, dir: String): DataFrame =
    unigramDocTokens(spark, dir)
      .select(col("doc_id"), col("n_words"), col("n_uni_tokens"),
        col("uni_bits"),
        r4(col("n_uni_tokens").cast("double") /
          col("n_words").cast("double")).as("tokens_per_word"))
      .orderBy("doc_id")

  /** Shared DuckDB CTE block ending in `uni_doc_tokens(doc_id,
    * source, n_words, n_uni_tokens, uni_bits)` — the #357 learn +
    * brute-force-Viterbi oracle, reused by #360. CTE names are
    * disjoint from [[bpeOracleCtes]]'s so the two blocks compose in
    * one WITH (the #330 pattern).
    */
  private val unigramOracleCtes: String =
    s"""ws AS (
       |  SELECT doc_id, source, w FROM (
       |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |    FROM documents) WHERE w <> ''),
       |wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM ws
       |  GROUP BY w),
       |cand AS (
       |  SELECT piece, CAST(SUM(cw) AS BIGINT) AS cnt FROM (
       |    SELECT wc.cw, unnest(list_transform(
       |        range(1, len(wc.w) - L.l + 2),
       |        i -> substr(wc.w, i, L.l))) AS piece
       |    FROM wc CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS l) L
       |    WHERE len(wc.w) >= L.l)
       |  GROUP BY piece),
       |vocab AS (
       |  SELECT piece, cnt FROM cand WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM cand WHERE len(piece) >= 2
       |    ORDER BY cnt DESC, piece LIMIT 24)),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot FROM vocab),
       |vc AS (
       |  SELECT piece,
       |    ((CAST(length(bin(n_tot // cnt)) AS BIGINT) - 1) * 1024 + 1)
       |      AS c
       |  FROM vocab CROSS JOIN tot),
       |uaw AS (SELECT DISTINCT w FROM ws),
       |mk AS (
       |  SELECT w, unnest(range(0, 1 << (len(w) - 1))) AS m FROM uaw),
       |cuts AS (
       |  SELECT w, m,
       |    list_concat(list_concat([CAST(0 AS BIGINT)],
       |      list_filter(range(1, len(w)),
       |        j -> ((m >> (j - 1)) & 1) = 1)),
       |      [CAST(len(w) AS BIGINT)]) AS cs
       |  FROM mk),
       |pcs AS (
       |  SELECT w, m, len(cs) - 1 AS np,
       |    unnest(list_transform(range(1, len(cs)),
       |      k -> substr(w, CAST(cs[k] + 1 AS INT),
       |        CAST(cs[k + 1] - cs[k] AS INT)))) AS p
       |  FROM cuts),
       |costed AS (
       |  SELECT w, m, CAST(MAX(np) AS BIGINT) AS np,
       |    CAST(COUNT(vc.piece) AS BIGINT) AS nfound,
       |    CAST(COALESCE(SUM(vc.c), 0) AS BIGINT) AS cost
       |  FROM pcs LEFT JOIN vc ON vc.piece = pcs.p
       |  GROUP BY w, m),
       |best AS (
       |  SELECT w, MIN(CASE WHEN nfound = np THEN cost END) AS dp
       |  FROM costed GROUP BY w),
       |uni_doc_tokens AS (
       |  SELECT ws.doc_id, ws.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(b.dp % 1024) AS BIGINT) AS n_uni_tokens,
       |    CAST(SUM(b.dp // 1024) AS BIGINT) AS uni_bits
       |  FROM ws JOIN best b ON ws.w = b.w
       |  GROUP BY ws.doc_id, ws.source)""".stripMargin

  val corpusUnigramEncodeSql: String =
    s"""WITH $unigramOracleCtes
       |SELECT doc_id, n_words, n_uni_tokens, uni_bits,
       |  ${r4Sql("CAST(n_uni_tokens AS DOUBLE) / n_words")}
       |    AS tokens_per_word
       |FROM uni_doc_tokens ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #358
  /** #358 best-fit-decreasing sequence packing — the production SFT
    * packer that #66/#330's concat-then-chunk approximates: documents
    * are never SPLIT across chunk boundaries (the contamination #237
    * measures); instead every non-oversized doc is placed WHOLE into
    * the open bin with the LEAST remaining capacity that still fits
    * (ties → lowest bin index), after sorting descending by encoded
    * size — classic BFD. The padding waste it pays is priced next to
    * the greedy baseline's chunk count and boundary-crossing share,
    * so the whole-doc-vs-packed-tight trade is measured, not guessed.
    * Token unit is #328's REAL BPE encoding (the unit the GPU sees).
    *
    * Determinism == oracle-checkable: packing runs per (source, SHARD
    * of 128 docs in doc_id order) — the fold is a pure function of the
    * shard's (nt, doc_id) multiset — and the DuckDB oracle replays the
    * identical fold as a recursive CTE carrying the bin-remainder LIST
    * as state, so a green hash proves the two sequential packers agree
    * bin-for-bin. Sharding is also the SCALE design: global BFD is
    * inherently sequential, so production packers shard the stream and
    * pack shards independently — embarrassingly parallel, fold state
    * bounded by shard size, and the fill penalty vs global packing is
    * negligible once a shard holds many bins' worth of tokens.
    * Oversized docs (nt > C) fit no bin: counted and charged their
    * forced-split ceil(nt/C) bins separately.
    *
    * Scale: one #328 encode (vocab-sized learn + distinct-word
    * encode), one window for shard assignment, one keyed agg whose
    * fold state is ≤ shard-size bins, map-side-combinable rollups.
    */
  def packSequencesBinned(spark: SparkSession, dir: String,
      chunkTokens: Int = 2048, shardDocs: Int = 128): DataFrame = {
    val c = chunkTokens
    val dt = bpeDocTokens(spark, dir)
      .select(col("source"), col("doc_id"),
        col("n_bpe_tokens").as("nt"))
    val wOrd = Window.partitionBy("source").orderBy("doc_id")
    val base = dt
      .withColumn("cum", sum("nt").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk0", row_number().over(wOrd))
    // greedy (#330) baseline: a doc crosses a chunk boundary iff its
    // token span [cum-nt, cum-1] straddles a multiple of C
    val greedy = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("nt").as("total_tokens"),
      sum(when(expr(s"(cum - nt) div $c") < expr(s"(cum - 1) div $c"),
        1L).otherwise(0L)).as("boundary_docs_greedy"))
    // the BFD fold: state = remaining capacity per open bin; best fit
    // = min remaining ≥ nt (array_position → FIRST index on ties)
    val bfCase =
      s"""(bins, nt) -> CASE
         |  WHEN size(filter(bins, b -> b >= nt)) > 0 THEN
         |    transform(bins, (b, ix) -> IF(ix = cast(array_position(bins,
         |      array_min(filter(bins, bb -> bb >= nt))) as int) - 1,
         |      b - nt, b))
         |  ELSE concat(bins, array(${c}L - nt)) END""".stripMargin
    val packed = base.where(col("nt") <= c)
      .withColumn("shard", expr(s"(rk0 - 1) div $shardDocs"))
      .groupBy("source", "shard")
      .agg(expr(
        s"""aggregate(
           |  transform(sort_array(collect_list(struct(-nt as negnt,
           |    doc_id as d))), x -> -x.negnt),
           |  cast(array() as array<bigint>),
           |  $bfCase)""".stripMargin).as("bins"))
      .groupBy("source")
      .agg(sum(size(col("bins"))).cast("long").as("bins_packed"))
    val oversize = base.where(col("nt") > c).groupBy("source")
      .agg(count(lit(1)).as("n_oversized"),
        sum(expr(s"(nt + ${c - 1}) div $c")).as("bins_oversize"))
    greedy
      .join(packed, Seq("source"), "left")
      .join(oversize, Seq("source"), "left")
      .withColumn("bins_bfd",
        coalesce(col("bins_packed"), lit(0L)) +
          coalesce(col("bins_oversize"), lit(0L)))
      .select(col("source"), col("n_docs"),
        coalesce(col("n_oversized"), lit(0L)).as("n_oversized"),
        col("total_tokens"), col("bins_bfd"),
        (col("bins_bfd") * c - col("total_tokens")).as("padding_tokens"),
        r4(col("total_tokens").cast("double") /
          (col("bins_bfd") * c).cast("double")).as("fill_frac"),
        expr(s"(total_tokens + ${c - 1}) div $c").as("greedy_chunks"),
        col("boundary_docs_greedy"))
      .orderBy("source")
  }

  /** The (chunkTokens, shardDocs) pair the REGISTERED
    * `pack_sequences_binned` query and its oracle both interpolate —
    * one definition site, so the Spark plan and the DuckDB replay
    * cannot desynchronize (the r10 ADVICE item: the SQL used to
    * hardcode 2048/2047/128 in six places).
    */
  private[graft] val packChunkTokens: Int = 2048
  private[graft] val packShardDocs: Int = 128

  val packSequencesBinnedSql: String =
    packSequencesBinnedSqlFor(packChunkTokens, packShardDocs)

  /** Oracle mirror of [[packSequencesBinned]] for the SAME
    * (chunkTokens, shardDocs) — interpolated everywhere the Spark side
    * interpolates `$c`/`$shardDocs`.
    */
  def packSequencesBinnedSqlFor(chunkTokens: Int, shardDocs: Int): String = {
    val c = chunkTokens
    s"""WITH RECURSIVE ${bpeOracleCtes(8)},
       |dt AS (
       |  SELECT source, doc_id, n_bpe_tokens AS nt FROM doc_tokens),
       |b0 AS (
       |  SELECT source, doc_id, nt,
       |    SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
       |      AS rk0
       |  FROM dt),
       |greedy AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(nt) AS BIGINT) AS total_tokens,
       |    CAST(COUNT(*) FILTER (
       |      WHERE (cum - nt) // $c < (cum - 1) // $c) AS BIGINT)
       |      AS boundary_docs_greedy
       |  FROM b0 GROUP BY source),
       |docs AS (
       |  SELECT source, doc_id, nt,
       |    CAST((rk0 - 1) // $shardDocs AS BIGINT) AS shard
       |  FROM b0 WHERE nt <= $c),
       |ord AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source, shard
       |    ORDER BY nt DESC, doc_id) AS BIGINT) AS rk
       |  FROM docs),
       |sh AS (SELECT DISTINCT source, shard FROM ord),
       |pk AS (
       |  SELECT source, shard, CAST(0 AS BIGINT) AS r,
       |    CAST([] AS BIGINT[]) AS bins
       |  FROM sh
       |  UNION ALL
       |  SELECT p.source, p.shard, p.r + 1,
       |    CASE WHEN len(list_filter(p.bins, b -> b >= o.nt)) > 0
       |      THEN list_concat(list_concat(
       |        p.bins[1:CAST(list_position(p.bins, list_min(
       |          list_filter(p.bins, b -> b >= o.nt))) AS INT) - 1],
       |        [p.bins[CAST(list_position(p.bins, list_min(
       |          list_filter(p.bins, b -> b >= o.nt))) AS INT)] - o.nt]),
       |        p.bins[CAST(list_position(p.bins, list_min(
       |          list_filter(p.bins, b -> b >= o.nt))) AS INT) + 1:])
       |      ELSE list_append(p.bins, $c - o.nt) END
       |  FROM pk p JOIN ord o
       |    ON o.source = p.source AND o.shard = p.shard
       |    AND o.rk = p.r + 1),
       |fin AS (
       |  SELECT source, shard, bins FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source, shard
       |      ORDER BY r DESC) AS z FROM pk) WHERE z = 1),
       |pckd AS (
       |  SELECT source, CAST(SUM(len(bins)) AS BIGINT) AS bins_packed
       |  FROM fin GROUP BY source),
       |ovs AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_oversized,
       |    CAST(SUM((nt + ${c - 1}) // $c) AS BIGINT) AS bins_oversize
       |  FROM b0 WHERE nt > $c GROUP BY source),
       |fo AS (
       |  SELECT g.source, g.n_docs,
       |    CAST(COALESCE(o.n_oversized, 0) AS BIGINT) AS n_oversized,
       |    g.total_tokens,
       |    CAST(COALESCE(p.bins_packed, 0) + COALESCE(o.bins_oversize, 0)
       |      AS BIGINT) AS bins_bfd,
       |    g.boundary_docs_greedy
       |  FROM greedy g LEFT JOIN pckd p ON g.source = p.source
       |  LEFT JOIN ovs o ON g.source = o.source)
       |SELECT source, n_docs, n_oversized, total_tokens, bins_bfd,
       |  CAST(bins_bfd * $c - total_tokens AS BIGINT)
       |    AS padding_tokens,
       |  ${r4Sql(s"CAST(total_tokens AS DOUBLE) / (bins_bfd * $c.0)")}
       |    AS fill_frac,
       |  CAST((total_tokens + ${c - 1}) // $c AS BIGINT) AS greedy_chunks,
       |  boundary_docs_greedy
       |FROM fo ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- #362
  /** #362 unigram-vocabulary compression curve — #341's sweep for the
    * OTHER tokenizer family: encode the corpus under multigram budgets
    * 0 / 8 / 16 / 24 (chars always included; budget 0 is the character
    * baseline) and report per budget the declared vocabulary size,
    * stream words, Viterbi tokens, total bits and tokens/word — the
    * tokens-vs-vocab trade a unigram tokenizer build sweeps before
    * committing to a piece count. ONE learn pass serves all budgets:
    * the (count DESC, piece ASC) multigram ranking makes every top-k a
    * PREFIX of top-24 (the #341 rank-order argument); each budget
    * re-costs its own vocabulary (N_tot is budget-local), so the
    * curve prices real candidate tokenizers, not truncations of one.
    *
    * Oracle: the #357 brute-force segmentation enumeration, with the
    * mask/piece CTEs SHARED across budgets (enumeration is
    * vocab-independent; only the costing join differs per budget) —
    * each budget's green hash proves its dp optimum independently.
    *
    * Scale: one candidate agg + driver-side vocab collect (the #159
    * device), then four vocab-sized encode branches over ONE shared
    * distinct-word frame and one stream rollup per budget.
    */
  def corpusUnigramVocabSweep(spark: SparkSession,
      dir: String): DataFrame = {
    val (chars, multi) = unigramVocabCandidates(spark, dir)
    val words = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val budgets = Seq(0, 8, 16, 24)
    def encAt(k: Int): DataFrame = {
      val vocab = chars ++ multi.take(k)
      val cost = unigramCosts(vocab)
      val wtok = words.select("w").distinct()
        .withColumn("vm", typedlit(cost))
        .withColumn("dp", expr(unigramDpExpr))
        .select(col("w"), (col("dp") % 1024).cast("long").as("nt"),
          expr("dp div 1024").cast("long").as("wbits"))
      words.join(Tables.maybeBroadcast(wtok), "w")
        .agg(count(lit(1)).as("total_words"),
          sum("nt").as("total_tokens"),
          sum("wbits").as("total_bits"))
        .select(lit(k.toLong).as("n_multigrams"),
          lit(vocab.size.toLong).as("vocab_size"),
          col("total_words"), col("total_tokens"), col("total_bits"),
          r4(col("total_tokens").cast("double") /
            col("total_words").cast("double")).as("tokens_per_word"))
        // empty corpus: the global agg emits one zero/null row per
        // budget — collapse to the empty curve (grouped semantics,
        // matching the oracle's join-starved branches)
        .where(col("total_words") > 0L)
    }
    budgets.map(encAt).reduce(_ unionByName _).orderBy("n_multigrams")
  }

  val corpusUnigramVocabSweepSql: String = {
    val budgets = Seq(0, 8, 16, 24)
    val branches = budgets.map { k =>
      val vocabK =
        if (k == 0) "SELECT piece, cnt FROM cand WHERE len(piece) = 1"
        else s"""SELECT piece, cnt FROM cand WHERE len(piece) = 1
           |  UNION ALL
           |  SELECT piece, cnt FROM (
           |    SELECT piece, cnt FROM cand WHERE len(piece) >= 2
           |    ORDER BY cnt DESC, piece LIMIT $k)""".stripMargin
      s"""vocab_$k AS (
         |  $vocabK),
         |tot_$k AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot
         |  FROM vocab_$k),
         |vc_$k AS (
         |  SELECT piece,
         |    ((CAST(length(bin(n_tot // cnt)) AS BIGINT) - 1) * 1024
         |      + 1) AS c
         |  FROM vocab_$k CROSS JOIN tot_$k),
         |costed_$k AS (
         |  SELECT w, m, CAST(MAX(np) AS BIGINT) AS np,
         |    CAST(COUNT(vc.piece) AS BIGINT) AS nfound,
         |    CAST(COALESCE(SUM(vc.c), 0) AS BIGINT) AS cost
         |  FROM pcs LEFT JOIN vc_$k vc ON vc.piece = pcs.p
         |  GROUP BY w, m),
         |best_$k AS (
         |  SELECT w, MIN(CASE WHEN nfound = np THEN cost END) AS dp
         |  FROM costed_$k GROUP BY w),
         |r_$k AS (
         |  SELECT CAST($k AS BIGINT) AS n_multigrams,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM vocab_$k)
         |      AS vocab_size,
         |    CAST(COUNT(*) AS BIGINT) AS total_words,
         |    CAST(SUM(b.dp % 1024) AS BIGINT) AS total_tokens,
         |    CAST(SUM(b.dp // 1024) AS BIGINT) AS total_bits,
         |    ${r4Sql("CAST(SUM(b.dp % 1024) AS DOUBLE) / COUNT(*)")}
         |      AS tokens_per_word
         |  FROM ws JOIN best_$k b ON ws.w = b.w
         |  HAVING COUNT(*) > 0)""".stripMargin
    }.mkString(",\n")
    val union = budgets.map(k => s"SELECT * FROM r_$k")
      .mkString("\n  UNION ALL ")
    s"""WITH $unigramOracleCtes,
       |$branches
       |SELECT * FROM (
       |  $union)
       |ORDER BY n_multigrams""".stripMargin
  }

  // --------------------------------------------------------------- #360
  /** #360 tokenizer-FAMILY comparison — the read a tokenizer choice is
    * actually made from: per source, total words and the encoded token
    * mass under BOTH families (#328 BPE greedy-merge vs #357 unigram
    * Viterbi), their tokens/word, and the unigram/BPE token ratio.
    * #341 sweeps one family's budget; this compares ACROSS families at
    * fixed budgets (8 merges vs char+24-piece vocab) — per source
    * because mixtures are specified per source and a family can win on
    * one domain and lose on another.
    *
    * Exactness: integer token sums from the two shared doc-level
    * frames; three r4'd IEEE divisions computed AFTER aggregation
    * identically on both engines. The oracle composes the two proven
    * CTE blocks (#328's learn/encode + #357's brute-force-Viterbi) in
    * one WITH — green hash proves the join of two independently-proven
    * pipelines.
    *
    * Scale: both legs are vocab-sized learns + distinct-word encodes +
    * one keyed doc rollup each; the comparison adds one doc-level join
    * and a sources-sized aggregate.
    */
  def corpusTokenizerEval(spark: SparkSession, dir: String): DataFrame = {
    val bpe = bpeDocTokens(spark, dir)
    val uni = unigramDocTokens(spark, dir)
      .select(col("doc_id"), col("n_uni_tokens"))
    val wp = wordpieceDocTokens(spark, dir)
      .select(col("doc_id"), col("n_wp_tokens"))
    bpe.join(uni, "doc_id").join(wp, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        sum("n_uni_tokens").as("n_uni_tokens"),
        sum("n_wp_tokens").as("n_wp_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_uni_tokens"), col("n_wp_tokens"),
        r4(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double")).as("bpe_tokens_per_word"),
        r4(col("n_uni_tokens").cast("double") /
          col("n_words").cast("double")).as("uni_tokens_per_word"),
        r4(col("n_wp_tokens").cast("double") /
          col("n_words").cast("double")).as("wp_tokens_per_word"),
        r4(col("n_uni_tokens").cast("double") /
          col("n_bpe_tokens").cast("double")).as("uni_vs_bpe"),
        r4(col("n_wp_tokens").cast("double") /
          col("n_bpe_tokens").cast("double")).as("wp_vs_bpe"))
      .orderBy("source")
  }

  // lazy: wordpieceOracleCtes is declared later in the object (the
  // #366 section) — a strict val here would read null at init order
  lazy val corpusTokenizerEvalSql: String =
    s"""WITH RECURSIVE ${bpeOracleCtes(8)},
       |$unigramOracleCtes,
       |$wordpieceOracleCtes,
       |tj AS (
       |  SELECT d.source, d.n_words, d.n_bpe_tokens, u.n_uni_tokens,
       |    p.n_wp_tokens
       |  FROM doc_tokens d JOIN uni_doc_tokens u ON d.doc_id = u.doc_id
       |  JOIN wp_doc_tokens p ON d.doc_id = p.doc_id)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(n_uni_tokens) AS BIGINT) AS n_uni_tokens,
       |  CAST(SUM(n_wp_tokens) AS BIGINT) AS n_wp_tokens,
       |  ${r4Sql("CAST(SUM(n_bpe_tokens) AS DOUBLE) " +
                  "/ CAST(SUM(n_words) AS DOUBLE)")}
       |    AS bpe_tokens_per_word,
       |  ${r4Sql("CAST(SUM(n_uni_tokens) AS DOUBLE) " +
                  "/ CAST(SUM(n_words) AS DOUBLE)")}
       |    AS uni_tokens_per_word,
       |  ${r4Sql("CAST(SUM(n_wp_tokens) AS DOUBLE) " +
                  "/ CAST(SUM(n_words) AS DOUBLE)")}
       |    AS wp_tokens_per_word,
       |  ${r4Sql("CAST(SUM(n_uni_tokens) AS DOUBLE) " +
                  "/ CAST(SUM(n_bpe_tokens) AS DOUBLE)")}
       |    AS uni_vs_bpe,
       |  ${r4Sql("CAST(SUM(n_wp_tokens) AS DOUBLE) " +
                  "/ CAST(SUM(n_bpe_tokens) AS DOUBLE)")}
       |    AS wp_vs_bpe
       |FROM tj GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #366
  /** #366 WordPiece tokenizer leg — completes the tokenizer triptych
    * beside BPE greedy-merge (#328) and unigram-Viterbi (#357): a
    * fixed vocabulary with WORD-INITIAL and CONTINUATION (##-prefixed)
    * piece roles, applied by greedy LONGEST-MATCH-FIRST from the left
    * (the WordPiece inference rule), counted per word and rolled up
    * per document. The vocabulary reuses the #357 candidate machinery
    * split by role: the top-24 length-2..4 substrings at word START
    * (initial pieces) and the top-24 at positions ≥ 2 (continuation
    * pieces, stored '##'-prefixed), both ranked (weighted count DESC,
    * piece ASC — a total order, cross-engine deterministic); single
    * characters are the implicit fallback (consume 1), so encoding
    * never fails and no [UNK] bucket is needed for token ACCOUNTING.
    *
    * Oracle strength: greedy longest-match is deterministic, so the
    * DuckDB oracle REPLAYS it — a per-(word, position) longest-match
    * table joined through a recursive walk advancing pos by the
    * matched length (the pack_sequences_binned recursion device) —
    * and a green hash proves the Spark fold IS WordPiece inference.
    *
    * Scale: candidate counting is one keyed agg with map-side combine
    * (≤ 6× word bytes pre-agg, vocabulary-sized after); the 48-piece
    * vocabulary ships as a map literal in the fold expression (the
    * #159/#357 frozen-table argument); encoding runs once per
    * DISTINCT word (Heaps-sublinear) with a fold linear in word
    * length, attached back through a size-gated broadcast join; the
    * per-doc rollup is one keyed agg.
    */
  private[graft] def wordpieceVocab(spark: SparkSession,
      dir: String): Seq[String] = {
    val (ini, con) = wordpieceVocabRanked(spark, dir)
    ini ++ con
  }

  /** The #366 role-split candidates RANKED (count DESC, piece ASC),
    * top-24 each: the top-k of either role at any budget k ≤ 24 is a
    * PREFIX (the #341/#362 rank-order argument), so one learn pass
    * serves the whole #367 sweep.
    */
  private[graft] def wordpieceVocabRanked(spark: SparkSession,
      dir: String): (Seq[String], Seq[String]) =
    // one learn per (dir) per JVM through JvmMemo (see
    // bpeLearnMerges); 3 registered queries share these two collects.
    graft.JvmMemo.getOrCompute("value", "wp_vocab", dir) {
      wordpieceVocabRankedUncached(spark, dir)
    }

  private def wordpieceVocabRankedUncached(spark: SparkSession,
      dir: String): (Seq[String], Seq[String]) = {
    val words = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val ini = words.select(col("cw"), explode(expr(
      """transform(filter(sequence(2, 4), l -> l <= length(w)),
        |  l -> substring(w, 1, l))""".stripMargin)).as("piece"))
    val con = words.select(col("cw"), explode(expr(
      """flatten(transform(filter(sequence(2, 4), l -> l <= length(w) - 1),
        |  l -> transform(sequence(2, length(w) - l + 1),
        |         i -> concat('##', substring(w, i, l)))))""".stripMargin))
      .as("piece"))
    def top24(df: DataFrame): Seq[String] = df
      .groupBy("piece").agg(sum("cw").as("cnt"))
      .orderBy(desc("cnt"), col("piece")).limit(24)
      .collect().map(_.getAs[String]("piece")).toSeq
    (top24(ini), top24(con))
  }

  /** The greedy longest-match-first fold over a word `w` against a
    * piece-set map `vm` (keys: initial pieces plain, continuation
    * pieces '##'-prefixed): state (pos, cnt); each step consumes the
    * longest matching piece at pos (4→2, role by pos), else one char.
    * length(w) iterations suffice — every step advances pos ≥ 1.
    */
  private[graft] val wordpieceFoldExpr: String = {
    def hit(l: Int) =
      s"(length(w) - acc.pos >= ${l - 1} AND element_at(vm, " +
        s"concat(IF(acc.pos = 1, '', '##'), substring(w, acc.pos, $l)))" +
        " IS NOT NULL)"
    val step = s"IF(${hit(4)}, 4, IF(${hit(3)}, 3, IF(${hit(2)}, 2, 1)))"
    s"""aggregate(sequence(1, length(w)),
       |  named_struct('pos', 1, 'cnt', 0L),
       |  (acc, i) -> CASE WHEN acc.pos > length(w) THEN acc
       |    ELSE named_struct('pos', acc.pos + $step, 'cnt', acc.cnt + 1L)
       |    END).cnt""".stripMargin
  }

  /** Per-document WordPiece token counts (doc_id, source, n_words,
    * n_wp_tokens) — the #366 core, the bpeDocTokens/unigramDocTokens
    * twin shared with the #360 family comparison.
    */
  private[graft] def wordpieceDocTokens(spark: SparkSession,
      dir: String): DataFrame = {
    // r12: materialized once per (dir) per JVM — the bpeDocTokens
    // discipline (see there); consumed by #366 and the #360 eval.
    LayoutCache.table("wp_doc_tokens", dir)(wordpieceDocTokensPlan(spark, dir))
  }

  private def wordpieceDocTokensPlan(spark: SparkSession,
      dir: String): DataFrame = {
    val vocab = wordpieceVocab(spark, dir)
    val words = Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
    val wtok = words.select("w").distinct()
      .withColumn("vm", typedlit(vocab.map(_ -> 1L).toMap))
      .withColumn("nt", expr(wordpieceFoldExpr))
      .select("w", "nt")
    words.join(Tables.maybeBroadcast(wtok), "w")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_words"), sum("nt").as("n_wp_tokens"))
  }

  def corpusWordpieceEncode(spark: SparkSession, dir: String): DataFrame =
    wordpieceDocTokens(spark, dir)
      .select(col("doc_id"), col("n_words"), col("n_wp_tokens"),
        r4(col("n_wp_tokens").cast("double") /
          col("n_words").cast("double")).as("tokens_per_word"))
      .orderBy("doc_id")

  /** DuckDB replay of the #366 learn + greedy encode, as
    * `wp_doc_tokens(doc_id, source, n_words, n_wp_tokens)`: role-split
    * top-24 candidate ranking, a per-(word, pos) longest-match table
    * (`wp_lm`), and a recursive walk advancing pos by the matched
    * length. wp_lm/wp_vocab are MATERIALIZED (the recursive join
    * re-reads them every iteration — the DuckDB CTE-inlining trap).
    */
  private val wordpieceOracleCtes: String = {
    def hit(l: Int) =
      s"len(w) - p >= ${l - 1} AND (CASE WHEN p = 1 THEN '' ELSE '##'" +
        s" END || substr(w, CAST(p AS INT), $l)) IN" +
        " (SELECT piece FROM wp_vocab)"
    s"""wp_ws AS (
       |  SELECT doc_id, source, w FROM (
       |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |    FROM documents) WHERE w <> ''),
       |wp_wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM wp_ws
       |  GROUP BY w),
       |wp_ini AS (
       |  SELECT piece FROM (
       |    SELECT piece, CAST(SUM(cw) AS BIGINT) AS cnt FROM (
       |      SELECT cw, unnest(list_transform(
       |          range(2, least(4, len(w)) + 1),
       |          l -> substr(w, 1, CAST(l AS INT)))) AS piece
       |      FROM wp_wc)
       |    GROUP BY piece ORDER BY cnt DESC, piece LIMIT 24)),
       |wp_con AS (
       |  SELECT piece FROM (
       |    SELECT piece, CAST(SUM(cw) AS BIGINT) AS cnt FROM (
       |      SELECT cw, unnest(flatten(list_transform(range(2, 5),
       |        l -> list_transform(range(2, len(w) - l + 2),
       |          i -> '##' || substr(w, CAST(i AS INT), CAST(l AS INT))))))
       |        AS piece
       |      FROM wp_wc)
       |    GROUP BY piece ORDER BY cnt DESC, piece LIMIT 24)),
       |wp_vocab AS MATERIALIZED (
       |  SELECT piece FROM wp_ini UNION ALL SELECT piece FROM wp_con),
       |wp_dw AS (SELECT DISTINCT w FROM wp_ws),
       |wp_pos AS (
       |  SELECT w, CAST(unnest(range(1, len(w) + 1)) AS BIGINT) AS p
       |  FROM wp_dw),
       |wp_lm AS MATERIALIZED (
       |  SELECT w, p,
       |    CASE WHEN ${hit(4)} THEN 4
       |      WHEN ${hit(3)} THEN 3
       |      WHEN ${hit(2)} THEN 2
       |      ELSE 1 END AS l
       |  FROM wp_pos),
       |wp_walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS cnt
       |  FROM wp_dw
       |  UNION ALL
       |  SELECT k.w, k.p + lm.l, k.cnt + 1
       |  FROM wp_walk k JOIN wp_lm lm ON lm.w = k.w AND lm.p = k.p),
       |wp_wt AS (SELECT w, CAST(MAX(cnt) AS BIGINT) AS nt FROM wp_walk
       |  GROUP BY w),
       |wp_doc_tokens AS (
       |  SELECT s.doc_id, s.source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(t.nt) AS BIGINT) AS n_wp_tokens
       |  FROM wp_ws s JOIN wp_wt t USING (w) GROUP BY 1, 2)""".stripMargin
  }

  val corpusWordpieceEncodeSql: String =
    s"""WITH RECURSIVE $wordpieceOracleCtes
       |SELECT doc_id, n_words, n_wp_tokens,
       |  ${r4Sql("CAST(n_wp_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)")}
       |    AS tokens_per_word
       |FROM wp_doc_tokens ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #367
  /** #367 WordPiece-vocabulary compression curve — the #341/#362 sweep
    * for the THIRD tokenizer family: encode the corpus under role
    * budgets k = 0 / 8 / 16 / 24 (top-k initial + top-k continuation
    * multigrams; k = 0 is the character baseline — the single-char
    * fallback is the whole tokenizer) and report per budget the stream
    * words, greedy tokens and tokens/word. One learn pass serves all
    * budgets: the (count DESC, piece ASC) role rankings make every
    * top-k a PREFIX of top-24 (the rank-order argument), so each
    * budget's vocabulary is the real k-piece tokenizer, not a
    * truncation artifact. The curve prices the embedding-table-rows
    * vs tokens-per-word trade for the greedy family, read next to the
    * BPE (#341) and unigram (#362) curves.
    *
    * Scale: one keyed candidate agg (map-side combine), four fold
    * columns over ONE shared distinct-word frame (vocab-sized), a
    * budgets-sized union of 1-row aggregates. Oracle replays each
    * budget's learn + greedy walk with per-budget LIMIT k CTEs —
    * every budget's hash is independently proven.
    */
  def corpusWordpieceVocabSweep(spark: SparkSession,
      dir: String): DataFrame = {
    val (iniL, conL) = wordpieceVocabRanked(spark, dir)
    val words = Tables.spread(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val budgets = Seq(0, 8, 16, 24)
    budgets.map { k =>
      val vm = (iniL.take(k) ++ conL.take(k)).map(_ -> 1L).toMap
      words
        .withColumn("vm", typedlit(vm))
        .withColumn("nt", expr(wordpieceFoldExpr))
        .groupBy()
        .agg(sum("cw").as("total_words"),
          sum(col("cw") * col("nt")).as("total_tokens"))
        .select(lit(k.toLong).as("n_role_pieces"),
          col("total_words"), col("total_tokens"))
    }.reduce(_ unionByName _)
      .where(col("total_words").isNotNull) // empty corpus -> no rows
      .select(col("n_role_pieces"), col("total_words"),
        col("total_tokens"),
        r4(col("total_tokens").cast("double") /
          col("total_words").cast("double")).as("tokens_per_word"))
      .orderBy("n_role_pieces")
  }

  val corpusWordpieceVocabSweepSql: String = {
    def hitK(l: Int, k: Int) =
      s"len(w) - p >= ${l - 1} AND (CASE WHEN p = 1 THEN '' ELSE '##'" +
        s" END || substr(w, CAST(p AS INT), $l)) IN" +
        s" (SELECT piece FROM v$k)"
    val perBudget = Seq(8, 16, 24).map { k =>
      s"""v$k AS MATERIALIZED (
         |  SELECT piece FROM (SELECT piece FROM wp_rki
         |    WHERE rk <= $k)
         |  UNION ALL
         |  SELECT piece FROM (SELECT piece FROM wp_rkc
         |    WHERE rk <= $k)),
         |lm$k AS MATERIALIZED (
         |  SELECT w, p,
         |    CASE WHEN ${hitK(4, k)} THEN 4
         |      WHEN ${hitK(3, k)} THEN 3
         |      WHEN ${hitK(2, k)} THEN 2
         |      ELSE 1 END AS l
         |  FROM wp_pos),
         |walk$k AS (
         |  SELECT w, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS cnt
         |  FROM wp_dw
         |  UNION ALL
         |  SELECT x.w, x.p + lm.l, x.cnt + 1
         |  FROM walk$k x JOIN lm$k lm ON lm.w = x.w AND lm.p = x.p),
         |wt$k AS (SELECT w, CAST(MAX(cnt) AS BIGINT) AS nt
         |  FROM walk$k GROUP BY w),
         |r$k AS (
         |  SELECT CAST($k AS BIGINT) AS n_role_pieces,
         |    CAST(SUM(c.cw) AS BIGINT) AS total_words,
         |    CAST(SUM(c.cw * t.nt) AS BIGINT) AS total_tokens
         |  FROM wp_wc c JOIN wt$k t USING (w))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE wp_ws AS (
       |  SELECT doc_id, source, w FROM (
       |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |    FROM documents) WHERE w <> ''),
       |wp_wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM wp_ws
       |  GROUP BY w),
       |wp_rki AS (
       |  SELECT piece, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)
       |    AS rk FROM (
       |    SELECT piece, CAST(SUM(cw) AS BIGINT) AS cnt FROM (
       |      SELECT cw, unnest(list_transform(
       |          range(2, least(4, len(w)) + 1),
       |          l -> substr(w, 1, CAST(l AS INT)))) AS piece
       |      FROM wp_wc)
       |    GROUP BY piece)),
       |wp_rkc AS (
       |  SELECT piece, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)
       |    AS rk FROM (
       |    SELECT piece, CAST(SUM(cw) AS BIGINT) AS cnt FROM (
       |      SELECT cw, unnest(flatten(list_transform(range(2, 5),
       |        l -> list_transform(range(2, len(w) - l + 2),
       |          i -> '##' || substr(w, CAST(i AS INT), CAST(l AS INT))))))
       |        AS piece
       |      FROM wp_wc)
       |    GROUP BY piece)),
       |wp_dw AS (SELECT DISTINCT w FROM wp_ws),
       |wp_pos AS (
       |  SELECT w, CAST(unnest(range(1, len(w) + 1)) AS BIGINT) AS p
       |  FROM wp_dw),
       |$perBudget,
       |r0 AS (
       |  SELECT CAST(0 AS BIGINT) AS n_role_pieces,
       |    CAST(SUM(cw) AS BIGINT) AS total_words,
       |    CAST(SUM(cw * len(w)) AS BIGINT) AS total_tokens
       |  FROM wp_wc)
       |SELECT n_role_pieces, total_words, total_tokens,
       |  ${r4Sql("CAST(total_tokens AS DOUBLE) " +
                  "/ CAST(total_words AS DOUBLE)")} AS tokens_per_word
       |FROM (
       |  SELECT * FROM r0 WHERE total_words IS NOT NULL
       |  UNION ALL SELECT * FROM r8 WHERE total_words IS NOT NULL
       |  UNION ALL SELECT * FROM r16 WHERE total_words IS NOT NULL
       |  UNION ALL SELECT * FROM r24 WHERE total_words IS NOT NULL)
       |ORDER BY n_role_pieces""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_wordpiece_encode" -> (corpusWordpieceEncode _),
    "corpus_wordpiece_vocab_sweep" -> (corpusWordpieceVocabSweep _),
    "corpus_unigram_encode" -> (corpusUnigramEncode _),
    "corpus_unigram_vocab_sweep" -> (corpusUnigramVocabSweep _),
    "corpus_tokenizer_eval" -> (corpusTokenizerEval _),
    "pack_sequences_binned" ->
      ((s: SparkSession, d: String) =>
        packSequencesBinned(s, d, packChunkTokens, packShardDocs)),
    "split_train_val" -> (splitTrainVal _),
    "corpus_domain_drift" ->
      ((s: SparkSession, d: String) => corpusDomainDrift(s, d)),
    "text_bpe_pairs" ->
      ((s: SparkSession, d: String) => textBpePairs(s, d)),
    "text_bpe_merges" ->
      ((s: SparkSession, d: String) => textBpeMerges(s, d)),
    "sample_token_weighted" -> (sampleTokenWeighted _),
    "text_repetition" -> (textRepetition _),
    "decontaminate" -> (decontaminate _),
    "decontaminate_bloom" ->
      ((s: SparkSession, d: String) => decontaminateBloom(s, d)),
    "dedup_incremental" ->
      ((s: SparkSession, d: String) => dedupIncremental(s, d)),
    "pack_sequences" -> ((s: SparkSession, d: String) => packSequences(s, d)),
    "mix_domains" -> (mixDomains _),
    "mix_temperature" -> (mixTemperature _),
    "dedup_passages" -> ((s: SparkSession, d: String) => dedupPassages(s, d)),
    "dedup_substrings" ->
      ((s: SparkSession, d: String) => dedupSubstrings(s, d)),
    "text_oov_rate" -> ((s: SparkSession, d: String) => textOovRate(s, d)),
    "corpus_token_budget" ->
      ((s: SparkSession, d: String) => corpusTokenBudget(s, d)),
    "corpus_bpe_encode" -> (corpusBpeEncode _),
    "corpus_bpe_vocab_sweep" -> (corpusBpeVocabSweep _),
    "corpus_token_budget_tokened" ->
      ((s: SparkSession, d: String) => corpusTokenBudgetTokened(s, d)),
    "pack_sequences_tokened" ->
      ((s: SparkSession, d: String) => packSequencesTokened(s, d)),
    "mix_domains_tokened" -> (mixDomainsTokened _))

  val oracles: Map[String, String] = Map(
    "corpus_wordpiece_encode" -> corpusWordpieceEncodeSql,
    "corpus_wordpiece_vocab_sweep" -> corpusWordpieceVocabSweepSql,
    "corpus_unigram_encode" -> corpusUnigramEncodeSql,
    "corpus_unigram_vocab_sweep" -> corpusUnigramVocabSweepSql,
    "corpus_tokenizer_eval" -> corpusTokenizerEvalSql,
    "pack_sequences_binned" -> packSequencesBinnedSql,
    "split_train_val" -> splitTrainValSql,
    "corpus_domain_drift" -> corpusDomainDriftSql,
    "text_bpe_pairs" -> textBpePairsSql,
    "text_bpe_merges" -> textBpeMergesSql,
    "sample_token_weighted" -> sampleTokenWeightedSql,
    "text_repetition" -> textRepetitionSql,
    "decontaminate" -> decontaminateSql,
    // same answer as #65 by construction (no false negatives + exact
    // verify) — the bloom only prunes the plan, never the result
    "decontaminate_bloom" -> decontaminateSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "pack_sequences" -> packSequencesSql,
    "mix_domains" -> mixDomainsSql,
    "mix_temperature" -> mixTemperatureSql,
    "dedup_passages" -> dedupPassagesSql,
    "dedup_substrings" -> dedupSubstringsSql,
    "text_oov_rate" -> textOovRateSql,
    "corpus_token_budget" -> corpusTokenBudgetSql,
    "corpus_bpe_encode" -> corpusBpeEncodeSql,
    "corpus_bpe_vocab_sweep" -> corpusBpeVocabSweepSql,
    "corpus_token_budget_tokened" -> corpusTokenBudgetTokenedSql,
    "pack_sequences_tokened" -> packSequencesTokenedSql,
    "mix_domains_tokened" -> mixDomainsTokenedSql)
}
