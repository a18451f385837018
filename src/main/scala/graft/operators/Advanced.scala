package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql}

/** Round-7 extensions (SURVEY.md §2 #151-156): the remaining primitives
  * a production training-data pipeline runs that the earlier families
  * didn't cover — streaming-style EWMA smoothing, graph components over
  * the co-purchase graph, corpus-comparative keyword extraction,
  * bot/automation detection on the event stream, similarity RANGE
  * search (select-by-threshold, the other half of top-k ANN), and
  * FUZZY benchmark decontamination (near-duplicate contamination that
  * exact 5-gram matching misses).
  *
  * Scale design (100 TB):
  *  - ts_ewma: one window sort per user partition; the dyadic-weight
  *    fold touches a bounded 16-event frame per row — map-side after
  *    the one Exchange, whole-stage codegen'd.
  *  - graph_components: min-label propagation over the support-floored
  *    edge list (structure-sized, not volume-sized) with
  *    localCheckpoint lineage cuts per iteration — the shared
  *    `clusterPairs` machinery.
  *  - text_keywords: all aggregates are vocabulary-sized with map-side
  *    combine; windows run over the (source × token) table, never the
  *    token stream.
  *  - events_bot_detect: one user-keyed window + one keyed agg — the
  *    sessionize shuffle shape.
  *  - ann_range: bounded query set broadcasts (the ann_bruteforce
  *    contract); the corpus is scanned once map-side and only
  *    above-threshold hits leave the executor.
  *  - decontaminate_minhash: MinHash-LSH banding over corpus ∪
  *    benchmark (the #28/#30 machinery) — candidate density tracks
  *    contamination density; gram attaches are size-gated
  *    (`maybeBroadcast`).
  */
object Advanced {

  // --------------------------------------------------------------- #151
  /** #151 dyadic EWMA over each user's event values: weight 2^-(k+1)
    * for the k-th most recent event within a 16-event horizon,
    * normalized by the realized weight mass. All arithmetic is exact
    * integers (2-decimal cents × powers of two) until ONE final IEEE
    * division under r4 — the standard "exponential smoothing"
    * monitoring primitive, engine-exact where α·(1-α)^k floats are
    * not. (The 16-event truncation bounds the window frame AND keeps
    * the weights in long range; the dropped tail mass is ≤ 2^-16.)
    */
  def tsEwma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(-15, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .withColumn("cents",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .withColumn("xs", collect_list(col("cents")).over(w))
      // frame order is oldest -> current, so position p carries weight
      // 2^p: the newest event dominates, each step back halves
      .withColumn("num", expr(
        """aggregate(
          |  zip_with(xs, sequence(0, size(xs) - 1),
          |    (v, p) -> v * shiftleft(cast(1 as bigint), p)),
          |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin))
      .withColumn("den",
        (expr("shiftleft(cast(1 as bigint), size(xs))") - lit(1L)) *
          lit(100L))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        r4(col("num").cast("double") / col("den").cast("double"))
          .as("ewma"))
      .orderBy("event_id")
  }

  val tsEwmaSql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events),
       |fr AS (
       |  SELECT event_id, user_id, ts_us,
       |    list(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS xs
       |  FROM e),
       |s AS (
       |  SELECT event_id, user_id, ts_us,
       |    CAST(list_sum(list_transform(range(0, len(xs)),
       |      p -> xs[p + 1] * (CAST(1 AS BIGINT) << CAST(p AS INT))))
       |      AS DOUBLE) AS num,
       |    CAST(((CAST(1 AS BIGINT) << len(xs)) - 1) * 100 AS DOUBLE)
       |      AS den
       |  FROM fr)
       |SELECT event_id, user_id, ts_us, ${r4Sql("num / den")} AS ewma
       |FROM s ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- #152
  /** #152 connected components over the co-purchase graph: the
    * support-floored edge list (Graph.undirected — structure-sized at
    * any volume) fed through the shared min-label propagation
    * (`Extensions.clusterPairs`: localCheckpoint lineage cuts, label-
    * sum convergence test). The catalog reading: groups of products
    * that ever co-travel — the "related jobs" closure over lineage
    * edges.
    */
  def graphComponents(spark: SparkSession, dir: String): DataFrame =
    Extensions.clusterPairs(
      Graph.undirected(spark, dir)
        .select(col("pa").as("id_a"), col("pb").as("id_b")),
      "node_id")

  val graphComponentsSql: String =
    s"""WITH RECURSIVE ${Graph.edgeSql},
       |reach(id, r) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
       |lab AS (SELECT id, MIN(r) AS cluster_root FROM reach GROUP BY id),
       |sz AS (SELECT cluster_root, COUNT(*) AS cluster_size
       |       FROM lab GROUP BY cluster_root)
       |SELECT lab.id AS node_id, lab.cluster_root, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_root)
       |ORDER BY node_id""".stripMargin

  // --------------------------------------------------------------- #153
  /** #153 corpus-comparative keyword extraction: for each source, the
    * tokens most over-represented vs the REST of the corpus — keyness
    * = (tf_s / T_s) / ((tf_rest + 1) / (T_rest + 1)), add-one smoothed,
    * computed as ONE division of two exact integer products (so the
    * ranking is engine-identical). Top-5 per source with tf_s ≥ 5.
    * The per-source signature a mixture-weighting pipeline reads
    * (domain tags, quality tiers).
    */
  def textKeywords(spark: SparkSession, dir: String,
      topK: Int = 5, minTf: Int = 5): DataFrame = {
    val tf = Tables.spread(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("tf_s"))
    val wSrc = Window.partitionBy("source")
    val wTok = Window.partitionBy("tok")
    val wAll = Window.partitionBy()
    val scored = tf
      .withColumn("t_s", sum("tf_s").over(wSrc))
      .withColumn("tf_c", sum("tf_s").over(wTok))
      .withColumn("t", sum("tf_s").over(wAll))
      .where(col("tf_s") >= minTf)
      // exact integer cross-products; ONE IEEE division
      .withColumn("keyness",
        (col("tf_s") * (col("t") - col("t_s") + 1)).cast("double") /
          (col("t_s") * (col("tf_c") - col("tf_s") + 1)).cast("double"))
    val wRank = Window.partitionBy("source")
      .orderBy(desc("keyness"), col("tok"))
    scored
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= topK)
      .select(col("source"), col("rank"), col("tok"), col("tf_s"),
        r4(col("keyness")).as("keyness"))
      .orderBy("source", "rank")
  }

  def textKeywordsSql(topK: Int = 5, minTf: Int = 5): String =
    s"""WITH tf AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |cnt AS (
       |  SELECT source, tok, COUNT(*) AS tf_s
       |  FROM tf GROUP BY source, tok),
       |sc AS (
       |  SELECT source, tok, tf_s,
       |    SUM(tf_s) OVER (PARTITION BY source) AS t_s,
       |    SUM(tf_s) OVER (PARTITION BY tok) AS tf_c,
       |    SUM(tf_s) OVER () AS t
       |  FROM cnt),
       |k AS (
       |  SELECT source, tok, tf_s,
       |    CAST(tf_s * (t - t_s + 1) AS DOUBLE) /
       |      CAST(t_s * (tf_c - tf_s + 1) AS DOUBLE) AS keyness
       |  FROM sc WHERE tf_s >= $minTf),
       |r AS (
       |  SELECT source, tok, tf_s, keyness, ROW_NUMBER() OVER (
       |    PARTITION BY source ORDER BY keyness DESC, tok) AS rank
       |  FROM k)
       |SELECT source, rank, tok, tf_s, ${r4Sql("keyness")} AS keyness
       |FROM r WHERE rank <= $topK ORDER BY source, rank""".stripMargin

  // --------------------------------------------------------------- #154
  /** #154 bot/automation detection on the event stream: per-user
    * inter-event gap statistics — machine traffic shows sub-second
    * cadences human sessions don't. One user-keyed window (lag) + one
    * keyed agg; gap sums are exact integers, the mean is one r4'd
    * division; the flag is an integer cross-multiplication (no
    * float compare). The intake filter a data pipeline runs before
    * engagement events feed training weights.
    */
  def eventsBotDetect(spark: SparkSession, dir: String,
      fastGapUs: Long = 1000000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.eventsUs(spark, dir)
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        count(col("gap")).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        sum(col("gap")).as("gap_sum"),
        count(when(col("gap") < fastGapUs, 1)).as("n_fast_gaps"))
      .where(col("n_gaps") >= 1)
      .select(col("user_id"), col("n_events"), col("min_gap_us"),
        r4(col("gap_sum").cast("double") / col("n_gaps").cast("double"))
          .as("mean_gap_us"),
        col("n_fast_gaps"),
        // bot iff a majority of gaps are sub-threshold
        when(col("n_fast_gaps") * 2 > col("n_gaps"), 1L).otherwise(0L)
          .as("is_bot"))
      .orderBy("user_id")
  }

  def eventsBotDetectSql(fastGapUs: Long = 1000000L): String =
    s"""WITH g AS (
       |  SELECT user_id,
       |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
       |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
       |  FROM events),
       |a AS (
       |  SELECT user_id, COUNT(*) AS n_events, COUNT(gap) AS n_gaps,
       |    MIN(gap) AS min_gap_us, SUM(gap) AS gap_sum,
       |    COUNT(*) FILTER (WHERE gap < $fastGapUs) AS n_fast_gaps
       |  FROM g GROUP BY user_id)
       |SELECT user_id, n_events, min_gap_us,
       |  ${r4Sql("CAST(gap_sum AS DOUBLE) / CAST(n_gaps AS DOUBLE)")}
       |    AS mean_gap_us,
       |  n_fast_gaps,
       |  CAST(CASE WHEN n_fast_gaps * 2 > n_gaps THEN 1 ELSE 0 END
       |    AS BIGINT) AS is_bot
       |FROM a WHERE n_gaps >= 1 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- #155
  /** #155 similarity RANGE search: every corpus vector within cosine ≥
    * t of each query — the select-by-similarity primitive (dedup
    * sweeps, dataset curation "more like this") that top-k ANN (#32)
    * doesn't answer. Query set broadcasts (bounded by construction —
    * the ann_bruteforce contract); the corpus scan is map-side with
    * only above-threshold hits surviving, so output tracks match
    * density, not corpus size.
    */
  def annRange(spark: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame = {
    val c = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    c.join(broadcast(Similarity.evalQueries(spark, dir)),
        col("q_id") =!= col("c_id"))
      .withColumn("cosine", r4(expr("cosine_f32(q_emb, c_emb)")))
      .where(col("cosine") >= threshold)
      .select("q_id", "c_id", "cosine")
      .orderBy("q_id", "c_id")
  }

  def annRangeSql(threshold: Double = 0.3): String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS norm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    FLOOR((list_sum(list_transform(range(1, len(q.embedding) + 1),
       |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |      / (q.norm * c.norm)) * 10000.0 + 0.5) / 10000.0 AS cosine
       |  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000 AND q.vec_id <> c.vec_id)
       |SELECT q_id, c_id, cosine FROM scored
       |WHERE cosine >= $threshold ORDER BY q_id, c_id""".stripMargin

  // --------------------------------------------------------------- #156
  /** #156 FUZZY benchmark decontamination: corpus documents whose
    * bigram Jaccard against any benchmark (source `src0`) document
    * clears 0.8 — the near-duplicate contamination that #65's exact
    * 5-gram match can rewrite around (paraphrases, token edits).
    * Candidates come from the #28/#30 MinHash-LSH banding over corpus
    * ∪ benchmark (8×2 — miss ≤ 3e-4 at the threshold itself, and the
    * planted near-dups sit near j = 1, so the verified output equals
    * brute force on the eval corpora); the exact-Jaccard verify
    * attaches grams via the size-gated broadcast.
    */
  def decontaminateMinhash(spark: SparkSession, dir: String,
      numHashes: Int = 16, bandRows: Int = 2): DataFrame = {
    val docs = Tables.spread(spark, dir, "documents")
    // persisted + materialized: grams run once across candidates and
    // both attaches, and the attach gates read ACTUAL cached bytes
    // (default-width stats under-count gram arrays ~100× — the
    // measured-attach-gate fix, PLANS.md round-11)
    val g = Tables.persistSlot("decontaminate_minhash.grams", docs
      .withColumn("grams", expr("ngram_hashes(split(text, ' '), 2)"))
      .select("doc_id", "grams"))
    g.count()
    val src = docs.select("doc_id", "source")
    val pairs = Dedup.lshCandidates(g, "grams", numHashes, bandRows)
      .join(src.select(col("doc_id").as("id_a"),
        col("source").as("src_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"),
        col("source").as("src_b")), "id_b")
      // exactly one side benchmark: orient corpus -> bench
      .where((col("src_a") === "src0") =!= (col("src_b") === "src0"))
      .select(
        when(col("src_a") === "src0", col("id_b")).otherwise(col("id_a"))
          .as("corpus_id"),
        when(col("src_a") === "src0", col("id_a")).otherwise(col("id_b"))
          .as("bench_id"))
    pairs
      .join(Tables.maybeBroadcast(g.select(col("doc_id").as("corpus_id"),
        col("grams").as("g_c"))), "corpus_id")
      .join(Tables.maybeBroadcast(g.select(col("doc_id").as("bench_id"),
        col("grams").as("g_b"))), "bench_id")
      .withColumn("inter", expr("cast(intersect_count(g_c, g_b) as double)"))
      .withColumn("jaccard",
        r4(col("inter") / (expr("size(g_c) + size(g_b)") - col("inter"))))
      .where(col("jaccard") >= 0.8)
      .select("corpus_id", "bench_id", "jaccard")
      .orderBy("corpus_id", "bench_id")
  }

  /** Oracle: brute-force corpus × benchmark bigram Jaccard (the
    * benchmark side is small by nature, so the quadratic oracle stays
    * tractable at eval scale).
    */
  val decontaminateMinhashSql: String =
    """WITH g AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' '
      |        || string_split(text, ' ')[i + 1])) AS grams
      |  FROM documents),
      |scored AS (
      |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
      |    FLOOR((len(list_intersect(c.grams, b.grams)) /
      |      CAST(len(c.grams) + len(b.grams)
      |        - len(list_intersect(c.grams, b.grams)) AS DOUBLE))
      |      * 10000.0 + 0.5) / 10000.0 AS jaccard
      |  FROM g c JOIN g b
      |    ON c.source <> 'src0' AND b.source = 'src0')
      |SELECT corpus_id, bench_id, jaccard FROM scored
      |WHERE jaccard >= 0.8 ORDER BY corpus_id, bench_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_ewma" -> (tsEwma _),
    "graph_components" -> (graphComponents _),
    "text_keywords" -> ((s: SparkSession, d: String) => textKeywords(s, d)),
    "events_bot_detect" ->
      ((s: SparkSession, d: String) => eventsBotDetect(s, d)),
    "ann_range" -> ((s: SparkSession, d: String) => annRange(s, d)),
    "decontaminate_minhash" ->
      ((s: SparkSession, d: String) => decontaminateMinhash(s, d)))

  val oracles: Map[String, String] = Map(
    "ts_ewma" -> tsEwmaSql,
    "graph_components" -> graphComponentsSql,
    "text_keywords" -> textKeywordsSql(),
    "events_bot_detect" -> eventsBotDetectSql(),
    "ann_range" -> annRangeSql(),
    "decontaminate_minhash" -> decontaminateMinhashSql)
}
