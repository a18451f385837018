package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql}

/** Round-8 extensions, batch 2 (SURVEY.md §2 #165-169): the RETRIEVAL
  * and curation layer — ranking documents against queries, scoring them
  * with a learned-ish classifier, the composite billion-scale ANN
  * index, tuning the source mixture, and pruning the interaction graph:
  *
  *  - `text_bm25`: BM25 top-k retrieval over an inverted index
  *    (Robertson & Walker's Okapi weighting) — the lexical-retrieval
  *    half of a RAG / dedup-by-retrieval pipeline.
  *  - `text_quality_classifier`: hashed-bag-of-words linear scorer —
  *    the fastText-style quality filter (Joulin et al. 2017) with
  *    deterministic hash-derived weights standing in for trained ones
  *    (the Spark-side shape — feature hashing, per-doc dot product,
  *    threshold — is exactly the production one).
  *  - `ann_ivf_pq`: IVF coarse quantizer + PQ asymmetric-distance
  *    refine (Jégou et al. 2011) — the composite index structure
  *    actually deployed at billion-vector scale, here as the
  *    composition of #55's cell probe and #107's ADC scan.
  *  - `corpus_temperature_mix`: temperature-scaled (α = 1/2) source
  *    sampling weights — the multilingual/multi-domain mixing rule
  *    (Arivazhagan et al. 2019) that upweights small sources.
  *  - `graph_kcore`: k-core decomposition by synchronous peeling over
  *    the co-purchase graph — the standard dense-subgraph denoise
  *    before community/influence analysis.
  *
  * Cross-engine exactness: BM25 is pure INTEGER arithmetic — the idf is
  * the integer-bits surprisal of the Robertson fraction (same
  * `length(bin(k))-1` device as #160), and the tf saturation is ONE
  * integer division of exact cross-products in 1e-4 units (k1 = 1.2 and
  * b = 0.75 clear denominators: tf-part = (22·S·tf) / (10·S·tf + 3·S +
  * 9·dl·N) after multiplying through by 10·S, all integers). Classifier
  * weights are md5-derived integers in [-1000, 1000]; the only IEEE op
  * is the final per-doc mean (ONE division, r4'd). The temperature mix
  * uses floor(sqrt(n)) — exact in both engines for n ≪ 2^52 because
  * correctly-rounded sqrt can't cross an integer boundary until the
  * true root is within ulp of it (n ~ 1e14) — and ONE r4'd division per
  * emitted ratio. IVF+PQ reuses #55/#107's decimal-exact centroid and
  * ADC arithmetic unchanged.
  *
  * Scale design (100 TB):
  *  - BM25: the query-term table is bounded (|queries| × 4 terms —
  *    broadcast); tf postings restrict to query terms MAP-SIDE before
  *    any shuffle; df attaches to the restricted term set only. The
  *    corpus-wide stats (N, S) are a 1-row aggregate. No corpus×corpus
  *    flow anywhere — the one data-sized shuffle is the per-(q, doc)
  *    score aggregation over matched postings.
  *  - Classifier: explode + keyed agg, map-side combinable end to end.
  *  - IVF+PQ: centroids/codebooks/query tables are tiny broadcasts; the
  *    corpus-sized flows are the two map-side argmin encode passes and
  *    the probe-restricted candidate join (equi-join on cell id) — a
  *    query never touches vectors outside its nprobe cells, which is
  *    the entire point of the structure.
  *  - Temperature mix: one keyed agg to |sources| rows; driver-scale
  *    math after that.
  *  - k-core: each peel round is a degree count + two semi-joins on the
  *    support-floored (structure-sized) edge list — the #99/#163
  *    fixed-k iteration shape, same-key shuffles AQE can line up.
  */
object Curation {

  // --------------------------------------------------------------- #165
  /** #165 BM25 top-5 retrieval (k1 = 1.2, b = 0.75). Queries are seeded
    * from the corpus for oracle reproducibility (doc_id % 101 = 0; the
    * 4 query terms are the doc's distinct tokens with smallest
    * (md5, token) — deterministic in both engines); `textBm25From`
    * takes an arbitrary bounded (q_id, token) query table.
    *
    * Scoring, exactly (all integers; S = Σ dl over the corpus):
    *   idf_bits(t) = length(bin(greatest((2N−2df+1) div (2df+1), 1)))−1
    *     — floor(log2) of the Robertson idf fraction (N−df+.5)/(df+.5)
    *     with halves cleared; common terms (df ≳ N/3) floor to 0, the
    *     BM25+ -style negative-idf clamp.
    *   tfpart_e4(t,d) = (10000·22·S·tf) div (10·S·tf + 3·S + 9·dl·N)
    *     — the saturated tf in 1e-4 units after multiplying numerator
    *     and denominator by 10·S (clears k1 = 6/5, b = 3/4, avgdl =
    *     S/N). Fits int64 through ~10^9-token corpora ×  tf ≤ 10^4;
    *     past that promote the cross-products to DECIMAL(38,0).
    *   score(q,d) = Σ_t idf_bits · tfpart_e4  (units of 1e-4).
    */
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val qdocs = docs.where(col("doc_id") % 101 === 0)
    val wq = Window.partitionBy("q_id").orderBy(md5(col("token")), col("token"))
    val qt = qdocs
      .select(col("doc_id").as("q_id"),
        explode(split(col("text"), " ")).as("token"))
      .distinct()
      .withColumn("r", row_number().over(wq))
      .where(col("r") <= 4)
      .select("q_id", "token")
    textBm25From(docs, qt, k = 5)
  }

  /** BM25 over an arbitrary corpus (`doc_id`, `text`) and an arbitrary
    * BOUNDED (q_id, token) query table (broadcast — the scale contract:
    * queries are a workload, not a second corpus).
    */
  def textBm25From(docs: DataFrame, qt: DataFrame, k: Int): DataFrame = {
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).as("s_tokens"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // postings restricted to query terms BEFORE df/dl attach: tfq is
    // (matched docs × matched terms)-sized, never corpus-vocabulary-sized
    val terms = qt.select("token").distinct()
    val tfq = tf.join(broadcast(terms), "token")
    val dfq = tfq.groupBy("token").agg(countDistinct("doc_id").as("df"))
    val scored = tfq
      .join(broadcast(dfq), "token")
      .join(broadcast(qt), "token")
      .where(col("q_id") =!= col("doc_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_bits", expr(
        """cast(length(bin(greatest(
          |  (2 * n_docs - 2 * df + 1) div (2 * df + 1),
          |  cast(1 as bigint)))) - 1 as bigint)""".stripMargin))
      .withColumn("tfpart_e4", expr(
        """(10000 * 22 * s_tokens * tf)
          |  div (10 * s_tokens * tf + 3 * s_tokens + 9 * dl * n_docs)"""
          .stripMargin))
    val wr = Window.partitionBy("q_id").orderBy(desc("score"), col("doc_id"))
    scored
      .groupBy("q_id", "doc_id")
      .agg(sum(col("idf_bits") * col("tfpart_e4")).as("score"),
        count(lit(1)).as("terms_hit"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "rank", "doc_id", "score", "terms_hit")
      .orderBy("q_id", "rank")
  }

  /** Oracle mirror: same query seeding, same integer idf/tf-part
    * arithmetic (`//` is DuckDB integer division), same (score, doc_id)
    * ranking.
    */
  val textBm25Sql: String =
    """WITH stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS s_tokens
      |  FROM documents),
      |dl AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  GROUP BY doc_id, token),
      |qt AS (
      |  SELECT q_id, token FROM (
      |    SELECT q_id, token, ROW_NUMBER() OVER (
      |      PARTITION BY q_id ORDER BY md5(token), token) AS r
      |    FROM (
      |      SELECT DISTINCT q_id, token FROM (
      |        SELECT doc_id AS q_id,
      |          unnest(string_split(text, ' ')) AS token
      |        FROM documents WHERE doc_id % 101 = 0)))
      |  WHERE r <= 4),
      |tfq AS (
      |  SELECT tf.* FROM tf
      |  JOIN (SELECT DISTINCT token FROM qt) t USING (token)),
      |dfq AS (
      |  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM tfq GROUP BY token),
      |scored AS (
      |  SELECT qt.q_id, tfq.doc_id,
      |    (length(bin(greatest(
      |      (2 * s.n_docs - 2 * dfq.df + 1) // (2 * dfq.df + 1), 1)))
      |      - 1)::BIGINT AS idf_bits,
      |    (10000 * 22 * s.s_tokens * tfq.tf)
      |      // (10 * s.s_tokens * tfq.tf + 3 * s.s_tokens
      |          + 9 * dl.dl * s.n_docs) AS tfpart_e4
      |  FROM tfq
      |  JOIN dfq USING (token)
      |  JOIN qt USING (token)
      |  JOIN dl ON dl.doc_id = tfq.doc_id
      |  CROSS JOIN stats s
      |  WHERE qt.q_id <> tfq.doc_id),
      |agg AS (
      |  SELECT q_id, doc_id,
      |    CAST(SUM(idf_bits * tfpart_e4) AS BIGINT) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS terms_hit
      |  FROM scored GROUP BY q_id, doc_id),
      |ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      |  FROM agg)
      |SELECT q_id, rank, doc_id, score, terms_hit
      |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- #166
  /** #166 hashed-bag-of-words linear quality classifier (fastText-style
    * inference). Each token hashes to an integer weight in
    * [-1000, 1000] (md5-derived — a stand-in for trained weights with
    * the same execution shape: feature hashing, per-doc dot product,
    * sign threshold). Emits per doc: token count, integer weight sum,
    * the r4'd mean weight (the "confidence"), and the keep/drop label.
    *
    * Scale: explode + keyed agg with map-side combine; the weight
    * lookup is pure map-side arithmetic (no dictionary join at all —
    * feature hashing's raison d'être).
    */
  def textQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val w = conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long") % 2001L - 1000L
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("w", w)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("sum_w"))
      .select(col("doc_id"), col("n_tokens"), col("sum_w"),
        r4(col("sum_w").cast("double") / col("n_tokens")).as("score"),
        when(col("sum_w") >= 0, "keep").otherwise("drop").as("label"))
      .orderBy("doc_id")
  }

  /** Oracle mirror: same md5-derived weights, same single r4'd mean. */
  val textQualityClassifierSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |wtoks AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(token), 1, 8))::BIGINT % 2001 - 1000 AS w
      |  FROM toks),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |    CAST(SUM(w) AS BIGINT) AS sum_w
      |  FROM wtoks GROUP BY doc_id)
      |SELECT doc_id, n_tokens, sum_w,
      |  FLOOR((CAST(sum_w AS DOUBLE) / n_tokens) * 10000.0 + 0.5)
      |    / 10000.0 AS score,
      |  CASE WHEN sum_w >= 0 THEN 'keep' ELSE 'drop' END AS label
      |FROM agg ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #167
  /** #167 IVF+PQ composite ANN (nprobe = 2 cells, m = 2 subspaces,
    * 16-centroid codebooks, top-5): #55's coarse cell probe restricts
    * the candidate set, #107's ADC table scores it — the structure
    * (coarse quantizer + product-quantized residual-free codes) behind
    * real billion-vector indexes. Exact cosine rides along on the
    * emitted top-k so recall stays observable.
    *
    * Scale: identical envelopes to its two parents — centroids,
    * codebooks and per-query ADC tables are tiny broadcasts; the
    * corpus-sized work is one encode pass (map-side argmin vs broadcast
    * codebooks) and a candidate join keyed on the PROBED cell id, so
    * each query scores only its nprobe cells' codes, never the corpus.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPq(spark, dir, k = 5, nprobe = 2, m = 2, ksub = 16)

  def annIvfPq(spark: SparkSession, dir: String, k: Int, nprobe: Int,
      m: Int, ksub: Int): DataFrame = {
    require(64 % m == 0, s"m must divide 64, got $m")
    val subLen = 64 / m
    val v = Tables.spread(spark, dir, "embeddings")
    // ---- IVF half (#55 machinery): per-cell centroids, nprobe probes.
    // r12: reads the LayoutCache-materialized centroid table shared
    // with #55 (identical construction) instead of re-running the
    // posexplode + two-level decimal aggregate here.
    val cellCent = Similarity.ivfCentroidsFullCached(spark, dir)
    val q = Similarity.evalQueries(spark, dir)
    val wProbe = Window.partitionBy("q_id").orderBy(desc("c_sim"), col("label"))
    val probes = q.join(broadcast(cellCent), lit(true))
      .withColumn("c_sim", expr(
        "cosine_f32(q_emb, transform(centroid, x -> cast(x as float)))"))
      .withColumn("prk", row_number().over(wProbe))
      .where(col("prk") <= nprobe)
      .select("q_id", "label")
    // ---- PQ half: the #107 codebook/code model, now the SHARED
    // LayoutCache-materialized pqModel (byte-identical construction —
    // same subspace split, seeds, decimal recenter, (dist, cid) argmin
    // tie-break; this file previously duplicated it inline, so the
    // train pipeline ran again per query and per pass).
    val vecs = v.select(col("vec_id"), col("embedding"))
    def subspaces(df: DataFrame, idCol: String, vecCol: String,
        out: String): DataFrame =
      (0 until m).map { s =>
        df.select(col(idCol), lit(s).as("s"),
          expr(s"transform(slice($vecCol, ${s * subLen + 1}, $subLen), " +
            "x -> cast(x as double))").as(out))
      }.reduce(_ union _)
    val sqDist = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
        "0D, (acc, t) -> acc + t)")
    val (cent, coded) = Similarity.pqModel(spark, dir, m, ksub)
    val codes = coded.select("vec_id", "s", "cid")
    val table = subspaces(q, "q_id", "q_emb", "qv")
      .join(broadcast(cent), "s")
      .withColumn("dq", sqDist("qv", "cv"))
      .select("q_id", "s", "cid", "dq")
    // ---- composition: ADC-score ONLY codes whose cell was probed
    val cand = codes
      .join(v.select(col("vec_id"), col("label")), "vec_id")
      .join(broadcast(probes), "label")
      .where(col("q_id") =!= col("vec_id"))
    val approx = cand.join(broadcast(table), Seq("q_id", "s", "cid"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("dq").cast("decimal(28,12)")).cast("double").as("approx"))
    val wRank = Window.partitionBy("q_id").orderBy(col("approx"), col("vec_id"))
    approx
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
      .join(vecs.select(col("vec_id"), col("embedding").as("c_emb")), "vec_id")
      .join(q, "q_id")
      .select(col("q_id"), col("rank"), col("vec_id").as("c_id"),
        r4(col("approx")).as("approx_dist"),
        r4(expr("cosine_f32(q_emb, c_emb)")).as("cosine_exact"))
      .orderBy("q_id", "rank")
  }

  /** Oracle mirror: #55's centroid/probe CTEs + #107's codebook/ADC
    * CTEs, with the candidate join restricted to probed cells.
    */
  val annIvfPqSql: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS norm
      |  FROM embeddings),
      |dims AS (
      |  SELECT label, d, CAST(SUM(CAST(embedding[d] AS DECIMAL(28,12)))
      |      / COUNT(*) AS DOUBLE) AS c
      |  FROM v, range(1, 65) t(d)
      |  GROUP BY label, d),
      |ccent AS (
      |  SELECT label, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c)
      |    AS centroid
      |  FROM dims GROUP BY label),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
      |      FROM v WHERE vec_id % 50 = 0 AND vec_id < 1000000),
      |probe AS (
      |  SELECT q_id, label FROM (
      |    SELECT q_id, label,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c_sim DESC, label)
      |        AS prk
      |    FROM (
      |      SELECT q.q_id, ccent.label,
      |        list_sum(list_transform(range(1, 65),
      |          i -> q.q_emb[i]::DOUBLE * ccent.centroid[i]::FLOAT::DOUBLE))
      |          / (q.q_norm * sqrt(list_sum(list_transform(ccent.centroid,
      |               x -> x::FLOAT::DOUBLE * x::FLOAT::DOUBLE)))) AS c_sim
      |      FROM q CROSS JOIN ccent))
      |  WHERE prk <= 2),
      |parts AS (
      |  SELECT vec_id, s,
      |    list_transform(embedding[(s * 32 + 1):(s * 32 + 32)],
      |      x -> x::DOUBLE) AS sv
      |  FROM v, range(0, 2) t(s)),
      |seedc AS (
      |  SELECT s, vec_id AS cid, sv AS cv FROM parts WHERE vec_id < 16),
      |a0 AS (
      |  SELECT vec_id, s, (min({'d': dist, 'c': cid})).c AS cid FROM (
      |    SELECT p.vec_id, p.s, c.cid,
      |      list_sum(list_transform(range(1, 33),
      |        i -> (p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i]))) AS dist
      |    FROM parts p JOIN seedc c ON p.s = c.s)
      |  GROUP BY vec_id, s),
      |cent AS (
      |  SELECT s, cid, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), t -> t.c) AS cv
      |  FROM (
      |    SELECT a0.s, a0.cid, d,
      |      CAST(SUM(CAST(p.sv[d] AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE)
      |        AS c
      |    FROM a0 JOIN parts p ON a0.vec_id = p.vec_id AND a0.s = p.s,
      |      range(1, 33) t(d)
      |    GROUP BY a0.s, a0.cid, d)
      |  GROUP BY s, cid),
      |codes AS (
      |  SELECT vec_id, s, (min({'d': dist, 'c': cid})).c AS cid FROM (
      |    SELECT p.vec_id, p.s, c.cid,
      |      list_sum(list_transform(range(1, 33),
      |        i -> (p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i]))) AS dist
      |    FROM parts p JOIN cent c ON p.s = c.s)
      |  GROUP BY vec_id, s),
      |qparts AS (
      |  SELECT q_id, s,
      |    list_transform(q_emb[(s * 32 + 1):(s * 32 + 32)],
      |      x -> x::DOUBLE) AS qv
      |  FROM q, range(0, 2) t(s)),
      |tbl AS (
      |  SELECT qp.q_id, qp.s, c.cid,
      |    list_sum(list_transform(range(1, 33),
      |      i -> (qp.qv[i] - c.cv[i]) * (qp.qv[i] - c.cv[i]))) AS dq
      |  FROM qparts qp JOIN cent c ON qp.s = c.s),
      |cand AS (
      |  SELECT probe.q_id, codes.vec_id, codes.s, codes.cid
      |  FROM codes
      |  JOIN v ON v.vec_id = codes.vec_id
      |  JOIN probe ON probe.label = v.label
      |  WHERE probe.q_id <> codes.vec_id),
      |approx AS (
      |  SELECT cand.q_id, cand.vec_id,
      |    CAST(SUM(CAST(t.dq AS DECIMAL(28,12))) AS DOUBLE) AS approx
      |  FROM cand JOIN tbl t
      |    ON t.q_id = cand.q_id AND t.s = cand.s AND t.cid = cand.cid
      |  GROUP BY cand.q_id, cand.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id, approx, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY approx, vec_id) AS rank
      |  FROM approx)
      |SELECT r.q_id, r.rank, r.vec_id AS c_id,
      |  FLOOR(r.approx * 10000.0 + 0.5) / 10000.0 AS approx_dist,
      |  FLOOR((list_sum(list_transform(range(1, 65),
      |      i -> q.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |    / (q.q_norm * c.norm)) * 10000.0 + 0.5) / 10000.0
      |    AS cosine_exact
      |FROM ranked r JOIN v c ON r.vec_id = c.vec_id
      |JOIN q ON r.q_id = q.q_id
      |WHERE r.rank <= 5
      |ORDER BY r.q_id, r.rank""".stripMargin

  // --------------------------------------------------------------- #168
  /** #168 temperature-scaled source mixing weights (α = 1/2): the
    * multi-domain sampling rule q_s ∝ p_s^α that upweights small
    * sources when assembling a training mixture. With α = 1/2 the
    * weight is sqrt(n_tokens)-proportional; `isq = floor(sqrt(n))` is
    * the exact-integer form (bit-identical cross-engine for n ≪ 2^52).
    * Emits per source: doc/token counts, the normalized sampling
    * weight, and the upsample factor q_s/p_s (how many× the source is
    * over-represented vs natural sampling).
    */
  def corpusTemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val per = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      .withColumn("isq",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = per.agg(sum("isq").as("sum_isq"),
      sum("n_tokens").as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        r4(col("isq").cast("double") / col("sum_isq")).as("weight"),
        // cast-then-multiply: the int64 product would overflow around
        // 10^13-token corpora; double products are IEEE-deterministic
        r4((col("isq").cast("double") * col("tot_tokens").cast("double"))
          / (col("sum_isq").cast("double") * col("n_tokens").cast("double")))
          .as("upsample"))
      .orderBy("source")
  }

  /** Oracle mirror: same floor(sqrt) masses, same r4'd ratios. */
  val corpusTemperatureMixSql: String =
    """WITH per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |m AS (
      |  SELECT *, CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
      |    AS isq
      |  FROM per),
      |tot AS (
      |  SELECT CAST(SUM(isq) AS BIGINT) AS sum_isq,
      |    CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM m)
      |SELECT source, n_docs, n_tokens,
      |  FLOOR((CAST(isq AS DOUBLE) / sum_isq) * 10000.0 + 0.5) / 10000.0
      |    AS weight,
      |  FLOOR(((CAST(isq AS DOUBLE) * CAST(tot_tokens AS DOUBLE))
      |    / (CAST(sum_isq AS DOUBLE) * CAST(n_tokens AS DOUBLE)))
      |    * 10000.0 + 0.5) / 10000.0 AS upsample
      |FROM m CROSS JOIN tot ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #169
  /** #169 k-core peeling (k = 3, 3 synchronous rounds) over the
    * support-floored co-purchase graph: each round drops nodes with
    * degree < k and the edges touching them; what survives 3 rounds is
    * (for this graph's diameter) the 3-core — the dense interaction
    * backbone. Emits surviving nodes with their final in-core degree.
    *
    * Scale: per round, one degree agg + two semi-joins on the
    * structure-sized symmetric edge list — same fixed-k iteration
    * envelope as #99/#163 (the open-ended variant would use the
    * persist + localCheckpoint loop of #152).
    */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    graphKcore(spark, dir, k = 3, rounds = 3)

  def graphKcore(spark: SparkSession, dir: String, k: Int,
      rounds: Int): DataFrame =
    graphKcoreOn(symmetricEdges(spark, dir), k, rounds)

  private def symmetricEdges(spark: SparkSession, dir: String): DataFrame = {
    val und = Graph.undirected(spark, dir)
    // the unrolled 3-round plan references this subtree 3^rounds = 27
    // times: saturated clusters persist the doubled arc list, idle
    // boxes recompute it in parallel (measured 1.6× faster — PLANS.md
    // rounds 14 and 19)
    Tables.saturatedSlot("graph_kcore_edges",
      und.select(col("pa").as("src"), col("pb").as("dst"))
        .union(und.select(col("pb").as("src"), col("pa").as("dst"))),
      dir)
  }

  private def graphKcoreOn(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var e = edges
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("src").as("node"))
      e = e
        .join(keep.select(col("node").as("src")), "src")
        .join(keep.select(col("node").as("dst")), "dst")
        .select("src", "dst")
    }
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  /** Oracle mirror: the shared edge CTEs + 3 unrolled peel rounds. */
  val graphKcoreSql: String = {
    def round(in: String, outKeep: String, outE: String) =
      s"""$outKeep AS (
         |  SELECT src AS node FROM (
         |    SELECT src, COUNT(*) AS deg FROM $in GROUP BY src)
         |  WHERE deg >= 3),
         |$outE AS (
         |  SELECT $in.src, $in.dst FROM $in
         |  JOIN $outKeep a ON $in.src = a.node
         |  JOIN $outKeep b ON $in.dst = b.node)""".stripMargin
    s"""WITH ${Graph.edgeSql},
       |${round("e", "k1", "e1")},
       |${round("e1", "k2", "e2")},
       |${round("e2", "k3", "e3")}
       |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |FROM e3 GROUP BY src ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- #170
  /** #170 PMI-scored collocations: the corpus's top-100 bigram
    * collocations by pointwise mutual information, with a support
    * floor (c12 ≥ 2 — a hapax pair always has sky-high PMI; this
    * corpus's independence-heavy token mix keeps the floor low). All
    * probabilities live in the BIGRAM event space
    * (c1 = Σ_w2 c12, c2 = Σ_w1 c12, N = total bigrams), so
    * PMI = log2(c12·N / (c1·c2)) and the integer-bits form is
    * floor(log2((c12·N) div (c1·c2))) — same `length(bin(k))-1` device
    * as #160/#165; cross-products stay under int64 through ~10^9-token
    * corpora. The top-100 ranks by (pmi_bits, support): genuinely
    * associated pairs lead, independence (ratio ≈ 1 → 0 bits) trails.
    *
    * Scale: two keyed aggs over one bigram explode; the two marginal
    * attach joins are vocabulary-sized (size-gated broadcast); the
    * top-100 is TakeOrdered (per-partition heads, no global window).
    */
  def textCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val bigrams = docs
      .select(split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(Signatures.wordPairs(col("toks"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val c2 = c12.groupBy("w2").agg(sum("c12").as("c2"))
    val n = c12.agg(sum("c12").as("n_bigrams"))
    c12.where(col("c12") >= 2)
      .join(Tables.maybeBroadcast(c1), "w1")
      .join(Tables.maybeBroadcast(c2), "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi_bits", expr(
        """cast(length(bin(greatest((c12 * n_bigrams) div (c1 * c2),
          |  cast(1 as bigint)))) - 1 as bigint)""".stripMargin))
      .select("w1", "w2", "c12", "pmi_bits")
      .orderBy(desc("pmi_bits"), desc("c12"), col("w1"), col("w2"))
      .limit(100)
  }

  /** Oracle mirror: same bigram-space marginals, same integer-bits
    * ratio, same (pmi_bits, c12, w1, w2) total order.
    */
  val textCollocationsSql: String =
    """WITH toks AS (
      |  SELECT string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(t)),
      |    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
      |  FROM toks),
      |c12 AS (
      |  SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
      |c2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM c12 GROUP BY w2),
      |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_bigrams FROM c12),
      |scored AS (
      |  SELECT w1, w2, c12,
      |    (length(bin(greatest((c12 * n_bigrams) // (c1 * c2), 1)))
      |      - 1)::BIGINT AS pmi_bits
      |  FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
      |  WHERE c12 >= 2)
      |SELECT w1, w2, c12, pmi_bits FROM scored
      |ORDER BY pmi_bits DESC, c12 DESC, w1, w2 LIMIT 100""".stripMargin

  // --------------------------------------------------------------- #171
  /** #171 hard-negative mining for embedding training: for each query
    * vector, the top-5 most-cosine-similar corpus vectors with a
    * DIFFERENT label — the "hard negatives" a contrastive trainer
    * wants (similar in embedding space, known non-matching). The label
    * column stands in for the relevance grouping; queries are
    * corpus-seeded like every registered ANN eval.
    *
    * Scale: #32's brute-force contract — corpus scans once against the
    * BROADCAST bounded query table, per-partition window top-k, no
    * corpus shuffle. The label filter rides the scan.
    */
  def annHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    val q = v.where(col("vec_id") % 50 === 0 && col("vec_id") < 1000000L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val c = v.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("label").as("c_label"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine_raw"), col("c_id"))
    c.join(broadcast(q), col("c_label") =!= col("q_label"))
      .withColumn("cosine_raw", expr("cosine_f32(q_emb, c_emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("c_id"),
        col("c_label").cast("long").as("neg_label"),
        r4(col("cosine_raw")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Oracle mirror: #32's scan with the label-mismatch predicate. */
  val annHardNegativesSql: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS norm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    CAST(c.label AS BIGINT) AS neg_label,
      |    list_sum(list_transform(range(1, len(q.embedding) + 1),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |      / (q.norm * c.norm) AS cosine_raw
      |  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000 AND q.label <> c.label),
      |ranked AS (
      |  SELECT q_id, c_id, neg_label, cosine_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, c_id, neg_label,
      |  FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- #172
  /** #172 leakage-safe train/val split: near-duplicate documents must
    * land in the SAME split, or the validation set leaks training
    * data. Cluster key = the #27 normalization hash (lowercase,
    * punctuation→space, squeezed); the cluster representative (min
    * doc_id) is hashed to assign the WHOLE cluster 90/10 — so a doc
    * and its near-duplicate can never straddle the boundary, which a
    * per-doc split (#136) cannot guarantee. Production swaps the
    * cluster key for the MinHash-LSH cluster table (#41) — same shape,
    * fuzzier equivalence.
    *
    * Scale: one keyed agg to cluster reps + one equi-join back on the
    * cluster key; both map-side-combinable / AQE-coalesced.
    */
  def splitLeakageSafe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("norm_hash", md5(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))))
    val reps = docs.groupBy("norm_hash")
      .agg(min("doc_id").as("cluster_rep"))
      .withColumn("split",
        when(conv(substring(md5(col("cluster_rep").cast("string")), 1, 8),
          16, 10).cast("long") % 10L < 9L, "train").otherwise("val"))
    docs.join(reps, "norm_hash")
      .select(col("doc_id"), col("cluster_rep"), col("split"))
      .orderBy("doc_id")
  }

  /** Oracle mirror: same normalization, same rep hash, same 90/10. */
  val splitLeakageSafeSql: String =
    """WITH d AS (
      |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
      |  FROM documents),
      |reps AS (
      |  SELECT norm_hash, MIN(doc_id) AS cluster_rep,
      |    CASE WHEN ('0x' || substr(md5(CAST(MIN(doc_id) AS VARCHAR)), 1, 8))
      |      ::BIGINT % 10 < 9 THEN 'train' ELSE 'val' END AS split
      |  FROM d GROUP BY norm_hash)
      |SELECT d.doc_id, reps.cluster_rep, reps.split
      |FROM d JOIN reps USING (norm_hash) ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- #173
  /** #173 index-quality evaluation: recall@3 of the LSH index (#33)
    * against the brute-force ground truth (#32), per query — the QC
    * readout you run after tuning any ANN structure (the recall half
    * of the recall/cost dial the LSH docs describe). Emits per query:
    * truth size, LSH hit count, overlap, and the r4'd recall ratio
    * (ONE IEEE division).
    *
    * Scale: both inputs are the registered operators' own flows
    * (broadcast bounded query set against the corpus — no new
    * corpus-sized path); the recall join keys on the tiny
    * (q_id, c_id) result sets.
    */
  def annRecallAtK(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    val q = Similarity.evalQueries(spark, dir)
    val truth = Similarity.annBruteforceFrom(v, q, k = 3)
      .select("q_id", "c_id")
    val hits = Similarity.annLshFrom(v, q, k = 3)
      .select("q_id", "c_id")
    val nTruth = truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
    val nHits = hits.groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    val nOverlap = truth.join(hits, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
    q.select("q_id")
      .join(nTruth, Seq("q_id"), "left")
      .join(nHits, Seq("q_id"), "left")
      .join(nOverlap, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_truth", "n_hits", "n_overlap"))
      .select(col("q_id"), col("n_truth"), col("n_hits"), col("n_overlap"),
        r4(col("n_overlap").cast("double") / col("n_truth")).as("recall"))
      .orderBy("q_id")
  }

  /** Oracle mirror: one embedding CTE carrying both the norm and the
    * 8-bit md5-parity bucket, the #32 ranking without the bucket
    * predicate (truth) and with it (hits), then the overlap counts.
    */
  val annRecallAtKSql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    list_sum(list_transform(range(0, 8), j ->
      |      CASE WHEN list_sum(list_transform(range(1, 65), d ->
      |        (CASE WHEN ('0x' || substr(md5(j || ':' || (d - 1)), 1, 1))::INT
      |            & 1 = 1 THEN 1.0 ELSE -1.0 END)
      |          * embedding[CAST(d AS INT)]::DOUBLE)) > 0
      |      THEN 1 << CAST(j AS INT) ELSE 0 END)) AS bucket,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS norm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id FROM v WHERE vec_id % 50 = 0 AND vec_id < 1000000),
      |truth AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT q_id, c_id, ROW_NUMBER() OVER (
      |      PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |    FROM (
      |      SELECT qv.vec_id AS q_id, c.vec_id AS c_id,
      |        list_sum(list_transform(range(1, len(qv.embedding) + 1),
      |          i -> qv.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |          / (qv.norm * c.norm) AS cosine_raw
      |      FROM v qv JOIN v c
      |        ON qv.vec_id % 50 = 0 AND qv.vec_id < 1000000 AND qv.vec_id <> c.vec_id))
      |  WHERE rank <= 3),
      |hits AS (
      |  SELECT q_id, c_id FROM (
      |    SELECT q_id, c_id, ROW_NUMBER() OVER (
      |      PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |    FROM (
      |      SELECT qv.vec_id AS q_id, c.vec_id AS c_id,
      |        list_sum(list_transform(range(1, len(qv.embedding) + 1),
      |          i -> qv.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |          / (qv.norm * c.norm) AS cosine_raw
      |      FROM v qv JOIN v c
      |        ON qv.vec_id % 50 = 0 AND qv.vec_id < 1000000 AND qv.vec_id <> c.vec_id
      |        AND qv.bucket = c.bucket))
      |  WHERE rank <= 3),
      |nt AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_truth
      |       FROM truth GROUP BY q_id),
      |nh AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |       FROM hits GROUP BY q_id),
      |nov AS (
      |  SELECT truth.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
      |  FROM truth JOIN hits USING (q_id, c_id) GROUP BY truth.q_id)
      |SELECT q.q_id, COALESCE(nt.n_truth, 0) AS n_truth,
      |  COALESCE(nh.n_hits, 0) AS n_hits,
      |  COALESCE(nov.n_overlap, 0) AS n_overlap,
      |  FLOOR((CAST(COALESCE(nov.n_overlap, 0) AS DOUBLE)
      |    / COALESCE(nt.n_truth, 0)) * 10000.0 + 0.5) / 10000.0 AS recall
      |FROM q
      |LEFT JOIN nt USING (q_id)
      |LEFT JOIN nh USING (q_id)
      |LEFT JOIN nov USING (q_id)
      |ORDER BY q.q_id""".stripMargin

  // ------------------------------------------------------- registration
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25" -> (textBm25 _),
    "text_quality_classifier" -> (textQualityClassifier _),
    "ann_ivf_pq" -> ((s: SparkSession, d: String) => annIvfPq(s, d)),
    "corpus_temperature_mix" -> (corpusTemperatureMix _),
    "graph_kcore" -> ((s: SparkSession, d: String) => graphKcore(s, d)),
    "text_collocations" -> (textCollocations _),
    "ann_hard_negatives" -> (annHardNegatives _),
    "split_leakage_safe" -> (splitLeakageSafe _),
    "ann_recall_at_k" -> (annRecallAtK _))

  val oracles: Map[String, String] = Map(
    "text_bm25" -> textBm25Sql,
    "text_quality_classifier" -> textQualityClassifierSql,
    "ann_ivf_pq" -> annIvfPqSql,
    "corpus_temperature_mix" -> corpusTemperatureMixSql,
    "graph_kcore" -> graphKcoreSql,
    "text_collocations" -> textCollocationsSql,
    "ann_hard_negatives" -> annHardNegativesSql,
    "split_leakage_safe" -> splitLeakageSafeSql,
    "ann_recall_at_k" -> annRecallAtKSql)
}
