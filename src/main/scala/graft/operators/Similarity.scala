package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql}

/** Similarity search over `embeddings` (SURVEY.md §2 #32-33).
  *
  * Scale design (100 TB):
  *  - brute force: the query set is small by construction, so it is
  *    BROADCAST over the corpus — one narrow pass, per-partition top-k
  *    via the window, no corpus shuffle at all until the final tiny
  *    rank filter.
  *  - LSH: random-hyperplane signs bucket the corpus (map-side narrow);
  *    candidate generation is an equi-join on the bucket id — the
  *    classic trade of recall for never touching the full n×m product.
  *    Hyperplane components are ±1 from md5 hex parity of "plane:dim"
  *    (oracle-reproducible), so the "random" planes are deterministic
  *    and need no driver-side state or broadcast variables.
  */
object Similarity {

  /** The query set the registered eval queries use: seeded from the
    * corpus by a fixed predicate so the DuckDB oracle can reproduce it.
    * This is a TEST-SCALE stand-in — because it is a fraction of the
    * corpus, it grows with the data and would eventually break the
    * broadcast. The `*From` variants below take the query set as an
    * explicit argument: in production it is an external small table
    * (the batch of queries to answer), so the broadcast side is bounded
    * by construction at any corpus size.
    */
  def evalQueries(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "embeddings")
      // the EVAL HORIZON (ids < 10^6) makes even the registered,
      // corpus-seeded form scale-bounded: replicas / late ingests land
      // above the horizon, so the query set stops growing with the
      // corpus (measured necessity: at the 100× replica an unbounded
      // stride-50 set made every ANN eval O(corpus²/50)); sf ≤ 0.1
      // eval ids sit far below it, so oracle results are unchanged
      .where(col("vec_id") % 50 === 0 && col("vec_id") < 1000000L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** #32 exact cosine top-k neighbors. Query side broadcast; ranking
    * key (cosine DESC, vec_id) is total so the top-k is
    * engine-deterministic. The corpus never shuffles: per-partition
    * top-k via the window's WindowGroupLimit pushdown, then the tiny
    * rank filter.
    */
  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    annBruteforceFrom(v, evalQueries(spark, dir), k = 5)
  }

  /** Brute-force ANN over an arbitrary corpus (`vec_id`, `embedding`)
    * and an arbitrary SMALL query table (`q_id`, `q_emb`).
    */
  def annBruteforceFrom(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine_raw"), col("c_id"))
    c.join(broadcast(queries), col("q_id") =!= col("c_id"))
      .withColumn("cosine_raw", expr("cosine_f32(q_emb, c_emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        r4(col("cosine_raw")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  val annBruteforceSql: String =
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS norm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    list_sum(list_transform(range(1, len(q.embedding) + 1),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |      / (q.norm * c.norm) AS cosine_raw
      |  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT q_id, c_id, cosine_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, c_id, FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** #33 random-hyperplane LSH ANN: 8 sign bits bucket the corpus;
    * query vectors probe their own bucket only; top-3 by exact cosine
    * within the bucket. Deterministic planes: component d of plane j is
    * +1 iff the first md5 hex digit of "j:d" is odd — sign bit j =
    * (sum over dims of ±embedding[d]) > 0, reproducible by the oracle.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    annLshFrom(v, evalQueries(spark, dir), k = 3)
  }

  /** LSH ANN over an arbitrary corpus and an arbitrary SMALL query
    * table. The bucket is a pure function of the embedding, so the
    * query side computes its own buckets — no corpus-side recompute,
    * no correlation between the two inputs required.
    */
  def annLshFrom(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.withColumn("bucket", expr("md5_rhp_bucket(q_emb, 8)"))
    val c = corpus.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb"),
        expr("md5_rhp_bucket(embedding, 8)").as("c_bucket"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine_raw"), col("c_id"))
    c.join(broadcast(q),
        col("bucket") === col("c_bucket") && col("q_id") =!= col("c_id"))
      .withColumn("cosine_raw", expr("cosine_f32(q_emb, c_emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        r4(col("cosine_raw")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------- #88
  /** #88 multi-probe LSH ANN: each query probes its home bucket PLUS
    * every 1-bit-flip neighbor (bits+1 probes) — the standard recall
    * dial that costs probe-count×candidates instead of more hash
    * tables (more tables = another full corpus index at 100 TB;
    * probing is query-side only and the corpus index is unchanged).
    * A candidate lands in exactly one probed bucket, so the probe
    * explode creates no duplicate pairs.
    */
  def annMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    annMultiprobeFrom(v, evalQueries(spark, dir), k = 3, bits = 8)
  }

  def annMultiprobeFrom(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int): DataFrame = {
    val q = queries
      .withColumn("home", expr(s"md5_rhp_bucket(q_emb, $bits)"))
      .select(col("q_id"), col("q_emb"), explode(expr(
        s"""concat(array(home),
           |  transform(sequence(0, ${bits - 1}),
           |    j -> home ^ shiftleft(1L, j)))""".stripMargin)).as("probe"))
    val c = corpus.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"),
      expr(s"md5_rhp_bucket(embedding, $bits)").as("c_bucket"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine_raw"), col("c_id"))
    c.join(broadcast(q),
        col("probe") === col("c_bucket") && col("q_id") =!= col("c_id"))
      .withColumn("cosine_raw", expr("cosine_f32(q_emb, c_emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        r4(col("cosine_raw")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Oracle: the LSH mirror widened to the probe set (home bucket and
    * each single-bit flip).
    */
  val annMultiprobeSql: String =
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
      |probes AS (
      |  SELECT vec_id, embedding, norm,
      |    unnest([bucket] || list_transform(range(0, 8),
      |      j -> xor(bucket, 1 << CAST(j AS INT)))) AS probe
      |  FROM v WHERE vec_id % 50 = 0 AND vec_id < 1000000),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    list_sum(list_transform(range(1, len(q.embedding) + 1),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |      / (q.norm * c.norm) AS cosine_raw
      |  FROM probes q JOIN v c ON q.probe = c.bucket
      |    AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT q_id, c_id, cosine_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, c_id,
      |  FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- #71
  /** #71 k-NN graph construction: for EVERY vector, its top-k nearest
    * bucket-mates by exact cosine — the all-corpus neighbor graph that
    * SemDeDup-style semantic dedup and graph-based clustering consume.
    * Unlike #32/#33 there is no small query side: both join inputs are
    * the full corpus, so nothing broadcasts — the plan is a SHUFFLE
    * equi-join on the LSH bucket id, which partitions the n² problem
    * into per-bucket blocks. Bucket bits are the occupancy dial: more
    * bits → smaller blocks, lower recall (6 bits here; at 10⁹+ vectors
    * use 12-16 so per-bucket pair counts stay bounded).
    *
    * Vectors whose bucket has no other member emit no edges — the
    * standard LSH-graph recall gap, patched in practice by multi-probe
    * or a second hash table, not by widening buckets.
    */
  def annKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    // r12: the default-geometry kNN graph is materialized once per
    // (dir) per JVM — THREE registered queries consume the identical
    // table (#71 itself, #76 dedup_semantic's cluster edges, #236
    // embed_label_consistency), each previously re-running the
    // bucket self-join + per-vector ranking window.
    val plan = annKnnGraph(spark, dir, bits = 6, k = 3)
    val path = LayoutCache.getOrWrite("ann_knn_graph_6_3", dir) { tmp =>
      plan.write.mode("overwrite").parquet(tmp)
    }
    spark.read.schema(plan.schema).parquet(path)
      .orderBy("vec_id", "rank")
  }

  def annKnnGraph(spark: SparkSession, dir: String, bits: Int,
      k: Int): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr(s"md5_rhp_bucket(embedding, $bits)").as("bucket"))
    val w = Window.partitionBy("vec_id").orderBy(desc("cosine_raw"),
      col("nbr_id"))
    v.as("a")
      .join(v.select(col("vec_id").as("nbr_id"),
          col("embedding").as("n_emb"),
          col("bucket").as("n_bucket")).as("b"),
        col("bucket") === col("n_bucket") && col("vec_id") =!= col("nbr_id"))
      .withColumn("cosine_raw", expr("cosine_f32(embedding, n_emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("nbr_id"),
        r4(col("cosine_raw")).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** Oracle mirror of the 6-bit bucket self-join (same md5-parity plane
    * signs as `annLshSql`, no query-set restriction).
    */
  val annKnnGraphSql: String =
    """WITH v AS (
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
      |scored AS (
      |  SELECT a.vec_id, c.vec_id AS nbr_id,
      |    list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |      / (a.norm * c.norm) AS cosine_raw
      |  FROM v a JOIN v c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT vec_id, nbr_id, cosine_raw, ROW_NUMBER() OVER (
      |    PARTITION BY vec_id ORDER BY cosine_raw DESC, nbr_id) AS rank
      |  FROM scored)
      |SELECT vec_id, rank, nbr_id,
      |  FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin

  // ---------------------------------------------------------------- #84
  /** #84 scalar-quantized (SQ8) ANN: every component is SYMMETRICALLY
    * quantized to a signed byte (-127..127) against ONE global max-|x|
    * scale — the int8 vector-search recipe (4× memory over float32,
    * integer SIMD dot products). Candidates rank on the cosine of the
    * integer CODES, which estimates the true cosine because cosine is
    * invariant under a global scale; the exact float cosine is emitted
    * alongside so recall loss is observable per result. (Per-dimension
    * min/max a la faiss SQ8 would need reconstruction before the dot:
    * the offset shifts every vector into the positive octant and the
    * code cosine stops tracking the input cosine — caught by the spec.)
    *
    * Scale: the quantization scale is a single global aggregate
    * broadcast back over the corpus; codes are a map-side projection;
    * ranking reuses the broadcast-query WindowGroupLimit shape of #32.
    * All pairwise arithmetic is INTEGER (exact on both engines) — only
    * the final norm division drops to double, one correctly-rounded
    * sqrt/divide on each side.
    */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(spark, dir, "embeddings")
    val maxabs = emb.agg(max(expr(
      """aggregate(embedding, CAST(0.0 AS DOUBLE),
        |  (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"""
        .stripMargin)).as("ma"))
    val quantized = emb.crossJoin(broadcast(maxabs))
      .withColumn("qv", expr(
        """transform(embedding, v ->
          |  CAST(FLOOR(CAST(v AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))"""
          .stripMargin))
      .withColumn("n2",
        expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"))
      .select("vec_id", "embedding", "qv", "n2")
    // same eval horizon as evalQueries: the query set is fixed-size
    // at any corpus scale
    val q = quantized
      .where(col("vec_id") % 50 === 0 && col("vec_id") < 1000000L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("qv").as("q_qv"), col("n2").as("q_n2"))
    val w = Window.partitionBy("q_id").orderBy(desc("qcos_raw"), col("vec_id"))
    quantized.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(q_qv, qv, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"))
      .withColumn("qcos_raw",
        when(col("q_n2") === 0L || col("n2") === 0L, lit(0.0))
          .otherwise(col("dot") / (sqrt(col("q_n2")) * sqrt(col("n2")))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("c_id"),
        r4(col("qcos_raw")).as("cosine_q"),
        r4(expr("cosine_f32(q_emb, embedding)")).as("cosine_exact"))
      .orderBy("q_id", "rank")
  }

  val annSq8Sql: String =
    """WITH m AS (
      |  SELECT MAX(list_max(list_transform(embedding,
      |    x -> abs(x::DOUBLE)))) AS ma
      |  FROM embeddings),
      |qt AS (
      |  SELECT vec_id, embedding,
      |    list_transform(embedding, v ->
      |      CAST(FLOOR(v::DOUBLE * 127.0 / ma + 0.5) AS BIGINT)) AS qv,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS norm
      |  FROM embeddings, m),
      |qn AS (
      |  SELECT vec_id, embedding, qv, norm,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE) AS n2
      |  FROM qt),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    CASE WHEN q.n2 = 0 OR c.n2 = 0 THEN 0.0
      |      ELSE CAST(list_sum(list_transform(range(1, 65), i ->
      |          q.qv[CAST(i AS INT)] * c.qv[CAST(i AS INT)])) AS DOUBLE)
      |        / (sqrt(q.n2) * sqrt(c.n2)) END AS qcos_raw,
      |    list_sum(list_transform(range(1, 65), i ->
      |      q.embedding[CAST(i AS INT)]::DOUBLE
      |        * c.embedding[CAST(i AS INT)]::DOUBLE))
      |      / (q.norm * c.norm) AS cos_raw
      |  FROM qn q JOIN qn c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT q_id, c_id, qcos_raw, cos_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY qcos_raw DESC, c_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, c_id,
      |  FLOOR(qcos_raw * 10000.0 + 0.5) / 10000.0 AS cosine_q,
      |  FLOOR(cos_raw * 10000.0 + 0.5) / 10000.0 AS cosine_exact
      |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- #139
  /** #139 embedding dispersion per label — SemDeDup-style cluster
    * coherence WITHOUT the pairwise join: for unit-normalized vectors,
    * Σᵢⱼ v̂ᵢ·v̂ⱼ = ‖Σv̂‖², so the mean pairwise cosine inside a label is
    * (‖Σv̂‖² − n)/(n(n−1)) — one posexplode + two keyed aggs over 64
    * dims, O(n·d) instead of O(n²·d). Per-dimension component sums and
    * the squared-sum reduction are decimal-cast, so no accumulation
    * order can drift; norms are the established sequential in-order
    * folds. (The −n term assumes exactly-unit norms; the float
    * normalization leaves ±ulps, identically on both engines.)
    * The signal: labels with high mean-pairwise-cosine are the
    * near-duplicate clusters #76 prunes; centroid_norm ≈ 1 means the
    * label collapsed to one direction.
    */
  def embedDispersion(spark: SparkSession, dir: String): DataFrame = {
    val nv = Tables.spread(spark, dir, "embeddings")
      .withColumn("nrm", sqrt(expr(
        "aggregate(embedding, cast(0 as double), " +
          "(a, x) -> a + cast(x as double) * cast(x as double))")))
    val comps = nv
      .select(col("label"), col("nrm"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vh", col("v").cast("double") / col("nrm"))
    val dimSums = comps.groupBy("label", "dim")
      .agg(sum(col("vh").cast(DecimalType(38, 18))).cast("double").as("sd"))
    val norm2 = dimSums.groupBy("label")
      .agg(sum((col("sd") * col("sd")).cast(DecimalType(38, 12)))
        .cast("double").as("norm2"))
    val counts = nv.groupBy("label").agg(count(lit(1)).as("n_vectors"))
    counts.join(norm2, "label")
      .select(col("label"), col("n_vectors"),
        r4((col("norm2") - col("n_vectors")) /
          (col("n_vectors") * (col("n_vectors") - lit(1))).cast("double"))
          .as("mean_pairwise_cos"),
        r4(sqrt(col("norm2")) / col("n_vectors").cast("double"))
          .as("centroid_norm"))
      .orderBy("label")
  }

  val embedDispersionSql: String =
    s"""WITH nv AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |comps AS (
       |  SELECT label, i AS dim, embedding[CAST(i AS INT)]::DOUBLE / nrm AS vh
       |  FROM nv, range(1, 65) t(i)),
       |dimsums AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(vh AS DECIMAL(38,18))) AS DOUBLE) AS sd
       |  FROM comps GROUP BY 1, 2),
       |n2 AS (
       |  SELECT label,
       |    CAST(SUM(CAST(sd * sd AS DECIMAL(38,12))) AS DOUBLE) AS norm2
       |  FROM dimsums GROUP BY 1),
       |cnt AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings
       |  GROUP BY 1)
       |SELECT cnt.label, n_vectors,
       |  ${r4Sql("(norm2 - n_vectors) / " +
                  "CAST(n_vectors * (n_vectors - 1) AS DOUBLE)")}
       |    AS mean_pairwise_cos,
       |  ${r4Sql("sqrt(norm2) / CAST(n_vectors AS DOUBLE)")}
       |    AS centroid_norm
       |FROM cnt JOIN n2 ON cnt.label = n2.label
       |ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- #149
  /** #149 embedding outlier detection: vectors far from their label
    * centroid by z-score of squared distance — the mislabel/corrupt-
    * vector screen that runs before any SemDeDup pass trusts the
    * labels. Centroids come from the #139 decimal dim-sum machinery
    * (one posexplode, exact); each vector's d² re-joins centroid
    * components per dimension and decimal-sums its 64 terms, so no
    * accumulation order exists anywhere; the z-score's mean/std are
    * decimal power sums over d². Everything shuffles on (label, dim)
    * then label — never vector×vector.
    */
  def embedOutliers(spark: SparkSession, dir: String,
      zThreshold: Double = 2.0): DataFrame = {
    val base = Tables.spread(spark, dir, "embeddings")
    val comps = base
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vd", col("v").cast("double"))
    val cent = comps.groupBy("label", "dim")
      .agg((sum(col("vd").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("cd"))
    val d2 = comps.join(cent, Seq("label", "dim"))
      .withColumn("term",
        ((col("vd") - col("cd")) * (col("vd") - col("cd")))
          .cast(DecimalType(38, 12)))
      .groupBy("label", "vec_id")
      .agg(sum(col("term")).cast("double").as("d2"))
    val stats = d2.groupBy("label").agg(
      count(lit(1)).as("n"),
      sum(col("d2").cast(DecimalType(38, 10))).cast("double").as("s1"),
      sum((col("d2") * col("d2")).cast(DecimalType(38, 8))).cast("double")
        .as("s2"))
    val mean = col("s1") / col("n")
    val variance = col("s2") / col("n") - mean * mean
    d2.join(stats, "label")
      .withColumn("z", (col("d2") - mean) / sqrt(variance))
      .where(col("z") > zThreshold)
      .select(col("label"), col("vec_id"), r4(col("d2")).as("dist2"),
        r4(col("z")).as("z"))
      .orderBy("label", "vec_id")
  }

  val embedOutliersSql: String =
    s"""WITH comps AS (
       |  SELECT label, vec_id, i AS dim,
       |    embedding[CAST(i AS INT)]::DOUBLE AS vd
       |  FROM embeddings, range(1, 65) t(i)),
       |cent AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(vd AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS cd
       |  FROM comps GROUP BY 1, 2),
       |d2 AS (
       |  SELECT c.label, c.vec_id,
       |    CAST(SUM(CAST((vd - cd) * (vd - cd) AS DECIMAL(38,12)))
       |      AS DOUBLE) AS d2
       |  FROM comps c JOIN cent ON c.label = cent.label
       |    AND c.dim = cent.dim
       |  GROUP BY 1, 2),
       |stats AS (
       |  SELECT label, COUNT(*) AS n,
       |    CAST(SUM(CAST(d2 AS DECIMAL(38,10))) AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(d2 * d2 AS DECIMAL(38,8))) AS DOUBLE) AS s2
       |  FROM d2 GROUP BY 1)
       |SELECT d2.label, vec_id, ${r4Sql("d2")} AS dist2,
       |  ${r4Sql("(d2 - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))")} AS z
       |FROM d2 JOIN stats ON d2.label = stats.label
       |WHERE (d2 - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)) > 2.0
       |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- #349
  /** #349 k-center CORESET selection — greedy farthest-point traversal
    * (Gonzalez '85, the 2-approximation for the k-center objective):
    * THE data-selection primitive behind coreset construction, active-
    * learning seed picks, and diverse evaluation-set sampling — where
    * the mixture/curation operators decide WHAT distribution to keep,
    * this decides WHICH k exemplars cover the embedding cloud. Seed =
    * smallest vec_id; each round picks the point FARTHEST (cosine
    * distance 1 − cos) from the selected set, ties by vec_id; the
    * emitted `dist_to_set` at selection time is the classic radius
    * curve (monotone non-increasing — the spec pins it), and the final
    * row (sel_order 99) is the COVERAGE RADIUS after k picks — the
    * k-center objective value, i.e. "every vector sits within r of a
    * chosen exemplar".
    *
    * Determinism: every distance is ONE IEEE expression both engines
    * evaluate identically (index-order double accumulation — the #32
    * cosine device); argmax compares those identical doubles with a
    * vec_id tie-break, so the greedy trajectory is engine-exact. The
    * oracle unrolls the same k rounds as generated CTE stages (the
    * hilbertSteps shared-text discipline).
    *
    * Scale: each round is one broadcast of ONE center (dims-sized,
    * metadata-plane, the embedPcaPower fixpoint pattern) + a map-side
    * `least(dmin, ·)` update + an argmax reduction — O(k·n) total
    * compute, no shuffle beyond the k argmax aggregations; the
    * per-round localCheckpoint is the #152 lineage cut (k chained
    * crossJoins would otherwise recompute k²/2 cosine passes through
    * the argmax actions).
    */
  def sampleCoreset(spark: SparkSession, dir: String): DataFrame =
    sampleCoreset(spark, dir, k = 8)

  def sampleCoreset(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add("sel_order", "long", nullable = false)
      .add("vec_id", "long", nullable = true)
      .add("dist_to_set", "double", nullable = true)
    def rows(ts: Seq[(Long, java.lang.Long, java.lang.Double)]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(ts.map(t =>
          org.apache.spark.sql.Row(t._1, t._2, t._3)), 1), outSchema)
    val v = Tables.spread(spark, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val seed = v.orderBy("vec_id").limit(1).collect()
    if (seed.isEmpty)
      // no points: the objective row alone (a null radius), so the
      // shape matches the oracle's FROM-less radius select
      return rows(Seq((99L, null, null)))
        .select(col("sel_order"), col("vec_id"), col("dist_to_set"))
    var selected = Seq(seed(0).getLong(0))
    val picks =
      scala.collection.mutable.ArrayBuffer[(Long, java.lang.Long,
        java.lang.Double)]((1L, seed(0).getLong(0), null))
    def centerOf(id: Long) =
      v.where(col("vec_id") === id).select(col("embedding").as("ce"))
    var cur = v.crossJoin(broadcast(centerOf(selected.head)))
      .withColumn("dmin", lit(1.0) - expr("cosine_f32(embedding, ce)"))
      .drop("ce")
      .localCheckpoint()
    var i = 2
    var exhausted = false
    while (i <= k && !exhausted) {
      val nxt = cur.where(!col("vec_id").isin(selected: _*))
        .orderBy(desc("dmin"), col("vec_id")).limit(1)
        .select("vec_id", "dmin").collect()
      if (nxt.isEmpty) exhausted = true
      else {
        val nid = nxt(0).getLong(0)
        picks += ((i.toLong, nid, nxt(0).getDouble(1)))
        selected = selected :+ nid
        cur = cur.crossJoin(broadcast(centerOf(nid)))
          .withColumn("dmin", least(col("dmin"),
            lit(1.0) - expr("cosine_f32(embedding, ce)")))
          .drop("ce")
          .localCheckpoint()
        i += 1
      }
    }
    val rad = cur.where(!col("vec_id").isin(selected: _*))
      .agg(max("dmin")).collect()(0)
    picks += ((99L, null,
      if (rad.isNullAt(0)) null else java.lang.Double.valueOf(rad.getDouble(0))))
    rows(picks.toSeq)
      .select(col("sel_order"), col("vec_id"),
        r4(col("dist_to_set")).as("dist_to_set"))
      .orderBy("sel_order")
  }

  /** Oracle: the identical greedy unrolled as generated CTE stages —
    * same seed, same one-expression distances, same argmax tie-break.
    */
  val sampleCoresetSql: String = {
    val k = 8
    def cosd(d: String, c: String): String =
      s"""1 - (list_sum(list_transform(range(1, len($d.embedding) + 1),
         |      q -> $d.embedding[q]::DOUBLE * $c.embedding[q]::DOUBLE))
         |    / ($d.norm * $c.norm))""".stripMargin
    def exclusions(upto: Int): String =
      (1 to upto).map(j => s"SELECT vec_id FROM s$j")
        .mkString(" UNION ALL ")
    val sb = new StringBuilder
    // MATERIALIZED is load-bearing: d$i references d${i-1} twice (via
    // s$i and directly), so DuckDB's default CTE inlining would blow
    // the plan up 2^k-fold -- the SQL-side twin of the #152 lineage cut
    sb ++= s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS norm
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |s1 AS MATERIALIZED (SELECT vec_id FROM v ORDER BY vec_id LIMIT 1),
       |d1 AS MATERIALIZED (
       |  SELECT d.vec_id, d.embedding, d.norm,
       |    ${cosd("d", "c")} AS dmin
       |  FROM v d CROSS JOIN (
       |    SELECT v.embedding, v.norm FROM v JOIN s1 USING (vec_id)) c),
       |""".stripMargin
    for (i <- 2 to k) {
      sb ++= s"""s$i AS MATERIALIZED (
         |  SELECT d.vec_id, d.dmin FROM d${i - 1} d
         |  WHERE d.vec_id NOT IN (${exclusions(i - 1)})
         |  ORDER BY d.dmin DESC, d.vec_id LIMIT 1),
         |d$i AS MATERIALIZED (
         |  SELECT d.vec_id, d.embedding, d.norm,
         |    LEAST(d.dmin, ${cosd("d", "c")}) AS dmin
         |  FROM d${i - 1} d CROSS JOIN (
         |    SELECT v.embedding, v.norm FROM v
         |    JOIN s$i ON v.vec_id = s$i.vec_id) c),
         |""".stripMargin
    }
    val selRows = (s"SELECT CAST(1 AS BIGINT) AS sel_order, vec_id, " +
      s"CAST(NULL AS DOUBLE) AS dist FROM s1") +:
      (2 to k).map(i =>
        s"SELECT CAST($i AS BIGINT), vec_id, dmin FROM s$i")
    sb ++= s"""sel AS (
       |  ${selRows.mkString("\n  UNION ALL ")}
       |  UNION ALL SELECT CAST(99 AS BIGINT), CAST(NULL AS BIGINT),
       |    (SELECT MAX(dmin) FROM d$k
       |     WHERE vec_id NOT IN (${exclusions(k)})))
       |SELECT sel_order, vec_id,
       |  FLOOR(dist * 10000.0 + 0.5) / 10000.0 AS dist_to_set
       |FROM sel ORDER BY sel_order""".stripMargin
    sb.toString
  }

  // --------------------------------------------------------------- #359
  /** #359 Johnson–Lindenstrauss random-projection leg — the cheap
    * dimensionality dial NEXT TO the quantization family (Matryoshka
    * #279 truncates trained prefixes, SQ8/PQ/1-bit quantize per
    * component; JL is the training-free option that works on ANY
    * embedding): project 64-d float vectors to 16-d with a ±1 sign
    * matrix and score recall@3 of projected-space cosine against the
    * full-dimension truth — the readout that prices the 4× memory /
    * bandwidth saving before wiring the projection in front of LSH or
    * IVF. Sign s(j,d) = parity of the first md5 hex digit of "j:d"
    * (the #33 plane device): deterministic, seedless, re-derivable by
    * any engine. The Spark side inlines the 16×64 matrix as a LITERAL
    * (computed driver-side from the same md5 — 1024 constants, never
    * per-row hashing); the oracle re-derives every sign from md5 in
    * SQL, so a green hash proves literal == definition.
    *
    * Exactness: projections and cosines are IEEE doubles computed with
    * the same dimension-order sums on both engines (the #32 contract);
    * ranking keys (cos DESC, c_id) are total; recall is exact integers
    * with one r4'd division.
    *
    * Scale: the projection is map-side (16 fused multiply-adds per
    * component read); queries broadcast (the #32 horizon-bounded eval
    * set); at 100 TB the projected corpus feeds the bucketed ANN paths
    * — this operator is the recall evidence for that substitution.
    */
  def embedJlProject(spark: SparkSession, dir: String): DataFrame = {
    val (dims, kd, k) = (64, 16, 3)
    val signs: Seq[Seq[Double]] = (0 until kd).map { j =>
      (0 until dims).map { d =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$d".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 1) 1.0 else -1.0
      }
    }
    val smLit = typedlit(signs)
    def projExpr(c: String): String =
      s"""transform(sequence(1, $kd), j ->
         |  aggregate(sequence(1, least(size($c), $dims)),
         |    cast(0.0 as double), (acc, d) ->
         |    acc + element_at(element_at(sm, j), d) *
         |      cast(element_at($c, d) as double)))""".stripMargin
    val truth = annBruteforceFrom(Tables.spread(spark, dir, "embeddings"),
        evalQueries(spark, dir), k)
      .select(col("q_id"), col("c_id"))
    val q = evalQueries(spark, dir).withColumn("sm", smLit)
      .select(col("q_id"), expr(projExpr("q_emb")).as("qp"))
    val c = Tables.spread(spark, dir, "embeddings")
      .withColumn("sm", smLit)
      .select(col("vec_id").as("c_id"),
        expr(projExpr("embedding")).as("cp"))
    val dot = s"aggregate(sequence(1, $kd), cast(0.0 as double), " +
      "(acc, i) -> acc + element_at(qp, i) * element_at(cp, i))"
    def nrm(v: String): String =
      s"sqrt(aggregate($v, cast(0.0 as double), (a, x) -> a + x * x))"
    val w = Window.partitionBy("q_id").orderBy(desc("cos_jl"), col("c_id"))
    val jl = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos_jl", expr(s"$dot / (${nrm("qp")} * ${nrm("cp")})"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("c_id"))
    val hits = truth.join(jl, Seq("q_id", "c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("h"))
    truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("h"), lit(0L)).as("n_hit"),
        r4(coalesce(col("h"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall"))
      .orderBy("q_id")
  }

  val embedJlProjectSql: String = {
    val sign = "(CASE WHEN ('0x' || substr(md5(j || ':' || (d - 1)), " +
      "1, 1))::INT & 1 = 1 THEN 1.0 ELSE -1.0 END)"
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> x::DOUBLE * x::DOUBLE))) AS norm,
       |    list_transform(range(0, 16), j ->
       |      list_sum(list_transform(
       |        range(1, least(len(embedding), 64) + 1),
       |        d -> $sign * embedding[CAST(d AS INT)]::DOUBLE))) AS p
       |  FROM embeddings),
       |ts AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    list_sum(list_transform(range(1, len(q.embedding) + 1),
       |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |      / (q.norm * c.norm) AS cosine_raw
       |  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000
       |    AND q.vec_id <> c.vec_id),
       |tt AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
       |    FROM ts) WHERE rank <= 3),
       |js AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    list_sum(list_transform(range(1, 17),
       |      i -> q.p[CAST(i AS INT)] * c.p[CAST(i AS INT)]))
       |    / (sqrt(list_sum(list_transform(q.p, x -> x * x)))
       |      * sqrt(list_sum(list_transform(c.p, x -> x * x)))) AS cj
       |  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000
       |    AND q.vec_id <> c.vec_id),
       |jk AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY cj DESC, c_id) AS rank
       |    FROM js) WHERE rank <= 3),
       |ov AS (
       |  SELECT tt.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |  FROM tt JOIN jk ON tt.q_id = jk.q_id AND tt.c_id = jk.c_id
       |  GROUP BY tt.q_id),
       |tq AS (
       |  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_truth
       |  FROM tt GROUP BY q_id)
       |SELECT tq.q_id, tq.n_truth,
       |  CAST(COALESCE(ov.n_hit, 0) AS BIGINT) AS n_hit,
       |  ${r4Sql("CAST(COALESCE(ov.n_hit, 0) AS DOUBLE) / tq.n_truth")}
       |    AS recall
       |FROM tq LEFT JOIN ov ON tq.q_id = ov.q_id
       |ORDER BY tq.q_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_jl_project" -> (embedJlProject _),
    "sample_coreset" -> (sampleCoreset _),
    "embed_outliers" ->
      ((s: SparkSession, d: String) => embedOutliers(s, d)),
    "embed_dispersion" -> (embedDispersion _),
    "ann_pq" -> ((s: SparkSession, d: String) => annPq(s, d)),
    "kmeans_lloyd" -> ((s: SparkSession, d: String) => kmeansLloyd(s, d)),
    "ann_bruteforce" -> (annBruteforce _),
    "ann_lsh" -> (annLsh _),
    "ann_ivf" -> (annIvf _),
    "ann_sq8" -> (annSq8 _),
    "ann_multiprobe" -> (annMultiprobe _),
    "ann_knn_graph" -> ((s: SparkSession, d: String) => annKnnGraph(s, d)),
    "ann_ivf_incremental" -> (annIvfIncremental _),
    "ann_ivf_recluster" -> (annIvfRecluster _))

  /** Full SQL mirror of the LSH path: md5-parity plane signs, bucket
    * bits from the same sequential ±component sums, then the
    * brute-force ranking restricted to bucket-coresident candidates.
    */
  val annLshSql: String =
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
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    list_sum(list_transform(range(1, len(q.embedding) + 1),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |      / (q.norm * c.norm) AS cosine_raw
      |  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000 AND q.vec_id <> c.vec_id
      |    AND q.bucket = c.bucket),
      |ranked AS (
      |  SELECT q_id, c_id, cosine_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, c_id,
      |  FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** #55 IVF (inverted-file) ANN: the corpus is coarsely quantized into
    * cells (here: the label partition), each cell gets a centroid
    * (decimal-exact per-dimension mean, so the centroid is
    * order-independent and oracle-identical), and a query probes only
    * the nprobe=2 nearest cells — the classic recall/cost dial.
    *
    * Scale: centroids are a tiny aggregate (cells × dims); the probe
    * assignment is a broadcast of the centroid table; the search is an
    * equi-join on cell id — the corpus never cross-joins the query set.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    annIvfFrom(v, evalQueries(spark, dir), k = 3, nprobe = 2,
      Some(ivfCentroidsFullCached(spark, dir)))
  }

  /** The #55 per-cell centroid table over the FULL corpus, materialized
    * once per (dir) per JVM (r12, LayoutCache) — a deterministic
    * (cells × dims) reduction shared by #55 ann_ivf and #167
    * ann_ivf_pq, each of which previously re-ran the posexplode +
    * two-level decimal aggregate (and re-broadcast its freshly computed
    * subplan) per query and per bench pass.
    */
  private[operators] def ivfCentroidsFullCached(spark: SparkSession,
      dir: String): DataFrame = {
    val plan = ivfCentroids(Tables.spread(spark, dir, "embeddings"))
    val path = LayoutCache.getOrWrite("ivf_centroids_full", dir) { tmp =>
      plan.write.mode("overwrite").parquet(tmp)
    }
    spark.read.schema(plan.schema).parquet(path)
  }

  /** IVF ANN over an arbitrary corpus (`vec_id`, `label`, `embedding`;
    * `label` is the coarse cell id) and an arbitrary SMALL query table.
    * Centroids are a tiny (cells × dims) aggregate; probes broadcast
    * (bounded by |queries| × nprobe); the search is an equi-join on the
    * probed cell — the corpus never cross-joins the query set.
    * `centOverride` lets dir-rooted callers supply the cached centroid
    * table (same construction, materialized once per JVM).
    */
  def annIvfFrom(corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int, centOverride: Option[DataFrame] = None): DataFrame = {
    // centroid per cell: decimal-exact mean per dimension
    val cent = centOverride.getOrElse(ivfCentroids(corpus))
    // each query probes its nprobe nearest centroids (cosine, ties by label)
    val wProbe = Window.partitionBy("q_id")
      .orderBy(desc("c_sim"), col("label"))
    val probes = queries.join(broadcast(cent), lit(true))
      .withColumn("c_sim", expr(
        "cosine_f32(q_emb, transform(centroid, x -> cast(x as float)))"))
      .withColumn("prk", row_number().over(wProbe))
      .where(col("prk") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("label"))
    // search only the probed cells
    val c = corpus.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("label"))
    val wRank = Window.partitionBy("q_id").orderBy(desc("cosine_raw"), col("c_id"))
    c.join(broadcast(probes), Seq("label"))
      .where(col("q_id") =!= col("c_id"))
      .withColumn("cosine_raw", expr("cosine_f32(q_emb, c_emb)"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        r4(col("cosine_raw")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Oracle mirror: centroids from decimal-exact dimension means, the
    * same float32 round-trip before the probe cosine, then the
    * bucket-restricted ranking.
    */
  val annIvfSql: String =
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
      |cent AS (
      |  SELECT label, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c)
      |    AS centroid
      |  FROM dims GROUP BY label),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
      |      FROM v WHERE vec_id % 50 = 0 AND vec_id < 1000000),
      |probe AS (
      |  SELECT q_id, q_emb, q_norm, label,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c_sim DESC, label)
      |      AS prk
      |  FROM (
      |    SELECT q.q_id, q.q_emb, q.q_norm, cent.label,
      |      list_sum(list_transform(range(1, 65),
      |        i -> q.q_emb[i]::DOUBLE * cent.centroid[i]::FLOAT::DOUBLE))
      |        / (q.q_norm * sqrt(list_sum(list_transform(cent.centroid,
      |             x -> x::FLOAT::DOUBLE * x::FLOAT::DOUBLE)))) AS c_sim
      |    FROM q CROSS JOIN cent)),
      |scored AS (
      |  SELECT p.q_id, c.vec_id AS c_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> p.q_emb[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(p.q_emb,
      |           x -> x::DOUBLE * x::DOUBLE))) * c.norm) AS cosine_raw
      |  FROM (SELECT * FROM probe WHERE prk <= 2) p
      |  JOIN v c ON c.label = p.label AND p.q_id <> c.vec_id),
      |ranked AS (
      |  SELECT q_id, c_id, cosine_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, c_id,
      |  FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- #333
  /** Per-cell decimal-exact centroids (the #55 construction, shared):
    * order-independent per-dimension means, so the table is bit-equal
    * under any partitioning and oracle-reproducible.
    */
  private[graft] def ivfCentroids(df: DataFrame): DataFrame = df
    .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
    .groupBy("label", "d")
    .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1)))
      .cast("double").as("c"))
    .groupBy("label")
    .agg(expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)")
      .as("centroid"))

  /** Argmin assignment of `newWave` vectors to the FROZEN centroids of
    * `initial` (cosine desc, cell asc — a total order): the write path
    * of an incrementally-maintained IVF index. Broadcast centroid
    * table, map-side scoring, one row_number per vector.
    */
  private[graft] def ivfAssign(initial: DataFrame,
      newWave: DataFrame): DataFrame = {
    val frozen = ivfCentroids(initial)
      .select(col("label").as("cell"), col("centroid"))
    val wA = Window.partitionBy("vec_id")
      .orderBy(desc("c_sim"), col("cell"))
    newWave.join(broadcast(frozen), lit(true))
      .withColumn("c_sim", expr(
        "cosine_f32(embedding, transform(centroid, x -> cast(x as float)))"))
      .withColumn("rk", row_number().over(wA))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("embedding"),
        col("label").as("native"), col("cell"))
  }

  /** #333 incremental IVF index maintenance — the ANN-shaped sibling
    * of #150's append-only dedup contract: the corpus's second wave
    * (vec_id % 4 == 3) arrives AFTER the index was built, so its
    * vectors are argmin-ASSIGNED to the frozen centroids instead of
    * triggering a rebuild. The report is the maintenance readout a
    * production index owner watches: per cell, the initial member
    * count, new arrivals, how many arrivals a FRESH rebuild would
    * have placed elsewhere (n_moved — native label ≠ assigned cell),
    * the squared L2 drift between the frozen centroid and the
    * updated one (recomputed over initial ∪ assigned members), and
    * the RECLUSTER TRIGGER (moved fraction > 25%) that schedules the
    * rebuild. SimilaritySpec plants a genuinely drifted wave and
    * proves the trigger fires exactly where planted, plus measures
    * recall of the incremental index vs the fresh rebuild; the
    * streamed twin (EventStream.ivfAssignStream) proves the
    * assignment path batch-equivalent and redelivery-idempotent.
    *
    * Scale: centroids are a (cells × dims) aggregate; assignment is a
    * broadcast + map-side argmin (no shuffle of the wave beyond its
    * scan); the updated-centroid pass is the same (cells × dims)
    * aggregate over the union — nothing here is corpus-quadratic, and
    * the wave never joins the initial corpus row-to-row.
    */
  /** The #333/#345 shared maintenance state — the second wave argmin-
    * assigned to the frozen centroids of the initial corpus —
    * materialized once per (dir) per JVM (r12, LayoutCache). Both the
    * incremental report (#333) and the recluster executor (#345)
    * consume this table through MULTIPLE branches (members, stats),
    * each of which previously re-ran the frozen-centroid aggregate +
    * broadcast + N×cells argmin window.
    */
  private def ivfAssignedCached(spark: SparkSession,
      dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    val plan = ivfAssign(v.where(col("vec_id") % 4 =!= 3),
      v.where(col("vec_id") % 4 === 3))
    val path = LayoutCache.getOrWrite("ivf_assigned_w4", dir) { tmp =>
      plan.write.mode("overwrite").parquet(tmp)
    }
    spark.read.schema(plan.schema).parquet(path)
  }

  def annIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    val initial = v.where(col("vec_id") % 4 =!= 3)
    val frozen = ivfCentroids(initial)
    val assigned = ivfAssignedCached(spark, dir)
    val members = initial
      .select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(assigned
        .select(col("vec_id"), col("embedding"),
          col("cell").as("label")))
    val updated = ivfCentroids(members)
      .select(col("label"), col("centroid").as("updated"))
    val nInit = initial.groupBy("label")
      .agg(count(lit(1)).as("n_initial"))
    val stats = assigned.groupBy(col("cell").as("label"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("native") =!= col("cell"), 1L).otherwise(0L))
          .as("n_moved"))
    frozen
      .join(nInit, Seq("label"))
      .join(stats, Seq("label"), "left")
      .join(updated, Seq("label"))
      .na.fill(0L, Seq("n_new", "n_moved"))
      .select(col("label").cast("long").as("label"), col("n_initial"),
        col("n_new"), col("n_moved"),
        r4(expr(
          """aggregate(zip_with(centroid, updated,
            |  (a, b) -> (a - b) * (a - b)),
            |  cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin))
          .as("centroid_shift"),
        (col("n_moved") > col("n_new") * 0.25).as("recluster"))
      .orderBy("label")
  }

  /** Oracle mirror: frozen/updated centroids from the decimal-exact
    * dimension means, the probe-cosine float32 round-trip device for
    * the argmin, then the per-cell rollup.
    */
  val annIvfIncrementalSql: String =
    """WITH init AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  WHERE vec_id % 4 <> 3),
      |nw AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings WHERE vec_id % 4 = 3),
      |fdim AS (
      |  SELECT label, d, CAST(SUM(CAST(embedding[d] AS DECIMAL(28,12)))
      |      / COUNT(*) AS DOUBLE) AS c
      |  FROM init, range(1, 65) t(d) GROUP BY label, d),
      |froz AS (
      |  SELECT label, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c)
      |    AS centroid
      |  FROM fdim GROUP BY label),
      |assign AS (
      |  SELECT vec_id, native, cell, embedding FROM (
      |    SELECT nw.vec_id, nw.label AS native, froz.label AS cell,
      |      nw.embedding,
      |      ROW_NUMBER() OVER (PARTITION BY nw.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> nw.embedding[i]::DOUBLE
      |            * froz.centroid[i]::FLOAT::DOUBLE))
      |        / (nw.nrm * sqrt(list_sum(list_transform(froz.centroid,
      |            x -> x::FLOAT::DOUBLE * x::FLOAT::DOUBLE)))) DESC,
      |        froz.label) AS rk
      |    FROM nw CROSS JOIN froz)
      |  WHERE rk = 1),
      |members AS (
      |  SELECT label, embedding FROM init
      |  UNION ALL SELECT cell AS label, embedding FROM assign),
      |udim AS (
      |  SELECT label, d, CAST(SUM(CAST(embedding[d] AS DECIMAL(28,12)))
      |      / COUNT(*) AS DOUBLE) AS c
      |  FROM members, range(1, 65) t(d) GROUP BY label, d),
      |upd AS (
      |  SELECT label, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c)
      |    AS updated
      |  FROM udim GROUP BY label),
      |ni AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_initial
      |  FROM init GROUP BY label),
      |st AS (
      |  SELECT cell AS label, CAST(COUNT(*) AS BIGINT) AS n_new,
      |    CAST(COUNT(*) FILTER (WHERE native <> cell) AS BIGINT)
      |      AS n_moved
      |  FROM assign GROUP BY 1)
      |SELECT CAST(f.label AS BIGINT) AS label, ni.n_initial,
      |  COALESCE(st.n_new, 0) AS n_new,
      |  COALESCE(st.n_moved, 0) AS n_moved,
      |  FLOOR(list_sum(list_transform(range(1, 65),
      |    i -> (f.centroid[i] - u.updated[i])
      |      * (f.centroid[i] - u.updated[i]))) * 10000.0 + 0.5)
      |    / 10000.0 AS centroid_shift,
      |  COALESCE(st.n_moved, 0) > COALESCE(st.n_new, 0) * 0.25
      |    AS recluster
      |FROM froz f JOIN ni USING (label) LEFT JOIN st USING (label)
      |JOIN upd u USING (label)
      |ORDER BY label""".stripMargin

  // --------------------------------------------------------------- #345
  /** Argmin assignment of `vecs` to an arbitrary centroid table
    * (`cell`, `centroid`) — the #333 device generalized so the
    * recluster executor can re-assign the WHOLE membership, not just
    * a new wave. Broadcast centroids, map-side scoring, total order
    * (cosine desc, cell asc).
    */
  private def assignTo(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val wA = Window.partitionBy("vec_id")
      .orderBy(desc("c_sim"), col("cell"))
    vecs.join(broadcast(cents), lit(true))
      .withColumn("c_sim", expr(
        "cosine_f32(embedding, transform(centroid, x -> cast(x as float)))"))
      .withColumn("rk", row_number().over(wA))
      .where(col("rk") === 1)
      .drop("c_sim", "rk", "centroid")
  }

  /** #345 IVF RECLUSTER executor — runs the rebuild #333's trigger
    * schedules, as the index owner actually runs it: not a from-
    * scratch k-means but ONE recenter→reassign Lloyd step SEEDED from
    * the drifted incremental state (warm-starting from the current
    * centroids is what makes maintenance cheap — the assignment is
    * already nearly right, so one step settles it). Membership =
    * initial corpus ∪ the #333-assigned wave; centroids are recomputed
    * over that membership (the "updated" table #333 reports drift
    * against), every member re-assigns by argmin, and the report per
    * cell is the settling readout: members before/after, arrivals and
    * departures (n_in/n_out — how much mass the step moved), and the
    * post-step squared-L2 recenter shift (how far the next step
    * would move — the convergence read; near-zero means ONE warm step
    * was enough, which the spec asserts against a planted drift).
    *
    * Scale: two (cells × dims) centroid aggregates + one broadcast
    * map-side argmin over the membership — the same cost class as
    * building the index once; nothing row-to-row joins the corpus.
    */
  def annIvfRecluster(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    val initial = v.where(col("vec_id") % 4 =!= 3)
    val assigned = ivfAssignedCached(spark, dir)
    val members = initial
      .select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(assigned
        .select(col("vec_id"), col("embedding"), col("cell").as("label")))
    val updated = ivfCentroids(members)
      .select(col("label").as("cell"), col("centroid"))
    // `re` is consumed by THREE branches (after, outflow, recentered):
    // without the persist each branch re-ran the broadcast + N×cells
    // argmin window (and, transitively, the updated-centroid aggregate
    // under its broadcast) — the top in-sweep cost of the whole ANN
    // family before r12 (6.7 s at sf0.1). NOTE (r12 ADVICE item 4):
    // the payload is CORPUS-sized (vec_id + embedding + old_cell +
    // cell for every member) — persistSlot bounds the slot COUNT, not
    // the bytes, so under memory pressure this entry is
    // eviction-sensitive like any persist. It stays a persist (not a
    // LayoutCache parquet) on purpose: the table is a pure function of
    // the query's own inputs with a single consumer query, so a
    // per-JVM parquet copy would amortize this query's own result
    // across bench passes — the result-caching line this repo holds.
    // Worst case on eviction is a recompute, never a wrong result.
    val re = Tables.persistSlot("similarity.recluster.re", assignTo(
      members.withColumnRenamed("label", "old_cell"), updated))
    val before = members.groupBy(col("label").as("cell"))
      .agg(count(lit(1)).as("n_before"))
    val after = re.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("old_cell") =!= col("cell"), 1L).otherwise(0L))
          .as("n_in"))
    val outflow = re.groupBy(col("old_cell").as("cell"))
      .agg(sum(when(col("old_cell") =!= col("cell"), 1L).otherwise(0L))
        .as("n_out"))
    val recentered = ivfCentroids(
      re.select(col("vec_id"), col("embedding"), col("cell").as("label")))
      .select(col("label").as("cell"), col("centroid").as("recentered"))
    before
      .join(after, Seq("cell"), "left")
      .join(outflow, Seq("cell"), "left")
      .join(updated, Seq("cell"))
      .join(recentered, Seq("cell"), "left")
      .na.fill(0L, Seq("n_after", "n_in", "n_out"))
      .select(col("cell").cast("long").as("cell"), col("n_before"),
        col("n_after"), col("n_in"), col("n_out"),
        when(col("recentered").isNotNull, r4(expr(
          """aggregate(zip_with(centroid, recentered,
            |  (a, b) -> (a - b) * (a - b)),
            |  cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin)))
          .as("recenter_shift"))
      .orderBy("cell")
  }

  /** Oracle mirror: the #333 member construction, updated centroids,
    * the float32-round-trip argmin over ALL members, then recentered
    * centroids and the per-cell settling rollup.
    */
  val annIvfReclusterSql: String =
    """WITH init AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  WHERE vec_id % 4 <> 3),
      |nw AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings WHERE vec_id % 4 = 3),
      |fdim AS (
      |  SELECT label, d, CAST(SUM(CAST(embedding[d] AS DECIMAL(28,12)))
      |      / COUNT(*) AS DOUBLE) AS c
      |  FROM init, range(1, 65) t(d) GROUP BY label, d),
      |froz AS (
      |  SELECT label, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c)
      |    AS centroid
      |  FROM fdim GROUP BY label),
      |assign AS (
      |  SELECT vec_id, cell, embedding FROM (
      |    SELECT nw.vec_id, froz.label AS cell, nw.embedding,
      |      ROW_NUMBER() OVER (PARTITION BY nw.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> nw.embedding[i]::DOUBLE
      |            * froz.centroid[i]::FLOAT::DOUBLE))
      |        / (nw.nrm * sqrt(list_sum(list_transform(froz.centroid,
      |            x -> x::FLOAT::DOUBLE * x::FLOAT::DOUBLE)))) DESC,
      |        froz.label) AS rk
      |    FROM nw CROSS JOIN froz)
      |  WHERE rk = 1),
      |members AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM (
      |    SELECT vec_id, label, embedding FROM init
      |    UNION ALL SELECT vec_id, cell AS label, embedding FROM assign)),
      |udim AS (
      |  SELECT label, d, CAST(SUM(CAST(embedding[d] AS DECIMAL(28,12)))
      |      / COUNT(*) AS DOUBLE) AS c
      |  FROM members, range(1, 65) t(d) GROUP BY label, d),
      |upd AS (
      |  SELECT label AS cell, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c)
      |    AS centroid
      |  FROM udim GROUP BY label),
      |re AS (
      |  SELECT vec_id, old_cell, cell, embedding FROM (
      |    SELECT m.vec_id, m.label AS old_cell, u.cell, m.embedding,
      |      ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> m.embedding[i]::DOUBLE
      |            * u.centroid[i]::FLOAT::DOUBLE))
      |        / (m.nrm * sqrt(list_sum(list_transform(u.centroid,
      |            x -> x::FLOAT::DOUBLE * x::FLOAT::DOUBLE)))) DESC,
      |        u.cell) AS rk
      |    FROM members m CROSS JOIN upd u)
      |  WHERE rk = 1),
      |rdim AS (
      |  SELECT cell, d, CAST(SUM(CAST(embedding[d] AS DECIMAL(28,12)))
      |      / COUNT(*) AS DOUBLE) AS c
      |  FROM re, range(1, 65) t(d) GROUP BY cell, d),
      |rec AS (
      |  SELECT cell, list_transform(
      |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c)
      |    AS recentered
      |  FROM rdim GROUP BY cell),
      |bef AS (SELECT label AS cell, CAST(COUNT(*) AS BIGINT) AS n_before
      |  FROM members GROUP BY 1),
      |aft AS (
      |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_after,
      |    CAST(COUNT(*) FILTER (WHERE old_cell <> cell) AS BIGINT)
      |      AS n_in
      |  FROM re GROUP BY 1),
      |outf AS (
      |  SELECT old_cell AS cell,
      |    CAST(COUNT(*) FILTER (WHERE old_cell <> cell) AS BIGINT)
      |      AS n_out
      |  FROM re GROUP BY 1)
      |SELECT CAST(b.cell AS BIGINT) AS cell, b.n_before,
      |  COALESCE(a.n_after, 0) AS n_after,
      |  COALESCE(a.n_in, 0) AS n_in,
      |  COALESCE(o.n_out, 0) AS n_out,
      |  CASE WHEN r.recentered IS NOT NULL THEN
      |    FLOOR(list_sum(list_transform(range(1, 65),
      |      i -> (u.centroid[i] - r.recentered[i])
      |        * (u.centroid[i] - r.recentered[i]))) * 10000.0 + 0.5)
      |      / 10000.0 END AS recenter_shift
      |FROM bef b
      |LEFT JOIN aft a USING (cell)
      |LEFT JOIN outf o USING (cell)
      |JOIN upd u ON u.cell = b.cell
      |LEFT JOIN rec r ON r.cell = b.cell
      |ORDER BY b.cell""".stripMargin

  // --------------------------------------------------------------- #101
  /** #101 Lloyd k-means, fixed 2 iterations, k=8 (the training loop
    * behind the IVF coarse quantizer #55 — run it and the cells stop
    * being the label column and become learned). Seeds are the k
    * smallest vec_ids (deterministic); assignment is an argmin over a
    * BROADCAST k-row centroid table (min(struct(dist, cid)) — partial
    * aggregable, ties break on cid); the update is the IVF machinery:
    * decimal-exact per-dimension means via posexplode + groupBy, so
    * centroids are reduction-order-independent and every downstream
    * distance is bit-stable cross-engine.
    *
    * Scale: per iteration, the corpus is scanned once, the argmin is
    * map-side (k×dims broadcast ≤ a few KB), and the only shuffle is
    * the (k×dims)-keyed centroid agg — cost O(n·k·dims) compute,
    * O(k·dims) shuffle rows. A fixed iteration count unrolls into one
    * declarative plan; an open-ended convergence loop would add the
    * persist + localCheckpoint pattern (see Graph.graphPagerank notes).
    */
  def kmeansLloyd(spark: SparkSession, dir: String): DataFrame = {
    // r12: the default-geometry learned partition is materialized once
    // per (dir) per JVM — the 2-iteration unrolled Lloyd plan nests
    // every prior iteration under each broadcast, and TWO registered
    // queries consume the identical table (#101 itself and #239
    // ann_ivf_balance, which audits this exact partition).
    val plan = kmeansLloyd(spark, dir, k = 8, iters = 2)
    val path = LayoutCache.getOrWrite("kmeans_assign_8_2", dir) { tmp =>
      plan.write.mode("overwrite").parquet(tmp)
    }
    spark.read.schema(plan.schema).parquet(path).orderBy("vec_id")
  }

  def kmeansLloyd(spark: SparkSession, dir: String, k: Int,
      iters: Int): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val c0 = v.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"),
        expr("transform(embedding, x -> cast(x as double))").as("carr"))
    def assign(c: DataFrame): DataFrame = v.crossJoin(broadcast(c))
      .withColumn("dist", expr(
        """aggregate(zip_with(embedding, carr,
          |  (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),
          |  0D, (a, t) -> a + t)""".stripMargin))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
    def update(a: DataFrame): DataFrame = a.join(v, "vec_id")
      .select(col("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("cid", "d")
      .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1)))
        .cast("double").as("c"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)")
        .as("carr"))
    var c = c0
    for (_ <- 1 to iters) c = update(assign(c))
    assign(c)
      .select(col("vec_id"), col("cid").as("cluster_id"),
        r4(col("dist")).as("dist2"))
      .orderBy("vec_id")
  }

  /** Oracle mirror: same seeds, same decimal means, same argmin with
    * the same (dist, cid) tie-break, unrolled to the same depth.
    */
  val kmeansLloydSql: String = {
    def assignSql(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, (min({'d': dist, 'c': cid})).c AS cid,
         |    (min({'d': dist, 'c': cid})).d AS dist
         |  FROM (
         |    SELECT v.vec_id, c.cid,
         |      list_sum(list_transform(range(1, 65),
         |        i -> (v.e[i] - c.carr[i]) * (v.e[i] - c.carr[i]))) AS dist
         |    FROM v CROSS JOIN $cents c)
         |  GROUP BY vec_id)""".stripMargin
    def updateSql(asg: String, out: String) =
      s"""$out AS (
         |  SELECT cid, list_transform(
         |    list_sort(list(struct_pack(d := d, c := c))), s -> s.c) AS carr
         |  FROM (
         |    SELECT $asg.cid, d,
         |      CAST(SUM(CAST(v.e[d] AS DECIMAL(28,12))) / COUNT(*) AS DOUBLE)
         |        AS c
         |    FROM $asg JOIN v USING (vec_id), range(1, 65) t(d)
         |    GROUP BY $asg.cid, d)
         |  GROUP BY cid)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, e AS carr FROM v ORDER BY vec_id LIMIT 8),
       |${assignSql("c0", "a0")},
       |${updateSql("a0", "c1")},
       |${assignSql("c1", "a1")},
       |${updateSql("a1", "c2")},
       |${assignSql("c2", "a2")}
       |SELECT vec_id, cid AS cluster_id,
       |  FLOOR(dist * 10000.0 + 0.5) / 10000.0 AS dist2
       |FROM a2 ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------- #107
  /** #107 product-quantization ANN (ADC form): the 64-dim space splits
    * into m=2 subspaces; each gets a 16-centroid codebook (seeds = the
    * 16 smallest vec_ids' subvectors, one decimal-exact Lloyd update —
    * the #101 machinery per subspace); every corpus vector encodes as
    * m codebook ids (2 bytes here vs 256 float bytes — the memory
    * ratio that makes PQ the standard billion-scale index). A query
    * precomputes its m×16 distance TABLE to all centroids
    * (asymmetric distance computation), so scoring a corpus vector is
    * m table lookups + an add — never a float-vector op.
    *
    * Scale: codebooks and query tables are tiny broadcasts; the only
    * corpus-sized flows are the two argmin passes (map-side against
    * broadcast codebooks, k·d work per row) and the lookup join keyed
    * on (subspace, code) — 16·m keys, hash-partition-free via
    * broadcast. Exact cosine rides along on the emitted top-k only,
    * making recall observable (same pattern as SQ8 #84).
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPq(spark, dir, k = 5, m = 2, ksub = 16)

  /** Per-subspace split shared by the PQ family (#107/#167/#212). */
  private def pqSubspaces(df: DataFrame, idCol: String, vecCol: String,
      out: String, m: Int): DataFrame = {
    val subLen = 64 / m
    (0 until m).map { s =>
      df.select(col(idCol), lit(s).as("s"),
        expr(s"transform(slice($vecCol, ${s * subLen + 1}, $subLen), " +
          "x -> cast(x as double))").as(out))
    }.reduce(_ union _)
  }

  private def pqSqDist(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "0D, (acc, t) -> acc + t)")

  /** PQ model shared by #107 and #212: (cent, coded). `cent` is the
    * one-Lloyd-step codebook per subspace; `coded` carries every
    * vector's per-subspace code AND its quantization distortion (the
    * argmin squared distance — free at assignment time, and exactly
    * what #212 audits).
    */
  private[operators] def pqModel(spark: SparkSession, dir: String,
      m: Int, ksub: Int): (DataFrame, DataFrame) = {
    require(64 % m == 0, s"m must divide 64, got $m")
    val v = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val parts = pqSubspaces(v, "vec_id", "embedding", "sv", m)
    val seedC = parts.where(col("vec_id") < ksub)
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("cv"))
    def assign(cent: DataFrame): DataFrame = parts
      .join(broadcast(cent), "s")
      .withColumn("dist", pqSqDist("sv", "cv"))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("dist"), col("cid"))).as("mn"))
      .select(col("vec_id"), col("s"), col("mn.cid").as("cid"),
        col("mn.dist").as("dist"))
    // r12: codebook + code table materialized ONCE per (dir, m, ksub)
    // per JVM (LayoutCache; deterministic pure functions of the corpus).
    // Before, every consumer (#107 ann_pq, #167 ann_ivf_pq, #212
    // embed_pq_distortion, #260 embed_pq_usage) re-ran the seed-assign →
    // recenter → encode train pipeline — and ann_pq's own plan computed
    // `cent` twice (once under `coded`, once for the query ADC table).
    // Consumers read the small parquet back; the encode pass (the
    // corpus-sized argmin) runs once as the codedPlan write.
    val centPlan = assign(seedC).join(parts, Seq("vec_id", "s"))
      .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("d", "x")))
      .groupBy("s", "cid", "d")
      .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1)))
        .cast("double").as("c"))
      .groupBy("s", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(d, c))), " +
        "t -> t.c)").as("cv"))
    val centPath = LayoutCache.getOrWrite(s"pq_cent_${m}_$ksub", dir) {
      tmp => centPlan.write.mode("overwrite").parquet(tmp)
    }
    val cent = spark.read.schema(centPlan.schema).parquet(centPath)
    val codedPlan = assign(cent)
    val codedPath = LayoutCache.getOrWrite(s"pq_coded_${m}_$ksub", dir) {
      tmp => codedPlan.write.mode("overwrite").parquet(tmp)
    }
    (cent, spark.read.schema(codedPlan.schema).parquet(codedPath))
  }

  def annPq(spark: SparkSession, dir: String, k: Int, m: Int,
      ksub: Int): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (cent, coded) = pqModel(spark, dir, m, ksub)
    val codes = coded.select("vec_id", "s", "cid")
    val sqDist = pqSqDist _
    val q = evalQueries(spark, dir)
    val table = pqSubspaces(q, "q_id", "q_emb", "qv", m)
      .join(broadcast(cent), "s")
      .withColumn("dq", sqDist("qv", "cv"))
      .select("q_id", "s", "cid", "dq")
    val approx = codes.join(broadcast(table), Seq("s", "cid"))
      .where(col("q_id") =!= col("vec_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("dq").cast("decimal(28,12)")).cast("double").as("approx"))
    val wRank = Window.partitionBy("q_id").orderBy(col("approx"),
      col("vec_id"))
    approx
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
      .join(v.select(col("vec_id"), col("embedding").as("c_emb")), "vec_id")
      .join(q, "q_id")
      .select(col("q_id"), col("rank"), col("vec_id").as("c_id"),
        r4(col("approx")).as("approx_dist"),
        r4(expr("cosine_f32(q_emb, c_emb)")).as("cosine_exact"))
      .orderBy("q_id", "rank")
  }

  /** Oracle mirror: same seeds, same single decimal-exact Lloyd update
    * per subspace, same encode/table/lookup arithmetic (every distance
    * is a sequential double fold; the 2-term ADC add goes through the
    * same decimal cast), same (approx, vec_id) ranking.
    */
  /** SQL mirror of [[pqModel]] (m=2, ksub=16) as shared CTEs ending in
    * `coded(vec_id, s, cid, dist)` — used by #107 and #212. NOTE: no
    * line here may start with whitespace + `|` (embedders stripMargin
    * after interpolation).
    */
  private[operators] val pqCtes: String =
    """v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS norm
      |  FROM embeddings),
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
      |coded AS (
      |  SELECT vec_id, s, (min({'d': dist, 'c': cid})).c AS cid,
      |    (min({'d': dist, 'c': cid})).d AS dist FROM (
      |    SELECT p.vec_id, p.s, c.cid,
      |      list_sum(list_transform(range(1, 33),
      |        i -> (p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i]))) AS dist
      |    FROM parts p JOIN cent c ON p.s = c.s)
      |  GROUP BY vec_id, s)""".stripMargin

  val annPqSql: String =
    s"""WITH $pqCtes,
      |codes AS (SELECT vec_id, s, cid FROM coded),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
      |      FROM v WHERE vec_id % 50 = 0 AND vec_id < 1000000),
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
      |approx AS (
      |  SELECT t.q_id, codes.vec_id,
      |    CAST(SUM(CAST(t.dq AS DECIMAL(28,12))) AS DOUBLE) AS approx
      |  FROM codes JOIN tbl t ON codes.s = t.s AND codes.cid = t.cid
      |  WHERE t.q_id <> codes.vec_id
      |  GROUP BY t.q_id, codes.vec_id),
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

  val oracles: Map[String, String] = Map(
    "embed_jl_project" -> embedJlProjectSql,
    "sample_coreset" -> sampleCoresetSql,
    "embed_outliers" -> embedOutliersSql,
    "embed_dispersion" -> embedDispersionSql,
    "ann_pq" -> annPqSql,
    "kmeans_lloyd" -> kmeansLloydSql,
    "ann_bruteforce" -> annBruteforceSql,
    "ann_lsh" -> annLshSql,
    "ann_ivf" -> annIvfSql,
    "ann_sq8" -> annSq8Sql,
    "ann_multiprobe" -> annMultiprobeSql,
    "ann_knn_graph" -> annKnnGraphSql,
    "ann_ivf_incremental" -> annIvfIncrementalSql,
    "ann_ivf_recluster" -> annIvfReclusterSql)
}
