package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Round-8 extensions (SURVEY.md §2 #160-164): the data-SELECTION layer
  * of a training pipeline — scoring and choosing WHICH documents to
  * train on, after the earlier families cleaned and deduplicated them:
  *
  *  - `text_perplexity`: per-document cross-entropy under a corpus
  *    add-one-smoothed bigram LM — the CCNet-style LM quality signal.
  *  - `corpus_quality_buckets`: the head/middle/tail tertile readout
  *    over those scores (CCNet's bucketing, Wenzek et al. 2020).
  *  - `corpus_dsir_weights`: importance weights for target-domain
  *    selection — likelihood ratio of a target-corpus bigram model vs
  *    the raw-corpus model (the DSIR recipe, Xie et al. 2023, with a
  *    rational per-feature score instead of hashed log-ratios).
  *  - `graph_lpa`: fixed-k synchronous label-propagation communities
  *    over the co-purchase graph (Raghavan et al. 2007) — the
  *    coarse-grained sibling of #152's connected components.
  *  - `embed_pca_power`: first principal direction of the embedding
  *    cloud by fixed-k power iteration, computed as map-side
  *    matrix-vector products — the spectral summary (dominant
  *    direction + per-vector projection) a curation pipeline reads
  *    before whitening or diversity-sampling embeddings.
  *
  * Cross-engine exactness: no float logs anywhere. Perplexity uses the
  * INTEGER-BITS surprisal floor(log2((c1+V) div (c12+1))) computed as
  * `length(bin(k)) - 1` — pure integer arithmetic, bit-identical in
  * both engines and within 1 bit of the real add-one surprisal (the
  * monotone detail that matters for ranking/filtering survives; see
  * the operator docs). DSIR scores are ONE IEEE division of two exact
  * integer cross-products, r4'd. PCA runs every reduction through
  * DECIMAL(38,18) casts (the sumDec contract), so the iterate — and
  * hence the projections — are bit-identical across engines.
  *
  * Scale design (100 TB):
  *  - The bigram LM and vocabulary tables are corpus-STATISTICS-sized
  *    (bounded by vocabulary², floored well below that by observed
  *    bigrams), not corpus-sized: they broadcast under the
  *    `maybeBroadcast` gate, and past the gate the attach is a plain
  *    equi-join shuffle on the bigram key.
  *  - Per-doc scoring streams map-side after that one attach; the
  *    per-doc aggregate has map-side combine.
  *  - LPA iterations shuffle the structure-sized edge list k times —
  *    the #99/#152 iteration shape (support-floored edges, fixed k).
  *  - Power iteration is the allreduce shape: each executor emits ≤ dim
  *    partial decimal sums per stage (map-side combine over a
  *    dim-bounded key space), so the per-iteration shuffle volume is
  *    O(dim × partitions) regardless of row count.
  */
object Frontier {

  // ------------------------------------------------------------ shared
  /** Per-document integer-bits bigram surprisal under the corpus
    * add-one LM. Returns (doc_id, n_bigrams, bits_total,
    * bits_per_bigram) — one row per document with ≥ 2 tokens.
    *
    * The LM: c12 = corpus count of bigram (w1,w2), c1 = corpus count of
    * context w1 (= Σ_w2 c12 over observed bigrams), V = unigram
    * vocabulary size. Add-one probability is (c12+1)/(c1+V); the
    * per-bigram surprisal is approximated by the INTEGER
    * floor(log2((c1+V) div (c12+1))) = length(bin(k)) - 1, exact in
    * both engines ((c1+V) ≥ (c12+1) always, so k ≥ 1). bits_total and
    * n_bigrams are exact integers; their ratio is the ONE IEEE division
    * (r4'd).
    */
  private[operators] def docSurprisal(spark: SparkSession,
      dir: String): DataFrame = {
    // r12: materialized once per (dir) per JVM — shared by #160
    // text_perplexity and #161 corpus_quality_buckets, each of which
    // previously re-ran the bigram-LM build + per-doc scoring.
    LayoutCache.table("doc_surprisal", dir)(docSurprisalPlan(spark, dir))
  }

  private def docSurprisalPlan(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bigrams = toks
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1,
          |              element_at(toks, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val lm = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
    // unigram vocabulary as a 1-row aggregate cross-joined in (the
    // textTfidf pattern — keeps the whole query one plan, no driver job)
    val vocab = toks.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bigrams
      .join(Tables.maybeBroadcast(lm), Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        (length(bin(expr("(c1 + v) div (c12 + 1)"))) - lit(1))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("bits_total"))
      .select(col("doc_id"), col("n_bigrams"), col("bits_total"),
        r4(col("bits_total").cast("double") /
          col("n_bigrams").cast("double")).as("bits_per_bigram"))
  }

  /** Shared CTE prefix for the surprisal oracles (mirrors
    * [[docSurprisal]]; DuckDB's `//` is the integer division, its
    * `bin()` the binary-string rendering — `length(bin(k)) - 1` =
    * floor(log2(k)) exactly, as on the Spark side).
    */
  private val surprisalCtes: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(toks[1:len(toks) - 1]) AS w1,
      |    unnest(toks[2:len(toks)]) AS w2
      |  FROM tk WHERE len(toks) >= 2),
      |lm0 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      |lm AS (
      |  SELECT w1, w2, c12, SUM(c12) OVER (PARTITION BY w1) AS c1
      |  FROM lm0),
      |vc AS (
      |  SELECT COUNT(DISTINCT tok) AS v
      |  FROM (SELECT unnest(toks) AS tok FROM tk)),
      |sp AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |    CAST(SUM(length(bin((c1 + v) // (c12 + 1))) - 1) AS BIGINT)
      |      AS bits_total
      |  FROM bg JOIN lm USING (w1, w2), vc GROUP BY doc_id),
      |ds AS (
      |  SELECT doc_id, n_bigrams, bits_total,
      |    FLOOR((CAST(bits_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
      |      * 10000.0 + 0.5) / 10000.0 AS bits_per_bigram
      |  FROM sp)""".stripMargin

  // --------------------------------------------------------------- #160
  /** #160 per-document LM perplexity score (integer-bits cross-entropy
    * under the corpus add-one bigram model) — the CCNet-style quality
    * signal: low bits-per-bigram = fluent, in-distribution text; high =
    * rare/garbled transitions. See [[docSurprisal]] for the exactness
    * contract.
    */
  def textPerplexity(spark: SparkSession, dir: String): DataFrame =
    docSurprisal(spark, dir).orderBy("doc_id")

  val textPerplexitySql: String =
    s"""WITH $surprisalCtes
       |SELECT doc_id, n_bigrams, bits_total, bits_per_bigram
       |FROM ds ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #161
  /** #161 CCNet head/middle/tail quality buckets: tertiles of the #160
    * score (ascending — head = most fluent third), with per-bucket
    * volume stats. The tertile split is ntile(3) over the TOTAL order
    * (bits_per_bigram, doc_id), so bucket assignment is deterministic
    * in both engines. The readout a mixture designer consumes when
    * deciding how much tail to keep.
    */
  def corpusQualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("bits_per_bigram"), col("doc_id"))
    docSurprisal(spark, dir)
      .withColumn("bucket", ntile(3).over(w).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("sum_bigrams"),
        min(col("bits_per_bigram")).as("min_bits"),
        max(col("bits_per_bigram")).as("max_bits"))
      .orderBy("bucket")
  }

  val corpusQualityBucketsSql: String =
    s"""WITH $surprisalCtes,
       |bk AS (
       |  SELECT doc_id, n_bigrams, bits_per_bigram,
       |    CAST(NTILE(3) OVER (ORDER BY bits_per_bigram, doc_id) AS BIGINT)
       |      AS bucket
       |  FROM ds)
       |SELECT bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
       |  MIN(bits_per_bigram) AS min_bits,
       |  MAX(bits_per_bigram) AS max_bits
       |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- #162
  /** #162 DSIR-style importance weights for target-domain selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score raw documents by how much more
    * likely their features are under a TARGET corpus model (here: the
    * `lang = 'en'` slice) than under the RAW corpus model. Features are
    * word bigrams (DSIR hashes them only to bound memory; the observed-
    * bigram table is already vocabulary-bounded here). Per feature the
    * add-one likelihood ratio
    *   ((t12+1)/(T+B)) / ((r12+1)/(R+B))
    * is computed as ONE IEEE division of two exact integer
    * cross-products (factors pushed through DECIMAL(19,0)×DECIMAL(19,0)
    * so the products stay exact at any corpus size); the per-document
    * weight is the r4-grid decimal mean of those ratios. Monotone in
    * the true DSIR log-weight for the dominant single-feature case and
    * rank-faithful in practice — and bit-identical across engines,
    * which the hashed log-sum is not.
    */
  def corpusDsirWeights(spark: SparkSession, dir: String,
      targetLang: String = "en"): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val bigrams = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1,
          |              element_at(toks, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val rawLm = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("r12"))
    val tgtLm = bigrams.where(col("lang") === targetLang)
      .groupBy("w1", "w2").agg(count(lit(1)).as("t12"))
    // corpus totals as a 1-row broadcast: R/T = total bigram tokens in
    // raw/target, B = observed raw bigram vocabulary (the smoothing
    // denominator on both sides)
    val totals = rawLm.agg(sum(col("r12")).as("rr"),
      count(lit(1)).as("b"))
      .crossJoin(tgtLm.agg(sum(col("t12")).as("tt")))
    val lm = rawLm
      .join(tgtLm, Seq("w1", "w2"), "left")
      .na.fill(0L, Seq("t12"))
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    bigrams
      .join(Tables.maybeBroadcast(lm), Seq("w1", "w2"))
      .crossJoin(broadcast(totals))
      .withColumn("lr", r4(
        (dec(col("t12") + lit(1L)) * dec(col("rr") + col("b")))
          .cast("double") /
        (dec(col("r12") + lit(1L)) * dec(col("tt") + col("b")))
          .cast("double")))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        sumDec(col("lr"), 38, 4).as("lr_sum"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        r4(col("lr_sum") / col("n_bigrams").cast("double"))
          .as("dsir_weight"))
      .orderBy("doc_id")
  }

  def corpusDsirWeightsSql(targetLang: String = "en"): String =
    s"""WITH tk AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang, unnest(toks[1:len(toks) - 1]) AS w1,
       |    unnest(toks[2:len(toks)]) AS w2
       |  FROM tk WHERE len(toks) >= 2),
       |raw AS (SELECT w1, w2, COUNT(*) AS r12 FROM bg GROUP BY 1, 2),
       |tgt AS (
       |  SELECT w1, w2, COUNT(*) AS t12 FROM bg
       |  WHERE lang = '$targetLang' GROUP BY 1, 2),
       |tot AS (
       |  SELECT (SELECT SUM(r12) FROM raw) AS rr,
       |    (SELECT COUNT(*) FROM raw) AS b,
       |    (SELECT SUM(t12) FROM tgt) AS tt),
       |lm AS (
       |  SELECT raw.w1, raw.w2, raw.r12, COALESCE(tgt.t12, 0) AS t12
       |  FROM raw LEFT JOIN tgt USING (w1, w2)),
       |sc AS (
       |  SELECT doc_id, lang,
       |    ${r4Sql("""CAST(CAST(t12 + 1 AS DECIMAL(19,0))
       |        * CAST(rr + b AS DECIMAL(19,0)) AS DOUBLE)
       |      / CAST(CAST(r12 + 1 AS DECIMAL(19,0))
       |        * CAST(tt + b AS DECIMAL(19,0)) AS DOUBLE)""")} AS lr
       |  FROM bg JOIN lm USING (w1, w2), tot),
       |agg AS (
       |  SELECT doc_id, lang, COUNT(*) AS n_bigrams,
       |    ${sumDecSql("lr", 38, 4)} AS lr_sum
       |  FROM sc GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_bigrams,
       |  ${r4Sql("lr_sum / CAST(n_bigrams AS DOUBLE)")} AS dsir_weight
       |FROM agg ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #163
  /** #163 fixed-k synchronous label propagation (Raghavan et al. 2007)
    * over the co-purchase graph: labels start as node ids; each
    * iteration every node adopts its neighbors' most frequent label,
    * ties broken by the SMALLEST label — both rules integer-exact, so
    * the fixed-iteration result is engine-identical (no convergence
    * test, k = 3). Communities are finer than #152's connected
    * components (a bridge edge joins components but rarely flips a
    * majority) — the granularity a catalog wants for "related product
    * groups" vs "reachable at all".
    */
  /** Just the final (id, lbl) LPA assignment — the piece #198's
    * modularity scoring consumes without #163's sizes join and sort.
    */
  private[operators] def lpaLabels(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val und = Graph.undirected(spark, dir)
    val edges = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to k) {
      val counts = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("id").orderBy(desc("c"), col("lbl"))
      labels = counts
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("id", "lbl")
    }
    labels
  }

  def graphLpa(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val labels = lpaLabels(spark, dir, k)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels
      .join(sizes, "lbl")
      .select(col("id").as("node_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy("node_id")
  }

  /** The l0..lk label-propagation CTE chain (after `e`), shared with
    * #198's modularity scoring. Final labels live in CTE `l<k>`.
    */
  private[operators] def lpaLabelCtes(k: Int): String = {
    val iters = (1 to k).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS id, $prev.lbl, COUNT(*) AS c
         |  FROM e JOIN $prev ON e.src = $prev.id GROUP BY 1, 2),
         |l$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, ROW_NUMBER() OVER (
         |      PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
       |$iters""".stripMargin
  }

  def graphLpaSql(k: Int = 3): String = {
    s"""WITH ${Graph.edgeSql},
       |${lpaLabelCtes(k)},
       |sz AS (SELECT lbl, COUNT(*) AS community_size FROM l$k GROUP BY lbl)
       |SELECT l$k.id AS node_id, l$k.lbl AS community, sz.community_size
       |FROM l$k JOIN sz USING (lbl) ORDER BY node_id""".stripMargin
  }

  // --------------------------------------------------------------- #164
  /** #164 first principal direction of the embedding cloud by fixed-k
    * power iteration, v_{i+1} = normalize(Xᵀ(X v_i)), v_0 = 1⃗ —
    * returning each vector's projection onto the dominant direction
    * (the 1-D spectral summary curation reads for diversity sampling /
    * whitening decisions; k = 3 fixed, no convergence test).
    *
    * Exactness: every reduction (the per-row dot, the per-component
    * re-sum, the norm) runs through DECIMAL(38,18) (sumDec), so the
    * iterate is BIT-IDENTICAL across engines — the only IEEE steps
    * (double products, one sqrt, one division per component) are
    * exact-rounded deterministic operations on identical inputs.
    * Uncentered PCA on purpose: centering subtracts the mean vector,
    * which is itself a fragile cross-engine reduction, and the dominant
    * direction of raw embedding clouds is what curation actually
    * probes.
    *
    * Scale: X is touched once per iteration as a streaming map-side
    * pass; each stage reduces to ≤ dim keys with map-side combine, so
    * shuffle volume per iteration is O(dim × partitions) — the
    * allreduce shape — regardless of row count. The exploded (row,
    * component) table is persisted once in a bounded slot and reused
    * across the 2k+1 passes.
    */
  def embedPcaPower(spark: SparkSession, dir: String, k: Int = 3)
      : DataFrame = {
    // r12 restructure (guide §2.3/§2.4: shuffle dim-sized rows, not an
    // exploded 64× row table). The old shape persisted the exploded
    // (vec_id, j, x) table and, per iteration, shuffled it TWICE — a
    // groupBy(vec_id) under a broadcast-join with v, then a join back
    // by vec_id for the w reduction. But the per-row dot ⟨x, v⟩ needs
    // no shuffle at all once v is a collected dim-sized literal: it is
    // a map-side decimal-exact fold over the embedding array, and the
    // w_j reduction is one posexplode + dim-keyed aggregate (map-side
    // combined, O(dim × partitions) shuffle — the allreduce shape).
    // Exactness is unchanged: each product is cast to scale-18 decimal
    // and summed in exact decimal arithmetic exactly as sumDec did —
    // the fold keeps (30,18)/(25,18) operand types so no DecimalPrecision
    // scale reduction ever applies (max magnitudes here are ≤ 10⁴; the
    // guard digits are enormous) — and the final decimal→double cast is
    // the same rounding. The per-iteration norm/divide runs over the
    // COLLECTED w as a literal 64-row frame with the identical sumDec/
    // sqrt/divide expressions, so every emitted double is bit-identical
    // to the old plan's.
    val base = Tables.spread(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
    val sp = base.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.types.DecimalType
    // typedlit (not a SQL string) so degenerate iterates (NaN/Infinity
    // from an all-zero corpus) stay well-formed literals
    def dotFold(vOpt: Option[Seq[(Int, Double)]]): Column = {
      val prod = vOpt match {
        case Some(vSeq) => zip_with(col("e"),
          typedlit(vSeq.sortBy(_._1).map(_._2)), (x, vv) => x * vv)
        case None => col("e") // v₀ = 1.0 everywhere: x * 1.0 == x
      }
      aggregate(prod, lit(BigDecimal(0)).cast(DecimalType(30, 18)),
        (acc, p) => (acc + p.cast(DecimalType(25, 18)))
          .cast(DecimalType(30, 18))).cast("double")
    }
    var v: Option[Seq[(Int, Double)]] = None
    for (_ <- 1 to k) {
      val w = base
        .withColumn("dot", dotFold(v))
        .select(posexplode(col("e")).as(Seq("p", "x")), col("dot"))
        .select((col("p") + lit(1)).as("j"), (col("x") * col("dot")).as("xd"))
        .groupBy("j")
        .agg(sumDec(col("xd"), 38, 18).as("w"))
      // dim-sized: collect, then run the norm + divide over the literal
      // rows with the same engine expressions as before
      val wLit = w.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
        .toDF("j", "w")
      val nrm = wLit.agg(sqrt(sumDec(col("w") * col("w"), 38, 18)).as("nrm"))
      v = Some(wLit.crossJoin(broadcast(nrm))
        .select(col("j"), (col("w") / col("nrm")).as("v"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq)
    }
    base
      .withColumn("proj", dotFold(v))
      .select(col("vec_id"), r4(col("proj")).as("pc1_proj"))
      .orderBy("vec_id")
  }

  def embedPcaPowerSql(k: Int = 3): String = {
    val iters = (1 to k).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""d$i AS (
         |  SELECT vec_id, ${sumDecSql("x * v", 38, 18)} AS dot
         |  FROM ex JOIN $prev USING (j) GROUP BY vec_id),
         |w$i AS (
         |  SELECT j, ${sumDecSql("x * dot", 38, 18)} AS w
         |  FROM ex JOIN d$i USING (vec_id) GROUP BY j),
         |n$i AS (SELECT SQRT(${sumDecSql("w * w", 38, 18)}) AS nrm
         |  FROM w$i),
         |v$i AS (SELECT j, w / nrm AS v FROM w$i, n$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ex AS (
       |  SELECT vec_id, j, embedding[j]::DOUBLE AS x
       |  FROM (SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS j FROM embeddings)),
       |v0 AS (SELECT DISTINCT j, 1.0 AS v FROM ex),
       |$iters,
       |pr AS (
       |  SELECT vec_id, ${sumDecSql("x * v", 38, 18)} AS proj
       |  FROM ex JOIN v$k USING (j) GROUP BY vec_id)
       |SELECT vec_id, ${r4Sql("proj")} AS pc1_proj
       |FROM pr ORDER BY vec_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_perplexity" -> (textPerplexity _),
    "corpus_quality_buckets" -> (corpusQualityBuckets _),
    "corpus_dsir_weights" ->
      ((s: SparkSession, d: String) => corpusDsirWeights(s, d)),
    "graph_lpa" -> ((s: SparkSession, d: String) => graphLpa(s, d)),
    "embed_pca_power" ->
      ((s: SparkSession, d: String) => embedPcaPower(s, d)))

  val oracles: Map[String, String] = Map(
    "text_perplexity" -> textPerplexitySql,
    "corpus_quality_buckets" -> corpusQualityBucketsSql,
    "corpus_dsir_weights" -> corpusDsirWeightsSql(),
    "graph_lpa" -> graphLpaSql(),
    "embed_pca_power" -> embedPcaPowerSql())
}
