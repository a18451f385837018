package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.Exprs.{r4, r4Sql}

/** Round-12 widening (SURVEY.md §2 #249+): the last two TPC-H patterns
  * the inventory lacked (the global-scalar-threshold HAVING of Q11 and
  * the distinct-count-with-exclusion of Q16), the tolerance-bounded
  * as-of join, the two production ANN serving shapes (metadata-filtered
  * search and two-stage quantized-shortlist → exact-rerank), sketch
  * mergeability as a first-class result, per-user burstiness, the
  * filter-rule redundancy matrix, and CUSUM drift detection.
  *
  * Reference grounding: the relational reads extend the catalog
  * discovery surface over the indexed star schema (the reference
  * indexes job outputs for exactly this downstream analytics,
  * reactor.py:147-218); the ANN/sketch/burstiness operators extend the
  * training-data curation families (§2 #26-39) with the shapes a
  * serving/QC stack adds around them.
  *
  * Cross-engine exactness (the repo-wide contract): aggregates are
  * exact int64/decimal sums; every threshold is compared in integer or
  * decimal space (never on a derived float); each emitted ratio is ONE
  * r4'd IEEE op block over exact inputs; order statistics and top-k
  * are selected by total-order ranking keys.
  */
object Pinnacle {

  // --------------------------------------------------------------- #249
  /** #249 TPC-H Q11 (important stock), adapted to the schema at hand
    * (no partsupp table — lineitem is the supply ledger): per-part
    * supplied value from one nation's suppliers, keeping parts whose
    * value exceeds 1/1000 of that nation's total. The signature
    * pattern is the GLOBAL-SCALAR THRESHOLD: a one-row aggregate
    * joined back against the grouped table — Spark-first this is a
    * broadcast of the single-row total, never a second scan pass.
    *
    * Exactness: the threshold compares `value_dec * 1000 > total_dec`
    * in decimal space — the fraction never becomes a float, so the
    * cut is bit-identical across engines.
    *
    * Scale: dims (supplier⋈nation) broadcast; one shuffle on partkey
    * with map-side combine; the total is a 1-row broadcast. 100 TB:
    * identical shape — the grouped table is |parts|-sized.
    */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables(spark, dir, "supplier")
      .join(Tables(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .where(col("n_name") === "NATION_3")
      .select("s_suppkey")
    val v = Tables(spark, dir, "lineitem")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(22, 6))).as("value_dec"))
    val total = v.agg(sum(col("value_dec")).as("total_dec"))
    v.crossJoin(broadcast(total))
      .where(col("value_dec") * 1000 > col("total_dec"))
      .select(col("l_partkey"),
        col("value_dec").cast("double").as("value"))
      .orderBy(desc("value"), col("l_partkey"))
  }

  val q11ImportantStockSql: String =
    """WITH supp AS (
      |  SELECT s_suppkey FROM supplier JOIN nation
      |    ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3'),
      |v AS (
      |  SELECT l_partkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
      |      AS value_dec
      |  FROM lineitem JOIN supp ON l_suppkey = s_suppkey
      |  GROUP BY l_partkey),
      |t AS (SELECT SUM(value_dec) AS total_dec FROM v)
      |SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
      |FROM v, t WHERE value_dec * 1000 > total_dec
      |ORDER BY value DESC, l_partkey""".stripMargin

  // --------------------------------------------------------------- #250
  /** #250 TPC-H Q16 (parts/supplier relationship), adapted: how many
    * distinct suppliers can provide each qualifying (brand, type,
    * size) bucket, excluding flagged suppliers (negative account
    * balance stands in for Q16's complaint filter — the schema has no
    * comment column). The signature pattern is DISTINCT-COUNT WITH
    * EXCLUSION: a derived distinct pair table, an anti-join against
    * the exclusion list, then countDistinct per attribute group.
    *
    * Scale: the (part, supplier) relationship derives from lineitem
    * via one distinct (keyed shuffle, map-side combine); the exclusion
    * list is a tiny broadcast anti-join; part is a broadcast dim. The
    * group space is attribute-bounded (≤ |brands|·|types|·|sizes|).
    */
  def q16PartsSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rel = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey").distinct()
    val excl = Tables(spark, dir, "supplier")
      .where(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables(spark, dir, "part")
      .where(col("p_brand") =!= "Brand#3" &&
        !col("p_type").like("ECO%") &&
        col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    rel.join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q16PartsSupplierSql: String =
    """WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ok AS (
      |  SELECT l_partkey, l_suppkey FROM rel
      |  WHERE l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      |SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM ok JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'ECO%'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // --------------------------------------------------------------- #251
  /** #251 tolerance-bounded as-of join (#10 with the merge_asof
    * `tolerance` contract): each purchase matches the latest
    * same-user view AT MOST 24 hours old — a stale quote is no
    * quote. Same single-shuffle union-window device as #10 (no
    * purchase×view pair blow-up); the tolerance is a residual filter
    * on the picked row, and the gap rides along for audit.
    */
  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 86400000000L
    val ev = Tables.eventsUs(spark, dir)
      .where(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("tag"),
        when(col("event_type") === "view", col("event_id")).as("vid"),
        when(col("event_type") === "view", col("ts_us")).as("vts"))
    val w = Window.partitionBy("user_id")
      .orderBy("ts_us", "tag", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("view_event_id",
        last(col("vid"), ignoreNulls = true).over(w))
      .withColumn("view_ts_us", last(col("vts"), ignoreNulls = true).over(w))
      .where(col("tag") === 1 && col("view_event_id").isNotNull &&
        col("ts_us") - col("view_ts_us") <= tolUs)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("view_event_id"), col("view_ts_us"),
        (col("ts_us") - col("view_ts_us")).as("gap_us"))
      .orderBy("event_id")
  }

  val joinAsofToleranceSql: String =
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
      |    LAST_VALUE(vid IGNORE NULLS) OVER win AS view_event_id,
      |    LAST_VALUE(vts IGNORE NULLS) OVER win AS view_ts_us
      |  FROM u
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, tag, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, ts_us, view_event_id, view_ts_us,
      |  ts_us - view_ts_us AS gap_us
      |FROM w WHERE tag = 1 AND view_event_id IS NOT NULL
      |  AND ts_us - view_ts_us <= 86400000000
      |ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- #252
  /** #252 metadata-filtered ANN (the tenant/attribute-scoped vector
    * search every serving stack needs): each query retrieves its top-3
    * exact-cosine neighbors FROM ITS OWN LABEL PARTITION only. The
    * filter is an equi-join on the label — Spark co-partitions
    * candidates by label instead of post-filtering a global top-k
    * (which under-fills when the filter is selective: a global top-3
    * then label-filter can return < 3 same-label hits; this returns
    * exactly the label-local top-3).
    *
    * Scale: per-query candidate work drops from |corpus| to
    * |corpus|/|labels|; queries ride the same bounded eval-horizon
    * broadcast as #32. At cluster width a label-bucketed layout (#108)
    * makes the label filter a partition-pruned scan.
    */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    val q = v.where(col("vec_id") % 50 === 0 && col("vec_id") < 1000000L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine_raw"), col("c_id"))
    v.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("label"))
      .join(broadcast(q), "label")
      .where(col("c_id") =!= col("q_id"))
      .withColumn("cosine_raw", expr("cosine_f32(q_emb, c_emb)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("q_id"), col("label"), col("rank"), col("c_id"),
        r4(col("cosine_raw")).as("cosine"))
      .orderBy("q_id", "rank")
  }

  val annFilteredSql: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS norm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, q.label AS label, c.vec_id AS c_id,
      |    list_sum(list_transform(range(1, len(q.embedding) + 1),
      |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |      / (q.norm * c.norm) AS cosine_raw
      |  FROM v q JOIN v c ON q.label = c.label
      |    AND q.vec_id % 50 = 0 AND q.vec_id < 1000000
      |    AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT q_id, label, c_id, cosine_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
      |  FROM scored)
      |SELECT q_id, label, rank, c_id,
      |  FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- #253
  /** #253 two-stage retrieve-then-rerank (the production ANN serving
    * shape): stage 1 shortlists the top-20 per query by the CHEAP
    * SQ8 quantized dot product (#84's scorer — int8 arithmetic, 4×
    * less memory traffic); stage 2 computes the EXACT cosine only for
    * the 20 shortlisted candidates and re-ranks to the final top-5.
    * `rank_q` (the stage-1 position) rides along, so the output shows
    * the reordering the exact pass applied — the audit of what
    * quantization almost got wrong.
    *
    * Scale: stage 1 is the only corpus-sized pass (map-side against
    * the broadcast query set); stage 2 touches 20 rows per query.
    * That asymmetry — cheap wide pass, exact narrow pass — is the
    * whole point of the shape at 100 TB.
    */
  def annRerank(spark: SparkSession, dir: String): DataFrame = {
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
    val q = quantized
      .where(col("vec_id") % 50 === 0 && col("vec_id") < 1000000L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("qv").as("q_qv"), col("n2").as("q_n2"))
    val w1 = Window.partitionBy("q_id").orderBy(desc("qcos_raw"), col("vec_id"))
    val shortlist = quantized.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(q_qv, qv, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"))
      .withColumn("qcos_raw",
        when(col("q_n2") === 0L || col("n2") === 0L, lit(0.0))
          .otherwise(col("dot") / (sqrt(col("q_n2")) * sqrt(col("n2")))))
      .withColumn("rank_q", row_number().over(w1).cast("long"))
      .where(col("rank_q") <= 20)
    val w2 = Window.partitionBy("q_id").orderBy(desc("cos_exact"), col("vec_id"))
    shortlist
      .withColumn("cos_exact", expr("cosine_f32(q_emb, embedding)"))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("c_id"),
        r4(col("cos_exact")).as("cosine"), col("rank_q"))
      .orderBy("q_id", "rank")
  }

  val annRerankSql: String =
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
      |  FROM qn q JOIN qn c ON q.vec_id % 50 = 0 AND q.vec_id < 1000000
      |    AND q.vec_id <> c.vec_id),
      |shortlist AS (
      |  SELECT q_id, c_id, cos_raw, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY qcos_raw DESC, c_id) AS rank_q
      |  FROM scored QUALIFY rank_q <= 20),
      |reranked AS (
      |  SELECT q_id, c_id, cos_raw, rank_q, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cos_raw DESC, c_id) AS rank
      |  FROM shortlist)
      |SELECT q_id, rank, c_id,
      |  FLOOR(cos_raw * 10000.0 + 0.5) / 10000.0 AS cosine, rank_q
      |FROM reranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  // --------------------------------------------------------------- #254
  /** #254 KMV sketch MERGEABILITY as a first-class result (the algebra
    * that makes sketch aggregation distribute): a k=64 minimum-values
    * sketch of distinct users per event type, then the global union
    * estimated TWO ways — `union_merged` (k smallest of the per-type
    * sketches' union: touches only |types|·k sketch rows, the
    * re-aggregation path a rollup cube would take) and `union_direct`
    * (k smallest over the full distinct-user set). The two rows are
    * IDENTICAL (k-min of a union = k-min of the per-part k-mins —
    * spec-pinned), which is the lattice property that lets 1000
    * executors sketch independently and merge bounded state.
    *
    * Estimate: (k−1)/h₍ₖ₎ with h₍ₖ₎ the k-th minimum of the md5-hash
    * normalized to (0,1) — 15 hex digits / 2⁶⁰, exact in both
    * engines; scopes with fewer than k distinct hashes report their
    * exact count. Global k-mins use orderBy+limit (TakeOrdered — a
    * distributed partial top-k, never a single-partition window).
    */
  def aggSketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val k = 64
    val norm = math.pow(16.0, 15) // 2^60
    val hashed = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("hv",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
    val wT = Window.partitionBy("event_type").orderBy("hv", "user_id")
    val perTypeSketch = perTypeSketchOf(hashed, wT, k)
    val typeRows = perTypeSketch.groupBy(col("event_type").as("scope"))
      .agg(count(lit(1)).as("sketch_size"),
        max(when(col("rn") === k, col("hv"))).as("kth_hv"))
    val mergedRows = sketchRow(
      perTypeSketch.select("hv").distinct().orderBy("hv").limit(k),
      "union_merged", k)
    val directRows = sketchRow(
      hashed.select("hv").distinct().orderBy("hv").limit(k),
      "union_direct", k)
    typeRows.unionByName(mergedRows).unionByName(directRows)
      .withColumn("estimate",
        when(col("sketch_size") < k, col("sketch_size").cast("double"))
          .otherwise(r4(lit((k - 1).toDouble) / (col("kth_hv") / lit(norm)))))
      .orderBy("scope")
  }

  /** Rank-filtered per-type k-min rows (rn ≤ k within each type). */
  private def perTypeSketchOf(hashed: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec, k: Int): DataFrame =
    hashed.withColumn("rn", row_number().over(w)).where(col("rn") <= k)

  /** One (scope, sketch_size, kth_hv) row from a ≤k-row k-min table. */
  private def sketchRow(kmin: DataFrame, scope: String, k: Int): DataFrame =
    kmin.agg(count(lit(1)).as("sketch_size"), max("hv").as("kth_hv"))
      .select(lit(scope).as("scope"), col("sketch_size"),
        when(col("sketch_size") === k, col("kth_hv")).as("kth_hv"))

  val aggSketchUnionSql: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type, user_id,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |      ::UBIGINT AS BIGINT) AS hv
      |  FROM events),
      |pt AS (
      |  SELECT event_type, hv, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY hv, user_id) AS rn
      |  FROM h QUALIFY rn <= 64),
      |type_rows AS (
      |  SELECT event_type AS scope, CAST(COUNT(*) AS BIGINT) AS sketch_size,
      |    MAX(CASE WHEN rn = 64 THEN hv END) AS kth_hv
      |  FROM pt GROUP BY event_type),
      |mg AS (
      |  SELECT DISTINCT hv FROM pt ORDER BY hv LIMIT 64),
      |merged_row AS (
      |  SELECT 'union_merged' AS scope, CAST(COUNT(*) AS BIGINT)
      |      AS sketch_size,
      |    CASE WHEN COUNT(*) = 64 THEN MAX(hv) END AS kth_hv
      |  FROM mg),
      |dg AS (
      |  SELECT DISTINCT hv FROM h ORDER BY hv LIMIT 64),
      |direct_row AS (
      |  SELECT 'union_direct' AS scope, CAST(COUNT(*) AS BIGINT)
      |      AS sketch_size,
      |    CASE WHEN COUNT(*) = 64 THEN MAX(hv) END AS kth_hv
      |  FROM dg),
      |all_rows AS (
      |  SELECT * FROM type_rows UNION ALL
      |  SELECT * FROM merged_row UNION ALL
      |  SELECT * FROM direct_row)
      |SELECT scope, sketch_size, kth_hv,
      |  CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
      |    ELSE FLOOR(63.0 / (hv_norm) * 10000.0 + 0.5) / 10000.0 END
      |    AS estimate
      |FROM (SELECT *, kth_hv / 1152921504606846976.0 AS hv_norm
      |      FROM all_rows)
      |ORDER BY scope""".stripMargin

  // --------------------------------------------------------------- #255
  /** #255 per-user burstiness: the coefficient-of-variation² of a
    * user's inter-event gaps — CV² ≈ 1 is Poisson-like, ≫ 1 bursty
    * (sessions separated by silences), ≪ 1 metronomic (the bot
    * signature #154 thresholds on absolute rate; this is the
    * SHAPE-of-arrivals read). Per-entity complement of #224's
    * per-type profile — partitioned by user_id, so no low-cardinality
    * window ceiling.
    *
    * Exactness: CV² = (n·Σg² − (Σg)²)/(Σg)² from int64/decimal sums
    * (g² runs to ~10²⁴, so Σg² is DECIMAL(38,0)); the class
    * thresholds compare 2·num vs 3·den / 2·num vs den in decimal
    * space — never a float. Emitted mean and cv2 are ONE r4'd
    * division each.
    */
  def eventsBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gaps = Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("g", col("ts_us") - lag("ts_us", 1).over(w))
    val agg = gaps.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      count(col("g")).as("n_gaps"),
      sum(col("g")).as("sg"),
      sum(col("g").cast(DecimalType(38, 0)) *
        col("g").cast(DecimalType(38, 0))).as("sg2"))
      .where(col("n_gaps") >= 5)
    val num = (col("n_gaps").cast(DecimalType(38, 0)) * col("sg2") -
      col("sg").cast(DecimalType(38, 0)) * col("sg").cast(DecimalType(38, 0)))
    val den = col("sg").cast(DecimalType(38, 0)) *
      col("sg").cast(DecimalType(38, 0))
    agg
      .withColumn("num", num)
      .withColumn("den", den)
      .select(col("user_id"), col("n_events"), col("n_gaps"),
        r4(col("sg").cast("double") / col("n_gaps")).as("mean_gap_us"),
        r4(col("num").cast("double") / col("den").cast("double")).as("cv2"),
        when(col("num") * 2 > col("den") * 3, "bursty")
          .when(col("num") * 2 < col("den"), "regular")
          .otherwise("poisson_like").as("arrival_class"))
      .orderBy("user_id")
  }

  val eventsBurstinessSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
       |g AS (
       |  SELECT user_id,
       |    ts_us - LAG(ts_us) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS g
       |  FROM e),
       |a AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(COUNT(g) AS BIGINT) AS n_gaps, SUM(g) AS sg,
       |    SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))) AS sg2
       |  FROM g GROUP BY user_id HAVING COUNT(g) >= 5),
       |c AS (
       |  SELECT *,
       |    CAST(n_gaps AS DECIMAL(38,0)) * sg2 -
       |      CAST(sg AS DECIMAL(38,0)) * CAST(sg AS DECIMAL(38,0)) AS num,
       |    CAST(sg AS DECIMAL(38,0)) * CAST(sg AS DECIMAL(38,0)) AS den
       |  FROM a)
       |SELECT user_id, n_events, n_gaps,
       |  ${r4Sql("CAST(sg AS DOUBLE) / n_gaps")} AS mean_gap_us,
       |  ${r4Sql("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)")} AS cv2,
       |  CASE WHEN num * 2 > den * 3 THEN 'bursty'
       |       WHEN num * 2 < den THEN 'regular'
       |       ELSE 'poisson_like' END AS arrival_class
       |FROM c ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- #256
  /** #256 filter-rule redundancy matrix: the four #81 cascade gates
    * evaluated INDEPENDENTLY per document (the cascade records only
    * the first failure; redundancy analysis needs all four verdicts),
    * then every rule pair's co-fire count and Jaccard — two rules
    * with high Jaccard are measuring the same rot, and the cheaper
    * one can run first (or alone). The standard pipeline-tuning read
    * before reordering a cascade.
    *
    * Scale: ONE map-side pass computes all four flags per doc, ONE
    * global aggregate produces the 4 + 6 counts, and the 6-row pair
    * table is unpivoted from that single row — no self-join over
    * docs, no per-rule scans.
    */
  /** Per-doc independent verdicts of the four #81 gates (one row per
    * document, columns f0..f3 ∈ {0,1}) — the shared input of #256's
    * overlap matrix and #265's chance-corrected kappa (Summit). One
    * map-side pass; no shuffle.
    */
  private[graft] def ruleFlags(spark: SparkSession,
      dir: String): DataFrame =
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
      .select(
        when(col("n_tokens") < 20, 1L).otherwise(0L).as("f0"),
        when(col("dup_frac") > 0.2, 1L).otherwise(0L).as("f1"),
        when(col("mean_tok_len") < 2.0 || col("mean_tok_len") > 12.0, 1L)
          .otherwise(0L).as("f2"),
        when(col("digit_frac") >= 0.2, 1L).otherwise(0L).as("f3"))

  def qualityRuleOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = ruleFlags(spark, dir)
    val s = d.agg(
      sum("f0").as("n0"), sum("f1").as("n1"),
      sum("f2").as("n2"), sum("f3").as("n3"),
      sum(col("f0") * col("f1")).as("n01"),
      sum(col("f0") * col("f2")).as("n02"),
      sum(col("f0") * col("f3")).as("n03"),
      sum(col("f1") * col("f2")).as("n12"),
      sum(col("f1") * col("f3")).as("n13"),
      sum(col("f2") * col("f3")).as("n23"))
    s.selectExpr(
      """stack(6,
        |  'min_tokens', 'repetition',  n0, n1, n01,
        |  'min_tokens', 'token_shape', n0, n2, n02,
        |  'min_tokens', 'digit_ratio', n0, n3, n03,
        |  'repetition', 'token_shape', n1, n2, n12,
        |  'repetition', 'digit_ratio', n1, n3, n13,
        |  'token_shape', 'digit_ratio', n2, n3, n23)
        |  AS (rule_a, rule_b, n_a, n_b, n_both)""".stripMargin)
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("n_both") > 0,
          r4(col("n_both").cast("double") /
            (col("n_a") + col("n_b") - col("n_both")))))
      .orderBy("rule_a", "rule_b")
  }

  /** Shared oracle CTE text (`d`, `fl`): per-doc independent gate
    * verdicts — mirrors [[ruleFlags]]. Spliced into #256's and #265's
    * (Summit) oracle SQL so the flag definitions can't drift apart.
    */
  private[operators] val ruleFlagsCtesSql: String =
    s"""d AS (
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
       |fl AS (
       |  SELECT
       |    CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END AS f0,
       |    CASE WHEN (CASE WHEN n_bigrams > 0 THEN
       |        1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
       |      ELSE 0.0 END) > 0.2 THEN 1 ELSE 0 END AS f1,
       |    CASE WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0
       |      THEN 1 ELSE 0 END AS f2,
       |    CASE WHEN digit_frac >= 0.2 THEN 1 ELSE 0 END AS f3
       |  FROM d)""".stripMargin

  val qualityRuleOverlapSql: String =
    s"""WITH $ruleFlagsCtesSql,
       |s AS (
       |  SELECT CAST(SUM(f0) AS BIGINT) AS n0, CAST(SUM(f1) AS BIGINT) AS n1,
       |    CAST(SUM(f2) AS BIGINT) AS n2, CAST(SUM(f3) AS BIGINT) AS n3,
       |    CAST(SUM(f0 * f1) AS BIGINT) AS n01,
       |    CAST(SUM(f0 * f2) AS BIGINT) AS n02,
       |    CAST(SUM(f0 * f3) AS BIGINT) AS n03,
       |    CAST(SUM(f1 * f2) AS BIGINT) AS n12,
       |    CAST(SUM(f1 * f3) AS BIGINT) AS n13,
       |    CAST(SUM(f2 * f3) AS BIGINT) AS n23
       |  FROM fl),
       |pairs AS (
       |  SELECT 'min_tokens' AS rule_a, 'repetition' AS rule_b,
       |    n0 AS n_a, n1 AS n_b, n01 AS n_both FROM s
       |  UNION ALL SELECT 'min_tokens', 'token_shape', n0, n2, n02 FROM s
       |  UNION ALL SELECT 'min_tokens', 'digit_ratio', n0, n3, n03 FROM s
       |  UNION ALL SELECT 'repetition', 'token_shape', n1, n2, n12 FROM s
       |  UNION ALL SELECT 'repetition', 'digit_ratio', n1, n3, n13 FROM s
       |  UNION ALL SELECT 'token_shape', 'digit_ratio', n2, n3, n23 FROM s)
       |SELECT rule_a, rule_b, n_a, n_b, n_both,
       |  CASE WHEN n_a + n_b - n_both > 0 THEN
       |    ${r4Sql("CAST(n_both AS DOUBLE) / (n_a + n_b - n_both)")} END
       |    AS jaccard
       |FROM pairs ORDER BY rule_a, rule_b""".stripMargin

  // --------------------------------------------------------------- #257
  /** #257 CUSUM drift detection per event type: the cumulative sum of
    * deviations from the series mean, maximized over time — a slow
    * level shift accumulates where #144's two-window split-mean test
    * (and #195's seasonal residual rule) can stay under threshold.
    * The change-point lands where |CUSUM| peaks.
    *
    * Exactness: with H hours, total T and running sum Sₜ, the
    * deviation cusum is (H·Sₜ − t·T)/H — the INTEGER numerator
    * Nₜ = H·Sₜ − t·T is computed and arg-maxed exactly (tie → earliest
    * hour); the single division by H happens once, r4'd, at emit.
    *
    * Scale: one keyed agg to |types|·|hours| cells, one per-type
    * ordered window over the hour-bounded series, and a 1-row-per-type
    * totals broadcast. The per-type window's partition count equals
    * the type count, but the frame is calendar-bounded — same
    * documented ceiling as #224.
    */
  def tsCusum(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"),
        expr("ts_us div 3600000000").as("hour"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("hour")
    val cum = hourly
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("s", sum(col("x")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("total_events"))
    val wPick = Window.partitionBy("event_type")
      .orderBy(desc("abs_n"), col("hour"))
    cum.join(broadcast(tot), "event_type")
      .withColumn("n_t",
        col("n_hours") * col("s") - col("t") * col("total_events"))
      .withColumn("abs_n", abs(col("n_t")))
      .withColumn("rk", row_number().over(wPick))
      .where(col("rk") === 1)
      .select(col("event_type"), col("n_hours"), col("total_events"),
        col("hour").as("cp_hour"),
        r4(col("n_t").cast("double") / col("n_hours")).as("cusum_at_cp"))
      .orderBy("event_type")
  }

  val tsCusumSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, hour, x,
       |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS t,
       |    SUM(x) OVER (PARTITION BY event_type ORDER BY hour
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
       |tot AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
       |    CAST(SUM(x) AS BIGINT) AS total_events
       |  FROM hourly GROUP BY event_type),
       |n AS (
       |  SELECT c.event_type, tot.n_hours, tot.total_events, c.hour,
       |    tot.n_hours * c.s - c.t * tot.total_events AS n_t
       |  FROM cum c JOIN tot USING (event_type)),
       |picked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY abs(n_t) DESC, hour) AS rk
       |  FROM n)
       |SELECT event_type, n_hours, total_events, hour AS cp_hour,
       |  ${r4Sql("CAST(n_t AS DOUBLE) / n_hours")} AS cusum_at_cp
       |FROM picked WHERE rk = 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- #258
  /** #258 Markov entropy rate over the user-journey transition graph:
    * per source state, the integer-bits branch entropy of its outgoing
    * transition distribution (#103 estimates the probabilities; this
    * scores their UNCERTAINTY — a state with H≈0 is a deterministic
    * funnel step, high H a true branch point), plus the `__rate` row:
    * the stationary-weighted chain entropy rate Σᵢ (nᵢ/N)·Hᵢ, which
    * under the empirical occupancy IS Σ numᵢ / N.
    *
    * Exactness: #131/#197's integer-bits device (bits(c) =
    * ⌊log₂ c⌋ = len(bin(c))−1) keeps every entropy numerator an int64
    * — numᵢ = Σⱼ nᵢⱼ·(bits(nᵢ) − bits(nᵢⱼ)) — with ONE r4'd division
    * per emitted row; no libm log whose last bit could differ across
    * engines.
    *
    * Scale: the transition derivation is #103's one user-keyed window;
    * everything after is |states|²-bounded.
    */
  def eventsEntropyRate(spark: SparkSession, dir: String): DataFrame = {
    val bits: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => (length(bin(c)) - 1).cast("long")
    val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val trans = Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
      .withColumn("dst", lead(col("event_type"), 1).over(ord))
      .where(col("dst").isNotNull)
      .select(col("event_type").as("src"), col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    val perSrc = trans.groupBy("src").agg(
        count(lit(1)).as("n_out"),
        sum("n").as("n_trans"),
        sum(col("n") * bits(col("n"))).as("sum_nbits"))
      .withColumn("num",
        col("n_trans") * bits(col("n_trans")) - col("sum_nbits"))
    val rate = perSrc.agg(
        sum("n_out").as("n_out"), sum("n_trans").as("n_trans"),
        sum("num").as("num"))
      .select(lit("__rate").as("src"), col("n_out"), col("n_trans"),
        col("num"))
    perSrc.select(col("src"), col("n_out"), col("n_trans"), col("num"))
      .unionByName(rate)
      .select(col("src"), col("n_out"), col("n_trans"),
        r4(col("num").cast("double") / col("n_trans")).as("ent_bits"))
      .orderBy("src")
  }

  val eventsEntropyRateSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
       |  FROM events),
       |t AS (
       |  SELECT event_type AS src, LEAD(event_type) OVER (
       |    PARTITION BY user_id ORDER BY ts_us, event_id) AS dst
       |  FROM e),
       |c AS (
       |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM t WHERE dst IS NOT NULL GROUP BY src, dst),
       |p AS (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS n_out,
       |    CAST(SUM(n) AS BIGINT) AS n_trans,
       |    CAST(SUM(n * (length(bin(n)) - 1)) AS BIGINT) AS sum_nbits
       |  FROM c GROUP BY src),
       |rows_ AS (
       |  SELECT src, n_out, n_trans,
       |    n_trans * (length(bin(n_trans)) - 1) - sum_nbits AS num
       |  FROM p
       |  UNION ALL
       |  SELECT '__rate', CAST(SUM(n_out) AS BIGINT),
       |    CAST(SUM(n_trans) AS BIGINT),
       |    CAST(SUM(n_trans * (length(bin(n_trans)) - 1) - sum_nbits)
       |      AS BIGINT)
       |  FROM p)
       |SELECT src, n_out, n_trans,
       |  ${r4Sql("CAST(num AS DOUBLE) / n_trans")} AS ent_bits
       |FROM rows_ ORDER BY src""".stripMargin

  // --------------------------------------------------------------- #259
  /** #259 session concurrency curve: for every clock hour, how many of
    * #20's gap-sessions were live during it (and how many distinct
    * users) — the load profile that sizes a serving fleet, read
    * directly from the session intervals. #134 merges intervals; this
    * counts their overlap against the calendar.
    *
    * Scale: sessions derive from #20's one user-keyed window; each
    * session explodes to its spanned hours — fan-out bounded by
    * session duration (gap-capped), never by corpus size — then ONE
    * hour-keyed agg to a calendar-bounded curve. No interval
    * self-join, no global ordered sweep.
    */
  def sessionsConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("is_new",
        when(lag(col("ts_us"), 1).over(ord).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(ord) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(cum))
      .groupBy("user_id", "session_id")
      .agg(expr("min(ts_us) div 3600000000").as("h0"),
        expr("max(ts_us) div 3600000000").as("h1"))
    sess
      .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("hour"))
      .groupBy("hour")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct("user_id").as("n_users"))
      .orderBy("hour")
  }

  val sessionsConcurrencySql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN LAG(ts_us) OVER w IS NULL
      |      OR ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
      |      AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (
      |  SELECT user_id,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
      |    ts_us
      |  FROM flagged),
      |iv AS (
      |  SELECT user_id, session_id,
      |    CAST(MIN(ts_us) // 3600000000 AS BIGINT) AS h0,
      |    CAST(MAX(ts_us) // 3600000000 AS BIGINT) AS h1
      |  FROM sess GROUP BY user_id, session_id),
      |hrs AS (
      |  SELECT user_id, unnest(generate_series(h0, h1)) AS hour FROM iv)
      |SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM hrs GROUP BY hour ORDER BY hour""".stripMargin

  // --------------------------------------------------------------- #260
  /** #260 PQ codebook utilization audit: per subspace, how many of the
    * 16 codewords carry population, the top codeword's share, and the
    * integer-bits entropy of the code distribution — dead codewords
    * and a collapsed (low-entropy) code histogram are the two PQ
    * failure smells (#212 audits per-VECTOR distortion; this audits
    * the CODEBOOK's health — the `ann_ivf_balance` read for the PQ
    * family). Reuses #107's shared model verbatim, so the audit grades
    * exactly the codebooks the index serves.
    *
    * Scale: `coded` is the one corpus-sized table; everything here is
    * one (s, cid) keyed agg to m·ksub rows then m output rows.
    */
  def embedPqUsage(spark: SparkSession, dir: String): DataFrame = {
    val bits: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => (length(bin(c)) - 1).cast("long")
    val (_, coded) = Similarity.pqModel(spark, dir, m = 2, ksub = 16)
    val perCode = coded.groupBy("s", "cid").agg(count(lit(1)).as("nc"))
    perCode.groupBy("s").agg(
        count(lit(1)).as("n_used"),
        sum("nc").as("n_vecs"),
        max("nc").as("top_code_n"),
        sum(col("nc") * bits(col("nc"))).as("sum_nbits"))
      .select(col("s"), col("n_vecs"), col("n_used"),
        r4(col("n_used").cast("double") / 16).as("utilization"),
        r4(col("top_code_n").cast("double") / col("n_vecs"))
          .as("top_code_share"),
        r4((col("n_vecs") * bits(col("n_vecs")) - col("sum_nbits"))
          .cast("double") / col("n_vecs")).as("code_ent_bits"))
      .orderBy("s")
  }

  val embedPqUsageSql: String =
    s"""WITH ${Similarity.pqCtes},
       |per_code AS (
       |  SELECT s, cid, CAST(COUNT(*) AS BIGINT) AS nc
       |  FROM coded GROUP BY s, cid),
       |per_sub AS (
       |  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_used,
       |    CAST(SUM(nc) AS BIGINT) AS n_vecs,
       |    CAST(MAX(nc) AS BIGINT) AS top_code_n,
       |    CAST(SUM(nc * (length(bin(nc)) - 1)) AS BIGINT) AS sum_nbits
       |  FROM per_code GROUP BY s)
       |SELECT CAST(s AS INT) AS s, n_vecs, n_used,
       |  ${r4Sql("CAST(n_used AS DOUBLE) / 16")} AS utilization,
       |  ${r4Sql("CAST(top_code_n AS DOUBLE) / n_vecs")} AS top_code_share,
       |  ${r4Sql("(n_vecs * (length(bin(n_vecs)) - 1) - sum_nbits)" +
                  " / CAST(n_vecs AS DOUBLE)")} AS code_ent_bits
       |FROM per_sub ORDER BY s""".stripMargin

  // --------------------------------------------------------------- #261
  /** #261 A/B sample-ratio-mismatch check (the assignment-integrity
    * gate that must pass BEFORE #112's lift is believable): users
    * hash-assigned to two arms (same pmod device as #112), arm counts
    * compared against the expected 50/50 under a z-test — z² =
    * (n_a−n_b)²/n stays an exact integer ratio, and the flag fires on
    * the decimal-exact comparison (n_a−n_b)² > 9·n, i.e. |z| > 3.
    * An SRM means the assignment (or logging) pipeline is biased and
    * every downstream metric is suspect.
    *
    * Scale: one distinct on (user) then a 1-row global agg.
    */
  def eventsAbSrm(spark: SparkSession, dir: String): DataFrame = {
    val arms = Tables(spark, dir, "events")
      .select(col("user_id")).distinct()
      .withColumn("arm", pmod(col("user_id"), lit(2)))
    arms.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        (col("n_a") + col("n_b")).as("n_users"),
        r4(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
          .cast("double") / (col("n_a") + col("n_b"))).as("z2"),
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) >
          (col("n_a") + col("n_b")) * 9).as("srm_flag"))
  }

  val eventsAbSrmSql: String =
    s"""WITH u AS (
       |  SELECT DISTINCT user_id, user_id % 2 AS arm FROM events),
       |a AS (
       |  SELECT CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
       |    CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
       |  FROM u)
       |SELECT n_a, n_b, n_a + n_b AS n_users,
       |  ${r4Sql("CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)")}
       |    AS z2,
       |  (n_a - n_b) * (n_a - n_b) > (n_a + n_b) * 9 AS srm_flag
       |FROM a""".stripMargin

  // --------------------------------------------------------------- #286
  /** #286 quantile-digest estimate vs exact: per event type, p50/p90/
    * p99 of the integer-cents value, once exactly (rank-⌈q·N⌉ order
    * statistic via one window pass) and once from the mergeable
    * [[graft.functions.QuantileSketch]] log2-linear histogram — the
    * #53/#254 estimate-vs-exact read extended to order statistics, and
    * the #114 fixed-bin histogram's unbounded-domain graduate.
    *
    * Determinism: the sketch state is a pure function of the value
    * multiset (bucket-wise counts — no order-dependent compaction), so
    * any partitioning/merge tree yields the identical estimate, and
    * the oracle reproduces it from the same bucket arithmetic
    * (`length(bin(v))` msb + 3 linear sub-bits, both engines integer-
    * exact). Ranks are ⌈q·N⌉ with one IEEE multiply — identical on
    * both sides. Estimate contract (spec-pinned): est ≤ exact <
    * est·9/8, exact equality below 16.
    *
    * Scale: the exact side is one window pass (bench-scale yardstick);
    * the SKETCH side is the 100 TB path — ≤488-entry partials combine
    * map-side, only histograms cross the shuffle, reads are O(buckets).
    */
  def aggQdigest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
      .select(col("event_type"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("v"))
    val wOrd = Window.partitionBy("event_type").orderBy("v")
    val wAll = Window.partitionBy("event_type")
    def rankOf(q: Double) =
      greatest(lit(1L), ceil(lit(q) * col("n")))
    val exact = e
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        max(when(col("rn") === rankOf(0.5), col("v"))).as("p50_exact"),
        max(when(col("rn") === rankOf(0.9), col("v"))).as("p90_exact"),
        max(when(col("rn") === rankOf(0.99), col("v"))).as("p99_exact"))
    val est = e.groupBy("event_type")
      .agg(expr("qdigest_quantile(v, 0.5)").as("p50_est"),
        expr("qdigest_quantile(v, 0.9)").as("p90_est"),
        expr("qdigest_quantile(v, 0.99)").as("p99_est"))
    exact.join(est, "event_type")
      .select(col("event_type"), col("n"),
        col("p50_exact"), col("p50_est"),
        col("p90_exact"), col("p90_est"),
        col("p99_exact"), col("p99_est"))
      .orderBy("event_type")
  }

  /** SQL mirror of the sketch: same buckets, same rank walk, same
    * lower-bound read — equality proves the native aggregate.
    */
  val aggQdigestSql: String = {
    def rankSql(q: String) = s"GREATEST(1, CAST(CEIL($q * n) AS BIGINT))"
    s"""WITH e AS (
       |  SELECT event_type,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v
       |  FROM events),
       |r AS (
       |  SELECT event_type, v,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM e),
       |ex AS (
       |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       |    MAX(CASE WHEN rn = ${rankSql("0.5")} THEN v END) AS p50_exact,
       |    MAX(CASE WHEN rn = ${rankSql("0.9")} THEN v END) AS p90_exact,
       |    MAX(CASE WHEN rn = ${rankSql("0.99")} THEN v END) AS p99_exact
       |  FROM r GROUP BY 1),
       |b AS (
       |  SELECT event_type,
       |    CASE WHEN v < 8 THEN v
       |         ELSE (length(bin(v)) - 4) * 8
       |              + (v >> (length(bin(v)) - 4)) END AS bucket
       |  FROM e),
       |c AS (
       |  SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM b GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, bucket,
       |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
       |    SUM(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM c),
       |pick AS (
       |  SELECT event_type,
       |    MIN(CASE WHEN cum >= ${rankSql("0.5")} THEN bucket END) AS b50,
       |    MIN(CASE WHEN cum >= ${rankSql("0.9")} THEN bucket END) AS b90,
       |    MIN(CASE WHEN cum >= ${rankSql("0.99")} THEN bucket END) AS b99
       |  FROM cum GROUP BY 1),
       |lb AS (
       |  SELECT event_type,
       |    CAST(CASE WHEN b50 < 16 THEN b50
       |      ELSE (b50 % 8 + 8) << (b50 // 8 - 1) END AS BIGINT) AS p50_est,
       |    CAST(CASE WHEN b90 < 16 THEN b90
       |      ELSE (b90 % 8 + 8) << (b90 // 8 - 1) END AS BIGINT) AS p90_est,
       |    CAST(CASE WHEN b99 < 16 THEN b99
       |      ELSE (b99 % 8 + 8) << (b99 // 8 - 1) END AS BIGINT) AS p99_est
       |  FROM pick)
       |SELECT ex.event_type, n, p50_exact, p50_est, p90_exact, p90_est,
       |  p99_exact, p99_est
       |FROM ex JOIN lb ON ex.event_type = lb.event_type
       |ORDER BY ex.event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_qdigest" -> (aggQdigest _),
    "q11_important_stock" -> (q11ImportantStock _),
    "q16_parts_supplier" -> (q16PartsSupplier _),
    "join_asof_tolerance" -> (joinAsofTolerance _),
    "ann_filtered" -> (annFiltered _),
    "ann_rerank" -> (annRerank _),
    "agg_sketch_union" -> (aggSketchUnion _),
    "events_burstiness" -> (eventsBurstiness _),
    "quality_rule_overlap" -> (qualityRuleOverlap _),
    "ts_cusum" -> (tsCusum _),
    "events_entropy_rate" -> (eventsEntropyRate _),
    "sessions_concurrency" -> (sessionsConcurrency _),
    "embed_pq_usage" -> (embedPqUsage _),
    "events_ab_srm" -> (eventsAbSrm _))

  val oracles: Map[String, String] = Map(
    "agg_qdigest" -> aggQdigestSql,
    "q11_important_stock" -> q11ImportantStockSql,
    "q16_parts_supplier" -> q16PartsSupplierSql,
    "join_asof_tolerance" -> joinAsofToleranceSql,
    "ann_filtered" -> annFilteredSql,
    "ann_rerank" -> annRerankSql,
    "agg_sketch_union" -> aggSketchUnionSql,
    "events_burstiness" -> eventsBurstinessSql,
    "quality_rule_overlap" -> qualityRuleOverlapSql,
    "ts_cusum" -> tsCusumSql,
    "events_entropy_rate" -> eventsEntropyRateSql,
    "sessions_concurrency" -> sessionsConcurrencySql,
    "embed_pq_usage" -> embedPqUsageSql,
    "events_ab_srm" -> eventsAbSrmSql)
}
