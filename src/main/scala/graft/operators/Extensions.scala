package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Extensions beyond the SURVEY §2 inventory (#41-45): the operations a
  * training-data pipeline reaches for right after the inventory ops.
  * Registered and oracle-verified exactly like the core set.
  */
object Extensions {

  /** #41 duplicate clustering: connected components over the MinHash
    * near-dup pairs (min-label propagation to fixpoint). Dedup keeps
    * one doc per CLUSTER, not per pair — pairs alone over-delete on
    * chains (a~b, b~c, a!~c).
    *
    * Scale: label propagation is a keyed join per iteration (diameter
    * iterations, each one shuffle); the iterate-until-stable check
    * collects a single count, never data. The edge set is the (small)
    * near-dup pair list, not the corpus.
    */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    // r12: the cluster table itself is materialized once per (dir) per
    // JVM — FIVE registered queries consume it (#41, #49, #157, #361,
    // pipeline_clean_corpus), and the label-propagation loop (driver
    // fixpoint + localCheckpoint per iteration) is the family's
    // dominant remaining cost once the pair table is cached. The loop
    // reads the LayoutCache-materialized pair table directly (no
    // consumer-side sort — propagation is order-free).
    // the plan is by-name: clusterPairs runs driver-side fixpoint
    // actions at construction time, which a cache hit must not re-pay
    LayoutCache.table("dedup_cluster_m16_4", dir) {
      clusterPairs(Dedup.minhashPairsDefaultCached(spark, dir), "doc_id")
    }.orderBy("doc_id")
  }

  /** Connected components over an arbitrary undirected pair list
    * (`id_a`, `id_b`) via min-label propagation to fixpoint; returns
    * one row per member id with its cluster root and size. Shared by
    * the MinHash cluster (#41) and the semantic cluster (#76) — the
    * edge SOURCE is the pluggable part, the propagation is not.
    */
  private[operators] def clusterPairs(pairs: DataFrame,
      idName: String): DataFrame = {
    // one-pass symmetrization: explode each pair into both directions so
    // the (expensive) upstream pair pipeline is evaluated ONCE — a
    // union of two selects would run the LSH/k-NN plan twice before the
    // persist ever sees it
    val edges = graft.Tables.persistSlot("extensions.clusterPairs.edges",
      pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // localCheckpoint each iteration: materializes the labels AND cuts
    // the lineage so iteration N's plan doesn't replay iterations 1..N-1.
    // Init folds the FIRST propagation in for free (min of self and all
    // neighbors — one aggregation over the already-materialized edges):
    // pair-clusters start converged, so fixpoint usually arrives one
    // full iteration (join + agg + checkpoint) earlier.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mdst"))
      .select(col("id"), least(col("id"), col("mdst")).as("label"))
      .localCheckpoint(true)
    // min-label propagation only ever DECREASES labels, so the label
    // sum strictly decreases until fixpoint: comparing sums (one
    // aggregate on the checkpointed table) replaces a join + isEmpty
    // convergence job per iteration. Decimal sum so 64-bit ids can't
    // overflow at any corpus size.
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"))
      val next = labels.select("id", "label").union(viaNeighbors)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
    }
    val out = labels
      .groupBy("label").agg(count(lit(1)).as("cluster_size"),
        collect_list("id").as("ids"))
      .select(col("label").as("cluster_root"), col("cluster_size"),
        explode(col("ids")).as(idName))
      .select(idName, "cluster_root", "cluster_size")
      .orderBy(idName)
    // eager release: the loop is the only consumer (labels are already
    // checkpointed), so don't hold the slot's memory until the next
    // clusterPairs call swaps the slot
    edges.unpersist()
    out
  }

  /** #76 SemDeDup-style semantic dedup: cluster the k-NN graph's
    * high-cosine edges (4dp cosine >= 0.35 — comfortably above this
    * corpus's unrelated-pair band) into connected components and keep
    * one representative per component. The composition IS the
    * SemDeDup recipe: embed → k-NN within LSH cells → threshold →
    * components → keep-one. Edge list is tiny relative to the corpus
    * (duplicate density), so the propagation cost tracks duplicates,
    * not corpus size.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    clusterPairs(
      Similarity.annKnnGraph(spark, dir)
        .where(col("cosine") >= 0.35)
        .select(col("vec_id").as("id_a"), col("nbr_id").as("id_b")),
      "vec_id")

  /** Oracle: the knn-graph SQL as the edge source, then the same
    * recursive-CTE reachability as the MinHash cluster oracle.
    */
  val dedupSemanticSql: String =
    """WITH RECURSIVE v AS (
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
      |  FROM scored),
      |pr AS (
      |  SELECT vec_id AS id_a, nbr_id AS id_b FROM ranked
      |  WHERE rank <= 3
      |    AND FLOOR(cosine_raw * 10000.0 + 0.5) / 10000.0 >= 0.35),
      |e AS (SELECT id_a AS a, id_b AS b FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |reach(id, r) AS (
      |  SELECT a, a FROM e
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
      |lab AS (SELECT id, MIN(r) AS cluster_root FROM reach GROUP BY id),
      |sz AS (SELECT cluster_root, COUNT(*) AS cluster_size
      |       FROM lab GROUP BY cluster_root)
      |SELECT lab.id AS vec_id, lab.cluster_root, sz.cluster_size
      |FROM lab JOIN sz USING (cluster_root)
      |ORDER BY vec_id""".stripMargin

  /** The pair list as a nestable subquery (ORDER BY dropped). */
  private val pairsSub: String =
    """(WITH t AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(sp) - 1),
      |    i -> sp[i] || ' ' || sp[i + 1] || ' ' || sp[i + 2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.sh, b.sh)) AS inter,
      |    len(a.sh) AS na, len(b.sh) AS nb
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE least(len(a.sh), len(b.sh)) >=
      |    0.8 * greatest(len(a.sh), len(b.sh)))
      |SELECT id_a, id_b FROM p
      |WHERE FLOOR((inter / CAST(na + nb - inter AS DOUBLE)) * 10000.0 + 0.5)
      |  / 10000.0 >= 0.8)""".stripMargin

  val dedupClusterSql: String =
    s"""WITH RECURSIVE pr AS (SELECT * FROM $pairsSub),
       |e AS (SELECT id_a AS a, id_b AS b FROM pr
       |      UNION SELECT id_b, id_a FROM pr),
       |reach(id, r) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
       |lab AS (SELECT id, MIN(r) AS cluster_root FROM reach GROUP BY id),
       |sz AS (SELECT cluster_root, COUNT(*) AS cluster_size
       |       FROM lab GROUP BY cluster_root)
       |SELECT lab.id AS doc_id, lab.cluster_root, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_root)
       |ORDER BY doc_id""".stripMargin

  /** #157 dedup-cluster size distribution: how many clusters of each
    * size the near-dup graph produces — the one-line QC readout a
    * dedup sweep reports (a sudden fat tail means a template or a
    * crawler loop entered the corpus). One keyed agg over the
    * structure-sized cluster table; `pct_docs` is exact integers under
    * one r4'd division.
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupCluster(spark, dir)
    val n = clusters.agg(count(lit(1)).cast("double").as("n_docs"))
    clusters
      .groupBy("cluster_size")
      .agg(countDistinct("cluster_root").as("n_clusters"),
        count(lit(1)).as("n_docs_in"))
      .crossJoin(broadcast(n))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs_in"),
        r4(col("n_docs_in").cast("double") / col("n_docs"))
          .as("pct_docs"))
      .orderBy("cluster_size")
  }

  val dedupClusterStatsSql: String =
    s"""WITH RECURSIVE pr AS (SELECT * FROM $pairsSub),
       |e AS (SELECT id_a AS a, id_b AS b FROM pr
       |      UNION SELECT id_b, id_a FROM pr),
       |reach(id, r) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
       |lab AS (SELECT id, MIN(r) AS cluster_root FROM reach GROUP BY id),
       |sz AS (SELECT cluster_root, COUNT(*) AS cluster_size
       |       FROM lab GROUP BY cluster_root),
       |mem AS (
       |  SELECT lab.id, lab.cluster_root, sz.cluster_size
       |  FROM lab JOIN sz USING (cluster_root)),
       |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM mem)
       |SELECT cluster_size, COUNT(DISTINCT cluster_root) AS n_clusters,
       |  COUNT(*) AS n_docs_in,
       |  ${r4Sql("CAST(COUNT(*) AS DOUBLE) / MAX(tot.n_docs)")} AS pct_docs
       |FROM mem, tot GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  // --------------------------------------------------------------- #361
  /** #361 dedup IMPACT accounting — what the near-dup keep-one policy
    * actually costs, in training-token units: every #41 cluster keeps
    * its root (min doc_id) and removes the rest; emit per source the
    * doc count and TOKEN mass removed plus their fractions. #41 says
    * what is duplicated and #157 profiles cluster sizes; this prices
    * the removal in the unit budgets are written in, attributed to the
    * source LOSING the docs (a cross-source cluster charges the
    * duplicate's source, not the root's) — the readout a curation
    * owner signs off before committing a dedup pass.
    *
    * Scale: the cluster table is pair-structure-sized (never
    * corpus-sized) and broadcasts under the size gate; one keyed join
    * against the doc stream + a sources-sized agg with map-side
    * combine. Oracle reuses the proven #41 recursive-component CTE.
    */
  def dedupTokenImpact(spark: SparkSession, dir: String): DataFrame = {
    val removed = dedupCluster(spark, dir)
      .where(col("doc_id") =!= col("cluster_root"))
      .select(col("doc_id"), lit(1L).as("rm"))
    Tables.spread(spark, dir, "documents")
      .withColumn("nt", size(split(col("text"), " ")).cast("long"))
      .join(Tables.maybeBroadcast(removed), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("rm"), lit(0L))).as("n_removed"),
        sum("nt").as("tokens_total"),
        sum(when(col("rm").isNotNull, col("nt")).otherwise(0L))
          .as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("tokens_total"), col("tokens_removed"),
        r4(col("n_removed").cast("double") /
          col("n_docs").cast("double")).as("doc_removed_frac"),
        r4(col("tokens_removed").cast("double") /
          col("tokens_total").cast("double")).as("token_removed_frac"))
      .orderBy("source")
  }

  val dedupTokenImpactSql: String =
    s"""WITH RECURSIVE pr AS (SELECT * FROM $pairsSub),
       |e AS (SELECT id_a AS a, id_b AS b FROM pr
       |      UNION SELECT id_b, id_a FROM pr),
       |reach(id, r) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
       |lab AS (SELECT id, MIN(r) AS cluster_root FROM reach GROUP BY id),
       |rm AS (SELECT id AS doc_id FROM lab WHERE id <> cluster_root),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |    doc_id IN (SELECT doc_id FROM rm) AS is_rm
       |  FROM documents)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) FILTER (WHERE is_rm) AS BIGINT) AS n_removed,
       |  CAST(SUM(nt) AS BIGINT) AS tokens_total,
       |  CAST(COALESCE(SUM(nt) FILTER (WHERE is_rm), 0) AS BIGINT)
       |    AS tokens_removed,
       |  ${r4Sql("CAST(COUNT(*) FILTER (WHERE is_rm) AS DOUBLE) " +
                  "/ COUNT(*)")} AS doc_removed_frac,
       |  ${r4Sql("CAST(COALESCE(SUM(nt) FILTER (WHERE is_rm), 0) " +
                  "AS DOUBLE) / SUM(nt)")} AS token_removed_frac
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** #42 TF-IDF-style term weighting with a RATIONAL idf (N/df instead
    * of ln(N/df)) so the score is cross-engine exact: top-3 terms per
    * document by (tf * N / df), deterministic tie-break on the token.
    */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // N as a 1-row aggregate cross-joined in (broadcast nested loop of a
    // single row) — keeps the whole query ONE plan instead of an extra
    // driver-side count() job per invocation
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token")
      .agg(countDistinct("doc_id").as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score_raw"), col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("score_raw", col("tf") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"),
        r4(col("score_raw")).as("score"))
      .orderBy("doc_id", "rank")
  }

  val textTfidfSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |tfc AS (SELECT doc_id, token, COUNT(*) AS tf
       |        FROM tf GROUP BY doc_id, token),
       |dfc AS (SELECT token, COUNT(DISTINCT doc_id) AS df
       |        FROM tfc GROUP BY token),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, token, tf * n.n_docs / df AS score_raw
       |  FROM tfc JOIN dfc USING (token) CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, token, score_raw, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score_raw DESC, token) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, token, ${r4Sql("score_raw")} AS score
       |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** #43 sliding-window (3h window, 1h slide) event aggregation: each
    * event contributes to 3 hourly-started windows — the explode is the
    * batch dual of Structured Streaming's `window(ts, '3 hours',
    * '1 hour')`, with map-side partial aggregation after it.
    */
  def tsSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(spark, dir)
      .withColumn("hour_us", expr("(ts_us div 3600000000) * 3600000000"))
      .withColumn("win_start", explode(expr(
        """sequence(hour_us - 7200000000, hour_us, 3600000000)""")))
      .groupBy("win_start")
      .agg(count(lit(1)).as("n"),
        sumDec(col("value"), 18, 2).as("sum_value"))
      .orderBy("win_start")

  val tsSlidingSql: String =
    s"""WITH e AS (
       |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us, value
       |  FROM events),
       |w AS (
       |  SELECT unnest([hour_us - 7200000000, hour_us - 3600000000,
       |    hour_us]) AS win_start, value
       |  FROM e)
       |SELECT win_start, COUNT(*) AS n,
       |  ${sumDecSql("value", 18, 2)} AS sum_value
       |FROM w GROUP BY win_start ORDER BY win_start""".stripMargin

  /** #44 deterministic stratified sampling: an md5-based uniform hash of
    * doc_id keeps ~25% per language stratum — reproducible across
    * engines and runs (no RNG state), the sampling pattern a pipeline
    * uses for eval splits.
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("h") < 64, 1)).as("n_sampled"))
      .withColumn("ratio",
        r4(col("n_sampled") / col("n_total").cast("double")))
      .orderBy("lang")

  val sampleStratifiedSql: String =
    s"""WITH d AS (
       |  SELECT lang,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS h
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n_total,
       |  COUNT(*) FILTER (WHERE h < 64) AS n_sampled,
       |  ${r4Sql("COUNT(*) FILTER (WHERE h < 64) / CAST(COUNT(*) AS DOUBLE)")}
       |    AS ratio
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** #45 TPC-H Q18-style large-volume orders: semi-join against an
    * aggregated HAVING subquery, then re-aggregate. The HAVING filter
    * runs on the aggregated (small) side — the lineitem scan happens
    * twice rather than materializing a giant groupBy result into a
    * broadcast.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    val big = l.groupBy("l_orderkey")
      .agg(sumDec(col("l_quantity"), 18, 2).as("sum_qty"))
      .where(col("sum_qty") > 300)
    val o = Tables(spark, dir, "orders")
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("sum_qty"), col("o_orderkey"))
  }

  val q18LargeOrdersSql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey, ${sumDecSql("l_quantity", 18, 2)} AS sum_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING ${sumDecSql("l_quantity", 18, 2)} > 300)
       |SELECT o_orderkey, o_custkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |  o_totalprice, sum_qty
       |FROM orders JOIN big ON o_orderkey = l_orderkey
       |ORDER BY sum_qty DESC, o_orderkey""".stripMargin

  /** #46 skew-resistant aggregation: two-phase salted groupBy. The
    * event log has only 5 event types — at 100 TB a direct groupBy
    * sends each type's entire volume to ONE reducer. Salting fans the
    * partial aggregation over (key, salt) reducers, then combines the
    * (tiny) partials per key. Decimal partials combine exactly, so the
    * result is identical to the direct groupBy the oracle runs.
    */
  def aggSalted(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(18,2)")).as("psum"))
      .groupBy("event_type")
      .agg(sum("pn").as("n"),
        sum("psum").cast("double").as("sum_value"))
      .orderBy("event_type")

  val aggSaltedSql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  ${sumDecSql("value", 18, 2)} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #47 frame-bounded moving average: 3-order trailing mean per
    * customer (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), decimal-exact
    * numerator.
    */
  def windowMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-2, Window.currentRow)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        r4(sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double") / count(lit(1)).over(w)).as("mavg_price"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val windowMovingAvgSql: String =
    s"""SELECT o_custkey, o_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |  ${r4Sql("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)" +
                  " / COUNT(*) OVER w")} AS mavg_price
       |FROM orders
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** #54 time-RANGE window: per-user rolling 1-hour event-value sum —
    * a RANGE frame over the (numeric) event time, so frame membership
    * is by time distance, not row count. Decimal numerator keeps the
    * rolling sums exact; RANGE peers (ts ties) are included on both
    * engines, so tie order can't matter.
    */
  def windowTimeRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.eventsUs(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("rolling_1h_sum"))
      .orderBy("event_id")
  }

  val windowTimeRangeSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS rolling_1h_sum
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** #48 funnel analysis: users progressing view -> click -> purchase,
    * each stage strictly after the previous one (first-touch
    * semantics). Three keyed aggregations, each joined to the previous
    * stage's (small) survivor set.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, dir)
    def stage(tpe: String) = ev.where(col("event_type") === tpe)
      .select(col("user_id"), col("ts_us"))
    val v = stage("view").groupBy("user_id").agg(min("ts_us").as("tv"))
    val c = stage("click").join(v, "user_id")
      .where(col("ts_us") > col("tv"))
      .groupBy("user_id").agg(min("ts_us").as("tc"))
    val p = stage("purchase").join(c, "user_id")
      .where(col("ts_us") > col("tc"))
      .groupBy("user_id").agg(min("ts_us").as("tp"))
    val counts = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("users")).withColumn("stage", lit(name))
      }
    counts.reduce(_ unionByName _)
      .select("stage", "users").orderBy("stage")
  }

  val eventsFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, MIN(ts_us) AS tv FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(ts_us) AS tc FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts_us > tv GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(ts_us) AS tp FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_us > tc GROUP BY e.user_id)
      |SELECT '1_view' AS stage, COUNT(*) AS users FROM v
      |UNION ALL SELECT '2_click', COUNT(*) FROM c
      |UNION ALL SELECT '3_purchase', COUNT(*) FROM p
      |ORDER BY stage""".stripMargin

  /** #61 time-series gap filling: the hourly event-count series with
    * EVERY hour of the observed range present — missing hours emitted
    * as zero rows (dashboards and window models need dense series).
    * The dense axis is generated from the min/max bounds (a 2-row
    * aggregate, broadcast), never collected to the driver.
    */
  def tsGapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = Tables.eventsUs(spark, dir)
      .withColumn("hour_us", expr(s"(ts_us div $hourUs) * $hourUs"))
    val counts = ev.groupBy("hour_us")
      .agg(count(lit(1)).as("n"))
    val axis = ev.agg(min("hour_us").as("lo"), max("hour_us").as("hi"))
      .select(explode(expr(s"sequence(lo, hi, $hourUs)")).as("hour_us"))
    axis.join(counts, Seq("hour_us"), "left")
      .select(col("hour_us"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("hour_us")
  }

  val tsGapFillSql: String =
    """WITH e AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us
      |  FROM events),
      |counts AS (SELECT hour_us, COUNT(*) AS n FROM e GROUP BY hour_us),
      |axis AS (
      |  SELECT unnest(range(MIN(hour_us), MAX(hour_us) + 1, 3600000000))
      |    AS hour_us
      |  FROM e)
      |SELECT axis.hour_us, COALESCE(counts.n, 0) AS n
      |FROM axis LEFT JOIN counts USING (hour_us)
      |ORDER BY hour_us""".stripMargin

  /** #63 calendar rollup: monthly order volume and revenue — calendar
    * bucketing via date formatting (string month keys are
    * dtype-coercion-proof across engines).
    */
  def ordersMonthly(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sumDec(col("o_totalprice"), 18, 2).as("revenue"))
      .orderBy("month")

  val ordersMonthlySql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |  COUNT(*) AS n_orders,
       |  ${sumDecSql("o_totalprice", 18, 2)} AS revenue
       |FROM orders GROUP BY month ORDER BY month""".stripMargin

  /** #58 histogram bucketing: order-value distribution in fixed-width
    * buckets with per-bucket stats — one scan, map-side partial agg.
    */
  def histOrderValues(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"),
        sumDec(col("o_totalprice"), 18, 2).as("sum_price"))
      .orderBy("bucket")

  val histOrderValuesSql: String =
    s"""SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
       |  COUNT(*) AS n,
       |  MIN(o_totalprice) AS min_price,
       |  MAX(o_totalprice) AS max_price,
       |  ${sumDecSql("o_totalprice", 18, 2)} AS sum_price
       |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin

  /** #59 correlated min-per-group (TPC-H Q2 shape): parts priced at the
    * minimum of their type class — the decorrelated form: join against
    * the aggregated minimum, the pattern the optimizer rewrites
    * correlated subqueries into.
    */
  def q2MinPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    val mins = p.groupBy(col("p_type").as("t"))
      .agg(min("p_retailprice").as("min_price"))
    p.join(broadcast(mins),
        col("p_type") === col("t") &&
          col("p_retailprice") === col("min_price"))
      .select("p_partkey", "p_type", "p_retailprice")
      .orderBy("p_partkey")
  }

  val q2MinPerGroupSql: String =
    """SELECT p_partkey, p_type, p_retailprice
      |FROM part
      |WHERE p_retailprice = (
      |  SELECT MIN(p2.p_retailprice) FROM part p2
      |  WHERE p2.p_type = part.p_type)
      |ORDER BY p_partkey""".stripMargin

  /** #57 cohort retention: users grouped by first-activity week, counted
    * in each subsequent week they stay active — the cohort matrix. Two
    * keyed aggregations and one join on user_id; the matrix itself is
    * tiny (weeks²).
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    val ev = Tables.eventsUs(spark, dir)
    val cohort = ev.groupBy("user_id")
      .agg((min("ts_us") / weekUs).cast("long").as("cohort_week"))
    val active = ev
      .select(col("user_id"), (col("ts_us") / weekUs).cast("long").as("week"))
      .distinct()
    active.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val eventsRetentionSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week
      |           FROM events),
      |cohort AS (SELECT user_id, MIN(week) AS cohort_week
      |           FROM e GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id, week FROM e)
      |SELECT cohort_week, week - cohort_week AS week_offset,
      |  COUNT(*) AS n_users
      |FROM active JOIN cohort USING (user_id)
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** #49 keep-best dedup: compose duplicate clusters with the quality
    * score and keep the highest-quality doc per cluster (tie -> min
    * doc_id) — the actual final step of a dedup pipeline: one survivor
    * per CLUSTER, chosen by quality, not arbitrary min-id.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    keepBest(dedupCluster(spark, dir),
      TextAnalysis.textQuality(spark, dir).select("doc_id", "quality"))

  /** Keep-best over PRECOMPUTED clusters + quality inputs — factored so
    * the capstone composes it without re-running the cluster pipeline
    * (LSH banding + iterative label propagation, the two most expensive
    * subplans in the suite).
    */
  def keepBest(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val w = Window.partitionBy("cluster_root")
      .orderBy(desc("quality"), col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("cluster_root"), col("doc_id").as("keep_id"),
        col("cluster_size"), col("quality"))
      .orderBy("cluster_root")
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE pr AS (SELECT * FROM $pairsSub),
       |e AS (SELECT id_a AS a, id_b AS b FROM pr
       |      UNION SELECT id_b, id_a FROM pr),
       |reach(id, r) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
       |lab AS (SELECT id, MIN(r) AS cluster_root FROM reach GROUP BY id),
       |sz AS (SELECT cluster_root, COUNT(*) AS cluster_size
       |       FROM lab GROUP BY cluster_root),
       |q AS (
       |  SELECT doc_id,
       |    ${r4Sql("0.4 * (1.0 - len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) / CAST(len(string_split(text, ' ')) AS DOUBLE)) + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), t -> length(t) <= 2)) / CAST(len(string_split(text, ' ')) AS DOUBLE)) + 0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)")}
       |      AS quality
       |  FROM documents),
       |ranked AS (
       |  SELECT lab.cluster_root, lab.id, sz.cluster_size, q.quality,
       |    ROW_NUMBER() OVER (PARTITION BY lab.cluster_root
       |      ORDER BY q.quality DESC, lab.id) AS rk
       |  FROM lab JOIN sz USING (cluster_root) JOIN q ON q.doc_id = lab.id)
       |SELECT cluster_root, id AS keep_id, cluster_size, quality
       |FROM ranked WHERE rk = 1 ORDER BY cluster_root""".stripMargin

  /** #52 CUBE aggregation: all grouping-set combinations of
    * (returnflag, linestatus) with grand totals — the full
    * grouping-sets lattice (ROLLUP's bigger sibling).
    */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(sumDec(col("l_quantity"), 18, 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  val aggCubeSql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  ${sumDecSql("l_quantity", 18, 2)} AS sum_qty,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** #53 sketch-based distinct counting: per-source distinct-trigram
    * cardinality by a KMV sketch (custom Catalyst
    * TypedImperativeAggregate, k=64) next to the exact count. The
    * sketch's partial state is 64 longs — at 100 TB only sketches
    * cross the shuffle, never the element sets; md5-derived hashes
    * make the estimate oracle-reproducible to the bit.
    */
  def aggKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.spread(spark, dir, "documents")
      .withColumn("hs", expr("ngram_md5_hashes(split(text, ' '), 3)"))
      .select("source", "doc_id", "hs")
    val sketch = g.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("kmv_distinct(hs, 64)").as("kmv_raw"))
    val exact = g.select(col("source"), explode(col("hs")).as("h"))
      .groupBy("source")
      .agg(countDistinct("h").as("exact_distinct"))
    sketch.join(exact, "source")
      .select(col("source"), col("n_docs"), col("exact_distinct"),
        r4(col("kmv_raw")).as("kmv_estimate"))
      .orderBy("source")
  }

  val aggKmvDistinctSql: String =
    s"""WITH g AS (
       |  SELECT source, doc_id, list_distinct(list_transform(
       |    range(1, len(sp) - 1),
       |    i -> sp[i] || ' ' || sp[i + 1] || ' ' || sp[i + 2])) AS grams
       |  FROM (SELECT source, doc_id, string_split(text, ' ') AS sp
       |        FROM documents)),
       |h AS (
       |  SELECT DISTINCT source,
       |    ('0x' || substr(md5(gram), 1, 16))::UBIGINT AS hv
       |  FROM (SELECT source, unnest(grams) AS gram FROM g)),
       |ranked AS (
       |  SELECT source, hv, ROW_NUMBER() OVER (
       |    PARTITION BY source ORDER BY hv) AS rn
       |  FROM h),
       |kth AS (SELECT source, hv FROM ranked WHERE rn = 64),
       |exact AS (SELECT source, COUNT(*) AS exact_distinct
       |          FROM h GROUP BY source),
       |nd AS (SELECT source, COUNT(*) AS n_docs FROM g GROUP BY source)
       |SELECT nd.source, nd.n_docs, exact.exact_distinct,
       |  ${r4Sql("CASE WHEN exact.exact_distinct < 64 " +
                  "THEN CAST(exact.exact_distinct AS DOUBLE) " +
                  "ELSE 63.0 / (kth.hv::DOUBLE / 18446744073709551616.0) END")}
       |    AS kmv_estimate
       |FROM nd JOIN exact USING (source) LEFT JOIN kth USING (source)
       |ORDER BY source""".stripMargin

  /** #62 THE pipeline, composed end-to-end: near-dup clusters drop
    * everything but their best-quality member, survivors pass a quality
    * floor and a deterministic 75% sample, and the cleaned corpus is
    * summarized per language. Each stage is an operator verified on its
    * own above; this query proves they compose (the engine's whole
    * point: one declarative plan from raw corpus to training set).
    */
  def pipelineCleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    // clusters are computed ONCE (the plan is rooted at dedupCluster's
    // checkpointed labels) and persisted: both the keep-best ranking and
    // the drop-list join read the same materialization. Slot-bounded
    // (one cached cluster table across repeated calls, not one per call)
    val clusters = graft.Tables.persistSlot("pipeline.cleanCorpus.clusters",
      dedupCluster(spark, dir))
    val quality = TextAnalysis.textQuality(spark, dir)
      .select("doc_id", "quality")
    val keeps = keepBest(clusters, quality).select("cluster_root", "keep_id")
    val drops = clusters.select("doc_id", "cluster_root")
      .join(keeps, "cluster_root")
      .where(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    Tables(spark, dir, "documents")
      .join(drops, Seq("doc_id"), "left_anti")
      .join(quality, "doc_id")
      .where(col("quality") >= 0.5)
      .where(conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long") < 192)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        r4((sum(col("quality").cast("decimal(18,6)")) / count(lit(1)))
          .cast("double")).as("avg_quality"))
      .orderBy("lang")
  }

  val pipelineCleanCorpusSql: String = {
    val qualityExpr = r4Sql(
      "0.4 * (1.0 - len(list_filter(string_split(text, ' '), " +
        "t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) " +
        "/ CAST(len(string_split(text, ' ')) AS DOUBLE)) " +
      "+ 0.3 * (1.0 - len(list_filter(string_split(text, ' '), " +
        "t -> length(t) <= 2)) " +
        "/ CAST(len(string_split(text, ' ')) AS DOUBLE)) " +
      "+ 0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) " +
        "/ 100.0, 1.0)")
    s"""WITH RECURSIVE pr AS (SELECT * FROM $pairsSub),
       |e AS (SELECT id_a AS a, id_b AS b FROM pr
       |      UNION SELECT id_b, id_a FROM pr),
       |reach(id, r) AS (
       |  SELECT a, a FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
       |lab AS (SELECT id, MIN(r) AS cluster_root FROM reach GROUP BY id),
       |q AS (SELECT doc_id, $qualityExpr AS quality FROM documents),
       |keeps AS (
       |  SELECT cluster_root, id AS keep_id FROM (
       |    SELECT lab.cluster_root, lab.id, ROW_NUMBER() OVER (
       |      PARTITION BY lab.cluster_root
       |      ORDER BY q.quality DESC, lab.id) AS rk
       |    FROM lab JOIN q ON q.doc_id = lab.id)
       |  WHERE rk = 1),
       |drops AS (
       |  SELECT lab.id AS doc_id FROM lab JOIN keeps USING (cluster_root)
       |  WHERE lab.id <> keeps.keep_id)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  ${r4Sql("CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)" +
                  " / COUNT(*)")} AS avg_quality
       |FROM documents
       |JOIN q USING (doc_id)
       |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |  AND quality >= 0.5
       |  AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT < 192
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- #106
  /** #106 RFM segmentation: recency / frequency / monetary quartile
    * bands per customer with the composite 3-digit score — the classic
    * customer-value lattice. The customer rollup is one keyed agg
    * (map-side combine); the reference date is a 1-row broadcast; the
    * three NTILE windows are global rankings, but — like #85 — they
    * sort the already-aggregated customer table, never the fact scan,
    * and every ranking key carries the o_custkey tie-break so bands
    * are engine-deterministic.
    */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables(spark, dir, "orders")
    val refd = o.agg(max(col("o_orderdate").cast("date")).as("ref_date"))
    val cust = o.groupBy("o_custkey")
      .agg(max(col("o_orderdate").cast("date")).as("last_date"),
        count(lit(1)).as("frequency"),
        sumDec(col("o_totalprice"), 18, 2).as("monetary"))
      .crossJoin(broadcast(refd))
      .withColumn("recency_days",
        datediff(col("ref_date"), col("last_date")).cast("long"))
    val rW = Window.orderBy(col("recency_days"), col("o_custkey"))
    val fW = Window.orderBy(desc("frequency"), col("o_custkey"))
    val mW = Window.orderBy(desc("monetary"), col("o_custkey"))
    cust
      .withColumn("r_band", ntile(4).over(rW).cast("long"))
      .withColumn("f_band", ntile(4).over(fW).cast("long"))
      .withColumn("m_band", ntile(4).over(mW).cast("long"))
      .withColumn("rfm",
        col("r_band") * 100 + col("f_band") * 10 + col("m_band"))
      .select("o_custkey", "recency_days", "frequency", "monetary",
        "r_band", "f_band", "m_band", "rfm")
      .orderBy("o_custkey")
  }

  val ordersRfmSql: String =
    s"""WITH cust AS (
       |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_date,
       |    COUNT(*) AS frequency,
       |    ${sumDecSql("o_totalprice", 18, 2)} AS monetary
       |  FROM orders GROUP BY o_custkey),
       |refd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_date
       |  FROM orders),
       |r AS (
       |  SELECT o_custkey,
       |    date_diff('day', last_date, ref_date) AS recency_days,
       |    frequency, monetary
       |  FROM cust CROSS JOIN refd),
       |b AS (
       |  SELECT *,
       |    CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey)
       |      AS BIGINT) AS r_band,
       |    CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey)
       |      AS BIGINT) AS f_band,
       |    CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey)
       |      AS BIGINT) AS m_band
       |  FROM r)
       |SELECT o_custkey, recency_days, frequency, monetary,
       |  r_band, f_band, m_band,
       |  r_band * 100 + f_band * 10 + m_band AS rfm
       |FROM b ORDER BY o_custkey""".stripMargin

  // --------------------------------------------------------------- #110
  /** #110 ABC (Pareto) classification: customers ranked by revenue,
    * classed A/B/C at 50%/80% cumulative share — the inventory-
    * analysis staple. The cumulative sum runs as a DECIMAL window over
    * the customer-sized aggregate (exact prefix sums — no float drift
    * in the running total), the grand total is the unbounded frame of
    * the same window spec (one sort, two frames), and only the final
    * share division drops to double under r4.
    */
  def ordersAbc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
    val ord = Window.orderBy(desc("revenue"), col("o_custkey"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    rev
      .withColumn("cum_share", r4(
        sum(col("revenue")).over(cum).cast("double") /
          sum(col("revenue")).over(all).cast("double")))
      .withColumn("abc_class",
        when(col("cum_share") <= 0.5, "A")
          .when(col("cum_share") <= 0.8, "B")
          .otherwise("C"))
      .select(col("o_custkey"), col("revenue").cast("double").as("revenue"),
        col("cum_share"), col("abc_class"))
      .orderBy("o_custkey")
  }

  val ordersAbcSql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
       |  FROM orders GROUP BY o_custkey),
       |c AS (
       |  SELECT o_custkey, revenue,
       |    ${r4Sql(
            """CAST(SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS DOUBLE)
              |    / CAST(SUM(revenue) OVER () AS DOUBLE)""".stripMargin)}
       |      AS cum_share
       |  FROM rev)
       |SELECT o_custkey, CAST(revenue AS DOUBLE) AS revenue, cum_share,
       |  CASE WHEN cum_share <= 0.5 THEN 'A'
       |       WHEN cum_share <= 0.8 THEN 'B' ELSE 'C' END AS abc_class
       |FROM c ORDER BY o_custkey""".stripMargin

  // --------------------------------------------------------------- #111
  /** #111 theta-band join: orders matched to a literal price-tier
    * dimension on a pure range predicate (no equi key) — the one join
    * shape whose physical form is BroadcastNestedLoopJoin. That plan
    * is EXACTLY right here and wrong almost everywhere else: the tier
    * table is O(1) rows, so BNLJ is a per-row scan of a 5-entry
    * broadcast array; with a fact-sized right side it would be a
    * disaster, which is why every other non-equi join in this repo
    * (join_range #11, q4 #73) carries an equi key for the shuffle and
    * keeps the range as a residual.
    */
  def joinThetaBands(spark: SparkSession, dir: String): DataFrame = {
    val sq = spark
    import sq.implicits._
    val tiers = Seq(
      ("T1", 0.0, 50000.0), ("T2", 50000.0, 100000.0),
      ("T3", 100000.0, 200000.0), ("T4", 200000.0, 400000.0),
      ("T5", 400000.0, 1e12))
      .toDF("tier", "lo", "hi")
    Tables(spark, dir, "orders")
      .join(broadcast(tiers),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_orders"),
        sumDec(col("o_totalprice"), 18, 2).as("revenue"))
      .orderBy("tier")
  }

  val joinThetaBandsSql: String =
    s"""WITH tiers(tier, lo, hi) AS (VALUES
       |  ('T1', 0.0, 50000.0), ('T2', 50000.0, 100000.0),
       |  ('T3', 100000.0, 200000.0), ('T4', 200000.0, 400000.0),
       |  ('T5', 400000.0, 1e12))
       |SELECT tier, COUNT(*) AS n_orders,
       |  ${sumDecSql("o_totalprice", 18, 2)} AS revenue
       |FROM orders JOIN tiers
       |  ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY tier ORDER BY tier""".stripMargin

  // --------------------------------------------------------------- #112
  /** #112 A/B lift analysis: users split by a deterministic hash of
    * their id (the standard bucketing assignment), per-variant mean
    * purchase value per user, and the relative lift. Two keyed aggs
    * (user rollup → variant rollup), both map-side combining; means
    * are decimal-sum / exact count with ONE double division each, and
    * the lift is one more — engine-stable under r4.
    */
  def eventsAbLift(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.eventsUs(spark, dir)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sumDec(col("value"), 18, 2).as("user_value"))
      .withColumn("variant",
        when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"))
    val stats = perUser.groupBy("variant")
      .agg(count(lit(1)).as("users"),
        (sumDec(col("user_value"), 18, 2) / count(lit(1))).as("mean_value"))
    stats.agg(
        max(when(col("variant") === "A", col("users"))).as("users_a"),
        max(when(col("variant") === "B", col("users"))).as("users_b"),
        max(when(col("variant") === "A", col("mean_value"))).as("mean_a"),
        max(when(col("variant") === "B", col("mean_value"))).as("mean_b"))
      .select(col("users_a"), col("users_b"),
        r4(col("mean_a")).as("mean_a"), r4(col("mean_b")).as("mean_b"),
        r4((col("mean_b") - col("mean_a")) / col("mean_a")).as("lift"))
  }

  val eventsAbLiftSql: String = {
    val meanFor = (v: String) =>
      s"""MAX(CASE WHEN variant = '$v' THEN mean_value END)"""
    s"""WITH pu AS (
       |  SELECT user_id, ${sumDecSql("value", 18, 2)} AS user_value,
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |s AS (
       |  SELECT variant, COUNT(*) AS users,
       |    ${sumDecSql("user_value", 18, 2)} / COUNT(*) AS mean_value
       |  FROM pu GROUP BY variant)
       |SELECT
       |  MAX(CASE WHEN variant = 'A' THEN users END) AS users_a,
       |  MAX(CASE WHEN variant = 'B' THEN users END) AS users_b,
       |  ${r4Sql(meanFor("A"))} AS mean_a,
       |  ${r4Sql(meanFor("B"))} AS mean_b,
       |  ${r4Sql(s"(${meanFor("B")} - ${meanFor("A")}) / ${meanFor("A")}")}
       |    AS lift
       |FROM s""".stripMargin
  }

  // --------------------------------------------------------------- #113
  /** #113 cohort LTV: customers grouped by first-order month, tracking
    * average CUMULATIVE revenue per customer at each month offset —
    * the monetary sibling of the retention matrix (#57). Three keyed
    * aggs (order-month rollup → cohort cells → running frame over the
    * tiny cohort×offset matrix); the cumulative sum windows over the
    * aggregated matrix, never the fact table, and stays decimal until
    * the final per-customer division.
    */
  def ordersCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("mo"))
    val first = o.groupBy("o_custkey").agg(min(col("mo")).as("cohort_mo"))
    val cells = o.join(first, "o_custkey")
      .withColumn("offset", col("mo") - col("cohort_mo"))
      .groupBy("cohort_mo", "offset")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val sizes = first.groupBy("cohort_mo")
      .agg(count(lit(1)).as("cohort_users"))
    val cum = Window.partitionBy("cohort_mo").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(sizes, "cohort_mo")
      .withColumn("cum_rev", sum(col("rev")).over(cum))
      .select(col("cohort_mo"), col("offset"), col("cohort_users"),
        r4(col("cum_rev").cast("double") /
          col("cohort_users").cast("double")).as("ltv_per_user"))
      .orderBy("cohort_mo", "offset")
  }

  val ordersCohortLtvSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, o_totalprice,
       |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mo
       |  FROM orders),
       |first AS (
       |  SELECT o_custkey, MIN(mo) AS cohort_mo FROM o GROUP BY o_custkey),
       |cells AS (
       |  SELECT cohort_mo, mo - cohort_mo AS "offset",
       |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
       |  FROM o JOIN first USING (o_custkey)
       |  GROUP BY 1, 2),
       |sizes AS (
       |  SELECT cohort_mo, COUNT(*) AS cohort_users
       |  FROM first GROUP BY cohort_mo)
       |SELECT cohort_mo, "offset", cohort_users,
       |  ${r4Sql(
          """CAST(SUM(rev) OVER (PARTITION BY cohort_mo ORDER BY "offset"
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            |    AS DOUBLE) / CAST(cohort_users AS DOUBLE)""".stripMargin)}
       |    AS ltv_per_user
       |FROM cells JOIN sizes USING (cohort_mo)
       |ORDER BY cohort_mo, "offset"""".stripMargin

  // --------------------------------------------------------------- #114
  /** #114 histogram-quantile estimation: per-group fixed-bin (256-wide)
    * histograms → binned p50/p95 estimates, with the exact percentiles
    * alongside so the approximation error is observable. The histogram
    * is the mergeable-quantile scale story: partials are ≤256 ints per
    * group (map-side combinable, associative) instead of the full
    * value set a true percentile needs — the same
    * sketch-instead-of-domain trade as KMV (#53) and MG (#104). The
    * cumulative threshold tests are INTEGER inequalities
    * (2·cum ≥ n, 20·cum ≥ 19·n), so bin selection is engine-exact.
    */
  def aggHistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binW = 2500.0
    val o = Tables(spark, dir, "orders")
      .withColumn("bin",
        least(lit(255), floor(col("o_totalprice") / binW)).cast("int"))
    val hist = o.groupBy("o_orderpriority", "bin")
      .agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy("o_orderpriority").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy("o_orderpriority")
    val est = hist
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n", sum(col("c")).over(allW))
      .groupBy("o_orderpriority")
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 2 >= col("n"), (col("bin") + 1) * binW))
          .as("est_p50"),
        min(when(col("cum") * 20 >= col("n") * 19, (col("bin") + 1) * binW))
          .as("est_p95"))
    val exact = o.groupBy("o_orderpriority")
      .agg(r4(expr("percentile(o_totalprice, 0.5)")).as("exact_p50"),
        r4(expr("percentile(o_totalprice, 0.95)")).as("exact_p95"))
    est.join(exact, "o_orderpriority")
      .select("o_orderpriority", "n", "est_p50", "exact_p50",
        "est_p95", "exact_p95")
      .orderBy("o_orderpriority")
  }

  val aggHistQuantilesSql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority,
       |    CAST(least(255, floor(o_totalprice / 2500.0)) AS INT) AS bin,
       |    o_totalprice
       |  FROM orders),
       |hist AS (
       |  SELECT o_orderpriority, bin, COUNT(*) AS c
       |  FROM o GROUP BY 1, 2),
       |cum AS (
       |  SELECT o_orderpriority, bin, c,
       |    SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(c) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM hist),
       |est AS (
       |  SELECT o_orderpriority, MAX(n) AS n,
       |    MIN(CASE WHEN cum * 2 >= n THEN (bin + 1) * 2500.0 END)
       |      AS est_p50,
       |    MIN(CASE WHEN cum * 20 >= n * 19 THEN (bin + 1) * 2500.0 END)
       |      AS est_p95
       |  FROM cum GROUP BY o_orderpriority),
       |ex AS (
       |  SELECT o_orderpriority,
       |    ${r4Sql("quantile_cont(o_totalprice, 0.5)")} AS exact_p50,
       |    ${r4Sql("quantile_cont(o_totalprice, 0.95)")} AS exact_p95
       |  FROM o GROUP BY o_orderpriority)
       |SELECT est.o_orderpriority, CAST(n AS BIGINT) AS n,
       |  est_p50, exact_p50, est_p95, exact_p95
       |FROM est JOIN ex USING (o_orderpriority)
       |ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- #115
  /** #115 seasonality matrix: event volume and audience by (day-of-week
    * × hour-of-day) — the load-heatmap every event system reports.
    * Bucketing is pure integer epoch math (no timezone/calendar
    * functions, which round differently across engines); one keyed agg
    * with map-side combine.
    */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(spark, dir)
      // epoch day 0 = Thursday → +4 aligns Monday=0
      .withColumn("dow", expr("((ts_us div 86400000000) + 3) % 7"))
      .withColumn("hour", expr("(ts_us div 3600000000) % 24"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("users"))
      .orderBy("dow", "hour")

  val eventsSeasonalitySql: String =
    """SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
      |  (epoch_us(ts) // 3600000000) % 24 AS hour,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY dow, hour""".stripMargin

  // --------------------------------------------------------------- #123
  /** #123 MAD (median-absolute-deviation) robust outliers: per group,
    * the median, the MAD, and how many orders sit outside
    * median ± 3·1.4826·MAD — the robust complement of the z-score
    * detectors (#82), immune to the outliers it hunts. Two aggregation
    * passes over the same grouping (median, then deviations against
    * the broadcast medians) + one counting pass; the 1.4826
    * normal-consistency constant and the threshold comparison are
    * plain IEEE ops on r4-disciplined medians, identical both engines.
    */
  def aggMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    val med = o.groupBy("o_orderpriority")
      .agg(r4(expr("percentile(o_totalprice, 0.5)")).as("med"))
    val dev = o.join(broadcast(med), "o_orderpriority")
      .withColumn("adev", abs(col("o_totalprice") - col("med")))
    val mad = dev.groupBy("o_orderpriority")
      .agg(r4(expr("percentile(adev, 0.5)")).as("mad"),
        max(col("med")).as("med"))
    dev.select("o_orderpriority", "o_orderkey", "o_totalprice")
      .join(broadcast(mad), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(when(abs(col("o_totalprice") - col("med")) >
          lit(3.0) * lit(1.4826) * col("mad"), 1)).as("n_outliers"))
      .orderBy("o_orderpriority")
  }

  val aggMadOutliersSql: String =
    s"""WITH med AS (
       |  SELECT o_orderpriority,
       |    ${r4Sql("quantile_cont(o_totalprice, 0.5)")} AS med
       |  FROM orders GROUP BY o_orderpriority),
       |dev AS (
       |  SELECT o.o_orderpriority, o_orderkey, o_totalprice, med,
       |    abs(o_totalprice - med) AS adev
       |  FROM orders o JOIN med USING (o_orderpriority)),
       |mad AS (
       |  SELECT o_orderpriority,
       |    ${r4Sql("quantile_cont(adev, 0.5)")} AS mad,
       |    MAX(med) AS med
       |  FROM dev GROUP BY o_orderpriority)
       |SELECT dev.o_orderpriority, COUNT(*) AS n,
       |  MAX(mad.med) AS med, MAX(mad.mad) AS mad,
       |  COUNT(*) FILTER (WHERE abs(o_totalprice - mad.med) >
       |    3.0 * 1.4826 * mad.mad) AS n_outliers
       |FROM dev JOIN mad USING (o_orderpriority)
       |GROUP BY dev.o_orderpriority
       |ORDER BY dev.o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_token_impact" -> (dedupTokenImpact _),
    "agg_mad_outliers" -> (aggMadOutliers _),
    "agg_hist_quantiles" -> (aggHistQuantiles _),
    "events_seasonality" -> (eventsSeasonality _),
    "orders_cohort_ltv" -> (ordersCohortLtv _),
    "join_theta_bands" -> (joinThetaBands _),
    "events_ab_lift" -> (eventsAbLift _),
    "orders_abc" -> (ordersAbc _),
    "orders_rfm" -> (ordersRfm _),
    "pipeline_clean_corpus" -> (pipelineCleanCorpus _),
    "agg_kmv_distinct" -> (aggKmvDistinct _),
    "agg_cube" -> (aggCube _),
    "dedup_cluster" -> (dedupCluster _),
    "dedup_cluster_stats" -> (dedupClusterStats _),
    "dedup_semantic" -> (dedupSemantic _),
    "text_tfidf" -> (textTfidf _),
    "ts_sliding" -> (tsSliding _),
    "sample_stratified" -> (sampleStratified _),
    "q18_large_orders" -> (q18LargeOrders _),
    "agg_salted" -> (aggSalted _),
    "window_moving_avg" -> (windowMovingAvg _),
    "window_time_range" -> (windowTimeRange _),
    "events_funnel" -> (eventsFunnel _),
    "events_retention" -> (eventsRetention _),
    "hist_order_values" -> (histOrderValues _),
    "ts_gap_fill" -> (tsGapFill _),
    "orders_monthly" -> (ordersMonthly _),
    "q2_min_per_group" -> (q2MinPerGroup _),
    "dedup_keep_best" -> (dedupKeepBest _))

  val oracles: Map[String, String] = Map(
    "dedup_token_impact" -> dedupTokenImpactSql,
    "agg_mad_outliers" -> aggMadOutliersSql,
    "agg_hist_quantiles" -> aggHistQuantilesSql,
    "events_seasonality" -> eventsSeasonalitySql,
    "orders_cohort_ltv" -> ordersCohortLtvSql,
    "join_theta_bands" -> joinThetaBandsSql,
    "events_ab_lift" -> eventsAbLiftSql,
    "orders_abc" -> ordersAbcSql,
    "orders_rfm" -> ordersRfmSql,
    "pipeline_clean_corpus" -> pipelineCleanCorpusSql,
    "agg_kmv_distinct" -> aggKmvDistinctSql,
    "agg_cube" -> aggCubeSql,
    "dedup_cluster" -> dedupClusterSql,
    "dedup_cluster_stats" -> dedupClusterStatsSql,
    "dedup_semantic" -> dedupSemanticSql,
    "text_tfidf" -> textTfidfSql,
    "ts_sliding" -> tsSlidingSql,
    "sample_stratified" -> sampleStratifiedSql,
    "q18_large_orders" -> q18LargeOrdersSql,
    "agg_salted" -> aggSaltedSql,
    "window_moving_avg" -> windowMovingAvgSql,
    "window_time_range" -> windowTimeRangeSql,
    "events_funnel" -> eventsFunnelSql,
    "events_retention" -> eventsRetentionSql,
    "hist_order_values" -> histOrderValuesSql,
    "ts_gap_fill" -> tsGapFillSql,
    "orders_monthly" -> ordersMonthlySql,
    "q2_min_per_group" -> q2MinPerGroupSql,
    "dedup_keep_best" -> dedupKeepBestSql)
}
