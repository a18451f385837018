package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Round-11 widening (SURVEY.md §2 #220+): the catalog-analytics and
  * curation-forensics shapes the inventory still lacked — growth
  * accounting over the event log, supply-chain performance reads on the
  * relational star, cross-source duplication forensics, the ANN probe
  * dial scored as a recall/cost CURVE, and series decomposition.
  *
  * Reference grounding: the event-log operators extend the reference's
  * event-sourced job state machine (reactor.py:119-145 — state is
  * derivable from an append-only event history; growth accounting and
  * inter-arrival profiles are the fleet-level reads of that same log).
  * The relational reads are catalog discovery over the star schema
  * (reactor.py:147-218 indexes outputs for exactly this kind of
  * downstream analytics).
  *
  * Cross-engine exactness (the repo-wide contract): every aggregate is
  * an exact int64/decimal count or sum; each emitted ratio is ONE r4'd
  * IEEE op block over exact inputs; order statistics are selected by
  * exact integer rank with unique-column tie-breaks, never interpolated.
  *
  * Scale: each operator is one or two keyed shuffles with map-side
  * combine; dims ride size-gated broadcasts; whole-table windows appear
  * only over structure-sized frames (bucket tables of ≤ tens of rows)
  * and are commented at the site.
  */
object Zenith {

  // --------------------------------------------------------------- #220
  /** #220 weekly growth accounting over the event log: each (user,
    * week) activity cell is classified `new` (first-ever week),
    * `retained` (active the prior week) or `resurrected` (returning
    * after a gap); `churned` counts users whose activity lapsed INTO
    * this week (active week w-1, silent in w). The canonical
    * startup-metrics identity n_active = n_new + n_retained +
    * n_resurrected holds by construction, and churn is the lead-gap
    * mirror of resurrection — both are spec-pinned.
    *
    * Scale: one distinct over (user, week) — a keyed shuffle with
    * map-side combine — then ONE lag/lead window per user (users
    * partition; weeks-per-user is bounded by the calendar). The weekly
    * rollup is structure-sized (|weeks| rows).
    */
  def eventsLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.eventsUs(spark, dir)
      .select(col("user_id"), expr("ts_us div 604800000000").as("week"))
      .distinct()
    val wUser = Window.partitionBy("user_id").orderBy("week")
    val lab = act
      .withColumn("prev_wk", lag("week", 1).over(wUser))
      .withColumn("next_wk", lead("week", 1).over(wUser))
    val weekly = lab.groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("prev_wk").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_wk") === col("week") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_wk").isNotNull &&
            col("prev_wk") < col("week") - 1, 1L).otherwise(0L))
          .as("n_resurrected"))
    // churn lands on the FOLLOWING week: active in w, silent in w+1.
    val churn = lab
      .where(col("next_wk").isNull || col("next_wk") > col("week") + 1)
      .groupBy((col("week") + 1).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    weekly.join(churn, Seq("week"), "left")
      .na.fill(0L, Seq("n_churned"))
      .orderBy("week")
  }

  val eventsLifecycleSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
      |  FROM events),
      |lab AS (
      |  SELECT user_id, week,
      |    LAG(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_wk,
      |    LEAD(week) OVER (PARTITION BY user_id ORDER BY week) AS next_wk
      |  FROM act),
      |weekly AS (
      |  SELECT week,
      |    CAST(COUNT(*) AS BIGINT) AS n_active,
      |    CAST(COUNT(*) FILTER (WHERE prev_wk IS NULL) AS BIGINT) AS n_new,
      |    CAST(COUNT(*) FILTER (WHERE prev_wk = week - 1) AS BIGINT)
      |      AS n_retained,
      |    CAST(COUNT(*) FILTER (WHERE prev_wk IS NOT NULL
      |      AND prev_wk < week - 1) AS BIGINT) AS n_resurrected
      |  FROM lab GROUP BY week),
      |churn AS (
      |  SELECT week + 1 AS week, CAST(COUNT(*) AS BIGINT) AS n_churned
      |  FROM lab WHERE next_wk IS NULL OR next_wk > week + 1
      |  GROUP BY week + 1)
      |SELECT w.week, n_active, n_new, n_retained, n_resurrected,
      |  COALESCE(c.n_churned, 0) AS n_churned
      |FROM weekly w LEFT JOIN churn c ON w.week = c.week
      |ORDER BY w.week""".stripMargin

  // --------------------------------------------------------------- #221
  /** #221 per-supplier order→ship lead time: days between the order
    * date and each line's ship date, rolled up to supplier-level
    * fulfilment stats (n, min/max, exact-count slow lines > 90 days,
    * ONE-division mean and slow-rate). The supply-chain performance
    * read beside #119's backlog curve — "who is slow", not "how much
    * is open".
    *
    * Scale: fact⋈fact equi-join shuffles once on orderkey (both sides
    * pruned to 2-3 columns), then one keyed agg with map-side combine
    * to |suppliers| rows.
    */
  def ordersSupplierLeadtime(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("suppkey"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("days"))
      .groupBy("suppkey")
      .agg(count(lit(1)).as("n_lines"),
        min("days").as("min_days"), max("days").as("max_days"),
        sum("days").as("sum_days"),
        sum(when(col("days") > 90, 1L).otherwise(0L)).as("n_slow"))
      .select(col("suppkey"), col("n_lines"), col("min_days"),
        col("max_days"), col("n_slow"),
        r4(col("sum_days").cast("double") / col("n_lines")).as("avg_days"),
        r4(col("n_slow").cast("double") / col("n_lines")).as("slow_rate"))
      .orderBy("suppkey")
  }

  val ordersSupplierLeadtimeSql: String =
    s"""WITH d AS (
       |  SELECT l_suppkey AS suppkey,
       |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
       |      CAST(l_shipdate AS DATE)) AS BIGINT) AS days
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       |SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  MIN(days) AS min_days, MAX(days) AS max_days,
       |  CAST(COUNT(*) FILTER (WHERE days > 90) AS BIGINT) AS n_slow,
       |  ${r4Sql("SUM(days) / CAST(COUNT(*) AS DOUBLE)")} AS avg_days,
       |  ${r4Sql("COUNT(*) FILTER (WHERE days > 90) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS slow_rate
       |FROM d GROUP BY suppkey ORDER BY suppkey""".stripMargin

  // --------------------------------------------------------------- #228
  /** #228 supplier concentration per nation: the Herfindahl–Hirschman
    * index of each nation's lineitem volume across its suppliers —
    * HHI = Σ c_s² / (Σ c_s)², 1/n (perfectly spread) … 1 (single
    * supplier). The procurement-risk complement of #133's Gini (which
    * measures value inequality across customers).
    *
    * Exactness: per-supplier counts are exact int64; squares sum
    * through DECIMAL(38,0) (int64 would overflow once a supplier holds
    * ~3×10⁹ lines); the denominator is one IEEE multiply of the exact
    * total, the ratio ONE r4'd division.
    *
    * Scale: lineitem touches only l_suppkey (pruned scan) → one keyed
    * agg to |suppliers| rows; the supplier/nation dims ride the
    * size-gated broadcast.
    */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select(col("l_suppkey"))
    val s = Tables(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val perSupp = li
      .join(Tables.maybeBroadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(count(lit(1)).as("c"))
    perSupp.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("c").as("total_lines"),
        sum(col("c").cast(DecimalType(19, 0)) *
          col("c").cast(DecimalType(19, 0))).as("sum_sq"))
      .join(Tables.maybeBroadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_suppliers"), col("total_lines"),
        r4(col("sum_sq").cast("double") /
          (col("total_lines").cast("double") *
            col("total_lines").cast("double"))).as("hhi"))
      .orderBy("n_name")
  }

  val supplierHhiSql: String =
    s"""WITH per_supp AS (
       |  SELECT s_nationkey, s_suppkey, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |per_nation AS (
       |  SELECT s_nationkey,
       |    CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       |    CAST(SUM(c) AS BIGINT) AS total_lines,
       |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS sum_sq
       |  FROM per_supp GROUP BY 1)
       |SELECT n_name, n_suppliers, total_lines,
       |  ${r4Sql("sum_sq / (CAST(total_lines AS DOUBLE) * " +
                  "CAST(total_lines AS DOUBLE))")} AS hhi
       |FROM per_nation JOIN nation ON s_nationkey = n_nationkey
       |ORDER BY n_name""".stripMargin

  // --------------------------------------------------------------- #229
  /** #229 basket-size profile: orders grouped by line count, with each
    * bucket's population share and mean distinct-part width — the
    * order-shape distribution that sizes the co-purchase graph (#116's
    * pair space grows with Σ n_items², so this table IS its cost
    * model).
    *
    * Scale: one keyed agg per order, then a second agg to the
    * structure-sized bucket table (|distinct n_items| rows ≈ tens);
    * the share window runs over THAT table only, so the unpartitioned
    * window is a few-row driver-local frame, never a data-sized one.
    */
  def ordersBasketProfile(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct("l_partkey").as("n_parts"))
    val dist = per.groupBy("n_items")
      .agg(count(lit(1)).as("n_orders"), sum("n_parts").as("sum_parts"))
    dist
      .withColumn("total", sum("n_orders").over(Window.partitionBy()))
      .select(col("n_items"), col("n_orders"),
        r4(col("n_orders").cast("double") / col("total")).as("order_share"),
        r4(col("sum_parts").cast("double") / col("n_orders")).as("avg_parts"))
      .orderBy("n_items")
  }

  val ordersBasketProfileSql: String =
    s"""WITH per AS (
       |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
       |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
       |  FROM lineitem GROUP BY 1),
       |dist AS (
       |  SELECT n_items, CAST(COUNT(*) AS BIGINT) AS n_orders,
       |    CAST(SUM(n_parts) AS BIGINT) AS sum_parts
       |  FROM per GROUP BY 1)
       |SELECT n_items, n_orders,
       |  ${r4Sql("n_orders / CAST(SUM(n_orders) OVER () AS DOUBLE)")}
       |    AS order_share,
       |  ${r4Sql("sum_parts / CAST(n_orders AS DOUBLE)")} AS avg_parts
       |FROM dist ORDER BY n_items""".stripMargin

  // --------------------------------------------------------------- #230
  /** #230 inter-arrival profile per event type: microsecond gaps
    * between consecutive events in the per-type (ts, id) total order —
    * exact count/max, ONE-division mean, and the median selected by
    * exact integer rank (the #181/#192 order-statistic device, never
    * interpolated). The arrival-process read beside #183's dispersion
    * flag: #183 says "is it Poisson", this says "at what rate, with
    * what tail".
    *
    * Scale: one window per event type, one keyed agg, one rank
    * selection over the gap table. The window partitions by
    * event_type ALONE — a fixed handful of keys (the reference's job
    * event taxonomy, reactor.py:28-49, is likewise a small constant) —
    * so per-type work serializes onto one task each; that ceiling is
    * measured (10× data → 5.2× wall, PLANS.md round-11 table). The
    * exact median needs the per-type total order, so the scale
    * mitigation when types × volume outgrow a task is the standard
    * low-cardinality-window split: sub-bucket each type by time
    * range, compute gaps within buckets, stitch the single boundary
    * gap per bucket pair.
    */
  def eventsInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"), col("ts_us"))
    val wSeq = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    val gaps = ev
      .withColumn("prev", lag("ts_us", 1).over(wSeq))
      .where(col("prev").isNotNull)
      .select(col("event_type"), col("event_id"),
        (col("ts_us") - col("prev")).as("gap_us"))
    val wRank = Window.partitionBy("event_type").orderBy("gap_us", "event_id")
    val med = gaps
      .withColumn("r", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("r") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("gap_us").as("p50_gap_us"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("gap_us").as("sum_gap"),
        max("gap_us").as("max_gap_us"))
      .join(med, "event_type")
      .select(col("event_type"), col("n_gaps"), col("p50_gap_us"),
        col("max_gap_us"),
        r4(col("sum_gap").cast("double") / col("n_gaps")).as("mean_gap_us"))
      .orderBy("event_type")
  }

  val eventsInterarrivalSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, event_id,
       |    CAST(epoch_us(ts) AS BIGINT) AS ts_us
       |  FROM events),
       |g AS (
       |  SELECT event_type, event_id, gap_us FROM (
       |    SELECT event_type, event_id, ts_us - LAG(ts_us) OVER (
       |      PARTITION BY event_type ORDER BY ts_us, event_id) AS gap_us
       |    FROM ev)
       |  WHERE gap_us IS NOT NULL),
       |med AS (
       |  SELECT event_type, gap_us AS p50_gap_us FROM (
       |    SELECT event_type, gap_us,
       |      ROW_NUMBER() OVER (PARTITION BY event_type
       |        ORDER BY gap_us, event_id) AS r,
       |      COUNT(*) OVER (PARTITION BY event_type) AS n
       |    FROM g)
       |  WHERE r = (n + 1) // 2),
       |s AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       |    CAST(SUM(gap_us) AS BIGINT) AS sum_gap,
       |    MAX(gap_us) AS max_gap_us
       |  FROM g GROUP BY 1)
       |SELECT s.event_type, n_gaps, p50_gap_us, max_gap_us,
       |  ${r4Sql("sum_gap / CAST(n_gaps AS DOUBLE)")} AS mean_gap_us
       |FROM s JOIN med USING (event_type)
       |ORDER BY s.event_type""".stripMargin

  // --------------------------------------------------------------- #225
  /** #225 corpus novelty curve: per document, the fraction of its
    * 8-token chunk TYPES (#68's tumbling device) appearing for the
    * first time in doc_id order — the "is new data buying new
    * content" readout at passage granularity, the per-DOC complement
    * of #196's vocabulary-level Heaps curve. A fully-duplicated doc
    * scores 0; the corpus opener scores 1 by construction (both
    * spec-pinned).
    *
    * Scale: the chunk table is linear in token volume ÷ 8; first
    * occurrence is ONE min-over-chunk-hash window Exchange, then one
    * keyed agg per doc. No pair joins anywhere.
    */
  def corpusNovelty(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.spread(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(Signatures.passageHashes(col("toks"), 8)).as("ph"))
      .distinct()
    val wPh = Window.partitionBy("ph")
    chunks
      .withColumn("first_doc", min("doc_id").over(wPh))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_chunks"), col("n_novel"),
        r4(col("n_novel").cast("double") / col("n_chunks")).as("novelty"))
      .orderBy("doc_id")
  }

  val corpusNoveltySql: String =
    s"""WITH raw AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split(text, ' ')) // 8 + 1),
       |    i -> md5(array_to_string(
       |      string_split(text, ' ')[(i - 1) * 8 + 1 : (i - 1) * 8 + 8],
       |      ' ')))) AS ph
       |  FROM documents),
       |p AS (SELECT DISTINCT doc_id, ph FROM raw),
       |f AS (
       |  SELECT doc_id, ph,
       |    MIN(doc_id) OVER (PARTITION BY ph) AS first_doc
       |  FROM p)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(*) FILTER (WHERE doc_id = first_doc) AS BIGINT)
       |    AS n_novel,
       |  ${r4Sql("COUNT(*) FILTER (WHERE doc_id = first_doc) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS novelty
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #226
  /** #226 cross-source shared-passage matrix: for every source pair,
    * how many 8-token chunk TYPES they share, with per-source type
    * counts and the r4'd Jaccard — the "same crawl under two names?"
    * forensic at PASSAGE granularity (#185 asks it of vocabularies,
    * which drift slowly; shared passages are the smoking gun). The
    * #189 audience-overlap device applied to content.
    *
    * Scale: the DISTINCT (source, chunk) projection bounds the
    * per-chunk join fan-out at |sources| rows a side, so the
    * ph-keyed self-join is ≤ |sources|² pairs per chunk type — never
    * doc×doc. Output is |sources|² rows.
    */
  def dedupSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val sp = Tables.spread(spark, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("source"),
        explode(Signatures.passageHashes(col("toks"), 8)).as("ph"))
      .distinct()
    val sizes = sp.groupBy("source").agg(count(lit(1)).as("n_types"))
    val a = sp.select(col("source").as("source_a"), col("ph"))
    val b = sp.select(col("source").as("source_b"), col("ph"))
    a.join(b, Seq("ph")).where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(Tables.maybeBroadcast(
        sizes.select(col("source").as("source_a"), col("n_types").as("na"))),
        "source_a")
      .join(Tables.maybeBroadcast(
        sizes.select(col("source").as("source_b"), col("n_types").as("nb"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("n_shared"),
        r4(col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared"))).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  val dedupSourceMatrixSql: String =
    s"""WITH raw AS (
       |  SELECT source, unnest(list_transform(
       |    range(1, len(string_split(text, ' ')) // 8 + 1),
       |    i -> md5(array_to_string(
       |      string_split(text, ' ')[(i - 1) * 8 + 1 : (i - 1) * 8 + 8],
       |      ' ')))) AS ph
       |  FROM documents),
       |sp AS (SELECT DISTINCT source, ph FROM raw),
       |sizes AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
       |  FROM sp GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM sp a JOIN sp b ON a.ph = b.ph AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, sa.n_types AS na, sb.n_types AS nb,
       |  n_shared,
       |  ${r4Sql("n_shared / CAST(sa.n_types + sb.n_types - n_shared " +
                  "AS DOUBLE)")} AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.source = source_a
       |JOIN sizes sb ON sb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin

  // --------------------------------------------------------------- #227
  /** #227 label-centroid similarity matrix: pairwise cosine between
    * per-label embedding centroids — the semantic counterpart of
    * #226's passage matrix ("do two slices MEAN the same thing") and
    * the geometry readout behind #101/#55's cluster structure: labels
    * whose centroids sit at cos ≈ 1 will thrash any label-partitioned
    * index. Cosine is scale-invariant, so centroids are represented
    * by per-dim SUMS (counts divide out) — the #190 drift device
    * widened from within-label halves to between-label pairs.
    *
    * Exactness: per-dim sums via the sumDec contract; the three dot
    * products fold over dim-sorted arrays (sequential, deterministic
    * in both engines), then 3 IEEE ops r4'd once per pair.
    *
    * Scale: one explode → keyed decimal agg to |labels|×dims rows;
    * the pair join and folds are structure-sized (|labels|²×dims).
    */
  def embedCentroidSim(spark: SparkSession, dir: String): DataFrame = {
    // null-embedding rows (upstream extraction failures) must not
    // inflate n_* while contributing nothing to the sums
    val vecs = Tables(spark, dir, "embeddings")
      .where(col("embedding").isNotNull)
    val sums = vecs
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"),
        col("col").cast("double").as("x"))
      .groupBy("label", "dim")
      .agg(sumDec(col("x"), 38, 18).as("s"))
    val counts = vecs
      .groupBy("label").agg(count(lit(1)).as("n"))
    val a = sums.select(col("label").as("label_a"), col("dim"),
      col("s").as("sa"))
    val b = sums.select(col("label").as("label_b"), col("dim"),
      col("s").as("sb"))
    a.join(b, Seq("dim")).where(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("dim"),
        (col("sa") * col("sb")).as("pab"),
        (col("sa") * col("sa")).as("paa"),
        (col("sb") * col("sb")).as("pbb"))
      .groupBy("label_a", "label_b")
      .agg(array_sort(collect_list(struct(col("dim"), col("pab"),
        col("paa"), col("pbb")))).as("terms"))
      .select(col("label_a"), col("label_b"),
        expr("aggregate(terms, cast(0.0 as double), (a, t) -> a + t.pab)")
          .as("nab"),
        expr("aggregate(terms, cast(0.0 as double), (a, t) -> a + t.paa)")
          .as("naa"),
        expr("aggregate(terms, cast(0.0 as double), (a, t) -> a + t.pbb)")
          .as("nbb"))
      .join(Tables.maybeBroadcast(
        counts.select(col("label").as("label_a"), col("n").as("n_a"))),
        "label_a")
      .join(Tables.maybeBroadcast(
        counts.select(col("label").as("label_b"), col("n").as("n_b"))),
        "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        r4(col("nab") / sqrt(col("naa") * col("nbb"))).as("cos_centroid"))
      .orderBy("label_a", "label_b")
  }

  val embedCentroidSimSql: String =
    s"""WITH ex AS (
       |  SELECT label, j AS dim, embedding[j]::DOUBLE AS x
       |  FROM (SELECT label, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS j FROM embeddings
       |    WHERE embedding IS NOT NULL)),
       |sums AS (
       |  SELECT label, dim, ${sumDecSql("x", 38, 18)} AS s
       |  FROM ex GROUP BY 1, 2),
       |paired AS (
       |  SELECT a.label AS label_a, b.label AS label_b, a.dim,
       |    a.s * b.s AS pab, a.s * a.s AS paa, b.s * b.s AS pbb
       |  FROM sums a JOIN sums b
       |    ON a.dim = b.dim AND a.label < b.label),
       |folded AS (
       |  SELECT label_a, label_b,
       |    list_sum(list(pab ORDER BY dim)) AS nab,
       |    list_sum(list(paa ORDER BY dim)) AS naa,
       |    list_sum(list(pbb ORDER BY dim)) AS nbb
       |  FROM paired GROUP BY 1, 2),
       |counts AS (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM embeddings WHERE embedding IS NOT NULL GROUP BY label)
       |SELECT label_a, label_b, ca.n AS n_a, cb.n AS n_b,
       |  ${r4Sql("nab / sqrt(naa * nbb)")} AS cos_centroid
       |FROM folded
       |JOIN counts ca ON ca.label = label_a
       |JOIN counts cb ON cb.label = label_b
       |ORDER BY label_a, label_b""".stripMargin

  // --------------------------------------------------------------- #228
  /** #228 the ANN probe dial scored as a CURVE: per query, recall@3
    * AND candidate cost of single-probe LSH (#33) vs 9-probe
    * multi-probe (#88) against brute-force truth (#32) — #173 grades
    * one index point; this grades the dial, showing what each probe
    * buys (recall_multi ≥ recall_single by superset construction,
    * spec-pinned) and what it costs (n_cand_multi ≥ n_cand_single).
    * The table an operator reads before picking nprobe at 100 TB.
    *
    * Scale: every path is the registered operators' own bounded-
    * broadcast-query contract; candidate counting joins on the bucket
    * key (9 probe rows per query), and the recall joins key on the
    * tiny (q_id, c_id) result sets.
    */
  def annProbeDial(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.spread(spark, dir, "embeddings")
    val q = Similarity.evalQueries(spark, dir)
    val truth = Similarity.annBruteforceFrom(v, q, k = 3)
      .select("q_id", "c_id")
    val single = Similarity.annLshFrom(v, q, k = 3).select("q_id", "c_id")
    val multi = Similarity.annMultiprobeFrom(v, q, k = 3, bits = 8)
      .select("q_id", "c_id")
    val qb = q.withColumn("home", expr("md5_rhp_bucket(q_emb, 8)"))
    val cb = v.select(col("vec_id").as("c_id"),
      expr("md5_rhp_bucket(embedding, 8)").as("c_bucket"))
    val candS = cb.join(broadcast(qb.select(col("q_id"), col("home"))),
        col("home") === col("c_bucket") && col("q_id") =!= col("c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_cand_single"))
    val probes = qb.select(col("q_id"), explode(expr(
      """concat(array(home),
        |  transform(sequence(0, 7), j -> home ^ shiftleft(1L, j)))"""
        .stripMargin)).as("probe"))
    val candM = cb.join(broadcast(probes),
        col("probe") === col("c_bucket") && col("q_id") =!= col("c_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_cand_multi"))
    val nT = truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
    val ovS = truth.join(single, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap_single"))
    val ovM = truth.join(multi, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap_multi"))
    q.select("q_id")
      .join(nT, Seq("q_id"), "left")
      .join(candS, Seq("q_id"), "left")
      .join(candM, Seq("q_id"), "left")
      .join(ovS, Seq("q_id"), "left")
      .join(ovM, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_truth", "n_cand_single", "n_cand_multi",
        "n_overlap_single", "n_overlap_multi"))
      .select(col("q_id"), col("n_truth"), col("n_cand_single"),
        col("n_cand_multi"), col("n_overlap_single"), col("n_overlap_multi"),
        r4(col("n_overlap_single").cast("double") / col("n_truth"))
          .as("recall_single"),
        r4(col("n_overlap_multi").cast("double") / col("n_truth"))
          .as("recall_multi"))
      .orderBy("q_id")
  }

  /** Oracle: the #173 mirror widened with the probe list and the two
    * pre-rank candidate counts.
    */
  val annProbeDialSql: String =
    s"""WITH v AS (
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
       |q AS (SELECT vec_id AS q_id, embedding, norm, bucket
       |      FROM v WHERE vec_id % 50 = 0 AND vec_id < 1000000),
       |probes AS (
       |  SELECT q_id, unnest([bucket] || list_transform(range(0, 8),
       |    j -> xor(bucket, 1 << CAST(j AS INT)))) AS probe
       |  FROM q),
       |truth AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
       |    FROM (
       |      SELECT qv.q_id, c.vec_id AS c_id,
       |        list_sum(list_transform(range(1, len(qv.embedding) + 1),
       |          i -> qv.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |          / (qv.norm * c.norm) AS cosine_raw
       |      FROM q qv JOIN v c ON qv.q_id <> c.vec_id))
       |  WHERE rank <= 3),
       |hits_s AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
       |    FROM (
       |      SELECT qv.q_id, c.vec_id AS c_id,
       |        list_sum(list_transform(range(1, len(qv.embedding) + 1),
       |          i -> qv.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |          / (qv.norm * c.norm) AS cosine_raw
       |      FROM q qv JOIN v c
       |        ON qv.bucket = c.bucket AND qv.q_id <> c.vec_id))
       |  WHERE rank <= 3),
       |hits_m AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER (
       |      PARTITION BY q_id ORDER BY cosine_raw DESC, c_id) AS rank
       |    FROM (
       |      SELECT p.q_id, c.vec_id AS c_id,
       |        list_sum(list_transform(range(1, len(qv.embedding) + 1),
       |          i -> qv.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
       |          / (qv.norm * c.norm) AS cosine_raw
       |      FROM probes p
       |      JOIN q qv ON qv.q_id = p.q_id
       |      JOIN v c ON p.probe = c.bucket AND p.q_id <> c.vec_id))
       |  WHERE rank <= 3),
       |cand_s AS (
       |  SELECT qv.q_id, CAST(COUNT(*) AS BIGINT) AS n_cand_single
       |  FROM q qv JOIN v c
       |    ON qv.bucket = c.bucket AND qv.q_id <> c.vec_id
       |  GROUP BY 1),
       |cand_m AS (
       |  SELECT p.q_id, CAST(COUNT(*) AS BIGINT) AS n_cand_multi
       |  FROM probes p JOIN v c
       |    ON p.probe = c.bucket AND p.q_id <> c.vec_id
       |  GROUP BY 1),
       |nt AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_truth
       |       FROM truth GROUP BY q_id),
       |ov_s AS (
       |  SELECT truth.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap_single
       |  FROM truth JOIN hits_s USING (q_id, c_id) GROUP BY truth.q_id),
       |ov_m AS (
       |  SELECT truth.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap_multi
       |  FROM truth JOIN hits_m USING (q_id, c_id) GROUP BY truth.q_id)
       |SELECT q.q_id, COALESCE(nt.n_truth, 0) AS n_truth,
       |  COALESCE(cand_s.n_cand_single, 0) AS n_cand_single,
       |  COALESCE(cand_m.n_cand_multi, 0) AS n_cand_multi,
       |  COALESCE(ov_s.n_overlap_single, 0) AS n_overlap_single,
       |  COALESCE(ov_m.n_overlap_multi, 0) AS n_overlap_multi,
       |  ${r4Sql("CAST(COALESCE(ov_s.n_overlap_single, 0) AS DOUBLE) " +
                  "/ COALESCE(nt.n_truth, 0)")} AS recall_single,
       |  ${r4Sql("CAST(COALESCE(ov_m.n_overlap_multi, 0) AS DOUBLE) " +
                  "/ COALESCE(nt.n_truth, 0)")} AS recall_multi
       |FROM q
       |LEFT JOIN nt USING (q_id)
       |LEFT JOIN cand_s USING (q_id)
       |LEFT JOIN cand_m USING (q_id)
       |LEFT JOIN ov_s USING (q_id)
       |LEFT JOIN ov_m USING (q_id)
       |ORDER BY q.q_id""".stripMargin

  // --------------------------------------------------------------- #229
  /** #229 additive series decomposition of the gap-filled hourly event
    * series: y = trend + seasonal + residual, where trend is the
    * centered 25-hour moving average and seasonal is the per-(dow,
    * hod) cell mean of the DETRENDED series — the STL-lite readout
    * that turns #218's anomaly flag and #203's backtest into a full
    * "what is baseline, what is calendar, what is noise" table.
    * Boundary rows (incomplete 25h window) are excluded so every
    * trend is the same exact 25-term rational.
    *
    * Exactness: detrended values are held as exact integer numerators
    * (25·c − Σwindow); the seasonal cell mean is ONE exact rational
    * (Σ numerators / (25·n_cell)); trend/seasonal/residual are each
    * one r4'd IEEE op block over those exact integers.
    *
    * Scale: the axis is span-sized per type (#178's gap-fill device);
    * one window per type plus one cell window — both partition.
    */
  def tsDecompose(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsUs(spark, dir)
      .groupBy(col("event_type"), expr("ts_us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
    val span = hourly.groupBy("event_type")
      .agg(min("hr").as("h0"), max("hr").as("h1"))
    val axis = span.select(col("event_type"),
      explode(expr("sequence(h0, h1)")).as("hr"))
    val filled = axis.join(hourly, Seq("event_type", "hr"), "left")
      .na.fill(0L, Seq("c"))
    val win = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(-12, 12)
    val cell = Window.partitionBy("event_type", "dow", "hod")
    filled
      .withColumn("sumw", sum("c").over(win))
      .withColumn("wn", count(lit(1)).over(win))
      .where(col("wn") === 25)
      .withColumn("dow", expr("(hr div 24) % 7"))
      .withColumn("hod", expr("hr % 24"))
      .withColumn("dnum", lit(25L) * col("c") - col("sumw"))
      .withColumn("cell_num", sum("dnum").over(cell))
      .withColumn("cell_n", count(lit(1)).over(cell))
      .withColumn("trend", r4(col("sumw") / lit(25.0)))
      .withColumn("seasonal",
        r4(col("cell_num") / (lit(25.0) * col("cell_n"))))
      .select(col("event_type"), col("hr"), col("c"), col("trend"),
        col("seasonal"),
        r4(col("dnum") / lit(25.0) - col("seasonal")).as("resid"))
      .orderBy("event_type", "hr")
  }

  val tsDecomposeSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |span AS (
       |  SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1
       |  FROM hourly GROUP BY 1),
       |axis AS (
       |  SELECT event_type, unnest(range(h0, h1 + 1)) AS hr FROM span),
       |filled AS (
       |  SELECT a.event_type, a.hr, COALESCE(h.c, 0) AS c
       |  FROM axis a LEFT JOIN hourly h
       |    ON a.event_type = h.event_type AND a.hr = h.hr),
       |w AS (
       |  SELECT *, CAST(SUM(c) OVER win AS BIGINT) AS sumw,
       |    CAST(COUNT(*) OVER win AS BIGINT) AS wn
       |  FROM filled
       |  WINDOW win AS (PARTITION BY event_type ORDER BY hr
       |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
       |i AS (
       |  SELECT event_type, hr, c, sumw,
       |    (hr // 24) % 7 AS dow, hr % 24 AS hod,
       |    25 * c - sumw AS dnum
       |  FROM w WHERE wn = 25),
       |s AS (
       |  SELECT *,
       |    CAST(SUM(dnum) OVER cell AS BIGINT) AS cell_num,
       |    CAST(COUNT(*) OVER cell AS BIGINT) AS cell_n
       |  FROM i
       |  WINDOW cell AS (PARTITION BY event_type, dow, hod))
       |SELECT event_type, hr, c,
       |  ${r4Sql("sumw / 25.0")} AS trend,
       |  ${r4Sql("cell_num / (25.0 * cell_n)")} AS seasonal,
       |  ${r4Sql("dnum / 25.0 - " +
                  "FLOOR((cell_num / (25.0 * cell_n)) * 10000.0 + 0.5) " +
                  "/ 10000.0")} AS resid
       |FROM s ORDER BY event_type, hr""".stripMargin

  // --------------------------------------------------------------- #230
  /** #230 per-source duplication profile: doc counts vs distinct
    * exact (#26) and normalized (#27) content hashes, with the two
    * r4'd duplicate rates — the "which source is rotting" QC rollup
    * that tells an operator where dedup budget goes BEFORE running
    * the pair-finding passes (the source-level marginal the global
    * #157 cluster stats can't show).
    *
    * Scale: one map-side hash projection, one keyed agg with two
    * distinct counts — the #25 shape, |sources| output rows.
    */
  def corpusDupProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("source"), md5(col("text")).as("eh"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " "))).as("nh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("eh").as("n_exact"),
        countDistinct("nh").as("n_norm"))
      .select(col("source"), col("n_docs"), col("n_exact"), col("n_norm"),
        r4((col("n_docs") - col("n_exact")).cast("double") / col("n_docs"))
          .as("exact_dup_rate"),
        r4((col("n_docs") - col("n_norm")).cast("double") / col("n_docs"))
          .as("norm_dup_rate"))
      .orderBy("source")

  val corpusDupProfileSql: String =
    s"""WITH d AS (
       |  SELECT source, md5(text) AS eh,
       |    md5(trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nh
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT eh) AS BIGINT) AS n_exact,
       |  CAST(COUNT(DISTINCT nh) AS BIGINT) AS n_norm,
       |  ${r4Sql("(COUNT(*) - COUNT(DISTINCT eh)) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS exact_dup_rate,
       |  ${r4Sql("(COUNT(*) - COUNT(DISTINCT nh)) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS norm_dup_rate
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #231
  /** #231 discount→quantity lift: mean line quantity per exact
    * discount point, scored against the zero-discount baseline as ONE
    * r4'd division of exact cross-products (sum_qty·n₀ / n·sum_qty₀)
    * — the demand-response read of the pricing dials #7/#75 only
    * aggregate. The discount percent is recovered from the stored
    * double with the r4 floor device (0.06 × 100 truncates to 5 under
    * a bare CAST — the same IEEE hazard r4 exists for).
    *
    * Scale: one 2-column scan, one keyed agg to ≤ |discount points|
    * rows, baseline attached by a one-row broadcast.
    */
  def ordersDiscountLift(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir, "lineitem")
      .select(floor(col("l_discount") * 100 + lit(0.5)).cast("long")
          .as("disc_pct"),
        col("l_quantity"))
      .groupBy("disc_pct")
      .agg(count(lit(1)).as("n_lines"),
        sumDec(col("l_quantity"), 38, 2).as("sum_qty"))
    val base = per.where(col("disc_pct") === 0L)
      .select(col("n_lines").as("n0"), col("sum_qty").as("s0"))
    per.crossJoin(broadcast(base))
      .select(col("disc_pct"), col("n_lines"),
        r4(col("sum_qty") / col("n_lines")).as("avg_qty"),
        r4((col("sum_qty") * col("n0")) / (col("n_lines") * col("s0")))
          .as("qty_lift"))
      .orderBy("disc_pct")
  }

  val ordersDiscountLiftSql: String =
    s"""WITH per AS (
       |  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
       |    CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    ${sumDecSql("l_quantity", 38, 2)} AS sum_qty
       |  FROM lineitem GROUP BY 1),
       |base AS (
       |  SELECT n_lines AS n0, sum_qty AS s0 FROM per WHERE disc_pct = 0)
       |SELECT disc_pct, n_lines,
       |  ${r4Sql("sum_qty / n_lines")} AS avg_qty,
       |  ${r4Sql("(sum_qty * n0) / (n_lines * s0)")} AS qty_lift
       |FROM per CROSS JOIN base ORDER BY disc_pct""".stripMargin

  // --------------------------------------------------------------- #232
  /** #232 per-dimension embedding moments: n/mean/variance/std plus
    * exact min/max per coordinate — the distribution table that
    * complements #181's order statistics (rank-based) with the moment
    * view the whitening/standardization step of any quantizer or
    * PCA pipeline consumes. Variance via the cross-product identity
    * (n·Σx² − (Σx)²)/n² over sumDec-exact sums, the #178 device.
    *
    * Scale: one explode → keyed decimal agg with map-side combine to
    * |dims| rows; everything after is structure-sized.
    */
  def embedDimMoments(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(posexplode(col("embedding")))
      .select(col("pos").as("dim"), col("col").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sumDec(col("x"), 38, 18).as("sx"),
        sumDec(col("x") * col("x"), 38, 18).as("sxx"),
        min("x").as("mn"), max("x").as("mx"))
      .select(col("dim"), col("n"),
        r4(col("sx") / col("n")).as("mean_x"),
        r4((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n").cast("double") * col("n"))).as("var_x"),
        r4(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n").cast("double") * col("n")))).as("std_x"),
        r4(col("mn")).as("min_x"), r4(col("mx")).as("max_x"))
      .orderBy("dim")

  val embedDimMomentsSql: String =
    s"""WITH ex AS (
       |  SELECT j - 1 AS dim, embedding[j]::DOUBLE AS x
       |  FROM (SELECT embedding,
       |    unnest(range(1, len(embedding) + 1)) AS j FROM embeddings
       |    WHERE embedding IS NOT NULL)),
       |m AS (
       |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       |    ${sumDecSql("x", 38, 18)} AS sx,
       |    ${sumDecSql("x * x", 38, 18)} AS sxx,
       |    MIN(x) AS mn, MAX(x) AS mx
       |  FROM ex GROUP BY dim)
       |SELECT dim, n,
       |  ${r4Sql("sx / n")} AS mean_x,
       |  ${r4Sql("(n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n)")}
       |    AS var_x,
       |  ${r4Sql("sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n))")}
       |    AS std_x,
       |  ${r4Sql("mn")} AS min_x, ${r4Sql("mx")} AS max_x
       |FROM m ORDER BY dim""".stripMargin

  // --------------------------------------------------------------- #233
  /** #233 HITS hub/authority scoring on the bipartite customer→part
    * purchase graph, two exact half-iterations from h₀ = 1: a₁(p) =
    * buyer count, h₁(u) = Σ a₁ over u's parts, a₂(p) = Σ h₁ over p's
    * buyers — "parts bought by heavy multi-part buyers" rather than
    * raw popularity. On this bipartite form hubs and authorities stay
    * distinct (on the UNDIRECTED co-purchase graph they'd collapse by
    * symmetry, which is why the graph family's PageRank (#99) is the
    * ranking there). Unnormalized scores are exact path-count
    * integers; only the final share divides (ONE r4).
    *
    * Scale: the edge list is DISTINCT (cust, part) — data-sized; each
    * half-iteration is one equi-join + keyed agg on a bipartite key
    * (the #99 shuffle shape). The global normalizer is a one-row
    * broadcast, the top-20 a TakeOrdered — no full sort.
    */
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    // the distinct bipartite edge list is referenced by all three
    // half-iterations (a1, h1, a2): before r12 it was recomputed 3×
    // under the idle profile and persisted (but still 36.8 GB of spill
    // at the 100× probe) under the saturated one — the r11 verdict's
    // task #2. Now it is derived ONCE per (dir) per JVM and lands as
    // parquet via LayoutCache (a deterministic pure function of dir,
    // the graph_edges_s2 precedent), so each half-iteration is a cheap
    // file scan: no triple join+distinct, no volume-sized block-manager
    // residency competing with the half-iterations' own shuffles.
    // Footprint bound (r12 ADVICE item 2): unlike graph_edges_s2 this
    // table is DATA-sized — distinct (cust, part) pairs track lineitem
    // volume, compressed columnar (two int64 columns, zstd), i.e. a
    // few percent of the fact table's bytes. At bench scale that is
    // MBs; at the 100 TB design point the cache root must be a real
    // scratch filesystem, which is exactly what
    // `spark.graft.cacheRoot` configures (LayoutCache resolves cached
    // trees under it; default stays java.io.tmpdir for local runs).
    val e = LayoutCache.table("graph_hits_edges", dir) {
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val o = Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
        .distinct()
    }
    val a1 = e.groupBy("p").agg(count(lit(1)).as("n_buyers"))
    val h1 = e.join(a1, "p").groupBy("u").agg(sum("n_buyers").as("h1"))
    val a2 = e.join(h1, "u").groupBy("p")
      .agg(sum("h1").as("authority"))
    val tot = a2.agg(
      sum(col("authority").cast(DecimalType(38, 0))).cast("double")
        .as("tot"))
    a2.join(a1, "p").crossJoin(broadcast(tot))
      .select(col("p").as("partkey"), col("n_buyers"), col("authority"),
        r4(col("authority").cast("double") / col("tot"))
          .as("authority_share"))
      .orderBy(desc("authority"), col("partkey"))
      .limit(20)
  }

  val graphHitsSql: String =
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey AS u, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |a1 AS (
       |  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_buyers
       |  FROM e GROUP BY p),
       |h1 AS (
       |  SELECT e.u, CAST(SUM(a1.n_buyers) AS BIGINT) AS h1
       |  FROM e JOIN a1 USING (p) GROUP BY e.u),
       |a2 AS (
       |  SELECT e.p, CAST(SUM(h1.h1) AS BIGINT) AS authority
       |  FROM e JOIN h1 USING (u) GROUP BY e.p),
       |tot AS (SELECT CAST(SUM(authority) AS DOUBLE) AS tot FROM a2)
       |SELECT a2.p AS partkey, a1.n_buyers, a2.authority,
       |  ${r4Sql("authority / tot")} AS authority_share
       |FROM a2 JOIN a1 USING (p) CROSS JOIN tot
       |ORDER BY a2.authority DESC, partkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- #234
  /** #234 classifier calibration curve: #166's hashed quality scores
    * cut into 10 deterministic deciles (ntile on the (sum_w, doc_id)
    * total order — #161's bucket device), each scored by #81's
    * cascade-survival rate — the reliability diagram behind #202's
    * single-point P/R/F1: a well-calibrated filter's keep_rate should
    * rise monotonically with the score decile.
    *
    * Scale: the per-doc score and gold tables are each one pass; the
    * global ntile is a single total-order sort of the skinny
    * (doc_id, sum_w, keep) projection — the documented #161 trade
    * (at extreme scale, swap in a sampled-quantile cut).
    */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val pred = Curation.textQualityClassifier(spark, dir)
      .select(col("doc_id"), col("sum_w"))
    val gold = Quality.cascadeFate(spark, dir)
      .select(col("doc_id"), (col("ff") === 4L).as("keep"))
    pred.join(gold, "doc_id")
      .withColumn("decile",
        ntile(10).over(Window.orderBy("sum_w", "doc_id")).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        min("sum_w").as("min_w"), max("sum_w").as("max_w"))
      .select(col("decile"), col("n"), col("n_keep"), col("min_w"),
        col("max_w"),
        r4(col("n_keep").cast("double") / col("n")).as("keep_rate"))
      .orderBy("decile")
  }

  val qualityCalibrationSql: String =
    s"""WITH p0 AS (${Curation.textQualityClassifierSql}),
       |${Quality.cascadeFateCtes},
       |qc_j AS (
       |  SELECT p0.doc_id, p0.sum_w, (f.ff = 4) AS keep
       |  FROM p0 JOIN f ON p0.doc_id = f.doc_id),
       |qc_dec AS (
       |  SELECT *, CAST(NTILE(10) OVER (ORDER BY sum_w, doc_id)
       |    AS BIGINT) AS decile
       |  FROM qc_j)
       |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_keep,
       |  MIN(sum_w) AS min_w, MAX(sum_w) AS max_w,
       |  ${r4Sql("COUNT(*) FILTER (WHERE keep) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS keep_rate
       |FROM qc_dec GROUP BY decile ORDER BY decile""".stripMargin

  // --------------------------------------------------------------- #235
  /** #235 MinHash banding sweep: the SAME 16-coordinate md5-portable
    * signature (#179's device) banded three ways — 2×8, 4×4, 8×2 —
    * with candidate volume, verified pairs (exact trigram Jaccard
    * ≥ 0.5, compared in exact integers 2·inter ≥ uni) and r4'd
    * precision per configuration. #188 sweeps the VERIFY threshold
    * over fixed banding; this sweeps the BANDING over a fixed
    * threshold — together they map both axes of the LSH S-curve
    * before anyone commits an index shape at 100 TB (more rows/band →
    * fewer, higher-precision candidates; more bands → higher recall,
    * more verify work).
    *
    * Scale: three band-bucket equi-joins over the one shared
    * signature table — the #28 candidate shape; verify attaches ride
    * the size-gated broadcast. Output is 3 rows.
    */
  def dedupBandingSweep(spark: SparkSession, dir: String): DataFrame = {
    // the 16×-md5 signature is a real per-row compute referenced by
    // three banding configs plus six verify attaches — since r12 it is
    // the LayoutCache-materialized parquet shared with #179/#188
    // (Horizon.portableSigCached): one signature pass per (dir) per
    // JVM, and the attach gates below read honest file-byte stats (the
    // default-width ~150× under-count that used to force the
    // persist+count dance is gone — a scan's sizeInBytes is real).
    val sig = Horizon.portableSigCached(spark, dir)
    val side = sig.select(col("doc_id"), col("sh"))
    def config(bands: Int): DataFrame = {
      val rows = 16 / bands
      val banded = sig.select(col("doc_id"),
          explode(Signatures.md5Bands(col("sig"), bands, rows)).as("bb"))
        .select(col("doc_id"), col("bb.*"))
      Signatures.bucketPairs(banded, "doc_id")
        .join(Tables.maybeBroadcast(side.toDF("id_a", "sh_a")), "id_a")
        .join(Tables.maybeBroadcast(side.toDF("id_b", "sh_b")), "id_b")
        .withColumn("inter",
          expr("size(array_intersect(sh_a, sh_b))").cast("long"))
        .withColumn("uni", (expr("size(sh_a)") + expr("size(sh_b)"))
          .cast("long") - col("inter"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(lit(2L) * col("inter") >= col("uni"), 1L).otherwise(0L))
            .as("n_verified"))
        .select(lit(bands.toLong).as("n_bands"),
          lit(rows.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_verified"),
          when(col("n_candidates") > 0L,
            r4(col("n_verified").cast("double") / col("n_candidates")))
            .as("precision_at_05"))
    }
    config(2).unionAll(config(4)).unionAll(config(8)).orderBy("n_bands")
  }

  /** Oracle: the #179 sh/sig CTEs plus one banded/pairs/stat block per
    * configuration, unioned.
    */
  val dedupBandingSweepSql: String = {
    def block(bands: Int): String = {
      val rows = 16 / bands
      s"""banded$bands AS (
         |  SELECT doc_id, b.band,
         |    md5(array_to_string(
         |      sig[b.band * $rows + 1 : b.band * $rows + $rows], ','))
         |      AS bsig
         |  FROM sig CROSS JOIN
         |    (SELECT unnest(range(0, $bands)) AS band) b),
         |pairs$bands AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded$bands a JOIN banded$bands b
         |    ON a.band = b.band AND a.bsig = b.bsig
         |    AND a.doc_id < b.doc_id),
         |stat$bands AS (
         |  SELECT CAST($bands AS BIGINT) AS n_bands,
         |    CAST($rows AS BIGINT) AS rows_per_band,
         |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |    CAST(COUNT(*) FILTER (WHERE 2 * len(list_intersect(sa.sh,
         |      sb.sh)) >= len(sa.sh) + len(sb.sh)
         |      - len(list_intersect(sa.sh, sb.sh))) AS BIGINT) AS n_verified
         |  FROM pairs$bands
         |  JOIN sig sa ON sa.doc_id = id_a
         |  JOIN sig sb ON sb.doc_id = id_b)""".stripMargin
    }
    s"""WITH ${Horizon.portableSigSqlCtes},
       |${block(2)},
       |${block(4)},
       |${block(8)}
       |SELECT n_bands, rows_per_band, n_candidates, n_verified,
       |  CASE WHEN n_candidates > 0 THEN
       |    ${r4Sql("n_verified / CAST(n_candidates AS DOUBLE)")} END
       |    AS precision_at_05
       |FROM (SELECT * FROM stat2 UNION ALL SELECT * FROM stat4
       |      UNION ALL SELECT * FROM stat8)
       |ORDER BY n_bands""".stripMargin
  }

  // --------------------------------------------------------------- #236
  /** #236 kNN label-consistency: over #71's LSH-bucketed kNN graph,
    * the per-label rate at which a vector's nearest bucket-mates share
    * its label — the label-noise / cluster-coherence QC an embedding
    * pipeline reads before trusting labels for #171's hard-negative
    * mining or #190's drift monitor (a label whose neighbors disagree
    * is mislabeled or its region is genuinely mixed).
    *
    * Scale: the kNN edge list is the registered #71 flow (bucketed
    * self-join, never all-pairs); the two label attaches ride the
    * size-gated broadcast; one keyed agg to |labels| rows, ONE r4'd
    * division each.
    */
  def embedLabelConsistency(spark: SparkSession, dir: String): DataFrame = {
    val g = Similarity.annKnnGraph(spark, dir) // cached (6, 3) table
      .select("vec_id", "nbr_id")
    val lab = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    g.join(Tables.maybeBroadcast(lab), "vec_id")
      .join(Tables.maybeBroadcast(lab.toDF("nbr_id", "nbr_label")),
        "nbr_id")
      .groupBy("label")
      .agg(countDistinct("vec_id").as("n_vectors"),
        count(lit(1)).as("n_edges"),
        sum(when(col("label") === col("nbr_label"), 1L).otherwise(0L))
          .as("n_same"))
      .select(col("label"), col("n_vectors"), col("n_edges"),
        col("n_same"),
        r4(col("n_same").cast("double") / col("n_edges"))
          .as("consistency"))
      .orderBy("label")
  }

  val embedLabelConsistencySql: String =
    s"""WITH g AS (${Similarity.annKnnGraphSql}),
       |lab AS (SELECT vec_id, label FROM embeddings)
       |SELECT a.label, CAST(COUNT(DISTINCT g.vec_id) AS BIGINT)
       |    AS n_vectors,
       |  CAST(COUNT(*) AS BIGINT) AS n_edges,
       |  CAST(COUNT(*) FILTER (WHERE a.label = b.label) AS BIGINT)
       |    AS n_same,
       |  ${r4Sql("COUNT(*) FILTER (WHERE a.label = b.label) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS consistency
       |FROM g
       |JOIN lab a ON a.vec_id = g.vec_id
       |JOIN lab b ON b.vec_id = g.nbr_id
       |GROUP BY a.label ORDER BY a.label""".stripMargin

  // --------------------------------------------------------------- #237
  /** #237 packing-efficiency audit of #66's concat-then-chunk layout:
    * per source stream — chunk count, fill rate (tokens over chunk
    * capacity, ONE r4'd division) and the share of documents crossing
    * a 2048-token chunk boundary (attention-contamination surface
    * under causal masking without doc-boundary resets). The eval row
    * the packing operator itself never had: #66 ASSIGNS chunks, this
    * grades the assignment.
    *
    * Scale: the same single cumulative-sum window as #66, then one
    * keyed agg to |sources| rows.
    */
  def corpusPackEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val chunkTokens = 2048
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "documents")
      // size(split(null)) is -1 in Spark — a null doc must not shrink
      // the cumulative stream
      .where(col("text").isNotNull)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("chunk",
        floor((col("cum") - col("n_tokens")) / chunkTokens))
      .withColumn("end_chunk", floor((col("cum") - 1) / chunkTokens))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max("end_chunk") + 1L).as("n_chunks"),
        sum(when(col("end_chunk") > col("chunk"), 1L).otherwise(0L))
          .as("n_crossing"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_chunks"), col("n_crossing"),
        r4(col("total_tokens").cast("double") /
          (col("n_chunks").cast("double") * chunkTokens)).as("fill_rate"),
        r4(col("n_crossing").cast("double") / col("n_docs"))
          .as("crossing_rate"))
      .orderBy("source")
  }

  val corpusPackEfficiencySql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT source, n_tokens,
       |    CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum
       |  FROM t
       |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING)),
       |k AS (
       |  SELECT source, n_tokens,
       |    CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS chunk,
       |    CAST(FLOOR((cum - 1) / 2048.0) AS BIGINT) AS end_chunk
       |  FROM c)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  MAX(end_chunk) + 1 AS n_chunks,
       |  CAST(COUNT(*) FILTER (WHERE end_chunk > chunk) AS BIGINT)
       |    AS n_crossing,
       |  ${r4Sql("SUM(n_tokens) / (CAST(MAX(end_chunk) + 1 AS DOUBLE) " +
                  "* 2048)")} AS fill_rate,
       |  ${r4Sql("COUNT(*) FILTER (WHERE end_chunk > chunk) / " +
                  "CAST(COUNT(*) AS DOUBLE)")} AS crossing_rate
       |FROM k GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #238
  /** #238 CDC MERGE application: apply a change batch (deletes,
    * updates, inserts) to the orders snapshot and audit the result —
    * the warehouse MERGE INTO re-expressed Spark-first as anti-join
    * (deletes) + left join with coalesce (updates) + union (inserts);
    * the change batch is synthesized deterministically from the
    * snapshot itself (delete keys ≡ 0 mod 11; update keys ≡ 0 mod 7
    * get price + 100; insert keys ≡ 0 mod 13 re-land under offset
    * ids) so the oracle reproduces it. Output: per-status row counts,
    * decimal-exact totals, and the applied-action audit counts the
    * #96 state-diff would read back.
    *
    * Scale: every step is an equi-join on the snapshot key — the
    * delete/update sides are change-batch-sized (broadcast when
    * small, shuffle when not; planner's call via stats), the union is
    * append-only. This is exactly the shape Delta/Iceberg MERGE
    * compiles to, minus the transaction log.
    */
  def cdcMergeApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val deletes = base.where(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"))
    val updates = base
      .where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(100.0)).as("new_price"))
    val inserts = base.where(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + lit(3000000000L)).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice").as("price"),
        lit(false).as("is_update"), lit(true).as("is_insert"))
    val survivors = base
      .join(deletes, Seq("o_orderkey"), "left_anti")
      .join(updates, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("new_price"), col("o_totalprice")).as("price"),
        col("new_price").isNotNull.as("is_update"),
        lit(false).as("is_insert"))
    survivors.unionByName(inserts)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        sumDec(col("price"), 38, 2).as("total_price"),
        sum(when(col("is_update"), 1L).otherwise(0L)).as("n_updated"),
        sum(when(col("is_insert"), 1L).otherwise(0L)).as("n_inserted"))
      .orderBy("o_orderstatus")
  }

  val cdcMergeApplySql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       |survivors AS (
       |  SELECT b.o_orderkey, b.o_orderstatus,
       |    CASE WHEN b.o_orderkey % 7 = 0 THEN b.o_totalprice + 100.0
       |         ELSE b.o_totalprice END AS price,
       |    (b.o_orderkey % 7 = 0) AS is_update,
       |    FALSE AS is_insert
       |  FROM base b WHERE b.o_orderkey % 11 <> 0),
       |inserts AS (
       |  SELECT o_orderkey + 3000000000 AS o_orderkey, o_orderstatus,
       |    o_totalprice AS price, FALSE AS is_update, TRUE AS is_insert
       |  FROM base WHERE o_orderkey % 13 = 0),
       |merged AS (
       |  SELECT * FROM survivors UNION ALL SELECT * FROM inserts)
       |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  ${sumDecSql("price", 38, 2)} AS total_price,
       |  CAST(COUNT(*) FILTER (WHERE is_update) AS BIGINT) AS n_updated,
       |  CAST(COUNT(*) FILTER (WHERE is_insert) AS BIGINT) AS n_inserted
       |FROM merged GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- #239
  /** #239 IVF cell-occupancy balance audit over #101's learned
    * partition: per-cell population, the exact-integer balance ratio
    * n·k / N (1 = perfectly even; ONE r4'd division), and the cell's
    * max quantization distance — the probe-cost-variance readout an
    * operator checks before trusting #55/#167's nprobe math (a 10×
    * hot cell makes every probe of it 10× the work; the fix is more
    * k-means iterations or a k bump, and THIS table says which).
    *
    * Scale: one pass over the registered #101 assignment flow (argmin
    * against a broadcast k-row centroid table), one keyed agg to k
    * rows; the share window runs over those k rows only.
    */
  def annIvfBalance(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val asg = Similarity.kmeansLloyd(spark, dir)
    asg.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"), max("dist2").as("max_dist2"))
      .withColumn("total", sum("n_vecs").over(Window.partitionBy()))
      .select(col("cluster_id"), col("n_vecs"),
        r4((col("n_vecs") * lit(k.toLong)).cast("double") / col("total"))
          .as("balance_ratio"),
        col("max_dist2"))
      .orderBy("cluster_id")
  }

  val annIvfBalanceSql: String =
    s"""WITH km AS (${Similarity.kmeansLloydSql})
       |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  ${r4Sql("(COUNT(*) * 8) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)")}
       |    AS balance_ratio,
       |  MAX(dist2) AS max_dist2
       |FROM km GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // --------------------------------------------------------------- #240
  /** #240 achieved-vs-target mix shares under integer-epoch
    * quantization: #168 emits fractional upsample factors, but a data
    * loader repeats each source an INTEGER number of epochs — this
    * reports, per source, the rounded epoch count (≥ 1, the r4 floor
    * device on the exact ratio), the achieved token share, the target
    * temperature share, and the r4'd deviation. The "did rounding
    * wreck my mixture" check that closes #168's loop (small sources
    * with upsample ≈ 0.4 round to a full epoch and overshoot —
    * visible here, invisible in #168).
    *
    * Scale: the per-source table is structure-sized; both global
    * reductions are one-row broadcasts / |sources|-row windows.
    */
  def mixAchievedShares(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir, "documents")
      // size(split(null)) is -1 in Spark — a null doc must not shrink
      // the source's token mass
      .where(col("text").isNotNull)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
      .withColumn("isq",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = per.agg(sum("isq").as("sum_isq"),
      sum("n_tokens").as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .withColumn("epochs", greatest(lit(1L),
        floor((col("isq").cast("double") * col("tot_tokens").cast("double"))
          / (col("sum_isq").cast("double") * col("n_tokens").cast("double"))
          + lit(0.5)).cast("long")))
      .withColumn("achieved_tokens",
        col("n_tokens").cast("double") * col("epochs"))
      .withColumn("sum_achieved",
        sum("achieved_tokens").over(Window.partitionBy()))
      .select(col("source"), col("n_tokens"), col("epochs"),
        r4(col("isq").cast("double") / col("sum_isq")).as("target_share"),
        r4(col("achieved_tokens") / col("sum_achieved"))
          .as("achieved_share"))
      .withColumn("deviation",
        r4(col("achieved_share") - col("target_share")))
      .orderBy("source")
  }

  val mixAchievedSharesSql: String =
    s"""WITH per AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL GROUP BY source),
       |m AS (
       |  SELECT *, CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
       |    AS isq
       |  FROM per),
       |tot AS (
       |  SELECT CAST(SUM(isq) AS BIGINT) AS sum_isq,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM m),
       |e AS (
       |  SELECT source, n_tokens, isq, sum_isq,
       |    greatest(1, CAST(FLOOR((CAST(isq AS DOUBLE)
       |      * CAST(tot_tokens AS DOUBLE))
       |      / (CAST(sum_isq AS DOUBLE) * CAST(n_tokens AS DOUBLE))
       |      + 0.5) AS BIGINT)) AS epochs
       |  FROM m CROSS JOIN tot),
       |a AS (
       |  SELECT *, CAST(n_tokens AS DOUBLE) * epochs AS achieved_tokens,
       |    SUM(CAST(n_tokens AS DOUBLE) * epochs) OVER () AS sum_achieved
       |  FROM e),
       |s AS (
       |  SELECT source, n_tokens, epochs,
       |    ${r4Sql("CAST(isq AS DOUBLE) / sum_isq")} AS target_share,
       |    ${r4Sql("achieved_tokens / sum_achieved")} AS achieved_share
       |  FROM a)
       |SELECT source, n_tokens, epochs, target_share, achieved_share,
       |  ${r4Sql("achieved_share - target_share")} AS deviation
       |FROM s ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #241
  /** #241 decontamination method-agreement report: the union of docs
    * flagged by exact 5-gram overlap (#65) and fuzzy bigram-Jaccard
    * ≥ 0.8 (#156), with a verdict column — `both` (verbatim overlap
    * long enough for both), `exact_only` (short verbatim excerpts the
    * Jaccard threshold forgives), `fuzzy_only` (paraphrases the exact
    * join misses). The consistency eval that tells an operator which
    * decontamination pass to trust where — running one method and
    * assuming it subsumes the other is the classic leakage mistake.
    *
    * Scale: both inputs are the registered operators' own flows
    * (benchmark-side broadcast, LSH-banded candidates); the agreement
    * join keys on the tiny flagged-doc sets.
    */
  def decontaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val exact = Corpus.decontaminate(spark, dir)
      .select(col("doc_id"), lit(true).as("exact_hit"))
    val fuzzy = Advanced.decontaminateMinhash(spark, dir)
      .select(col("corpus_id").as("doc_id")).distinct()
      .withColumn("fuzzy_hit", lit(true))
    exact.join(fuzzy, Seq("doc_id"), "full")
      .na.fill(false, Seq("exact_hit", "fuzzy_hit"))
      .select(col("doc_id"), col("exact_hit"), col("fuzzy_hit"),
        when(col("exact_hit") && col("fuzzy_hit"), "both")
          .when(col("exact_hit"), "exact_only")
          .otherwise("fuzzy_only").as("verdict"))
      .orderBy("doc_id")
  }

  /** NOTE: the embedded #65/#156 oracles contain lines that BEGIN with
    * the SQL `||` concat operator, which an outer stripMargin would
    * mangle (it eats the first pipe) — so the template is assembled
    * from pre-stripped pieces instead of one interpolated margin
    * string. (This is the stripMargin hazard SURVEY §8 round-10 hit.)
    */
  val decontaminationReportSql: String =
    s"WITH e0 AS (${Corpus.decontaminateSql}),\n" +
      s"f0 AS (${Advanced.decontaminateMinhashSql}),\n" +
      """e AS (SELECT doc_id, TRUE AS exact_hit FROM e0),
        |f AS (SELECT DISTINCT corpus_id AS doc_id, TRUE AS fuzzy_hit
        |      FROM f0)
        |SELECT COALESCE(e.doc_id, f.doc_id) AS doc_id,
        |  COALESCE(exact_hit, FALSE) AS exact_hit,
        |  COALESCE(fuzzy_hit, FALSE) AS fuzzy_hit,
        |  CASE WHEN COALESCE(exact_hit, FALSE)
        |         AND COALESCE(fuzzy_hit, FALSE) THEN 'both'
        |       WHEN COALESCE(exact_hit, FALSE) THEN 'exact_only'
        |       ELSE 'fuzzy_only' END AS verdict
        |FROM e FULL OUTER JOIN f ON e.doc_id = f.doc_id
        |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #242
  /** #242 per-node local clustering coefficient over the
    * support-floored co-purchase graph: cc(v) = 2·T(v) / (deg(v)·
    * (deg(v)−1)) for deg ≥ 2, zero-triangle nodes included — the
    * per-node "is my neighborhood a clique" signal behind #100's one
    * global transitivity number (ego-density ranking, the
    * fraud/community feature). Triangle enumeration reuses #100's
    * (deg, id)-oriented forward device — each triangle materializes
    * once, then explodes to its three corners for the per-node count.
    *
    * Scale: identical join shape to #100 (hub nodes never enumerate
    * their own neighbor pairs; per-key wedge width O(√|E|)); the
    * explode adds 3 rows per triangle — structure-sized.
    */
  def graphLocalClustering(spark: SparkSession, dir: String): DataFrame = {
    val und = Graph.undirected(spark, dir)
    val deg = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
      .groupBy("src").agg(count(lit(1)).as("deg"))
    val da = deg.select(col("src").as("pa"), col("deg").as("dega"))
    val db = deg.select(col("src").as("pb"), col("deg").as("degb"))
    val o = und.join(da, "pa").join(db, "pb")
      .select(
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("pa") < col("pb")),
          col("pa")).otherwise(col("pb")).as("src"),
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("pa") < col("pb")),
          col("pb")).otherwise(col("pa")).as("dst"))
    val e1 = o.select(col("src").as("u"), col("dst").as("v"))
    val e2 = o.select(col("src").as("v2"), col("dst").as("w"))
    val e3 = o.select(col("src").as("u3"), col("dst").as("w3"))
    val triNodes = e1.join(e2, col("v") === col("v2"))
      .join(e3, col("u") === col("u3") && col("w") === col("w3"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.where(col("deg") >= 2)
      .join(triNodes, col("src") === col("node"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(col("src").as("node"), col("deg"), col("n_tri"),
        r4((lit(2.0) * col("n_tri")) /
          (col("deg") * (col("deg") - 1)).cast("double")).as("local_cc"))
      .orderBy("node")
  }

  val graphLocalClusteringSql: String =
    s"""WITH ${Graph.edgeSql},
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |o AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
       |      THEN pa ELSE pb END AS src,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
       |      THEN pb ELSE pa END AS dst
       |  FROM und JOIN deg da ON und.pa = da.src
       |  JOIN deg db ON und.pb = db.src),
       |trin AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |    SELECT unnest([e1.src, e1.dst, e2.dst]) AS node
       |    FROM o e1 JOIN o e2 ON e1.dst = e2.src
       |    JOIN o e3 ON e1.src = e3.src AND e2.dst = e3.dst)
       |  GROUP BY node)
       |SELECT deg.src AS node, CAST(deg.deg AS BIGINT) AS deg,
       |  COALESCE(n_tri, 0) AS n_tri,
       |  ${r4Sql("2.0 * COALESCE(n_tri, 0) / " +
                  "CAST(deg.deg * (deg.deg - 1) AS DOUBLE)")} AS local_cc
       |FROM deg LEFT JOIN trin ON deg.src = trin.node
       |WHERE deg.deg >= 2 ORDER BY node""".stripMargin

  // --------------------------------------------------------------- #243
  /** #243 reorder-interval profile per part: for every (part,
    * customer) purchase sequence, the day gaps between consecutive
    * orders, rolled up per part — exact-rank median (the #181/#224
    * order-statistic device), max, ONE-division mean. The consumable
    * CADENCE beside #219's repeat RATE: #219 says how many buyers
    * come back, this says how often — the replenishment-forecast
    * input.
    *
    * Scale: one distinct over (part, cust, order, date), one lag
    * window keyed by the high-cardinality (part, cust) pair, one
    * rank selection + keyed agg per part. No low-cardinality window
    * ceiling here — the partition key space is the fact table's.
    */
  def ordersReorderInterval(spark: SparkSession, dir: String): DataFrame = {
    val po = Tables(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"))
      .join(Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("odate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("partkey"),
        col("o_custkey").as("custkey"), col("o_orderkey").as("okey"),
        col("odate"))
      .distinct()
    val wSeq = Window.partitionBy("partkey", "custkey")
      .orderBy("odate", "okey")
    val gaps = po
      .withColumn("prev", lag("odate", 1).over(wSeq))
      .where(col("prev").isNotNull)
      .select(col("partkey"), col("custkey"), col("okey"),
        datediff(col("odate"), col("prev")).cast("long").as("gap_days"))
    // r12: ONE window pass computes the median row AND the per-part
    // aggregates (count/sum/max over the same partition key share the
    // ranking window's single exchange+sort) — previously `gaps` was
    // consumed by two branches (a ranked-median window and a groupBy)
    // that each re-ran the join+distinct+lag pipeline and shuffled on
    // partkey separately, then joined back. Same rows, same values:
    // the r = (n+1) div 2 row carries its partition's p50, and the
    // full-partition count/sum/max are the old groupBy aggregates.
    val wRank = Window.partitionBy("partkey")
      .orderBy("gap_days", "custkey", "okey")
    val wAll = Window.partitionBy("partkey")
    gaps
      .withColumn("r", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sum_gap", sum("gap_days").over(wAll))
      .withColumn("max_days", max("gap_days").over(wAll))
      .where(col("r") === expr("(n + 1) div 2"))
      .select(col("partkey"), col("n").as("n_gaps"),
        col("gap_days").as("p50_days"), col("max_days"),
        r4(col("sum_gap").cast("double") / col("n")).as("mean_days"))
      .orderBy("partkey")
  }

  val ordersReorderIntervalSql: String =
    s"""WITH po AS (
       |  SELECT DISTINCT l_partkey AS partkey, o_custkey AS custkey,
       |    o_orderkey AS okey, CAST(o_orderdate AS DATE) AS odate
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |g AS (
       |  SELECT partkey, custkey, okey, gap_days FROM (
       |    SELECT partkey, custkey, okey,
       |      CAST(odate - LAG(odate) OVER (PARTITION BY partkey, custkey
       |        ORDER BY odate, okey) AS BIGINT) AS gap_days
       |    FROM po)
       |  WHERE gap_days IS NOT NULL),
       |med AS (
       |  SELECT partkey, gap_days AS p50_days FROM (
       |    SELECT partkey, gap_days,
       |      ROW_NUMBER() OVER (PARTITION BY partkey
       |        ORDER BY gap_days, custkey, okey) AS r,
       |      COUNT(*) OVER (PARTITION BY partkey) AS n
       |    FROM g)
       |  WHERE r = (n + 1) // 2),
       |s AS (
       |  SELECT partkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       |    CAST(SUM(gap_days) AS BIGINT) AS sum_gap,
       |    MAX(gap_days) AS max_days
       |  FROM g GROUP BY 1)
       |SELECT s.partkey, n_gaps, p50_days, max_days,
       |  ${r4Sql("sum_gap / CAST(n_gaps AS DOUBLE)")} AS mean_days
       |FROM s JOIN med USING (partkey)
       |ORDER BY s.partkey""".stripMargin

  // --------------------------------------------------------------- #244
  /** #244 rolling regression slope: per customer nation, the
    * revenue-vs-time OLS slope over a trailing 6-month window of the
    * monthly revenue series — the "is this market accelerating"
    * per-entity trend feature (#142 fits ONE global line; this is the
    * windowed, per-entity form feature pipelines actually consume).
    *
    * Exactness: monthly revenue stays DECIMAL(38,2) (never a double
    * sum); window Σy/Σxy/Σx/Σx² are decimal/integer sums inside the
    * ordered frame (associative — frame evaluation order can't flip
    * bits); the slope is ONE r4'd IEEE division of two exact
    * cross-products. Only complete 6-row windows emit.
    *
    * Scale: one fact join + keyed monthly agg, then one
    * nation-partitioned window over the structure-sized
    * (|nations| × months) series.
    */
  def windowRollingSlope(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("mo"))
    val c = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val monthly = o
      .join(Tables.maybeBroadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"), col("mo"))
      .agg(sum(col("o_totalprice").cast(DecimalType(38, 2))).as("rev"))
    val win = Window.partitionBy("nk").orderBy("mo").rowsBetween(-5, 0)
    monthly
      .withColumn("wn", count(lit(1)).over(win))
      .withColumn("sx", sum("mo").over(win))
      .withColumn("sxx", sum(col("mo") * col("mo")).over(win))
      .withColumn("sy", sum("rev").over(win))
      .withColumn("sxy", sum(col("rev") * col("mo")).over(win))
      .where(col("wn") === 6)
      .join(Tables.maybeBroadcast(n), col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("mo"),
        r4((lit(6.0) * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (lit(6.0) * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
          .as("slope"),
        r4(col("sy").cast("double") / lit(6.0)).as("avg_rev"))
      .orderBy("n_name", "mo")
  }

  val windowRollingSlopeSql: String =
    s"""WITH monthly AS (
       |  SELECT c_nationkey AS nk,
       |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mo,
       |    SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT nk, mo,
       |    COUNT(*) OVER win AS wn,
       |    CAST(SUM(mo) OVER win AS BIGINT) AS sx,
       |    CAST(SUM(mo * mo) OVER win AS BIGINT) AS sxx,
       |    SUM(rev) OVER win AS sy,
       |    SUM(rev * mo) OVER win AS sxy
       |  FROM monthly
       |  WINDOW win AS (PARTITION BY nk ORDER BY mo
       |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
       |SELECT n_name, mo,
       |  ${r4Sql("(6.0 * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * " +
                  "CAST(sy AS DOUBLE)) / (6.0 * CAST(sxx AS DOUBLE) - " +
                  "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")} AS slope,
       |  ${r4Sql("CAST(sy AS DOUBLE) / 6.0")} AS avg_rev
       |FROM w JOIN nation ON nk = n_nationkey
       |WHERE wn = 6 ORDER BY n_name, mo""".stripMargin

  // --------------------------------------------------------------- #245
  /** #245 weighted median: per return flag, the quantity-weighted
    * median extended price (the "median dollar's unit price"), next
    * to the plain exact-rank median for contrast — the weighted order
    * statistic that completes the #181/#192/#224 family (a price
    * median that weights a 50-unit line like a 1-unit line misprices
    * the tail). Lower-median convention: the first row in the (price,
    * id) total order whose cumulative weight covers half the total,
    * selected by the EXACT integer compare 2·cumw ≥ totw.
    *
    * Scale — the TWO-PASS bucket-histogram algorithm (a naive
    * flag-partitioned cumulative window serializes each flag's full
    * sort onto one task, the #224 low-cardinality ceiling; measured
    * 4.2 s at sf0.1 before this form):
    *  - pass 1 is a parallel keyed agg to a per-(flag, integer-dollar
    *    bucket) weight/count histogram — BOUNDED by the price domain,
    *    not the data volume — carrying its running `cumw`/`cumc` and
    *    its per-flag totals `totw`/`n_lines` (windows over the same
    *    flag partitioning, so no further Exchange). It is the one
    *    persisted slot, so warm runs skip it.
    *  - one aggregate over that slot picks, per flag, each median's
    *    covering bucket together with the mass before it: the min of
    *    (bkt, prefix) among the buckets whose running mass covers the
    *    target.
    *  - pass 2 is ONE lineitem scan joined to that |flags|-row cover
    *    table, keeping only the two covering buckets' rows (a per-flag
    *    sliver); one window with two conditional running sums in the
    *    (price, l_orderkey, l_linenumber) order and one keyed agg pick
    *    both medians.
    * Quantities are integral, so every weight compare is exact int64.
    * Measured on the 600,000-row bench lineitem: 9 Spark jobs cold, 6
    * warm, one lineitem scan per warm run.
    */
  def aggWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"),
        col("l_quantity").cast("long").as("w"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("bkt", floor(col("price")).cast("long"))
    val byFlag = Window.partitionBy("flag")
    val wB = byFlag.orderBy("bkt")
    val cum = Tables.persistSlot("zenith.wmedian.cum", li
      .groupBy("flag", "bkt")
      .agg(sum("w").as("bw"), count(lit(1)).as("bc"))
      .withColumn("cumw", sum("bw").over(wB))
      .withColumn("cumc", sum("bc").over(wB))
      .withColumn("totw", sum("bw").over(byFlag))
      .withColumn("n_lines", sum("bc").over(byFlag)))
    // struct min orders by bkt first: the first covering bucket wins
    val cover = cum.groupBy("flag", "totw", "n_lines").agg(
        min(when(lit(2L) * col("cumw") >= col("totw"),
          struct(col("bkt"), (col("cumw") - col("bw")).as("before"))))
          .as("cw"),
        min(when(col("cumc") >= expr("(n_lines + 1) div 2"),
          struct(col("bkt"), (col("cumc") - col("bc")).as("before"))))
          .as("cc"))
      .select(col("flag"), col("totw"), col("n_lines"),
        col("cw.bkt").as("bw_star"), col("cw.before").as("wbefore"),
        col("cc.bkt").as("bc_star"), col("cc.before").as("cbefore"))
    // pass 2: resolve inside each flag's two covering buckets; the
    // cover table has one row per flag, so it always broadcasts
    val inW = col("bkt") === col("bw_star")
    val inC = col("bkt") === col("bc_star")
    val ordIn = byFlag.orderBy("price", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(cover), "flag")
      .where(inW || inC)
      .withColumn("cin",
        sum(when(inW, col("w")).otherwise(0L)).over(ordIn))
      .withColumn("rin", sum(when(inC, 1L).otherwise(0L)).over(ordIn))
      .groupBy("flag", "n_lines", "totw")
      .agg(
        max(when(inC && col("rin") === expr("(n_lines + 1) div 2 - cbefore"),
          col("price"))).as("median_price"),
        min(when(inW && lit(2L) * (col("wbefore") + col("cin")) >=
          col("totw"), col("price"))).as("wmedian_price"))
      .select(col("flag"), col("n_lines"), col("totw").as("tot_qty"),
        r4(col("median_price")).as("median_price"),
        r4(col("wmedian_price")).as("wmedian_price"))
      .orderBy("flag")
  }

  val aggWeightedMedianSql: String =
    s"""WITH li AS (
       |  SELECT l_returnflag AS flag, l_extendedprice AS price,
       |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
       |  FROM lineitem),
       |c AS (
       |  SELECT *,
       |    CAST(SUM(w) OVER ord AS BIGINT) AS cumw,
       |    CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS totw,
       |    ROW_NUMBER() OVER ord AS r,
       |    COUNT(*) OVER (PARTITION BY flag) AS n
       |  FROM li
       |  WINDOW ord AS (PARTITION BY flag
       |    ORDER BY price, l_orderkey, l_linenumber
       |    ROWS UNBOUNDED PRECEDING)),
       |wmed AS (
       |  SELECT flag, MIN(price) AS wmedian_price
       |  FROM c WHERE 2 * cumw >= totw GROUP BY flag),
       |med AS (
       |  SELECT flag, price AS median_price
       |  FROM c WHERE r = (n + 1) // 2),
       |s AS (
       |  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(SUM(w) AS BIGINT) AS tot_qty
       |  FROM c GROUP BY flag)
       |SELECT s.flag, n_lines, tot_qty,
       |  ${r4Sql("median_price")} AS median_price,
       |  ${r4Sql("wmedian_price")} AS wmedian_price
       |FROM s JOIN med USING (flag) JOIN wmed USING (flag)
       |ORDER BY s.flag""".stripMargin

  // --------------------------------------------------------------- #246
  /** #246 corpus length drift: per source, the early-vs-late-half
    * token-length profile (halves by doc_id rank — the #190 ingestion
    * -order proxy): mean doc length per half from exact integer sums,
    * and the r4'd late/early ratio — "is the crawl degrading" at the
    * SOURCE level, the cheapest canary before #137's χ² content
    * drift or #190's embedding drift fire.
    *
    * Scale: one rank window per source + one keyed agg — |sources|×2
    * intermediate rows.
    */
  def corpusLengthDrift(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Window.partitionBy("source")
    val halves = Tables.spread(spark, dir, "documents")
      .where(col("text").isNotNull)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("r", row_number().over(bySrc.orderBy("doc_id")))
      .withColumn("n", count(lit(1)).over(bySrc))
      .where(col("n") >= 2)
      .withColumn("late", col("r") * 2 > col("n"))
    halves.groupBy("source")
      .agg(sum(when(!col("late"), 1L).otherwise(0L)).as("n_early"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        sum(when(!col("late"), col("n_tokens")).otherwise(0L))
          .as("tok_early"),
        sum(when(col("late"), col("n_tokens")).otherwise(0L))
          .as("tok_late"))
      .select(col("source"), col("n_early"), col("n_late"),
        r4(col("tok_early").cast("double") / col("n_early"))
          .as("mean_len_early"),
        r4(col("tok_late").cast("double") / col("n_late"))
          .as("mean_len_late"),
        // exact cross-products, ONE division: (tokL·nE)/(nL·tokE)
        r4((col("tok_late").cast("double") * col("n_early")) /
          (col("n_late").cast("double") * col("tok_early")))
          .as("len_ratio"))
      .orderBy("source")
  }

  val corpusLengthDriftSql: String =
    s"""WITH ranked AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM documents WHERE text IS NOT NULL),
       |h AS (
       |  SELECT source, n_tokens, (r * 2 > n) AS late
       |  FROM ranked WHERE n >= 2)
       |SELECT source,
       |  CAST(COUNT(*) FILTER (WHERE NOT late) AS BIGINT) AS n_early,
       |  CAST(COUNT(*) FILTER (WHERE late) AS BIGINT) AS n_late,
       |  ${r4Sql("SUM(CASE WHEN NOT late THEN n_tokens ELSE 0 END) / " +
                  "CAST(COUNT(*) FILTER (WHERE NOT late) AS DOUBLE)")}
       |    AS mean_len_early,
       |  ${r4Sql("SUM(CASE WHEN late THEN n_tokens ELSE 0 END) / " +
                  "CAST(COUNT(*) FILTER (WHERE late) AS DOUBLE)")}
       |    AS mean_len_late,
       |  ${r4Sql("(CAST(SUM(CASE WHEN late THEN n_tokens ELSE 0 END) " +
                  "AS DOUBLE) * COUNT(*) FILTER (WHERE NOT late)) / " +
                  "(CAST(COUNT(*) FILTER (WHERE late) AS DOUBLE) * " +
                  "SUM(CASE WHEN NOT late THEN n_tokens ELSE 0 END))")}
       |    AS len_ratio
       |FROM h GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- #247
  /** #247 order-revenue seasonal index: per calendar month (1-12),
    * revenue share against the uniform 1/12 baseline as ONE division
    * of exact decimal cross-products (12·rev_m / Σrev) — the
    * classical seasonal index on the DOLLAR axis (#115's seasonality
    * matrix counts events; a revenue planner weights by value).
    *
    * Scale: one 2-column scan → 12-row keyed agg; the total is a
    * window over those 12 rows.
    */
  def ordersSeasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders")
      .groupBy(month(col("o_orderdate")).cast("long").as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(38, 2))).as("rev"))
      .withColumn("tot", sum("rev").over(Window.partitionBy()))
      .select(col("mon"), col("n_orders"),
        r4(col("rev").cast("double")).as("revenue"),
        r4(lit(12.0) * col("rev").cast("double") /
          col("tot").cast("double")).as("seasonal_index"))
      .orderBy("mon")
  }

  val ordersSeasonalIndexSql: String =
    s"""WITH m AS (
       |  SELECT CAST(month(o_orderdate) AS BIGINT) AS mon,
       |    CAST(COUNT(*) AS BIGINT) AS n_orders,
       |    SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS rev
       |  FROM orders GROUP BY 1)
       |SELECT mon, n_orders,
       |  ${r4Sql("CAST(rev AS DOUBLE)")} AS revenue,
       |  ${r4Sql("12.0 * CAST(rev AS DOUBLE) / " +
                  "CAST(SUM(rev) OVER () AS DOUBLE)")} AS seasonal_index
       |FROM m ORDER BY mon""".stripMargin

  // --------------------------------------------------------------- #248
  /** #248 average neighbor degree per node over the support-floored
    * co-purchase graph — the LOCAL view of #208's one global
    * assortativity r: a node whose neighbors' mean degree far exceeds
    * its own sits on the periphery of a hub (the "who do you hang out
    * with" structural feature). Exact integer degree sums, ONE r4'd
    * division per node.
    *
    * Scale: degrees are a keyed agg over the structure-sized edge
    * list; the neighbor attach is one equi-join on the node key.
    */
  def graphAvgNeighborDegree(spark: SparkSession, dir: String): DataFrame = {
    val und = Graph.undirected(spark, dir)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    e.join(Tables.maybeBroadcast(
        deg.select(col("src").as("dst"), col("deg").as("nbr_deg"))), "dst")
      .groupBy("src")
      .agg(count(lit(1)).as("deg"), sum("nbr_deg").as("sum_nbr_deg"))
      .select(col("src").as("node"), col("deg"),
        r4(col("sum_nbr_deg").cast("double") / col("deg"))
          .as("avg_nbr_deg"))
      .orderBy("node")
  }

  val graphAvgNeighborDegreeSql: String =
    s"""WITH ${Graph.edgeSql},
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM e GROUP BY src)
       |SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg,
       |  ${r4Sql("SUM(d2.deg) / CAST(COUNT(*) AS DOUBLE)")}
       |    AS avg_nbr_deg
       |FROM e JOIN deg d2 ON e.dst = d2.src
       |GROUP BY e.src ORDER BY node""".stripMargin

  // ------------------------------------------------------- registration
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_lifecycle" -> (eventsLifecycle _),
    "orders_supplier_leadtime" -> (ordersSupplierLeadtime _),
    "supplier_hhi" -> (supplierHhi _),
    "orders_basket_profile" -> (ordersBasketProfile _),
    "events_interarrival" -> (eventsInterarrival _),
    "corpus_novelty" -> (corpusNovelty _),
    "dedup_source_matrix" -> (dedupSourceMatrix _),
    "embed_centroid_sim" -> (embedCentroidSim _),
    "ann_probe_dial" -> (annProbeDial _),
    "ts_decompose" -> (tsDecompose _),
    "corpus_dup_profile" -> (corpusDupProfile _),
    "orders_discount_lift" -> (ordersDiscountLift _),
    "embed_dim_moments" -> (embedDimMoments _),
    "graph_hits" -> (graphHits _),
    "quality_calibration" -> (qualityCalibration _),
    "dedup_banding_sweep" -> (dedupBandingSweep _),
    "embed_label_consistency" -> (embedLabelConsistency _),
    "corpus_pack_efficiency" -> (corpusPackEfficiency _),
    "cdc_merge_apply" -> (cdcMergeApply _),
    "ann_ivf_balance" -> (annIvfBalance _),
    "mix_achieved_shares" -> (mixAchievedShares _),
    "decontamination_report" -> (decontaminationReport _),
    "graph_local_clustering" -> (graphLocalClustering _),
    "orders_reorder_interval" -> (ordersReorderInterval _),
    "window_rolling_slope" -> (windowRollingSlope _),
    "agg_weighted_median" -> (aggWeightedMedian _),
    "corpus_length_drift" -> (corpusLengthDrift _),
    "orders_seasonal_index" -> (ordersSeasonalIndex _),
    "graph_avg_neighbor_degree" -> (graphAvgNeighborDegree _))

  val oracles: Map[String, String] = Map(
    "events_lifecycle" -> eventsLifecycleSql,
    "orders_supplier_leadtime" -> ordersSupplierLeadtimeSql,
    "supplier_hhi" -> supplierHhiSql,
    "orders_basket_profile" -> ordersBasketProfileSql,
    "events_interarrival" -> eventsInterarrivalSql,
    "corpus_novelty" -> corpusNoveltySql,
    "dedup_source_matrix" -> dedupSourceMatrixSql,
    "embed_centroid_sim" -> embedCentroidSimSql,
    "ann_probe_dial" -> annProbeDialSql,
    "ts_decompose" -> tsDecomposeSql,
    "corpus_dup_profile" -> corpusDupProfileSql,
    "orders_discount_lift" -> ordersDiscountLiftSql,
    "embed_dim_moments" -> embedDimMomentsSql,
    "graph_hits" -> graphHitsSql,
    "quality_calibration" -> qualityCalibrationSql,
    "dedup_banding_sweep" -> dedupBandingSweepSql,
    "embed_label_consistency" -> embedLabelConsistencySql,
    "corpus_pack_efficiency" -> corpusPackEfficiencySql,
    "cdc_merge_apply" -> cdcMergeApplySql,
    "ann_ivf_balance" -> annIvfBalanceSql,
    "mix_achieved_shares" -> mixAchievedSharesSql,
    "decontamination_report" -> decontaminationReportSql,
    "graph_local_clustering" -> graphLocalClusteringSql,
    "orders_reorder_interval" -> ordersReorderIntervalSql,
    "window_rolling_slope" -> windowRollingSlopeSql,
    "agg_weighted_median" -> aggWeightedMedianSql,
    "corpus_length_drift" -> corpusLengthDriftSql,
    "orders_seasonal_index" -> ordersSeasonalIndexSql,
    "graph_avg_neighbor_degree" -> graphAvgNeighborDegreeSql)
}
