package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql}

/** Round-14 widening (SURVEY.md §2 #287-290): the Pareto skyline (the
  * classic multi-objective dominance operator the inventory lacked),
  * Theil-Sen robust trend estimation (the breakdown-resistant sibling
  * of #142's least-squares trend), exact Shapley attribution over the
  * #81 filter gates (which rule actually COSTS the corpus documents,
  * order-free — the fair-attribution upgrade of #273's ordering
  * optimizer), and the perceptual hash recomputed over REAL decoded
  * pixels (the #285 codec path extended to #140's signature family).
  *
  * Cross-engine exactness: dominance, Shapley numerators, phash bits
  * and hamming distances all clear to pure integer comparisons; every
  * emitted ratio is ONE r4'd IEEE division of exact integers.
  */
object Apex {

  // --------------------------------------------------------------- #287
  /** #287 Pareto skyline of parts: the non-dominated set under
    * (minimize retail price, maximize size) — no other part is both
    * cheaper-or-equal and larger-or-equal with one strict. The
    * multi-objective shortlist read (cheapest part at every size
    * frontier) that BI suites ship as SKYLINE.
    *
    * Exactness: prices clear to integer cents (the #231 floor device),
    * so dominance is integer-only. Survival: a part survives iff its
    * size strictly exceeds the best size at any strictly lower price
    * AND equals the best size at its own price (price-tied parts with
    * the same size are mutually non-dominated and all survive).
    *
    * Scale: one keyed agg to the per-cents best-size table (bounded by
    * the PRICE DOMAIN, not the part count), ONE ordered window over
    * that domain-sized table for the running best, and a broadcast
    * join back — the data-sized pass never sorts globally. This is the
    * standard 2D skyline sweep; higher dimensions go through repeated
    * sweeps or a grid prune, same domain-bounded shape.
    */
  def partsSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        col("p_size").cast("long").as("size"),
        expr("cast(floor(p_retailprice * 100.0 + 0.5) as bigint)")
          .as("cents"))
    val best = p.groupBy("cents").agg(max("size").as("best_size"))
    val w = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    // runs over the price-DOMAIN-sized table (≤ distinct cents rows)
    val frontier = best
      .withColumn("best_below", max("best_size").over(w))
    p.join(broadcast(frontier), "cents")
      .where(col("size") === col("best_size") &&
        (col("best_below").isNull || col("size") > col("best_below")))
      .select(col("p_partkey"), col("p_brand"), col("size"), col("cents"))
      .orderBy("cents", "p_partkey")
  }

  val partsSkylineSql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS size,
      |    CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM part),
      |best AS (
      |  SELECT cents, MAX(size) AS best_size FROM p GROUP BY cents),
      |fr AS (
      |  SELECT cents, best_size,
      |    MAX(best_size) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS best_below
      |  FROM best)
      |SELECT p.p_partkey, p.p_brand, p.size, p.cents
      |FROM p JOIN fr USING (cents)
      |WHERE p.size = fr.best_size
      |  AND (fr.best_below IS NULL OR p.size > fr.best_below)
      |ORDER BY p.cents, p.p_partkey""".stripMargin

  // --------------------------------------------------------------- #288
  /** #288 Theil-Sen robust trend per event type over the daily count
    * series: the median of all pairwise slopes (y_j−y_i)/(d_j−d_i),
    * with the intercept as the median residual y_i − slope·d_i. A
    * single wild day shifts #142's least-squares slope arbitrarily;
    * the pairwise-median estimator has a 29% breakdown point — the
    * robust read an ops dashboard wants next to the OLS one.
    *
    * Determinism: daily counts are exact integers; each slope is ONE
    * IEEE division of exact int64s (identical on both engines), so
    * the (slope, i, j) total order — and therefore the lower-median
    * pick at rank ⌈n/2⌉ — is engine-identical; same for residuals.
    *
    * Scale: the dense axis is SPAN-sized (days), so the pair
    * explosion is span²-bounded per type — a fixed-horizon constant,
    * never event-volume-quadratic; everything after the one
    * events→daily agg runs on domain-sized tables.
    */
  def tsTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    // the daily table is referenced 3× (both pair sides + residuals);
    // unlike the graph family's DATA-sized edge caches (where the idle
    // A/B favors parallel recompute), this subplan reduces to a
    // SPAN-sized handful of rows behind a full events scan — persist
    // is unambiguous: one scan instead of three at any scale, and the
    // materialization barrier costs a ~|types|·days-row cache
    val daily = Tables.persistSlot("apex.theilSen.daily",
      Tables.eventsUs(spark, dir)
        .groupBy(col("event_type"),
          expr(s"ts_us div $dayUs").as("d"))
        .agg(count(lit(1)).as("y")))
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        col("a.d").as("di"), col("a.y").as("yi"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.d") - col("a.d")).cast("double")).as("slope"),
        col("b.d").as("dj"))
    val ws = Window.partitionBy("event_type")
      .orderBy("slope", "di", "dj")
    val slope = pairs
      .withColumn("rn", row_number().over(ws))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("rn") === ceil(col("np").cast("double") / 2).cast("long"))
      .select(col("event_type"), col("slope"), col("np").as("n_pairs"))
    val resid = daily.join(slope, "event_type")
      .select(col("event_type"), col("slope"), col("n_pairs"),
        (col("y").cast("double") - col("slope") * col("d")).as("r"),
        col("d"))
    val wr = Window.partitionBy("event_type").orderBy("r", "d")
    resid
      .withColumn("rn", row_number().over(wr))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("rn") === ceil(col("nd").cast("double") / 2).cast("long"))
      .select(col("event_type"), col("nd").as("n_days"), col("n_pairs"),
        r4(col("slope")).as("slope"), r4(col("r")).as("intercept"))
      .orderBy("event_type")
  }

  val tsTheilSenSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
       |    CAST(COUNT(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.event_type, a.d AS di, a.y AS yi,
       |    CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope, b.d AS dj
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND a.d < b.d),
       |sl AS (
       |  SELECT event_type, slope, np AS n_pairs FROM (
       |    SELECT event_type, slope,
       |      ROW_NUMBER() OVER (PARTITION BY event_type
       |        ORDER BY slope, di, dj) AS rn,
       |      COUNT(*) OVER (PARTITION BY event_type) AS np
       |    FROM pairs)
       |  WHERE rn = CAST(CEIL(CAST(np AS DOUBLE) / 2) AS BIGINT)),
       |res AS (
       |  SELECT d.event_type, sl.slope, sl.n_pairs,
       |    CAST(d.y AS DOUBLE) - sl.slope * d.d AS r, d.d
       |  FROM daily d JOIN sl ON d.event_type = sl.event_type)
       |SELECT event_type, nd AS n_days, n_pairs,
       |  ${r4Sql("slope")} AS slope, ${r4Sql("r")} AS intercept
       |FROM (
       |  SELECT event_type, slope, n_pairs, r,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r, d) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS nd
       |  FROM res)
       |WHERE rn = CAST(CEIL(CAST(nd AS DOUBLE) / 2) AS BIGINT)
       |ORDER BY event_type""".stripMargin

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
    val pat = Tables.persistSlot("apex.shapley.patterns",
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

  // --------------------------------------------------------------- #290
  /** #290 perceptual hash over REAL decoded pixels: the #285 codec
    * path extended to the #140 signature family. Each doc's planted
    * BMP decodes through JDK ImageIO; the 64-bit average-hash works on
    * TRUE pixels — 8×8 blocks (dimensions are multiples of 16, so
    * blocks are exact), bit = block-sum·64 > image-sum (equal-size
    * blocks clear the mean compare to integers). A second REAL encode/
    * decode of the same image with deterministic sparse pixel noise
    * (+1 where (x+y+id) ≡ 0 mod 97) yields the robustness read: the
    * hamming distance between the clean and noisy signatures. The
    * signature ships as two 32-bit halves (a full 2⁶³ bit would
    * overflow BIGINT on the oracle side).
    *
    * Scale: map-side narrow — two in-partition encode/decode passes
    * per doc, bounded by the 128×128 dimension cap; only (doc_id, two
    * int halves, hamming) ever leaves the scan.
    */
  def mmImagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    ids.mapPartitions(_.map { id =>
      def decode(bytes: Array[Byte]) = Multimodal.decodeBmp(bytes)
      def sigBits(img: java.awt.image.BufferedImage): Array[Int] = {
        val w = img.getWidth
        val h = img.getHeight
        val bw = w / 8
        val bh = h / 8
        // bulk raster read — the #285 measured getRGB fix
        val px = img.getRaster.getSamples(0, 0, w, h, 0,
          new Array[Int](w * h))
        val sums = new Array[Long](64)
        var total = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = px(y * w + x).toLong
            sums((y / bh) * 8 + x / bw) += v
            total += v
            x += 1
          }
          y += 1
        }
        Array.tabulate(64)(i => if (sums(i) * 64 > total) 1 else 0)
      }
      val clean = sigBits(decode(Multimodal.plantedBmp(id)))
      val noisy = sigBits(decode(Multimodal.plantedBmpNoisy(id)))
      var hi = 0L
      var lo = 0L
      var ham = 0L
      var i = 0
      while (i < 64) {
        if (clean(i) == 1) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
        if (clean(i) != noisy(i)) ham += 1
        i += 1
      }
      (id, hi, lo, ham)
    }).toDF("doc_id", "sig_hi", "sig_lo", "hamming_noise")
      .orderBy("doc_id")
  }

  /** The oracle never decodes a BMP: it evaluates the closed-form
    * pixel functions and the same block/bit algebra — equality proves
    * both real decodes returned the true pixels.
    */
  val mmImagePhashSql: String = {
    // pixel streams as SQL generators: v = (3x+5y+id) % 256, noisy
    // adds 1 where (x+y+id) % 97 = 0 (wrapping mod 256)
    def sig(noisy: Boolean): String = {
      val v = if (noisy)
        "((3 * x + 5 * y + doc_id) % 256 + " +
          "CASE WHEN (x + y + doc_id) % 97 = 0 THEN 1 ELSE 0 END) % 256"
      else "(3 * x + 5 * y + doc_id) % 256"
      s"""SELECT doc_id, (y // bh) * 8 + (x // bw) AS blk, $v AS v
         |  FROM (
         |    SELECT doc_id, w, h, w // 8 AS bw, h // 8 AS bh,
         |      unnest(range(0, w * h)) AS i
         |    FROM dims) q0,
         |    LATERAL (SELECT i % w AS x, i // w AS y) q1""".stripMargin
    }
    def bits(src: String): String =
      s"""SELECT doc_id, blk,
         |  CASE WHEN bs * 64 > SUM(bs) OVER (PARTITION BY doc_id)
         |    THEN 1 ELSE 0 END AS bit
         |FROM (SELECT doc_id, blk, SUM(v) AS bs FROM ($src) GROUP BY 1, 2)"""
        .stripMargin
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    16 * (1 + (doc_id * 7 + 3) % 8) AS w,
       |    16 * (1 + (doc_id * 5 + 1) % 8) AS h
       |  FROM documents),
       |cb AS (${bits(sig(noisy = false))}),
       |nb AS (${bits(sig(noisy = true))}),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN blk >= 32 THEN bit * (1::BIGINT << (blk - 32))
       |      ELSE 0 END) AS BIGINT) AS sig_hi,
       |    CAST(SUM(CASE WHEN blk < 32 THEN bit * (1::BIGINT << blk)
       |      ELSE 0 END) AS BIGINT) AS sig_lo
       |  FROM cb GROUP BY doc_id),
       |ham AS (
       |  SELECT cb.doc_id,
       |    CAST(SUM(ABS(cb.bit - nb.bit)) AS BIGINT) AS hamming_noise
       |  FROM cb JOIN nb ON cb.doc_id = nb.doc_id AND cb.blk = nb.blk
       |  GROUP BY cb.doc_id)
       |SELECT s.doc_id, s.sig_hi, s.sig_lo, h.hamming_noise
       |FROM sigs s JOIN ham h ON s.doc_id = h.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- #291
  /** #291 partition-key advisor: for each candidate partition column of
    * the orders fact (status, priority, order month, order year),
    * the layout profile a catalog maintainer reads before choosing
    * `partitionBy` — partition count, average rows per partition, and
    * the max/avg skew ratio. Too few partitions → no pruning; too many
    * → the small-files explosion `CatalogIO.writeCatalog` guards
    * against; high skew → stragglers on every partitioned write. The
    * advisory read behind the #284 compactor's layout choice.
    *
    * Scale: ONE scan — the four candidate profiles come out of a
    * single GROUPING SETS pass (grouping_id labels the candidate), a
    * second tiny agg folds group rows into per-candidate stats. Never
    * four scans.
    *
    * Exactness: counts are exact; avg and skew are each ONE r4'd
    * division of exact integers.
    */
  def layoutPartitionAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        date_format(col("o_orderdate"), "yyyy").as("year"))
    val grouped = o
      .groupingSets(
        Seq(Seq(col("status")), Seq(col("priority")), Seq(col("month")),
          Seq(col("year"))),
        col("status"), col("priority"), col("month"), col("year"))
      .agg(count(lit(1)).as("rows"), grouping_id().as("gid"))
    // gid bit = 1 when the column is AGGREGATED AWAY; a single-column
    // grouping set therefore has exactly one zero bit
    val candidate =
      when(col("gid") === 7, "status")      // 0111
        .when(col("gid") === 11, "priority") // 1011
        .when(col("gid") === 13, "month")    // 1101
        .otherwise("year")                   // 1110
    grouped
      .select(candidate.as("candidate"), col("rows"))
      .groupBy("candidate")
      .agg(count(lit(1)).as("n_partitions"),
        sum("rows").as("n_rows"),
        max("rows").as("max_rows"))
      .select(col("candidate"), col("n_partitions"), col("n_rows"),
        col("max_rows"),
        r4(col("n_rows").cast("double") / col("n_partitions"))
          .as("avg_rows"),
        r4(col("max_rows").cast("double") * col("n_partitions") /
          col("n_rows")).as("skew"))
      .orderBy("candidate")
  }

  val layoutPartitionAdvisorSql: String =
    s"""WITH o AS (
       |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
       |    strftime(o_orderdate, '%Y-%m') AS month,
       |    strftime(o_orderdate, '%Y') AS year
       |  FROM orders),
       |g AS (
       |  SELECT CASE WHEN GROUPING(status) = 0 THEN 'status'
       |              WHEN GROUPING(priority) = 0 THEN 'priority'
       |              WHEN GROUPING(month) = 0 THEN 'month'
       |              ELSE 'year' END AS candidate,
       |    CAST(COUNT(*) AS BIGINT) AS rows
       |  FROM o
       |  GROUP BY GROUPING SETS ((status), (priority), (month), (year)))
       |SELECT candidate, CAST(COUNT(*) AS BIGINT) AS n_partitions,
       |  CAST(SUM(rows) AS BIGINT) AS n_rows,
       |  MAX(rows) AS max_rows,
       |  ${r4Sql("CAST(SUM(rows) AS DOUBLE) / COUNT(*)")} AS avg_rows,
       |  ${r4Sql("CAST(MAX(rows) AS DOUBLE) * COUNT(*) / SUM(rows)")}
       |    AS skew
       |FROM g GROUP BY candidate ORDER BY candidate""".stripMargin

  // --------------------------------------------------------------- #292
  /** #292 file-skipping audit: how many simulated 512-row files would a
    * month-predicate scan actually skip, under the insertion-order
    * layout (files cut by o_orderkey) vs the date-clustered layout
    * (files cut by o_orderdate)? Each file's min/max order-day is the
    * footer statistic parquet row groups carry; a file is READ iff its
    * [min, max] overlaps the probe month. The measured argument for
    * #108's clustering (and this compactor's sort choice): same data,
    * same predicate — the clustered layout skips nearly everything,
    * the insertion layout nearly nothing.
    *
    * Scale: simulating a layout is a total-order rank — inherent (the
    * audit IS about physical order) and run offline per layout like
    * #108; the PRODUCTION audit is #320 [[layoutFooterAudit]], which
    * writes the clustered layout partition-parallel (no global sort)
    * and reads REAL parquet row-group footer min/max. This simulated
    * variant remains for the two-layout what-if comparison (insertion
    * vs clustered) that needs no physical write. The probe join is
    * |files| × 3 literal months, broadcast.
    */
  def layoutSkippingAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fileRows = 512
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
          .as("day"))
    def files(layout: String, ord: Seq[org.apache.spark.sql.Column]) =
      o.withColumn("rn", row_number().over(Window.orderBy(ord: _*)))
        .withColumn("fid", expr(s"(rn - 1) div $fileRows"))
        .groupBy("fid")
        .agg(min("day").as("min_day"), max("day").as("max_day"))
        .withColumn("layout", lit(layout))
    val byKey = files("insertion", Seq(col("o_orderkey")))
    val byDate = files("date_clustered", Seq(col("day"), col("o_orderkey")))
    val probes = Seq(
      ("1993-06", 8552L, 8581L), ("1995-03", 9190L, 9220L),
      ("1997-11", 10166L, 10195L))
      .toDF("probe", "lo", "hi")
    byKey.unionByName(byDate)
      .crossJoin(broadcast(probes))
      .groupBy("layout", "probe")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_day") >= col("lo") &&
          col("min_day") <= col("hi"), 1L).otherwise(0L)).as("n_read"))
      .select(col("layout"), col("probe"), col("n_files"), col("n_read"),
        r4(lit(1.0) - col("n_read").cast("double") / col("n_files"))
          .as("skip_frac"))
      .orderBy("layout", "probe")
  }

  val layoutSkippingAuditSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day
       |  FROM orders),
       |byk AS (
       |  SELECT 'insertion' AS layout,
       |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
       |      // 512 AS fid, day
       |  FROM o),
       |byd AS (
       |  SELECT 'date_clustered' AS layout,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day, o_orderkey) - 1 AS BIGINT)
       |      // 512 AS fid, day
       |  FROM o),
       |f AS (
       |  SELECT layout, fid, MIN(day) AS min_day, MAX(day) AS max_day
       |  FROM (SELECT * FROM byk UNION ALL SELECT * FROM byd)
       |  GROUP BY 1, 2),
       |p AS (SELECT * FROM (VALUES ('1993-06', 8552, 8581),
       |  ('1995-03', 9190, 9220), ('1997-11', 10166, 10195))
       |  AS t(probe, lo, hi))
       |SELECT layout, probe, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(COUNT(*) FILTER (WHERE max_day >= lo AND min_day <= hi)
       |    AS BIGINT) AS n_read,
       |  ${r4Sql("1.0 - CAST(COUNT(*) FILTER (WHERE max_day >= lo " +
                  "AND min_day <= hi) AS DOUBLE) / COUNT(*)")} AS skip_frac
       |FROM f CROSS JOIN p
       |GROUP BY layout, probe ORDER BY layout, probe""".stripMargin

  // --------------------------------------------------------------- #320
  /** #320 REAL-footer-stats skipping audit — the production-true form
    * of #292: physically WRITE the date-clustered layout (orders
    * projected to (key, day), directory-partitioned by month, rows
    * sorted by (day, key) inside each partition, files capped at 512
    * records), then read the actual parquet row-group footer
    * statistics off the committed files and measure how many files a
    * month-predicate scan skips. No simulation: the min/max per file
    * comes from `ParquetFileReader` over each footer — the bytes a
    * real scan planner (Spark's parquet reader, Delta/Iceberg
    * data-skipping) consults.
    *
    * Simulated == real, PROVEN by the oracle: the write is
    * deterministic — each month hash-routes to exactly one task
    * (repartition on the partition column), rows inside the task are
    * totally ordered by (month, day, key) which satisfies the
    * writer's partition-sort requirement with no extra sort, and
    * `maxRecordsPerFile` rolls at exactly 512 — so file f of a month
    * holds sorted-rank rows [512f, 512f+511] and the footer min/max
    * equals the rank-chunk min/max. The DuckDB oracle recomputes that
    * closed form (per-month rank div 512); a green hash therefore
    * proves the REAL footers match the simulation bit-for-bit —
    * retiring #292's declared global-sort device: this layout write
    * is partition-parallel (one task per month, the #108 compactor
    * shape), not one global rank.
    *
    * Scale: the write shuffles once on the partition column (a
    * repartitionByRange on (month, day) is the even-bigger-months
    * variant; month cells here are task-sized). Footer reads are
    * metadata-plane — ~8 bytes of stats per column chunk, read
    * DISTRIBUTED via mapPartitions over the file list (a 100 TB table
    * has millions of files; the stats frame is file-count-sized,
    * never row-sized, and the driver only lists paths — the same
    * listing every parquet scan already does). The probe join is
    * |files| × 3 literal months, broadcast.
    */
  def layoutFooterAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the shared cache-owned #320/#343 date layout (Forge.date512Layout):
    // same (month, day, key) sort and 512-row file cap, so the day rank
    // cuts — and hence the footer min/max this audit reads — are the
    // closed form the oracle computes; the extra clustering columns the
    // shared frame carries don't appear in the day stats
    val tmp = Forge.date512Layout(spark, dir)
    val fileStats = readFooterDayStats(spark, tmp)
    val probes = Seq(
      ("1993-06", 8552L, 8581L), ("1995-03", 9190L, 9220L),
      ("1997-11", 10166L, 10195L))
      .toDF("probe", "lo", "hi")
    fileStats
      .crossJoin(broadcast(probes))
      .groupBy("probe")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_day") >= col("lo") &&
          col("min_day") <= col("hi"), 1L).otherwise(0L)).as("n_read"))
      .select(col("probe"), col("n_files"), col("n_read"),
        r4(lit(1.0) - col("n_read").cast("double") / col("n_files"))
          .as("skip_frac"))
      .orderBy("probe")
  }

  /** Recursively delete a temp layout directory once its footer stats
    * have been materialized (layout audits write full parquet copies;
    * leaving them would leak unbounded disk across bench sweeps).
    */
  private[graft] def deleteTempLayout(spark: SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  /** Per-(file, ROW GROUP, stat column) min/max/count of integer
    * columns read from REAL parquet footers under `path`: one row per
    * (data file, row-group ordinal, column in `statCols`). Row groups
    * are the unit parquet actually skips at (a reader can drop a row
    * group of a file it must otherwise open); the per-file readers
    * below are folds of these rows. Listing is driver-side metadata;
    * footer decoding runs distributed on executors.
    */
  def readFooterRowGroupStats(spark: SparkSession, path: String,
      statCols: String*): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = graft.ParquetFiles.list(spark, path)
    val serConf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val colsB = statCols.toList
    spark.createDataset(files.toSeq)
      .repartition(math.max(1, math.min(files.size, 32)))
      .mapPartitions { part =>
        part.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), serConf.value)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
              case (b, i) => colsB.map { c =>
                val cc = b.getColumns.asScala
                  .find(_.getPath.toDotString == c)
                  .getOrElse(throw new IllegalStateException(
                    s"no '$c' column chunk in $p"))
                val st = cc.getStatistics
                (p, i, c,
                  st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                  st.genericGetMax.asInstanceOf[java.lang.Long].longValue,
                  b.getRowCount)
              }
            }
          } finally reader.close()
        }
      }
      .toDF("path", "rg_idx", "stat_col", "min_v", "max_v", "n_rows")
  }

  /** Physically read ONLY the named row groups of each file —
    * the data plane of the #337 row-group-pruned scan. Non-surviving
    * row groups are passed over with `skipNextRowGroup()` (footer-only
    * seek, no page I/O); surviving ones decode through the parquet
    * record-assembly stack. Emits the two scan columns of the layout
    * frame. Distributed: each (file, row-group set) pair is one unit
    * of executor work, exactly like a native scan's file splits.
    */
  private[graft] def readSelectedRowGroups(spark: SparkSession,
      survivors: Seq[(String, Seq[Int])]): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val serConf = new org.apache.spark.util.SerializableConfiguration(hconf)
    if (survivors.isEmpty)
      return spark.range(0).select(col("id").as("o_orderkey"),
        col("id").as("day"))
    spark.createDataset(survivors)
      .repartition(math.max(1, math.min(survivors.size, 32)))
      .mapPartitions { part =>
        part.flatMap { case (p, idxs) =>
          val want = idxs.toSet
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), serConf.value)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          try {
            val schema = reader.getFooter.getFileMetaData.getSchema
            val nBlocks = reader.getFooter.getBlocks.size
            val colIO = new org.apache.parquet.io.ColumnIOFactory()
              .getColumnIO(schema)
            var i = 0
            while (i < nBlocks) {
              if (want(i)) {
                val pages = reader.readNextRowGroup()
                val rr = colIO.getRecordReader(pages,
                  new org.apache.parquet.example.data.simple.convert
                    .GroupRecordConverter(schema))
                var r = 0L
                while (r < pages.getRowCount) {
                  val g = rr.read()
                  out += ((g.getLong("o_orderkey", 0), g.getLong("day", 0)))
                  r += 1
                }
              } else reader.skipNextRowGroup()
              i += 1
            }
          } finally reader.close()
          out
        }
      }
      .toDF("o_orderkey", "day")
  }

  /** Per-(file, column) min/max/count of integer columns read from
    * REAL parquet footers under `path` — the row-group stats folded per
    * file, for multi-dimension audits (#324): one row per (data file,
    * stat column), long format so callers pivot with ordinary
    * aggregation.
    */
  def readFooterLongStats(spark: SparkSession, path: String,
      statCols: Seq[String]): DataFrame =
    readFooterRowGroupStats(spark, path, statCols: _*)
      .groupBy("path", "stat_col")
      .agg(min("min_v").as("min_v"), max("max_v").as("max_v"),
        sum("n_rows").as("n_rows"))

  /** Per-(file, probe-key) skipping audit off REAL parquet footers:
    * for every data file under `path` and every key in `keys`, read
    * the `statCol` column chunk's [min,max] (zone-map verdict:
    * `zm_hit` — would a min/max index have to read this file?) AND
    * its serialized BLOOM FILTER (point-index verdict: `bloom_hit` —
    * does the bloom say the key may be present in ANY row group?).
    * `has_bloom` reports whether the writer actually emitted a bloom
    * for every row group; a missing bloom degrades to a conservative
    * must-read (`bloom_hit` = true), never a false skip — the same
    * no-false-negative contract the pruned-scan executors rely on.
    *
    * Scale: footers + bloom bitsets are metadata-plane (a bloom is
    * KBs per row group at any data volume); listing is driver-side,
    * decoding runs distributed like the other footer readers.
    */
  def readFooterBloomAudit(spark: SparkSession, path: String,
      statCol: String, keys: Seq[Long]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = graft.ParquetFiles.list(spark, path)
    val serConf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val c = statCol
    val ks = keys
    spark.createDataset(files.toSeq)
      .repartition(math.max(1, math.min(files.size, 32)))
      .mapPartitions { part =>
        part.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), serConf.value)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = reader.getFooter.getBlocks.asScala.toSeq
            val per = blocks.map { b =>
              val cc = b.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .getOrElse(throw new IllegalStateException(
                  s"no '$c' column chunk in $p"))
              val st = cc.getStatistics
              val bf = reader.getBloomFilterDataReader(b)
                .readBloomFilter(cc)
              (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue,
                Option(bf))
            }
            val hasBloom = per.forall(_._3.isDefined)
            ks.map { k =>
              val zm = per.exists(t => t._1 <= k && k <= t._2)
              val bh = per.exists(t => t._3 match {
                case Some(bf) => bf.findHash(bf.hash(k))
                case None => true // no bloom => conservative must-read
              })
              (p, k, zm, bh, hasBloom)
            }
          } finally reader.close()
        }
      }
      .toDF("path", "k", "zm_hit", "bloom_hit", "has_bloom")
  }

  /** Per-FILE min/max/count of the `day` column read from REAL parquet
    * footers under `path` (one row per data file; row-group stats are
    * folded per file), tagged with the `month=` partition directory the
    * file sits in.
    */
  def readFooterDayStats(spark: SparkSession, path: String): DataFrame =
    readFooterRowGroupStats(spark, path, "day")
      .groupBy("path")
      .agg(min("min_v").as("min_day"), max("max_v").as("max_day"),
        sum("n_rows").as("n_rows"))
      .select(regexp_replace(element_at(split(col("path"), "/"), -2),
          "^month=", "").as("month"),
        col("path"), col("min_day"), col("max_day"), col("n_rows"))

  val layoutFooterAuditSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day,
       |    strftime(o_orderdate, '%Y-%m') AS month
       |  FROM orders),
       |r AS (
       |  SELECT month, day,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY month
       |      ORDER BY day, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM o),
       |f AS (
       |  SELECT month, fid, MIN(day) AS min_day, MAX(day) AS max_day
       |  FROM r GROUP BY 1, 2),
       |p AS (SELECT * FROM (VALUES ('1993-06', 8552, 8581),
       |  ('1995-03', 9190, 9220), ('1997-11', 10166, 10195))
       |  AS t(probe, lo, hi))
       |SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(COUNT(*) FILTER (WHERE max_day >= lo AND min_day <= hi)
       |    AS BIGINT) AS n_read,
       |  ${r4Sql("1.0 - CAST(COUNT(*) FILTER (WHERE max_day >= lo " +
                  "AND min_day <= hi) AS DOUBLE) / COUNT(*)")} AS skip_frac
       |FROM f CROSS JOIN p
       |GROUP BY probe ORDER BY probe""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "parts_skyline" -> (partsSkyline _),
    "ts_theil_sen" -> (tsTheilSen _),
    "quality_rule_shapley" -> (qualityRuleShapley _),
    "mm_image_phash" -> (mmImagePhash _),
    "layout_partition_advisor" -> (layoutPartitionAdvisor _),
    "layout_skipping_audit" -> (layoutSkippingAudit _),
    "layout_footer_audit" -> (layoutFooterAudit _))

  val oracles: Map[String, String] = Map(
    "parts_skyline" -> partsSkylineSql,
    "ts_theil_sen" -> tsTheilSenSql,
    "quality_rule_shapley" -> qualityRuleShapleySql,
    "mm_image_phash" -> mmImagePhashSql,
    "layout_partition_advisor" -> layoutPartitionAdvisorSql,
    "layout_skipping_audit" -> layoutSkippingAuditSql,
    "layout_footer_audit" -> layoutFooterAuditSql)
}
