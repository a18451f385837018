package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{LayoutCache, Tables}
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Graph analytics over the part co-purchase graph (SURVEY.md §2
  * #99-100): nodes are parts, an undirected edge joins two parts bought
  * in the same order. The reference's lineage chains (`generated_by` —
  * reactor.py:166) are the 1-hop form of this; these operators are the
  * iterative/structural extensions a catalog-analytics engine needs.
  *
  * Scale notes:
  *  - Edge generation is the market-basket shape: pairs explode PER
  *    ORDER, so fan-out is bounded by (lines per order)² — never corpus
  *    ×corpus. One distinct-shuffle on the pair.
  *  - PageRank unrolls a FIXED iteration count into one declarative
  *    plan — each iteration is an equi-join on the node key plus a
  *    keyed partial-aggregable sum, so every step shuffles on the same
  *    key and AQE reuses the partitioning. For open-ended convergence
  *    at 100 TB, switch to the persist + localCheckpoint loop the
  *    dedup_cluster label propagation uses (lineage must be cut when
  *    the trip count is data-dependent; a fixed 3-hop plan needs no
  *    checkpoint).
  *  - Triangle counting orients each edge low→high by (degree, id) —
  *    the classic forward algorithm: every wedge join fans out from the
  *    LOWER-degree endpoint, so hub nodes never enumerate their own
  *    neighbor pairs and per-key join width is O(sqrt(|E|)) instead of
  *    O(max degree).
  */
object Graph {

  /** Undirected co-purchase edges with market-basket SUPPORT ≥ 2 (the
    * pair appears in at least two distinct orders), emitted once with
    * a < b. The support floor is the classic basket-analysis denoise
    * AND the scale guard: single-co-occurrence pairs grow linearly
    * with order volume (1.2M at sf0.1) while true co-purchase edges
    * stay signal-sized (~3.5k at EVERY scale factor here) — without
    * it, graph density tracks data volume instead of structure and
    * wedge counts explode quadratically.
    */
  private[graft] def undirected(spark: SparkSession, dir: String): DataFrame =
    cachedEdges(spark, dir).select("pa", "pb")

  /** The same cached support-≥2 edge table WITH its support count —
    * r12: the cache write now keeps `sup` (it was computed and dropped
    * before), because #116 basket rules re-derived the identical
    * pair-support table through its own lineitem self-join +
    * countDistinct (~4-5 s per query at sf0.1, the one graph-family
    * query the r11 edge cache left out). countDistinct-over-join and
    * count-over-set-pairs agree exactly: the per-order part SET dedups
    * the same duplicates countDistinct collapses.
    */
  private[graft] def undirectedWithSup(spark: SparkSession,
      dir: String): DataFrame =
    cachedEdges(spark, dir).select("pa", "pb", "sup")

  private def cachedEdges(spark: SparkSession, dir: String): DataFrame = {
    // Cross-QUERY amortization (the LayoutCache discipline extended
    // from physical layouts to this derived table): the support-≥2
    // edge list is a deterministic pure function of (dir, minSupport)
    // and STRUCTURE-sized (~3.5k rows at every sf — see the support
    // floor note above), yet 19 graph_* queries each re-derived it
    // from lineitem (~4-5 s each, 95 s of the r10 sweep). Here the
    // derivation runs ONCE per (dir) per JVM, lands as one small
    // parquet file, and every consumer reads the bytes back — the
    // same amortized-cost-is-the-honest-cost argument the layout
    // family settled (VERDICT r10). Within-query subtree sharing via
    // saturatedSlot becomes moot: the shared subplan is now a tiny
    // local scan that's cheap to repeat at any profile. At 100 TB the
    // one-time derivation is the identical one-pass basket self-join;
    // the cache just stops paying it per query. repartition(1) is
    // safe BECAUSE the result is structure-sized: the floor keeps
    // |edges| tracking catalog structure, not data volume (probed to
    // 100×); an unfloored variant must not reuse this path.
    LayoutCache.table("graph_edges_s2_sup", dir) {
      // the SETS derivation, not the self-join: one shuffle groups
      // lineitem into per-order part sets, pairs explode map-side and
      // the support count is map-side-combinable — no countDistinct
      // expand, no join-side sort. The r18 A/B called the two a wash
      // per-QUERY at bench scale; at the CACHE site the derivation
      // runs once per JVM, so the deciding number is the 100× memory
      // envelope: the self-join spills ~48 GB on an 8 GiB heap, this
      // shape ~26 GB (the remainder is the honest partial-agg cost of
      // 100× the distinct-pair cardinality — SPILL_probe100_r23), and
      // every SUBSEQUENT graph query probes zero-spill off the cached
      // file. GraphSpec pins the two variants row-identical.
      undirectedViaSets(spark, dir, minSupport = 2).repartition(1)
    }
  }

  /** The derivation behind [[undirected]]'s cache: ONE shuffle groups
    * lineitem into per-order part SETS, pairs explode MAP-SIDE from each
    * array (bounded by (lines/order)², same as a self-join's fan-out),
    * and the support count is a plain partial-aggregable `count` — the
    * set already dedups (order, pa, pb), so no countDistinct expand and
    * no self-join. The self-join forms it replaced (join +
    * countDistinct, distinct-first join + count) are settled A/Bs — see
    * `cachedEdges`, numbers in PLANS.md and OPTIMIZATION_r13.md;
    * GraphSpec keeps the distinct-first form as its row-identity
    * reference.
    */
  private[graft] def undirectedViaSets(spark: SparkSession, dir: String,
      minSupport: Long = 2): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // explicit repartition: exempt from AQE's 64 MB advisory coalesce,
    // which would fold the 100×-scale set-build into ~11 partitions
    // whose ObjectHashAggregate fallback sorts spill (the PLANS.md
    // round-21 pattern); at bench scale it's the same shuffle the
    // groupBy pays anyway
    li.repartition(spark.sparkContext.defaultParallelism, col("o"))
      .groupBy("o").agg(collect_set("p").as("ps"))
      // single-part orders yield no pairs; the guard also keeps the
      // sequence() bounds ascending (sequence(1, 0) is DESCENDING in
      // Spark — the #267 phantom-frame trap)
      .where(size(col("ps")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ps) - 1), i ->
          |  transform(sequence(i + 1, size(ps)), j ->
          |    struct(least(element_at(ps, i), element_at(ps, j)) AS pa,
          |      greatest(element_at(ps, i), element_at(ps, j)) AS pb))))"""
          .stripMargin)).as("e"))
      .select(col("e.pa").as("pa"), col("e.pb").as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("sup"))
      .where(col("sup") >= minSupport)
      .select("pa", "pb", "sup")
  }

  /** Both directions of [[undirected]]: one row per (src, dst) arc. */
  private def symmetric(spark: SparkSession, dir: String): DataFrame = {
    val u = undirected(spark, dir)
    u.select(col("pa").as("src"), col("pb").as("dst"))
      .union(u.select(col("pb").as("src"), col("pa").as("dst")))
  }

  private[operators] val edgeSql =
    """li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |und AS (
      |  SELECT pa, pb FROM (
      |    SELECT a.p AS pa, b.p AS pb, COUNT(DISTINCT a.o) AS sup
      |    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |    GROUP BY 1, 2)
      |  WHERE sup >= 2),
      |e AS (
      |  SELECT pa AS src, pb AS dst FROM und
      |  UNION ALL SELECT pb AS src, pa AS dst FROM und)""".stripMargin

  // ---------------------------------------------------------------- #99
  /** #99 fixed-3-iteration PageRank (damping 0.85, init 1.0). Each
    * iteration: contribution = rank/outdeg (ONE IEEE division — engine
    * stable), summed per target through a DECIMAL(28,18) cast so the
    * reduction order can't flip bits, then 0.15 + 0.85·sum (two more
    * IEEE ops). The symmetric graph has no dangling nodes; the left
    * join + coalesce keeps isolated-node generality anyway.
    */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    graphPagerank(spark, dir, iters = 3)

  def graphPagerank(spark: SparkSession, dir: String, iters: Int): DataFrame =
    pagerankFrom(symmetric(spark, dir), iters)

  /** PageRank over an arbitrary directed edge list (`src`, `dst`). */
  def pagerankFrom(e: DataFrame, iters: Int): DataFrame = {
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = e.join(deg, "src")
    val nodes = deg.select(col("src").as("node"))
    var r = nodes.withColumn("rank", lit(1.0))
    for (_ <- 1 to iters) {
      val contrib = ed
        .join(r, col("src") === col("node"))
        .select(col("dst"),
          (col("rank") / col("outdeg").cast("double")).as("c"))
        .groupBy("dst")
        .agg(sumDec(col("c"), 28, 18).as("s"))
      r = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(0.15) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("rank"))
    }
    r.join(deg, col("node") === col("src"))
      .select(col("node"), r4(col("rank")).as("pagerank"), col("outdeg"))
      .orderBy("node")
  }

  val graphPagerankSql: String = {
    val step = sumDecSql("rank / CAST(outdeg AS DOUBLE)", 28, 18)
    def it(prev: String, cur: String) =
      s"""c$cur AS (
         |  SELECT dst, $step AS s
         |  FROM ed JOIN r$prev ON ed.src = r$prev.node GROUP BY dst),
         |r$cur AS (
         |  SELECT node, 0.15 + 0.85 * COALESCE(s, 0.0) AS rank
         |  FROM (SELECT node FROM r$prev) n LEFT JOIN c$cur ON node = dst)"""
        .stripMargin
    s"""WITH $edgeSql,
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e
       |  JOIN deg ON e.src = deg.src),
       |r0 AS (SELECT src AS node, 1.0 AS rank FROM deg),
       |${it("0", "1")},
       |${it("1", "2")},
       |${it("2", "3")}
       |SELECT node, ${r4Sql("rank")} AS pagerank, outdeg
       |FROM r3 JOIN deg ON node = deg.src
       |ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- #100
  /** #100 triangle census + global clustering coefficient. Edges orient
    * low→high by (undirected degree, id); a triangle is counted exactly
    * once as an oriented wedge (u→v, v→w) closed by (u→w). Wedge count
    * is Σ C(deg,2) (exact integers), transitivity = 3·triangles/wedges
    * with one IEEE division + 4dp floor-round.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    trianglesFrom(undirected(spark, dir))

  /** Triangle census over an arbitrary undirected edge list
    * (`pa` < `pb`, one row per edge).
    */
  def trianglesFrom(und: DataFrame): DataFrame = {
    val deg = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
      .groupBy("src").agg(count(lit(1)).as("deg"))
    // orient each undirected edge from the (deg, id)-smaller endpoint
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
    val tri = e1.join(e2, col("v") === col("v2"))
      .join(e3, col("u") === col("u3") && col("w") === col("w3"))
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum((col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    val edges = und.agg(count(lit(1)).as("n_edges"))
    stats.crossJoin(edges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        r4(lit(3.0) * col("n_triangles") /
          col("n_wedges").cast("double")).as("transitivity"))
  }

  val graphTrianglesSql: String =
    s"""WITH $edgeSql,
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |o AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
       |      THEN pa ELSE pb END AS src,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND pa < pb)
       |      THEN pb ELSE pa END AS dst
       |  FROM und JOIN deg da ON und.pa = da.src
       |  JOIN deg db ON und.pb = db.src),
       |tri AS (
       |  SELECT COUNT(*) AS n_triangles
       |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
       |  JOIN o e3 ON e1.src = e3.src AND e2.dst = e3.dst),
       |stats AS (
       |  SELECT COUNT(*) AS n_nodes,
       |    CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |edges AS (SELECT COUNT(*) AS n_edges FROM und)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  ${r4Sql("3.0 * n_triangles / CAST(n_wedges AS DOUBLE)")}
       |    AS transitivity
       |FROM stats, edges, tri""".stripMargin

  // --------------------------------------------------------------- #116
  /** #116 association rules from the co-purchase pairs: for every
    * supported pair {a,b}, both directed rules a→b and b→a with
    * support / confidence / lift. Reuses the bounded per-order pair
    * generation; item frequencies are a tiny keyed agg broadcast into
    * the rule join; lift's denominator is a 1-row scalar. All three
    * metrics are exact-integer ratios under ONE IEEE division each
    * (r4) — no floating accumulation anywhere.
    */
  def graphBasketRules(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val nOrders = li.agg(countDistinct(col("o")).as("n_orders"))
    val itemSup = li.groupBy("p").agg(countDistinct(col("o")).as("isup"))
    // r12: the pair-support table IS the cached support-≥2 edge list
    // (sup is now kept in the cache file) — the self-join +
    // countDistinct this used to run re-derived the same table the
    // rest of the graph family already reads from LayoutCache
    val pairSup = undirectedWithSup(spark, dir)
    val rules = pairSup
      .select(col("pa").as("antecedent"), col("pb").as("consequent"),
        col("sup"))
      .union(pairSup.select(col("pb").as("antecedent"),
        col("pa").as("consequent"), col("sup")))
    rules
      .join(broadcast(itemSup.select(col("p").as("antecedent"),
        col("isup").as("sup_a"))), "antecedent")
      .join(broadcast(itemSup.select(col("p").as("consequent"),
        col("isup").as("sup_c"))), "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("sup"),
        r4(col("sup") / col("sup_a").cast("double")).as("confidence"),
        r4((col("sup") * col("n_orders")) /
          (col("sup_a") * col("sup_c")).cast("double")).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  val graphBasketRulesSql: String =
    s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM li),
       |isup AS (SELECT p, COUNT(DISTINCT o) AS isup FROM li GROUP BY p),
       |ps AS (
       |  SELECT pa, pb, sup FROM (
       |    SELECT a.p AS pa, b.p AS pb, COUNT(DISTINCT a.o) AS sup
       |    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
       |    GROUP BY 1, 2)
       |  WHERE sup >= 2),
       |rules AS (
       |  SELECT pa AS antecedent, pb AS consequent, sup FROM ps
       |  UNION ALL SELECT pb, pa, sup FROM ps)
       |SELECT antecedent, consequent, sup,
       |  ${r4Sql("sup / CAST(sa.isup AS DOUBLE)")} AS confidence,
       |  ${r4Sql("(sup * n_orders) / CAST(sa.isup * sc.isup AS DOUBLE)")}
       |    AS lift
       |FROM rules
       |JOIN isup sa ON rules.antecedent = sa.p
       |JOIN isup sc ON rules.consequent = sc.p
       |CROSS JOIN n
       |ORDER BY antecedent, consequent""".stripMargin

  // --------------------------------------------------------------- #135
  /** #135 link prediction over the co-purchase graph: for every
    * NON-adjacent node pair sharing ≥1 neighbor, common-neighbor
    * count, resource-allocation index (Σ 1/deg(z) over shared
    * neighbors z — decimal-summed so accumulation order can't drift),
    * and neighbor-set Jaccard. Candidate pairs come from the wedge
    * join (per-hub fan-out bounded by the support-floored degree),
    * adjacency is removed by ONE anti-join against the edge list —
    * never an all-pairs scan. The catalog reading: "jobs that share
    * upstream inputs but were never linked" — the recommender over
    * #5's lineage graph.
    */
  def graphLinkPrediction(spark: SparkSession, dir: String): DataFrame =
    linkPredictionFrom(undirected(spark, dir))

  /** Link-prediction scores over an arbitrary undirected edge list
    * (`pa` < `pb`, one row per edge).
    */
  def linkPredictionFrom(und0: DataFrame): DataFrame = {
    // this operator references the edge subplan ~8× (two wedge sides
    // through hub, degrees ×3, the adjacency anti-join) — the highest
    // ref count in the graph family, and the ONE place the measured
    // A/B favored persist (5.5 s vs 6.5 s at sf0.1) over parallel
    // recompute; the siblings at 4-7 refs measured the opposite and
    // stay persist-free (PLANS.md "Evaluated and rejected"). The slot
    // bounds the cache to ONE edge list across repeated calls in a
    // long-lived session (the r4 ADVICE leak).
    val und = graft.Tables.persistSlot("graph.linkPrediction.edges", und0)
    val sym = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val hub = sym.join(deg, "src")
    val wedges = hub.select(col("src").as("z"), col("dst").as("a"),
        col("deg").as("degz"))
      .join(hub.select(col("src").as("z2"), col("dst").as("b")),
        col("z") === col("z2") && col("a") < col("b"))
    val cand = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("common_neighbors"),
        sum((lit(1.0) / col("degz")).cast(DecimalType(28, 12)))
          .cast("double").as("ra_raw"))
      .join(und, col("a") === col("pa") && col("b") === col("pb"),
        "left_anti")
    cand
      .join(deg.select(col("src").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("degb")), "b")
      .select(col("a"), col("b"), col("common_neighbors"),
        r4(col("ra_raw")).as("resource_alloc"),
        r4(col("common_neighbors") /
          (col("dega") + col("degb") - col("common_neighbors"))
            .cast("double")).as("jaccard"))
      .orderBy("a", "b")
  }

  val graphLinkPredictionSql: String =
    s"""WITH $edgeSql,
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |w AS (
       |  SELECT x.dst AS a, y.dst AS b, x.src AS z
       |  FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst),
       |cand AS (
       |  SELECT a, b, COUNT(*) AS common_neighbors,
       |    CAST(SUM(CAST(CAST(1.0 AS DOUBLE) / dz.deg AS DECIMAL(28,12)))
       |      AS DOUBLE) AS ra_raw
       |  FROM w JOIN deg dz ON w.z = dz.src
       |  GROUP BY a, b),
       |nonadj AS (
       |  SELECT c.* FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM und
       |    WHERE und.pa = c.a AND und.pb = c.b))
       |SELECT a, b, common_neighbors,
       |  ${r4Sql("ra_raw")} AS resource_alloc,
       |  ${r4Sql("common_neighbors / CAST(da.deg + db.deg " +
                  "- common_neighbors AS DOUBLE)")} AS jaccard
       |FROM nonadj
       |JOIN deg da ON a = da.src
       |JOIN deg db ON b = db.src
       |ORDER BY a, b""".stripMargin

  // --------------------------------------------------------------- #344
  /** #344 seed-sampled TRUNCATED BRANDES betweenness — the
    * centrality the whole graph family still lacked: PageRank (#99)
    * scores where mass ACCUMULATES, closeness (#199) who is NEAR
    * everything; betweenness scores who shortest paths PASS THROUGH —
    * the broker/bottleneck read (which hub part bridges two product
    * communities; which host carries the traffic between clusters).
    * Exact all-pairs Brandes is O(V·E) — at any real scale one runs
    * it from a SEED SAMPLE with a HOP HORIZON, which is precisely
    * this operator: the 5 smallest-id landmark sources (#180's set),
    * BFS truncated at 4 hops, dependencies accumulated down the
    * shortest-path DAG.
    *
    * Forward (per seed, all seeds at once): level L+1 = neighbors of
    * level L not yet reached (anti-join against the reach set);
    * σ(v) = Σ σ(pred) over all level-L predecessors — path counts in
    * exact int64. Backward: δ(v) = Σ_{w ∈ succ(v)} (σ_v/σ_w)(1+δ_w),
    * levels processed deepest-first with level-4 nodes as truncation
    * leaves; each level's δ-sum crosses through DECIMAL(38,12)
    * quantization (the sumDec device) so the accumulation is
    * order-insensitive and bit-identical cross-engine — the σ ratio
    * and the (1+δ) product are single IEEE expressions over exact
    * ints and already-quantized doubles. bc(v) = Σ_seeds δ over the
    * interior levels 1-3 (a level-4 node is a truncation leaf: its
    * onward dependency is out of horizon by construction).
    *
    * Scale: every round is one structure-sized (support-floored)
    * edge-list join keyed the same way (AQE lines the Exchanges up);
    * state is ≤ |seeds|·|nodes| rows. Each level frame feeds BOTH the
    * next forward round and two backward joins, so levels are
    * localCheckpoint-materialized (the #152 lineage cut — tiny
    * frames, re-derived subplans otherwise multiply exponentially
    * through the 8-join DAG).
    */
  def graphBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(spark, dir)
    val edges = und.select(col("pa").as("src"), col("pb").as("dst"))
      .union(und.select(col("pb").as("src"), col("pa").as("dst")))
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy("node").limit(5).select(col("node").as("seed"))
    betweennessFrom(edges, seeds)
  }

  /** #344 over an arbitrary directed edge list (`src`, `dst` —
    * symmetric for undirected graphs) and seed set (`seed`) — the
    * spec drives pencil-and-paper graphs through the identical plan.
    */
  private[graft] def betweennessFrom(edgesIn: DataFrame,
      seeds: DataFrame): DataFrame = {
    import graft.Exprs.sumDec
    // materialize the (structure-sized) edge list ONCE: the 8
    // per-level checkpoint actions below would otherwise re-derive
    // the support-floored co-purchase subtree per action (measured
    // 36.4 s -> 8 s at sf0.1 from this one cut)
    val edges = edgesIn.localCheckpoint(true)
    val f0 = seeds.select(col("seed"), col("seed").as("node"),
      lit(1L).as("sigma")).localCheckpoint(true)
    val fs = scala.collection.mutable.ArrayBuffer(f0)
    var reach = f0.select("seed", "node")
    for (_ <- 1 to 4) {
      val prev = fs.last
      val next = prev
        .join(edges, prev("node") === edges("src"))
        .groupBy(col("seed"), col("dst"))
        .agg(sum("sigma").as("sigma"))
        .withColumnRenamed("dst", "node")
        .join(reach, Seq("seed", "node"), "left_anti")
        .localCheckpoint(true)
      fs += next
      reach = reach.unionByName(next.select("seed", "node"))
    }
    // backward: deepest level is a truncation leaf (δ = 0)
    var deltas = List(fs(4).select(col("seed"), col("node"),
      lit(0.0).as("delta")).localCheckpoint(true))
    for (l <- 3 to 1 by -1) {
      val fl = fs(l)
      val wInfo = fs(l + 1)
        .join(deltas.head.withColumnRenamed("node", "wn")
            .withColumnRenamed("seed", "ws"),
          fs(l + 1)("seed") === col("ws") && fs(l + 1)("node") === col("wn"))
        .select(col("ws").as("w_seed"), col("wn").as("w_node"),
          col("sigma").as("w_sigma"), col("delta").as("w_delta"))
      val term = (col("sigma").cast("double") /
        col("w_sigma").cast("double")) * (lit(1.0) + col("w_delta"))
      val acc = fl.join(edges, fl("node") === edges("src"))
        .join(wInfo,
          col("seed") === col("w_seed") && col("dst") === col("w_node"))
        .groupBy(col("seed"), col("node"))
        .agg(sumDec(term, 38, 12).as("dsum"))
      val dl = fl.select(col("seed"), col("node"))
        .join(acc, Seq("seed", "node"), "left_outer")
        .select(col("seed"), col("node"),
          coalesce(col("dsum"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      deltas = dl :: deltas
    }
    deltas.dropRight(1).reduce(_ unionByName _) // levels 1..3
      .groupBy("node")
      .agg(count(lit(1)).as("n_seeds"),
        sumDec(col("delta"), 38, 12).as("bc_raw"))
      .select(col("node"), col("n_seeds"),
        graft.Exprs.r4(col("bc_raw")).as("betweenness"))
      .orderBy("node")
  }

  val graphBetweennessSql: String = {
    def fwd(l: Int): String = {
      val p = s"f${l - 1}"
      s"""f$l AS (
         |  SELECT x.seed, x.node, CAST(SUM(x.sigma) AS BIGINT) AS sigma
         |  FROM (
         |    SELECT f.seed, e.dst AS node, f.sigma
         |    FROM $p f JOIN e ON e.src = f.node) x
         |  LEFT JOIN r${l - 1} r ON r.seed = x.seed AND r.node = x.node
         |  WHERE r.node IS NULL
         |  GROUP BY 1, 2),
         |r$l AS (
         |  SELECT seed, node FROM r${l - 1}
         |  UNION ALL SELECT seed, node FROM f$l)""".stripMargin
    }
    def bwd(l: Int): String =
      s"""d$l AS (
         |  SELECT f.seed, f.node, COALESCE(t.dsum, 0.0) AS delta
         |  FROM f$l f LEFT JOIN (
         |    SELECT v.seed, v.node,
         |      CAST(SUM(CAST(
         |        (CAST(v.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
         |          * (1.0 + dw.delta) AS DECIMAL(38,12))) AS DOUBLE)
         |        AS dsum
         |    FROM f$l v
         |      JOIN e ON e.src = v.node
         |      JOIN f${l + 1} w ON w.seed = v.seed AND w.node = e.dst
         |      JOIN d${l + 1} dw ON dw.seed = v.seed AND dw.node = e.dst
         |    GROUP BY 1, 2) t ON t.seed = f.seed AND t.node = f.node)"""
        .stripMargin
    s"""WITH $edgeSql,
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |sd AS (SELECT node AS seed FROM nodes ORDER BY node LIMIT 5),
       |f0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma
       |  FROM sd),
       |r0 AS (SELECT seed, node FROM f0),
       |${fwd(1)},
       |${fwd(2)},
       |${fwd(3)},
       |${fwd(4)},
       |d4 AS (SELECT seed, node, CAST(0.0 AS DOUBLE) AS delta FROM f4),
       |${bwd(3)},
       |${bwd(2)},
       |${bwd(1)},
       |allv AS (
       |  SELECT seed, node, delta FROM d1
       |  UNION ALL SELECT seed, node, delta FROM d2
       |  UNION ALL SELECT seed, node, delta FROM d3)
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_seeds,
       |  ${graft.Exprs.r4Sql(
           "CAST(SUM(CAST(delta AS DECIMAL(38,12))) AS DOUBLE)")}
       |    AS betweenness
       |FROM allv GROUP BY node ORDER BY node""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> ((s: SparkSession, d: String) => graphPagerank(s, d)),
    "graph_triangles" -> (graphTriangles _),
    "graph_link_prediction" -> (graphLinkPrediction _),
    "graph_betweenness" -> (graphBetweenness _),
    "graph_basket_rules" -> (graphBasketRules _))

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> graphPagerankSql,
    "graph_triangles" -> graphTrianglesSql,
    "graph_link_prediction" -> graphLinkPredictionSql,
    "graph_betweenness" -> graphBetweennessSql,
    "graph_basket_rules" -> graphBasketRulesSql)
}
