package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Contract tests for the graph operators on hand-built graphs with
  * pencil-and-paper answers (SURVEY.md §2 #99-100).
  */
class GraphSpec extends GraftSpec {

  /** The distinct-first self-join edge derivation: dedup (order, part),
    * self-join, plain COUNT support. The reference formulation for the
    * cached [[Graph.undirectedViaSets]] derivation.
    */
  private def undirectedViaDistinct(minSupport: Long): DataFrame = {
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("sup"))
      .where(col("sup") >= minSupport)
      .select("pa", "pb")
  }

  test("triangle census: K4 has 4 triangles, transitivity 1") {
    val sp = spark
    import sp.implicits._
    // complete graph on 4 nodes: C(4,3)=4 triangles, every wedge closed
    val und = (for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (a.toLong, b.toLong)).toDF("pa", "pb")
    val r = Graph.trianglesFrom(und).collect().head
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(r.getAs[Long]("n_wedges") == 12L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    assert(r.getAs[Double]("transitivity") == 1.0)
  }

  test("triangle census: a path graph has none") {
    val sp = spark
    import sp.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("pa", "pb")
    val r = Graph.trianglesFrom(und).collect().head
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Double]("transitivity") == 0.0)
  }

  test("betweenness: P5 path graph matches the pencil Brandes values " +
      "(0, 6, 8, 6, 0) with all five nodes as seeds") {
    val sp = spark
    import sp.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = (1L to 5L).toDF("seed")
    val got = Graph.betweennessFrom(edges, seeds).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("betweenness"))
      .toMap
    // bc(v) = Σ_s δ_s(v): ordered-pair dependencies, endpoints carry 0
    assert(got(1L) == 0.0 && got(5L) == 0.0)
    assert(got(2L) == 6.0 && got(4L) == 6.0)
    assert(got(3L) == 8.0)
  }

  test("betweenness: C4 cycle splits path mass across the two equal " +
      "shortest paths (sigma = 2 ratios), every node bc = 1.0") {
    val sp = spark
    import sp.implicits._
    val und = Seq((1L, 2L), (2L, 4L), (4L, 3L), (3L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L, 4L).toDF("seed")
    val got = Graph.betweennessFrom(edges, seeds).collect()
    assert(got.length == 4)
    // from each seed, the opposite corner is reached by TWO equal
    // paths (sigma 2), so each adjacent node carries delta = 1/2; a
    // node is adjacent to two seeds -> bc = 0.5 + 0.5 = 1.0
    got.foreach { r =>
      assert(r.getAs[Double]("betweenness") == 1.0,
        s"node ${r.getAs[Long]("node")}")
      // interior (levels 1-3) for the three OTHER seeds; as its own
      // seed a node sits at level 0, outside the output
      assert(r.getAs[Long]("n_seeds") == 3L)
    }
  }

  test("betweenness: the 4-hop horizon truncates dependencies from " +
      "beyond it (P6 from the far-end seed)") {
    val sp = spark
    import sp.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    val got = Graph.betweennessFrom(edges, seeds).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("betweenness"))
      .toMap
    // node 6 is at hop 5 — beyond the horizon: node 5 (level 4) is a
    // truncation leaf, so δ(4) counts only {5}, not {5, 6}
    assert(got(4L) == 1.0) // untruncated Brandes would give 2.0
    assert(got(3L) == 2.0 && got(2L) == 3.0)
    assert(!got.contains(6L) && !got.contains(5L),
      "levels 0 and 4 are outside the interior-node output")
  }

  test("pagerank: symmetric 2-cycle fixes rank at 1.0 every iteration") {
    val sp = spark
    import sp.implicits._
    // r=1 start; each node forwards its whole rank: 0.15 + 0.85*1 = 1.0
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pagerankFrom(e, iters = 3).collect()
    assert(r.map(_.getAs[Double]("pagerank")).toSeq == Seq(1.0, 1.0))
  }

  test("pagerank: star center accumulates leaf mass") {
    val sp = spark
    import sp.implicits._
    // undirected star 0-{1,2,3}: after iter1 center = .15+.85*3=2.7,
    // leaves = .15+.85*(1/3)=.4333...; ranks sum to N each iteration
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.pagerankFrom(e, iters = 1).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("pagerank")).toMap
    assert(out(0L) == 2.7)
    // output is r4-rounded, so compare at 4dp granularity
    assert(math.abs(out(1L) - (0.15 + 0.85 / 3.0)) < 5e-5)
    // mass conservation (damping redistributes, total stays N)
    val total = Graph.pagerankFrom(e, iters = 3).collect()
      .map(_.getAs[Double]("pagerank")).sum
    assert(math.abs(total - 4.0) < 4 * 5e-5)
  }

  test("the cached edge derivation (undirectedViaSets) is row-identical " +
      "to the self-join formulation it replaced at the cache site") {
    // the round-23 cache writes ViaSets (one-shuffle, map-side pair
    // explode — the 100× memory-envelope winner); this pins the A/B
    // equality the swap relies on, over the real corpus
    val sets = Graph.undirectedViaSets(spark, sf, minSupport = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val join = undirectedViaDistinct(minSupport = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sets.nonEmpty)
    assert(sets == join,
      s"sets-only: ${sets.diff(join).take(5)}, " +
        s"join-only: ${join.diff(sets).take(5)}")
    // and the shared cached table the graph family actually reads
    // carries exactly this edge set
    val cached = Graph.undirected(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cached == sets)
  }
}
